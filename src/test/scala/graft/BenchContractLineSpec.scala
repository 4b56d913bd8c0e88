package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's last stdout line must parse as JSON whatever the default
  * locale: a comma-decimal locale once turned "1.500" into "1,500".
  * It also says whether the box gave the run the cores it asked for. */
class BenchContractLineSpec extends AnyFunSuite {

  test("the contract line parses as JSON under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(f"${1.5}%.3f" == "1,500", "the locale under test formats with a comma")
      val results = Seq(("q1", 1.23456, None), ("q2", 0.5, Some("boom")))
      def line(requested: Int, available: Int) = Bench.contractLine(
        sfDir = "/data/sf0.001", results = results, isolated = Seq(("q1", 1.1115, None)),
        slots = 4, requestedCpus = requested, availableCpus = available,
        sumOverWall = 3.14159, calibSec = 0.25, calibDrift = 1.0626,
        calibMemDrift = 1.5, calibAttempts = 2,
        calibMidJson = s""""calib_mid":${Bench.num3(0.2)},"flag_leg":"none"""",
        flagged = false, slopeScalars = s""","wall_ratio":${Bench.num3(2.75)}""", wall = 12.5)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val json = mapper.readTree(line(requested = 32, available = 4))
      // the box's cores next to the local[N] asked for
      assert(json.get("available_cpus").asInt() == 4 && json.get("requested_cpus").asInt() == 32)
      assert(json.get("oversubscribed").isBoolean && json.get("oversubscribed").asBoolean())
      val fits = mapper.readTree(line(requested = 4, available = 4))
      assert(fits.get("requested_cpus").asInt() == 4 && !fits.get("oversubscribed").asBoolean())
      // the line carries the per-query maps and says so
      assert(json.get("has_query_map").asBoolean() && !json.has("scalars_only"))
      assert(json.get("queries").get("q1").asDouble() == 1.235)
      assert(json.get("queries").size() == 2 && json.get("isolated").get("q1").asDouble() == 1.112)
      assert(json.get("sum_over_wall").asDouble() == 3.142)
      assert(json.get("calib_drift").asDouble() == 1.063)
      assert(json.get("calib_mem_drift").asDouble() == 1.5)
      assert(json.get("calib_mid").asDouble() == 0.2 && json.get("wall_ratio").asDouble() == 2.75)
      assert(json.get("error_count").asInt() == 1 && json.get("value").asDouble() == 12.5)
    } finally java.util.Locale.setDefault(saved)
  }
}
