package graftbench

import java.io.{ByteArrayOutputStream, File, PrintStream}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Runs every workload at toy size and checks the result line against
  * BENCHMARK.json: run with `sbt test` from the perfbench directory. */
class ContractSpec extends AnyFunSuite {
  private val home = new File(sys.props.getOrElse("perfbench.home", "..")).getAbsoluteFile
  private val spec = Json.readFile(new File(home, "BENCHMARK.json"))
  private val digests = new File(home, ".bench_build/test/digests.json")

  private def names(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  private def run(workload: String, trace: Boolean, extra: String*): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val args = Seq("--workload", workload, "--seed", "7", "--seconds", "1",
      "--trace", if (trace) "1" else "0", "--home", home.getPath, "--toy",
      "--digests", digests.getPath) ++ extra
    val code = Main.parse(args).fold(e => fail(e), a => Main.run(a, new PrintStream(buf, true, "UTF-8")))
    (code, buf.toString("UTF-8").linesIterator.toSeq.last)
  }

  private def check(line: String, expected: Seq[(String, String)]): Unit = {
    val j = Json.read(line)
    assert(j.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(j.get("correct").asBoolean(), line)
    assert(j.get("attempted").asLong() >= 1 && j.get("failed").asLong() == 0)
    val m = j.get("metrics")
    assert(m.fieldNames().asScala.toSeq.sorted == expected.map(_._1).sorted)
    expected.foreach { case (n, u) =>
      assert(m.get(n).get("unit").asText() == u, n)
      assert(m.get(n).get("value").isNumber, n)
    }
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark reports") {
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Main.Workloads)
  }

  test("curate_dedup: result line names every metric; a wrong digest fails the run") {
    digests.delete()
    assert(run("curate_dedup", trace = false, "--write-digests")._1 == 0)
    val (code, line) = run("curate_dedup", trace = false)
    assert(code == 0)
    check(line, names("end_to_end"))
    check(run("curate_dedup", trace = true)._2, names("per_layer"))
    val j = Json.readFile(digests).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    j.get("digests").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("q_winnowing", "0:0:0")
    Json.writeFile(digests, j)
    val (badCode, badLine) = run("curate_dedup", trace = false)
    assert(badCode != 0)
    val bad = Json.read(badLine)
    assert(!bad.get("correct").asBoolean() && bad.get("failed").asLong() > 0)
  }

  for (w <- Main.Workloads.filter(_.startsWith("ingest_"))) {
    test(s"$w: result line names every metric, traced and untraced") {
      val (code, line) = run(w, trace = false)
      assert(code == 0)
      check(line, names("end_to_end"))
      check(run(w, trace = true)._2, names("per_layer"))
    }
  }
}
