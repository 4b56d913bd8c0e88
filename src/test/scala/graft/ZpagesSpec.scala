package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{ConfigLoader, FeatureGate, ZpagesServer}

/** Live zpages HTTP surface: the debug pages the reference's
  * zpagesextension serves (servicez / pipelinez / extensionz /
  * featurez), plus the redacted configz and the plaintext statusz
  * report, all fetched over loopback HTTP. */
class ZpagesSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new java.net.URL(s"http://localhost:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val s = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (s == null) "" else
      try new String(s.readAllBytes(), "UTF-8") finally s.close()
    (code, body)
  }

  test("zpages server: all debug pages serve live service state") {
    val doc = """{
      "pipelines": {"logs/zp": {
        "receiver": {"type": "parquet", "path": "IGNORED"},
        "exporters": [{"type": "otlp_http", "endpoint": "http://h:1",
          "signal": "logs", "auth": {"bearer_token": "zp-secret"}}]
      }}}"""
    val svc = ConfigLoader.fromJson(doc)
    val gates = new FeatureGate.Registry
    gates.register("graft.test.zpagesGate", FeatureGate.Alpha,
      "spec-only gate")
    val zp = new ZpagesServer(svc, spark, gates = gates,
      extensions = Seq("zpages", "health_check"), configDoc = Some(doc))
    try {
      val p = zp.boundPort

      val (c1, servicez) = get(p, "/debug/servicez")
      assert(c1 == 200)
      assert(servicez.contains(System.getProperty("java.version")))
      assert(servicez.contains("/debug/pipelinez")
        && servicez.contains("/debug/featurez"))

      val (c2, pipelinez) = get(p, "/debug/pipelinez")
      assert(c2 == 200)
      assert(pipelinez.contains("logs/zp"))
      assert(pipelinez.contains("OtlpHttpExporter"))

      val (c3, featurez) = get(p, "/debug/featurez")
      assert(c3 == 200)
      assert(featurez.contains("graft.test.zpagesGate")
        && featurez.contains("Alpha"))

      val (c4, extensionz) = get(p, "/debug/extensionz")
      assert(c4 == 200)
      assert(extensionz.contains("health_check"))

      // configz serves the REDACTED effective config — never the secret
      val (c5, configz) = get(p, "/debug/configz")
      assert(c5 == 200)
      assert(configz.contains("[REDACTED]") && !configz.contains("zp-secret"))

      val (c6, statusz) = get(p, "/debug/statusz")
      assert(c6 == 200)
      assert(statusz.contains("== pipelinez ==")
        && statusz.contains("pipeline logs/zp"))

      val (c7, _) = get(p, "/debug/nopage")
      assert(c7 == 404)
    } finally zp.stop()
  }

  test("prometheus self-telemetry endpoint: healthFrame families scrape and parse; level=none serves nothing") {
    // service::telemetry::metrics::address (telemetry.go:202-206):
    // the one surface every production collector is scraped through
    val doc = """{
      "service": {"telemetry": {"metrics":
        {"address": "localhost:0", "level": "detailed"}}},
      "pipelines": {"logs/pt": {
        "receiver": {"type": "parquet", "path": "IGNORED"},
        "exporters": [{"type": "logging"}]
      }}}"""
    val svc = ConfigLoader.fromJson(doc)
    assert(svc.telemetryAddress.contains("localhost:0"))
    val o = new graft.pipeline.Pipeline.QueueObs
    o.delivered.set(12); o.retries.set(3); o.deadLetteredBatches.set(1)
    val srv = new graft.pipeline.PromTelemetryServer(svc, spark,
      svc.telemetryAddress.get,
      obs = () => Map("logs/pt" -> o),
      transports = () => Map("otlp_http" -> Map("accepted_requests" -> 7L)))
    try {
      val (code, body) = get(srv.boundPort, "/metrics")
      assert(code == 200)
      // the exposition PARSES: every non-comment line is
      // `name{labels} value`, every family has a TYPE line
      val lines = body.linesIterator.toSeq
      val samples = lines.filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      assert(samples.nonEmpty)
      val sampleRe = """^[a-zA-Z_:][a-zA-Z0-9_:]*(\{[^}]*\})? [-+0-9.eE]+$""".r
      samples.foreach(l => assert(sampleRe.matches(l), s"unparseable sample: $l"))
      val familyOf = samples.map(_.takeWhile(c => c != '{' && c != ' ')).toSet
      for (f <- familyOf)
        assert(lines.exists(_.startsWith(s"# TYPE $f ")), s"family $f has no TYPE")
      // basic family, counter-typed, dimensioned by pipeline
      assert(lines.contains("# TYPE otelcol_exporter_sent_batches counter"))
      assert(samples.contains(
        """otelcol_exporter_sent_batches{pipeline="logs/pt"} 12"""))
      // normal-level family present because level=detailed
      assert(samples.contains(
        """otelcol_exporter_send_retries{pipeline="logs/pt"} 3"""))
      // detailed-level per-transport counters, receiver-dimensioned
      assert(samples.contains(
        """otelcol_receiver_accepted_requests{receiver="otlp_http"} 7"""))
    } finally srv.stop()

    // level=none publishes NOTHING — the healthFrame gate, same door
    val none = svc.copy(telemetryLevel = graft.pipeline.Extensions.LevelNone)
    val srv2 = new graft.pipeline.PromTelemetryServer(none, spark,
      "localhost:0", obs = () => Map("logs/pt" -> o))
    try {
      val (code2, body2) = get(srv2.boundPort, "/metrics")
      assert(code2 == 200 && body2.isEmpty, s"level=none served: '$body2'")
    } finally srv2.stop()

    // a malformed address fails loudly at build, not at first scrape
    intercept[IllegalArgumentException] {
      new graft.pipeline.PromTelemetryServer(svc, spark, "no-port")
    }
  }

  test("obsreport catalog: reference families scrape from a config-built service; refused visible; same-id instances SUM; process self-metrics plausible and monotone") {
    val dir = java.nio.file.Files.createTempDirectory("obsrep").toString
    spark.range(20).selectExpr("id", "id % 4 as sev")
      .write.mode("overwrite").parquet(s"$dir/in")
    // four pipelines: two healthy log pipelines sharing ONE receiver
    // id (accepted must SUM into one series), a traces pipeline (the
    // spans noun), and one whose exporter targets a dead port (its
    // items must surface as receiver REFUSED + exporter send_failed)
    val doc = s"""{
      "pipelines": {
        "logs/ok": {
          "receiver": {"type": "parquet", "path": "$dir/in"},
          "processors": [{"type": "filter", "where": "sev != 0"}],
          "exporters": [{"type": "parquet", "path": "$dir/out"}]},
        "logs/ok2": {
          "receiver": {"type": "parquet", "path": "$dir/in"},
          "exporters": [{"type": "logging"}]},
        "traces/tr": {
          "receiver": {"type": "parquet", "path": "$dir/in"},
          "exporters": [{"type": "logging"}]},
        "logs/bad": {
          "receiver": {"type": "parquet", "path": "$dir/in"},
          "processors": [{"type": "filter", "where": "sev != 1"}],
          "exporters": [{"type": "otlp_http",
            "endpoint": "http://localhost:1", "signal": "logs"}]}
      }}"""
    val svc = ConfigLoader.fromJson(doc)
    val reg = new graft.pipeline.Obsreport.Registry
    // siblings run; the dead-port failure rethrows at the end
    intercept[Exception] { svc.runObsreport(spark, reg) }
    val srv = new graft.pipeline.PromTelemetryServer(svc, spark,
      "localhost:0", obsreport = () => reg)
    try {
      def scrape(): String = {
        val (code, body) = get(srv.boundPort, "/metrics")
        assert(code == 200); body
      }
      def sample(body: String, series: String): Double = {
        val line = body.linesIterator.find(_.startsWith(series + " "))
        assert(line.isDefined, s"series absent: $series")
        line.get.substring(series.length + 1).toDouble
      }
      val b1 = scrape()
      // receiver families, {receiver, transport}-dimensioned: the two
      // healthy log pipelines share receiver id `parquet` — one
      // series holding the SUM (20 + 20), never last-wins
      assert(sample(b1, """otelcol_receiver_accepted_log_records{receiver="parquet",transport="file"}""") == 40.0)
      // item noun follows the PIPELINE signal: traces/ → spans
      assert(sample(b1, """otelcol_receiver_accepted_spans{receiver="parquet",transport="file"}""") == 20.0)
      // the failed pipeline's items are REFUSED at the receiver (the
      // reference's EndOp(err): a consumer error is not "accepted")
      assert(sample(b1, """otelcol_receiver_refused_log_records{receiver="parquet",transport="file"}""") == 20.0)
      // processor families, all three per signal noun
      // (obsreport_processor.go:101-157): drops = rows in − rows out;
      // rows OUT count accepted when the run delivers and refused
      // when a downstream failure bounces them — both filter stages
      // share the `filter` id, so dropped SUMS (5 + 5) while
      // accepted/refused split by each pipeline's outcome
      assert(sample(b1, """otelcol_processor_dropped_log_records{processor="filter"}""") == 10.0)
      assert(sample(b1, """otelcol_processor_accepted_log_records{processor="filter"}""") == 15.0)
      assert(sample(b1, """otelcol_processor_refused_log_records{processor="filter"}""") == 15.0)
      assert(b1.contains("# TYPE otelcol_processor_accepted_log_records counter"))
      assert(b1.contains("# TYPE otelcol_processor_refused_log_records counter"))
      // exporter families, {exporter}-dimensioned
      assert(sample(b1, """otelcol_exporter_sent_log_records{exporter="parquet"}""") == 15.0)
      assert(sample(b1, """otelcol_exporter_sent_log_records{exporter="logging"}""") == 20.0)
      // send_failed counts the rows the exporter was HANDED (15 after
      // logs/bad's filter), not the receiver's 20
      assert(sample(b1, """otelcol_exporter_send_failed_log_records{exporter="otlp_http"}""") == 15.0)
      // counter-typed in the exposition
      assert(b1.contains("# TYPE otelcol_receiver_accepted_log_records counter"))
      assert(b1.contains("# TYPE otelcol_exporter_send_failed_log_records counter"))
      // process self-metrics (proctelemetry process_telemetry.go:
      // 145-195): the five families, plausible values
      val up1 = sample(b1, "otelcol_process_uptime")
      val cpu1 = sample(b1, "otelcol_process_cpu_seconds")
      val heap = sample(b1, "otelcol_process_runtime_heap_alloc_bytes")
      val sys = sample(b1, "otelcol_process_runtime_total_sys_memory_bytes")
      val rss = sample(b1, "otelcol_process_memory_rss")
      assert(up1 > 0.0 && cpu1 > 0.0)
      assert(heap > 1e6, s"heap $heap implausibly small for a running JVM")
      assert(sys >= heap, "sys memory below live heap")
      assert(rss > 1e6, s"rss $rss implausibly small")
      assert(b1.contains("# TYPE otelcol_process_uptime counter"))
      assert(b1.contains("# TYPE otelcol_process_memory_rss gauge"))
      // Spark codegen compiles: a lifetime counter, so a cache that
      // thrashes shows as a count climbing while the queries repeat
      assert(b1.contains("# TYPE graft_codegen_compilations counter"))
      val cg1 = sample(b1, "graft_codegen_compilations")
      // monotone across scrapes: uptime, cpu and compiles never go
      // backward (a query in between compiles or hits the cache)
      Thread.sleep(20)
      spark.range(10).selectExpr("id * 3 AS x").filter("x % 2 = 0").count()
      val b2 = scrape()
      assert(sample(b2, "otelcol_process_uptime") >= up1)
      assert(sample(b2, "otelcol_process_cpu_seconds") >= cpu1)
      assert(sample(b2, "graft_codegen_compilations") >= cg1)
      // ...and the catalog is STABLE across scrapes (lifetime totals,
      // not per-scrape resets)
      assert(sample(b2, """otelcol_exporter_sent_log_records{exporter="parquet"}""") == 15.0)
    } finally srv.stop()

    // level gate: none serves nothing, catalog included
    val none = svc.copy(telemetryLevel = graft.pipeline.Extensions.LevelNone)
    val srv2 = new graft.pipeline.PromTelemetryServer(none, spark,
      "localhost:0", obsreport = () => reg)
    try {
      val (c, b) = get(srv2.boundPort, "/metrics")
      assert(c == 200 && b.isEmpty)
    } finally srv2.stop()
  }

  test("metrics readers live: a config pull reader scrapes the same families as `address`; the periodic console reader writes healthFrame as json lines") {
    val doc = """{
      "service": {"telemetry": {"metrics": {"readers": [
        {"pull": {"exporter": {"prometheus": {"host": "localhost", "port": 0}}}},
        {"periodic": {"interval": 50, "exporter": {"console": {}}}}
      ]}}},
      "pipelines": {"logs/rd": {
        "receiver": {"type": "parquet", "path": "IGNORED"},
        "exporters": [{"type": "logging"}]
      }}}"""
    val svc = graft.pipeline.ConfigLoader.fromJson(doc)
    val pull = svc.telemetryReaders.collectFirst {
      case p: graft.pipeline.Extensions.PullPrometheusReader => p
    }.get
    val o = new graft.pipeline.Pipeline.QueueObs
    o.delivered.set(4)
    // live scrape off the reader-declared address (port 0 binds free)
    val srv = new graft.pipeline.PromTelemetryServer(svc, spark,
      pull.address, obs = () => Map("logs/rd" -> o))
    try {
      val (code, body) = get(srv.boundPort, "/metrics")
      assert(code == 200)
      assert(body.contains(
        """otelcol_exporter_sent_batches{pipeline="logs/rd"} 4"""))
      assert(body.contains("otelcol_process_uptime"))
    } finally srv.stop()

    // periodic console reader: writeOnce emits one PARSEABLE json
    // line per healthFrame row, level-gated like every other surface
    val buf = new java.io.ByteArrayOutputStream()
    val w = new graft.pipeline.PeriodicMetricsWriter(svc, spark,
      intervalMs = 60000L, out = new java.io.PrintStream(buf, true, "UTF-8"),
      obs = () => Map("logs/rd" -> o), autoStart = false)
    val n = w.writeOnce(timeUnixNano = 1000L)
    w.stop()
    val lines = new String(buf.toByteArray, "UTF-8").linesIterator.toSeq
    assert(n > 0 && lines.length == n)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val names = lines.map { l =>
      val j = om.readTree(l)
      assert(j.has("metric_name") && j.has("value"), s"bad line: $l")
      j.get("metric_name").asText()
    }
    assert(names.contains("otelcol_exporter_sent_batches"))
    assert(names.contains("otelcol_process_uptime"))
    // level none writes NOTHING (the healthFrame gate, same door)
    val none = svc.copy(telemetryLevel = graft.pipeline.Extensions.LevelNone)
    val w2 = new graft.pipeline.PeriodicMetricsWriter(none, spark, 60000L,
      out = new java.io.PrintStream(buf, true, "UTF-8"), autoStart = false)
    assert(w2.writeOnce() == 0)
    w2.stop()
  }

  test("telemetry views: configured view drops a dim and re-sums; the high-cardinality gate applies the reference filter set") {
    import graft.pipeline.{FeatureGate, Obsreport}
    // service::telemetry::metrics::views — the view-configuration
    // surface the reference's gate registration promises
    // (obsreportconfig.go:24-30); here one view collapses the
    // transport dimension of the accepted family
    val doc = """{
      "service": {"telemetry": {"metrics": {"address": "localhost:0",
        "views": [{"instrument": "otelcol_receiver_accepted_*",
                   "drop": ["transport"]}]}}},
      "pipelines": {"logs/vw": {
        "receiver": {"type": "parquet", "path": "IGNORED"},
        "exporters": [{"type": "logging"}]
      }}}"""
    val svc = graft.pipeline.ConfigLoader.fromJson(doc)
    assert(svc.telemetryViews ==
      Seq(Obsreport.View("otelcol_receiver_accepted_*", Set("transport"))))
    val reg = new Obsreport.Registry
    // one receiver id over two transports — the view must merge them
    reg.receiverAccepted("otlp/a", "grpc", "log_records", 5)
    reg.receiverAccepted("otlp/a", "http", "log_records", 7)
    // refused is NOT matched by the view — transport dim survives
    reg.receiverRefused("otlp/a", "grpc", "log_records", 2)
    // a per-peer series, as a grpc transport component would record it
    // (the reference's net.sock.peer.* high-cardinality class)
    for (peer <- Seq("10.0.0.1", "10.0.0.2"))
      reg.add("otelcol_receiver_accepted_requests",
        Map("receiver" -> "otlp/a", "transport" -> "grpc",
          graft.model.SemConv.AttributeNetSockPeerAddr -> peer), 3)
    val srv = new graft.pipeline.PromTelemetryServer(svc, spark,
      "localhost:0", obsreport = () => reg)
    try {
      val (c, body) = get(srv.boundPort, "/metrics")
      assert(c == 200)
      // view applied: transports merged, counts re-summed
      assert(body.contains(
        """otelcol_receiver_accepted_log_records{receiver="otlp/a"} 12"""))
      assert(!body.contains("""accepted_log_records{receiver="otlp/a",transport"""))
      // unmatched family untouched
      assert(body.contains(
        """otelcol_receiver_refused_log_records{receiver="otlp/a",transport="grpc"} 2"""))
      // gate OFF: the peer dimension serves raw (two series) — the
      // view above already dropped transport from the accepted_*
      // match, so the peer series lost transport but kept the peer
      // key (label NAME sanitized: prom label names reject dots)
      assert(body.contains("""net_sock_peer_addr="10.0.0.1""""))

      // flip the gate the config-reachable way and re-scrape: the
      // reference filter set now ALSO drops the peer keys; the two
      // peer series merge into one re-summed row
      FeatureGate.global.set(
        FeatureGate.DisableHighCardinalityMetrics.id, true)
      try {
        val (_, body2) = get(srv.boundPort, "/metrics")
        assert(!body2.contains("net_sock_peer_addr"))
        assert(body2.contains(
          """otelcol_receiver_accepted_requests{receiver="otlp/a"} 6"""))
      } finally FeatureGate.global.set(
        FeatureGate.DisableHighCardinalityMetrics.id, false)
    } finally srv.stop()

    // the gate flips from a config document like any other gate
    val gdoc = """{
      "featuregates": ["telemetry.disableHighCardinalityMetrics"],
      "pipelines": {"logs/gt": {
        "receiver": {"type": "parquet", "path": "IGNORED"},
        "exporters": [{"type": "logging"}]
      }}}"""
    try {
      graft.pipeline.ConfigLoader.fromJson(gdoc)
      assert(FeatureGate.global.isEnabled(
        FeatureGate.DisableHighCardinalityMetrics.id))
    } finally FeatureGate.global.set(
      FeatureGate.DisableHighCardinalityMetrics.id, false)

    // malformed views refuse the document loudly
    intercept[IllegalArgumentException] {
      graft.pipeline.ConfigLoader.fromJson(
        """{"service": {"telemetry": {"metrics": {"views": [
             {"drop": ["transport"]}]}}},
            "pipelines": {"l": {"receiver": {"type": "parquet", "path": "x"},
              "exporters": [{"type": "logging"}]}}}""")
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.ConfigLoader.fromJson(
        """{"service": {"telemetry": {"metrics": {"views": [
             {"instrument": "otelcol_*"}]}}},
            "pipelines": {"l": {"receiver": {"type": "parquet", "path": "x"},
              "exporters": [{"type": "logging"}]}}}""")
    }

    // applyViews semantics pinned without a server: whenDims narrows
    // the match the way the reference narrows by instrumentation scope
    val snap = Seq(
      ("otelcol_f_total", Map("transport" -> "grpc", "net.sock.peer.addr" -> "a"), 1L),
      ("otelcol_f_total", Map("transport" -> "grpc", "net.sock.peer.addr" -> "b"), 2L),
      ("otelcol_f_total", Map("transport" -> "http", "net.host.name" -> "h"), 4L),
      // outside the otelcol_* namespace: the filter set must not touch it
      ("custom_total", Map("transport" -> "grpc", "net.sock.peer.addr" -> "c"), 8L))
    val out = Obsreport.applyViews(Obsreport.HighCardinalityViews, snap)
    assert(out == Seq(
      ("custom_total", Map("transport" -> "grpc", "net.sock.peer.addr" -> "c"), 8L),
      ("otelcol_f_total", Map("transport" -> "grpc"), 3L),
      ("otelcol_f_total", Map("transport" -> "http"), 4L)))
  }

  test("mergeTransports SUMS counters across receivers of one transport type") {
    import graft.pipeline.PromTelemetryServer.mergeTransports
    // two otlp_grpc receivers (two pipelines, two ports) + one http:
    // the grpc counters sum per key; a key present on only one
    // receiver rides through; http is untouched
    val merged = mergeTransports(Seq(
      "otlp_grpc" -> Map("accepted_requests" -> 7L, "refused_requests" -> 1L),
      "otlp_grpc" -> Map("accepted_requests" -> 5L, "recv_bytes" -> 100L),
      "otlp_http" -> Map("accepted_requests" -> 3L)))
    assert(merged("otlp_grpc") == Map(
      "accepted_requests" -> 12L, "refused_requests" -> 1L,
      "recv_bytes" -> 100L))
    assert(merged("otlp_http") == Map("accepted_requests" -> 3L))
    assert(mergeTransports(Nil).isEmpty)
  }
}
