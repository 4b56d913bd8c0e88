package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ConfigLoader
import graft.pipeline.FeatureGate
import graft.pipeline.Pipeline

/** confmap multi-URI resolution: the repeatable --config flag —
  * documents retrieved in order, nested maps merged recursively,
  * scalars and lists replaced by the later overlay, formats mixable. */
class ConfigMergeSpec extends AnyFunSuite {

  private def write(name: String, content: String): String = {
    val f = java.nio.file.Files.createTempFile("cfg_", name)
    java.nio.file.Files.write(f, content.getBytes("UTF-8"))
    f.toString
  }

  test("overlay retunes one nested knob; the base supplies the rest; lists replace wholesale") {
    // JSON base: one pipeline, parquet receiver at /base, one exporter
    val base = write(".json",
      """{"pipelines": {"logs/m": {
        |  "receiver": {"type": "parquet", "path": "/base/in"},
        |  "exporters": [{"type": "parquet", "path": "/base/out"},
        |                {"type": "logging"}]
        |}}}""".stripMargin)
    // YAML overlay: ONLY the receiver path — `type` must survive from
    // the base (recursive map merge), and the exporters list must
    // survive untouched
    val overlayPath = write(".yaml",
      """pipelines:
        |  logs/m:
        |    receiver:
        |      path: /override/in
        |""".stripMargin)
    val svc = ConfigLoader.fromUris(Seq(base, overlayPath))
    val p = svc.pipelines("logs/m")
    assert(p.receiver.asInstanceOf[Pipeline.ParquetReceiver].path == "/override/in")
    assert(p.exporters.size == 2, "untouched sibling list must survive the merge")

    // an overlay that REPLACES the exporters list replaces it
    // wholesale (lists never merge element-wise)
    val overlayList = write(".yaml",
      """pipelines:
        |  logs/m:
        |    exporters:
        |      - {type: logging}
        |""".stripMargin)
    val svc2 = ConfigLoader.fromUris(Seq(base, overlayList))
    assert(svc2.pipelines("logs/m").exporters.size == 1)
    // base receiver untouched by this overlay
    assert(svc2.pipelines("logs/m").receiver
      .asInstanceOf[Pipeline.ParquetReceiver].path == "/base/in")
  }

  test("merge order is document order: the LAST overlay wins") {
    val base = write(".json",
      """{"pipelines": {"logs/o": {
        |  "receiver": {"type": "parquet", "path": "/a"},
        |  "exporters": [{"type": "logging"}]}}}""".stripMargin)
    val o1 = write(".json",
      """{"pipelines": {"logs/o": {"receiver": {"path": "/b"}}}}""")
    val o2 = write(".json",
      """{"pipelines": {"logs/o": {"receiver": {"path": "/c"}}}}""")
    val svc = ConfigLoader.fromUris(Seq(base, o1, o2))
    assert(svc.pipelines("logs/o").receiver
      .asInstanceOf[Pipeline.ParquetReceiver].path == "/c")
    // reversed order, reversed winner
    val svc2 = ConfigLoader.fromUris(Seq(base, o2, o1))
    assert(svc2.pipelines("logs/o").receiver
      .asInstanceOf[Pipeline.ParquetReceiver].path == "/b")
  }

  test("an overlay can add a whole pipeline next to the base's") {
    val base = write(".json",
      """{"pipelines": {"logs/one": {
        |  "receiver": {"type": "parquet", "path": "/one"},
        |  "exporters": [{"type": "logging"}]}}}""".stripMargin)
    val add = write(".yaml",
      """pipelines:
        |  logs/two:
        |    receiver: {type: parquet, path: /two}
        |    exporters:
        |      - {type: logging}
        |""".stripMargin)
    val svc = ConfigLoader.fromUris(Seq(base, add))
    assert(svc.pipelines.keySet == Set("logs/one", "logs/two"))
  }

  test("zero URIs is a config error") {
    intercept[IllegalArgumentException] { ConfigLoader.fromUris(Nil) }
  }

  test("yaml: inline provider — `::`-delimited keys address nested maps (confmap/provider/yamlprovider)") {
    val base = write(".json",
      """{"pipelines": {"logs/y": {
        |  "receiver": {"type": "parquet", "path": "/base/in"},
        |  "exporters": [{"type": "logging"}]}}}""".stripMargin)
    // one nested knob retuned through an inline yaml: URI — no file
    val svc = ConfigLoader.fromUris(Seq(base,
      "yaml:pipelines::logs/y::receiver::path: /inline/in"))
    assert(svc.pipelines("logs/y").receiver
      .asInstanceOf[Pipeline.ParquetReceiver].path == "/inline/in")
    // the bytes are a full YAML document: nested YAML under a
    // delimited key works too, and YAML scalar typing applies
    val svc2 = ConfigLoader.fromUris(Seq(base,
      "yaml:pipelines::logs/y::receiver: {type: parquet, path: /deep/in}"))
    assert(svc2.pipelines("logs/y").receiver
      .asInstanceOf[Pipeline.ParquetReceiver].path == "/deep/in")
    // merge order still holds: the LAST yaml: overlay wins
    val svc3 = ConfigLoader.fromUris(Seq(base,
      "yaml:pipelines::logs/y::receiver::path: /a",
      "yaml:pipelines::logs/y::receiver::path: /b"))
    assert(svc3.pipelines("logs/y").receiver
      .asInstanceOf[Pipeline.ParquetReceiver].path == "/b")
    // an empty `::` segment is a config error, not a silent key —
    // including a TRAILING delimiter (split must keep empties)
    intercept[IllegalArgumentException] {
      ConfigLoader.fromUris(Seq(base, "yaml:pipelines::::x: 1"))
    }
    intercept[IllegalArgumentException] {
      ConfigLoader.fromUris(Seq(base, "yaml:pipelines::: 1"))
    }
  }

  test("otlp_arrow config parity: every exporter/receiver constructor knob is document-reachable, and admission is LIVE") {
    // r10 verdict #8: the reference arrow pair exposes numStreams,
    // max_stream_lifetime, admission limits, timeouts in config —
    // pin that every graft constructor knob has a document key and
    // actually reaches the built component
    val spool = java.nio.file.Files.createTempDirectory("cfg_arrow").toString
    val doc = s"""{
      "pipelines": {"logs/arrow": {
        "receiver": {"type": "otlp_arrow", "port": 0, "spool": "$spool",
          "delta_stream": false, "max_recv_msg_size_mib": 8,
          "admission": {"request_limit_mib": 2, "waiter_limit": 5,
            "wait_ms": 250},
          "maxFilesPerTrigger": 4},
        "exporters": [{"type": "otlp_arrow", "host": "localhost",
          "port": 1, "signal": "logs", "num_streams": 3,
          "max_stream_lifetime_ms": 60000, "keepalive_ms": 15000,
          "delta_dict": false, "dict_cap": 32, "codec": "lz4",
          "compression": "zstd", "rows_per_batch": 512,
          "batch_headers": {"tenant": "t9"},
          "connect_timeout_ms": 1234, "read_timeout_ms": 5678}]
      }}}"""
    val svc = ConfigLoader.fromJson(doc)
    val p = svc.pipelines("logs/arrow")
    val rx = p.receiver.asInstanceOf[Pipeline.OtlpArrowServerReceiver]
    assert(rx.maxRecvMsgBytes == 8L * 1024 * 1024)
    assert(rx.admissionBytes.contains(2L * 1024 * 1024))
    assert(rx.admissionWaiters == 5 && rx.admissionWaitMs == 250L)
    assert(rx.maxFilesPerTrigger.contains(4) && !rx.deltaStream)
    val ex = p.exporters.head
      .asInstanceOf[graft.sources.ArrowGrpc.ArrowGrpcStreamExporter]
    assert(ex.numStreams == 3 && ex.maxStreamLifetimeMs == 60000L)
    assert(ex.keepaliveMs == 15000L && !ex.deltaDict && ex.dictCap == 32)
    assert(ex.codec == "lz4" && ex.compression == "zstd")
    assert(ex.rowsPerBatch == 512)
    assert(ex.batchHeaders == Map("tenant" -> "t9"))
    assert(ex.connectTimeoutMs == 1234 && ex.readTimeoutMs == 5678)

    // the admission block is LIVE, not just parsed: a batch past
    // request_limit_mib is refused RESOURCE_EXHAUSTED (retryable) by
    // the config-built receiver, and nothing lands
    val spark = TestSession.spark
    import spark.implicits._
    rx.start(spark)
    try {
      val big = Seq("x" * (3 << 20)).toDF("body") // ~3 MiB > 2 MiB budget
      // codec none: admission bounds the PAYLOAD bytes — a zstd'd
      // run of one character would compress under the budget
      val e = new graft.sources.ArrowGrpc.ArrowGrpcStreamExporter(
        "localhost", rx.boundPort, "logs", numStreams = 1, codec = "none")
      intercept[Pipeline.ThrottledExportException] { e.export(big) }
      e.shutdown()
      assert(!new java.io.File(spool, "logs_arrow").exists() ||
        new java.io.File(spool, "logs_arrow").listFiles().forall(_.getName.startsWith(".")))
    } finally rx.stop()
  }

  test("legacy env expansion: $VAR and ${VAR} forms, with $$ as the literal-dollar escape") {
    val env = Map("IN" -> "/data/in", "FMT" -> "parquet").get _
    // modern scheme untouched; braced scheme-less resolves as env;
    // legacy bare form expands when set
    assert(ConfigLoader.expandEnv("${env:IN}/a", env) == "/data/in/a")
    assert(ConfigLoader.expandEnv("${IN}/b", env) == "/data/in/b")
    assert(ConfigLoader.expandEnv("$IN/c type=$FMT", env) == "/data/in/c type=parquet")
    // $$ escapes to a literal dollar and NEVER re-expands
    assert(ConfigLoader.expandEnv("cost: $$IN", env) == "cost: $IN")
    // unset braced form fails loud (no default syntax without env:)
    intercept[IllegalArgumentException] {
      ConfigLoader.expandEnv("${MISSING}", env)
    }
    // the plausible typo ${VAR:-default} (scheme-less braces with a
    // default) is REJECTED naming the supported ${env:VAR:-default}
    // form — never shipped verbatim into the parsed document, and
    // rejected whether the variable is set or not (the form itself
    // is invalid, not merely unresolvable)
    for (doc <- Seq("${MISSING:-fallback}", "${IN:-fallback}")) {
      val e = intercept[IllegalArgumentException] {
        ConfigLoader.expandEnv(doc, env)
      }
      assert(e.getMessage.contains("${env:"), e.getMessage)
    }
    // unset BARE form is left verbatim (documented deviation from
    // os.ExpandEnv's empty-on-unset: silent deletion corrupts dollar
    // text that was never a variable — why upstream deprecated it)
    assert(ConfigLoader.expandEnv("price is $100notavar and $UNSET_X", env)
      == "price is $100notavar and $UNSET_X")
    // and the whole chain works through a real document build
    val svc = ConfigLoader.fromJson(
      """{"pipelines": {"logs/e": {
        |  "receiver": {"type": "parquet", "path": "$IN/spool"},
        |  "exporters": [{"type": "logging"}]}}}""".stripMargin, env)
    assert(svc.pipelines.contains("logs/e"))
  }

  test("graft.confmap.expandLegacy gate disables bare-$VAR rewriting only") {
    val env = Map("HOME" -> "/home/u", "IN" -> "/data/in").get _
    // expandEnv's explicit knob: bare form verbatim when off, the
    // modern + braced forms (and $$) unaffected
    assert(ConfigLoader.expandEnv("$HOME/x ${IN}/y ${env:IN}/z $$c",
      env, legacyBare = false) == "$HOME/x /data/in/y /data/in/z $c")
    // and through a real document build with a registry that carries
    // the gate DISABLED: literal dollar text survives into the value
    val reg = new FeatureGate.Registry
    reg.register(FeatureGate.ExpandLegacy.id, FeatureGate.Beta)
    reg.set(FeatureGate.ExpandLegacy.id, false)
    val svc = ConfigLoader.fromJson(
      """{"pipelines": {"logs/g": {
        |  "receiver": {"type": "parquet", "path": "/lit/$HOME/spool"},
        |  "exporters": [{"type": "logging"}]}}}""".stripMargin, env, reg)
    val p = svc.pipelines("logs/g").receiver
      .asInstanceOf[graft.pipeline.Pipeline.ParquetReceiver].path
    assert(p == "/lit/$HOME/spool", p)
    // default registry (gate on): same document DOES expand — the
    // reference's default-converter-set parity
    val svc2 = ConfigLoader.fromJson(
      """{"pipelines": {"logs/g": {
        |  "receiver": {"type": "parquet", "path": "/lit/$HOME/spool"},
        |  "exporters": [{"type": "logging"}]}}}""".stripMargin, env)
    val p2 = svc2.pipelines("logs/g").receiver
      .asInstanceOf[graft.pipeline.Pipeline.ParquetReceiver].path
    assert(p2 == "/lit//home/u/spool", p2)
  }

  test("telemetry metrics readers: pull/periodic parse with reference defaults; malformed readers refuse (telemetry/config.go:161-186)") {
    import graft.pipeline.Extensions.{PullPrometheusReader, PeriodicConsoleReader}
    def svcWith(readers: String) = ConfigLoader.fromJson(
      s"""{"pipelines": {"p": {
         |  "receiver": {"type": "parquet", "path": "/in"},
         |  "exporters": [{"type": "logging"}]}},
         | "service": {"telemetry": {"metrics": {"readers": [$readers]}}}}""".stripMargin)
    // the two supported kinds, knobs read; both coexist with `address`
    val svc = svcWith(
      """{"pull": {"exporter": {"prometheus": {"host": "localhost", "port": 0}}}},
        |{"periodic": {"interval": 5000, "exporter": {"console": {}}}}""".stripMargin)
    assert(svc.telemetryReaders == Seq(
      PullPrometheusReader("localhost", 0), PeriodicConsoleReader(5000L)))
    // reference defaults: prometheus host/port default localhost:8888
    // (generated_config.go Prometheus), periodic interval 60s
    assert(svcWith("""{"pull": {"exporter": {"prometheus": {}}}}""")
      .telemetryReaders == Seq(PullPrometheusReader("localhost", 8888)))
    assert(svcWith("""{"periodic": {"exporter": {"console": {}}}}""")
      .telemetryReaders == Seq(PeriodicConsoleReader(60000L)))
    // refusals, each naming its defect: pull without prometheus,
    // both kinds at once, an unknown kind. (A periodic reader with
    // exporter: {otlp: ...} PARSES since r15 — the self-telemetry
    // push path, SelfTelemetryOtlpSpec owns its contract; here just
    // pin the reader kind lands.)
    val e1 = intercept[IllegalArgumentException] {
      svcWith("""{"pull": {"exporter": {}}}""") }
    assert(e1.getMessage.contains("prometheus"))
    svcWith("""{"periodic": {"exporter": {"otlp": {"endpoint": "http://h:1", "protocol": "http/protobuf"}}}}""")
      .telemetryReaders match {
      case Seq(r: graft.pipeline.Extensions.PeriodicOtlpReader) =>
        assert(r.otlp.endpoint == "http://h:1")
      case other => fail(s"expected a PeriodicOtlpReader, got $other")
    }
    intercept[IllegalArgumentException] {
      svcWith("""{"pull": {"exporter": {"prometheus": {}}},
                 |"periodic": {"exporter": {"console": {}}}}""".stripMargin) }
    val e4 = intercept[IllegalArgumentException] { svcWith("""{"push": {}}""") }
    assert(e4.getMessage.contains("pull or periodic"))
    // interval 0 would busy-loop and a negative one kills the writer
    // thread — refused at parse, naming the value
    val e5 = intercept[IllegalArgumentException] {
      svcWith("""{"periodic": {"interval": 0, "exporter": {"console": {}}}}""") }
    assert(e5.getMessage.contains("positive"))
    // no readers block at all → empty list (the address-only path)
    assert(ConfigLoader.fromJson(
      """{"pipelines": {"p": {
        |  "receiver": {"type": "parquet", "path": "/in"},
        |  "exporters": [{"type": "logging"}]}}}""".stripMargin)
      .telemetryReaders.isEmpty)
  }
}
