package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Pipeline
import graft.sources.{OtlpHttp, OtlpJsonSource}
import graft.sources.OtlpHttp.{OtlpHttpExporter, OtlpHttpReceiver}

/** Live loopback specs for the OTLP/HTTP transport: exporter POSTs →
  * JDK HttpServer receiver → spool → the SAME parse path the socket
  * and file receivers use — plus the OTLP status-code mapping
  * (throttle with Retry-After, permanent 4xx, partial success).
  */
class OtlpHttpSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def mkLogRequest(svc: String, n: Int): String = {
    val recs = (0 until n).map { i =>
      s"""{"timeUnixNano":"${1700000000000000000L + i * 1000000L}",
         |"severityNumber":9,"severityText":"INFO",
         |"body":{"stringValue":"msg-$i"},
         |"attributes":[{"key":"idx","value":{"intValue":"$i"}}],
         |"traceId":"t${i % 7}","spanId":"s$i"}""".stripMargin.replaceAll("\n", "")
    }.mkString(",")
    s"""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$svc"}}]},
       |"scopeLogs":[{"scope":{"name":"graft"},"logRecords":[$recs]}]}]}"""
      .stripMargin.replaceAll("\n", "")
  }

  private def mkSpanRequest(svc: String, n: Int): String = {
    val sp = (0 until n).map { i =>
      s"""{"traceId":"0102030405060708090a0b0c0d0e0f${"%02d".format(i)}",
         |"spanId":"010203040506070$i","name":"op-$i","kind":2,
         |"startTimeUnixNano":"${1000 + i}","endTimeUnixNano":"${2000 + i}",
         |"status":{"code":2,"message":"boom"},"attributes":[]}"""
        .stripMargin.replaceAll("\n", "")
    }.mkString(",")
    s"""{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$svc"}}]},
       |"scopeSpans":[{"scope":{"name":"graft"},"spans":[$sp]}]}]}"""
      .stripMargin.replaceAll("\n", "")
  }

  private def mkMetricRequest(n: Int): String = {
    val ms = (0 until n).map { i =>
      s"""{"name":"cpu$i","gauge":{"dataPoints":[{"timeUnixNano":"${i}00","asDouble":$i.5,"attributes":[]}]}}"""
    }.mkString(",")
    s"""{"resourceMetrics":[{"resource":{"attributes":[]},"scopeMetrics":[{"scope":{"name":"graft"},"metrics":[$ms]}]}]}"""
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("HTTP loopback pb+gzip: all three signals land on the socket-identical parse path") {
    import spark.implicits._
    val spool = tmpDir("otlp_http_spool")
    val rx = new OtlpHttpReceiver(0, spool)
    try {
      val base = s"http://localhost:${rx.boundPort}"
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 12)).toDF("json"))
      val spans = OtlpJsonSource.parseSpans(Seq(mkSpanRequest("api", 6)).toDF("json"))
      val points = OtlpJsonSource.parseMetricPoints(Seq(mkMetricRequest(5)).toDF("json"))
      OtlpHttpExporter(base, "logs", gzipBody = true).export(logs)
      OtlpHttpExporter(base, "traces", gzipBody = true).export(spans)
      OtlpHttpExporter(base, "metrics", gzipBody = true).export(points)
      // one request per encoder group: 1 logs + 1 traces + 5 metrics
      // (the metrics encoder groups per metric name)
      assert(rx.obs.requests.get == 7)

      // the receiver's spool feeds the IDENTICAL pb parse path the
      // socket receivers use — rows must match the pre-wire frames
      val backLogs = OtlpJsonSource.parseLogsPb(
        spark.read.format("binaryFile").load(rx.spoolPath("logs", pb = true))
          .select(col("content").as("pb")))
      assert(backLogs.count() == 12)
      assert(backLogs.select("body").collect().map(_.getString(0)).sorted
        .sameElements(logs.select("body").collect().map(_.getString(0)).sorted))

      val backSpans = OtlpJsonSource.parseSpansPb(
        spark.read.format("binaryFile").load(rx.spoolPath("traces", pb = true))
          .select(col("content").as("pb")))
      assert(backSpans.count() == 6)
      assert(backSpans.select("name").collect().map(_.getString(0)).sorted
        .sameElements(spans.select("name").collect().map(_.getString(0)).sorted))

      val backPoints = OtlpJsonSource.parseMetricPointsPb(
        spark.read.format("binaryFile").load(rx.spoolPath("metrics", pb = true))
          .select(col("content").as("pb")))
      assert(backPoints.count() == 5)
      assert(backPoints.select("value").collect().map(_.getDouble(0)).sorted
        .sameElements(points.select("value").collect().map(_.getDouble(0)).sorted))
    } finally rx.stop()
  }

  test("HTTP loopback JSON body + streaming ingestion of the spool") {
    import spark.implicits._
    val spool = tmpDir("otlp_http_json")
    val rx = new OtlpHttpReceiver(0, spool)
    try {
      val base = s"http://localhost:${rx.boundPort}"
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 8)).toDF("json"))
      OtlpHttpExporter(base, "logs", useJson = true).export(logs)
      // batch: JSON spool parses on the JSON path
      val back = OtlpJsonSource.parseLogs(
        spark.read.textFile(rx.spoolPath("logs", pb = false)).toDF("json"))
      assert(back.count() == 8)
      // streaming: a second pb export is tailed by the streaming file
      // receiver — the HTTP receiver is a push front for readStream
      OtlpHttpExporter(base, "logs").export(logs)
      val q = OtlpJsonSource.streamLogsPb(spark, rx.spoolPath("logs", pb = true))
        .writeStream.format("memory").queryName("http_rx_logs").start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.sql("SELECT count(*) FROM http_rx_logs").head().getLong(0) == 8)
    } finally rx.stop()
  }

  test("429/503 throttling: Retry-After overrides the retry exporter's backoff") {
    import spark.implicits._
    val spool = tmpDir("otlp_http_thr")
    val fails = new java.util.concurrent.atomic.AtomicInteger(2)
    val rx = new OtlpHttpReceiver(0, spool,
      admission = (_, _) =>
        if (fails.getAndDecrement() > 0)
          Some((if (fails.get() % 2 == 0) 429 else 503, 1))
        else None)
    try {
      val base = s"http://localhost:${rx.boundPort}"
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 3)).toDF("json"))
      // huge local backoff: if the 1-second Retry-After did NOT
      // override it, this test would sleep minutes — wall-clock is
      // the assertion that the server's hint won
      val sender = Pipeline.RetryingExporter(
        OtlpHttpExporter(base, "logs"), maxRetries = 3,
        backoffMs = 600000, maxBackoffMs = 600000)
      val t0 = System.nanoTime()
      sender.export(logs)
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(rx.obs.throttled.get == 2 && rx.obs.requests.get == 1)
      assert(elapsedMs >= 1800, s"two 1s Retry-After waits expected, got ${elapsedMs}ms")
      assert(elapsedMs < 60000, s"local backoff was not overridden: ${elapsedMs}ms")
    } finally rx.stop()
  }

  test("permanent statuses skip the retry budget entirely") {
    import spark.implicits._
    val spool = tmpDir("otlp_http_perm")
    val rx = new OtlpHttpReceiver(0, spool,
      admission = (_, _) => Some((401, 0))) // unauthenticated: permanent
    try {
      val base = s"http://localhost:${rx.boundPort}"
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 2)).toDF("json"))
      val sender = Pipeline.RetryingExporter(
        OtlpHttpExporter(base, "logs"), maxRetries = 3, backoffMs = 60000)
      val t0 = System.nanoTime()
      intercept[Pipeline.PermanentExportException] { sender.export(logs) }
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(rx.obs.throttled.get == 1, "exactly one attempt must reach the server")
      assert(elapsedMs < 10000, s"permanent error slept a retry backoff: ${elapsedMs}ms")
    } finally rx.stop()
  }

  test("partial-success response bodies are parsed and recorded in both encodings") {
    import spark.implicits._
    val spool = tmpDir("otlp_http_ps")
    val rx = new OtlpHttpReceiver(0, spool,
      partial = (_, _) => Some((2L, "quota exceeded")))
    try {
      val base = s"http://localhost:${rx.boundPort}"
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 4)).toDF("json"))
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      val obs = new OtlpHttp.HttpExportObs
      OtlpHttpExporter(base, "logs", obs = Some(obs),
        onPartialSuccess = (r, m) => seen.add((r, m))).export(logs)
      OtlpHttpExporter(base, "logs", useJson = true, obs = Some(obs),
        onPartialSuccess = (r, m) => seen.add((r, m))).export(logs)
      assert(obs.sentRequests.get == 2 && obs.partialSuccesses.get == 2)
      assert(obs.rejectedItems.get == 4)
      assert(seen.toArray(Array.empty[(Long, String)]).toSet ==
        Set((2L, "quota exceeded")))
      // partial success is NOT an error: both requests landed in the spool
      assert(rx.obs.requests.get == 2)
    } finally rx.stop()
  }

  test("receiver status mapping: 405 / 404 / 415 / corrupt-gzip 400") {
    val spool = tmpDir("otlp_http_codes")
    val rx = new OtlpHttpReceiver(0, spool)
    try {
      def request(method: String, path: String, ct: String,
                  body: Array[Byte], gz: Boolean = false): Int = {
        val c = new java.net.URL(s"http://localhost:${rx.boundPort}$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod(method)
        if (body.nonEmpty || method == "POST") {
          c.setDoOutput(true)
          c.setRequestProperty("Content-Type", ct)
          if (gz) c.setRequestProperty("Content-Encoding", "gzip")
          val o = c.getOutputStream
          try o.write(body) finally o.close()
        }
        val code = c.getResponseCode
        c.disconnect()
        code
      }
      assert(request("GET", "/v1/logs", "application/json", Array.empty) == 405)
      assert(request("POST", "/v1/nope", "application/json", "{}".getBytes) == 404)
      assert(request("POST", "/v1/logs", "text/plain", "{}".getBytes) == 415)
      assert(request("POST", "/v1/logs", "application/x-protobuf",
        Array[Byte](1, 2, 3), gz = true) == 400)
      assert(rx.obs.badRequests.get == 1 && rx.obs.requests.get == 0)
    } finally rx.stop()
  }

  test("configcompression codec matrix: every codec round-trips the loopback identically") {
    import spark.implicits._
    // reference config/configcompression/compressionType.go:11-15 —
    // the exporter picks any of the five codecs, the receiver decodes
    // by Content-Encoding; rows after the wire must be identical.
    val spool = tmpDir("otlp_http_codecs")
    val rx = new OtlpHttpReceiver(0, spool)
    try {
      val base = s"http://localhost:${rx.boundPort}"
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 10)).toDF("json"))
      val codecs = Seq("gzip", "zlib", "deflate", "snappy", "zstd")
      codecs.foreach { c =>
        OtlpHttpExporter(base, "logs", compression = c).export(logs)
      }
      assert(rx.obs.requests.get == codecs.size && rx.obs.badRequests.get == 0)
      val back = OtlpJsonSource.parseLogsPb(
        spark.read.format("binaryFile").load(rx.spoolPath("logs", pb = true))
          .select(col("content").as("pb")))
      // every codec delivered the same 10 records
      assert(back.count() == 10L * codecs.size)
      assert(back.select("body").distinct().count() == 10)
    } finally rx.stop()
  }

  test("unknown Content-Encoding is a 400, not silently treated as identity") {
    val spool = tmpDir("otlp_http_badenc")
    val rx = new OtlpHttpReceiver(0, spool)
    try {
      def post(enc: String, body: Array[Byte]): Int = {
        val c = new java.net.URL(s"http://localhost:${rx.boundPort}/v1/logs")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST"); c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/x-protobuf")
        c.setRequestProperty("Content-Encoding", enc)
        val o = c.getOutputStream
        try o.write(body) finally o.close()
        val code = c.getResponseCode
        c.disconnect(); code
      }
      // reference confighttp newBodyReader: unknown encoding → 400
      assert(post("br", "anything".getBytes) == 400)
      // corrupt bodies in a KNOWN codec are 400 too, for each codec
      assert(post("zstd", Array[Byte](9, 9, 9, 9)) == 400)
      assert(post("zlib", Array[Byte](9, 9, 9, 9)) == 400)
      assert(post("snappy", Array[Byte](-1, -1, -1, -1)) == 400)
      assert(rx.obs.badRequests.get == 4 && rx.obs.requests.get == 0)
    } finally rx.stop()
  }

  test("Codec.encode∘decode = id and compresses redundant payloads") {
    val payload = ("repetitive telemetry body " * 400).getBytes("UTF-8")
    for (c <- Seq("gzip", "zlib", "deflate", "snappy", "zstd")) {
      val enc = OtlpHttp.Codec.encode(c, payload)
      assert(OtlpHttp.Codec.decode(c, enc).sameElements(payload), c)
      assert(enc.length < payload.length, s"$c did not compress")
    }
    intercept[IllegalArgumentException] { OtlpHttp.Codec.encode("br", payload) }
  }

  test("partial-success pb codec round-trips through the hand-rolled walk") {
    val pb = OtlpHttp.partialSuccessPb(123456789L, "some items rejected")
    assert(OtlpHttp.parsePartialSuccess(pb, "application/x-protobuf")
      .contains((123456789L, "some items rejected")))
    val json = OtlpHttp.partialSuccessJson("metrics", 7L, "m")
    assert(OtlpHttp.parsePartialSuccess(json.getBytes("UTF-8"), "application/json")
      .contains((7L, "m")))
    // empty / zero-rejected bodies mean full success
    assert(OtlpHttp.parsePartialSuccess(Array.empty, "application/x-protobuf").isEmpty)
    assert(OtlpHttp.parsePartialSuccess("{}".getBytes, "application/json").isEmpty)
    assert(OtlpHttp.parsePartialSuccess(
      OtlpHttp.partialSuccessPb(0L, ""), "application/x-protobuf").isEmpty)
  }

  test("netstats: logical vs wire bytes track compression on both halves") {
    import spark.implicits._
    val spool = tmpDir("otlp_http_netstats")
    val rx = new OtlpHttpReceiver(0, spool)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 50)).toDF("json"))
      val obs = new graft.sources.OtlpHttp.HttpExportObs
      OtlpHttpExporter(s"http://localhost:${rx.boundPort}", "logs",
        compression = "gzip", obs = Some(obs)).export(logs)
      // exporter: logical > wire (gzip wins on a redundant payload)
      assert(obs.sentBytes.get > 0)
      assert(obs.sentWireBytes.get < obs.sentBytes.get,
        s"wire ${obs.sentWireBytes.get} !< logical ${obs.sentBytes.get}")
      // receiver mirror: what left the exporter arrived byte-exact on
      // both axes — wire bytes match the compressed body, logical the
      // decoded payload
      assert(rx.obs.counters("recv_wire_bytes") == obs.sentWireBytes.get)
      assert(rx.obs.counters("recv_bytes") == obs.sentBytes.get)

      // uncompressed: the two axes coincide
      val rx2 = new OtlpHttpReceiver(0, tmpDir("otlp_http_netstats2"))
      try {
        val obs2 = new graft.sources.OtlpHttp.HttpExportObs
        OtlpHttpExporter(s"http://localhost:${rx2.boundPort}", "logs",
          obs = Some(obs2)).export(logs)
        assert(obs2.sentBytes.get == obs2.sentWireBytes.get)
        assert(rx2.obs.counters("recv_bytes") ==
          rx2.obs.counters("recv_wire_bytes"))
      } finally rx2.stop()

      // gRPC twin: same axes over the gRPC frame encoding
      val spoolG = tmpDir("grpc_netstats")
      val rxg = new graft.sources.GrpcOtlp.OtlpGrpcReceiver(0, spoolG)
      try {
        val obsg = new graft.sources.GrpcOtlp.GrpcExportObs
        graft.sources.GrpcOtlp.OtlpGrpcExporter("localhost", rxg.boundPort,
          "logs", gzipBody = true, obs = Some(obsg)).export(logs)
        assert(obsg.sentWireBytes.get < obsg.sentBytes.get)
        assert(rxg.obs.counters("recv_wire_bytes") == obsg.sentWireBytes.get)
        assert(rxg.obs.counters("recv_bytes") == obsg.sentBytes.get)
      } finally rxg.stop()
    } finally rx.stop()
  }

  test("include_metadata: every request a listing of the spool shows already has a complete sidecar") {
    import PbWire._
    val spool = tmpDir("otlp_http_meta_race")
    val rx = new OtlpHttpReceiver(0, spool, includeMetadata = true)
    val dir = new java.io.File(spool, "logs_pb")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var sending = true
    var listed = 0L
    val lister = new Thread(() => while (sending) {
      Option(dir.list()).getOrElse(Array.empty[String])
        .filter(n => !n.startsWith(".") && n.endsWith(".pb")).foreach { n =>
          listed += 1
          val meta = new java.io.File(dir, s"$n.meta")
          try mapper.readTree(meta) catch { case e: java.io.IOException => bad.add(s"$n: $e") }
        }
    }, "sidecar-lister")
    try {
      lister.start()
      val uri = java.net.URI.create(s"http://localhost:${rx.boundPort}/v1/logs")
      val senders = (0 until 4).map { t =>
        val th = new Thread(() => {
          val client = java.net.http.HttpClient.newHttpClient()
          (t until 200 by 4).foreach { i =>
            val body = request(Seq("service.name" -> str(1, s"svc$i")), "graft",
              fixed64(1, 1000L + i) ++ vint(2, 9) ++ lenDelim(5, str(1, s"m$i")))
            val resp = client.send(java.net.http.HttpRequest.newBuilder(uri)
              .header("Content-Type", "application/x-protobuf").header("X-Req", i.toString)
              .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build(),
              java.net.http.HttpResponse.BodyHandlers.discarding())
            if (resp.statusCode != 200) bad.add(s"request $i: HTTP ${resp.statusCode}")
          }
        }, s"sidecar-sender-$t")
        th.start(); th
      }
      senders.foreach(_.join(60000))
    } finally { sending = false; lister.join(10000); rx.stop() }
    assert(bad.isEmpty, bad.asScala.take(5))
    assert(listed > 0)
    val meta = OtlpHttp.readSpoolMetadata(spool, "logs_pb")
    assert(meta.size == 200 && meta.values.map(_("x-req").head.toInt).toSet == (0 until 200).toSet)
  }

  test("client headers + include_metadata: configured headers ride every request and land as durable client metadata") {
    import spark.implicits._
    val spool = tmpDir("otlp_http_meta")
    val rx = new OtlpHttpReceiver(0, spool, includeMetadata = true)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 3)).toDF("json"))
      OtlpHttpExporter(s"http://localhost:${rx.boundPort}", "logs",
        headers = Map("X-Tenant" -> "acme", "X-Scope-OrgID" -> "org-42"))
        .export(logs)
      // sidecar: lowercased names, values preserved, one per request
      val meta = OtlpHttp.readSpoolMetadata(spool, "logs_pb")
      assert(meta.size == 1, meta.keys)
      val hdrs = meta.values.head
      assert(hdrs("x-tenant") == Seq("acme"))
      assert(hdrs("x-scope-orgid") == Seq("org-42"))
      assert(hdrs.contains("content-type"))
      // the sidecar must NOT poison the pb parse paths reading the
      // same spool dir (payload readers skip non-`.pb` siblings)
      val batchRows = graft.pipeline.Pipeline
        .OtlpPbLogReceiver(s"$spool/logs_pb").read(spark).count()
      assert(batchRows == 3L)
      val q = OtlpJsonSource.streamLogsPb(spark, s"$spool/logs_pb")
        .writeStream.format("memory").queryName("meta_spool_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(q.exception.isEmpty, q.exception)
        assert(spark.table("meta_spool_stream").count() == 3L)
      } finally q.stop()
    } finally rx.stop()

    // include_metadata off (the default): no sidecars — header
    // propagation is OPT-IN, exactly the confighttp contract
    val spool2 = tmpDir("otlp_http_nometa")
    val rx2 = new OtlpHttpReceiver(0, spool2)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 1)).toDF("json"))
      OtlpHttpExporter(s"http://localhost:${rx2.boundPort}", "logs",
        headers = Map("X-Tenant" -> "acme")).export(logs)
      assert(OtlpHttp.readSpoolMetadata(spool2, "logs_pb").isEmpty)
    } finally rx2.stop()

    // print-config: header NAMES survive, VALUES mask — the
    // map[string]configopaque.String marshaling
    val rendered = graft.pipeline.ConfigLoader.effectiveConfig(
      """{"pipelines": {"p": {
        |  "receiver": {"type": "parquet", "path": "/in"},
        |  "exporters": [{"type": "otlp_http", "endpoint": "http://h", "signal": "logs",
        |    "headers": {"X-Scope-OrgID": "org-42"}}]}}}""".stripMargin)
    assert(rendered.contains("X-Scope-OrgID"))
    assert(!rendered.contains("org-42"))
    assert(rendered.contains("[REDACTED]"))
  }
}
