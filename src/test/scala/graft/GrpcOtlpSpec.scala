package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Pipeline
import graft.sources.{GrpcOtlp, OtlpJsonSource}
import graft.sources.GrpcOtlp.{OtlpGrpcExporter, OtlpGrpcReceiver}

/** Live loopback specs for the OTLP/gRPC transport: unary Export*
  * over hand-rolled h2c + HPACK + gRPC framing — rows identical to
  * the other transports, gzip message compression, partial success
  * in the response message, RESOURCE_EXHAUSTED + RetryInfo honored
  * by the retry exporter, and the grpc-status error mapping.
  */
class GrpcOtlpSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

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

  test("gRPC loopback: logs and traces land on the pb-identical parse path") {
    import spark.implicits._
    val spool = tmpDir("grpc_spool")
    val rx = new OtlpGrpcReceiver(0, spool)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 12)).toDF("json"))
      val spans = OtlpJsonSource.parseSpans(Seq(mkSpanRequest("api", 6)).toDF("json"))
      OtlpGrpcExporter("localhost", rx.boundPort, "logs").export(logs)
      OtlpGrpcExporter("localhost", rx.boundPort, "traces").export(spans)
      assert(rx.obs.requests.get == 2)

      val backLogs = OtlpJsonSource.parseLogsPb(
        spark.read.format("binaryFile").load(rx.spoolPath("logs"))
          .select(col("content").as("pb")))
      assert(backLogs.count() == 12)
      assert(backLogs.select("body").collect().map(_.getString(0)).sorted
        .sameElements(logs.select("body").collect().map(_.getString(0)).sorted))

      val backSpans = OtlpJsonSource.parseSpansPb(
        spark.read.format("binaryFile").load(rx.spoolPath("traces"))
          .select(col("content").as("pb")))
      assert(backSpans.count() == 6)
      assert(backSpans.select("name").collect().map(_.getString(0)).sorted
        .sameElements(spans.select("name").collect().map(_.getString(0)).sorted))
    } finally rx.stop()
  }

  test("confignet transport unix: the gRPC pair speaks over an AF_UNIX socket; tcp stays the default; bad shapes refuse naming the remedy") {
    import spark.implicits._
    import graft.pipeline.ConfigNet
    val spool = tmpDir("grpc_unix")
    val sockPath = tmpDir("grpc_sock") + "/otlp.sock"
    // a stale socket file from a "previous run" must not block the bind
    java.nio.file.Files.write(java.nio.file.Path.of(sockPath), Array[Byte](1))
    val rx = new OtlpGrpcReceiver(0, spool,
      transport = ConfigNet.Unix(sockPath))
    try {
      assert(rx.boundPort == -1, "a unix socket has no TCP port")
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("uds", 7)).toDF("json"))
      OtlpGrpcExporter("localhost", 0, "logs",
        transport = ConfigNet.Unix(sockPath)).export(logs)
      assert(rx.obs.requests.get == 1)
      val back = OtlpJsonSource.parseLogsPb(
        spark.read.format("binaryFile").load(rx.spoolPath("logs"))
          .select(col("content").as("pb")))
      assert(back.count() == 7)
    } finally rx.stop()
    // ...and stop() unlinks the socket file (no stale rendezvous)
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(sockPath)))

    // config-reachable on both halves, same parse
    assert(ConfigNet.parse("", null) == ConfigNet.Tcp)
    assert(ConfigNet.parse("tcp4", null) == ConfigNet.Tcp)
    assert(ConfigNet.parse("unix", "/tmp/x.sock") == ConfigNet.Unix("/tmp/x.sock"))
    val noPath = intercept[IllegalArgumentException] { ConfigNet.parse("unix", null) }
    assert(noPath.getMessage.contains("path"))
    val bad = intercept[IllegalArgumentException] { ConfigNet.parse("udp", null) }
    assert(bad.getMessage.contains("tcp|tcp4|tcp6|unix"))
    // unix + tls refused loudly (filesystem permissions are the
    // unix socket's access control), never silently unencrypted
    val tlsErr = intercept[IllegalArgumentException] {
      ConfigNet.listen(ConfigNet.Unix(sockPath), 0,
        Some(graft.sources.Tls.fromMap(Map("mode" -> "server"))))
    }
    assert(tlsErr.getMessage.contains("tls"))

    // a WEDGED unix peer cannot hang the exporter: the channel API
    // has no SO_TIMEOUT, so reads arm a watchdog — the export fails
    // within readTimeoutMs like the TCP path's SocketTimeoutException
    val wedgedPath = tmpDir("grpc_wedge") + "/wedged.sock"
    val wedged = ConfigNet.listen(ConfigNet.Unix(wedgedPath), 0, None)
    val sink = new Thread(() => {
      try { val c = wedged.accept(); Thread.sleep(60000); c.close() }
      catch { case _: Throwable => () }
    })
    sink.setDaemon(true); sink.start()
    try {
      val logs2 = OtlpJsonSource.parseLogs(Seq(mkLogRequest("w", 1)).toDF("json"))
      val t0 = System.nanoTime()
      val e = intercept[java.net.SocketTimeoutException] {
        OtlpGrpcExporter("localhost", 0, "logs",
          readTimeoutMs = 500,
          transport = ConfigNet.Unix(wedgedPath)).export(logs2)
      }
      val waited = (System.nanoTime() - t0) / 1e9
      assert(waited < 30.0, f"unix read deadline did not fire: $waited%.1f s")
      assert(e.getMessage.contains("timed out"), e.getMessage)
    } finally wedged.close()

    // the yaml seam builds the unix receiver (validate-level check)
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"logs/u": {
         |  "receiver": {"type": "otlp_grpc", "transport": "unix",
         |    "path": "$sockPath", "spool": "$spool"},
         |  "exporters": [{"type": "otlp_grpc", "transport": "unix",
         |    "path": "$sockPath", "signal": "logs"}]}}}""".stripMargin)
    assert(svc.pipelines.contains("logs/u"))
  }

  test("gRPC gzip message compression decodes identically") {
    import spark.implicits._
    val spool = tmpDir("grpc_gzip")
    val rx = new OtlpGrpcReceiver(0, spool)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("gz", 9)).toDF("json"))
      OtlpGrpcExporter("localhost", rx.boundPort, "logs", gzipBody = true).export(logs)
      val back = OtlpJsonSource.parseLogsPb(
        spark.read.format("binaryFile").load(rx.spoolPath("logs"))
          .select(col("content").as("pb")))
      assert(back.count() == 9)
    } finally rx.stop()
  }

  test("partial success rides the response message") {
    import spark.implicits._
    val spool = tmpDir("grpc_partial")
    val rx = new OtlpGrpcReceiver(0, spool,
      partial = (_, _) => Some((3L, "three rejected")))
    try {
      val obs = new GrpcOtlp.GrpcExportObs
      var seen: Option[(Long, String)] = None
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("p", 5)).toDF("json"))
      OtlpGrpcExporter("localhost", rx.boundPort, "logs", obs = Some(obs),
        onPartialSuccess = (r, m) => seen = Some((r, m))).export(logs)
      assert(seen.contains((3L, "three rejected")))
      assert(obs.rejectedItems.get == 3)
    } finally rx.stop()
  }

  test("google.rpc.Status RetryInfo encode/decode roundtrip") {
    assert(GrpcOtlp.retryDelayMsOf(GrpcOtlp.statusDetailsBin(8, "x", 250L)) == 250L)
    assert(GrpcOtlp.retryDelayMsOf(GrpcOtlp.statusDetailsBin(8, "x", 3500L)) == 3500L)
    assert(GrpcOtlp.retryDelayMsOf("!!!not-base64!!!") == 0L)
  }

  test("RESOURCE_EXHAUSTED with RetryInfo: pushback honored by the retry exporter") {
    import spark.implicits._
    val spool = tmpDir("grpc_throttle")
    val throttles = new java.util.concurrent.atomic.AtomicInteger(2)
    val rx = new OtlpGrpcReceiver(0, spool,
      throttle = _ => if (throttles.getAndDecrement() > 0) Some(250L) else None)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("t", 4)).toDF("json"))
      // raw exporter surfaces the throttle + server delay
      val ex = intercept[Pipeline.ThrottledExportException] {
        OtlpGrpcExporter("localhost", rx.boundPort, "logs").export(logs)
      }
      assert(ex.retryAfterMs == 250L, s"RetryInfo delay lost: ${ex.retryAfterMs}")
      // wrapped in the retry exporter: second throttle consumed, then delivered
      val t0 = System.nanoTime()
      Pipeline.RetryingExporter(
        OtlpGrpcExporter("localhost", rx.boundPort, "logs"), maxRetries = 3)
        .export(logs)
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(rx.obs.requests.get == 1)
      assert(rx.obs.throttled.get == 2)
      assert(elapsedMs >= 250L, s"server pushback not applied: ${elapsedMs}ms")
    } finally rx.stop()
  }

  test("grpc-status mapping: unknown method is UNIMPLEMENTED = permanent, not retried") {
    import spark.implicits._
    val spool = tmpDir("grpc_status")
    val rx = new OtlpGrpcReceiver(0, spool)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("x", 1)).toDF("json"))
      val ex = intercept[Pipeline.PermanentExportException] {
        OtlpGrpcExporter("localhost", rx.boundPort, "logs",
          pathOverride = "/no.such.Service/Export").export(logs)
      }
      assert(ex.getMessage.contains("grpc-status 12"), ex.getMessage)
      assert(rx.obs.badRequests.get == 1)
      assert(rx.obs.requests.get == 0)
    } finally rx.stop()
  }

  test("admission budget: oversize message refused with RESOURCE_EXHAUSTED") {
    import spark.implicits._
    val spool = tmpDir("grpc_adm")
    val rx = new OtlpGrpcReceiver(0, spool,
      controller = Some(new graft.pipeline.AdmissionController(64L)))
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("big", 20)).toDF("json"))
      val ex = intercept[Pipeline.ThrottledExportException] {
        OtlpGrpcExporter("localhost", rx.boundPort, "logs").export(logs)
      }
      assert(ex.getMessage.contains("grpc-status 8"), ex.getMessage)
      assert(rx.obs.requests.get == 0)
    } finally rx.stop()
  }

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  test("HPACK Huffman decode matches the RFC 7541 Appendix C example vectors") {
    import graft.sources.GrpcOtlp.Hpack
    // C.4.1 / C.4.3 / C.6.1 huffman-coded string literals
    val vectors = Seq(
      "f1e3 c2e5 f23a 6ba0 ab90 f4ff" -> "www.example.com",
      "a8eb 1064 9cbf" -> "no-cache",
      "25a8 49e9 5ba9 7d7f" -> "custom-key",
      "25a8 49e9 5bb8 e8b4 bf" -> "custom-value",
      "6402" -> "302",
      "aec3 771a 4b" -> "private",
      "d07a be94 1054 d444 a820 0595 040b 8166 e082 a62d 1bff" ->
        "Mon, 21 Oct 2013 20:13:21 GMT",
      "9d29 ad17 1863 c78f 0b97 c8e9 ae82 ae43 d3" ->
        "https://www.example.com")
    for ((h, expect) <- vectors) {
      val b = hex(h)
      assert(Hpack.huffmanDecode(b, 0, b.length) == expect, expect)
      // and our encoder produces the RFC's exact bytes back
      assert(Hpack.huffmanEncode(expect.getBytes("US-ASCII")).toSeq == b.toSeq,
        s"encode($expect)")
    }
  }

  test("HPACK Huffman: decode∘encode = id over all byte values; malformed padding and EOS are decoding errors") {
    import graft.sources.GrpcOtlp.Hpack
    // every symbol 0-255 once (exercises the long tail codes), plus
    // typical header-ish strings
    val allBytes = Array.tabulate[Byte](256)(_.toByte)
    for (raw <- Seq(allBytes, "te".getBytes("US-ASCII"),
        "application/grpc+proto".getBytes("US-ASCII"),
        Array.empty[Byte])) {
      val enc = Hpack.huffmanEncode(raw)
      assert(Hpack.huffmanDecode(enc, 0, enc.length)
        .getBytes("ISO-8859-1").toSeq == raw.toSeq)
    }
    // padding with 0-bits is NOT the EOS prefix: '0' (00000) + 000
    intercept[IllegalArgumentException] {
      Hpack.huffmanDecode(Array[Byte](0x00), 0, 1)
    }
    // 32 one-bits decode the 30-bit EOS code inside the data
    intercept[IllegalArgumentException] {
      Hpack.huffmanDecode(Array[Byte](-1, -1, -1, -1), 0, 4)
    }
  }

  test("HPACK header block with Huffman literals round-trips, and Huffman engages only when shorter") {
    import graft.sources.GrpcOtlp.Hpack
    val headers = Seq(
      ":method" -> "POST",
      ":path" -> "/opentelemetry.proto.collector.logs.v1.LogsService/Export",
      "content-type" -> "application/grpc",
      "grpc-encoding" -> "identity",
      "x-rare" -> "\\`{<^") // all ≥14-bit codes: huffman would EXPAND this
    val block = Hpack.encode(headers)
    val decoded = new Hpack.Decoder().decode(block)
    assert(decoded == headers)
    // the compressible strings actually went down the huffman path:
    // a raw-only block (what the old encoder emitted) must be longer
    val rawLen = headers.map { case (n, v) => 1 + 1 + n.length + 1 + v.length }.sum
    assert(block.length < rawLen, s"huffman never engaged: ${block.length} vs $rawLen")
  }

  test("snappy and zstd grpc-encoding decode identically on the unary pair (configgrpc.go:385-391 codec set)") {
    import spark.implicits._
    for (codec <- Seq("snappy", "zstd")) {
      val spool = tmpDir(s"grpc_$codec")
      val rx = new OtlpGrpcReceiver(0, spool)
      try {
        val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest(codec, 9)).toDF("json"))
        OtlpGrpcExporter("localhost", rx.boundPort, "logs",
          compression = codec).export(logs)
        val back = OtlpJsonSource.parseLogsPb(
          spark.read.format("binaryFile").load(rx.spoolPath("logs"))
            .select(col("content").as("pb")))
        assert(back.count() == 9, codec)
      } finally rx.stop()
    }
    // a codec outside the negotiated set is a build-time config error
    intercept[IllegalArgumentException] {
      OtlpGrpcExporter("localhost", 1, "logs", compression = "br")
    }
  }

  test("unary connection window replenishes: a window-enforcing client pools ONE connection without stalling") {
    // r10 verdict #3: the receiver granted ~1 GiB up front but never
    // gave consumed DATA back, so a conformant long-lived pooled
    // client would stall for good once cumulative unary traffic burnt
    // the grant. Pin the replenishment loop: every consumed byte
    // comes back as WINDOW_UPDATEs on BOTH axes, request after
    // request on one connection.
    val spool = tmpDir("grpc_window")
    val rx = new OtlpGrpcReceiver(0, spool, maxRecvMsgBytes = 1L << 20)
    try {
      val sock = new java.net.Socket("localhost", rx.boundPort)
      try {
        sock.setSoTimeout(5000)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        GrpcOtlp.H2.handshakeClient(out)
        var grantedConn = 0L
        val grantedStream = scala.collection.mutable.Map[Int, Long]()
        var sentData = 0L
        // three ~30 KiB unary requests on streams 1/3/5 — cumulative
        // DATA passes the 65535-byte protocol-default window, which
        // only the replenishment grants keep open for a client that
        // enforces flow control
        for (sid <- Seq(1, 3, 5)) {
          GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS, GrpcOtlp.H2.FlagEndHeaders,
            sid, GrpcOtlp.Hpack.encode(Seq(
              ":method" -> "POST", ":scheme" -> "http",
              ":path" -> GrpcOtlp.pathOf("logs"), ":authority" -> "localhost",
              "content-type" -> "application/grpc", "te" -> "trailers")))
          val body = Array.fill(30000)(7.toByte) // opaque pb; receiver spools
          val frame = new java.io.ByteArrayOutputStream()
          frame.write(0)
          frame.write(Array[Byte](
            ((body.length >> 24) & 0xFF).toByte, ((body.length >> 16) & 0xFF).toByte,
            ((body.length >> 8) & 0xFF).toByte, (body.length & 0xFF).toByte), 0, 4)
          frame.write(body)
          sentData += frame.size().toLong
          GrpcOtlp.H2.writeData(out, sid, frame.toByteArray, endStream = true)
          out.flush()
          // drain this request's full response (resp HEADERS + DATA +
          // trailers), crediting every WINDOW_UPDATE on the way
          var done = false
          while (!done) {
            val f = GrpcOtlp.H2.read(in)
            require(f != null, s"connection closed during request on stream $sid")
            if (f.tpe == GrpcOtlp.H2.WINDOW_UPDATE) {
              val inc = (((f.payload(0) & 0x7F) << 24) | ((f.payload(1) & 0xFF) << 16) |
                ((f.payload(2) & 0xFF) << 8) | (f.payload(3) & 0xFF)).toLong
              if (f.streamId == 0) grantedConn += inc
              else grantedStream(f.streamId) =
                grantedStream.getOrElse(f.streamId, 0L) + inc
            } else if ((f.tpe == GrpcOtlp.H2.HEADERS ||
                f.tpe == GrpcOtlp.H2.CONTINUATION) && f.streamId == sid &&
                (f.flags & GrpcOtlp.H2.FlagEndStream) != 0) done = true
            else if (f.tpe == GrpcOtlp.H2.SETTINGS &&
                (f.flags & GrpcOtlp.H2.FlagAck) == 0) {
              GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
                GrpcOtlp.H2.FlagAck, 0, Array.empty)
              out.flush()
            }
          }
        }
        // connection axis: the one-time big-window announcement plus
        // EVERY consumed DATA byte granted back
        val announce = (1L << 30) - 65535L
        assert(grantedConn == announce + sentData,
          s"conn grants $grantedConn vs ${announce + sentData}")
        // per-stream axis: each request's bytes granted on its stream
        for (sid <- Seq(1, 3, 5))
          assert(grantedStream.getOrElse(sid, 0L) == sentData / 3,
            s"stream $sid grants ${grantedStream.getOrElse(sid, 0L)} vs ${sentData / 3}")
        assert(rx.obs.requests.get == 3)
      } finally sock.close()
    } finally rx.stop()
  }

  test("receiver stop() severs live connections: a request on a pooled connection opened before stop() is not spooled") {
    val spool = tmpDir("grpc_stop")
    val rx = new OtlpGrpcReceiver(0, spool)
    val sock = new java.net.Socket("localhost", rx.boundPort)
    try {
      sock.setSoTimeout(5000)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      import GrpcOtlp.H2
      H2.handshakeClient(out)
      // one unary Export on stream `sid`; true when its trailers came
      // back, false when the connection was gone
      def export(sid: Int): Boolean =
        try {
          H2.write(out, H2.HEADERS, H2.FlagEndHeaders, sid, GrpcOtlp.Hpack.encode(Seq(
            ":method" -> "POST", ":scheme" -> "http",
            ":path" -> GrpcOtlp.pathOf("logs"), ":authority" -> "localhost",
            "content-type" -> "application/grpc", "te" -> "trailers")))
          H2.writeData(out, sid, Array[Byte](0, 0, 0, 0, 3, 7, 7, 7), endStream = true)
          out.flush()
          var answered = false
          var f = H2.read(in)
          while (f != null && !answered) {
            if (f.tpe == H2.HEADERS && f.streamId == sid &&
                (f.flags & H2.FlagEndStream) != 0) answered = true
            else f = H2.read(in)
          }
          answered
        } catch { case _: java.io.IOException => false }
      assert(export(1))
      assert(rx.obs.requests.get == 1)
      rx.stop()
      assert(!export(3), "the receiver answered a request after stop()")
      assert(rx.obs.requests.get == 1)
      assert(new java.io.File(rx.spoolPath("logs")).list().length == 1)
    } finally { sock.close(); rx.stop() }
  }
}
