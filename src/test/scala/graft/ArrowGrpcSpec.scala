package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ArrowGrpc, ArrowIpc, GrpcOtlp, OtlpJsonSource}
import graft.sources.ArrowGrpc._

/** Arrow-over-gRPC stream composition: the ArrowStreamService shape
  * (long-lived stream, BatchArrowRecords in, per-batch BatchStatus
  * out) on the hand-rolled h2c transport, reusing ArrowIpc's
  * dict+zstd payloads. Covers the reference semantics that make the
  * transport distinct: a mid-stream admission refusal acks ONLY the
  * refused batch; max_stream_lifetime rolls the stream over without
  * losing anything; UNIMPLEMENTED downgrades to standard OTLP. */
class ArrowGrpcSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def mkLogRequest(svc: String, n: Int): String = {
    val recs = (0 until n).map { i =>
      s"""{"timeUnixNano":"${1700000000000000000L + i}","severityNumber":9,
         |"severityText":"INFO","body":{"stringValue":"log-$i"}}"""
        .stripMargin.replaceAll("\n", "")
    }.mkString(",")
    s"""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$svc"}}]},
       |"scopeLogs":[{"scope":{"name":"graft"},"logRecords":[$recs]}]}]}"""
      .stripMargin.replaceAll("\n", "")
  }

  test("arrowpb codec: BatchArrowRecords and BatchStatus round-trip") {
    val b = BatchArrowRecords(42L, Seq(
      ArrowPayload("s1", PayloadType.Logs, Array[Byte](1, 2, 3)),
      ArrowPayload("s2", PayloadType.Metrics, Array[Byte](9))),
      headers = Array[Byte](0x40, 0x01, 0x61, 0x01, 0x62))
    val d = decodeBatch(encodeBatch(b))
    assert(d.batchId == 42L)
    assert(d.payloads.map(_.schemaId) == Seq("s1", "s2"))
    assert(d.payloads.map(_.tpe) == Seq(PayloadType.Logs, PayloadType.Metrics))
    assert(d.payloads.head.record.toSeq == Seq[Byte](1, 2, 3))
    assert(d.headers.toSeq == b.headers.toSeq)
    // zero-valued / empty fields encode as ABSENT and decode to defaults
    val z = decodeBatch(encodeBatch(BatchArrowRecords(0L, Nil, Array.empty)))
    assert(z.batchId == 0L && z.payloads.isEmpty && z.headers.isEmpty)
    val s = decodeStatus(encodeStatus(BatchStatus(7L, 8, "busy")))
    assert(s == BatchStatus(7L, 8, "busy"))
    assert(decodeStatus(encodeStatus(BatchStatus(0L, 0, ""))) ==
      BatchStatus(0L, 0, ""))
  }

  test("arrowpb decode fuzz: arbitrary bytes parse or fail cleanly, never hang or over-read") {
    // the protobuf-decode-fuzz discipline: a hand-rolled walk must be
    // total — deterministic seeds, bounded time, exception or result
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 2000) {
      val bytes = Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      try { decodeBatch(bytes); () }
      catch { case _: RuntimeException => () } // incl. AIOOBE/IAE
      try { decodeStatus(bytes); () }
      catch { case _: RuntimeException => () }
    }
    // truncated VALID prefixes of a real message fail cleanly too
    val full = encodeBatch(BatchArrowRecords(9L,
      Seq(ArrowPayload("s", PayloadType.Logs, Array.fill(16)(7.toByte))),
      Array[Byte](1, 2)))
    for (n <- 0 until full.length) {
      try { decodeBatch(java.util.Arrays.copyOfRange(full, 0, n)); () }
      catch { case _: RuntimeException => () }
    }
  }

  test("all three signals ride the Arrow stream transport to their own spools") {
    import spark.implicits._
    val spool = tmpDir("agrpc_sig")
    val rx = new ArrowGrpcReceiver(0, spool)
    try {
      for ((signal, n) <- Seq("logs" -> 4, "traces" -> 3, "metrics" -> 5)) {
        // signal-shaped payloads are not needed to pin the ROUTING —
        // the payload TYPE decides the spool; a tiny one-column frame
        // stands in for each signal's flattened schema
        val df = (0 until n).map(i => s"$signal-$i").toDF("body")
        val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
          signal, numStreams = 1)
        exp.export(df)
        exp.shutdown()
        val back = ArrowIpc.readSpool(spark, rx.spoolPath(signal), df.schema)
        assert(back.count() == n, signal)
        assert(back.collect().map(_.getString(0)).forall(_.startsWith(signal)))
      }
      assert(rx.obs.batches.get == 3)
    } finally rx.stop()
  }

  test("arrow-over-grpc loopback: rows land identical to the direct frame, dict+zstd payloads included") {
    import spark.implicits._
    val spool = tmpDir("agrpc_spool")
    val rx = new ArrowGrpcReceiver(0, spool)
    try {
      val logs = OtlpJsonSource.parseLogs(
        Seq(mkLogRequest("api", 7), mkLogRequest("db", 5)).toDF("json"))
      val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1, dictCap = 64, codec = "zstd",
        rowsPerBatch = 5)
      exp.export(logs)
      exp.shutdown()
      assert(exp.arrowBatches.get == 3) // 12 rows at 5/batch
      assert(rx.obs.batches.get == 3 && rx.obs.streams.get == 1)
      val back = ArrowIpc.readSpool(spark, rx.spoolPath("logs"), logs.schema)
      assert(back.count() == 12)
      // rows identical to the exported frame (the socket-Arrow pin);
      // full-row JSON because set ops refuse MAP columns
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as("j"))
          .collect().map(_.getString(0)).toSeq.sorted
      assert(rows(back) == rows(logs))
    } finally rx.stop()
  }

  test("mid-stream admission refusal acks ONLY the refused batch; the stream stays open (arrow.go:326-346)") {
    val spool = tmpDir("agrpc_adm")
    // budget refuses any single batch over 4 KiB as TooLarge
    val rx = new ArrowGrpcReceiver(0, spool,
      controller = Some(new graft.pipeline.AdmissionController(4096L)))
    try {
      // drive the wire directly: three batches on ONE stream, the
      // middle one oversized
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("body",
          org.apache.spark.sql.types.StringType)))
      def payload(s: String, n: Int): Array[Byte] =
        ArrowIpc.encodeRows(schema,
          (0 until n).map(i => org.apache.spark.sql.Row(s"$s-$i")))
      val small1 = payload("a", 3)
      val big = ArrowIpc.encodeRows(schema,
        Seq(org.apache.spark.sql.Row("x" * 8192)))
      val small2 = payload("b", 2)

      val sock = new java.net.Socket("localhost", rx.boundPort)
      try {
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        GrpcOtlp.H2.handshakeClient(out)
        GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS, GrpcOtlp.H2.FlagEndHeaders,
          1, GrpcOtlp.Hpack.encode(Seq(
            ":method" -> "POST", ":scheme" -> "http",
            ":path" -> ArrowGrpc.StreamPath, ":authority" -> "localhost",
            "content-type" -> "application/grpc", "te" -> "trailers")))
        out.flush()
        def send(id: Long, rec: Array[Byte]): Unit = {
          val msg = encodeBatch(BatchArrowRecords(id,
            Seq(ArrowPayload("s", PayloadType.Logs, rec)), Array.empty))
          val frame = new java.io.ByteArrayOutputStream()
          frame.write(0)
          frame.write(Array[Byte](
            ((msg.length >> 24) & 0xFF).toByte, ((msg.length >> 16) & 0xFF).toByte,
            ((msg.length >> 8) & 0xFF).toByte, (msg.length & 0xFF).toByte))
          frame.write(msg)
          GrpcOtlp.H2.writeData(out, 1, frame.toByteArray, endStream = false)
          out.flush()
        }
        val recvBuf = new java.io.ByteArrayOutputStream()
        def awaitStatus(): BatchStatus = {
          while (true) {
            val bytes = recvBuf.toByteArray
            if (bytes.length >= 5) {
              val mlen = ((bytes(1) & 0xFF) << 24) | ((bytes(2) & 0xFF) << 16) |
                ((bytes(3) & 0xFF) << 8) | (bytes(4) & 0xFF)
              if (bytes.length >= 5 + mlen) {
                val body = java.util.Arrays.copyOfRange(bytes, 5, 5 + mlen)
                recvBuf.reset()
                recvBuf.write(bytes, 5 + mlen, bytes.length - 5 - mlen)
                return decodeStatus(body)
              }
            }
            val f = GrpcOtlp.H2.read(in)
            require(f != null, "connection closed")
            if (f.tpe == GrpcOtlp.H2.DATA && f.streamId == 1)
              recvBuf.write(f.payload)
            else if (f.tpe == GrpcOtlp.H2.SETTINGS &&
                (f.flags & GrpcOtlp.H2.FlagAck) == 0) {
              GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
                GrpcOtlp.H2.FlagAck, 0, Array.empty)
              out.flush()
            }
          }
          throw new IllegalStateException("unreachable")
        }
        send(1L, small1)
        val s1 = awaitStatus()
        send(2L, big)
        val s2 = awaitStatus()
        send(3L, small2) // the SAME stream must still accept batches
        val s3 = awaitStatus()
        assert(s1 == BatchStatus(1L, GrpcOtlp.Status.Ok, ""))
        assert(s2.batchId == 2L &&
          s2.statusCode == GrpcOtlp.Status.ResourceExhausted, s2)
        assert(s3 == BatchStatus(3L, GrpcOtlp.Status.Ok, ""))
      } finally sock.close()
      assert(rx.obs.batches.get == 2 && rx.obs.refused.get == 1)
      // only the admitted batches are durable: 3 + 2 rows, no "x"*8192
      val schema2 = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("body",
          org.apache.spark.sql.types.StringType)))
      val back = ArrowIpc.readSpool(spark, rx.spoolPath("logs"), schema2)
      assert(back.count() == 5)
      assert(back.filter(length(col("body")) > 100).count() == 0)
    } finally rx.stop()
  }

  test("flow control: the receiver grants consumed DATA back as WINDOW_UPDATEs on connection and stream") {
    val spool = tmpDir("agrpc_fc")
    val rx = new ArrowGrpcReceiver(0, spool)
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("body",
          org.apache.spark.sql.types.StringType)))
      val rec = ArrowIpc.encodeRows(schema,
        (0 until 50).map(i => org.apache.spark.sql.Row(s"row-$i")))
      val sock = new java.net.Socket("localhost", rx.boundPort)
      try {
        sock.setSoTimeout(5000)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        GrpcOtlp.H2.handshakeClient(out)
        GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS, GrpcOtlp.H2.FlagEndHeaders,
          1, GrpcOtlp.Hpack.encode(Seq(
            ":method" -> "POST", ":scheme" -> "http",
            ":path" -> ArrowGrpc.StreamPath, ":authority" -> "localhost",
            "content-type" -> "application/grpc", "te" -> "trailers")))
        val msg = encodeBatch(BatchArrowRecords(1L,
          Seq(ArrowPayload("s", PayloadType.Logs, rec)), Array.empty))
        val frame = new java.io.ByteArrayOutputStream()
        frame.write(0)
        frame.write(Array[Byte](
          ((msg.length >> 24) & 0xFF).toByte, ((msg.length >> 16) & 0xFF).toByte,
          ((msg.length >> 8) & 0xFF).toByte, (msg.length & 0xFF).toByte))
        frame.write(msg)
        val dataBytes = frame.size().toLong
        GrpcOtlp.H2.writeData(out, 1, frame.toByteArray, endStream = false)
        out.flush()
        // read until the BatchStatus ack; account every WINDOW_UPDATE
        var grantedConn = 0L
        var grantedStream = 0L
        var acked = false
        while (!acked) {
          val f = GrpcOtlp.H2.read(in)
          require(f != null, "connection closed")
          if (f.tpe == GrpcOtlp.H2.WINDOW_UPDATE) {
            val inc = (((f.payload(0) & 0x7F) << 24) | ((f.payload(1) & 0xFF) << 16) |
              ((f.payload(2) & 0xFF) << 8) | (f.payload(3) & 0xFF)).toLong
            if (f.streamId == 0) grantedConn += inc else grantedStream += inc
          } else if (f.tpe == GrpcOtlp.H2.DATA && f.streamId == 1 &&
              f.payload.nonEmpty) acked = true
          else if (f.tpe == GrpcOtlp.H2.SETTINGS &&
              (f.flags & GrpcOtlp.H2.FlagAck) == 0) {
            GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
              GrpcOtlp.H2.FlagAck, 0, Array.empty)
            out.flush()
          }
        }
        // a conformant sender gets every consumed byte back — a
        // long-lived stream's window never starves. The connection
        // axis also carries the handshake's one-time big-window
        // announcement; replenishment is what exceeds it.
        val announce = (1L << 30) - 65535L
        assert(grantedConn == announce + dataBytes,
          s"conn grants $grantedConn vs ${announce + dataBytes}")
        assert(grantedStream == dataBytes, s"stream grants $grantedStream vs $dataBytes")
      } finally sock.close()
    } finally rx.stop()
  }

  test("a high-bit gRPC length prefix hits the size gate as the huge number it claims, never wraps negative") {
    val spool = tmpDir("agrpc_neg")
    val rx = new ArrowGrpcReceiver(0, spool, maxRecvMsgBytes = 8192L)
    try {
      val sock = new java.net.Socket("localhost", rx.boundPort)
      try {
        sock.setSoTimeout(5000)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        GrpcOtlp.H2.handshakeClient(out)
        GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS, GrpcOtlp.H2.FlagEndHeaders,
          1, GrpcOtlp.Hpack.encode(Seq(
            ":method" -> "POST", ":scheme" -> "http",
            ":path" -> ArrowGrpc.StreamPath, ":authority" -> "localhost",
            "content-type" -> "application/grpc", "te" -> "trailers")))
        // 5-byte prefix declaring length 0x80000000 (negative as Int)
        GrpcOtlp.H2.writeData(out, 1,
          Array[Byte](0, 0x80.toByte, 0, 0, 0), endStream = false)
        out.flush()
        var status = ""
        var done = false
        while (!done) {
          val f = GrpcOtlp.H2.read(in)
          if (f == null) done = true
          else if ((f.tpe == GrpcOtlp.H2.HEADERS ||
              f.tpe == GrpcOtlp.H2.CONTINUATION) && f.streamId == 1) {
            new GrpcOtlp.Hpack.Decoder().decode(f.payload).toMap
              .get("grpc-status").foreach(status = _)
            if ((f.flags & GrpcOtlp.H2.FlagEndStream) != 0) done = true
          } else if (f.tpe == GrpcOtlp.H2.SETTINGS &&
              (f.flags & GrpcOtlp.H2.FlagAck) == 0) {
            GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
              GrpcOtlp.H2.FlagAck, 0, Array.empty)
            out.flush()
          }
        }
        // the documented contract: RESOURCE_EXHAUSTED trailers, not a
        // connection-killing array-bounds crash
        assert(status == "8", s"grpc-status: '$status'")
      } finally sock.close()
      assert(rx.obs.batches.get == 0)
    } finally rx.stop()
  }

  test("oversize message breaks the stream with trailers; in-flight data after them is never processed or acked") {
    val spool = tmpDir("agrpc_dead")
    val rx = new ArrowGrpcReceiver(0, spool, maxRecvMsgBytes = 8192L)
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("body",
          org.apache.spark.sql.types.StringType)))
      val sock = new java.net.Socket("localhost", rx.boundPort)
      try {
        sock.setSoTimeout(5000)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        GrpcOtlp.H2.handshakeClient(out)
        GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS, GrpcOtlp.H2.FlagEndHeaders,
          1, GrpcOtlp.Hpack.encode(Seq(
            ":method" -> "POST", ":scheme" -> "http",
            ":path" -> ArrowGrpc.StreamPath, ":authority" -> "localhost",
            "content-type" -> "application/grpc", "te" -> "trailers")))
        def send(id: Long, rec: Array[Byte]): Unit = {
          val msg = encodeBatch(BatchArrowRecords(id,
            Seq(ArrowPayload("s", PayloadType.Logs, rec)), Array.empty))
          val frame = new java.io.ByteArrayOutputStream()
          frame.write(0)
          frame.write(Array[Byte](
            ((msg.length >> 24) & 0xFF).toByte, ((msg.length >> 16) & 0xFF).toByte,
            ((msg.length >> 8) & 0xFF).toByte, (msg.length & 0xFF).toByte))
          frame.write(msg)
          GrpcOtlp.H2.writeData(out, 1, frame.toByteArray, endStream = false)
        }
        // oversize message (> 8 KiB gRPC frame), then a small valid
        // batch IN THE SAME WRITE — both arrive after the trailers
        send(1L, ArrowIpc.encodeRows(schema,
          Seq(org.apache.spark.sql.Row("x" * 32768))))
        send(2L, ArrowIpc.encodeRows(schema,
          Seq(org.apache.spark.sql.Row("small"))))
        out.flush()
        // the server's first and ONLY answer is the stream-breaking
        // trailers (grpc-status 8): no response headers preceded any
        // ack, and batch 2 is neither processed nor acked
        var trailersStatus = ""
        var sawData = false
        var done = false
        while (!done) {
          val f = GrpcOtlp.H2.read(in)
          if (f == null) done = true
          else if (f.tpe == GrpcOtlp.H2.DATA && f.streamId == 1 &&
              f.payload.nonEmpty) sawData = true
          else if ((f.tpe == GrpcOtlp.H2.HEADERS ||
              f.tpe == GrpcOtlp.H2.CONTINUATION) && f.streamId == 1) {
            val hs = new GrpcOtlp.Hpack.Decoder().decode(f.payload).toMap
            hs.get("grpc-status").foreach(trailersStatus = _)
            if ((f.flags & GrpcOtlp.H2.FlagEndStream) != 0) done = true
          } else if (f.tpe == GrpcOtlp.H2.SETTINGS &&
              (f.flags & GrpcOtlp.H2.FlagAck) == 0) {
            GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
              GrpcOtlp.H2.FlagAck, 0, Array.empty)
            out.flush()
          }
        }
        assert(trailersStatus == "8", s"trailers status: $trailersStatus")
        assert(!sawData, "an ack escaped after stream-breaking trailers")
      } finally sock.close()
      assert(rx.obs.batches.get == 0)
      // the receiver itself is fine: a FRESH stream delivers
      val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1)
      import spark.implicits._
      exp.export(OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 2)).toDF("json")))
      exp.shutdown()
      assert(rx.obs.batches.get == 1)
    } finally rx.stop()
  }

  test("max_stream_lifetime: graceful EOS + reopen loses nothing (stream.go:279-283)") {
    import spark.implicits._
    val spool = tmpDir("agrpc_roll")
    val rx = new ArrowGrpcReceiver(0, spool)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 4)).toDF("json"))
      val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1, maxStreamLifetimeMs = 1L, rowsPerBatch = 100)
      exp.export(logs)
      Thread.sleep(10) // age the stream past its lifetime
      exp.export(logs)
      exp.shutdown()
      assert(exp.rollovers.get >= 1, "stream never rolled over")
      assert(rx.obs.streams.get >= 2, "no second stream opened")
      val back = ArrowIpc.readSpool(spark, rx.spoolPath("logs"), logs.schema)
      assert(back.count() == 8) // both exports, nothing lost
    } finally rx.stop()
  }

  test("netstats: exporter sent/sent_wire mirror receiver recv/recv_wire byte-exactly; gzip wins on the wire") {
    val spool = tmpDir("agrpc_net")
    val rx = new ArrowGrpcReceiver(0, spool)
    try {
      // redundant payload, uncompressed IPC (codec none) so the gzip
      // grpc-encoding win is visible on the wire axis
      val spark2 = spark
      import spark2.implicits._
      val df = (0 until 200).map(i => ("a" * 400) + (i % 3)).toDF("body")
      val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1, dictCap = 0, codec = "none",
        gzipMessages = true, rowsPerBatch = 100)
      exp.export(df)
      exp.shutdown()
      val sent = exp.counters
      val recv = rx.obs.counters
      assert(sent("sent_requests") == 2 && recv("accepted_requests") == 2)
      assert(sent("sent_bytes") == recv("recv_bytes"), (sent, recv))
      assert(sent("sent_wire_bytes") == recv("recv_wire_bytes"), (sent, recv))
      assert(sent("sent_wire_bytes") < sent("sent_bytes"),
        s"gzip never engaged on the wire: $sent")
    } finally rx.stop()
  }

  test("per-batch HPACK metadata headers reach the receiver (headerReceiver semantics)") {
    import spark.implicits._
    val spool = tmpDir("agrpc_md")
    @volatile var seen = Map.empty[String, Seq[String]]
    val rx = new ArrowGrpcReceiver(0, spool, onBatchHeaders = h => seen = h)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 2)).toDF("json"))
      val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1,
        batchHeaders = Map("X-Tenant" -> "acme"))
      exp.export(logs)
      exp.shutdown()
      assert(seen.get("x-tenant").contains(Seq("acme")), seen)
    } finally rx.stop()
  }

  test("config-declared otlp_arrow receiver serves the wire and streams to the sink") {
    import spark.implicits._
    val spool = tmpDir("agrpc_cfg")
    val sink = tmpDir("agrpc_cfg_out") + "/o"
    val ckpt = tmpDir("agrpc_cfg_ckpt")
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"logs/arrow": {
         |  "receiver": {"type": "otlp_arrow", "port": 0, "spool": "$spool"},
         |  "exporters": [{"type": "parquet", "path": "$sink"}]}}}""".stripMargin)
    val queries = svc.runStreaming(spark, ckpt)
    try {
      val port = svc.pipelines("logs/arrow").receiver
        .asInstanceOf[graft.pipeline.Pipeline.OtlpArrowServerReceiver].boundPort
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 4)).toDF("json"))
      val exp = new ArrowGrpcStreamExporter("localhost", port, "logs",
        numStreams = 1)
      exp.export(logs)
      exp.shutdown()
      def rows(): Long =
        try spark.read.parquet(sink).count() catch { case _: Exception => 0L }
      val deadline = System.currentTimeMillis() + 30000
      while (rows() < 4 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(rows() == 4, s"sink rows: ${rows()}")
    } finally {
      queries.values.flatten.foreach(_.stop())
      svc.stopReceivers()
    }
  }

  test("streaming Arrow-gRPC capstone: pb spool → stream → process → Arrow-over-gRPC export → lossless re-ingest") {
    import spark.implicits._
    val spool = tmpDir("agrpc_cap_in")
    val rxSpool = tmpDir("agrpc_cap_rx")
    val dlq = tmpDir("agrpc_cap_dlq")
    val ck = tmpDir("agrpc_cap_ck")
    // two wire pb request files land on the ingest spool
    for ((svc, i) <- Seq("api" -> 1, "worker" -> 2)) {
      val pb = OtlpJsonSource.writeLogsPb(
        OtlpJsonSource.parseLogs(Seq(mkLogRequest(svc, 9)).toDF("json")))
        .head().getAs[Array[Byte]]("pb")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$spool/r$i.pb"), pb)
    }
    val rx = new ArrowGrpcReceiver(0, rxSpool)
    try {
      // wire decode → drop two-thirds by body suffix → export each
      // micro-batch over the live Arrow stream transport
      val logs = OtlpJsonSource.streamLogsPb(spark, spool)
      val processed = logs.filter(col("body").endsWith("0") ||
        col("body").endsWith("3") || col("body").endsWith("6"))
      val arrowOut = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1, rowsPerBatch = 3)
      val q = graft.streaming.StreamingPipelines.exportStream(processed,
        graft.pipeline.Pipeline.QueuedExporter(arrowOut, dlq), ck)
      try q.processAllAvailable() finally q.stop()
      arrowOut.shutdown()
      // re-ingest the receiver's durable Arrow spool: bodies 0,3,6
      // per service, nothing else, attributes intact
      val back = ArrowIpc.readSpool(spark, rx.spoolPath("logs"),
        processed.schema)
      assert(back.count() == 6)
      assert(back.select("body").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("log-0", "log-0", "log-3", "log-3", "log-6", "log-6"))
      assert(back.select(col("resource_attributes").getItem("service.name"))
        .distinct().count() == 2)
      assert(rx.obs.batches.get == arrowOut.arrowBatches.get)
    } finally rx.stop()
  }

  /** A conformant server that does NOT announce big windows: the
    * protocol-default 65535 governs, grants come back only as data
    * is consumed, and any overrun is flagged as a violation. It
    * serves one call; `respond` answers its first complete gRPC
    * message. */
  private final class StingyServer(
      respond: (java.io.OutputStream, Array[Byte]) => Unit) {
    @volatile var violated = false
    @volatile var maxOutstanding = 0L
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    val srv = new Thread(() => {
      val sock = server.accept()
      try {
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        require(in.readNBytes(24).length == 24) // client preface
        GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS, 0, 0, Array.empty)
        out.flush() // EMPTY settings: windows stay at 65535
        var granted = 0L
        var received = 0L
        val msg = new java.io.ByteArrayOutputStream()
        var done = false
        while (!done) {
          val f = GrpcOtlp.H2.read(in)
          if (f == null) done = true
          else f.tpe match {
            case GrpcOtlp.H2.SETTINGS =>
              if ((f.flags & GrpcOtlp.H2.FlagAck) == 0) {
                GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
                  GrpcOtlp.H2.FlagAck, 0, Array.empty)
                out.flush()
              }
            case GrpcOtlp.H2.HEADERS =>
              GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS,
                GrpcOtlp.H2.FlagEndHeaders, 1, GrpcOtlp.Hpack.encode(Seq(
                  ":status" -> "200", "content-type" -> "application/grpc")))
              out.flush()
            case GrpcOtlp.H2.DATA =>
              received += f.payload.length
              val outstanding = received - granted
              maxOutstanding = math.max(maxOutstanding, outstanding)
              if (outstanding > 65535L) violated = true
              msg.write(f.payload)
              // STINGY grants: nothing until the client exhausts the
              // whole window — forces a real stall/drain cycle per
              // 64 KiB instead of a grant per frame
              if (outstanding >= 65535L) {
                val g = outstanding
                val inc = Array[Byte](
                  ((g >> 24) & 0x7F).toByte, ((g >> 16) & 0xFF).toByte,
                  ((g >> 8) & 0xFF).toByte, (g & 0xFF).toByte)
                GrpcOtlp.H2.write(out, GrpcOtlp.H2.WINDOW_UPDATE, 0, 0, inc)
                GrpcOtlp.H2.write(out, GrpcOtlp.H2.WINDOW_UPDATE, 0, 1, inc)
                out.flush()
                granted += g
              }
              val b = msg.toByteArray
              if (b.length >= 5) {
                val mlen = ((b(1) & 0xFF) << 24) | ((b(2) & 0xFF) << 16) |
                  ((b(3) & 0xFF) << 8) | (b(4) & 0xFF)
                if (b.length >= 5 + mlen) { // complete message → answer it
                  respond(out, java.util.Arrays.copyOfRange(b, 5, 5 + mlen))
                  done = true
                }
              }
            case _ => ()
          }
        }
      } catch { case _: Throwable => () } finally sock.close()
    }, "stingy-server")
    srv.setDaemon(true); srv.start()
  }

  test("flow-control ENFORCEMENT: the exporter never overruns a stingy peer's 64 KiB windows and drains on grants") {
    @volatile var ackedBatch = -1L
    val stingy = new StingyServer((out, msg) => {
      val batch = decodeBatch(msg)
      ackedBatch = batch.batchId
      val enc = encodeStatus(BatchStatus(batch.batchId, 0, ""))
      val fr = new java.io.ByteArrayOutputStream()
      fr.write(0)
      fr.write(Array[Byte](
        ((enc.length >> 24) & 0xFF).toByte,
        ((enc.length >> 16) & 0xFF).toByte,
        ((enc.length >> 8) & 0xFF).toByte,
        (enc.length & 0xFF).toByte))
      fr.write(enc)
      GrpcOtlp.H2.writeData(out, 1, fr.toByteArray, endStream = false)
      out.flush()
    })
    import stingy._
    try {
      import spark.implicits._
      // ~200 KiB of incompressible-ish payload: forces ≥3 stall/grant
      // cycles through the 64 KiB windows
      val rnd = new scala.util.Random(7)
      val df = (0 until 400)
        .map(_ => rnd.alphanumeric.take(512).mkString).toDF("body")
      val exp = new ArrowGrpcStreamExporter("localhost",
        server.getLocalPort, "logs", numStreams = 1, codec = "none")
      exp.export(df)
      exp.shutdown()
      srv.join(10000)
      assert(!violated, s"window overrun: max outstanding $maxOutstanding")
      assert(maxOutstanding == 65535L, // hit the wall, never past it
        s"window never exercised to its edge: $maxOutstanding")
      assert(ackedBatch == 0L)
    } finally server.close()
  }

  test("flow-control ENFORCEMENT: the unary OtlpGrpcExporter never overruns a stingy peer's 64 KiB windows either") {
    val stingy = new StingyServer((out, _) => {
      GrpcOtlp.H2.writeData(out, 1, Array[Byte](0, 0, 0, 0, 0), endStream = false)
      GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS,
        GrpcOtlp.H2.FlagEndHeaders | GrpcOtlp.H2.FlagEndStream, 1,
        GrpcOtlp.Hpack.encode(Seq("grpc-status" -> "0")))
      out.flush()
    })
    import stingy._
    try {
      import spark.implicits._
      // one ~200 KiB Export request: ≥3 stall/grant cycles
      val rnd = new scala.util.Random(7)
      val recs = (0 until 400).map { i =>
        s"""{"timeUnixNano":"${1700000000000000000L + i}","body":{"stringValue":"${
          rnd.alphanumeric.take(512).mkString}"}}"""
      }.mkString(",")
      val logs = OtlpJsonSource.parseLogs(Seq(
        s"""{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":[{"scope":{"name":"graft"},"logRecords":[$recs]}]}]}"""
      ).toDF("json"))
      GrpcOtlp.OtlpGrpcExporter("localhost", server.getLocalPort, "logs").export(logs)
      srv.join(10000)
      assert(!violated, s"window overrun: max outstanding $maxOutstanding")
      assert(maxOutstanding == 65535L,
        s"window never exercised to its edge: $maxOutstanding")
    } finally server.close()
  }

  test("delta-dictionary fragments: batches continue ONE IPC stream, deltas beat re-sending, and re-ingest is lossless") {
    import spark.implicits._
    val spool = tmpDir("agrpc_delta")
    val rx = new ArrowGrpcReceiver(0, spool)
    try {
      // heavy shared vocabulary: after fragment 0 carries the full
      // dictionary, later fragments ship deltas (here: none) + indices
      def batch(tag: String) = (0 until 200)
        .map(i => s"service-instance-${i % 64}-of-the-production-fleet")
        .toDF("body")
      val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1, deltaDict = true, dictCap = 64,
        codec = "none")
      exp.export(batch("a"))
      exp.export(batch("b"))
      exp.export(batch("c"))
      exp.shutdown()
      val dir = new java.io.File(spool, "logs_arrowstream")
      val frags = dir.listFiles().filter(_.getName.endsWith(".arrowfrag"))
        .sortBy(_.getName)
      assert(frags.length == 3, frags.map(_.getName).toSeq)
      // continuation fragments carry NO schema/dictionary re-send
      assert(frags(1).length < frags(0).length / 2,
        s"fragment 1 is not a delta: ${frags.map(_.length).toSeq}")
      assert(frags(2).length < frags(0).length / 2)
      // no new vocabulary → identical continuation fragments
      assert(frags(1).length == frags(2).length)
      val schema = batch("x").schema
      val back = ArrowGrpc.readStreamedSpool(spark,
        dir.toString, schema)
      assert(back.count() == 600)
      assert(back.select("body").distinct().count() == 64)
    } finally rx.stop()
  }

  test("delta fragments: a REFUSED fragment's lost deltas cannot poison later batches — the encoder resets the segment") {
    import spark.implicits._
    val spool = tmpDir("agrpc_delta_rst")
    val rx = new ArrowGrpcReceiver(0, spool,
      controller = Some(new graft.pipeline.AdmissionController(8192L)))
    try {
      val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1, deltaDict = true, dictCap = 64,
        codec = "none")
      exp.export((0 until 3).map(i => s"ok-a-$i").toDF("body"))
      // oversized middle batch: refused with RESOURCE_EXHAUSTED; its
      // fragment (with any dictionary deltas) never lands
      intercept[graft.pipeline.Pipeline.ThrottledExportException] {
        exp.export(Seq("x" * 32768).toDF("body"))
      }
      exp.export((0 until 2).map(i => s"ok-b-$i").toDF("body"))
      exp.shutdown()
      val dir = new java.io.File(spool, "logs_arrowstream")
      assert(dir.listFiles().count(_.getName.endsWith(".arrowfrag")) == 2)
      val schema = Seq("s").toDF("body").schema
      val back = ArrowGrpc.readStreamedSpool(spark, dir.toString, schema)
        .select("body").collect().map(_.getString(0)).sorted.toSeq
      assert(back == Seq("ok-a-0", "ok-a-1", "ok-a-2", "ok-b-0", "ok-b-1"))
    } finally rx.stop()

    // refusal of the very FIRST fragment: the refused segment's
    // schema never landed, so NO bare EOS may lead the reassembly —
    // the next delivered fragment must open a clean segment
    val spool2 = tmpDir("agrpc_delta_first")
    val rx2 = new ArrowGrpcReceiver(0, spool2,
      controller = Some(new graft.pipeline.AdmissionController(8192L)))
    try {
      val exp2 = new ArrowGrpcStreamExporter("localhost", rx2.boundPort,
        "logs", numStreams = 1, deltaDict = true, dictCap = 64,
        codec = "none")
      intercept[graft.pipeline.Pipeline.ThrottledExportException] {
        exp2.export(Seq("y" * 32768).toDF("body"))
      }
      exp2.export((0 until 2).map(i => s"after-$i").toDF("body"))
      exp2.shutdown()
      val dir2 = new java.io.File(spool2, "logs_arrowstream")
      val schema2 = Seq("s").toDF("body").schema
      val back2 = ArrowGrpc.readStreamedSpool(spark, dir2.toString, schema2)
        .select("body").collect().map(_.getString(0)).sorted.toSeq
      assert(back2 == Seq("after-0", "after-1"))
    } finally rx2.stop()
  }

  test("keepalive: an idle stream is PING-probed; a dead path severs and the batch rides a fresh stream transparently") {
    import spark.implicits._
    val spool1 = tmpDir("agrpc_ka1")
    val rx1 = new ArrowGrpcReceiver(0, spool1)
    val port = rx1.boundPort
    val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 2)).toDF("json"))
    val exp = new ArrowGrpcStreamExporter("localhost", port, "logs",
      numStreams = 1, keepaliveMs = 1L)
    try {
      exp.export(logs) // establish the stream
      // live path: the probe is invisible — same stream keeps serving
      Thread.sleep(5)
      exp.export(logs)
      assert(rx1.obs.streams.get == 1, "keepalive probe killed a live stream")
      assert(rx1.obs.batches.get == 2)
    } finally rx1.stop() // severs the live stream too (conns close)
    // the SERVER died; a new one takes the same port — with keepalive
    // the stale slot fails the cheap PING and reopens, so the export
    // SUCCEEDS instead of burning a batch send into a dead socket
    val spool2 = tmpDir("agrpc_ka2")
    val deadline = System.currentTimeMillis() + 10000
    var rx2: ArrowGrpcReceiver = null
    while (rx2 == null && System.currentTimeMillis() < deadline) {
      try rx2 = new ArrowGrpcReceiver(port, spool2)
      catch { case _: java.net.BindException => Thread.sleep(50) }
    }
    assert(rx2 != null, "could not rebind test port")
    try {
      Thread.sleep(5)
      exp.export(logs) // no exception: probe → sever → fresh stream
      exp.shutdown()
      assert(rx2.obs.batches.get == 1)
      val back = ArrowIpc.readSpool(spark, rx2.spoolPath("logs"), logs.schema)
      assert(back.count() == 2)
    } finally rx2.stop()
  }

  test("stream pool under concurrent exporters: slots serialize per stream, every batch lands exactly once") {
    import spark.implicits._
    val spool = tmpDir("agrpc_conc")
    val rx = new ArrowGrpcReceiver(0, spool)
    try {
      val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 2, rowsPerBatch = 3)
      // 4 threads × 12 rows, 2 stream slots: the first-available
      // prioritizer serializes senders per stream; acks must never
      // cross batches (await throws on a mismatched batch_id)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { t =>
        new Thread(() => {
          try {
            val logs = OtlpJsonSource.parseLogs(
              Seq(mkLogRequest(s"svc$t", 12)).toDF("json"))
            exp.export(logs)
          } catch { case e: Throwable => errs.add(e) }
        }, s"conc-exp-$t")
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(errs.isEmpty, errs)
      exp.shutdown()
      assert(exp.arrowBatches.get == 16) // 4 threads × 4 batches of ≤3
      assert(rx.obs.batches.get == 16)
      assert(rx.obs.streams.get == 2) // exactly the pool's slots
      val schema = OtlpJsonSource.parseLogs(
        Seq(mkLogRequest("x", 1)).toDF("json")).schema
      val back = ArrowIpc.readSpool(spark, rx.spoolPath("logs"), schema)
      assert(back.count() == 48)
      // per-service rows intact (no cross-thread interleaving loss)
      assert(back
        .select(col("resource_attributes").getItem("service.name").as("svc"))
        .groupBy(col("svc")).count()
        .collect().map(_.getLong(1)).toSeq == Seq(12L, 12L, 12L, 12L))
    } finally rx.stop()
  }

  test("config-declared otlp_arrow with delta_stream re-ingests the fragment spool (no acked-durable blackhole)") {
    import spark.implicits._
    val spool = tmpDir("agrpc_cfg_delta")
    val sink = tmpDir("agrpc_cfg_delta_out") + "/o"
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"logs/arrow": {
         |  "receiver": {"type": "otlp_arrow", "port": 0, "spool": "$spool",
         |    "delta_stream": true},
         |  "exporters": [{"type": "parquet", "path": "$sink"}]}}}""".stripMargin)
    val rxRecv = svc.pipelines("logs/arrow").receiver
      .asInstanceOf[graft.pipeline.Pipeline.OtlpArrowServerReceiver]
    rxRecv.start(spark)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 5)).toDF("json"))
      val exp = new ArrowGrpcStreamExporter("localhost", rxRecv.boundPort,
        "logs", numStreams = 1, deltaDict = true, dictCap = 64,
        codec = "none")
      exp.export(logs)
      exp.shutdown()
      // the delta receiver's plan is a BATCH reassembly of the
      // fragment spool — run the pipeline once, rows reach the sink
      svc.pipelines("logs/arrow").run(spark)
      assert(spark.read.parquet(sink).count() == 5)
      // a MISMATCHED exporter (self-contained payloads at a
      // delta-mode receiver) is refused LOUDLY — never acked into a
      // spool this receiver does not read
      val plain = new ArrowGrpcStreamExporter("localhost",
        rxRecv.boundPort, "logs", numStreams = 1)
      intercept[graft.pipeline.Pipeline.PermanentExportException] {
        plain.export(logs)
      }
      assert(spark.read.parquet(sink).count() == 5)
    } finally rxRecv.stop()
  }

  test("config-declared otlp_arrow auth block gates the wire: bearer streams, anonymous refused") {
    import spark.implicits._
    val spool = tmpDir("agrpc_cfg_auth")
    val sink = tmpDir("agrpc_cfg_auth_out") + "/o"
    val ckpt = tmpDir("agrpc_cfg_auth_ckpt")
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"logs/arrow": {
         |  "receiver": {"type": "otlp_arrow", "port": 0, "spool": "$spool",
         |    "auth": {"bearer_tokens": ["tok-9"]}},
         |  "exporters": [{"type": "parquet", "path": "$sink"}]}}}""".stripMargin)
    val queries = svc.runStreaming(spark, ckpt)
    try {
      val port = svc.pipelines("logs/arrow").receiver
        .asInstanceOf[graft.pipeline.Pipeline.OtlpArrowServerReceiver].boundPort
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 3)).toDF("json"))
      val ok = new ArrowGrpcStreamExporter("localhost", port, "logs",
        numStreams = 1,
        auth = Some(graft.sources.Auth.BearerTokenClient("tok-9")))
      ok.export(logs)
      ok.shutdown()
      val anon = new ArrowGrpcStreamExporter("localhost", port, "logs",
        numStreams = 1)
      intercept[graft.pipeline.Pipeline.PermanentExportException] {
        anon.export(logs)
      }
      def rows(): Long =
        try spark.read.parquet(sink).count() catch { case _: Exception => 0L }
      val deadline = System.currentTimeMillis() + 30000
      while (rows() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(rows() == 3, s"sink rows: ${rows()}") // authed stream only
    } finally {
      queries.values.flatten.foreach(_.stop())
      svc.stopReceivers()
    }
  }

  test("UNIMPLEMENTED peer downgrades the pool to standard OTLP; rows still land (exporter.go:158-165)") {
    import spark.implicits._
    val spool = tmpDir("agrpc_down")
    // a plain unary OTLP/gRPC receiver: no ArrowStreamService
    val rx = new GrpcOtlp.OtlpGrpcReceiver(0, spool)
    try {
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 6)).toDF("json"))
      val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1,
        fallback = Some(GrpcOtlp.OtlpGrpcExporter(
          "localhost", rx.boundPort, "logs")))
      exp.export(logs)
      assert(exp.isDowngraded, "pool never downgraded")
      assert(exp.arrowBatches.get == 0)
      // the fallback delivered over standard OTLP pb (fresh read per
      // check — binaryFile snapshots its file listing at plan time)
      def pbRows(): Long = OtlpJsonSource.parseLogsPb(
        spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.pb")
          .load(rx.spoolPath("logs"))
          .select(col("content").as("pb"))).count()
      assert(pbRows() == 6)
      // a second export skips Arrow entirely (goes straight to pb)
      exp.export(logs)
      assert(pbRows() == 12)
    } finally rx.stop()
  }

  // ---- r10 ADVICE closures + compression parity --------------------

  test("HEADERS with PADDED and PRIORITY set TOGETHER parse per RFC 7540 §6.2 field order") {
    val spool = tmpDir("agrpc_flags")
    val rx = new ArrowGrpcReceiver(0, spool)
    try {
      val sock = new java.net.Socket("localhost", rx.boundPort)
      try {
        sock.setSoTimeout(5000)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        GrpcOtlp.H2.handshakeClient(out)
        val block = GrpcOtlp.Hpack.encode(Seq(
          ":method" -> "POST", ":scheme" -> "http",
          ":path" -> ArrowGrpc.StreamPath, ":authority" -> "localhost",
          "content-type" -> "application/grpc", "te" -> "trailers"))
        // payload = [padLen=3][5B priority][header block][3 pad bytes];
        // before the fix the priority-only branch left the pad-length
        // byte and padding INSIDE the HPACK block, corrupting the
        // connection's shared decoder and severing the connection
        val payload = new java.io.ByteArrayOutputStream()
        payload.write(3)
        payload.write(Array[Byte](0, 0, 0, 0, 16), 0, 5)
        payload.write(block)
        payload.write(Array[Byte](0, 0, 0), 0, 3)
        GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS,
          GrpcOtlp.H2.FlagEndHeaders | 0x20 | 0x8, 1, payload.toByteArray)
        val msg = encodeBatch(BatchArrowRecords(1L,
          Seq(ArrowPayload("s", PayloadType.Logs, Array.fill(8)(7.toByte))),
          Array.empty))
        val frame = new java.io.ByteArrayOutputStream()
        frame.write(0)
        frame.write(Array[Byte](
          ((msg.length >> 24) & 0xFF).toByte, ((msg.length >> 16) & 0xFF).toByte,
          ((msg.length >> 8) & 0xFF).toByte, (msg.length & 0xFF).toByte), 0, 4)
        frame.write(msg)
        GrpcOtlp.H2.writeData(out, 1, frame.toByteArray, endStream = false)
        out.flush()
        var ack: Array[Byte] = null
        while (ack == null) {
          val f = GrpcOtlp.H2.read(in)
          require(f != null, "connection severed — combined flags corrupted the header parse")
          if (f.tpe == GrpcOtlp.H2.DATA && f.streamId == 1 && f.payload.nonEmpty)
            ack = f.payload
          else if (f.tpe == GrpcOtlp.H2.SETTINGS &&
              (f.flags & GrpcOtlp.H2.FlagAck) == 0) {
            GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
              GrpcOtlp.H2.FlagAck, 0, Array.empty)
            out.flush()
          }
        }
        val st = decodeStatus(java.util.Arrays.copyOfRange(ack, 5, ack.length))
        assert(st.statusCode == 0, s"ack: $st")
        assert(rx.obs.batches.get == 1)
      } finally sock.close()
    } finally rx.stop()
  }

  test("unsupported grpc-encoding answers the STREAM with UNIMPLEMENTED trailers; sibling streams live on") {
    val spool = tmpDir("agrpc_codec")
    val rx = new ArrowGrpcReceiver(0, spool)
    try {
      val sock = new java.net.Socket("localhost", rx.boundPort)
      try {
        sock.setSoTimeout(5000)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        GrpcOtlp.H2.handshakeClient(out)
        def openStream(sid: Int, extra: Seq[(String, String)]): Unit =
          GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS, GrpcOtlp.H2.FlagEndHeaders,
            sid, GrpcOtlp.Hpack.encode(Seq(
              ":method" -> "POST", ":scheme" -> "http",
              ":path" -> ArrowGrpc.StreamPath, ":authority" -> "localhost",
              "content-type" -> "application/grpc", "te" -> "trailers") ++ extra))
        def grpcFrame(compressed: Boolean, msg: Array[Byte]): Array[Byte] = {
          val b = new java.io.ByteArrayOutputStream()
          b.write(if (compressed) 1 else 0)
          b.write(Array[Byte](
            ((msg.length >> 24) & 0xFF).toByte, ((msg.length >> 16) & 0xFF).toByte,
            ((msg.length >> 8) & 0xFF).toByte, (msg.length & 0xFF).toByte), 0, 4)
          b.write(msg)
          b.toByteArray
        }
        // stream 1 claims Brotli — a codec neither side ships
        openStream(1, Seq("grpc-encoding" -> "br"))
        GrpcOtlp.H2.writeData(out, 1,
          grpcFrame(compressed = true, Array.fill(16)(9.toByte)), endStream = false)
        out.flush()
        var status1 = ""
        var done1 = false
        val dec = new GrpcOtlp.Hpack.Decoder
        while (!done1) {
          val f = GrpcOtlp.H2.read(in)
          require(f != null, "connection reset — the unsupported codec must fail ONLY its stream")
          if ((f.tpe == GrpcOtlp.H2.HEADERS || f.tpe == GrpcOtlp.H2.CONTINUATION) &&
              f.streamId == 1) {
            dec.decode(f.payload).toMap.get("grpc-status").foreach(status1 = _)
            if ((f.flags & GrpcOtlp.H2.FlagEndStream) != 0) done1 = true
          } else if (f.tpe == GrpcOtlp.H2.SETTINGS &&
              (f.flags & GrpcOtlp.H2.FlagAck) == 0) {
            GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
              GrpcOtlp.H2.FlagAck, 0, Array.empty)
            out.flush()
          }
        }
        assert(status1 == "12", s"grpc-status '$status1' (want UNIMPLEMENTED)")
        // stream 3 on the SAME connection: a plain batch still lands
        openStream(3, Nil)
        val msg = encodeBatch(BatchArrowRecords(7L,
          Seq(ArrowPayload("s", PayloadType.Logs, Array.fill(8)(1.toByte))),
          Array.empty))
        GrpcOtlp.H2.writeData(out, 3, grpcFrame(compressed = false, msg),
          endStream = false)
        out.flush()
        var ack: Array[Byte] = null
        while (ack == null) {
          val f = GrpcOtlp.H2.read(in)
          require(f != null, "connection died before stream 3's ack")
          if (f.tpe == GrpcOtlp.H2.DATA && f.streamId == 3 && f.payload.nonEmpty)
            ack = f.payload
        }
        val st = decodeStatus(java.util.Arrays.copyOfRange(ack, 5, ack.length))
        assert(st.batchId == 7L && st.statusCode == 0)
        assert(rx.obs.batches.get == 1)
      } finally sock.close()
    } finally rx.stop()
  }

  /** A server that waits for one call's request HEADERS, answers with
    * a trailers-only response carrying `trailers`, and closes; `send`
    * writes the encoded header block as the frames under test. */
  private def trailersOnlyServer(trailers: Seq[(String, String)])(
      send: (java.io.OutputStream, Array[Byte]) => Unit): (java.net.ServerSocket, Thread) = {
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        GrpcOtlp.H2.handshakeServer(in, out)
        var opened = false
        while (!opened) {
          val f = GrpcOtlp.H2.read(in)
          require(f != null)
          if (f.tpe == GrpcOtlp.H2.SETTINGS &&
              (f.flags & GrpcOtlp.H2.FlagAck) == 0) {
            GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
              GrpcOtlp.H2.FlagAck, 0, Array.empty)
            out.flush()
          } else if (f.tpe == GrpcOtlp.H2.HEADERS &&
              (f.flags & GrpcOtlp.H2.FlagEndHeaders) != 0) opened = true
        }
        send(out, GrpcOtlp.Hpack.encode(Seq(":status" -> "200",
          "content-type" -> "application/grpc") ++ trailers))
        out.flush()
        Thread.sleep(1000) // let the client read before EOF
        sock.close()
      } catch { case _: Throwable => () }
    })
    t.start()
    (server, t)
  }

  private val unimplemented =
    Seq("grpc-status" -> "12", "grpc-message" -> "no arrow here")
  private val exhausted = Seq("grpc-status" -> "8", "grpc-message" -> "busy",
    "grpc-status-details-bin" -> GrpcOtlp.statusDetailsBin(8, "busy", 250L))

  // trailers-only response with the block CUT mid-bytes: HEADERS
  // (END_STREAM, no END_HEADERS) + CONTINUATION (END_HEADERS) —
  // per-frame HPACK decode cannot parse either half alone
  private def splitTrailers(out: java.io.OutputStream, block: Array[Byte]): Unit = {
    val cut = block.length / 2
    GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS, GrpcOtlp.H2.FlagEndStream,
      1, java.util.Arrays.copyOfRange(block, 0, cut))
    GrpcOtlp.H2.write(out, GrpcOtlp.H2.CONTINUATION,
      GrpcOtlp.H2.FlagEndHeaders, 1,
      java.util.Arrays.copyOfRange(block, cut, block.length))
  }

  // trailers-only response, PADDED (0x8) + PRIORITY (0x20) set
  // together: [padLen=4][5B priority][block][4 pad bytes]. A
  // conformant server MAY pad — an unstripped client would feed
  // pad/priority bytes into its HPACK decoder and corrupt
  private def paddedTrailers(out: java.io.OutputStream, block: Array[Byte]): Unit = {
    val payload = new java.io.ByteArrayOutputStream()
    payload.write(4)
    payload.write(Array[Byte](0, 0, 0, 0, 16), 0, 5)
    payload.write(block)
    payload.write(Array[Byte](0, 0, 0, 0), 0, 4)
    GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS,
      GrpcOtlp.H2.FlagEndStream | GrpcOtlp.H2.FlagEndHeaders | 0x8 | 0x20,
      1, payload.toByteArray)
  }

  /** the unary exporter against a server answering RESOURCE_EXHAUSTED
    * through `send`: the whole block must decode, RetryInfo included */
  private def unaryThrottledThrough(
      send: (java.io.OutputStream, Array[Byte]) => Unit): Unit = {
    val (server, t) = trailersOnlyServer(exhausted)(send)
    try {
      import spark.implicits._
      val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 2)).toDF("json"))
      val e = intercept[graft.pipeline.Pipeline.ThrottledExportException] {
        GrpcOtlp.OtlpGrpcExporter("localhost", server.getLocalPort, "logs")
          .export(logs)
      }
      assert(e.getMessage.contains("grpc-status 8"), e.getMessage)
      assert(e.retryAfterMs == 250L, s"RetryInfo lost: ${e.retryAfterMs}")
    } finally { t.join(3000); server.close() }
  }

  test("a trailer block split across CONTINUATION frames decodes — the downgrade probe survives a fragmenting server") {
    val (server, t) = trailersOnlyServer(unimplemented)(splitTrailers)
    try {
      import spark.implicits._
      val df = Seq("a", "b").toDF("body")
      val exp = new ArrowGrpcStreamExporter("localhost", server.getLocalPort,
        "logs", numStreams = 1)
      val e = intercept[graft.pipeline.Pipeline.PermanentExportException] {
        exp.export(df)
      }
      assert(e.getMessage.contains("arrow not supported"), e.getMessage)
      assert(exp.isDowngraded,
        "split trailers did not decode to UNIMPLEMENTED — pool never downgraded")
      exp.shutdown()
    } finally { t.join(3000); server.close() }
  }

  test("a trailer block split across CONTINUATION frames decodes on the unary exporter: RESOURCE_EXHAUSTED stays retryable") {
    unaryThrottledThrough(splitTrailers)
  }

  test("server-padded response trailers (PADDED+PRIORITY) decode on the CLIENT — exporter HPACK state survives a padding server") {
    val (server, t) = trailersOnlyServer(unimplemented)(paddedTrailers)
    try {
      import spark.implicits._
      val df = Seq("a", "b").toDF("body")
      val exp = new ArrowGrpcStreamExporter("localhost", server.getLocalPort,
        "logs", numStreams = 1)
      val e = intercept[graft.pipeline.Pipeline.PermanentExportException] {
        exp.export(df)
      }
      assert(e.getMessage.contains("arrow not supported"), e.getMessage)
      assert(exp.isDowngraded,
        "padded trailers did not decode to UNIMPLEMENTED — client HPACK corrupted")
      exp.shutdown()
    } finally { t.join(3000); server.close() }
  }

  test("server-padded response trailers (PADDED+PRIORITY) decode on the unary exporter: RESOURCE_EXHAUSTED stays retryable") {
    unaryThrottledThrough(paddedTrailers)
  }

  test("shutdown waits for an in-flight send and closes its stream with a graceful EOS (no leaked socket)") {
    val server = new java.net.ServerSocket(0, 2,
      java.net.InetAddress.getLoopbackAddress)
    @volatile var gotData = false
    @volatile var sawEos = false
    @volatile var sawEof = false
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        GrpcOtlp.H2.handshakeServer(in, out)
        val buf = new java.io.ByteArrayOutputStream()
        var responded = false
        var open = true
        while (open) {
          val f = GrpcOtlp.H2.read(in)
          if (f == null) { sawEof = true; open = false }
          else if (f.tpe == GrpcOtlp.H2.SETTINGS &&
              (f.flags & GrpcOtlp.H2.FlagAck) == 0) {
            GrpcOtlp.H2.write(out, GrpcOtlp.H2.SETTINGS,
              GrpcOtlp.H2.FlagAck, 0, Array.empty)
            out.flush()
          } else if (f.tpe == GrpcOtlp.H2.HEADERS && !responded &&
              (f.flags & GrpcOtlp.H2.FlagEndHeaders) != 0) {
            GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS,
              GrpcOtlp.H2.FlagEndHeaders, 1, GrpcOtlp.Hpack.encode(
                Seq(":status" -> "200", "content-type" -> "application/grpc")))
            out.flush()
            responded = true
          } else if (f.tpe == GrpcOtlp.H2.DATA) {
            if ((f.flags & GrpcOtlp.H2.FlagEndStream) != 0) {
              // the graceful EOS from shutdown's closeGraceful
              sawEos = true
              GrpcOtlp.H2.write(out, GrpcOtlp.H2.HEADERS,
                GrpcOtlp.H2.FlagEndHeaders | GrpcOtlp.H2.FlagEndStream, 1,
                GrpcOtlp.Hpack.encode(Seq("grpc-status" -> "0")))
              out.flush()
            } else {
              gotData = true
              buf.write(f.payload)
              val b = buf.toByteArray
              if (b.length >= 5) {
                val mlen = ((b(1) & 0xFF) << 24) | ((b(2) & 0xFF) << 16) |
                  ((b(3) & 0xFF) << 8) | (b(4) & 0xFF)
                if (b.length >= 5 + mlen) {
                  Thread.sleep(400) // ack SLOWLY: shutdown races the in-flight batch
                  val batch = decodeBatch(java.util.Arrays.copyOfRange(b, 5, 5 + mlen))
                  val enc = encodeStatus(BatchStatus(batch.batchId, 0, ""))
                  val fr = new java.io.ByteArrayOutputStream()
                  fr.write(0)
                  fr.write(Array[Byte](
                    ((enc.length >> 24) & 0xFF).toByte, ((enc.length >> 16) & 0xFF).toByte,
                    ((enc.length >> 8) & 0xFF).toByte, (enc.length & 0xFF).toByte), 0, 4)
                  fr.write(enc)
                  GrpcOtlp.H2.writeData(out, 1, fr.toByteArray, endStream = false)
                  out.flush()
                  buf.reset()
                }
              }
            }
          }
        }
      } catch { case _: Throwable => () }
    })
    t.start()
    try {
      import spark.implicits._
      val df = Seq("x").toDF("body")
      val exp = new ArrowGrpcStreamExporter("localhost", server.getLocalPort,
        "logs", numStreams = 1)
      @volatile var exported = false
      val sender = new Thread(() => { exp.export(df); exported = true })
      sender.start()
      // wait until the batch is IN FLIGHT (server holds its ack 400 ms)
      val deadline = System.currentTimeMillis() + 5000
      while (!gotData && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(gotData, "batch never reached the server")
      exp.shutdown() // must block for the in-flight slot, then close its conn
      sender.join(5000)
      assert(exported, "in-flight export failed")
      // shutdown's graceful close reached the server before returning;
      // before the fix the in-flight conn was returned to the queue
      // un-closed and its socket leaked past shutdown
      assert(sawEos, "no graceful EOS observed — the in-flight stream leaked")
      val eofDeadline = System.currentTimeMillis() + 3000
      while (!sawEof && System.currentTimeMillis() < eofDeadline) Thread.sleep(10)
      assert(sawEof, "socket still open after shutdown")
      // a send AFTER shutdown refuses retryably instead of re-winning
      // freed slots against the reacquisition loop
      intercept[graft.pipeline.Pipeline.ThrottledExportException] {
        exp.export(df)
      }
    } finally { t.join(3000); server.close() }
  }

  test("per-batch metadata faces the authenticator: bad credentials refuse the batch, absent inherit the stream") {
    import spark.implicits._
    val spool = tmpDir("agrpc_bauth")
    var seen = Map.empty[String, Seq[String]]
    val rx = new ArrowGrpcReceiver(0, spool,
      auth = Some(graft.sources.Auth.BearerTokenServer(Set("tok-1"))),
      onBatchHeaders = h => seen = h)
    try {
      val df = Seq("a", "b").toDF("body")
      // no authorization in per-batch headers: the stream's credential
      // carries — batch admitted, headers surface to the consumer
      val good = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1,
        auth = Some(graft.sources.Auth.BearerTokenClient("tok-1")),
        batchHeaders = Map("tenant" -> "t1"))
      good.export(df)
      good.shutdown()
      assert(rx.obs.batches.get == 1)
      assert(seen.get("tenant").contains(Seq("t1")))
      // bad per-batch authorization OVERLAYS the stream's good one:
      // the batch is refused UNAUTHENTICATED (permanent) even though
      // the stream authenticated at open — per-batch identity is
      // never trusted unauthenticated (arrow.go headerReceiver + auth)
      seen = Map.empty
      val bad = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
        "logs", numStreams = 1,
        auth = Some(graft.sources.Auth.BearerTokenClient("tok-1")),
        batchHeaders = Map("authorization" -> "Bearer wrong", "tenant" -> "t2"))
      intercept[graft.pipeline.Pipeline.PermanentExportException] {
        bad.export(df)
      }
      bad.shutdown()
      assert(rx.obs.refused.get >= 1)
      assert(rx.obs.batches.get == 1, "refused batch landed anyway")
      assert(seen.isEmpty, "unauthenticated per-batch headers reached the consumer")
    } finally rx.stop()
  }

  test("zstd and snappy grpc-encoding on the stream: rows land identical (configgrpc codec set)") {
    import spark.implicits._
    for (codec <- Seq("zstd", "snappy")) {
      val spool = tmpDir(s"agrpc_$codec")
      val rx = new ArrowGrpcReceiver(0, spool)
      try {
        val logs = OtlpJsonSource.parseLogs(
          Seq(mkLogRequest("api", 8)).toDF("json"))
        val exp = new ArrowGrpcStreamExporter("localhost", rx.boundPort,
          "logs", numStreams = 1, compression = codec, rowsPerBatch = 5)
        exp.export(logs)
        exp.shutdown()
        val back = ArrowIpc.readSpool(spark, rx.spoolPath("logs"), logs.schema)
        assert(back.count() == 8, codec)
      } finally rx.stop()
    }
    // an unknown codec is refused loudly at build time, not on the wire
    intercept[IllegalArgumentException] {
      new ArrowGrpcStreamExporter("localhost", 1, "logs", compression = "br")
    }
    // none/identity both mean OFF (configgrpc accepts either spelling)
    for (off <- Seq("none", "identity")) {
      new ArrowGrpcStreamExporter("localhost", 1, "logs", compression = off)
      GrpcOtlp.OtlpGrpcExporter("localhost", 1, "logs", compression = off)
    }
  }

  test("concurrent shutdown() calls both return (no slot-split deadlock)") {
    // two racing shutdowns used to each take a SUBSET of the slots
    // and block forever on the remainder the other held; serialized,
    // the loser re-drains an empty pool and returns
    val e = new ArrowGrpcStreamExporter("localhost", 1, "logs", numStreams = 3)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map(_ => pool.submit(new Runnable {
        def run(): Unit = e.shutdown()
      }))
      // generous bound: an un-serialized race deadlocks forever, a
      // serialized pair finishes in microseconds
      fs.foreach(_.get(10, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }
}
