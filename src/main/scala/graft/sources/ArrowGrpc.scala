package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** OTLP-over-Arrow gRPC STREAMS — the otel-arrow fork's defining
  * transport, composed from graft's two existing halves: ArrowIpc's
  * dict+zstd payloads ride as length-prefixed gRPC messages on ONE
  * long-lived h2c stream per connection, batch_id in, per-batch
  * BatchStatus ack out.
  *
  * Reference behavior (not code):
  *  - receiver/otlpreceiver/internal/arrow/arrow.go:273-361
  *    (`anyStream`): Recv BatchArrowRecords → optional per-batch
  *    HPACK headers → auth → consume → Send BatchStatus{batch_id,
  *    OK | INVALID_ARGUMENT (permanent) | UNAVAILABLE/
  *    RESOURCE_EXHAUSTED (retryable)}. A DATA error acks only the
  *    offending batch — the stream lives; only transport or
  *    header-parse failures break it.
  *  - exporter/otlpexporter/internal/arrow/stream.go: one writer
  *    registers each batch_id before Send, one reader resolves the
  *    matching waiter per BatchStatus; max_stream_lifetime →
  *    graceful CloseSend + reopen (stream.go:279-283); Unimplemented
  *    from the server → client=nil → downgrade to standard OTLP
  *    (stream.go:175-194, exporter.go:158-165).
  *  - wire messages per the PUBLIC otel-arrow proto
  *    (api/experimental/arrow/v1/arrow_service.proto):
  *    BatchArrowRecords{batch_id=1, arrow_payloads=2, headers=3},
  *    ArrowPayload{schema_id=1, type=2, record=3},
  *    BatchStatus{batch_id=1, status_code=2, status_message=3};
  *    StatusCode mirrors the gRPC code space.
  *
  * Payload modes: by default each BatchArrowRecords carries ONE
  * self-contained IPC payload (schema + dictionaries + batches +
  * EOS — exactly what [[ArrowIpc.encodeRows]] emits, dict+zstd
  * included) so every batch decodes independently of its stream.
  * With `deltaDict` the exporter holds one [[ArrowIpc.DeltaStreamEncoder]]
  * per stream — the reference's stateful per-stream producer — and
  * batches ride as CONTINUATION fragments of one IPC byte sequence
  * (dictionary deltas only after the first); the receiver lands
  * fragments keyed (stream, seq) and [[readStreamedSpool]]
  * reassembles per stream before decode. A refused fragment's deltas
  * never landed, so the encoder ends the segment and restarts with
  * full dictionaries — a lost batch can never poison a later one.
  *
  * Delivery is AT-LEAST-ONCE like every OTLP transport here: a
  * refused/severed batch surfaces retryable, and the queued-retry
  * exporter redelivers the whole frame — already-acked chunks of a
  * partially delivered frame appear again in the spool (the unary
  * exporters share this property; OTLP receivers own dedup). The
  * reference's per-batch waiter map retries at batch granularity
  * instead; frame granularity is the batch-engine analog. */
object ArrowGrpc {
  import GrpcOtlp.{H2, Hpack, Status}

  // ---- arrowpb codec (hand-rolled like OtlpProtobuf) ---------------

  /** ArrowPayloadType values for the three OTLP signals (the proto
    * spaces signal families a decade apart; related-data types in
    * between are not used by this self-contained-payload transport) */
  object PayloadType {
    val Unknown = 0
    val Metrics = 10
    val Logs = 30
    val Spans = 40
    def of(signal: String): Int = signal match {
      case "metrics" => Metrics
      case "logs" => Logs
      case "traces" => Spans
      case other => throw new IllegalArgumentException(s"unknown signal $other")
    }
    def signalOf(t: Int): Option[String] = t match {
      case Metrics => Some("metrics")
      case Logs => Some("logs")
      case Spans => Some("traces")
      case _ => None
    }
  }

  final case class ArrowPayload(schemaId: String, tpe: Int, record: Array[Byte])
  final case class BatchArrowRecords(batchId: Long, payloads: Seq[ArrowPayload],
                                     headers: Array[Byte])
  final case class BatchStatus(batchId: Long, statusCode: Int,
                               statusMessage: String)

  private def varint(v0: Long): Array[Byte] = {
    var v = v0
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    while ((v & ~0x7FL) != 0L) { out += ((v & 0x7F) | 0x80).toByte; v >>>= 7 }
    out += (v & 0x7F).toByte
    out.toArray
  }
  private def lenDelim(field: Int, body: Array[Byte]): Array[Byte] =
    varint((field << 3) | 2L) ++ varint(body.length.toLong) ++ body
  private def varintField(field: Int, v: Long): Array[Byte] =
    if (v == 0L) Array.empty else varint((field << 3).toLong) ++ varint(v)

  def encodeBatch(b: BatchArrowRecords): Array[Byte] = {
    val payloads = b.payloads.flatMap { p =>
      lenDelim(2, varintField(2, p.tpe.toLong) ++
        lenDelim(1, p.schemaId.getBytes("UTF-8")) ++
        lenDelim(3, p.record)).toSeq
    }.toArray
    varintField(1, b.batchId) ++ payloads ++
      (if (b.headers.nonEmpty) lenDelim(3, b.headers) else Array.empty[Byte])
  }

  def encodeStatus(s: BatchStatus): Array[Byte] =
    varintField(1, s.batchId) ++ varintField(2, s.statusCode.toLong) ++
      (if (s.statusMessage.nonEmpty)
        lenDelim(3, s.statusMessage.getBytes("UTF-8"))
      else Array.empty[Byte])

  private final class PbReader(body: Array[Byte], var p: Int, val end: Int) {
    def hasMore: Boolean = p < end
    def readVarint(): Long = {
      var shift = 0; var v = 0L; var b = 0
      do { b = body(p) & 0xFF; p += 1; v |= (b & 0x7FL) << shift; shift += 7 }
      while ((b & 0x80) != 0)
      v
    }
    /** a length must be a sane forward distance — a negative or
      * overflowing varint would walk p BACKWARDS and loop forever */
    def readLen(): Int = {
      val len = readVarint()
      require(len >= 0 && len <= end - p, s"bad length $len at $p")
      len.toInt
    }
    def readBytes(): Array[Byte] = {
      val len = readLen()
      val out = java.util.Arrays.copyOfRange(body, p, p + len)
      p += len
      out
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => readVarint(); ()
      case 1 => p += 8
      case 2 => p += readLen()
      case 5 => p += 4
      case _ => throw new IllegalArgumentException(s"bad wire type $wire")
    }
  }

  def decodeBatch(body: Array[Byte]): BatchArrowRecords = {
    val r = new PbReader(body, 0, body.length)
    var batchId = 0L
    val payloads = scala.collection.mutable.ArrayBuffer[ArrowPayload]()
    var headers = Array.empty[Byte]
    while (r.hasMore) {
      val tag = r.readVarint()
      val field = (tag >> 3).toInt; val wire = (tag & 7).toInt
      (field, wire) match {
        case (1, 0) => batchId = r.readVarint()
        case (2, 2) =>
          // read the length varint FIRST — it advances r.p, so the
          // end offset must be computed after (the p-advance clobber
          // class the r9 pb fix covered)
          val len = r.readLen()
          val end2 = r.p + len
          var schemaId = ""; var tpe = 0; var record = Array.empty[Byte]
          while (r.p < end2) {
            val t2 = r.readVarint()
            ((t2 >> 3).toInt, (t2 & 7).toInt) match {
              case (1, 2) => schemaId = new String(r.readBytes(), "UTF-8")
              case (2, 0) => tpe = r.readVarint().toInt
              case (3, 2) => record = r.readBytes()
              case (_, w) => r.skip(w)
            }
          }
          payloads += ArrowPayload(schemaId, tpe, record)
        case (3, 2) => headers = r.readBytes()
        case (_, w) => r.skip(w)
      }
    }
    BatchArrowRecords(batchId, payloads.toSeq, headers)
  }

  def decodeStatus(body: Array[Byte]): BatchStatus = {
    val r = new PbReader(body, 0, body.length)
    var batchId = 0L; var code = 0; var msg = ""
    while (r.hasMore) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, 0) => batchId = r.readVarint()
        case (2, 0) => code = r.readVarint().toInt
        case (3, 2) => msg = new String(r.readBytes(), "UTF-8")
        case (_, w) => r.skip(w)
      }
    }
    BatchStatus(batchId, code, msg)
  }

  // ---- service paths ----------------------------------------------

  /** the mixed-signal stream plus the per-signal services the
    * reference registers (arrow.go:251-266) */
  val StreamPath = "/opentelemetry.proto.experimental.arrow.v1.ArrowStreamService/ArrowStream"
  val PathsBySignal: Map[String, String] = Map(
    "logs" -> "/opentelemetry.proto.experimental.arrow.v1.ArrowLogsService/ArrowLogs",
    "traces" -> "/opentelemetry.proto.experimental.arrow.v1.ArrowTracesService/ArrowTraces",
    "metrics" -> "/opentelemetry.proto.experimental.arrow.v1.ArrowMetricsService/ArrowMetrics")
  private val arrowPaths: Set[String] = PathsBySignal.values.toSet + StreamPath

  /** schema_id convention for delta fragments: `stream:<uuid>:<seq>`
    * (the reference keys consumer state by schema id the same way) */
  private[sources] object FragmentId {
    private val Pat = "stream:([0-9a-f-]{36}):(\\d{1,12})".r
    def unapply(schemaId: String): Option[(String, String)] = schemaId match {
      case Pat(uuid, seq) => Some((uuid, seq))
      case _ => None
    }
  }

  /** Re-ingest a `<signal>_arrowstream` fragment spool: fragments
    * group per stream uuid, concatenate in seq order into the
    * stream's original IPC byte sequence, and decode with the
    * multi-segment reader — dictionary DELTAS apply natively and an
    * encoder reset (refused fragment) appears as a new segment
    * boundary. One task holds one stream's bytes: bounded by
    * max_stream_lifetime rollover, which caps how much one stream
    * can ever accumulate. */
  def readStreamedSpool(spark: SparkSession, dir: String,
                        schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Encoders
    val pat = "frag-([0-9a-f-]+)-(\\d+)\\.arrowfrag"
    val frags = spark.read.format("binaryFile").load(dir)
      .select(regexp_extract(col("path"), pat, 1).as("stream"),
        regexp_extract(col("path"), pat, 2).cast("long").as("seq"),
        col("content"))
      .filter(col("stream") =!= "")
    // linear JVM-side join of the sorted fragments (a column-level
    // aggregate/concat fold would copy the accumulated prefix once
    // per fragment — quadratic in stream size)
    val perStream = frags.groupBy(col("stream"))
      .agg(array_sort(collect_list(struct(col("seq"), col("content"))))
        .as("frags"))
      .select(col("frags").getField("content").as("parts"))
    import spark.implicits._
    perStream.select(col("parts"))
      .as[Seq[Array[Byte]]]
      .flatMap { parts =>
        val buf = new java.io.ByteArrayOutputStream()
        parts.foreach(buf.write)
        ArrowIpc.decodeRowsMulti(schema, buf.toByteArray)
      }(Encoders.row(schema))
  }

  // ---- receiver ----------------------------------------------------

  final class ArrowGrpcObs {
    val batches = new java.util.concurrent.atomic.AtomicLong
    val refused = new java.util.concurrent.atomic.AtomicLong
    val badBatches = new java.util.concurrent.atomic.AtomicLong
    val streams = new java.util.concurrent.atomic.AtomicLong
    /** netstats (otel-arrow internal/netstats): logical = admitted
      * IPC payload bytes, wire = the gRPC message as transmitted
      * (BatchArrowRecords envelope, post-compression) */
    val recvBytes = new java.util.concurrent.atomic.AtomicLong
    val recvWireBytes = new java.util.concurrent.atomic.AtomicLong
    def counters: Map[String, Long] = Map(
      "accepted_requests" -> batches.get, "refused_requests" -> refused.get,
      "bad_requests" -> badBatches.get, "streams" -> streams.get,
      "recv_bytes" -> recvBytes.get, "recv_wire_bytes" -> recvWireBytes.get)
  }

  /** ArrowStreamService receiver on the hand-rolled h2c transport:
    * each connection carries long-lived bidirectional streams; every
    * complete BatchArrowRecords is admitted, landed DURABLY in
    * `<signal>_arrow/` (tmp+rename — the gateway discipline; ack
    * strictly after durability), and acked with its own BatchStatus.
    * An admission refusal acks ONLY the refused batch with
    * RESOURCE_EXHAUSTED and the stream stays open; a client
    * half-close (END_STREAM) gets OK trailers — the exporter's
    * max_stream_lifetime rollover path. The spool is the same layout
    * [[ArrowIpc.readSpool]]/[[ArrowIpc.streamSpool]] tail. */
  final class ArrowGrpcReceiver(port: Int, spoolDir: String,
      controller: Option[graft.pipeline.AdmissionController] = None,
      admissionWaitMs: Long = 1000L,
      tls: Option[TlsConfig] = None,
      auth: Option[Auth.ServerAuthenticator] = None,
      onBatchHeaders: Map[String, Seq[String]] => Unit = _ => (),
      maxRecvMsgBytes: Long = Spool.MaxRequestBytes,
      // Some(true): serve ONLY delta fragments; Some(false): ONLY
      // self-contained payloads; None: both. The config receiver
      // pins this to its read mode so a mismatched exporter gets a
      // LOUD permanent refusal instead of acked-durable data landing
      // in a spool nothing reads
      expectDelta: Option[Boolean] = None) {
    val obs = new ArrowGrpcObs
    private val counter = new java.util.concurrent.atomic.AtomicLong
    private val server: java.net.ServerSocket = tls match {
      case None => new java.net.ServerSocket(
        port, 50, java.net.InetAddress.getLoopbackAddress)
      case Some(cfg) =>
        val ss = cfg.sslContext().getServerSocketFactory
          .createServerSocket(port, 50,
            java.net.InetAddress.getLoopbackAddress)
          .asInstanceOf[javax.net.ssl.SSLServerSocket]
        ss.setSSLParameters(cfg.serverParameters(ss.getSSLParameters))
        ss
    }
    @volatile private var running = true

    private final class StreamState {
      var headers: Map[String, String] = Map.empty
      var headerBlock = new java.io.ByteArrayOutputStream()
      var headersDone = false
      var responded = false // response HEADERS sent → errors go via trailers
      // trailers sent (stream-breaking error): anything the client
      // still has in flight is dropped, never processed or acked
      var dead = false
      val buf = new java.io.ByteArrayOutputStream() // unparsed gRPC bytes
      // per-batch metadata headers get their OWN hpack decoder, like
      // the reference headerReceiver (arrow.go:120-139)
      val batchHeaderDecoder = new Hpack.Decoder
    }

    private def handle(sock: java.net.Socket): Unit = {
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      val decoder = new Hpack.Decoder
      val streams = scala.collection.mutable.HashMap[Int, StreamState]()
      try {
        H2.handshakeServer(in, out)
        var open = true
        while (open) {
          val f = H2.read(in)
          if (f == null) open = false
          else f.tpe match {
            case H2.SETTINGS =>
              if ((f.flags & H2.FlagAck) == 0)
                H2.write(out, H2.SETTINGS, H2.FlagAck, 0, Array.empty)
              out.flush()
            case H2.PING =>
              if ((f.flags & H2.FlagAck) == 0) {
                H2.write(out, H2.PING, H2.FlagAck, 0, f.payload); out.flush()
              }
            case H2.WINDOW_UPDATE => ()
            case H2.GOAWAY => open = false
            case H2.RST_STREAM => streams.remove(f.streamId)
            case H2.HEADERS | H2.CONTINUATION =>
              val st = streams.getOrElseUpdate(f.streamId, new StreamState)
              st.headerBlock.write(H2.headerFields(f.tpe, f.flags, f.payload))
              if ((f.flags & H2.FlagEndHeaders) != 0) {
                st.headers = st.headers ++
                  decoder.decode(st.headerBlock.toByteArray).toMap
                st.headerBlock = new java.io.ByteArrayOutputStream()
                st.headersDone = true
                openStream(out, f.streamId, st, streams)
              }
              if ((f.flags & H2.FlagEndStream) != 0 && streams.contains(f.streamId))
                finishStream(out, f.streamId, streams)
            case H2.DATA =>
              // flow-control replenishment (RFC 9113 §5.2) FIRST —
              // the frame is consumed into the stream buffer the
              // moment it arrives, so the grant precedes the ack.
              // Unary exchanges never exhaust the big initial window,
              // but this receiver's streams are LONG-LIVED — a
              // conformant peer that respects flow control would
              // stall for good once cumulative DATA passes the
              // initial window if nothing ever re-opens it.
              if (f.payload.nonEmpty) {
                val inc = Array[Byte](
                  ((f.payload.length >> 24) & 0x7F).toByte,
                  ((f.payload.length >> 16) & 0xFF).toByte,
                  ((f.payload.length >> 8) & 0xFF).toByte,
                  (f.payload.length & 0xFF).toByte)
                H2.write(out, H2.WINDOW_UPDATE, 0, 0, inc)
                if (streams.contains(f.streamId))
                  H2.write(out, H2.WINDOW_UPDATE, 0, f.streamId, inc)
                out.flush()
              }
              streams.get(f.streamId).foreach { st =>
                if (!st.dead) {
                  st.buf.write(f.payload)
                  if (st.responded) drainMessages(out, f.streamId, st)
                }
                if ((f.flags & H2.FlagEndStream) != 0)
                  finishStream(out, f.streamId, streams)
              }
            case _ => ()
          }
        }
      } catch {
        case _: java.io.IOException if !running => ()
        case scala.util.control.NonFatal(_) => ()
      } finally sock.close()
    }

    private def trailersOnly(out: java.io.OutputStream, streamId: Int,
                             status: Int, msg: String): Unit = {
      H2.write(out, H2.HEADERS, H2.FlagEndHeaders | H2.FlagEndStream,
        streamId, Hpack.encode(Seq(":status" -> "200",
          "content-type" -> "application/grpc",
          "grpc-status" -> status.toString, "grpc-message" -> msg)))
      out.flush()
    }
    private def trailers(out: java.io.OutputStream, streamId: Int,
                         status: Int, msg: String): Unit = {
      val hs = Seq("grpc-status" -> status.toString) ++
        (if (msg.nonEmpty) Seq("grpc-message" -> msg) else Nil)
      H2.write(out, H2.HEADERS, H2.FlagEndHeaders | H2.FlagEndStream,
        streamId, Hpack.encode(hs))
      out.flush()
    }

    /** validate the request headers and send response HEADERS — the
      * stream is then live for any number of batches */
    private def openStream(out: java.io.OutputStream, streamId: Int,
        st: StreamState,
        streams: scala.collection.mutable.HashMap[Int, StreamState]): Unit = {
      if (st.responded) return
      val path = st.headers.getOrElse(":path", "")
      if (st.headers.getOrElse(":method", "") != "POST" ||
          !arrowPaths.contains(path)) {
        // the downgrade trigger: a plain-OTLP peer answers the
        // Arrow service with Unimplemented (stream.go:175-182)
        streams.remove(streamId)
        trailersOnly(out, streamId, Status.Unimplemented,
          s"unknown method $path")
        return
      }
      if (!st.headers.getOrElse("content-type", "").startsWith("application/grpc")) {
        streams.remove(streamId)
        trailersOnly(out, streamId, Status.Internal,
          "content-type must be application/grpc")
        return
      }
      val denied: Option[String] = auth.flatMap(
        _.authenticate(st.headers.map { case (k, v) => k -> Seq(v) })
          .left.toOption)
      if (denied.isDefined) {
        streams.remove(streamId)
        trailersOnly(out, streamId, Status.Unauthenticated, denied.get)
        return
      }
      obs.streams.incrementAndGet()
      H2.write(out, H2.HEADERS, H2.FlagEndHeaders, streamId, Hpack.encode(
        Seq(":status" -> "200", "content-type" -> "application/grpc")))
      out.flush()
      st.responded = true
      drainMessages(out, streamId, st)
    }

    /** consume every COMPLETE gRPC message buffered so far; each one
      * is a BatchArrowRecords → durable spool → BatchStatus ack */
    private def drainMessages(out: java.io.OutputStream, streamId: Int,
                              st: StreamState): Unit = {
      var bytes = st.buf.toByteArray
      var consumed = 0
      var go = true
      while (go && bytes.length - consumed >= 5) {
        val base = consumed
        val compressed = bytes(base) != 0
        // UNSIGNED 32-bit length: a high-bit prefix must hit the size
        // gate as the huge number it claims to be, not wrap negative
        // and sneak past both checks into an array-bounds crash
        val mlen = ((bytes(base + 1) & 0xFFL) << 24) | ((bytes(base + 2) & 0xFFL) << 16) |
          ((bytes(base + 3) & 0xFFL) << 8) | (bytes(base + 4) & 0xFFL)
        if (mlen > maxRecvMsgBytes) {
          // without a decodable batch_id there is nothing to ack —
          // this is the transport-level failure that DOES break the
          // stream (gRPC's own max_recv_msg_size behavior)
          trailers(out, streamId, Status.ResourceExhausted,
            s"received message larger than max ($mlen vs $maxRecvMsgBytes)")
          st.dead = true
          st.buf.reset()
          return
        }
        if (bytes.length - base - 5 < mlen) go = false
        else {
          val framed = java.util.Arrays.copyOfRange(
            bytes, base + 5, base + 5 + mlen.toInt)
          consumed = base + 5 + mlen.toInt
          // gzip|snappy|zstd, the reference's negotiated codec set
          // (configgrpc.go:385-391). A failure here is a per-STREAM
          // error answered with trailers, NEVER a thrown exception —
          // that would unwind into the connection catch-all and
          // silently reset every sibling stream on this connection
          val enc = st.headers.getOrElse("grpc-encoding", "identity")
          val body =
            if (!compressed) framed
            else if (!GrpcOtlp.GrpcCodecs(enc)) {
              trailers(out, streamId, Status.Unimplemented,
                s"grpc: Decompressor is not installed for grpc-encoding \"$enc\"")
              st.dead = true; st.buf.reset(); return
            } else try OtlpHttp.Codec.decode(enc, framed)
            catch {
              case scala.util.control.NonFatal(_) =>
                trailers(out, streamId, Status.Internal, s"corrupt $enc message")
                st.dead = true; st.buf.reset(); return
            }
          processBatch(out, streamId, st, body, wireBytes = mlen.toLong)
          if (st.dead) { st.buf.reset(); return }
        }
      }
      st.buf.reset()
      if (consumed < bytes.length)
        st.buf.write(bytes, consumed, bytes.length - consumed)
    }

    private def processBatch(out: java.io.OutputStream, streamId: Int,
                             st: StreamState, body: Array[Byte],
                             wireBytes: Long): Unit = {
      val batch =
        try decodeBatch(body)
        catch {
          case scala.util.control.NonFatal(_) =>
            // an undecodable envelope has no batch_id to ack — like a
            // header-parse failure it breaks the stream (arrow.go:309)
            obs.badBatches.incrementAndGet()
            trailers(out, streamId, Status.Internal, "undecodable batch")
            st.dead = true
            return
        }
      // scope note: ack writes skip send-window bookkeeping — a
      // BatchStatus is ~20 bytes, far below any practical window
      // pressure, and blocking the single per-connection thread on a
      // client grant here could deadlock against incoming DATA; the
      // EXPORTER side (the direction that moves real volume) enforces
      def ack(code: Int, msg: String = ""): Unit = {
        val enc = encodeStatus(BatchStatus(batch.batchId, code, msg))
        val frame = new java.io.ByteArrayOutputStream()
        frame.write(0)
        frame.write(Array[Byte](
          ((enc.length >> 24) & 0xFF).toByte, ((enc.length >> 16) & 0xFF).toByte,
          ((enc.length >> 8) & 0xFF).toByte, (enc.length & 0xFF).toByte))
        frame.write(enc)
        H2.writeData(out, streamId, frame.toByteArray, endStream = false)
        out.flush()
      }
      // per-batch metadata headers (client.Metadata over the stream);
      // a parse failure here breaks the stream per the reference
      if (batch.headers.nonEmpty) {
        val hdrs =
          try st.batchHeaderDecoder.decode(batch.headers)
          catch {
            case scala.util.control.NonFatal(_) =>
              obs.badBatches.incrementAndGet()
              trailers(out, streamId, Status.Internal, "arrow metadata error")
              st.dead = true
              return
          }
        val hmap = hdrs.groupBy(_._1.toLowerCase)
          .map { case (k, vs) => k -> vs.map(_._2) }
        // reference parity (arrow.go headerReceiver + the auth
        // server): per-batch metadata faces the authenticator like
        // stream-open headers did. Batch values OVERLAY the stream's,
        // so a batch presenting bad credentials is refused even on an
        // authenticated stream, while a batch carrying no credentials
        // inherits the stream's (the combined-context semantics) —
        // per-batch identity is never trusted unauthenticated.
        val denied = auth.flatMap(_.authenticate(
          st.headers.map { case (k, v) => k -> Seq(v) } ++ hmap).left.toOption)
        if (denied.isDefined) {
          obs.refused.incrementAndGet()
          ack(Status.Unauthenticated, denied.get)
          return
        }
        onBatchHeaders(hmap)
      }
      if (batch.payloads.isEmpty) { ack(Status.Ok); return } // arrow.go:363
      val signal = PayloadType.signalOf(batch.payloads.head.tpe)
      if (signal.isEmpty) {
        obs.badBatches.incrementAndGet()
        ack(Status.InvalidArgument,
          s"unknown payload type ${batch.payloads.head.tpe}")
        return
      }
      val isFragment = batch.payloads.head.schemaId match {
        case FragmentId(_, _) => true
        case _ => false
      }
      if (expectDelta.exists(_ != isFragment)) {
        obs.badBatches.incrementAndGet()
        ack(Status.InvalidArgument, // permanent: a config mismatch,
          // not load — retrying can never fix the payload mode
          s"receiver serves ${if (expectDelta.get) "delta-fragment"
            else "self-contained"} payloads; got ${
            if (isFragment) "fragment" else "self-contained"}")
        return
      }
      val totalBytes = batch.payloads.map(_.record.length.toLong).sum
      controller match {
        case Some(ctl) =>
          ctl.acquire(totalBytes, admissionWaitMs) match {
            case Left(graft.pipeline.AdmissionController.TooLarge) =>
              obs.refused.incrementAndGet()
              ack(Status.ResourceExhausted, "batch exceeds admission budget")
              return
            case Left(_) =>
              obs.refused.incrementAndGet()
              ack(Status.ResourceExhausted, "server overwhelmed")
              return
            case Right(()) => ()
          }
        case None => ()
      }
      try {
        batch.payloads.foreach { p =>
          p.schemaId match {
            // delta-fragment payload: a CONTINUATION of one stream's
            // IPC byte sequence — lands keyed by (stream, seq) so
            // [[readStreamedSpool]] can reassemble in order; the
            // REPLACE move makes a retransmitted fragment idempotent
            case FragmentId(uuid, seq) =>
              val dir = new java.io.File(spoolDir, s"${signal.get}_arrowstream")
              dir.mkdirs()
              val name = f"frag-$uuid-${seq.toLong}%012d.arrowfrag"
              val tmp = new java.io.File(dir, s".$name")
              java.nio.file.Files.write(tmp.toPath, p.record)
              java.nio.file.Files.move(tmp.toPath,
                new java.io.File(dir, name).toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            case _ =>
              Spool.commit(new java.io.File(spoolDir, s"${signal.get}_arrow"),
                f"agrpc-${counter.incrementAndGet()}%08d-${System.nanoTime()}%x.arrow",
                p.record)
          }
        }
      } finally controller.foreach(_.release(totalBytes))
      obs.batches.incrementAndGet()
      obs.recvBytes.addAndGet(totalBytes)
      obs.recvWireBytes.addAndGet(wireBytes)
      ack(Status.Ok)
    }

    /** client half-closed: drain, then OK trailers — the graceful EOS
      * of the exporter's max_stream_lifetime rollover */
    private def finishStream(out: java.io.OutputStream, streamId: Int,
        streams: scala.collection.mutable.HashMap[Int, StreamState]): Unit = {
      streams.remove(streamId).foreach { st =>
        if (st.responded && !st.dead) trailers(out, streamId, Status.Ok, "")
      }
    }

    private val conns =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.net.Socket]()
    private val acceptor = new Thread(() => {
      try while (running) {
        val sock = server.accept()
        conns.add(sock)
        val t = new Thread(() => {
          try handle(sock) finally conns.remove(sock)
        }, "arrow-grpc-conn")
        t.setDaemon(true); t.start()
      } catch { case _: java.io.IOException => () }
    }, "arrow-grpc-accept")
    acceptor.setDaemon(true); acceptor.start()

    def boundPort: Int = server.getLocalPort
    /** shutdown severs LIVE streams too, not just the listener — a
      * long-lived stream would otherwise outlive the component */
    def stop(): Unit = {
      running = false
      server.close()
      conns.forEach { c =>
        try c.close() catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    def spoolPath(signal: String): String =
      new java.io.File(spoolDir, s"${signal}_arrow").toString
  }

  // ---- exporter ----------------------------------------------------

  /** thrown when the server answers the Arrow service with
    * UNIMPLEMENTED — the standard-OTLP downgrade trigger */
  private final class ArrowUnimplementedException(msg: String)
    extends RuntimeException(msg)

  /** one live h2c connection carrying one Arrow stream;
    * `msgCodec` = grpc-encoding for sent messages ("" = identity) */
  private final class StreamConn(host: String, port: Int, path: String,
      connectTimeoutMs: Int, readTimeoutMs: Int,
      tls: Option[TlsConfig], auth: Option[Auth.ClientAuthenticator],
      msgCodec: String) {
    val openedAtMs: Long = System.currentTimeMillis()
    private var nextBatchId = 0L
    private val sock = tls match {
      case None =>
        val s = new java.net.Socket()
        s.connect(new java.net.InetSocketAddress(host, port), connectTimeoutMs)
        s
      case Some(cfg) => Tls.clientSocket(cfg, host, port)
    }
    sock.setSoTimeout(readTimeoutMs)
    private val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    private val in = new java.io.BufferedInputStream(sock.getInputStream)
    private val decoder = new GrpcOtlp.Hpack.Decoder
    private val recvBuf = new java.io.ByteArrayOutputStream()
    private var trailersSeen: Option[(Int, String)] = None
    // response header-block reassembly: frames buffer here until
    // END_HEADERS; END_STREAM is latched from the initiating HEADERS
    private val headerBlock = new java.io.ByteArrayOutputStream()
    private var headerEndStream = false
    // send-direction flow control (RFC 9113 §5.2): ENFORCED, not just
    // announced — both axes start at the protocol default 65535 and
    // only the peer's SETTINGS/WINDOW_UPDATEs open them; a stingy
    // conformant server is honored instead of overrun
    private var connWindow: Long = 65535L
    private var streamWindow: Long = 65535L
    private var peerInitialWindow: Long = 65535L

    /** one peer frame, every direction-agnostic effect applied:
      * settings (incl. INITIAL_WINDOW_SIZE deltas), ping acks, window
      * grants, response headers/trailers, ack DATA into recvBuf */
    private def handleFrame(f: H2.Frame): Unit = f.tpe match {
      case H2.SETTINGS =>
        if ((f.flags & H2.FlagAck) == 0) {
          var i = 0
          while (i + 6 <= f.payload.length) {
            val id = ((f.payload(i) & 0xFF) << 8) | (f.payload(i + 1) & 0xFF)
            val v = ((f.payload(i + 2) & 0xFFL) << 24) |
              ((f.payload(i + 3) & 0xFFL) << 16) |
              ((f.payload(i + 4) & 0xFFL) << 8) | (f.payload(i + 5) & 0xFFL)
            if (id == 0x4) { // INITIAL_WINDOW_SIZE: delta on STREAM windows
              streamWindow += v - peerInitialWindow
              peerInitialWindow = v
            }
            i += 6
          }
          H2.write(out, H2.SETTINGS, H2.FlagAck, 0, Array.empty); out.flush()
        }
      case H2.PING =>
        if ((f.flags & H2.FlagAck) == 0) {
          H2.write(out, H2.PING, H2.FlagAck, 0, f.payload); out.flush()
        }
      case H2.WINDOW_UPDATE =>
        val inc = (((f.payload(0) & 0x7F) << 24) | ((f.payload(1) & 0xFF) << 16) |
          ((f.payload(2) & 0xFF) << 8) | (f.payload(3) & 0xFF)).toLong
        if (f.streamId == 0) connWindow += inc
        else if (f.streamId == 1) streamWindow += inc
      case H2.HEADERS | H2.CONTINUATION if f.streamId == 1 =>
        // accumulate until END_HEADERS before decoding: a real gRPC
        // server may split one header block across CONTINUATION
        // frames, and HPACK state is only consistent over the WHOLE
        // block (the receiver side already buffers this way) —
        // per-frame decode would fail mid-block and sever the stream.
        // END_STREAM rides the initiating HEADERS frame only
        // (CONTINUATION has no such flag), so latch it there.
        if (f.tpe == H2.HEADERS)
          headerEndStream = (f.flags & H2.FlagEndStream) != 0
        // a conformant server may pad response headers/trailers —
        // strip PADDED/PRIORITY fields before buffering, same as
        // both server decoders, or the client HPACK state corrupts
        headerBlock.write(H2.headerFields(f.tpe, f.flags, f.payload))
        if ((f.flags & H2.FlagEndHeaders) != 0) {
          val hs = decoder.decode(headerBlock.toByteArray).toMap
          headerBlock.reset()
          if (headerEndStream) {
            val status = hs.getOrElse("grpc-status", "2").toInt
            val msg = hs.getOrElse("grpc-message", "")
            trailersSeen = Some((status, msg))
            if (status == Status.Unimplemented)
              throw new ArrowUnimplementedException(msg)
            // stream severed by the server: transient statuses are
            // ErrStreamRestarting (retryable); a refusal like
            // UNAUTHENTICATED/INVALID_ARGUMENT retried forever
            // would loop — permanent, like the unary exporter
            if (status == Status.ResourceExhausted ||
                status == Status.Unavailable)
              throw new java.io.IOException(
                s"stream ended by server: grpc-status $status $msg")
            throw new graft.pipeline.Pipeline.PermanentExportException(
              s"stream refused by server: grpc-status $status $msg")
          }
        }
      case H2.DATA if f.streamId == 1 => recvBuf.write(f.payload)
      case H2.RST_STREAM =>
        throw new java.io.IOException("stream reset by server")
      case _ => ()
    }

    /** DATA chunked within BOTH send windows: when the window is
      * shut, block reading peer frames until a grant arrives (ack
      * DATA buffers for the later await) */
    private def writeDataFlowControlled(body: Array[Byte]): Unit = {
      var off = 0
      while (off < body.length) {
        while (math.min(connWindow, streamWindow) <= 0L) {
          out.flush()
          val f = H2.read(in)
          if (f == null)
            throw new java.io.IOException("connection closed awaiting window")
          handleFrame(f)
        }
        val n = math.min(
          math.min(H2.MaxFrame.toLong, (body.length - off).toLong),
          math.min(connWindow, streamWindow)).toInt
        H2.write(out, H2.DATA, 0, 1,
          java.util.Arrays.copyOfRange(body, off, off + n))
        connWindow -= n; streamWindow -= n
        off += n
      }
      out.flush()
    }

    H2.handshakeClient(out)
    H2.write(out, H2.HEADERS, H2.FlagEndHeaders, 1, GrpcOtlp.Hpack.encode(
      Seq(":method" -> "POST", ":scheme" -> "http", ":path" -> path,
        ":authority" -> s"$host:$port",
        "content-type" -> "application/grpc", "te" -> "trailers") ++
        (if (msgCodec.nonEmpty) Seq("grpc-encoding" -> msgCodec) else Nil) ++
        auth.toSeq.flatMap(_.headers().map { case (k, v) => k.toLowerCase -> v })))
    out.flush()

    def ageMs: Long = System.currentTimeMillis() - openedAtMs
    /** last send/ack activity — the keepalive idle axis */
    var lastUsedMs: Long = System.currentTimeMillis()
    def idleMs: Long = System.currentTimeMillis() - lastUsedMs
    def takeBatchId(): Long = { val id = nextBatchId; nextBatchId += 1; id }

    // ---- delta-dictionary fragment state (one encoder per stream,
    // the reference's stateful per-stream producer) ----------------
    val streamUuid: String = java.util.UUID.randomUUID().toString
    private var deltaEnc: ArrowIpc.DeltaStreamEncoder = null
    private var fragSeq: Long = 0L
    private var pendingEos: Array[Byte] = Array.empty
    // has any fragment of the CURRENT segment landed durably? An EOS
    // is only valid for a segment whose schema message was delivered
    private var segmentCommitted = false

    /** encode this batch as a CONTINUATION fragment of the stream's
      * IPC byte sequence: schema + full dictionaries on the first
      * fragment (or after a reset), dictionary DELTAS only afterward.
      * A prior reset's EOS bytes prefix the next fragment so segment
      * boundaries are explicit on the receiver's concatenation. */
    def deltaPayload(schema: StructType, rows: Seq[Row],
                     dictCap: Int): (String, Array[Byte]) = {
      if (deltaEnc == null) {
        deltaEnc = new ArrowIpc.DeltaStreamEncoder(schema, dictCap)
        segmentCommitted = false
      }
      // pendingEos rides along but is NOT cleared here: if THIS
      // fragment is refused, the prior segment's EOS must ride the
      // next attempt instead of vanishing with the refusal
      (s"stream:$streamUuid:$fragSeq", pendingEos ++ deltaEnc.writeBatch(rows))
    }
    /** the fragment was ACKED durable — advance the sequence; any
      * carried EOS is now on disk */
    def commitFragment(): Unit = {
      fragSeq += 1; segmentCommitted = true; pendingEos = Array.empty
    }
    /** a fragment was REFUSED: its dictionary deltas never landed, so
      * the segment ends here (EOS rides the next fragment) and the
      * next batch restarts with schema + full dictionaries — a lost
      * batch can never poison a later one's dictionaries */
    def resetDelta(): Unit = if (deltaEnc != null) {
      val eos = deltaEnc.end() // always: frees the encoder's allocators
      // EOS only if the segment's opener (schema message) LANDED —
      // a refused FIRST fragment took the schema down with it, and a
      // bare EOS at the head of the reassembly would break decode
      if (segmentCommitted) pendingEos = pendingEos ++ eos
      deltaEnc = null
      segmentCommitted = false
      fragSeq += 1 // the refused seq is burned, gaps are harmless
    }

    /** configgrpc client keepalive (keepalive.ClientParameters.Time
      * behavior): an h2 PING probes a stream idle past the keepalive
      * time BEFORE the next batch is written into it — a dead TCP
      * path fails here, cheaply, instead of after a full send */
    def ping(): Unit = {
      val token = Array.tabulate[Byte](8)(i =>
        ((openedAtMs >> (i * 8)) & 0xFF).toByte)
      H2.write(out, H2.PING, 0, 0, token)
      out.flush()
      var acked = false
      while (!acked) {
        val f = H2.read(in)
        if (f == null) throw new java.io.IOException("connection closed on keepalive ping")
        if (f.tpe == H2.PING && (f.flags & H2.FlagAck) != 0 &&
            java.util.Arrays.equals(f.payload, token)) acked = true
        else if (f.tpe == H2.GOAWAY)
          throw new java.io.IOException("stream closed on keepalive ping")
        else handleFrame(f) // window grants etc. must not be dropped
      }
      lastUsedMs = System.currentTimeMillis()
    }

    /** gRPC message bytes of the last send (the wire axis) */
    var lastWireBytes: Long = 0L
    /** send one BatchArrowRecords as a length-prefixed gRPC message */
    def send(b: BatchArrowRecords): Unit = {
      val raw = ArrowGrpc.encodeBatch(b)
      val msg = if (msgCodec.nonEmpty) OtlpHttp.Codec.encode(msgCodec, raw) else raw
      lastWireBytes = msg.length.toLong
      val frame = new java.io.ByteArrayOutputStream()
      frame.write(if (msgCodec.nonEmpty) 1 else 0)
      frame.write(Array[Byte](
        ((msg.length >> 24) & 0xFF).toByte, ((msg.length >> 16) & 0xFF).toByte,
        ((msg.length >> 8) & 0xFF).toByte, (msg.length & 0xFF).toByte))
      frame.write(msg)
      writeDataFlowControlled(frame.toByteArray)
    }

    /** block until the BatchStatus for `batchId` arrives (one batch
      * in flight per stream slot — SendAndWait semantics) */
    def await(batchId: Long): BatchStatus = {
      while (true) {
        // complete message already buffered?
        val bytes = recvBuf.toByteArray
        if (bytes.length >= 5) {
          // UNSIGNED length (same wrap-negative class as the receiver
          // paths); a BatchStatus over 1 MiB is a broken peer — sever
          // retryably instead of crashing out of the catch clauses
          val mlen = ((bytes(1) & 0xFFL) << 24) | ((bytes(2) & 0xFFL) << 16) |
            ((bytes(3) & 0xFFL) << 8) | (bytes(4) & 0xFFL)
          if (mlen > (1L << 20))
            throw new java.io.IOException(s"oversized status message: $mlen")
          if (bytes.length >= 5 + mlen) {
            val body = java.util.Arrays.copyOfRange(bytes, 5, 5 + mlen.toInt)
            recvBuf.reset()
            recvBuf.write(bytes, 5 + mlen.toInt, bytes.length - 5 - mlen.toInt)
            val st = ArrowGrpc.decodeStatus(body)
            if (st.batchId == batchId) return st
            // an ack for a batch nobody waits on breaks the stream
            // (stream.go:381 unrecognized batch ID)
            throw new java.io.IOException(
              s"unexpected batch ack ${st.batchId} (awaiting $batchId)")
          }
        }
        val f = H2.read(in)
        if (f == null) throw new java.io.IOException("connection closed mid-stream")
        handleFrame(f)
      }
      throw new IllegalStateException("unreachable")
    }

    /** graceful CloseSend: END_STREAM, then read the OK trailers —
      * the max_stream_lifetime rollover (stream.go:279-283) */
    /** free the delta encoder's off-heap Arrow buffers — every sever,
      * rollover, downgrade, or shutdown path must release them or a
      * long-running pipeline leaks one allocator per stream */
    private def releaseDelta(): Unit = if (deltaEnc != null) {
      try deltaEnc.end() catch { case scala.util.control.NonFatal(_) => () }
      deltaEnc = null
    }

    def closeGraceful(): Unit = {
      releaseDelta()
      try {
        H2.writeData(out, 1, Array.empty, endStream = true)
        out.flush()
        // END_STREAM rides the HEADERS frame; the block may continue
        // in CONTINUATION frames, so wait for END_HEADERS after it.
        // No decode: the connection closes right after, so HPACK
        // state no longer matters (and a split block would not
        // decode frame-by-frame anyway)
        var eosSeen = false
        var done = trailersSeen.isDefined
        while (!done) {
          val f = H2.read(in)
          if (f == null) done = true
          else if ((f.tpe == H2.HEADERS || f.tpe == H2.CONTINUATION) &&
              f.streamId == 1) {
            if (f.tpe == H2.HEADERS && (f.flags & H2.FlagEndStream) != 0)
              eosSeen = true
            if (eosSeen && (f.flags & H2.FlagEndHeaders) != 0) done = true
          }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
      finally close()
    }
    def close(): Unit = {
      releaseDelta()
      try sock.close() catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Arrow-over-gRPC stream EXPORTER: a pool of long-lived streams
    * (exporter.go numStreams + the first-available prioritizer), each
    * batch sent as BatchArrowRecords and held until its BatchStatus
    * (SendAndWait). RESOURCE_EXHAUSTED / UNAVAILABLE acks are
    * retryable (the queued-retry exporter redelivers) and leave the
    * stream OPEN; INVALID_ARGUMENT is permanent. `maxStreamLifetimeMs`
    * rolls a stream over with a graceful EOS before the next batch.
    * UNIMPLEMENTED from the peer downgrades the pool to the standard
    * OTLP `fallback` exporter (exporter.go:158-165). */
  final class ArrowGrpcStreamExporter(
      host: String, port: Int, signal: String = "logs",
      // knobs are vals so the config parity spec can pin that every
      // documented key reaches the built component
      val numStreams: Int = 2,
      val maxStreamLifetimeMs: Long = 0L, // 0 = unbounded
      // configgrpc client keepalive time: a stream idle past this is
      // PING-probed before the next batch rides it (0 = off)
      val keepaliveMs: Long = 0L,
      // dictionary DELTAS across batches (the reference's stateful
      // per-stream producer): batches ride as continuation fragments
      // of one IPC byte stream per gRPC stream; re-ingest with
      // [[ArrowGrpc.readStreamedSpool]]. false = each batch is a
      // self-contained payload ([[ArrowIpc.readSpool]] layout)
      val deltaDict: Boolean = false,
      val dictCap: Int = 64, val codec: String = "zstd",
      val rowsPerBatch: Int = 4096,
      gzipMessages: Boolean = false,
      // grpc-encoding for the stream's messages: gzip|snappy|zstd
      // (configgrpc.go:385-391's negotiated set); wins over the
      // legacy gzipMessages flag when set
      val compression: String = "",
      val batchHeaders: Map[String, String] = Map.empty,
      val connectTimeoutMs: Int = 10000, val readTimeoutMs: Int = 30000,
      tls: Option[TlsConfig] = None,
      auth: Option[Auth.ClientAuthenticator] = None,
      fallback: Option[graft.pipeline.Pipeline.Exporter] = None,
      useStreamPath: Boolean = false)
      extends graft.pipeline.Pipeline.Exporter {

    require(!deltaDict || codec == "none",
      "delta_dict fragments carry no IPC buffer compression (the " +
        "delta encoder's win is the dictionary itself) — set codec " +
        "to 'none' explicitly rather than silently dropping " +
        s"'$codec'")
    private val msgCodec: String = {
      // none/identity both mean "off" (configgrpc accepts either)
      val c = if (compression.nonEmpty && compression != "none" &&
          compression != "identity") compression
        else if (compression.isEmpty && gzipMessages) "gzip" else ""
      require(c.isEmpty || GrpcOtlp.GrpcCodecs(c),
        s"unsupported grpc compression '$c' (${GrpcOtlp.GrpcCodecs.mkString("|")})")
      c
    }
    private val path =
      if (useStreamPath) StreamPath
      else PathsBySignal.getOrElse(signal,
        throw new IllegalArgumentException(s"unknown signal $signal"))
    private val slots =
      new java.util.concurrent.LinkedBlockingQueue[SlotRef]()
    (0 until numStreams).foreach(_ => slots.put(new SlotRef))
    private final class SlotRef { var conn: Option[StreamConn] = None }

    @volatile private var poolDowngraded = false
    def isDowngraded: Boolean = poolDowngraded
    /** telemetry: batches per path + stream rollovers; netstats
      * sent/sent_wire mirror the receiver's recv/recv_wire */
    val arrowBatches = new java.util.concurrent.atomic.AtomicLong
    val refusedBatches = new java.util.concurrent.atomic.AtomicLong
    val rollovers = new java.util.concurrent.atomic.AtomicLong
    val sentBytes = new java.util.concurrent.atomic.AtomicLong
    val sentWireBytes = new java.util.concurrent.atomic.AtomicLong
    def counters: Map[String, Long] = Map(
      "sent_requests" -> arrowBatches.get,
      "refused_requests" -> refusedBatches.get,
      "stream_rollovers" -> rollovers.get,
      "sent_bytes" -> sentBytes.get, "sent_wire_bytes" -> sentWireBytes.get)

    def export(df: DataFrame): Unit = {
      if (poolDowngraded) { fallbackFor(df); return }
      val schema = df.schema
      val it = df.toLocalIterator()
      val chunk = scala.collection.mutable.ArrayBuffer[Row]()
      var acked = 0L
      try {
        while (it.hasNext) {
          chunk += it.next()
          if (chunk.length >= rowsPerBatch) {
            sendChunk(schema, chunk.toSeq); acked += 1; chunk.clear()
          }
        }
        if (chunk.nonEmpty) { sendChunk(schema, chunk.toSeq); acked += 1 }
      } catch {
        case e: ArrowUnimplementedException =>
          // the peer does not speak Arrow: downgrade the POOL. If no
          // batch was acked yet the whole frame re-exports on the
          // standard path losslessly; mid-export downgrade surfaces
          // as retryable so the queued exporter redelivers (sink
          // idempotence absorbs the overlap, like any retry).
          poolDowngraded = true
          if (acked == 0L) fallbackFor(df)
          else throw new graft.pipeline.Pipeline.ThrottledExportException(
            s"arrow downgrade mid-export after $acked batches: ${e.getMessage}", 0L)
      }
    }

    private def fallbackFor(df: DataFrame): Unit = fallback match {
      case Some(e) => e.export(df)
      case None => throw new graft.pipeline.Pipeline.PermanentExportException(
        s"arrow not supported by $host:$port and no fallback configured")
    }

    private def sendChunk(schema: StructType, rows: Seq[Row]): Unit = {
      // refuse new sends once shutdown began: without this guard a
      // concurrent export could keep re-winning freed slots and
      // shutdown's reacquisition loop would never hold all of them
      // (retryable — a caller racing shutdown redelivers elsewhere)
      if (shuttingDown)
        throw new graft.pipeline.Pipeline.ThrottledExportException(
          "arrow exporter shutting down", 0L)
      val slot = slots.take() // first-available prioritizer; blocks = backpressure
      try {
        // lifetime rollover BETWEEN batches: nothing is in flight
        slot.conn.filter(c => maxStreamLifetimeMs > 0L &&
            c.ageMs >= maxStreamLifetimeMs).foreach { c =>
          c.closeGraceful(); slot.conn = None; rollovers.incrementAndGet()
        }
        // keepalive probe: a dead TCP path fails the cheap PING here,
        // not a full batch send + ack timeout; a failed probe severs
        // the slot and the batch rides a fresh stream transparently
        slot.conn.filter(c => keepaliveMs > 0L && c.idleMs >= keepaliveMs)
          .foreach { c =>
            try c.ping()
            catch {
              case scala.util.control.NonFatal(_) =>
                c.close(); slot.conn = None
            }
          }
        val conn = slot.conn.getOrElse {
          val c = new StreamConn(host, port, path, connectTimeoutMs,
            readTimeoutMs, tls, auth, msgCodec)
          slot.conn = Some(c)
          c
        }
        val batchId = conn.takeBatchId()
        val (schemaId, payload) =
          if (deltaDict)
            conn.deltaPayload(schema, rows, math.max(dictCap, 1))
          else ("graft", ArrowIpc.encodeRows(schema, rows, dictCap,
            batchRows = 0, codec = codec))
        val headers =
          if (batchHeaders.isEmpty) Array.empty[Byte]
          else GrpcOtlp.Hpack.encode(batchHeaders.toSeq)
        try {
          conn.send(BatchArrowRecords(batchId,
            Seq(ArrowPayload(schemaId, PayloadType.of(signal), payload)), headers))
          val st = conn.await(batchId)
          conn.lastUsedMs = System.currentTimeMillis()
          st.statusCode match {
            case Status.Ok =>
              if (deltaDict) conn.commitFragment()
              arrowBatches.incrementAndGet()
              sentBytes.addAndGet(payload.length.toLong)
              sentWireBytes.addAndGet(conn.lastWireBytes)
            case Status.ResourceExhausted | Status.Unavailable =>
              // refusal acks only this batch; the stream stays OPEN,
              // but a refused fragment's dictionary deltas are lost —
              // the delta encoder resets so later batches stay sound
              if (deltaDict) conn.resetDelta()
              refusedBatches.incrementAndGet()
              throw new graft.pipeline.Pipeline.ThrottledExportException(
                s"batch $batchId refused: ${st.statusMessage}", 0L)
            case other =>
              throw new graft.pipeline.Pipeline.PermanentExportException(
                s"batch $batchId failed: code $other ${st.statusMessage}")
          }
        } catch {
          case e: java.io.IOException =>
            // transport failure: sever this stream; the batch is
            // unacked → retryable (ErrStreamRestarting semantics)
            slot.conn.foreach(_.close()); slot.conn = None
            throw new graft.pipeline.Pipeline.ThrottledExportException(
              s"arrow stream restarting: ${e.getMessage}", 0L)
          case e: graft.pipeline.Pipeline.PermanentExportException =>
            // server refused the stream (auth, bad data): sever it —
            // the next batch gets a fresh stream, the refusal is not
            slot.conn.foreach(_.close()); slot.conn = None
            throw e
          case e: ArrowUnimplementedException =>
            slot.conn.foreach(_.close()); slot.conn = None
            throw e
        }
      } finally {
        // a send that completes AFTER shutdown began must not return
        // a live StreamConn to the pool — nobody would ever close it
        // (socket + delta-encoder allocators leak); close it here,
        // before the slot goes back
        if (shuttingDown) {
          slot.conn.foreach(c =>
            try c.closeGraceful()
            catch { case scala.util.control.NonFatal(_) => () })
          slot.conn = None
        }
        slots.put(slot)
      }
    }

    @volatile private var shuttingDown = false
    /** drain every live stream with a graceful EOS. Blocks until all
      * `numStreams` slots are reacquired, so a slot held by an
      * in-flight sendChunk is waited for (its conn closes in the
      * finally above) instead of leaking its socket past shutdown.
      * `synchronized`: two CONCURRENT shutdown calls would otherwise
      * each take a subset of the slots and block forever on the
      * remainder the other holds — serialized, the second caller
      * re-drains an already-empty pool (conns all None) and returns. */
    override def shutdown(): Unit = synchronized {
      shuttingDown = true
      val held = scala.collection.mutable.ArrayBuffer[SlotRef]()
      while (held.length < numStreams) held += slots.take()
      held.foreach { s => s.conn.foreach(_.closeGraceful()); s.conn = None }
      held.foreach(slots.put)
    }
  }
}
