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

  // ---- arrowpb codec (through OtlpProtobuf's wire codec) ----------

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

  def encodeBatch(b: BatchArrowRecords): Array[Byte] = OtlpProtobuf.encode { w =>
    if (b.batchId != 0L) w.vint(1, b.batchId)
    b.payloads.foreach { p =>
      w.lenDelim(2, OtlpProtobuf.encode { pw =>
        if (p.tpe != 0) pw.vint(2, p.tpe.toLong)
        pw.str(1, p.schemaId)
        pw.lenDelim(3, p.record)
      })
    }
    if (b.headers.nonEmpty) w.lenDelim(3, b.headers)
  }

  def encodeStatus(s: BatchStatus): Array[Byte] = OtlpProtobuf.encode { w =>
    if (s.batchId != 0L) w.vint(1, s.batchId)
    if (s.statusCode != 0) w.vint(2, s.statusCode.toLong)
    if (s.statusMessage.nonEmpty) w.str(3, s.statusMessage)
  }

  private def bytesField(r: OtlpProtobuf.Reader): Array[Byte] = {
    val (o, l) = r.lenDelim()
    java.util.Arrays.copyOfRange(r.b, o, o + l)
  }

  def decodeBatch(body: Array[Byte]): BatchArrowRecords = {
    val r = new OtlpProtobuf.Reader(body, 0, body.length)
    var batchId = 0L
    val payloads = scala.collection.mutable.ArrayBuffer[ArrowPayload]()
    var headers = Array.empty[Byte]
    while (r.hasNext) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 0) => batchId = r.varint()
        case (2, 2) =>
          val (o, l) = r.lenDelim()
          val pr = new OtlpProtobuf.Reader(body, o, o + l)
          var schemaId = ""; var tpe = 0; var record = Array.empty[Byte]
          while (pr.hasNext) {
            val t2 = pr.varint()
            ((t2 >>> 3).toInt, (t2 & 7).toInt) match {
              case (1, 2) => schemaId = new String(bytesField(pr), "UTF-8")
              case (2, 0) => tpe = pr.varint().toInt
              case (3, 2) => record = bytesField(pr)
              case (_, w) => pr.skip(w)
            }
          }
          payloads += ArrowPayload(schemaId, tpe, record)
        case (3, 2) => headers = bytesField(r)
        case (_, w) => r.skip(w)
      }
    }
    BatchArrowRecords(batchId, payloads.toSeq, headers)
  }

  def decodeStatus(body: Array[Byte]): BatchStatus = {
    val r = new OtlpProtobuf.Reader(body, 0, body.length)
    var batchId = 0L; var code = 0; var msg = ""
    while (r.hasNext) {
      val tag = r.varint()
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 0) => batchId = r.varint()
        case (2, 0) => code = r.varint().toInt
        case (3, 2) => msg = new String(bytesField(r), "UTF-8")
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

    private final class StreamState(val id: Int, val out: java.io.OutputStream)
        extends H2.ServerStream {
      var headers: Map[String, String] = Map.empty
      var responded = false // response HEADERS sent → errors go via trailers
      // trailers sent (stream-breaking error): anything the client
      // still has in flight is dropped, never processed or acked
      var dead = false
      val buf = new java.io.ByteArrayOutputStream() // unparsed gRPC bytes
      // per-batch metadata headers get their OWN hpack decoder, like
      // the reference headerReceiver (arrow.go:120-139)
      val batchHeaderDecoder = new Hpack.Decoder
      def fail(status: Int, msg: String): Unit = {
        H2.trailers(out, id, status, msg, trailersOnly = false)
        dead = true
      }
      def onHeaders(hs: Map[String, String]): Boolean = {
        headers ++= hs
        openStream(this)
      }
      def onData(payload: Array[Byte]): Unit = if (!dead) {
        buf.write(payload)
        if (responded) drainMessages(this)
      }
      /** client half-closed: OK trailers — the graceful EOS of the
        * exporter's max_stream_lifetime rollover */
      def onEnd(): Unit =
        if (responded && !dead) H2.trailers(out, id, Status.Ok, "", trailersOnly = false)
    }

    private val server = new H2.Server(graft.pipeline.ConfigNet.Tcp, port, tls,
      "arrow-grpc", new StreamState(_, _))

    /** validate the request headers and send response HEADERS — the
      * stream is then live for any number of batches; false = refused */
    private def openStream(st: StreamState): Boolean = {
      if (st.responded) return true
      val path = st.headers.getOrElse(":path", "")
      val refusal: Option[(Int, String)] =
        if (st.headers.getOrElse(":method", "") != "POST" || !arrowPaths.contains(path))
          // the downgrade trigger: a plain-OTLP peer answers the
          // Arrow service with Unimplemented (stream.go:175-182)
          Some((Status.Unimplemented, s"unknown method $path"))
        else if (!st.headers.getOrElse("content-type", "").startsWith("application/grpc"))
          Some((Status.Internal, "content-type must be application/grpc"))
        else auth.flatMap(_.authenticate(st.headers.map { case (k, v) => k -> Seq(v) })
          .left.toOption).map(reason => (Status.Unauthenticated, reason))
      refusal match {
        case Some((status, msg)) =>
          H2.trailers(st.out, st.id, status, msg, trailersOnly = true)
          false
        case None =>
          obs.streams.incrementAndGet()
          H2.responseHeaders(st.out, st.id)
          st.out.flush()
          st.responded = true
          drainMessages(st)
          true
      }
    }

    /** consume every COMPLETE gRPC message buffered so far; each one
      * is a BatchArrowRecords → durable spool → BatchStatus ack */
    private def drainMessages(st: StreamState): Unit = {
      val bytes = st.buf.toByteArray
      var consumed = 0
      var more = true
      while (more && !st.dead) {
        val msg =
          try H2.grpcMessage(bytes, consumed, bytes.length, maxRecvMsgBytes)
          catch {
            case e: H2.MessageTooLarge =>
              // without a decodable batch_id there is nothing to ack —
              // this is the transport-level failure that DOES break
              // the stream (gRPC's own max_recv_msg_size behavior)
              st.fail(Status.ResourceExhausted, e.getMessage)
              None
          }
        msg match {
          case None => more = false
          case Some((compressed, framed)) =>
            consumed += 5 + framed.length
            // gzip|snappy|zstd, the reference's negotiated codec set
            // (configgrpc.go:385-391). A failure here is a per-STREAM
            // error answered with trailers, NEVER a thrown exception —
            // that would unwind into the connection catch-all and
            // silently reset every sibling stream on this connection
            val enc = st.headers.getOrElse("grpc-encoding", "identity")
            val body =
              if (!compressed) Some(framed)
              else if (!GrpcOtlp.GrpcCodecs(enc)) {
                st.fail(Status.Unimplemented,
                  s"grpc: Decompressor is not installed for grpc-encoding \"$enc\"")
                None
              } else try Some(OtlpHttp.Codec.decode(enc, framed))
              catch {
                case scala.util.control.NonFatal(_) =>
                  st.fail(Status.Internal, s"corrupt $enc message")
                  None
              }
            body.foreach(processBatch(st, _, wireBytes = framed.length.toLong))
        }
      }
      st.buf.reset()
      if (!st.dead) st.buf.write(bytes, consumed, bytes.length - consumed)
    }

    private def processBatch(st: StreamState, body: Array[Byte],
                             wireBytes: Long): Unit = {
      val batch =
        try decodeBatch(body)
        catch {
          case scala.util.control.NonFatal(_) =>
            // an undecodable envelope has no batch_id to ack — like a
            // header-parse failure it breaks the stream (arrow.go:309)
            obs.badBatches.incrementAndGet()
            st.fail(Status.Internal, "undecodable batch")
            return
        }
      // scope note: ack writes skip send-window bookkeeping — a
      // BatchStatus is ~20 bytes, far below any practical window
      // pressure, and blocking the single per-connection thread on a
      // client grant here could deadlock against incoming DATA; the
      // EXPORTER side (the direction that moves real volume) enforces
      def ack(code: Int, msg: String = ""): Unit = {
        H2.writeData(st.out, st.id, H2.grpcFrame(
          encodeStatus(BatchStatus(batch.batchId, code, msg)), compressed = false),
          endStream = false)
        st.out.flush()
      }
      // per-batch metadata headers (client.Metadata over the stream);
      // a parse failure here breaks the stream per the reference
      if (batch.headers.nonEmpty) {
        val hdrs =
          try st.batchHeaderDecoder.decode(batch.headers)
          catch {
            case scala.util.control.NonFatal(_) =>
              obs.badBatches.incrementAndGet()
              st.fail(Status.Internal, "arrow metadata error")
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

    def boundPort: Int = server.boundPort
    /** shutdown severs LIVE streams too, not just the listener — a
      * long-lived stream would otherwise outlive the component */
    def stop(): Unit = server.stop()
    def spoolPath(signal: String): String =
      new java.io.File(spoolDir, s"${signal}_arrow").toString
  }

  // ---- exporter ----------------------------------------------------

  /** thrown when the server answers the Arrow service with
    * UNIMPLEMENTED — the standard-OTLP downgrade trigger */
  private final class ArrowUnimplementedException(msg: String)
    extends RuntimeException(msg)

  /** one Arrow stream on its own h2c connection ([[H2.ClientStream]]);
    * `msgCodec` = grpc-encoding for sent messages ("" = identity) */
  private final class StreamConn(host: String, port: Int, path: String,
      connectTimeoutMs: Int, readTimeoutMs: Int,
      tls: Option[TlsConfig], auth: Option[Auth.ClientAuthenticator],
      msgCodec: String) {
    val openedAtMs: Long = System.currentTimeMillis()
    private var nextBatchId = 0L
    private val call = new H2.ClientStream(graft.pipeline.ConfigNet.connect(
        graft.pipeline.ConfigNet.Tcp, host, port, connectTimeoutMs, readTimeoutMs, tls),
      path, s"$host:$port", msgCodec, auth)

    /** the server ended the stream (`trailers`): UNIMPLEMENTED is the
      * downgrade trigger; transient statuses are ErrStreamRestarting
      * (retryable); a refusal like UNAUTHENTICATED/INVALID_ARGUMENT
      * retried forever would loop — permanent, like the unary
      * exporter */
    private def ended(trailers: Map[String, String]): Exception = {
      val status = trailers.getOrElse("grpc-status", "2").toInt
      val msg = trailers.getOrElse("grpc-message", "")
      if (status == Status.Unimplemented) new ArrowUnimplementedException(msg)
      else if (status == Status.ResourceExhausted || status == Status.Unavailable)
        new java.io.IOException(s"stream ended by server: grpc-status $status $msg")
      else new graft.pipeline.Pipeline.PermanentExportException(
        s"stream refused by server: grpc-status $status $msg")
    }

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
      call.ping(Array.tabulate[Byte](8)(i => ((openedAtMs >> (i * 8)) & 0xFF).toByte))
      lastUsedMs = System.currentTimeMillis()
    }

    /** gRPC message bytes of the last send (the wire axis) */
    var lastWireBytes: Long = 0L
    /** send one BatchArrowRecords as a length-prefixed gRPC message */
    def send(b: BatchArrowRecords): Unit = {
      lastWireBytes = call.sendMessage(encodeBatch(b), endStream = false).toLong
      call.trailers.foreach(t => throw ended(t))
    }

    /** block until the BatchStatus for `batchId` arrives (one batch
      * in flight per stream slot — SendAndWait semantics) */
    def await(batchId: Long): BatchStatus = {
      val st = decodeStatus(call.message(H2.MaxResponseBytes)
        .getOrElse(throw ended(call.trailers.get)))
      // an ack for a batch nobody waits on breaks the stream
      // (stream.go:381 unrecognized batch ID)
      if (st.batchId != batchId) throw new java.io.IOException(
        s"unexpected batch ack ${st.batchId} (awaiting $batchId)")
      st
    }

    /** free the delta encoder's off-heap Arrow buffers — every sever,
      * rollover, downgrade, or shutdown path must release them or a
      * long-running pipeline leaks one allocator per stream */
    private def releaseDelta(): Unit = if (deltaEnc != null) {
      try deltaEnc.end() catch { case scala.util.control.NonFatal(_) => () }
      deltaEnc = null
    }

    /** graceful CloseSend: END_STREAM, then read the OK trailers —
      * the max_stream_lifetime rollover (stream.go:279-283) */
    def closeGraceful(): Unit = {
      releaseDelta()
      try {
        call.halfClose()
        while (call.trailers.isEmpty) call.next()
      } catch { case scala.util.control.NonFatal(_) => () }
      finally close()
    }
    def close(): Unit = {
      releaseDelta()
      call.close()
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
    private val msgCodec = GrpcOtlp.grpcEncoding(compression, gzipMessages)
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
