package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OTLP/gRPC transport — the collector's PRIMARY protocol
  * (receiver/otlpreceiver/otlp.go serves gRPC next to HTTP;
  * config/configgrpc/configgrpc.go is the knob surface). Implemented
  * from the public wire specs, not any gRPC library: HTTP/2 cleartext
  * (h2c, RFC 9113 — connection preface, SETTINGS/HEADERS/DATA/
  * WINDOW_UPDATE/PING/RST_STREAM/GOAWAY frames), an HPACK subset
  * (RFC 7541 — full static table, dynamic-table decode, and §5.2
  * Huffman string coding with the Appendix B code table: the decoder
  * accepts Huffman literals the way every real gRPC client emits
  * them, and the encoder Huffman-codes a string when that is
  * strictly shorter, raw otherwise), the gRPC 5-byte message frame
  * (1-byte compressed flag + 4-byte BE length), grpc-status /
  * grpc-message trailers including the trailers-only error form, and
  * google.rpc.Status + RetryInfo in `grpc-status-details-bin`
  * (through OtlpProtobuf's wire codec) so
  * RESOURCE_EXHAUSTED carries the server's retry pushback the way
  * the reference's otlp exporter consumes it.
  *
  * Scope honesty: the unary Export* endpoints here are one request
  * per stream, identity/gzip/snappy/zstd grpc-encoding. [[H2]] is
  * the h2c/gRPC core both gRPC surfaces share: the one server
  * connection loop (both receivers), the one client call with
  * enforced send windows (both exporters) and the gRPC message prefix
  * codec. The otel-arrow BIDIRECTIONAL stream lifecycle — long-lived
  * streams, per-batch acks — lives in [[ArrowGrpc]] on this same
  * layer.
  */
object GrpcOtlp {

  /** gRPC status codes used on this path (public grpc spec) */
  object Status {
    val Ok = 0
    val InvalidArgument = 3
    val ResourceExhausted = 8
    val Unimplemented = 12
    val Internal = 13
    val Unavailable = 14
    val Unauthenticated = 16
  }

  private val services = Map(
    "logs" -> "/opentelemetry.proto.collector.logs.v1.LogsService/Export",
    "traces" -> "/opentelemetry.proto.collector.trace.v1.TraceService/Export",
    "metrics" -> "/opentelemetry.proto.collector.metrics.v1.MetricsService/Export")
  private val byPath = services.map(_.swap)

  def pathOf(signal: String): String = services(signal)

  /** the grpc-encoding codecs both gRPC surfaces accept and emit —
    * the reference's negotiated set (configgrpc.go:385-391 registers
    * the go-grpc-compression snappy/zstd codecs next to grpc-go's
    * built-in gzip); kernels shared with the HTTP pair via
    * [[OtlpHttp.Codec]] */
  val GrpcCodecs: Set[String] = Set("gzip", "snappy", "zstd")

  /** an exporter's grpc-encoding: `compression` wins when set, and
    * none/identity both mean "off" (configgrpc accepts either); the
    * legacy gzip flag applies only when `compression` is unset */
  private[sources] def grpcEncoding(compression: String, legacyGzip: Boolean): String = {
    val c = if (compression.nonEmpty && compression != "none" &&
        compression != "identity") compression
      else if (compression.isEmpty && legacyGzip) "gzip" else ""
    require(c.isEmpty || GrpcCodecs(c),
      s"unsupported grpc compression '$c' (${GrpcCodecs.mkString("|")})")
    c
  }

  // ---- HTTP/2 framing ----------------------------------------------

  /** h2c + gRPC framing for both gRPC surfaces: frame codec, the one
    * server connection loop ([[Server]]), the one client call
    * ([[ClientStream]]) and the gRPC message prefix codec
    * ([[grpcFrame]] / [[grpcMessage]]). */
  private[graft] object H2 {
    val Preface: Array[Byte] = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("US-ASCII")
    val DATA = 0x0; val HEADERS = 0x1; val RST_STREAM = 0x3
    val SETTINGS = 0x4; val PING = 0x6; val GOAWAY = 0x7
    val WINDOW_UPDATE = 0x8; val CONTINUATION = 0x9
    val FlagEndStream = 0x1; val FlagAck = 0x1; val FlagEndHeaders = 0x4
    val MaxFrame = 16384

    final case class Frame(tpe: Int, flags: Int, streamId: Int, payload: Array[Byte])

    def write(out: java.io.OutputStream, tpe: Int, flags: Int,
              streamId: Int, payload: Array[Byte]): Unit = {
      val len = payload.length
      out.write(Array[Byte](
        ((len >> 16) & 0xFF).toByte, ((len >> 8) & 0xFF).toByte, (len & 0xFF).toByte,
        tpe.toByte, flags.toByte,
        ((streamId >> 24) & 0x7F).toByte, ((streamId >> 16) & 0xFF).toByte,
        ((streamId >> 8) & 0xFF).toByte, (streamId & 0xFF).toByte))
      out.write(payload)
    }

    /** null at clean EOF */
    def read(in: java.io.InputStream): Frame = {
      val head = in.readNBytes(9)
      if (head.length == 0) return null
      require(head.length == 9, "truncated h2 frame header")
      val len = ((head(0) & 0xFF) << 16) | ((head(1) & 0xFF) << 8) | (head(2) & 0xFF)
      val payload = in.readNBytes(len)
      require(payload.length == len, "truncated h2 frame payload")
      Frame(head(3) & 0xFF, head(4) & 0xFF,
        ((head(5) & 0x7F) << 24) | ((head(6) & 0xFF) << 16) |
          ((head(7) & 0xFF) << 8) | (head(8) & 0xFF), payload)
    }

    /** The HPACK-bearing slice of a HEADERS/CONTINUATION payload.
      * RFC 7540 §6.2 field order: [pad length?][priority?]
      * [header block][padding]. PADDED (0x8) and PRIORITY (0x20) may
      * be set together and ONLY on HEADERS (CONTINUATION carries the
      * bare block) — strip the pad-length byte first, then the 5-byte
      * priority field, then the trailing padding. Every HPACK buffer
      * ([[Server]] and [[ClientStream]] alike) goes through this: a
      * peer that pads would otherwise corrupt the connection's shared
      * decoder state. */
    def headerFields(tpe: Int, flags: Int, payload: Array[Byte]): Array[Byte] =
      if (tpe != HEADERS) payload
      else {
        var off = 0
        var end = payload.length
        if ((flags & 0x8) != 0) { end -= payload(0) & 0xFF; off = 1 }
        if ((flags & 0x20) != 0) off += 5
        java.util.Arrays.copyOfRange(payload, off, end)
      }

    /** SETTINGS payload: INITIAL_WINDOW_SIZE(0x4)=1 GiB so unary
      * exchanges never hit stream flow control on this loopback pair */
    def settingsPayload(): Array[Byte] = {
      val w = 1 << 30
      Array[Byte](0x0, 0x4,
        ((w >> 24) & 0xFF).toByte, ((w >> 16) & 0xFF).toByte,
        ((w >> 8) & 0xFF).toByte, (w & 0xFF).toByte)
    }

    def windowUpdate(out: java.io.OutputStream, streamId: Int, inc: Int): Unit =
      write(out, WINDOW_UPDATE, 0, streamId, Array[Byte](
        ((inc >> 24) & 0x7F).toByte, ((inc >> 16) & 0xFF).toByte,
        ((inc >> 8) & 0xFF).toByte, (inc & 0xFF).toByte))

    /** connection-level WINDOW_UPDATE to match (stream 0) */
    def bigWindowUpdate(out: java.io.OutputStream): Unit =
      windowUpdate(out, 0, (1 << 30) - 65535)

    /** open the h2c conversation from either side */
    def handshakeClient(out: java.io.OutputStream): Unit = {
      out.write(Preface)
      write(out, SETTINGS, 0, 0, settingsPayload())
      bigWindowUpdate(out)
      out.flush()
    }
    def handshakeServer(in: java.io.InputStream, out: java.io.OutputStream): Unit = {
      val p = in.readNBytes(Preface.length)
      require(java.util.Arrays.equals(p, Preface), "bad h2c preface")
      write(out, SETTINGS, 0, 0, settingsPayload())
      bigWindowUpdate(out)
      out.flush()
    }

    /** DATA chunked at the default max frame size */
    def writeData(out: java.io.OutputStream, streamId: Int,
                  body: Array[Byte], endStream: Boolean): Unit = {
      var off = 0
      if (body.isEmpty)
        write(out, DATA, if (endStream) FlagEndStream else 0, streamId, body)
      else while (off < body.length) {
        val n = math.min(MaxFrame, body.length - off)
        val last = off + n == body.length
        write(out, DATA, if (endStream && last) FlagEndStream else 0,
          streamId, java.util.Arrays.copyOfRange(body, off, off + n))
        off += n
      }
    }

    /** response HEADERS opening a successful gRPC response */
    def responseHeaders(out: java.io.OutputStream, streamId: Int): Unit =
      write(out, HEADERS, FlagEndHeaders, streamId, Hpack.encode(
        Seq(":status" -> "200", "content-type" -> "application/grpc")))

    /** close `streamId` with gRPC trailers. A trailers-only response
      * (no response HEADERS sent) carries the HTTP status and
      * content-type too; `details` is grpc-status-details-bin. */
    def trailers(out: java.io.OutputStream, streamId: Int, status: Int,
                 msg: String, trailersOnly: Boolean, details: String = ""): Unit = {
      val hs =
        (if (trailersOnly) Seq(":status" -> "200", "content-type" -> "application/grpc")
        else Nil) ++ Seq("grpc-status" -> status.toString) ++
          (if (msg.nonEmpty) Seq("grpc-message" -> msg) else Nil) ++
          (if (details.nonEmpty) Seq("grpc-status-details-bin" -> details) else Nil)
      write(out, HEADERS, FlagEndHeaders | FlagEndStream, streamId, Hpack.encode(hs))
      out.flush()
    }

    // ---- gRPC message prefix (1-byte compressed flag + 4-byte BE length)

    /** `msg` as one length-prefixed gRPC message */
    def grpcFrame(msg: Array[Byte], compressed: Boolean): Array[Byte] = {
      val f = new Array[Byte](5 + msg.length)
      if (compressed) f(0) = 1
      f(1) = ((msg.length >> 24) & 0xFF).toByte; f(2) = ((msg.length >> 16) & 0xFF).toByte
      f(3) = ((msg.length >> 8) & 0xFF).toByte; f(4) = (msg.length & 0xFF).toByte
      System.arraycopy(msg, 0, f, 5, msg.length)
      f
    }

    /** size gate on the response messages a client reads: a
      * BatchStatus or an Export*ServiceResponse is tiny, anything past
      * 1 MiB is a broken peer */
    val MaxResponseBytes: Long = 1L << 20

    /** a gRPC message whose prefix claims more than the reader's size
      * gate (gRPC's own max_recv_msg_size wording) */
    final class MessageTooLarge(length: Long, max: Long)
      extends java.io.IOException(s"received message larger than max ($length vs $max)")

    /** The gRPC message framed at `buf[off, end)` as (compressed, body);
      * None until all of it has arrived. The length is read UNSIGNED:
      * a high-bit prefix hits the `maxBytes` gate as the huge number it
      * claims ([[MessageTooLarge]]), never wraps negative past it. */
    def grpcMessage(buf: Array[Byte], off: Int, end: Int,
                    maxBytes: Long): Option[(Boolean, Array[Byte])] = {
      if (end - off < 5) return None
      val len = ((buf(off + 1) & 0xFFL) << 24) | ((buf(off + 2) & 0xFFL) << 16) |
        ((buf(off + 3) & 0xFFL) << 8) | (buf(off + 4) & 0xFFL)
      if (len > maxBytes) throw new MessageTooLarge(len, maxBytes)
      if (end - off - 5 < len) None
      else Some((buf(off) != 0,
        java.util.Arrays.copyOfRange(buf, off + 5, off + 5 + len.toInt)))
    }

    // ---- server --------------------------------------------------------

    /** One request stream on [[Server]]'s connection loop. The loop owns
      * the frame-level protocol; a handler sees decoded request header
      * blocks, DATA payloads and the client's half-close, and writes
      * its response to the connection's `out` (only ever from that
      * connection's thread). */
    trait ServerStream {
      /** a complete request header block (HEADERS + CONTINUATION);
        * false = the handler answered it and the stream is done */
      def onHeaders(headers: Map[String, String]): Boolean
      /** one DATA payload, already granted back to the client */
      def onData(payload: Array[Byte]): Unit
      /** the client half-closed (END_STREAM); the stream is gone */
      def onEnd(): Unit
    }

    /** The h2c server of both gRPC receivers: accepts on `transport`
      * and serves each connection on its own daemon thread. The loop
      * acks SETTINGS and PING, ends the connection at GOAWAY, forgets a
      * stream at RST_STREAM, reassembles header blocks across
      * CONTINUATION frames through [[headerFields]], and grants every
      * DATA payload straight back on the connection and stream windows
      * (RFC 9113 §5.2): the payload is consumed the moment it arrives,
      * and a client that keeps one connection or stream open for long
      * would otherwise stall once its cumulative DATA passed the
      * initial window. `open(streamId, out)` makes the handler of a new
      * stream. [[stop]] closes the listener AND severs every live
      * connection, so no stream outlives the component. */
    final class Server(transport: graft.pipeline.ConfigNet.Transport, port: Int,
        tls: Option[TlsConfig], name: String,
        open: (Int, java.io.OutputStream) => ServerStream) {
      private val listener = graft.pipeline.ConfigNet.listen(transport, port, tls)
      private val conns = java.util.concurrent.ConcurrentHashMap
        .newKeySet[graft.pipeline.ConfigNet.Conn]()
      @volatile private var running = true

      private final class Open(val handler: ServerStream) {
        val block = new java.io.ByteArrayOutputStream()
        var endStream = false // latched from HEADERS until END_HEADERS
      }

      private def serve(conn: graft.pipeline.ConfigNet.Conn): Unit = {
        val in = new java.io.BufferedInputStream(conn.in)
        val out = new java.io.BufferedOutputStream(conn.out)
        val decoder = new Hpack.Decoder
        val streams = scala.collection.mutable.HashMap[Int, Open]()
        def end(id: Int): Unit = streams.remove(id).foreach(_.handler.onEnd())
        try {
          handshakeServer(in, out)
          var f = read(in)
          while (f != null && f.tpe != GOAWAY) {
            f.tpe match {
              case SETTINGS =>
                if ((f.flags & FlagAck) == 0) {
                  write(out, SETTINGS, FlagAck, 0, Array.empty); out.flush()
                }
              case PING =>
                if ((f.flags & FlagAck) == 0) {
                  write(out, PING, FlagAck, 0, f.payload); out.flush()
                }
              case RST_STREAM => streams.remove(f.streamId)
              case HEADERS | CONTINUATION =>
                val s = streams.getOrElseUpdate(f.streamId,
                  new Open(open(f.streamId, out)))
                if (f.tpe == HEADERS) s.endStream = (f.flags & FlagEndStream) != 0
                s.block.write(headerFields(f.tpe, f.flags, f.payload))
                if ((f.flags & FlagEndHeaders) != 0) {
                  val hs = decoder.decode(s.block.toByteArray).toMap
                  s.block.reset()
                  if (!s.handler.onHeaders(hs)) streams.remove(f.streamId)
                  else if (s.endStream) end(f.streamId)
                }
              case DATA =>
                if (f.payload.nonEmpty) {
                  windowUpdate(out, 0, f.payload.length)
                  if (streams.contains(f.streamId))
                    windowUpdate(out, f.streamId, f.payload.length)
                  out.flush()
                }
                streams.get(f.streamId).foreach { s =>
                  s.handler.onData(f.payload)
                  if ((f.flags & FlagEndStream) != 0) end(f.streamId)
                }
              case _ => () // WINDOW_UPDATE and unknown types: nothing to do
            }
            f = read(in)
          }
        } catch {
          case scala.util.control.NonFatal(_) => ()
        } finally conn.close()
      }

      private val acceptor = new Thread(() => {
        try while (running) {
          val conn = listener.accept()
          conns.add(conn)
          if (!running) conn.close() // accepted while stop() severed the rest
          val t = new Thread(() => try serve(conn) finally conns.remove(conn),
            s"$name-conn")
          t.setDaemon(true); t.start()
        } catch { case _: java.io.IOException => () }
      }, s"$name-accept")
      acceptor.setDaemon(true); acceptor.start()

      def boundPort: Int = listener.boundPort
      def stop(): Unit = {
        running = false
        listener.close()
        conns.forEach { c =>
          try c.close() catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }

    // ---- client --------------------------------------------------------

    /** The client side of one h2c connection carrying ONE gRPC call on
      * stream 1 — a unary Export and a long-lived Arrow stream alike.
      * Opening it sends the preface, SETTINGS and the request HEADERS.
      * Response header blocks reassemble across CONTINUATION frames
      * and lose their padding and priority fields ([[headerFields]])
      * before HPACK decode: a conformant server may split or pad its
      * trailers. DATA goes out within BOTH send windows (RFC 9113
      * §5.2), ENFORCED: they start at the protocol default 65535, only
      * the peer's SETTINGS (INITIAL_WINDOW_SIZE) and WINDOW_UPDATEs
      * open them, and a shut window blocks the sender on peer frames
      * until a grant arrives — a stingy server is honored, not
      * overrun. `encoding` is the grpc-encoding of sent messages ("" =
      * identity). */
    final class ClientStream(conn: graft.pipeline.ConfigNet.Conn, path: String,
        authority: String, encoding: String,
        auth: Option[Auth.ClientAuthenticator]) {
      private val out = new java.io.BufferedOutputStream(conn.out)
      private val in = new java.io.BufferedInputStream(conn.in)
      private val decoder = new Hpack.Decoder
      private val headerBlock = new java.io.ByteArrayOutputStream()
      private var headerEndStream = false // latched from HEADERS
      private var responseHeaders = Map.empty[String, String]
      private val received = new java.io.ByteArrayOutputStream()
      private var connWindow: Long = 65535L
      private var streamWindow: Long = 65535L
      private var peerInitialWindow: Long = 65535L
      /** every response header block, merged, once the server has
        * ended the stream (its trailers arrived) */
      var trailers: Option[Map[String, String]] = None

      try {
        handshakeClient(out)
        write(out, HEADERS, FlagEndHeaders, 1, Hpack.encode(
          Seq(":method" -> "POST", ":scheme" -> "http", ":path" -> path,
            ":authority" -> authority,
            "content-type" -> "application/grpc", "te" -> "trailers") ++
            (if (encoding.nonEmpty) Seq("grpc-encoding" -> encoding) else Nil) ++
            // PerRPCCredentials half of auth/client.go: credentials as
            // request metadata (HTTP/2 requires lowercase names)
            auth.toSeq.flatMap(_.headers().map { case (k, v) => k.toLowerCase -> v })))
        out.flush()
      } catch { case e: Throwable => conn.close(); throw e }

      /** read one peer frame and apply it: settings (incl.
        * INITIAL_WINDOW_SIZE deltas), ping acks, window grants,
        * response headers/trailers, DATA into the receive buffer */
      def next(): Frame = {
        val f = read(in)
        if (f == null) throw new java.io.IOException("connection closed mid-stream")
        f.tpe match {
          case SETTINGS =>
            if ((f.flags & FlagAck) == 0) {
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
              write(out, SETTINGS, FlagAck, 0, Array.empty); out.flush()
            }
          case PING =>
            if ((f.flags & FlagAck) == 0) {
              write(out, PING, FlagAck, 0, f.payload); out.flush()
            }
          case WINDOW_UPDATE =>
            val inc = (((f.payload(0) & 0x7F) << 24) | ((f.payload(1) & 0xFF) << 16) |
              ((f.payload(2) & 0xFF) << 8) | (f.payload(3) & 0xFF)).toLong
            if (f.streamId == 0) connWindow += inc
            else if (f.streamId == 1) streamWindow += inc
          case HEADERS | CONTINUATION if f.streamId == 1 =>
            // END_STREAM rides the initiating HEADERS frame only
            // (CONTINUATION has no such flag): latch it there, decode
            // at END_HEADERS — HPACK state is only consistent over the
            // WHOLE block
            if (f.tpe == HEADERS) headerEndStream = (f.flags & FlagEndStream) != 0
            headerBlock.write(headerFields(f.tpe, f.flags, f.payload))
            if ((f.flags & FlagEndHeaders) != 0) {
              responseHeaders ++= decoder.decode(headerBlock.toByteArray)
              headerBlock.reset()
              if (headerEndStream) trailers = Some(responseHeaders)
            }
          case DATA if f.streamId == 1 =>
            received.write(f.payload)
            if ((f.flags & FlagEndStream) != 0) trailers = Some(responseHeaders)
          case RST_STREAM =>
            throw new java.io.IOException("stream reset by server")
          case _ => ()
        }
        f
      }

      /** DATA chunked within both send windows; stops early once the
        * server has ended the stream (nothing it would read) */
      private def send(body: Array[Byte], endStream: Boolean): Unit = {
        var off = 0
        do {
          while (trailers.isEmpty && off < body.length &&
              math.min(connWindow, streamWindow) <= 0L) {
            out.flush()
            next()
          }
          if (trailers.isDefined) { out.flush(); return }
          val n = math.min(
            math.min(MaxFrame.toLong, (body.length - off).toLong),
            math.min(connWindow, streamWindow)).toInt
          write(out, DATA, if (endStream && off + n == body.length) FlagEndStream else 0,
            1, java.util.Arrays.copyOfRange(body, off, off + n))
          connWindow -= n; streamWindow -= n
          off += n
        } while (off < body.length)
        out.flush()
      }

      /** send one gRPC message, compressed per `encoding`; returns its
        * length as transmitted (the netstats wire axis) */
      def sendMessage(raw: Array[Byte], endStream: Boolean): Int = {
        val msg = if (encoding.nonEmpty) OtlpHttp.Codec.encode(encoding, raw) else raw
        send(grpcFrame(msg, encoding.nonEmpty), endStream)
        msg.length
      }

      /** END_STREAM: the client has nothing more to send */
      def halfClose(): Unit = send(Array.empty, endStream = true)

      /** the next complete response message, reading frames until it
        * has arrived; None when the server ended the stream first */
      def message(maxBytes: Long): Option[Array[Byte]] = {
        var msg: Option[Array[Byte]] = None
        var done = false
        while (!done) {
          val bytes = received.toByteArray
          msg = grpcMessage(bytes, 0, bytes.length, maxBytes).map(_._2)
          msg.foreach { m =>
            received.reset()
            received.write(bytes, 5 + m.length, bytes.length - 5 - m.length)
          }
          done = msg.isDefined || trailers.isDefined
          if (!done) next()
        }
        msg
      }

      /** h2 PING round trip (keepalive probe): frames that arrive
        * meanwhile are applied, a GOAWAY fails the probe */
      def ping(token: Array[Byte]): Unit = {
        write(out, PING, 0, 0, token)
        out.flush()
        var f = next()
        while (!(f.tpe == PING && (f.flags & FlagAck) != 0 &&
            java.util.Arrays.equals(f.payload, token))) {
          if (f.tpe == GOAWAY || trailers.isDefined)
            throw new java.io.IOException("stream closed on keepalive ping")
          f = next()
        }
      }

      def close(): Unit =
        try conn.close() catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  // ---- HPACK subset (RFC 7541) -------------------------------------

  private[graft] object Hpack {
    /** Appendix A static table (1-based) */
    val Static: Array[(String, String)] = Array(
      ":authority" -> "", ":method" -> "GET", ":method" -> "POST",
      ":path" -> "/", ":path" -> "/index.html", ":scheme" -> "http",
      ":scheme" -> "https", ":status" -> "200", ":status" -> "204",
      ":status" -> "206", ":status" -> "304", ":status" -> "400",
      ":status" -> "404", ":status" -> "500", "accept-charset" -> "",
      "accept-encoding" -> "gzip, deflate", "accept-language" -> "",
      "accept-ranges" -> "", "accept" -> "", "access-control-allow-origin" -> "",
      "age" -> "", "allow" -> "", "authorization" -> "", "cache-control" -> "",
      "content-disposition" -> "", "content-encoding" -> "",
      "content-language" -> "", "content-length" -> "", "content-location" -> "",
      "content-range" -> "", "content-type" -> "", "cookie" -> "", "date" -> "",
      "etag" -> "", "expect" -> "", "expires" -> "", "from" -> "", "host" -> "",
      "if-match" -> "", "if-modified-since" -> "", "if-none-match" -> "",
      "if-range" -> "", "if-unmodified-since" -> "", "last-modified" -> "",
      "link" -> "", "location" -> "", "max-forwards" -> "",
      "proxy-authenticate" -> "", "proxy-authorization" -> "", "range" -> "",
      "referer" -> "", "refresh" -> "", "retry-after" -> "", "server" -> "",
      "set-cookie" -> "", "strict-transport-security" -> "",
      "transfer-encoding" -> "", "user-agent" -> "", "vary" -> "", "via" -> "",
      "www-authenticate" -> "")

    // ---- RFC 7541 §5.2 Huffman coding --------------------------------
    // Appendix B code table: HuffCodes(sym) is the code value in the
    // LOW HuffBits(sym) bits; index 256 is EOS. Spec data, pinned by
    // the Appendix C example vectors in GrpcOtlpSpec.
    private val HuffCodes: Array[Int] = Array(
      0x1ff8, 0x7fffd8, 0xfffffe2, 0xfffffe3, 0xfffffe4, 0xfffffe5,
      0xfffffe6, 0xfffffe7, 0xfffffe8, 0xffffea, 0x3ffffffc, 0xfffffe9,
      0xfffffea, 0x3ffffffd, 0xfffffeb, 0xfffffec, 0xfffffed, 0xfffffee,
      0xfffffef, 0xffffff0, 0xffffff1, 0xffffff2, 0x3ffffffe, 0xffffff3,
      0xffffff4, 0xffffff5, 0xffffff6, 0xffffff7, 0xffffff8, 0xffffff9,
      0xffffffa, 0xffffffb, 0x14, 0x3f8, 0x3f9, 0xffa, 0x1ff9, 0x15,
      0xf8, 0x7fa, 0x3fa, 0x3fb, 0xf9, 0x7fb, 0xfa, 0x16, 0x17, 0x18,
      0x0, 0x1, 0x2, 0x19, 0x1a, 0x1b, 0x1c, 0x1d, 0x1e, 0x1f, 0x5c,
      0xfb, 0x7ffc, 0x20, 0xffb, 0x3fc, 0x1ffa, 0x21, 0x5d, 0x5e, 0x5f,
      0x60, 0x61, 0x62, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a,
      0x6b, 0x6c, 0x6d, 0x6e, 0x6f, 0x70, 0x71, 0x72, 0xfc, 0x73, 0xfd,
      0x1ffb, 0x7fff0, 0x1ffc, 0x3ffc, 0x22, 0x7ffd, 0x3, 0x23, 0x4,
      0x24, 0x5, 0x25, 0x26, 0x27, 0x6, 0x74, 0x75, 0x28, 0x29, 0x2a,
      0x7, 0x2b, 0x76, 0x2c, 0x8, 0x9, 0x2d, 0x77, 0x78, 0x79, 0x7a,
      0x7b, 0x7ffe, 0x7fc, 0x3ffd, 0x1ffd, 0xffffffc, 0xfffe6, 0x3fffd2,
      0xfffe7, 0xfffe8, 0x3fffd3, 0x3fffd4, 0x3fffd5, 0x7fffd9,
      0x3fffd6, 0x7fffda, 0x7fffdb, 0x7fffdc, 0x7fffdd, 0x7fffde,
      0xffffeb, 0x7fffdf, 0xffffec, 0xffffed, 0x3fffd7, 0x7fffe0,
      0xffffee, 0x7fffe1, 0x7fffe2, 0x7fffe3, 0x7fffe4, 0x1fffdc,
      0x3fffd8, 0x7fffe5, 0x3fffd9, 0x7fffe6, 0x7fffe7, 0xffffef,
      0x3fffda, 0x1fffdd, 0xfffe9, 0x3fffdb, 0x3fffdc, 0x7fffe8,
      0x7fffe9, 0x1fffde, 0x7fffea, 0x3fffdd, 0x3fffde, 0xfffff0,
      0x1fffdf, 0x3fffdf, 0x7fffeb, 0x7fffec, 0x1fffe0, 0x1fffe1,
      0x3fffe0, 0x1fffe2, 0x7fffed, 0x3fffe1, 0x7fffee, 0x7fffef,
      0xfffea, 0x3fffe2, 0x3fffe3, 0x3fffe4, 0x7ffff0, 0x3fffe5,
      0x3fffe6, 0x7ffff1, 0x3ffffe0, 0x3ffffe1, 0xfffeb, 0x7fff1,
      0x3fffe7, 0x7ffff2, 0x3fffe8, 0x1ffffec, 0x3ffffe2, 0x3ffffe3,
      0x3ffffe4, 0x7ffffde, 0x7ffffdf, 0x3ffffe5, 0xfffff1, 0x1ffffed,
      0x7fff2, 0x1fffe3, 0x3ffffe6, 0x7ffffe0, 0x7ffffe1, 0x3ffffe7,
      0x7ffffe2, 0xfffff2, 0x1fffe4, 0x1fffe5, 0x3ffffe8, 0x3ffffe9,
      0xffffffd, 0x7ffffe3, 0x7ffffe4, 0x7ffffe5, 0xfffec, 0xfffff3,
      0xfffed, 0x1fffe6, 0x3fffe9, 0x1fffe7, 0x1fffe8, 0x7ffff3,
      0x3fffea, 0x3fffeb, 0x1ffffee, 0x1ffffef, 0xfffff4, 0xfffff5,
      0x3ffffea, 0x7ffff4, 0x3ffffeb, 0x7ffffe6, 0x3ffffec, 0x3ffffed,
      0x7ffffe7, 0x7ffffe8, 0x7ffffe9, 0x7ffffea, 0x7ffffeb, 0xffffffe,
      0x7ffffec, 0x7ffffed, 0x7ffffee, 0x7ffffef, 0x7fffff0, 0x3ffffee,
      0x3fffffff)
    private val HuffBits: Array[Int] = Array(
      13, 23, 28, 28, 28, 28, 28, 28, 28, 24, 30, 28, 28, 30, 28, 28,
      28, 28, 28, 28, 28, 28, 30, 28, 28, 28, 28, 28, 28, 28, 28, 28, 6,
      10, 10, 12, 13, 6, 8, 11, 10, 10, 8, 11, 8, 6, 6, 6, 5, 5, 5, 6,
      6, 6, 6, 6, 6, 6, 7, 8, 15, 6, 12, 10, 13, 6, 7, 7, 7, 7, 7, 7, 7,
      7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 8, 7, 8, 13, 19, 13,
      14, 6, 15, 5, 6, 5, 6, 5, 6, 6, 6, 5, 7, 7, 6, 6, 6, 5, 6, 7, 6,
      5, 5, 6, 7, 7, 7, 7, 7, 15, 11, 14, 13, 28, 20, 22, 20, 20, 22,
      22, 22, 23, 22, 23, 23, 23, 23, 23, 24, 23, 24, 24, 22, 23, 24,
      23, 23, 23, 23, 21, 22, 23, 22, 23, 23, 24, 22, 21, 20, 22, 22,
      23, 23, 21, 23, 22, 22, 24, 21, 22, 23, 23, 21, 21, 22, 21, 23,
      22, 23, 23, 20, 22, 22, 22, 23, 22, 22, 23, 26, 26, 20, 19, 22,
      23, 22, 25, 26, 26, 26, 27, 27, 26, 24, 25, 19, 21, 26, 27, 27,
      26, 27, 24, 21, 21, 26, 26, 28, 27, 27, 27, 20, 24, 20, 21, 22,
      21, 21, 23, 22, 22, 25, 25, 24, 24, 26, 23, 26, 27, 26, 26, 27,
      27, 27, 27, 27, 28, 27, 27, 27, 27, 27, 26, 30)

    // decode trie built once from the code table: flat parallel
    // arrays (node → 0-child / 1-child / symbol), root = node 0
    private val (huffZero, huffOne, huffSym) = {
      val zero = scala.collection.mutable.ArrayBuffer(-1)
      val one = scala.collection.mutable.ArrayBuffer(-1)
      val sym = scala.collection.mutable.ArrayBuffer(-1)
      def newNode(): Int = { zero += -1; one += -1; sym += -1; zero.size - 1 }
      for (s <- HuffCodes.indices) {
        var n = 0
        var b = HuffBits(s) - 1
        while (b >= 0) {
          val arr = if (((HuffCodes(s) >>> b) & 1) == 0) zero else one
          if (arr(n) == -1) arr(n) = newNode()
          n = arr(n)
          b -= 1
        }
        sym(n) = s
      }
      (zero.toArray, one.toArray, sym.toArray)
    }

    /** Huffman-decode a string literal (§5.2.2): EOS inside the data
      * is a decoding error, and trailing padding must be the ≤7-bit
      * all-ones prefix of EOS — anything else is a decoding error */
    def huffmanDecode(block: Array[Byte], off: Int, len: Int): String = {
      val out = new java.io.ByteArrayOutputStream()
      var node = 0
      var pathBits = 0
      var pathAllOnes = true
      var i = off
      while (i < off + len) {
        val byte = block(i) & 0xFF
        var b = 7
        while (b >= 0) {
          val bit = (byte >>> b) & 1
          node = if (bit == 0) huffZero(node) else huffOne(node)
          require(node != -1, "invalid huffman code")
          pathBits += 1
          if (bit == 0) pathAllOnes = false
          if (huffSym(node) >= 0) {
            require(huffSym(node) != 256, "EOS inside huffman data")
            out.write(huffSym(node))
            node = 0; pathBits = 0; pathAllOnes = true
          }
          b -= 1
        }
        i += 1
      }
      require(pathBits <= 7 && pathAllOnes, "invalid huffman padding")
      new String(out.toByteArray, "ISO-8859-1")
    }

    /** Huffman-encode (§5.2.1): codes packed MSB-first, the final
      * partial byte padded with the 1-bits of the EOS prefix */
    def huffmanEncode(raw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0L
      var nbits = 0
      for (c <- raw) {
        val sym = c & 0xFF
        acc = (acc << HuffBits(sym)) | (HuffCodes(sym) & 0xFFFFFFFFL)
        nbits += HuffBits(sym)
        while (nbits >= 8) {
          out.write(((acc >>> (nbits - 8)) & 0xFF).toInt)
          nbits -= 8
        }
      }
      if (nbits > 0)
        out.write((((acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)) & 0xFF).toInt)
      out.toByteArray
    }

    def encodeInt(prefixBits: Int, firstByteHigh: Int, v0: Int,
                  out: java.io.ByteArrayOutputStream): Unit = {
      val max = (1 << prefixBits) - 1
      if (v0 < max) out.write(firstByteHigh | v0)
      else {
        out.write(firstByteHigh | max)
        var v = v0 - max
        while (v >= 128) { out.write((v & 0x7F) | 0x80); v >>= 7 }
        out.write(v)
      }
    }

    /** all headers as literal-without-indexing — the simplest
      * spec-legal block, decodable by any conformant peer; each
      * string Huffman-codes when strictly shorter (H bit set), the
      * choice real encoders make per string */
    def encode(headers: Seq[(String, String)]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def writeStr(raw: Array[Byte]): Unit = {
        val h = huffmanEncode(raw)
        if (h.length < raw.length) {
          encodeInt(7, 0x80, h.length, out); out.write(h)
        } else {
          encodeInt(7, 0x00, raw.length, out); out.write(raw)
        }
      }
      headers.foreach { case (name, value) =>
        out.write(0x00) // literal without indexing, new name
        writeStr(name.getBytes("US-ASCII"))
        writeStr(value.getBytes("US-ASCII"))
      }
      out.toByteArray
    }

    final class Decoder {
      private val dynamic = new java.util.ArrayDeque[(String, String)]()
      private def entry(idx: Int): (String, String) = {
        require(idx >= 1, "hpack index 0")
        if (idx <= Static.length) Static(idx - 1)
        else {
          val di = idx - Static.length - 1
          val it = dynamic.iterator()
          var i = 0
          while (it.hasNext) {
            val e = it.next()
            if (i == di) return e
            i += 1
          }
          throw new IllegalArgumentException(s"hpack dynamic index $idx out of range")
        }
      }
      def decode(block: Array[Byte]): Seq[(String, String)] = {
        var p = 0
        def readInt(prefixBits: Int): Int = {
          val max = (1 << prefixBits) - 1
          var v = block(p) & max; p += 1
          if (v == max) {
            var shift = 0; var b = 0
            do {
              b = block(p) & 0xFF; p += 1
              v += (b & 0x7F) << shift; shift += 7
            } while ((b & 0x80) != 0)
          }
          v
        }
        def readStr(): String = {
          val huff = (block(p) & 0x80) != 0
          val len = readInt(7)
          val s =
            if (huff) huffmanDecode(block, p, len)
            else new String(block, p, len, "US-ASCII")
          p += len; s
        }
        val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
        while (p < block.length) {
          val b = block(p) & 0xFF
          if ((b & 0x80) != 0) { // indexed
            out += entry(readInt(7))
          } else if ((b & 0xC0) == 0x40) { // literal, incremental indexing
            val idx = readInt(6)
            val name = if (idx == 0) readStr() else entry(idx)._1
            val value = readStr()
            dynamic.addFirst(name -> value)
            while (dynamic.size > 128) dynamic.removeLast()
            out += (name -> value)
          } else if ((b & 0xE0) == 0x20) { // dynamic table size update
            readInt(5); ()
          } else { // without indexing (0000) / never indexed (0001)
            val idx = readInt(4)
            val name = if (idx == 0) readStr() else entry(idx)._1
            out += (name -> readStr())
          }
        }
        out.toSeq
      }
    }
  }

  // ---- google.rpc.Status + RetryInfo (grpc-status-details-bin) -----

  /** google.rpc.Status{code, message, details=[Any{RetryInfo{Duration}}]}
    * — the reference exporter's retry pushback carrier (OTLP spec:
    * servers SHOULD attach RetryInfo to RESOURCE_EXHAUSTED) */
  def statusDetailsBin(code: Int, message: String, retryDelayMs: Long): String = {
    val duration = OtlpProtobuf.encode { w =>
      w.vint(1, retryDelayMs / 1000)
      w.vint(2, (retryDelayMs % 1000) * 1000000L)
    }
    val any = OtlpProtobuf.encode { w =>
      w.str(1, "type.googleapis.com/google.rpc.RetryInfo")
      w.lenDelim(2, OtlpProtobuf.encode(_.lenDelim(1, duration)))
    }
    val status = OtlpProtobuf.encode { w =>
      w.vint(1, code.toLong)
      w.str(2, message)
      w.lenDelim(3, any)
    }
    java.util.Base64.getEncoder.withoutPadding.encodeToString(status)
  }

  /** parse the RetryInfo delay out of grpc-status-details-bin; 0 when
    * absent/unparseable (the exporter then uses its own backoff) */
  def retryDelayMsOf(detailsBin: String): Long = {
    try {
      // tolerate missing padding (the spec allows both)
      val pad = detailsBin.length % 4 match {
        case 2 => detailsBin + "=="
        case 3 => detailsBin + "="
        case _ => detailsBin
      }
      val body = java.util.Base64.getDecoder.decode(pad)
      // Status.details(3) → Any.value(2) → RetryInfo.retry_delay(1),
      // then Duration{seconds = 1, nanos = 2}
      val path = Array(3, 2, 1)
      def walk(r: OtlpProtobuf.Reader, depth: Int): Long = {
        var ms = 0L
        while (r.hasNext) {
          val tag = r.varint()
          val field = (tag >>> 3).toInt; val wire = (tag & 7).toInt
          if (depth < path.length && wire == 2 && field == path(depth)) {
            val (o, l) = r.lenDelim()
            ms += walk(new OtlpProtobuf.Reader(body, o, o + l), depth + 1)
          } else if (depth == path.length && wire == 0 && field == 1)
            ms += r.varint() * 1000L
          else if (depth == path.length && wire == 0 && field == 2)
            ms += r.varint() / 1000000L
          else r.skip(wire)
        }
        ms
      }
      walk(new OtlpProtobuf.Reader(body, 0, body.length), 0)
    } catch { case scala.util.control.NonFatal(_) => 0L }
  }

  // ---- receiver ----------------------------------------------------

  final class GrpcObs {
    val requests = new java.util.concurrent.atomic.AtomicLong
    val throttled = new java.util.concurrent.atomic.AtomicLong
    val badRequests = new java.util.concurrent.atomic.AtomicLong
    /** requests refused by the server authenticator (UNAUTHENTICATED) */
    val denied = new java.util.concurrent.atomic.AtomicLong
    /** netstats (otel-arrow internal/netstats): decoded message bytes
      * vs bytes in the gRPC frame as transmitted (grpc-encoding) */
    val recvBytes = new java.util.concurrent.atomic.AtomicLong
    val recvWireBytes = new java.util.concurrent.atomic.AtomicLong
    /** snapshot in the Service.healthFrame transports shape */
    def counters: Map[String, Long] = Map(
      "accepted_requests" -> requests.get, "refused_requests" -> throttled.get,
      "bad_requests" -> badRequests.get, "denied_requests" -> denied.get,
      "recv_bytes" -> recvBytes.get, "recv_wire_bytes" -> recvWireBytes.get)
  }

  /** OTLP/gRPC receiver: unary Export* over h2c loopback. Spools each
    * request's pb body into the SAME `<signal>_pb` layout the HTTP
    * receiver and the streaming file receivers share, so gRPC lands
    * on the identical parse/DLQ path. `throttle(signal)` returning
    * Some(delayMs) refuses the request with RESOURCE_EXHAUSTED +
    * RetryInfo; `partial` returns (rejected, message) to attach an
    * Export*PartialSuccess to the 0-status response. [[stop]] severs
    * live connections too. */
  final class OtlpGrpcReceiver(port: Int, spoolDir: String,
      throttle: String => Option[Long] = _ => None,
      partial: (String, Array[Byte]) => Option[(Long, String)] = (_, _) => None,
      controller: Option[graft.pipeline.AdmissionController] = None,
      admissionWaitMs: Long = 1000L,
      tls: Option[TlsConfig] = None,
      auth: Option[Auth.ServerAuthenticator] = None,
      onAuthenticated: (String, Map[String, String]) => Unit = (_, _) => (),
      // configgrpc max_recv_msg_size_mib behavior (configgrpc.go:302:
      // grpc.MaxRecvMsgSize); gRPC's own default is 4 MiB, refused as
      // RESOURCE_EXHAUSTED "received message larger than max"
      maxRecvMsgBytes: Long = 4L * 1024 * 1024,
      // confignet transport (config/confignet NetAddr): tcp loopback
      // (default) or an AF_UNIX stream socket — the h2c protocol
      // code is transport-blind
      transport: graft.pipeline.ConfigNet.Transport =
        graft.pipeline.ConfigNet.Tcp) {
    val obs = new GrpcObs
    private val counter = new java.util.concurrent.atomic.AtomicLong

    /** one unary call: the request buffers until the client half-closes */
    private final class UnaryCall(streamId: Int, out: java.io.OutputStream)
        extends H2.ServerStream {
      private var headers = Map.empty[String, String]
      private val data = new java.io.ByteArrayOutputStream()
      def onHeaders(hs: Map[String, String]): Boolean = {
        headers ++= hs
        // an unknown method is answered at HEADERS time (what a real
        // gRPC server does) — a STREAMING caller, e.g. the Arrow
        // exporter probing for ArrowStreamService, never half-closes,
        // so waiting for END_STREAM would stall its downgrade probe
        // until timeout
        val path = headers.getOrElse(":path", "")
        val known = headers.getOrElse(":method", "") == "POST" && byPath.contains(path)
        if (!known) {
          obs.badRequests.incrementAndGet()
          trailersOnly(out, streamId, Status.Unimplemented, s"unknown method $path")
        }
        known
      }
      def onData(payload: Array[Byte]): Unit = data.write(payload)
      def onEnd(): Unit = respond(out, streamId, headers, data.toByteArray)
    }

    private val server = new H2.Server(transport, port, tls, "grpc",
      new UnaryCall(_, _))

    private def trailersOnly(out: java.io.OutputStream, streamId: Int,
        status: Int, msg: String, retryDelayMs: Long = -1L): Unit =
      H2.trailers(out, streamId, status, msg, trailersOnly = true,
        details = if (retryDelayMs >= 0L) statusDetailsBin(status, msg, retryDelayMs) else "")

    private def respond(out: java.io.OutputStream, streamId: Int,
                        headers: Map[String, String], raw: Array[Byte]): Unit = {
      val signal = byPath(headers(":path"))
      if (!headers.getOrElse("content-type", "").startsWith("application/grpc")) {
        obs.badRequests.incrementAndGet()
        trailersOnly(out, streamId, Status.Internal, "content-type must be application/grpc")
        return
      }
      // configauth server authenticator (configgrpc authUnaryServer-
      // Interceptor behavior: validate request metadata before the
      // handler; failure = UNAUTHENTICATED, never retried)
      var authAttrs = Map.empty[String, String]
      auth match {
        case Some(a) =>
          a.authenticate(headers.map { case (k, v) => k -> Seq(v) }) match {
            case Left(reason) =>
              obs.denied.incrementAndGet()
              trailersOnly(out, streamId, Status.Unauthenticated, reason)
              return
            case Right(attrs) => authAttrs = attrs
          }
        case None => ()
      }
      val (compressed, framed) =
        try H2.grpcMessage(raw, 0, raw.length, maxRecvMsgBytes) match {
          case Some(m) => m
          case None =>
            obs.badRequests.incrementAndGet()
            trailersOnly(out, streamId, Status.InvalidArgument, "truncated grpc message")
            return
        } catch {
          case e: H2.MessageTooLarge =>
            obs.throttled.incrementAndGet()
            trailersOnly(out, streamId, Status.ResourceExhausted, e.getMessage)
            return
        }
      val body =
        if (!compressed) framed
        else headers.get("grpc-encoding") match {
          // gzip|snappy|zstd — the reference's negotiated codec set
          // (configgrpc.go:385-391), kernels shared with the HTTP pair
          case Some(enc) if GrpcCodecs(enc) =>
            try OtlpHttp.Codec.decode(enc, framed)
            catch { case scala.util.control.NonFatal(_) =>
              obs.badRequests.incrementAndGet()
              trailersOnly(out, streamId, Status.InvalidArgument, s"corrupt $enc message")
              return
            }
          case other =>
            obs.badRequests.incrementAndGet()
            trailersOnly(out, streamId, Status.Unimplemented,
              s"grpc-encoding ${other.getOrElse("")} unsupported")
            return
        }
      throttle(signal) match {
        case Some(delayMs) =>
          obs.throttled.incrementAndGet()
          trailersOnly(out, streamId, Status.ResourceExhausted,
            "server overwhelmed", retryDelayMs = delayMs)
          return
        case None => ()
      }
      controller match {
        case Some(ctl) =>
          ctl.acquire(body.length.toLong, admissionWaitMs) match {
            case Left(graft.pipeline.AdmissionController.TooLarge) =>
              obs.throttled.incrementAndGet()
              trailersOnly(out, streamId, Status.ResourceExhausted,
                "message exceeds admission budget")
              return
            case Left(_) =>
              obs.throttled.incrementAndGet()
              trailersOnly(out, streamId, Status.ResourceExhausted,
                "server overwhelmed", retryDelayMs = 1000L)
              return
            case Right(()) => ()
          }
        case None => ()
      }
      try {
        Spool.commit(new java.io.File(spoolDir, s"${signal}_pb"),
          f"grpc-${counter.incrementAndGet()}%08d-${System.nanoTime()}%x.pb", body)
      } finally controller.foreach(_.release(body.length.toLong))
      obs.requests.incrementAndGet()
      // netstats: framed length is the wire axis, decoded the logical
      obs.recvWireBytes.addAndGet(framed.length.toLong)
      obs.recvBytes.addAndGet(body.length.toLong)
      if (auth.isDefined) onAuthenticated(signal, authAttrs)
      // success: response HEADERS + one framed response message + trailers
      val respMsg = partial(signal, body) match {
        case Some((rejected, msg)) => OtlpHttp.partialSuccessPb(rejected, msg)
        case None => Array.empty[Byte]
      }
      H2.responseHeaders(out, streamId)
      H2.writeData(out, streamId, H2.grpcFrame(respMsg, compressed = false), endStream = false)
      H2.trailers(out, streamId, Status.Ok, "", trailersOnly = false)
    }

    def boundPort: Int = server.boundPort
    def stop(): Unit = server.stop()
    def spoolPath(signal: String): String =
      new java.io.File(spoolDir, s"${signal}_pb").toString
  }

  // ---- exporter ----------------------------------------------------

  final class GrpcExportObs {
    val sentRequests = new java.util.concurrent.atomic.AtomicLong
    val partialSuccesses = new java.util.concurrent.atomic.AtomicLong
    val rejectedItems = new java.util.concurrent.atomic.AtomicLong
    /** netstats: logical payload bytes vs gRPC-frame wire bytes */
    val sentBytes = new java.util.concurrent.atomic.AtomicLong
    val sentWireBytes = new java.util.concurrent.atomic.AtomicLong
    /** snapshot in the Service.healthFrame transports shape */
    def counters: Map[String, Long] = Map(
      "sent_requests" -> sentRequests.get,
      "partial_successes" -> partialSuccesses.get,
      "rejected_items" -> rejectedItems.get,
      "sent_bytes" -> sentBytes.get, "sent_wire_bytes" -> sentWireBytes.get)
  }

  /** thrown for non-OK, non-retryable grpc-status */
  final class GrpcStatusException(val status: Int, val message: String)
    extends RuntimeException(s"grpc-status $status: $message")

  /** OTLP/gRPC exporter: encodes the batch as Export*ServiceRequest
    * pb (one request per shard group, like the HTTP exporter) and
    * performs unary Export calls over h2c. Status mapping per the
    * OTLP spec: 0 OK (response message parsed for partial success);
    * RESOURCE_EXHAUSTED/UNAVAILABLE retryable — RetryInfo pushback
    * from grpc-status-details-bin rides the throttle exception the
    * queued-retry exporter already honors; everything else permanent. */
  final case class OtlpGrpcExporter(host: String, port: Int, signal: String,
      gzipBody: Boolean = false,
      // grpc-encoding: gzip|snappy|zstd (configgrpc compression knob);
      // wins over the legacy gzipBody flag when set
      compression: String = "",
      shardKeys: Seq[String] = Nil,
      connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 30000,
      obs: Option[GrpcExportObs] = None,
      onPartialSuccess: (Long, String) => Unit = (_, _) => (),
      pathOverride: String = "", // custom service path (gateway prefixes)
      tls: Option[TlsConfig] = None,
      auth: Option[Auth.ClientAuthenticator] = None,
      // confignet transport: tcp host:port (default) or an AF_UNIX
      // socket path (host/port then only label error messages)
      transport: graft.pipeline.ConfigNet.Transport =
        graft.pipeline.ConfigNet.Tcp)
      extends graft.pipeline.Pipeline.Exporter {

    private val msgCodec = grpcEncoding(compression, gzipBody)

    private def encodePb(df: DataFrame): DataFrame = signal match {
      case "logs" => OtlpJsonSource.writeLogsPb(df, shardKeys)
      case "traces" => OtlpJsonSource.writeSpansPb(df, shardKeys)
      case "metrics" => OtlpJsonSource.writeMetricsPb(df, shardKeys)
    }

    def export(df: DataFrame): Unit = {
      val it = encodePb(df).select(col("pb").as("body")).toLocalIterator()
      while (it.hasNext) post(it.next().getAs[Array[Byte]]("body"))
    }

    private def post(msg: Array[Byte]): Unit = {
      val call = new H2.ClientStream(graft.pipeline.ConfigNet.connect(
          transport, host, port, connectTimeoutMs, readTimeoutMs, tls),
        if (pathOverride.nonEmpty) pathOverride else pathOf(signal),
        s"$host:$port", msgCodec, auth)
      try {
        val wireBytes = call.sendMessage(msg, endStream = true)
        val resp = call.message(H2.MaxResponseBytes)
        while (call.trailers.isEmpty) call.next()
        val headersIn = call.trailers.get
        val status = headersIn.getOrElse("grpc-status", "2").toInt
        val message = headersIn.getOrElse("grpc-message", "")
        if (status == Status.Ok) {
          obs.foreach { o =>
            o.sentRequests.incrementAndGet()
            o.sentBytes.addAndGet(msg.length.toLong)      // logical
            o.sentWireBytes.addAndGet(wireBytes.toLong)   // on the wire
          }
          resp.flatMap(OtlpHttp.parsePartialSuccess(_, "application/x-protobuf")).foreach {
            case (rejected, m) =>
              obs.foreach { o =>
                o.partialSuccesses.incrementAndGet()
                o.rejectedItems.addAndGet(rejected)
              }
              onPartialSuccess(rejected, m)
          }
        } else if (status == Status.ResourceExhausted || status == Status.Unavailable) {
          val delay = headersIn.get("grpc-status-details-bin")
            .map(retryDelayMsOf).getOrElse(0L)
          throw new graft.pipeline.Pipeline.ThrottledExportException(
            s"grpc-status $status from $host:$port: $message", delay)
        } else {
          throw new graft.pipeline.Pipeline.PermanentExportException(
            s"grpc-status $status from $host:$port: $message")
        }
      } finally call.close()
    }
  }
}
