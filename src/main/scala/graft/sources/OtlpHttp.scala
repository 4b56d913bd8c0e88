package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OTLP/HTTP transport — the reference's most-used integration path
  * (exporter/otlphttpexporter/otlp.go:115-186 and the HTTP half of
  * receiver/otlpreceiver): POST /v1/{logs,metrics,traces} with
  * protobuf or JSON bodies, the full configcompression codec set on
  * Content-Encoding (gzip/zlib/deflate/snappy/zstd), the
  * OTLP status-code mapping (2xx success incl. partial-success
  * bodies; 429/502/503/504 retryable, with Retry-After honored on
  * 429/503; everything else permanent), and partial-success
  * response parsing on the exporter side.
  *
  * Behavior verified against the reference, not its code: the server
  * is the JDK's HttpServer, the client HttpURLConnection — both
  * public JDK APIs — and the pb partial-success message goes through
  * OtlpProtobuf's wire codec.
  */
object OtlpHttp {
  import OtlpProtobuf.jsonEscape

  /** signal naming + encoders for the three OTLP services */
  private val signals = Map(
    "logs" -> ("/v1/logs", "rejectedLogRecords"),
    "traces" -> ("/v1/traces", "rejectedSpans"),
    "metrics" -> ("/v1/metrics", "rejectedDataPoints"))

  def pathOf(signal: String): String = signals(signal)._1
  private def rejectedField(signal: String): String = signals(signal)._2

  private def encodePb(signal: String, df: DataFrame,
                       shardKeys: Seq[String]): DataFrame = signal match {
    case "logs" => OtlpJsonSource.writeLogsPb(df, shardKeys)
    case "traces" => OtlpJsonSource.writeSpansPb(df, shardKeys)
    case "metrics" => OtlpJsonSource.writeMetricsPb(df, shardKeys)
  }
  private def encodeJson(signal: String, df: DataFrame,
                         shardKeys: Seq[String]): DataFrame = signal match {
    case "logs" => OtlpJsonSource.writeLogsJson(df, shardKeys)
    case "traces" => OtlpJsonSource.writeSpansJson(df, shardKeys)
    case "metrics" => OtlpJsonSource.writeMetricsJson(df, shardKeys)
  }

  // ---- gzip (JDK streams; the column-kernel twins are GzipExprs) --
  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    try gz.write(b) finally gz.close()
    bos.toByteArray
  }
  private def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b))
    try in.readAllBytes() finally in.close()
  }

  /** The reference's compression codec set for HTTP bodies
    * (config/configcompression/compressionType.go:11-15 — gzip, zlib,
    * deflate, snappy, zstd; confighttp/compression.go treats
    * `deflate` as an alias for the zlib stream, and rejects unknown
    * Content-Encodings with 400). zstd and snappy ride the codec
    * jars Spark itself ships (zstd-jni, snappy-java) — no new
    * dependency. */
  object Codec {
    val names: Set[String] = Set("gzip", "zlib", "deflate", "snappy", "zstd")

    def encode(name: String, b: Array[Byte]): Array[Byte] = name match {
      case "gzip" => gzip(b)
      case "zlib" | "deflate" => // RFC1950 zlib wrapper for both
        val d = new java.util.zip.Deflater()
        d.setInput(b); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        out.toByteArray
      case "snappy" => org.xerial.snappy.Snappy.compress(b)
      case "zstd" =>
        val out = new java.io.ByteArrayOutputStream()
        val z = new com.github.luben.zstd.ZstdOutputStream(out)
        try z.write(b) finally z.close()
        out.toByteArray
      case other => throw new IllegalArgumentException(
        s"unsupported compression '$other' (${names.mkString("|")})")
    }

    /** decoded payload would exceed the receiver's cap — mapped to
      * 413, distinct from corrupt-input (400) */
    final class DecodedTooLarge(val limit: Long) extends java.io.IOException(
      s"decoded body exceeds $limit bytes")

    /** [[decode]] through a size-capped drain: decompression stops
      * the moment the output passes `maxDecoded`, so a small
      * zstd/deflate bomb can never materialize an unbounded payload
      * before admission runs (the budget must bound PEAK receiver
      * memory, not just post-decode memory). */
    def decodeCapped(name: String, b: Array[Byte], maxDecoded: Long): Array[Byte] = {
      def drain(in: java.io.InputStream): Array[Byte] =
        try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n != -1) {
            out.write(buf, 0, n)
            if (out.size() > maxDecoded) throw new DecodedTooLarge(maxDecoded)
            n = in.read(buf)
          }
          out.toByteArray
        } finally in.close()
      name match {
        case "gzip" => drain(new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(b)))
        case "zlib" | "deflate" => drain(new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(b)))
        case "snappy" => // block format carries the decoded length up front
          if (org.xerial.snappy.Snappy.uncompressedLength(b) > maxDecoded)
            throw new DecodedTooLarge(maxDecoded)
          org.xerial.snappy.Snappy.uncompress(b)
        case "zstd" => drain(new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(b)))
        case other => throw new IllegalArgumentException(
          s"unsupported compression '$other' (${names.mkString("|")})")
      }
    }

    /** throws on corrupt input (mapped to 400 by the receiver) */
    def decode(name: String, b: Array[Byte]): Array[Byte] = name match {
      case "gzip" => gunzip(b)
      case "zlib" | "deflate" =>
        val inf = new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(b))
        try inf.readAllBytes() finally inf.close()
      case "snappy" => org.xerial.snappy.Snappy.uncompress(b)
      case "zstd" =>
        val in = new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(b))
        try in.readAllBytes() finally in.close()
      case other => throw new IllegalArgumentException(
        s"unsupported Content-Encoding: $other")
    }
  }

  // ---- partial-success response codec ----------------------------
  /** Export*ServiceResponse pb: field 1 = partial_success message
    * { 1: rejected (varint), 2: error_message (string) } — the same
    * shape for all three services (only the JSON field name of the
    * rejected count differs). */
  def partialSuccessPb(rejected: Long, msg: String): Array[Byte] =
    OtlpProtobuf.encode(_.lenDelim(1, OtlpProtobuf.encode { w =>
      w.vint(1, rejected)
      w.str(2, msg)
    }))

  /** read the IncludeMetadata sidecars of one spool subdir:
    * spooled request file name → lowercased header name → values
    * (the client.Metadata shape a ClientInfo attach consumes) */
  def readSpoolMetadata(spoolDir: String,
                        sub: String): Map[String, Map[String, Seq[String]]] = {
    import scala.jdk.CollectionConverters._
    val d = new java.io.File(spoolDir, sub)
    val metas = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".meta"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    metas.map { f =>
      val parsed = mapper.readValue(f,
        classOf[java.util.Map[String, java.util.List[String]]])
      f.getName.stripSuffix(".meta") ->
        parsed.asScala.map { case (k, vs) => k -> vs.asScala.toSeq }.toMap
    }.toMap
  }

  def partialSuccessJson(signal: String, rejected: Long,
                                          msg: String): String =
    s"""{"partialSuccess":{"${rejectedField(signal)}":"$rejected","errorMessage":"${jsonEscape(msg)}"}}"""

  /** parse (rejected, message) from a 2xx response body in either
    * encoding; proto3 JSON prints int64 as a quoted string but plain
    * numbers must parse too. Empty / `{}` bodies mean full success.
    * A malformed pb body raises IllegalArgumentException("malformed
    * protobuf: …"). */
  def parsePartialSuccess(body: Array[Byte],
                                           contentType: String): Option[(Long, String)] = {
    if (body == null || body.isEmpty) return None
    if (contentType.contains("json")) {
      val s = new String(body, "UTF-8")
      val rej = """"rejected[A-Za-z]+"\s*:\s*"?(\d+)"?""".r
        .findFirstMatchIn(s).map(_.group(1).toLong)
      val msg = """"errorMessage"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
        .findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      rej.filter(_ > 0L).map(r => (r, msg))
    } else {
      // outer field 1 → inner fields 1 (varint) / 2 (string)
      val r = new OtlpProtobuf.Reader(body, 0, body.length)
      var rejected = 0L
      var msg = ""
      while (r.hasNext) {
        val tag = r.varint()
        if (tag == 0x0a) {
          val (o, l) = r.lenDelim()
          val inner = new OtlpProtobuf.Reader(body, o, o + l)
          while (inner.hasNext) inner.varint() match {
            case 0x08 => rejected = inner.varint()
            case 0x12 =>
              val (mo, ml) = inner.lenDelim()
              msg = new String(body, mo, ml, "UTF-8")
            case other => inner.skip((other & 0x7).toInt)
          }
        } else r.skip((tag & 0x7).toInt)
      }
      if (rejected > 0L) Some((rejected, msg)) else None
    }
  }

  // ---- receiver ---------------------------------------------------

  /** confighttp CORSSettings (confighttp.go:353-373, served through
    * rs/cors with AllowCredentials=true — confighttp.go:303-311):
    * `allowedOrigins` entries may contain `*` replacing 0+ chars
    * (a scheme + `*.domain.com`, or `*` for any); Accept/Accept-Language/
    * Content-Type/Content-Language are implicitly allowed headers,
    * X-Requested-With joins them when no explicit list is given, and
    * a literal "*" allows any requested header; `maxAge` is the
    * preflight cache lifetime. Matching the rs/cors contract: a
    * disallowed actual request is NOT blocked server-side — the CORS
    * headers are simply omitted and the BROWSER enforces. */
  final case class CorsConfig(allowedOrigins: Seq[String],
                              allowedHeaders: Seq[String] = Nil,
                              maxAge: Int = 0) {
    private val originRes = allowedOrigins.map(p =>
      p.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*").r)
    def originAllowed(origin: String): Boolean =
      originRes.exists(_.pattern.matcher(origin).matches())
    private val implicitHeaders = Set("accept", "accept-language",
      "content-type", "content-language", "origin")
    private val allowAnyHeader = allowedHeaders.contains("*")
    private val allowed: Set[String] =
      (if (allowedHeaders.isEmpty) Seq("X-Requested-With") else allowedHeaders)
        .map(_.toLowerCase).toSet ++ implicitHeaders
    def headersAllowed(requested: Seq[String]): Boolean =
      allowAnyHeader || requested.forall(h => allowed(h.trim.toLowerCase))
  }

  /** per-signal request counters for specs and zpages */
  final class HttpObs {
    val requests = new java.util.concurrent.atomic.AtomicLong
    val throttled = new java.util.concurrent.atomic.AtomicLong
    val badRequests = new java.util.concurrent.atomic.AtomicLong
    /** requests refused by the server authenticator (401) */
    val denied = new java.util.concurrent.atomic.AtomicLong
    /** netstats (otel-arrow internal/netstats): logical payload bytes
      * vs bytes on the wire — the compression-win measurement. recv =
      * decoded request bytes; recv_wire = as-transmitted (including
      * Content-Encoding compression). */
    val recvBytes = new java.util.concurrent.atomic.AtomicLong
    val recvWireBytes = new java.util.concurrent.atomic.AtomicLong
    /** snapshot in the Service.healthFrame transports shape */
    def counters: Map[String, Long] = Map(
      "accepted_requests" -> requests.get, "refused_requests" -> throttled.get,
      "bad_requests" -> badRequests.get, "denied_requests" -> denied.get,
      "recv_bytes" -> recvBytes.get, "recv_wire_bytes" -> recvWireBytes.get)
  }

  /** OTLP/HTTP push receiver: accepts POST /v1/{logs,metrics,traces}
    * in both OTLP encodings (protobuf and JSON) with any supported
    * Content-Encoding ([[Codec]]), and spools each request body to
    * `<spoolDir>/<signal>_pb` / `<signal>_json` — the directories the
    * streaming file receivers ([[OtlpJsonSource.streamLogsPb]] etc.)
    * tail, so HTTP lands on the identical parse/DLQ path as sockets
    * and spool files. Spool writes are tmp+rename (dot-prefixed temp
    * names are hidden from Spark's file source) so a reader never
    * sees a torn request.
    *
    * `admission` models the server-overwhelmed path: return
    * Some((429|503, retryAfterSeconds)) to throttle a request the
    * OTLP way (status + Retry-After header). `partial` lets a test
    * or quota layer reject a count of items: the 200 response then
    * carries an Export*PartialSuccess body in the request encoding.
    *
    * Status mapping (receiver side): 405 non-POST, 404 unknown path,
    * 415 unknown Content-Type, 400 corrupt or unknown
    * Content-Encoding, 200 otherwise.
    *
    * `controller` adds the otel-arrow receiver's bounded in-flight
    * memory budget (see [[graft.pipeline.AdmissionController]]): each
    * request's decoded body is admitted against the budget before
    * spooling and released once durable. Too-large-for-the-whole-
    * budget → 413 (waiting can never help); budget full past the
    * waiting patience → 429 + Retry-After (the retryable throttle the
    * exporter already honors).
    */
  final class OtlpHttpReceiver(port: Int, spoolDir: String,
      admission: (String, Int) => Option[(Int, Int)] = (_, _) => None,
      partial: (String, Array[Byte]) => Option[(Long, String)] = (_, _) => None,
      controller: Option[graft.pipeline.AdmissionController] = None,
      admissionWaitMs: Long = 1000L,
      maxDecodedBytes: Long = Spool.MaxRequestBytes,
      tls: Option[TlsConfig] = None,
      auth: Option[Auth.ServerAuthenticator] = None,
      onAuthenticated: (String, Map[String, String]) => Unit = (_, _) => (),
      cors: Option[CorsConfig] = None,
      responseHeaders: Map[String, String] = Map.empty,
      // confighttp max_request_body_size behavior (confighttp.go:289:
      // http.MaxBytesReader around the body): 0 = unlimited, past the
      // cap the request is refused with 413 WITHOUT buffering the
      // excess (the read stops at the limit)
      maxRequestBodyBytes: Long = 0L,
      // confighttp IncludeMetadata (confighttp.go:220-222): when set,
      // the incoming request's headers propagate as client metadata —
      // written as a durable `.meta` JSON sidecar next to each
      // spooled request (lowercased names, multi-values preserved),
      // the client.Metadata shape ClientInfoReceiver attaches
      includeMetadata: Boolean = false,
      // service::telemetry::traces::propagators: when configured, the
      // composite extracts the caller's trace context from request
      // headers (traceparent / b3, single or multi) and stamps it
      // into the SAME metadata sidecar as `trace.trace_id` /
      // `trace.span_id` / `trace.sampled` — requires include_metadata
      // (the sidecar is the durable metadata channel)
      propagator: Option[Propagators.TextMap] = None) {
    val obs = new HttpObs
    private val counter = new java.util.concurrent.atomic.AtomicLong
    private val server: com.sun.net.httpserver.HttpServer = tls match {
      case None =>
        com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("localhost", port), 0)
      case Some(cfg) => // configtls server side: identity + optional mTLS
        val s = com.sun.net.httpserver.HttpsServer.create(
          new java.net.InetSocketAddress("localhost", port), 0)
        val ctx = cfg.sslContext()
        s.setHttpsConfigurator(
          new com.sun.net.httpserver.HttpsConfigurator(ctx) {
            override def configure(
                params: com.sun.net.httpserver.HttpsParameters): Unit = {
              val ssl = cfg.serverParameters(ctx.getDefaultSSLParameters)
              params.setSSLParameters(ssl)
            }
          })
        s
    }

    private def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
      try {
        val path = ex.getRequestURI.getPath
        val signal = signals.collectFirst {
          case (s, (p, _)) if p == path => s
        }
        val origin = Option(ex.getRequestHeaders.getFirst("Origin"))
        def respond(code: Int, body: Array[Byte],
                    headers: Map[String, String] = Map.empty): Unit = {
          responseHeaders.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
          // actual-request CORS: echo the allowed origin (credentials
          // mode forbids a literal `*`); a DISALLOWED origin is not
          // blocked — headers are omitted and the browser enforces
          // (the rs/cors contract confighttp wraps)
          for (c <- cors; o <- origin if c.originAllowed(o)) {
            ex.getResponseHeaders.set("Access-Control-Allow-Origin", o)
            ex.getResponseHeaders.set("Access-Control-Allow-Credentials", "true")
            ex.getResponseHeaders.add("Vary", "Origin")
          }
          headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
          ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
          if (body.nonEmpty) ex.getResponseBody.write(body)
          ex.close()
        }
        // CORS preflight terminates here (cors.Handler wraps the mux):
        // allowed → the allow/max-age header set; disallowed → a bare
        // 204 with no CORS headers, the browser refuses the real call
        if (cors.isDefined && ex.getRequestMethod == "OPTIONS" &&
            ex.getRequestHeaders.getFirst("Access-Control-Request-Method") != null) {
          val c = cors.get
          val reqMethod = ex.getRequestHeaders.getFirst("Access-Control-Request-Method")
          val reqHeaders = Option(
            ex.getRequestHeaders.getFirst("Access-Control-Request-Headers"))
            .map(_.split(",").toSeq).getOrElse(Nil)
          responseHeaders.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
          if (origin.exists(c.originAllowed) && reqMethod == "POST" &&
              c.headersAllowed(reqHeaders)) {
            ex.getResponseHeaders.set("Access-Control-Allow-Origin", origin.get)
            ex.getResponseHeaders.set("Access-Control-Allow-Methods", "POST")
            if (reqHeaders.nonEmpty)
              ex.getResponseHeaders.set("Access-Control-Allow-Headers",
                reqHeaders.map(_.trim).mkString(", "))
            ex.getResponseHeaders.set("Access-Control-Allow-Credentials", "true")
            if (c.maxAge > 0)
              ex.getResponseHeaders.set("Access-Control-Max-Age", c.maxAge.toString)
          }
          ex.getResponseHeaders.add("Vary", "Origin")
          ex.sendResponseHeaders(204, -1); ex.close(); return
        }
        if (ex.getRequestMethod != "POST") { respond(405, Array.empty); return }
        if (signal.isEmpty) { respond(404, Array.empty); return }
        // configauth server authenticator (confighttp authInterceptor:
        // runs before the payload is touched; failure is 401 and the
        // data NEVER enters the pipeline — server.go:21-22 "the caller
        // must not retry", hence a permanent status)
        var authAttrs = Map.empty[String, String]
        auth match {
          case Some(a) =>
            val headers = scala.jdk.CollectionConverters
              .MapHasAsScala(ex.getRequestHeaders).asScala.map { case (k, vs) =>
                k.toLowerCase -> scala.jdk.CollectionConverters
                  .ListHasAsScala(vs).asScala.toSeq
              }.toMap
            a.authenticate(headers) match {
              case Left(reason) =>
                obs.denied.incrementAndGet()
                respond(401, s"""{"message":"${jsonEscape(reason)}"}""".getBytes("UTF-8"),
                  Map("Content-Type" -> "application/json",
                    "WWW-Authenticate" -> a.challenge))
                return
              case Right(attrs) => authAttrs = attrs
            }
          case None => ()
        }
        val ct = Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .getOrElse("").split(";")(0).trim
        val isPb = ct == "application/x-protobuf"
        val isJson = ct == "application/json"
        if (!isPb && !isJson) { respond(415, Array.empty); return }
        val raw =
          if (maxRequestBodyBytes <= 0L) ex.getRequestBody.readAllBytes()
          else {
            // MaxBytesReader semantics: stop reading AT the cap; one
            // byte more means the wire payload is too large
            val capped = ex.getRequestBody.readNBytes(maxRequestBodyBytes.toInt + 1)
            if (capped.length > maxRequestBodyBytes) {
              obs.throttled.incrementAndGet()
              respond(413, s"""{"message":"request body exceeds $maxRequestBodyBytes bytes"}"""
                .getBytes("UTF-8"), Map("Content-Type" -> "application/json"))
              return
            }
            capped
          }
        val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .getOrElse("").trim.toLowerCase
        // reference confighttp: "" = identity; a known codec is
        // decoded; an UNKNOWN Content-Encoding is a 400, not silently
        // treated as identity (compression.go newBodyReader)
        if (enc.nonEmpty && !Codec.names.contains(enc)) {
          obs.badRequests.incrementAndGet()
          respond(400, s"""{"message":"unsupported Content-Encoding: ${jsonEscape(enc)}"}"""
            .getBytes("UTF-8"), Map("Content-Type" -> "application/json"))
          return
        }
        // decode through the size cap BEFORE anything buffers the
        // decoded payload: the admission budget must bound peak
        // memory, so a compression bomb fails here with 413, never
        // materializing past maxDecodedBytes
        val body =
          if (enc.nonEmpty)
            try Codec.decodeCapped(enc, raw, maxDecodedBytes)
            catch {
              case e: Codec.DecodedTooLarge =>
                obs.throttled.incrementAndGet()
                respond(413, s"""{"message":"decoded body exceeds ${e.limit} bytes"}"""
                  .getBytes("UTF-8"), Map("Content-Type" -> "application/json"))
                return
              case scala.util.control.NonFatal(_) =>
                obs.badRequests.incrementAndGet()
                respond(400, s"""{"message":"corrupt ${jsonEscape(enc)} body"}""".getBytes("UTF-8"),
                  Map("Content-Type" -> "application/json"))
                return
            }
          else raw
        admission(signal.get, body.length) match {
          case Some((code, retryAfterSec)) =>
            obs.throttled.incrementAndGet()
            respond(code, """{"message":"server overwhelmed"}""".getBytes("UTF-8"),
              Map("Content-Type" -> "application/json",
                "Retry-After" -> retryAfterSec.toString))
            return
          case None => ()
        }
        // bounded in-flight memory: admit the decoded body before
        // holding it for the spool write, release once durable
        controller match {
          case Some(ctl) =>
            ctl.acquire(body.length.toLong, admissionWaitMs) match {
              case Left(graft.pipeline.AdmissionController.TooLarge) =>
                obs.throttled.incrementAndGet()
                respond(413, """{"message":"request exceeds admission budget"}"""
                  .getBytes("UTF-8"), Map("Content-Type" -> "application/json"))
                return
              case Left(_) => // Timeout | TooManyWaiters: retryable
                obs.throttled.incrementAndGet()
                respond(429, """{"message":"server overwhelmed"}""".getBytes("UTF-8"),
                  Map("Content-Type" -> "application/json", "Retry-After" -> "1"))
                return
              case Right(()) => ()
            }
          case None => ()
        }
        try {
          val sub = if (isPb) s"${signal.get}_pb" else s"${signal.get}_json"
          val dir = new java.io.File(spoolDir, sub)
          val name = f"req-${counter.incrementAndGet()}%08d-${System.nanoTime()}%x" +
            (if (isPb) ".pb" else ".json")
          Spool.commit(dir, name, body)
          // IncludeMetadata: request headers → durable client-metadata
          // sidecar, AFTER the payload commits (a sidecar never
          // exists without its request; a crash in between degrades
          // to include_metadata=false for that one request). Names
          // lowercase, multi-values preserved — client.Metadata's
          // canonical shape. Auth attributes ride the same sidecar
          // under `auth.` keys, the _client.auth merge the attach
          // performs.
          if (includeMetadata) {
            import scala.jdk.CollectionConverters._
            val hdrs = ex.getRequestHeaders.asScala.toSeq
              .map { case (k, vs) =>
                k.toLowerCase -> vs.asScala.toSeq }
              .sortBy(_._1)
            val authKv = authAttrs.toSeq.sortBy(_._1)
              .map { case (k, v) => s"auth.$k" -> Seq(v) }
            // configured propagators: extracted caller trace context
            // rides the sidecar under `trace.` keys
            val traceKv = propagator.flatMap(_.extract(
                hdrs.flatMap { case (k, vs) => vs.headOption.map(k -> _) }.toMap))
              .toSeq.flatMap { sc =>
                Seq("trace.trace_id" -> Seq(sc.traceId),
                  "trace.span_id" -> Seq(sc.spanId),
                  "trace.sampled" -> Seq(sc.sampled.toString))
              }
            val json = (hdrs ++ authKv ++ traceKv).map { case (k, vs) =>
              s""""${jsonEscape(k)}":[${vs.map(v => s""""${jsonEscape(v)}"""").mkString(",")}]"""
            }.mkString("{", ",", "}")
            java.nio.file.Files.write(
              new java.io.File(dir, s"$name.meta").toPath,
              json.getBytes("UTF-8"))
          }
        } finally controller.foreach(_.release(body.length.toLong))
        obs.requests.incrementAndGet()
        // netstats: wire bytes as transmitted vs decoded payload bytes
        obs.recvWireBytes.addAndGet(raw.length.toLong)
        obs.recvBytes.addAndGet(body.length.toLong)
        if (auth.isDefined) onAuthenticated(signal.get, authAttrs)
        partial(signal.get, body) match {
          case Some((rejected, msg)) =>
            if (isPb)
              respond(200, partialSuccessPb(rejected, msg),
                Map("Content-Type" -> "application/x-protobuf"))
            else
              respond(200, partialSuccessJson(signal.get, rejected, msg).getBytes("UTF-8"),
                Map("Content-Type" -> "application/json"))
          case None =>
            if (isPb) respond(200, Array.empty,
              Map("Content-Type" -> "application/x-protobuf"))
            else respond(200, "{}".getBytes("UTF-8"),
              Map("Content-Type" -> "application/json"))
        }
      } catch {
        case scala.util.control.NonFatal(_) =>
          try {
            ex.sendResponseHeaders(500, -1); ex.close()
          } catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    server.createContext("/", handle(_))
    server.setExecutor(null) // current-thread dispatch; loopback scale
    server.start()
    def boundPort: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)
    def spoolPath(signal: String, pb: Boolean): String =
      new java.io.File(spoolDir, s"${signal}_${if (pb) "pb" else "json"}").toString
  }

  // ---- exporter ---------------------------------------------------
  /** exporter-side counters incl. the partial-success split */
  final class HttpExportObs {
    val sentRequests = new java.util.concurrent.atomic.AtomicLong
    val partialSuccesses = new java.util.concurrent.atomic.AtomicLong
    val rejectedItems = new java.util.concurrent.atomic.AtomicLong
    /** netstats (otel-arrow internal/netstats): logical payload bytes
      * vs bytes on the wire (after compression) */
    val sentBytes = new java.util.concurrent.atomic.AtomicLong
    val sentWireBytes = new java.util.concurrent.atomic.AtomicLong
    /** snapshot in the Service.healthFrame transports shape */
    def counters: Map[String, Long] = Map(
      "sent_requests" -> sentRequests.get,
      "partial_successes" -> partialSuccesses.get,
      "rejected_items" -> rejectedItems.get,
      "sent_bytes" -> sentBytes.get, "sent_wire_bytes" -> sentWireBytes.get)
  }

  /** OTLP/HTTP exporter (reference otlphttpexporter/otlp.go:115-186):
    * encodes the batch as Export*ServiceRequest blobs — ONE request
    * when `shardKeys` is empty, one per shard otherwise — and POSTs
    * them with the OTLP status mapping:
    *
    *  - 2xx: success; a non-empty response body is parsed for
    *    Export*PartialSuccess (rejected count + message), which is
    *    recorded (obs + onPartialSuccess) and NOT retried — the
    *    reference treats it as a logged warning, the items are gone.
    *  - 429/502/503/504: retryable. 429/503 carrying Retry-After
    *    throw [[graft.pipeline.Pipeline.ThrottledExportException]]
    *    with the server's delay; the wrapping RetryingExporter uses
    *    it INSTEAD of its own backoff (the spec's throttling story).
    *  - anything else: [[graft.pipeline.Pipeline.PermanentExportException]]
    *    — straight to the dead-letter path, retrying cannot help.
    *
    * Requests stream through the driver one blob at a time
    * (toLocalIterator — bounded memory); the HTTP hop mirrors the
    * reference's single-node surface, and cluster-scale fan-out
    * belongs to the queue/shard layers in front of this exporter.
    * Mid-batch throttle aborts the batch; the wrapping retry re-posts
    * every shard (at-least-once per request, the reference queue's
    * re-send semantics) — with the default single-request batch the
    * delivery is exact.
    */
  final case class OtlpHttpExporter(endpoint: String, signal: String,
      useJson: Boolean = false, gzipBody: Boolean = false,
      compression: String = "", // "" none | gzip|zlib|deflate|snappy|zstd
      shardKeys: Seq[String] = Nil,
      connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 30000,
      obs: Option[HttpExportObs] = None,
      onPartialSuccess: (Long, String) => Unit = (_, _) => (),
      tls: Option[TlsConfig] = None,
      auth: Option[Auth.ClientAuthenticator] = None,
      // confighttp client Headers (confighttp.go:50): fixed headers
      // attached to every outgoing request; values are configopaque
      // (masked in print-config) because tenant/routing headers
      // routinely carry credentials
      headers: Map[String, String] = Map.empty,
      // custom URL path (otlpmetrichttp.WithURLPath: a telemetry
      // endpoint carrying its own path replaces the default
      // /v1/<signal>); "" keeps the standard OTLP path
      pathOverride: String = "")
      extends graft.pipeline.Pipeline.Exporter {

    // one context per exporter, not per request
    @transient private lazy val clientSsl = tls.map(_.sslContext())

    def export(df: DataFrame): Unit = {
      val requests =
        if (useJson) encodeJson(signal, df, shardKeys)
          .select(col("json").cast("binary").as("body"))
        else encodePb(signal, df, shardKeys).select(col("pb").as("body"))
      val it = requests.toLocalIterator()
      while (it.hasNext) post(it.next().getAs[Array[Byte]]("body"))
    }

    private def post(body0: Array[Byte]): Unit = {
      val path = if (pathOverride.nonEmpty) pathOverride else pathOf(signal)
      val url = new java.net.URL(endpoint + path)
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn match {
        case https: javax.net.ssl.HttpsURLConnection =>
          tls.foreach { cfg =>
            clientSsl.foreach(ctx => https.setSSLSocketFactory(
              new Tls.BoundedSocketFactory(ctx.getSocketFactory, cfg.protocols)))
            if (cfg.insecureSkipVerify) https.setHostnameVerifier(Tls.anyHost)
          }
        case _ => ()
      }
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      // configured fixed headers first — the protocol-critical
      // Content-Type/Content-Encoding below win on collision
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      val ct = if (useJson) "application/json" else "application/x-protobuf"
      conn.setRequestProperty("Content-Type", ct)
      // configauth client authenticator (the RoundTripper half of
      // auth/client.go): credentials join the request headers
      auth.foreach(_.headers().foreach { case (k, v) =>
        conn.setRequestProperty(k, v) })
      // configured codec wins; the legacy gzipBody flag means "gzip".
      // The codec name doubles as the Content-Encoding token, the
      // compressRoundTripper contract (confighttp/compression.go).
      val codec = if (compression.nonEmpty) compression
                  else if (gzipBody) "gzip" else ""
      val body = if (codec.nonEmpty) {
        conn.setRequestProperty("Content-Encoding", codec)
        Codec.encode(codec, body0)
      } else body0
      val out = conn.getOutputStream
      try out.write(body) finally out.close()
      val code = conn.getResponseCode
      val respBody =
        try {
          val s = if (code >= 400) conn.getErrorStream else conn.getInputStream
          if (s == null) Array.empty[Byte] else try s.readAllBytes() finally s.close()
        } catch { case scala.util.control.NonFatal(_) => Array.empty[Byte] }
      if (code >= 200 && code <= 299) {
        obs.foreach { o =>
          o.sentRequests.incrementAndGet()
          o.sentBytes.addAndGet(body0.length.toLong)      // logical
          o.sentWireBytes.addAndGet(body.length.toLong)   // on the wire
        }
        parsePartialSuccess(respBody,
          Option(conn.getHeaderField("Content-Type")).getOrElse(ct)).foreach {
          case (rejected, msg) =>
            obs.foreach { o =>
              o.partialSuccesses.incrementAndGet()
              o.rejectedItems.addAndGet(rejected)
            }
            onPartialSuccess(rejected, msg)
        }
      } else if (code == 429 || code == 502 || code == 503 || code == 504) {
        // throttle statuses carry Retry-After (seconds) per the OTLP
        // spec; 502/504 retry on the exporter's own backoff
        val retryAfterMs =
          if (code == 429 || code == 503)
            Option(conn.getHeaderField("Retry-After"))
              .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
              .map(_ * 1000L).getOrElse(0L)
          else 0L
        throw new graft.pipeline.Pipeline.ThrottledExportException(
          s"HTTP $code from $url", retryAfterMs)
      } else {
        throw new graft.pipeline.Pipeline.PermanentExportException(
          s"HTTP $code from $url: ${new String(respBody, "UTF-8").take(200)}")
      }
    }
  }
}
