package graftbench

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Processors
import graft.sources.{ArrowIpc, OtlpHttp, OtlpJsonSource, OtlpProtobuf}

/** OTLP log records generated from the seed, and what the pipeline must
  * make of them. Request `i` carries attribute `req = i` on every
  * record, so each exported row names the request it came from. */
object LogGen {
  final case class Rec(timeNs: Long, observedNs: Long, severity: Int, body: String,
                       attrs: Map[String, String], userId: Long, flags: Int,
                       traceId: String, spanId: String)
  final case class Req(index: Int, service: String, host: String, recs: IndexedSeq[Rec])

  val Scope = "perfbench"
  private val SeverityText = Map(1 -> "TRACE", 5 -> "DEBUG", 9 -> "INFO", 13 -> "WARN", 17 -> "ERROR")
  private val Words = IndexedSeq("request", "served", "cache", "miss", "retry", "timeout",
    "upstream", "user", "login", "payment", "accepted", "rejected", "queue", "flush", "disk")
  private val Routes = IndexedSeq("/", "/api/v1/orders", "/api/v1/users", "/health", "/login")

  def request(seed: Long, index: Int, records: Int): Req = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + index)
    def hex(bytes: Int): String = {
      val sb = new StringBuilder
      (0 until bytes).foreach(_ => sb.append(String.format(java.util.Locale.ROOT, "%02x",
        Int.box(rnd.nextInt(256)))))
      sb.toString
    }
    val base = 1700000000000000000L + index * 1000000000L
    val recs = (0 until records).map { j =>
      // record 0 always survives the severity filter, so every request
      // has rows in the sink and a lost request is always visible
      val sev = if (j == 0) 9 else Seq(1, 5, 9, 13, 17)(rnd.nextInt(5))
      val words = (0 until 4 + rnd.nextInt(12)).map(_ => Words(rnd.nextInt(Words.size)))
      Rec(base + j * 1000L, base + j * 1000L + 250L, sev, words.mkString(" "),
        Map("req" -> index.toString, "http.route" -> Routes(rnd.nextInt(Routes.size)),
          "http.status_code" -> Seq("200", "200", "200", "404", "500")(rnd.nextInt(5))),
        rnd.nextLong(1000000L), rnd.nextInt(2), hex(16), hex(8))
    }
    Req(index, s"svc-${rnd.nextInt(4)}", s"host-${rnd.nextInt(16)}", recs)
  }

  /** OTLP/JSON request document, built as a Jackson tree */
  def otlpJson(r: Req): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def kv(arr: com.fasterxml.jackson.databind.node.ArrayNode, k: String, typ: String, v: String): Unit = {
      val o = arr.addObject(); o.put("key", k); o.putObject("value").put(typ, v)
    }
    val root = m.createObjectNode()
    val rl = root.putArray("resourceLogs").addObject()
    val ra = rl.putObject("resource").putArray("attributes")
    kv(ra, "service.name", "stringValue", r.service)
    kv(ra, "host.name", "stringValue", r.host)
    val sl = rl.putArray("scopeLogs").addObject()
    sl.putObject("scope").put("name", Scope)
    val lrs = sl.putArray("logRecords")
    r.recs.foreach { x =>
      val o = lrs.addObject()
      o.put("timeUnixNano", x.timeNs.toString)
      o.put("observedTimeUnixNano", x.observedNs.toString)
      o.put("severityNumber", x.severity)
      o.put("severityText", SeverityText(x.severity))
      o.putObject("body").put("stringValue", x.body)
      val at = o.putArray("attributes")
      x.attrs.toSeq.sortBy(_._1).foreach { case (k, v) => kv(at, k, "stringValue", v) }
      kv(at, "user.id", "intValue", x.userId.toString)
      o.put("flags", x.flags)
      o.put("traceId", x.traceId)
      o.put("spanId", x.spanId)
    }
    m.writeValueAsString(root)
  }

  def pbPayload(r: Req): Array[Byte] =
    OtlpProtobuf.logsJsonToRequest(UTF8String.fromString(otlpJson(r)))

  /** the records as rows of the flattened logs schema (Arrow payloads) */
  def rows(schema: StructType, r: Req): Seq[Row] = r.recs.map { x =>
    val byName: Map[String, Any] = Map(
      "time_unix_nano" -> x.timeNs, "observed_time_unix_nano" -> x.observedNs,
      "severity_number" -> x.severity, "severity_text" -> SeverityText(x.severity),
      "body" -> x.body, "attributes" -> (x.attrs + ("user.id" -> x.userId.toString)),
      "flags" -> x.flags, "dropped_attributes_count" -> 0,
      "trace_id" -> x.traceId, "span_id" -> x.spanId,
      "resource_attributes" -> Map("service.name" -> r.service, "host.name" -> r.host),
      "scope_name" -> Scope)
    Row.fromSeq(schema.fieldNames.toSeq.map(byName))
  }

  def arrowPayload(schema: StructType, r: Req): Array[Byte] =
    ArrowIpc.encodeRows(schema, rows(schema, r), dictCap = 64, batchRows = 0, codec = "zstd")

  // ---- the pipeline under test and its expected output ----

  val MinSeverity = 9

  def pipeline(stream: DataFrame): DataFrame =
    Processors.attributes(Processors.filter(stream, col("severity_number") >= MinSeverity), Seq(
      Processors.Upsert("req", element_at(col("attributes"), "req").cast("long")),
      Processors.Upsert("attributes",
        Processors.mapPut(col("attributes"), "pipeline", lit("perfbench"))),
      Processors.HashAttr("body"),
      Processors.Delete("dropped_attributes_count")))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => String.format(java.util.Locale.ROOT, "%02x", Byte.box(b))).mkString

  private def mapText(m: scala.collection.Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")

  /** 64-bit hash of one output row's canonical text */
  def rowHash(req: Long, timeNs: Long, observedNs: Long, severity: Int, severityText: String,
              bodyMd5: String, attrs: scala.collection.Map[String, String], flags: Int,
              traceId: String, spanId: String, res: scala.collection.Map[String, String],
              scope: String): Long = {
    val text = Seq(req, timeNs, observedNs, severity, severityText, bodyMd5, mapText(attrs),
      flags, traceId, spanId, mapText(res), scope).mkString("|")
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))).getLong
  }

  /** (rows, summed row hash) the sink must hold for request `r` */
  def expected(r: Req): (Int, Long) = {
    val kept = r.recs.filter(_.severity >= MinSeverity)
    (kept.size, kept.map { x =>
      rowHash(r.index, x.timeNs, x.observedNs, x.severity, SeverityText(x.severity),
        md5Hex(x.body), x.attrs + ("user.id" -> x.userId.toString) + ("pipeline" -> "perfbench"),
        x.flags, x.traceId, x.spanId,
        Map("service.name" -> r.service, "host.name" -> r.host), Scope)
    }.sum)
  }
}

/** The open-loop OTLP/HTTP client against a live receiver, and the
  * stream that carries what it accepts through the processors to the
  * parquet exporter. */
final class Ingest(spark: SparkSession, base: java.io.File, connections: Int, trace: Trace) {
  private val spool = new java.io.File(base, "spool")
  private val out = new java.io.File(base, "out").getPath
  private val checkpoint = new java.io.File(base, "checkpoint").getPath
  spool.mkdirs()

  val streamCounters = new StreamCounters
  spark.streams.addListener(streamCounters)

  val http = new OtlpHttp.OtlpHttpReceiver(0, spool.getPath)
  private val spoolDir = http.spoolPath("logs", pb = true)
  new java.io.File(spoolDir).mkdirs()

  /** batch id → (export start, export end) in nanoTime */
  val exports = new ConcurrentHashMap[Long, (Long, Long)]
  private val exporter = new graft.pipeline.Pipeline.Exporter {
    private val parquet = graft.pipeline.Pipeline.ParquetExporter(out)
    def export(df: DataFrame): Unit = parquet.export(df)
    override def exportBatch(df: DataFrame, batchId: Long): Unit = {
      val t0 = System.nanoTime()
      parquet.exportBatch(df, batchId)
      val t1 = System.nanoTime()
      exports.put(batchId, (t0, t1))
    }
  }

  val query: org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingPipelines.exportStream(
      LogGen.pipeline(OtlpJsonSource.streamLogsPb(spark, spoolDir)), exporter, checkpoint)

  def stop(): Unit = {
    try query.stop() finally {
      http.stop()
      spark.streams.removeListener(streamCounters)
    }
  }

  // ---- the open-loop client ----

  final class Sent(val index: Int, val scheduledNs: Long) {
    @volatile var startNs = 0L
    @volatile var ackNs = 0L
    @volatile var error: Option[String] = None
  }
  val sent = new ConcurrentHashMap[Int, Sent]
  private val queue = new LinkedBlockingQueue[Option[(Sent, Array[Byte])]]

  private val senders = (0 until connections).map { c =>
    val t = new Thread(() => senderLoop(), s"perfbench-sender-$c")
    t.setDaemon(true); t.start(); t
  }

  private def senderLoop(): Unit = {
    // one client per sender thread: at most `connections` connections
    val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val uri = java.net.URI.create(s"http://localhost:${http.boundPort}/v1/logs")
    var running = true
    while (running) {
      queue.take() match {
        case None => running = false
        case Some((s, payload)) =>
          s.startNs = System.nanoTime()
          try trace.span("gen.send") {
            val req = java.net.http.HttpRequest.newBuilder(uri)
              .header("Content-Type", "application/x-protobuf")
              .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(payload)).build()
            val resp = trace.span("sources.http.request") {
              client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
            }
            s.ackNs = System.nanoTime()
            if (resp.statusCode / 100 != 2) s.error = Some(s"HTTP ${resp.statusCode}")
          } catch {
            case e: Exception => s.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
    }
  }

  def send(index: Int, payload: Array[Byte], scheduledNs: Long): Unit = {
    val s = new Sent(index, scheduledNs)
    sent.put(index, s)
    queue.put(Some((s, payload)))
  }

  def closeSenders(): Unit = {
    senders.foreach(_ => queue.put(None))
    senders.foreach(_.join(10000))
  }

  /** waits until the stream has consumed `files` requests; false on timeout */
  def awaitConsumed(files: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (streamCounters.consumedFiles.get < files && System.nanoTime() < deadline &&
      streamCounters.failure.isEmpty && query.isActive) Thread.sleep(5)
    streamCounters.consumedFiles.get >= files
  }

  /** export end of the first micro-batch by which `files` requests
    * had been consumed */
  def exportEndOfFile(files: Long): Option[Long] = {
    var cum = 0L
    streamCounters.all.find { b => cum += b.files; cum >= files }
      .flatMap(b => Option(exports.get(b.id))).map(_._2)
  }

  def spoolFiles: Int = Option(new java.io.File(spoolDir).list())
    .map(_.count(n => !n.startsWith(".") && n.endsWith(".pb"))).getOrElse(0)

  /** the sink's rows: per request, (rows, summed row hash, batch ids) */
  def readBack(): Map[Long, (Int, Long, Set[Int])] = {
    val df = spark.read.parquet(out)
    val rows = df.select("req", "time_unix_nano", "observed_time_unix_nano", "severity_number",
      "severity_text", "body", "attributes", "flags", "trace_id", "span_id",
      "resource_attributes", "scope_name", "batch_id").collect()
    rows.groupBy(_.getLong(0)).map { case (req, rs) =>
      req -> (rs.length, rs.map { r =>
        LogGen.rowHash(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getString(4),
          r.getString(5), r.getMap[String, String](6), r.getInt(7), r.getString(8),
          r.getString(9), r.getMap[String, String](10), r.getString(11))
      }.sum, rs.map(_.getInt(12)).toSet)
    }
  }

  def exportBytes: Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new java.io.File(out))
  }
}
