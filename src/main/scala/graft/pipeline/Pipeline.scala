package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Collector service-graph analog (reference: service/ — pipeline
  * assembly, fanout consumer; connector/forwardconnector).
  *
  * A collector config wires receivers → processors → exporters, with
  * receivers shared across pipelines through a fanout consumer that
  * clones data when a pipeline mutates it ("exclusive ownership").
  * DataFrames are immutable plans, so fanout is free sharing: every
  * pipeline builds its own lazy plan over the same source, and
  * Catalyst/AQE reuse the scan where profitable — the clone-on-fanout
  * machinery the Go runtime needs simply disappears.
  *
  * Stages compose as DataFrame → DataFrame functions; `Pipeline.run`
  * is one lazy plan, executed only by its exporter's action.
  */
object Pipeline {

  trait Receiver { def read(spark: SparkSession): DataFrame }
  final case class ParquetReceiver(path: String) extends Receiver {
    def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
  }
  final case class TableReceiver(dir: String, table: String) extends Receiver {
    def read(spark: SparkSession): DataFrame = graft.Tables(spark, dir, table)
  }
  final case class OtlpJsonLogReceiver(jsonPath: String) extends Receiver {
    def read(spark: SparkSession): DataFrame =
      graft.sources.OtlpJsonSource.parseLogs(
        spark.read.text(jsonPath).select(col("value").as("json")))
  }
  final case class OtlpPbLogReceiver(dir: String) extends Receiver {
    def read(spark: SparkSession): DataFrame =
      graft.sources.OtlpJsonSource.parseLogsPb(
        spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.pb") // skip `.meta` sidecars
          .load(dir)
          .select(col("content").as("pb")))
  }
  /** CONTINUOUS receivers — the same declarative pipeline under
    * readStream (the collector's always-on mode, config-reachable):
    * the Stage transforms are column transforms, so a streaming
    * receiver slots into the identical PipelineDef;
    * [[Service.runStreaming]] starts the queries. */
  final case class StreamJsonLogsReceiver(dir: String,
      maxFilesPerTrigger: Option[Int] = None) extends Receiver {
    def read(spark: SparkSession): DataFrame =
      graft.sources.OtlpJsonSource.streamLogs(spark, dir, maxFilesPerTrigger)
  }
  final case class StreamPbLogsReceiver(dir: String,
      maxFilesPerTrigger: Option[Int] = None) extends Receiver {
    def read(spark: SparkSession): DataFrame =
      graft.sources.OtlpJsonSource.streamLogsPb(spark, dir, maxFilesPerTrigger)
  }

  /** a receiver with out-of-band machinery to run (a scrape
    * schedule, a socket listener): [[Service.runStreaming]] starts it
    * before the queries; [[Service.stopReceivers]] tears it down
    * after they stop — the component Start/Shutdown lifecycle
    * receivers get in the reference host. */
  trait ReceiverLifecycle { def start(spark: SparkSession): Unit; def stop(): Unit }

  /** scraperhelper made config-reachable: a scrape controller pulls
    * JVM runtime metrics (the hostmetrics-style self-observation
    * scraper that needs no external target) onto a parquet spool on
    * `interval_ms`; the pipeline reads that spool as a STREAM with
    * the standard metric-point schema, so scraped points flow through
    * the same processors/exporters as pushed OTLP. The scrape itself
    * is a bounded driver-side snapshot (the scraper contract); the
    * distributed half is the streaming read downstream. */
  final case class ScrapeJvmReceiver(spoolDir: String,
      intervalMs: Long = 10000L, timeoutMs: Long = 30000L,
      maxFilesPerTrigger: Option[Int] = None) extends Receiver with ReceiverLifecycle {
    @transient @volatile private var controller: graft.streaming.Scrape.Controller = _
    def read(spark: SparkSession): DataFrame = {
      new java.io.File(spoolDir).mkdirs()
      graft.sources.Spool.parquetFiles(spark, spoolDir, graft.model.OtelModel.metricPointSchema,
        maxFilesPerTrigger)
    }
    def start(spark: SparkSession): Unit = synchronized {
      if (controller == null) {
        controller = new graft.streaming.Scrape.Controller(spark,
          Seq(new graft.streaming.Scrape.JvmScraper),
          spoolDir, collectionIntervalMs = intervalMs, timeoutMs = timeoutMs)
        controller.start() // immediate first scrape (scraperhelper)
      }
    }
    def stop(): Unit = synchronized {
      if (controller != null) { controller.stop(); controller = null }
    }
    /** WithTickerChannel surface for deterministic tests */
    def tickNow(): Long = {
      val c = controller
      require(c != null, "receiver not started")
      c.tick()
    }
    /** live per-scraper obsreport tallies (empty before start) — the
      * otelcol_scraper_{scraped,errored}_metric_points source */
    def scraperCounters: Map[String, Map[String, Long]] =
      Option(controller)
        .map(_.obs.map { case (k, o) => k -> o.counters })
        .getOrElse(Map.empty)
  }

  /** The LIVE OTLP transports as config-declared pipeline receivers —
    * the reference's `receivers: otlp: protocols: {http, grpc}` block
    * (otlpreceiver/config.go): the wire server starts with the
    * pipeline (ReceiverLifecycle), spools payloads, and the pipeline
    * plan is the STREAMING pb parse of that spool — wire → spool →
    * stream, the exact seam the live transport specs pin. Logs
    * signal; `tls:`/`auth:` blocks reuse the configtls/configauth
    * builders. Port 0 binds ephemerally ([[boundPort]] after start —
    * test/loopback use; a deployment declares the real port). */
  final case class OtlpHttpServerReceiver(port: Int, spoolDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      tls: Option[graft.sources.TlsConfig] = None,
      auth: Option[graft.sources.Auth.ServerAuthenticator] = None,
      includeMetadata: Boolean = false,
      // service::telemetry::traces::propagators — extracted trace
      // context rides the client-metadata sidecar (needs
      // include_metadata)
      propagator: Option[graft.sources.Propagators.TextMap] = None)
      extends Receiver with ReceiverLifecycle {
    @transient @volatile private var server: graft.sources.OtlpHttp.OtlpHttpReceiver = _
    def read(spark: SparkSession): DataFrame = {
      val dir = new java.io.File(spoolDir, "logs_pb")
      dir.mkdirs()
      graft.sources.OtlpJsonSource.streamLogsPb(spark, dir.toString,
        maxFilesPerTrigger)
    }
    def start(spark: SparkSession): Unit = synchronized {
      if (server == null)
        server = new graft.sources.OtlpHttp.OtlpHttpReceiver(port, spoolDir,
          tls = tls, auth = auth, includeMetadata = includeMetadata,
          propagator = propagator)
    }
    def stop(): Unit = synchronized {
      if (server != null) { server.stop(); server = null }
    }
    def boundPort: Int = {
      val s = server
      require(s != null, "receiver not started")
      s.boundPort
    }
    /** live obsreport counters (None before start) — the transports
      * shape healthFrame / the Prometheus endpoint consume */
    def counters: Option[Map[String, Long]] =
      Option(server).map(_.obs.counters)
  }

  /** Datagram line ingest as a config-declared receiver (the
    * syslog/statsd shape the confignet datagram transports exist
    * for): a [[graft.sources.UdpLines.Server]] spools each datagram's
    * newline-delimited lines as one text file; the pipeline reads the
    * spool as a STREAMING text source (schema: `value` string), so
    * datagram lines flow through the same processors/exporters as
    * pushed OTLP. Port 0 binds ephemerally ([[boundPort]] after
    * start). No tls/auth blocks: datagrams carry neither a handshake
    * nor headers — that is the protocol, not a gap. */
  final case class UdpLinesServerReceiver(port: Int, spoolDir: String,
      transport: ConfigNet.DatagramTransport = ConfigNet.Udp,
      maxDatagramBytes: Int = 65536, maxFilesPerTrigger: Option[Int] = None)
      extends Receiver with ReceiverLifecycle {
    @transient @volatile private var server: graft.sources.UdpLines.Server = _
    def read(spark: SparkSession): DataFrame = {
      val dir = new java.io.File(spoolDir, "lines")
      dir.mkdirs()
      graft.sources.Spool.textLines(spark, dir.toString, maxFilesPerTrigger)
    }
    def start(spark: SparkSession): Unit = synchronized {
      if (server == null)
        server = new graft.sources.UdpLines.Server(transport, port,
          spoolDir, maxDatagramBytes)
    }
    def stop(): Unit = synchronized {
      if (server != null) { server.stop(); server = null }
    }
    def boundPort: Int = {
      val s = server
      require(s != null, "receiver not started")
      s.boundPort
    }
    /** live obsreport counters (None before start) */
    def counters: Option[Map[String, Long]] =
      Option(server).map(_.obs.counters)
  }

  /** gRPC twin of [[OtlpHttpServerReceiver]] (the collector's primary
    * protocol as a config-declared receiver) */
  final case class OtlpGrpcServerReceiver(port: Int, spoolDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      tls: Option[graft.sources.TlsConfig] = None,
      auth: Option[graft.sources.Auth.ServerAuthenticator] = None,
      // confignet transport: tcp loopback (default) or unix socket
      transport: ConfigNet.Transport = ConfigNet.Tcp)
      extends Receiver with ReceiverLifecycle {
    @transient @volatile private var server: graft.sources.GrpcOtlp.OtlpGrpcReceiver = _
    def read(spark: SparkSession): DataFrame = {
      val dir = new java.io.File(spoolDir, "logs_pb")
      dir.mkdirs()
      graft.sources.OtlpJsonSource.streamLogsPb(spark, dir.toString,
        maxFilesPerTrigger)
    }
    def start(spark: SparkSession): Unit = synchronized {
      if (server == null)
        server = new graft.sources.GrpcOtlp.OtlpGrpcReceiver(port, spoolDir,
          tls = tls, auth = auth, transport = transport)
    }
    def stop(): Unit = synchronized {
      if (server != null) { server.stop(); server = null }
    }
    def boundPort: Int = {
      val s = server
      require(s != null, "receiver not started")
      s.boundPort
    }
    def counters: Option[Map[String, Long]] =
      Option(server).map(_.obs.counters)
  }

  /** Arrow-over-gRPC stream receiver as a config component: the
    * ArrowStreamService server spools self-contained IPC payloads
    * which stream through the Arrow parse path (the `<sig>_arrow`
    * twin of the pb spool receivers) */
  final case class OtlpArrowServerReceiver(port: Int, spoolDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      tls: Option[graft.sources.TlsConfig] = None,
      auth: Option[graft.sources.Auth.ServerAuthenticator] = None,
      // pair with an exporter's delta_dict: the plan becomes a BATCH
      // reassembly of the fragment spool (stream-grouped, seq-ordered
      // — fragments are not independently decodable, so a streaming
      // file tail cannot serve them; run-once pipelines fit)
      deltaStream: Boolean = false,
      // configgrpc max_recv_msg_size_mib analog, in bytes
      maxRecvMsgBytes: Long = graft.sources.Spool.MaxRequestBytes,
      // otel-arrow receiver admission block: bound on received-but-
      // not-yet-durable bytes (+ waiter cap); None = unbounded
      admissionBytes: Option[Long] = None,
      admissionWaiters: Int = 64,
      admissionWaitMs: Long = 1000L)
      extends Receiver with ReceiverLifecycle {
    @transient @volatile private var server: graft.sources.ArrowGrpc.ArrowGrpcReceiver = _
    def read(spark: SparkSession): DataFrame = {
      if (deltaStream) {
        val dir = new java.io.File(spoolDir, "logs_arrowstream")
        dir.mkdirs()
        graft.sources.ArrowGrpc.readStreamedSpool(spark, dir.toString,
          graft.sources.ArrowIpc.logsSchema(spark))
      } else {
        val dir = new java.io.File(spoolDir, "logs_arrow")
        dir.mkdirs()
        graft.sources.ArrowIpc.streamLogsSpool(spark, dir.toString,
          maxFilesPerTrigger)
      }
    }
    def start(spark: SparkSession): Unit = synchronized {
      if (server == null)
        server = new graft.sources.ArrowGrpc.ArrowGrpcReceiver(port, spoolDir,
          controller = admissionBytes.map(b =>
            new AdmissionController(b, admissionWaiters)),
          admissionWaitMs = admissionWaitMs,
          tls = tls, auth = auth,
          maxRecvMsgBytes = maxRecvMsgBytes,
          // a payload mode this receiver cannot re-ingest is refused
          // LOUDLY (InvalidArgument, permanent) — never acked durable
          // into a spool nothing reads
          expectDelta = Some(deltaStream))
    }
    def stop(): Unit = synchronized {
      if (server != null) { server.stop(); server = null }
    }
    def boundPort: Int = {
      val s = server
      require(s != null, "receiver not started")
      s.boundPort
    }
    def counters: Option[Map[String, Long]] =
      Option(server).map(_.obs.counters)
  }

  /** gzip'd pb spool (otlphttp transport compression on disk) */
  final case class OtlpPbGzLogReceiver(dir: String) extends Receiver {
    def read(spark: SparkSession): DataFrame =
      graft.sources.OtlpJsonSource.parseLogsPbGz(
        spark.read.format("binaryFile").load(dir)
          .select(col("content").as("pb")))
  }
  /** Arrow IPC spool (OTLP-over-Arrow wire seam, logs) */
  final case class ArrowLogsReceiver(dir: String) extends Receiver {
    def read(spark: SparkSession): DataFrame =
      graft.sources.ArrowLogsIpc.readSpool(spark, dir)
  }
  /** a reference pipeline's `receivers:` is a LIST — every receiver
    * feeds the same processor chain (service/pipelines: the fanin).
    * Frames union BY NAME so schema-compatible sources merge
    * regardless of column order; lifecycle members start/stop with
    * the pipeline. */
  final case class MultiReceiver(members: Seq[Receiver])
      extends Receiver with ReceiverLifecycle {
    require(members.nonEmpty, "receivers list must not be empty")
    def read(spark: SparkSession): DataFrame =
      members.map(_.read(spark)).reduce(_.unionByName(_))
    def start(spark: SparkSession): Unit = members.foreach {
      case l: ReceiverLifecycle => l.start(spark)
      case _ => ()
    }
    def stop(): Unit = members.foreach {
      case l: ReceiverLifecycle => l.stop()
      case _ => ()
    }
  }

  /** forwardconnector analog: this pipeline's source is another
    * pipeline's (lazy) output plan — Catalyst sees one combined plan,
    * so the bridged stages fuse and the scan is shared. */
  final case class ForwardReceiver(resolve: () => PipelineDef) extends Receiver {
    def read(spark: SparkSession): DataFrame = resolve().plan(spark)
  }
  /** fan-in: union several pipelines' outputs (schema-aligned) */
  final case class UnionReceiver(resolve: () => Seq[PipelineDef]) extends Receiver {
    def read(spark: SparkSession): DataFrame =
      resolve().map(_.plan(spark)).reduce(_ unionByName _)
  }
  /** client.Info producer seam (client/client.go:15-19: "receivers are
    * responsible for … storing a new client.Info into the context that
    * it passes down"): wrap any receiver and its request frame carries
    * the info as the `_client` column. An authenticator is the same
    * wrapper with `auth` populated (client.go:26-30). */
  final case class ClientInfoReceiver(inner: Receiver, info: ClientInfo)
      extends Receiver {
    def read(spark: SparkSession): DataFrame =
      ClientInfo.attach(inner.read(spark), info)
  }

  type Stage = DataFrame => DataFrame

  trait Exporter {
    def export(df: DataFrame): Unit
    /** Streaming delivery: export one micro-batch idempotently. A
      * replayed batchId must overwrite its own previous output (and
      * only that), never the whole sink — the default delegates to
      * [[export]], which is only safe for sinks that key on batchId
      * themselves or collect (specs). */
    def exportBatch(df: DataFrame, batchId: Long): Unit = export(df)
    /** component Shutdown half for exporters that hold live resources
      * (pooled sockets, encoder allocators). File-writing exporters
      * have nothing to release — the default is a no-op; WRAPPER
      * exporters must forward to their delegate or a wrapped
      * stream-pool exporter never hears service stop. Invoked by
      * [[Service.shutdownExporters]] after receivers stop, before
      * extensions shut down (the reference teardown order). */
    def shutdown(): Unit = ()
  }
  final case class ParquetExporter(path: String, mode: String = "overwrite",
                                   codec: String = "zstd",
                                   partitionBy: Seq[String] = Nil) extends Exporter {
    // codec ≈ the otel-arrow transport compression knob; partitionBy
    // gives partition-pruned reads downstream (scan only the hours /
    // services a query touches)
    def export(df: DataFrame): Unit = {
      val w = df.write.mode(mode).option("compression", codec)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    }
    /** each micro-batch lands in its own batchId-keyed subdirectory,
      * overwritten whole on replay → effectively-once delivery */
    override def exportBatch(df: DataFrame, batchId: Long): Unit =
      copy(path = s"$path/batch_id=$batchId", mode = "overwrite").export(df)
  }

  /** client.Info consumer seam: deliver each metadata-value
    * combination to its own partition directory — the batch
    * processor's per-shard export with the metadata in the outgoing
    * context (batch_processor.go:297-299 "copy it into the outgoing
    * metadata"), re-expressed as the lake's native per-tenant layout.
    * Values are recoverable from the path; the `_client` carrier
    * itself is stripped (a sink sees data + the metadata it was keyed
    * by, not the whole transport context). One job writes every
    * combination — no per-tenant loop, no cardinality-many actions.
    * Partition values use ClientInfo.metadataPartitionValue's
    * sentinel+prefix encoding: the parquet writer folds both NULL and
    * "" into __HIVE_DEFAULT_PARTITION__, which would otherwise erase
    * the unset-vs-set-empty distinction the ClientInfo layer
    * preserves; decode paths with metadataPartitionDecode. */
  final case class MetadataPartitionedExporter(path: String,
                                               metaKeys: Seq[String],
                                               codec: String = "zstd")
      extends Exporter {
    private def inner = ParquetExporter(path, codec = codec,
      partitionBy = metaKeys.map(k => s"meta_${k.toLowerCase}"))
    private def materialize(df: DataFrame): DataFrame =
      ClientInfo.strip(metaKeys.foldLeft(df)((d, k) =>
        d.withColumn(s"meta_${k.toLowerCase}",
          ClientInfo.metadataPartitionValue(k))))
    def export(df: DataFrame): Unit = inner.export(materialize(df))
    override def exportBatch(df: DataFrame, batchId: Long): Unit =
      inner.exportBatch(materialize(df), batchId)
  }

  /** exporterhelper retry backoff (reference: the retry sender's
    * configurable exponential backoff — initial interval, multiplier,
    * max interval, randomization factor): delay for attempt n is
    * min(max, initial·multiplier^n) scaled by a DETERMINISTIC jitter
    * in [1−r, 1+r] derived from (seed, attempt) — the jitter's
    * purpose (de-synchronizing a fleet of retriers) only needs
    * per-sender variation, and a seeded value keeps replays
    * reproducible where a shared RNG would not be. */
  def backoffDelayMs(initialMs: Long, attempt: Int, multiplier: Double = 2.0,
                     maxMs: Long = 30000, randomization: Double = 0.5,
                     seed: Long = 0L): Long = {
    val base = math.min(maxMs.toDouble,
      initialMs.toDouble * math.pow(multiplier, (attempt - 1).max(0)))
    val u = new java.util.SplittableRandom(seed * 31L + attempt).nextDouble()
    math.max(0L, math.round(base * (1.0 - randomization + 2.0 * randomization * u)))
  }

  /** exporterhelper retry semantics (reference: exporter/exporterhelper
    * queue+retry+timeout): bounded retries with exponential backoff
    * around a delegate exporter. Spark actions are idempotent re-runs
    * of the same lazy plan, so retrying the export IS retrying the
    * batch.
    */
  final case class RetryingExporter(delegate: Exporter, maxRetries: Int = 3,
                                    backoffMs: Long = 100,
                                    multiplier: Double = 2.0,
                                    maxBackoffMs: Long = 30000) extends Exporter {
    override def shutdown(): Unit = delegate.shutdown()
    // instance-unique jitter nonce: two sender instances retrying the
    // SAME batch must compute DIFFERENT delays, or the jitter never
    // de-synchronizes the fleet — (batchId, attempt) alone is shared
    // state across every instance
    private val jitterNonce: Long =
      java.util.concurrent.ThreadLocalRandom.current().nextLong()
    def export(df: DataFrame): Unit = retry(() => delegate.export(df), jitterNonce)
    // forward the batchId so a retried micro-batch keeps its idempotent
    // per-batch keying (dropping it would clobber the whole sink)
    override def exportBatch(df: DataFrame, batchId: Long): Unit =
      retry(() => delegate.exportBatch(df, batchId), jitterNonce ^ batchId)
    private def retry(f: () => Unit, seed: Long): Unit = {
      var attempt = 0
      var done = false
      while (!done) {
        try { f(); done = true }
        catch {
          // permanent errors skip the retry budget (exporterhelper's
          // consumererror.Permanent): re-sending a rejected payload
          // burns maxRetries delays to reach the same 4xx
          case scala.util.control.NonFatal(e)
              if attempt < maxRetries && findInCauses[PermanentExportException](e).isEmpty =>
            attempt += 1
            // a throttling server's Retry-After (OTLP 429/503)
            // OVERRIDES the local backoff — the server knows its own
            // recovery horizon better than our exponential guess
            val delay = findInCauses[ThrottledExportException](e)
              .map(_.retryAfterMs).filter(_ > 0L)
              .getOrElse(backoffDelayMs(backoffMs, attempt, multiplier,
                maxBackoffMs, seed = seed))
            Thread.sleep(delay)
        }
      }
    }
  }

  /** walk the cause chain (Spark wraps task failures) for a marker
    * exception type */
  private def findInCauses[T <: Throwable](e: Throwable)(
      implicit ct: scala.reflect.ClassTag[T]): Option[T] = {
    var c: Throwable = e
    var hops = 0
    while (c != null && hops < 20) {
      c match {
        case t: T => return Some(t)
        case _ => ()
      }
      c = c.getCause
      hops += 1
    }
    None
  }

  /** OTLP throttling (429/503 + Retry-After): retryable, and the
    * server-provided delay should replace the local backoff — the
    * reference's exporterhelper.NewThrottleRetry. retryAfterMs == 0
    * means "retryable, no server hint" (502/504). */
  final class ThrottledExportException(msg: String, val retryAfterMs: Long)
      extends RuntimeException(msg)
  /** exporterhelper queued-retry analog (reference:
    * exporter/exporterhelper/queued_retry.go — queue + retry +
    * dead-letter): bounded retries with backoff; when they exhaust,
    * the batch lands in a dead-letter parquet sink instead of
    * failing the pipeline. The persistent-queue half of the
    * reference maps onto the streaming checkpoint, which already
    * replays unacked batches (see StreamingPipelines.exportStream) —
    * this exporter adds the poison-batch exit so one bad batch can't
    * wedge the queue forever.
    */
  /** marker for errors the reference's exporterhelper calls permanent:
    * retrying cannot help (bad payload, schema rejection) — go
    * straight to the dead letter queue */
  final class PermanentExportException(msg: String, cause: Throwable = null)
      extends RuntimeException(msg, cause)

  /** OTLP partial success (reference: the Export*PartialSuccess
    * response message — `rejected_log_records`/`rejected_data_points`
    * + error_message — which exporterhelper surfaces instead of
    * all-or-nothing): a sink throws this from exportBatch AFTER
    * durably accepting every row NOT selected by `rejected`. The
    * wrapping queue then re-enqueues ONLY the rejected slice —
    * re-sending accepted rows would duplicate them server-side.
    * `rejected` must be a deterministic predicate of the data (the
    * same rows reject on a replay), like every split in the replay
    * path.
    *
    * CONTRACT — partial success is for APPEND/MERGE sinks only: the
    * retry re-invokes exportBatch with the SAME batchId on the
    * rejected-only slice, so a sink following the batchId-keyed
    * OVERWRITE replay idiom (e.g. ParquetExporter's
    * `batch_id=N` overwrite) would clobber the rows it just accepted
    * with only the rejected slice. That is not a composition bug but
    * a contradiction in the sink itself: throwing this exception IS
    * the claim "I durably keep accepted rows across subsequent
    * deliveries of this batch" — a sink whose replay semantics are
    * whole-batch overwrite cannot truthfully make it, and must use
    * plain failure (full-batch retry) instead. */
  final class PartialSuccessException(val rejected: org.apache.spark.sql.Column,
                                      msg: String)
      extends RuntimeException(msg)

  /** obsreport-style counters for a queued exporter (reference:
    * obsreport/obsreport_exporter.go sent/failed split + DLQ depth).
    * Thread-safe — one instance can observe a streaming query's
    * concurrent batches. */
  final class QueueObs {
    val delivered = new java.util.concurrent.atomic.AtomicLong
    val retries = new java.util.concurrent.atomic.AtomicLong
    val deadLetteredBatches = new java.util.concurrent.atomic.AtomicLong
    val deadLetteredRows = new java.util.concurrent.atomic.AtomicLong
    /** batches that came back as OTLP partial success (some rows
      * rejected, remainder re-enqueued) — the obsreport split the
      * reference surfaces for send_failed vs enqueue_failed */
    val partialSuccesses = new java.util.concurrent.atomic.AtomicLong
  }

  final case class QueuedExporter(delegate: Exporter, dlqPath: String,
                                  maxRetries: Int = 2, backoffMs: Long = 50,
                                  obs: Option[QueueObs] = None)
      extends Exporter {
    override def shutdown(): Unit = delegate.shutdown()
    // a batch-mode export must NOT reroute through the batchId-keyed
    // layout — the delegate's own path/shape stays untouched
    def export(df: DataFrame): Unit =
      deliver(df, d => delegate.export(d), s"$dlqPath/batch")
    override def exportBatch(df: DataFrame, batchId: Long): Unit =
      deliver(df, d => delegate.exportBatch(d, batchId), s"$dlqPath/batch_id=$batchId")

    private def deliver(df0: DataFrame, attemptF: DataFrame => Unit,
                        dlqDir: String): Unit = {
      var df = df0
      var attempt = 0
      var delivered = false
      var lastErr: Throwable = null
      while (!delivered && attempt <= maxRetries) {
        try { attemptF(df); delivered = true }
        catch {
          // fatal JVM errors and interrupts propagate (a stopping
          // stream must not divert its in-flight batch to the DLQ)
          case e: PermanentExportException =>
            lastErr = e; attempt = maxRetries + 1
          case e: PartialSuccessException =>
            // the sink accepted the rest — only the rejected slice
            // retries (and only it may dead-letter)
            lastErr = e
            df = df.filter(e.rejected)
            attempt += 1
            obs.foreach { o =>
              o.partialSuccesses.incrementAndGet()
              o.retries.incrementAndGet()
            }
            if (attempt <= maxRetries) Thread.sleep(backoffMs * attempt)
          case scala.util.control.NonFatal(e) =>
            lastErr = e
            attempt += 1
            obs.foreach(_.retries.incrementAndGet())
            if (attempt <= maxRetries) Thread.sleep(backoffMs * attempt)
        }
      }
      if (!delivered) {
        // row count only on the failure path — one extra job per
        // dead-lettered batch, zero cost on healthy deliveries
        obs.foreach { o =>
          o.deadLetteredBatches.incrementAndGet()
          o.deadLetteredRows.addAndGet(df.count())
        }
        df.withColumn("dlq_error", lit(String.valueOf(lastErr.getMessage)))
          .write.mode("overwrite").parquet(dlqDir)
      } else obs.foreach(_.delivered.incrementAndGet())
    }
  }

  /** exporterhelper timeout sender (reference: exporter/exporterhelper
    * — the timeout half of queue+retry+timeout): bound the wall clock
    * of ONE delivery attempt. The export action runs on a daemon
    * thread under a dedicated job group; on budget exhaustion the job
    * group is cancelled (running Spark stages abort — a hung scan
    * cannot wedge the pipeline) and a retryable error surfaces to the
    * wrapping retry/queue layer, which composes exactly like the
    * reference's sender chain:
    * PersistentQueueExporter(TimeoutExporter(sink)). */
  final case class TimeoutExporter(delegate: Exporter, timeoutMs: Long)
      extends Exporter {
    override def shutdown(): Unit = delegate.shutdown()
    def export(df: DataFrame): Unit =
      run(df.sparkSession, () => delegate.export(df))
    override def exportBatch(df: DataFrame, batchId: Long): Unit =
      run(df.sparkSession, () => delegate.exportBatch(df, batchId))
    private def run(spark: SparkSession, f: () => Unit): Unit = {
      val group = s"graft-timeout-${java.util.UUID.randomUUID()}"
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(group, "timeout-bounded export",
            interruptOnCancel = true)
          f()
        } catch { case e: Throwable => err.set(e) }
        finally spark.sparkContext.clearJobGroup()
      })
      t.setDaemon(true)
      t.start()
      t.join(timeoutMs)
      if (t.isAlive) {
        spark.sparkContext.cancelJobGroup(group)
        throw new RuntimeException(
          s"export exceeded its ${timeoutMs} ms budget — job group cancelled, " +
            "error is retryable by the wrapping queue")
      }
      if (err.get != null) throw err.get
    }
  }

  /** What a [[PersistentQueueExporter.recover]] pass did: batches
    * redelivered, batches that failed again and stay queued, batches
    * whose attempt budget exhausted and moved to the DLQ. */
  final case class RecoveryStats(redelivered: Long, stillPending: Long,
                                 deadLettered: Long)

  /** exporterhelper persistent-queue analog (reference:
    * exporter/exporterhelper/internal/persistent_queue.go:25 +
    * persistent_storage.go — the file-storage-backed queue that
    * survives a collector crash with accepted-but-undelivered
    * batches). Accepting a batch durably SPOOLS it to parquet BEFORE
    * the first delivery attempt; only successful delivery dequeues it,
    * so a crash anywhere between accept and final retry redelivers on
    * restart instead of losing the batch.
    *
    * Layout under queueDir:
    *  - `seq` — persistent monotonic batch-id counter (the queue's
    *    write index; never reused, so a redelivered id can only
    *    overwrite ITS OWN prior output downstream)
    *  - `pending/batch_id=<id>/` — the spooled batch. The parquet
    *    `_SUCCESS` marker is the enqueue commit: a crash mid-spool
    *    leaves no marker and the accept never happened (the caller
    *    never saw success), so recover() deletes it.
    *  - `pending/batch_id=<id>.attempts` — delivery attempts so far,
    *    persisted ACROSS restarts; when it exceeds
    *    maxAttemptsPerBatch the batch is a poison pill and moves to
    *  - `dlq/batch_id=<id>/` — instead of wedging the queue forever.
    *
    * A crash AFTER delegate delivery but BEFORE dequeue redelivers on
    * restart — safe because the Exporter contract keys on batchId
    * (replay overwrites its own previous output only), the same
    * effectively-once discipline the streaming checkpoint path relies
    * on. Queue METADATA (seq, attempt counters) is driver-local and
    * tiny, like the collector's storage client; the batch DATA is a
    * distributed parquet spool — executors never serialize through
    * the driver.
    */
  final case class PersistentQueueExporter(
      delegate: Exporter, queueDir: String,
      maxAttemptsPerBatch: Int = 6, retriesPerRun: Int = 1,
      backoffMs: Long = 25, capacity: Int = 1024,
      capacityBytes: Long = 0L,
      obs: Option[QueueObs] = None,
      ledgerCompactEvery: Long = 1024L,
      // QueueSettings.NumConsumers (exporterhelper/queued_retry.go:39):
      // parallel drain of INDEPENDENT pending batches on recovery.
      // Safe because every batch is its own spool dir + attempts file
      // and the sink contract keys on batchId — consumers never touch
      // the same state.
      numConsumers: Int = 1) extends Exporter {
    override def shutdown(): Unit = delegate.shutdown()
    import org.apache.hadoop.fs.{FileSystem, Path}

    private def fs(spark: SparkSession): FileSystem =
      new Path(queueDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def pendingDir(id: Long) = new Path(s"$queueDir/pending/batch_id=$id")
    private def attemptsFile(id: Long) = new Path(s"$queueDir/pending/batch_id=$id.attempts")
    private def dlqDir(id: Long) = new Path(s"$queueDir/dlq/batch_id=$id")

    def export(df: DataFrame): Unit =
      enqueueAndAttempt(df, nextId(df.sparkSession))
    override def exportBatch(df: DataFrame, batchId: Long): Unit =
      enqueueAndAttempt(df, batchId)

    /** accept = durable enqueue (throws only on queue-full — the
      * reference's refused-data backpressure signal, with BOTH sizers
      * of the exporterhelper queue: item count and, when
      * capacityBytes > 0, spooled bytes); a delivery failure after a
      * successful enqueue does NOT throw: the batch is safe on disk
      * and recover() will redeliver it. */
    private def enqueueAndAttempt(df: DataFrame, id: Long): Unit = {
      val f = fs(df.sparkSession)
      val pend = new Path(s"$queueDir/pending")
      if (f.exists(pend)) {
        if (f.listStatus(pend).count(_.isDirectory) >= capacity)
          throw new IllegalStateException(
            s"persistent queue full ($capacity batches pending) — refusing data")
        if (capacityBytes > 0) {
          // the bytes sizer measures what is actually spooled —
          // observed on-disk size, the only portable batch-bytes
          // signal (one FS content scan per accept, driver-side tiny)
          val used = f.getContentSummary(pend).getLength
          if (used >= capacityBytes)
            throw new IllegalStateException(
              s"persistent queue full ($used of $capacityBytes bytes" +
                " pending) — refusing data")
        }
      }
      df.write.mode("overwrite").parquet(pendingDir(id).toString)
      attemptDelivery(df.sparkSession, id, df)
    }

    /** redeliver every complete pending spool (call on restart — the
      * persistent_storage "requeue unprocessed items" pass). Partial
      * spools (no _SUCCESS: crash mid-enqueue, accept never returned)
      * are deleted, not delivered. Interrupted partial-success spool
      * swaps finish FIRST: a committed `.swap` (it has _SUCCESS, so
      * the sink already accepted everything outside it) replaces the
      * full spool; an uncommitted one is discarded and the full spool
      * redelivers — the sink's idempotent keying absorbs the rows it
      * already accepted. */
    def recover(spark: SparkSession): RecoveryStats = {
      val f = fs(spark)
      val pend = new Path(s"$queueDir/pending")
      if (!f.exists(pend)) return RecoveryStats(0, 0, 0)
      for (s <- f.listStatus(pend) if s.isDirectory
           && s.getPath.getName.endsWith(".swap")) {
        val id = s.getPath.getName
          .stripPrefix("batch_id=").stripSuffix(".swap").toLong
        if (!f.exists(new Path(s.getPath, "_SUCCESS"))) f.delete(s.getPath, true)
        else {
          f.delete(pendingDir(id), true)
          f.rename(s.getPath, pendingDir(id))
        }
      }
      val ids = f.listStatus(pend).filter(_.isDirectory)
        .map(_.getPath.getName).filterNot(_.endsWith(".swap"))
        .map(_.stripPrefix("batch_id=").toLong).sorted
      // partial spools (crash mid-enqueue) are discarded serially —
      // cheap metadata checks — so the consumer pool sees only
      // complete, independent batches
      val complete = ids.filter { id =>
        if (f.exists(new Path(pendingDir(id), "_SUCCESS"))) true
        else {
          f.delete(pendingDir(id), true)
          f.delete(attemptsFile(id), false)
          false
        }
      }
      val re = new java.util.concurrent.atomic.AtomicLong
      val still = new java.util.concurrent.atomic.AtomicLong
      val dead = new java.util.concurrent.atomic.AtomicLong
      def deliver(id: Long): Unit =
        attemptDelivery(spark, id,
            spark.read.parquet(pendingDir(id).toString)) match {
          case Delivered    => re.incrementAndGet(); ()
          case StillPending => still.incrementAndGet(); ()
          case DeadLettered => dead.incrementAndGet(); ()
        }
      if (numConsumers <= 1 || complete.length <= 1) complete.foreach(deliver)
      else {
        // NumConsumers parallel drain: batches are independent by
        // construction (own spool dir, own attempts file, batchId-keyed
        // sink), so consumers share nothing but the instance counters
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(numConsumers, complete.length))
        try complete.map(id => pool.submit(new Runnable {
            def run(): Unit = deliver(id)
          })).foreach(_.get())
        finally pool.shutdown()
      }
      RecoveryStats(re.get, still.get, dead.get)
    }

    private sealed trait Outcome
    private case object Delivered extends Outcome
    private case object StillPending extends Outcome
    private case object DeadLettered extends Outcome

    private def attemptDelivery(spark: SparkSession, id: Long,
                                df0: DataFrame): Outcome = {
      val f = fs(spark)
      var df = df0
      var triesThisRun = 0
      while (triesThisRun <= retriesPerRun) {
        val total = bumpAttempts(f, id)
        if (total > maxAttemptsPerBatch) return deadLetter(spark, id)
        try {
          delegate.exportBatch(df, id)
          f.delete(pendingDir(id), true)
          f.delete(attemptsFile(id), false)
          obs.foreach(_.delivered.incrementAndGet())
          return Delivered
        } catch {
          case e: PartialSuccessException =>
            // the sink durably accepted everything outside
            // e.rejected — shrink the pending spool to just the
            // rejected slice so ONLY it redelivers (this run or after
            // a restart); re-sending accepted rows would duplicate
            // them at the sink
            df = shrinkSpool(spark, id, df.filter(e.rejected))
            obs.foreach { o =>
              o.partialSuccesses.incrementAndGet()
              o.retries.incrementAndGet()
            }
            triesThisRun += 1
            if (triesThisRun <= retriesPerRun) Thread.sleep(backoffMs * triesThisRun)
          case _: PermanentExportException => return deadLetter(spark, id)
          case scala.util.control.NonFatal(_) =>
            obs.foreach(_.retries.incrementAndGet())
            triesThisRun += 1
            if (triesThisRun <= retriesPerRun) Thread.sleep(backoffMs * triesThisRun)
        }
      }
      StillPending // durable on disk; the next recover() retries it
    }

    /** crash-safe spool shrink (the partial-success re-enqueue):
      * write the remainder to `batch_id=<id>.swap` (its _SUCCESS is
      * the commit), then swap it in. A crash anywhere leaves either
      * the full spool (uncommitted swap — discarded on recover, full
      * redelivery, idempotent at the sink) or the committed swap
      * (recover finishes the rename) — the remainder is never lost
      * and accepted rows never redeliver after the commit point. */
    private def shrinkSpool(spark: SparkSession, id: Long,
                            remainder: DataFrame): DataFrame = {
      val f = fs(spark)
      val swap = new Path(s"$queueDir/pending/batch_id=$id.swap")
      remainder.write.mode("overwrite").parquet(swap.toString)
      f.delete(pendingDir(id), true)
      f.rename(swap, pendingDir(id))
      spark.read.parquet(pendingDir(id).toString)
    }

    private def deadLetter(spark: SparkSession, id: Long): Outcome = {
      val f = fs(spark)
      obs.foreach { o =>
        o.deadLetteredBatches.incrementAndGet()
        o.deadLetteredRows.addAndGet(
          spark.read.parquet(pendingDir(id).toString).count())
      }
      f.mkdirs(new Path(s"$queueDir/dlq"))
      if (f.exists(dlqDir(id))) f.delete(dlqDir(id), true)
      f.rename(pendingDir(id), dlqDir(id))
      f.delete(attemptsFile(id), false)
      DeadLettered
    }

    private def bumpAttempts(f: FileSystem, id: Long): Int = synchronized {
      val p = attemptsFile(id)
      val cur = readNum(f, p, 0L).toInt + 1
      writeNum(f, p, cur.toLong)
      cur
    }
    /** Id allocation is arbitrated by the FILESYSTEM, not a JVM lock:
      * create(path, overwrite=false) on a per-id claim file is atomic
      * on HDFS-like stores, so two exporter instances over the same
      * queueDir (a service rebuilt from config racing a still-live
      * instance) can never both win one id — the instance-level
      * synchronized only serializes threads within this instance.
      * Claim files are the ledger that makes ids unreusable —
      * deleting one would let a stale-hint instance re-issue the id
      * and overwrite a delivered batch downstream; compaction may
      * delete them ONLY below a monotone floor marker that asserts
      * the same claim permanently. `seq` is just a fast-path hint
      * past the claimed prefix. */
    /** legacy single-file floor (pre-r8 layout): still read (max'd in)
      * so an upgraded instance over an old queueDir keeps its floor */
    private def legacyFloorFile = new Path(s"$queueDir/ids/floor")
    /** effective floor = max over exclusive-create `floor_<id>`
      * markers. Markers are never overwritten, so the floor is
      * MONOTONE by construction: a slow compactor that lost the race
      * can only add a *lower* marker, which max-of-markers ignores —
      * it can never drag the floor back below ids whose claim files a
      * faster peer already deleted (the r7 overwriting single-file
      * floor allowed exactly that regression, re-opening id reuse). */
    private def readFloor(f: FileSystem): Long = {
      val markers =
        try f.listStatus(new Path(s"$queueDir/ids")).iterator
          .map(_.getPath.getName)
          .filter(_.startsWith("floor_"))
          .map(_.stripPrefix("floor_").toLong)
          .foldLeft(0L)(math.max)
        catch { case scala.util.control.NonFatal(_) => 0L }
      math.max(markers, readNum(f, legacyFloorFile, 0L))
    }
    private def nextId(spark: SparkSession): Long = synchronized {
      val f = fs(spark)
      val hint = new Path(s"$queueDir/seq")
      f.mkdirs(new Path(s"$queueDir/ids"))
      var floor = readFloor(f)
      var id = math.max(readNum(f, hint, 0L), floor)
      var claimed = false
      while (!claimed) {
        if (claimId(f, id)) {
          // re-check the floor AFTER a successful claim: a concurrent
          // compaction may have deleted this id's ORIGINAL claim file
          // (making our exclusive-create succeed on an already-used
          // id). The compactor writes the floor BEFORE deleting, so a
          // claim that lands below the re-read floor is void.
          val fl = readFloor(f)
          if (id >= fl) claimed = true
          else { floor = fl; id = fl }
        } else id += 1
      }
      // best-effort hint; claims arbitrate — a concurrent writer may
      // collide here and that's fine
      try writeNum(f, hint, id + 1)
      catch { case scala.util.control.NonFatal(_) => () }
      // ledger compaction: ids are claimed in a gap-free scan from the
      // hint (a claim at N implies every id < N was observed claimed),
      // so raising the floor to the just-claimed id and dropping the
      // claim files below it loses no information — ids below the
      // floor are permanently claimed by the marker alone. Marker
      // first, delete second: a crash between the two leaves extra
      // claim files, never a reusable id. Lower floor markers (and a
      // lower legacy floor file) are retired in the same sweep — the
      // effective floor is the max, so dropping them changes nothing.
      if (id - floor >= ledgerCompactEvery) {
        try {
          exclusiveCreate(f, new Path(s"$queueDir/ids/floor_$id"))
          for (s <- f.listStatus(new Path(s"$queueDir/ids"));
               n = s.getPath.getName) {
            if (n.startsWith("id_") && n.stripPrefix("id_").toLong < id)
              f.delete(s.getPath, false)
            else if (n.startsWith("floor_") && n.stripPrefix("floor_").toLong < id)
              f.delete(s.getPath, false)
          }
          if (readNum(f, legacyFloorFile, 0L) < id)
            f.delete(legacyFloorFile, false)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      id
    }
    /** one atomic exclusive-create per id; Hadoop's LocalFileSystem
      * create(overwrite=false) is check-then-create, so the file:
      * scheme goes through NIO's O_EXCL createFile instead. ONLY an
      * already-exists outcome means "claimed" — any other IOException
      * is a real FS failure (outage, auth) and must propagate, or id
      * allocation would spin forever burning ids with no backoff
      * while the store is down. */
    private def claimId(f: FileSystem, id: Long): Boolean =
      exclusiveCreate(f, new Path(s"$queueDir/ids/id_$id"))
    private def exclusiveCreate(f: FileSystem, p: Path): Boolean =
      if ("file" == f.getUri.getScheme)
        try { java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else
        try { f.create(p, false).close(); true }
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    /** best-effort read: another live instance may be overwriting the
      * file this instant (torn read / checksum mismatch on local FS)
      * — fall back to the default rather than fail; correctness never
      * rests on these values (ids are arbitrated by claim files, and
      * an attempt undercount only grants a retry). */
    private def readNum(f: FileSystem, p: Path, dflt: Long): Long =
      try {
        if (!f.exists(p)) dflt
        else {
          val in = f.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
          finally in.close()
        }
      } catch { case scala.util.control.NonFatal(_) => dflt }
    private def writeNum(f: FileSystem, p: Path, v: Long): Unit = {
      val out = f.create(p, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** OTLP-over-Arrow exporter analog: the pipeline's output lands as
    * Arrow IPC spool files (one record batch per file, executor-side
    * writes) that an otel-arrow consumer — or [[ArrowLogsReceiver]] —
    * ingests directly */
  final case class ArrowSpoolExporter(dir: String, maxPerFile: Int = 4096,
                                      dictCap: Int = 0, codec: String = "none")
      extends Exporter {
    def export(df: DataFrame): Unit =
      graft.sources.ArrowIpc.spool(df, dir, maxPerFile, dictCap, codec)
    /** replayed batchIds must OVERWRITE their previous output (the
      * Exporter contract) — spool file names are task-unique, so the
      * batch directory is cleared first or a crash-replay would leave
      * the batch's rows spooled twice */
    override def exportBatch(df: DataFrame, batchId: Long): Unit = {
      val batchDir = s"$dir/batch_id=$batchId"
      val p = new org.apache.hadoop.fs.Path(batchDir)
      val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      graft.sources.ArrowIpc.spool(df, batchDir, maxPerFile, dictCap, codec)
    }
  }

  /** OTLP-over-Arrow stream RUNTIME analog (reference:
    * exporter/otlpexporter/internal/arrow/exporter.go:120-233 —
    * numStreams concurrent Arrow streams; prioritizer.go:27 — a
    * first-available prioritizer handing each batch to whichever
    * stream is ready; exporter.go:158-165 — downgrade to standard
    * OTLP when Arrow fails). Each pool slot is a long-lived stream
    * identity with its own spool subdirectory (the per-stream gRPC
    * channel); export blocks until a slot frees (SendAndWait on the
    * ready channel — natural backpressure), writes the batch as an
    * Arrow IPC payload on that stream, and returns the slot.
    *
    * Downgrade, two granularities like the reference:
    *  - a batch whose Arrow encode fails falls back to the plain-pb
    *    spool for THAT batch (partial output is cleaned first so a
    *    half-written Arrow batch can never double-ingest);
    *  - `downgradeAfter` CONSECUTIVE failures downgrade the whole
    *    pool (the stream controller closing the prioritizer channel),
    *    after which every batch takes the pb path without attempting
    *    Arrow. A pool-wide downgrade never loses data — both spools
    *    re-ingest into one dataset via [[ArrowStreamPoolExporter.readLogs]].
    *
    * `arrowWrite`/`pbEncode` are injectable for fault-injection specs
    * and for non-log signals (writeSpansPb / writeMetricsPb). */
  final class ArrowStreamPoolExporter(
      dir: String, numStreams: Int = 4,
      dictCap: Int = 0, codec: String = "none", maxPerFile: Int = 4096,
      downgradeAfter: Int = 3,
      pbEncode: DataFrame => DataFrame =
        df => graft.sources.OtlpJsonSource.writeLogsPb(df),
      arrowWrite: (DataFrame, String, Int, Int, String) => Unit =
        graft.sources.ArrowIpc.spool(_, _, _, _, _)) extends Exporter {
    private val ready = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    (0 until numStreams).foreach(i => ready.put(i))
    private val consecutiveFailures = new java.util.concurrent.atomic.AtomicInteger
    @volatile private var poolDowngraded = false
    /** telemetry: batches per path, pool state */
    val arrowBatches = new java.util.concurrent.atomic.AtomicLong
    val pbBatches = new java.util.concurrent.atomic.AtomicLong
    def isDowngraded: Boolean = poolDowngraded

    // ad-hoc exports get a globally unique name — an instance-local
    // counter would collide across two instances over one dir and
    // the overwrite semantics would silently drop a batch. Streaming
    // replay keeps the deterministic batch_id=N keying.
    def export(df: DataFrame): Unit =
      deliver(df, s"adhoc-${java.util.UUID.randomUUID()}")
    override def exportBatch(df: DataFrame, batchId: Long): Unit =
      deliver(df, s"batch_id=$batchId")
    private def deliver(df: DataFrame, batchDir: String): Unit = {
      if (!poolDowngraded) {
        val slot = ready.take() // first-available; blocks = backpressure
        val target = s"$dir/arrow/stream-$slot/$batchDir"
        try {
          deleteDir(df.sparkSession, target) // replay overwrites itself
          arrowWrite(df, target, maxPerFile, dictCap, codec)
          consecutiveFailures.set(0)
          arrowBatches.incrementAndGet()
          return
        } catch {
          case scala.util.control.NonFatal(_) =>
            // a failed encode may have spooled partial files — remove
            // them or the pb fallback would double-deliver those rows
            deleteDir(df.sparkSession, target)
            if (consecutiveFailures.incrementAndGet() >= downgradeAfter)
              poolDowngraded = true
        } finally ready.put(slot)
      }
      pbEncode(df).write.mode("overwrite").parquet(s"$dir/pb/$batchDir")
      pbBatches.incrementAndGet()
    }

    private def deleteDir(spark: SparkSession, path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }
  object ArrowStreamPoolExporter {
    /** re-ingest BOTH spools as one logs dataset — the receiving side
      * of a mixed arrow/pb export (a downgraded peer sees standard
      * OTLP; an arrow-capable one decodes IPC; rows are identical). */
    def readLogs(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.hadoop.fs.Path
      val schema = graft.sources.ArrowIpc.logsSchema(spark)
      val conf = spark.sparkContext.hadoopConfiguration
      def empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      val arrowDir = new Path(s"$dir/arrow")
      val arrow =
        if (arrowDir.getFileSystem(conf).exists(arrowDir))
          graft.sources.ArrowIpc.parse(
            spark.read.format("binaryFile")
              .option("recursiveFileLookup", "true").load(arrowDir.toString)
              .select(col("content").as("ipc")), schema)
        else empty
      val pbDir = new Path(s"$dir/pb")
      val pb =
        if (pbDir.getFileSystem(conf).exists(pbDir))
          graft.sources.OtlpJsonSource.parseLogsPb(
            spark.read.parquet(pbDir.toString).select(col("pb")))
        else empty
      arrow.unionByName(pb)
    }
  }

  /** loggingexporter analog (exporter/loggingexporter/config.go:30-39
    * + logging_exporter.go:62-75): EVERY admitted export logs one
    * summary line (the record counts the reference has in hand);
    * `detailed` additionally dumps a bounded sample of the data.
    * `basic` and `normal` both produce the summary only — exactly the
    * reference, whose only verbosity gate is `!= detailed`
    * (logging_exporter.go:66); `none` is rejected at build
    * (config.go:17-24 supportedLevels). Log volume follows the zap
    * sampler the reference installs (factory.go createLogger):
    * the first sampling_initial messages of each one-second window
    * pass, thereafter every sampling_thereafter-th. */
  final case class LoggingExporter(rows: Int = 20,
      verbosity: Extensions.TelemetryLevel = Extensions.LevelNormal,
      samplingInitial: Int = 2,
      samplingThereafter: Int = 500,
      out: java.io.PrintStream = System.out,
      nowMs: () => Long = () => System.currentTimeMillis()) extends Exporter {
    require(verbosity.rank >= 0, s"verbosity '${verbosity.label}' is not " +
      "supported by the logging exporter (basic|normal|detailed)")
    require(samplingInitial >= 0, "sampling_initial must be >= 0")
    require(samplingThereafter >= 1, "sampling_thereafter must be >= 1")
    private var windowOpen = false
    private var windowStart = 0L
    private var seen = 0L
    /** zap sampler admission (per-second window; 1 = log everything) */
    private def admit(): Boolean = synchronized {
      val now = nowMs()
      if (!windowOpen || now - windowStart >= 1000L) {
        windowOpen = true; windowStart = now; seen = 0L
      }
      seen += 1
      seen <= samplingInitial ||
        (seen - samplingInitial) % samplingThereafter == 0
    }
    def export(df: DataFrame): Unit = if (admit()) {
      out.println(s"LoggingExporter rows=${df.count()}")
      if (verbosity == Extensions.LevelDetailed)
        Console.withOut(out)(df.show(rows, truncate = false))
    }
  }
  /** exportertest-style sink for specs */
  final class CollectingExporter extends Exporter {
    @volatile var result: Array[org.apache.spark.sql.Row] = Array.empty
    def export(df: DataFrame): Unit = result = df.collect()
  }

  final case class PipelineDef(
      receiver: Receiver,
      processors: Seq[Stage] = Nil,
      exporters: Seq[Exporter] = Nil,
      // declared component identities for the obsreport catalog
      // ([[runObsreport]]): (id, transport) per receiver in receiver
      // order (MultiReceiver members flatten), processor ids, exporter
      // ids. Config-built pipelines carry the declared `type[/name]`;
      // programmatic pipelines may leave these empty — class-derived
      // fallbacks apply.
      receiverIds: Seq[(String, String)] = Nil,
      processorIds: Seq[String] = Nil,
      exporterIds: Seq[String] = Nil) {
    def plan(spark: SparkSession): DataFrame =
      processors.foldLeft(receiver.read(spark))((df, p) => p(df))
    /** run the pipeline; each exporter gets the same lazy plan */
    def run(spark: SparkSession): Unit = {
      val df = plan(spark)
      exporters.foreach(_.export(df))
    }

    /** run with obsreport-style telemetry: received/sent row counts
      * measured via the Observation API — metrics ride the existing
      * job, no extra pass over the data.
      */
    def runObserved(spark: SparkSession): PipelineStats = {
      import org.apache.spark.sql.Observation
      val received = Observation("received")
      val sent = Observation("sent")
      val df = processors.foldLeft(
          receiver.read(spark).observe(received, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")))(
          (d, p) => p(d))
        .observe(sent, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      exporters.foreach(_.export(df))
      PipelineStats(
        received = received.get("n").asInstanceOf[Long],
        sent = sent.get("n").asInstanceOf[Long])
    }

    /** [[runObserved]] with full obsreport depth: a row count at every
      * stage boundary (so each processor gets an accepted/refused
      * split), per-exporter wall + dead-letter counters. The stage
      * counts latch on a dedicated counting action BEFORE exporters
      * run — an Observation keeps its FIRST action's values, and an
      * exporter running a limited action (LoggingExporter's show is a
      * CollectLimit that short-circuits the scan) would latch partial
      * counts. One counting pass is the price of exact stats; the
      * lighter [[runObserved]] rides the export job instead.
      * Per-stage WALL is deliberately absent: stages fuse into one
      * codegen span (that is the optimization), so stage timing only
      * exists at materialization boundaries — the per-exporter walls
      * and the Spark UI's stage metrics are the honest equivalents.
      */
    def runObservedStages(spark: SparkSession): ObservedRun = {
      import org.apache.spark.sql.Observation
      val t0 = System.nanoTime()
      val recvObs = Observation()
      var df = receiver.read(spark)
        .observe(recvObs, count(lit(1)).as("n"))
      val stageObs = processors.zipWithIndex.map { case (p, i) =>
        val o = Observation()
        df = p(df).observe(o, count(lit(1)).as("n"))
        (s"stage_$i", o)
      }
      df.count() // latch every stage observation on a FULL pass
      val exports = exporters.zipWithIndex.map { case (ex, i) =>
        // QueueObs counters are process-lifetime totals (a shared obs
        // may span runs/exporters) — report this run's DELTAS
        val before = ex match {
          case q: QueuedExporter if q.obs.isDefined =>
            val o = q.obs.get
            (o.delivered.get, o.deadLetteredBatches.get, o.deadLetteredRows.get)
          case _ => (0L, 0L, 0L)
        }
        val te = System.nanoTime()
        ex.export(df)
        val wall = System.nanoTime() - te
        val name = s"${ex.getClass.getSimpleName.stripSuffix("$")}_$i"
        ex match {
          case q: QueuedExporter if q.obs.isDefined =>
            val o = q.obs.get
            ExportStats(name, wall, o.delivered.get - before._1,
              o.deadLetteredBatches.get - before._2,
              o.deadLetteredRows.get - before._3)
          case _ => ExportStats(name, wall, 1L, 0L, 0L)
        }
      }
      val bounds = (("receiver", recvObs) +: stageObs)
        .map { case (n, o) => n -> o.get("n").asInstanceOf[Long] }
      val stages = StageStats("receiver", bounds.head._2, bounds.head._2) +:
        bounds.sliding(2).collect {
          case Seq((_, in), (n, out)) => StageStats(n, in, out)
        }.toSeq
      ObservedRun(stages, exports, System.nanoTime() - t0)
    }

    /** Run the pipeline recording the reference obsreport catalog
      * into `reg` (obsreport/obsreport_receiver.go:106-134,
      * obsreport_exporter.go, obs_processor.go):
      *
      *  - per receiver: items read successfully become
      *    `otelcol_receiver_accepted_<item>`; when the pipeline run
      *    FAILS downstream, the same items count as
      *    `otelcol_receiver_refused_<item>` instead — the reference's
      *    EndOp(err) semantics (a consumer error surfaces at the
      *    receiver as refused, not silently accepted);
      *  - per processor: rows in − rows out become
      *    `otelcol_processor_dropped_<item>`; rows out count
      *    `otelcol_processor_accepted_<item>` when the run delivers
      *    and `otelcol_processor_refused_<item>` when a downstream
      *    failure bounces them (obsreport_processor.go:101-157);
      *  - per exporter: the sent row count becomes
      *    `otelcol_exporter_sent_<item>` on success,
      *    `otelcol_exporter_send_failed_<item>` on a throw (the error
      *    still propagates — telemetry never swallows it).
      *
      * The item noun comes from the PIPELINE id
      * ([[Obsreport.itemKind]]); component ids come from the declared
      * `receiverIds`/`processorIds`/`exporterIds` with class-derived
      * fallbacks. Counts latch on one dedicated counting action (the
      * [[runObservedStages]] discipline — an exporter running a
      * limited action would latch partial counts). That pass is the
      * price of exact per-receiver/per-stage counts: the plan
      * executes once to count and once per exporter. Callers that
      * don't serve the catalog should use [[run]] instead — the CLI
      * falls back to it at telemetry level none and when neither a
      * telemetry address nor a metrics reader is configured. */
    def runObsreport(spark: SparkSession, pipelineName: String,
                     reg: Obsreport.Registry,
                     // self-tracing (service/telemetry.go TracerProvider
                     // analog): when a tracer is given the run records a
                     // `pipeline/<name>` root span with receiver/
                     // processor/exporter children. `traceParent` is the
                     // extracted remote context (a propagator extract) —
                     // what makes the parent-based sampler's remote
                     // modes reachable. Span-duration semantics, honest
                     // per graft's execution model: component children
                     // time PLAN CONSTRUCTION (stages fuse into one
                     // codegen span, so per-stage execution wall does
                     // not exist — runObservedStages scaladoc), the
                     // `materialize` child carries the counting pass,
                     // exporter children their real export wall, and
                     // the root the whole run. Row counts ride as span
                     // attributes.
                     tracer: SelfTrace.Tracer = null,
                     traceParent: Option[SelfTrace.SpanRef] = None)
        : PipelineStats = {
      import org.apache.spark.sql.Observation
      val item = Obsreport.itemKind(pipelineName)
      val members = receiver match {
        case MultiReceiver(rs) => rs
        case r => Seq(r)
      }
      def recvIdent(i: Int, r: Receiver): (String, String) =
        receiverIds.lift(i).getOrElse(
          (r.getClass.getSimpleName.stripSuffix("$"), "inproc"))
      def procIdent(i: Int, p: Stage): String =
        processorIds.lift(i).getOrElse(s"processor/$i")
      def expIdent(i: Int, e: Exporter): String =
        exporterIds.lift(i).getOrElse(e.getClass.getSimpleName.stripSuffix("$"))
      val root =
        if (tracer == null) null
        else tracer.start(s"pipeline/$pipelineName", traceParent,
          Map("pipeline" -> pipelineName, "item" -> item))
      val tracing = root != null && root.recording
      def now(): Long = if (tracer == null) 0L else tracer.nowNano()
      try {
        val recvObs = members.map(_ => Observation())
        // per-receiver observes BELOW the union so a fan-in pipeline
        // attributes items to the member that actually produced them
        val readSpans = Array.ofDim[(Long, Long)](members.size)
        val reads = members.zip(recvObs).zipWithIndex.map {
          case ((r, o), i) =>
            val t0 = now()
            val d = r.read(spark).observe(o, count(lit(1)).as("n"))
            readSpans(i) = (t0, now())
            d
        }
        var df = reads.reduce(_.unionByName(_))
        val stageSpans = Array.ofDim[(Long, Long)](processors.size)
        val stageObs = processors.zipWithIndex.map { case (p, i) =>
          val o = Observation()
          val t0 = now()
          df = p(df).observe(o, count(lit(1)).as("n"))
          stageSpans(i) = (t0, now())
          (i, o)
        }
        // a failed counting pass propagates with NOTHING recorded: no
        // observation latched, so there are no item counts to attribute
        // (the reference's request-level refusals live in the transport
        // obs, not this catalog)
        val tCount0 = now()
        df.count() // latch every observation on one full pass
        val tCount1 = now()
        val recvCounts = recvObs.map(_.get("n").asInstanceOf[Long])
        val stageCounts = stageObs.map(_._2.get("n").asInstanceOf[Long])
        val sent = stageCounts.lastOption.getOrElse(recvCounts.sum)
        // processor drops: rows into stage i − rows out of stage i
        (recvCounts.sum +: stageCounts).sliding(2).zipWithIndex.foreach {
          case (Seq(in, out), i) =>
            reg.processorDropped(procIdent(i, processors(i)), item, in - out)
          case _ => ()
        }
        if (tracing) {
          members.zipWithIndex.foreach { case (r, i) =>
            val (id, transport) = recvIdent(i, r)
            tracer.record(s"receiver/$id", root.ref,
              readSpans(i)._1, readSpans(i)._2,
              attrs = Map("transport" -> transport,
                "items" -> recvCounts(i).toString))
          }
          val ins = recvCounts.sum +: stageCounts
          processors.zipWithIndex.foreach { case (p, i) =>
            tracer.record(s"processor/${procIdent(i, p)}", root.ref,
              stageSpans(i)._1, stageSpans(i)._2,
              attrs = Map("in" -> ins(i).toString,
                "out" -> stageCounts(i).toString))
          }
          tracer.record(s"pipeline/$pipelineName/materialize", root.ref,
            tCount0, tCount1, attrs = Map("rows" -> sent.toString))
        }
        var failed: Throwable = null
        exporters.zipWithIndex.foreach { case (ex, i) =>
          val t0 = now()
          val err: Option[String] =
            try {
              ex.export(df)
              reg.exporterSent(expIdent(i, ex), item, sent)
              None
            } catch { case e: Throwable =>
              reg.exporterSendFailed(expIdent(i, ex), item, sent)
              if (failed == null) failed = e
              Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
            }
          if (tracing)
            tracer.record(s"exporter/${expIdent(i, ex)}", root.ref,
              t0, now(), error = err,
              attrs = Map("items" -> sent.toString))
        }
        // processor accepted/refused (obsreport_processor.go:101-157):
        // rows a stage emitted count accepted when the run delivered,
        // refused when a downstream failure bounced them — the same
        // EndOp(err) discipline the receiver families follow, decided
        // once the exporters have actually run
        stageCounts.zipWithIndex.foreach { case (out, i) =>
          if (failed == null)
            reg.processorAccepted(procIdent(i, processors(i)), item, out)
          else reg.processorRefused(procIdent(i, processors(i)), item, out)
        }
        members.zipWithIndex.foreach { case (r, i) =>
          val (id, transport) = recvIdent(i, r)
          if (failed == null)
            reg.receiverAccepted(id, transport, item, recvCounts(i))
          else reg.receiverRefused(id, transport, item, recvCounts(i))
        }
        if (failed != null) throw failed
        if (root != null) root.end()
        PipelineStats(received = recvCounts.sum, sent = sent)
      } catch { case e: Throwable =>
        // error status on the root span — the EndOp(err) discipline
        if (root != null) root.end(error = Some(
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"))
        throw e
      }
    }

    /** [[run]] with a root self-trace span and per-exporter children
      * — the plain-config path (no obsreport counting pass, so no
      * per-component row counts; the reference traces those runs too). */
    def runTraced(spark: SparkSession, pipelineName: String,
                  tracer: SelfTrace.Tracer,
                  traceParent: Option[SelfTrace.SpanRef] = None): Unit = {
      val root = tracer.start(s"pipeline/$pipelineName", traceParent,
        Map("pipeline" -> pipelineName))
      try {
        val df = plan(spark)
        exporters.zipWithIndex.foreach { case (ex, i) =>
          val t0 = tracer.nowNano()
          val id = exporterIds.lift(i).getOrElse(
            ex.getClass.getSimpleName.stripSuffix("$"))
          val err: Option[String] =
            try { ex.export(df); None }
            catch { case e: Throwable =>
              if (root.recording)
                tracer.record(s"exporter/$id", root.ref, t0,
                  tracer.nowNano(), error = Some(
                    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"))
              throw e
            }
          if (err.isEmpty && root.recording)
            tracer.record(s"exporter/$id", root.ref, t0, tracer.nowNano())
        }
        root.end()
      } catch { case e: Throwable =>
        root.end(error = Some(
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"))
        throw e
      }
    }
  }

  /** obsreport analog: what came in, what went out (dropped = diff) */
  final case class PipelineStats(received: Long, sent: Long) {
    def dropped: Long = received - sent
  }

  /** per-stage obsreport depth: rows in/out of every processor stage
    * (accepted/refused split per component, the
    * obsreport_receiver/processor shape) */
  final case class StageStats(stage: String, in: Long, out: Long) {
    def dropped: Long = in - out
  }
  /** per-exporter outcome: wall time of the export action and the
    * dead-letter counters when the exporter is a [[QueuedExporter]] */
  final case class ExportStats(exporter: String, wallNs: Long,
                               delivered: Long, deadLetteredBatches: Long,
                               deadLetteredRows: Long)
  final case class ObservedRun(stages: Seq[StageStats],
                               exports: Seq[ExportStats], wallNs: Long) {
    def received: Long = stages.headOption.map(_.in).getOrElse(0L)
    def sent: Long = stages.lastOption.map(_.out).getOrElse(0L)
    def dropped: Long = received - sent
  }

  /** A named set of pipelines — the `service.pipelines` block. Shared
    * receivers are read once per pipeline plan (Spark dedups the scan
    * via exchange/scan reuse where beneficial).
    */
  final case class Service(pipelines: Map[String, PipelineDef],
                           extensions: Seq[Extensions.Extension] = Nil,
                           telemetryLevel: Extensions.TelemetryLevel =
                             Extensions.TelemetryLevel.default,
                           // service::telemetry::resource: extra
                           // resource attributes on self-telemetry
                           // (override wins, incl. service.name)
                           telemetryResource: Map[String, String] = Map.empty,
                           // service::telemetry::metrics::address —
                           // where the service serves its OWN metrics
                           // in Prometheus exposition format
                           // (telemetry.go:202-206); None = no server
                           telemetryAddress: Option[String] = None,
                           // service::telemetry::logs — the service's
                           // OWN logger config (zap LogsConfig shape);
                           // None = no structured self-logging
                           telemetryLogs: Option[ServiceLogger.LogsConfig] = None,
                           // service::telemetry::metrics::readers —
                           // the newer reader-list shape alongside
                           // `address` (telemetry/config.go:111-113):
                           // pull → a Prometheus server, periodic →
                           // the console jsonl writer
                           telemetryReaders: Seq[Extensions.MetricReader] = Nil,
                           // service::telemetry::metrics::views — the
                           // sdkmetric-view analog applied over the
                           // obsreport catalog before ANY serving
                           // surface (Prometheus endpoint, periodic
                           // console writer, dogfood frame). The
                           // telemetry.disableHighCardinalityMetrics
                           // feature gate appends
                           // [[Obsreport.HighCardinalityViews]] at
                           // serve time.
                           telemetryViews: Seq[Obsreport.View] = Nil,
                           // service::telemetry::traces::sampler —
                           // the self-tracing sampler mode
                           // (generated_config.go:204-230); absent =
                           // the provider default, the reference's
                           // record-only parent-based composition
                           // (otel_trace_sampler.go alwaysRecord)
                           telemetrySampler: SelfTrace.Sampler =
                             SelfTrace.DefaultAlwaysRecord,
                           // service::telemetry::traces::processors —
                           // batch span processors exporting the
                           // service's own spans (console or otlp;
                           // generated_config.go:560-566); realized by
                           // the CLI, the sampler gates what exports
                           telemetrySpanProcessors:
                             Seq[SelfTelemetryOtlp.SpanProcessorConf] = Nil,
                           // service::telemetry::logs::processors —
                           // batch processors exporting the service's
                           // OWN log records (the third self-telemetry
                           // signal; same conf shape as the span side)
                           telemetryLogProcessors:
                             Seq[SelfTelemetryOtlp.SpanProcessorConf] = Nil) {
    def run(spark: SparkSession): Unit = pipelines.values.foreach(_.run(spark))

    /** extension lifecycle (reference service/extensions/extensions.go:
      * Start in declared order BEFORE any pipeline; Shutdown in
      * REVERSE order after they stop; ConfigWatcher extensions get the
      * resolved config via NotifyConfig) */
    def startExtensions(): Unit = extensions.foreach(_.start())
    def shutdownExtensions(): Unit = extensions.reverse.foreach(_.shutdown())
    def notifyConfig(effectiveConfig: String): Unit =
      extensions.foreach(_.notifyConfig(effectiveConfig))
    def extension(name: String): Option[Extensions.Extension] =
      extensions.find(_.name == name)

    /** Start every STREAMING pipeline (one whose receiver plan is
      * continuous) as live queries — the collector's always-on mode,
      * declared in the same config document. Each exporter gets its
      * own query with its own checkpoint subdir; exportBatch's
      * idempotent per-batchId delivery makes replay safe. Batch
      * pipelines in the same service are untouched — run them with
      * [[run]]. Returns pipeline name → its queries. */
    def runStreaming(spark: SparkSession, checkpointRoot: String):
        Map[String, Seq[org.apache.spark.sql.streaming.StreamingQuery]] = {
      // receivers with out-of-band machinery (scrape schedules)
      // start BEFORE their queries, the component Start order — but
      // ONLY for pipelines whose plan is actually continuous: a
      // batch-plan pipeline (e.g. otlp_arrow delta_stream, which
      // reassembles its spool in `run` mode) must not get a live wire
      // server here that acks data no query will ever drain
      val streamingPipes = pipelines.filter(
        _._2.plan(spark).isStreaming)
      lifecycleReceiversOf(streamingPipes).foreach(_.start(spark))
      streamingPipes.flatMap { case (name, p) =>
        val df = p.plan(spark)
        if (!df.isStreaming) None
        else Some(name -> p.exporters.zipWithIndex.map { case (e, i) =>
          df.writeStream
            .option("checkpointLocation",
              s"$checkpointRoot/${name.replace('/', '_')}/e$i")
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) => e.exportBatch(batch.toDF(), batchId)
            }
            .start()
        })
      }
    }

    private def lifecycleReceivers: Seq[ReceiverLifecycle] =
      lifecycleReceiversOf(pipelines)
    private def lifecycleReceiversOf(
        pipes: Map[String, PipelineDef]): Seq[ReceiverLifecycle] =
      pipes.values.map(_.receiver).map {
        case ClientInfoReceiver(inner, _) => inner
        case r => r
      }.collect { case l: ReceiverLifecycle => l }.toSeq

    /** tear down lifecycle receivers after their queries stop (the
      * component Shutdown half) */
    def stopReceivers(): Unit = lifecycleReceivers.foreach(_.stop())

    /** exporter Shutdown half: give every exporter in every pipeline
      * its [[Exporter.shutdown]] call (wrappers forward down their
      * delegate chain), releasing pooled stream sockets and encoder
      * allocators. Best-effort per exporter — one failing close must
      * not strand the rest. Reference teardown order: receivers stop
      * first, exporters next, extensions last (service.go Shutdown). */
    def shutdownExporters(): Unit =
      pipelines.values.flatMap(_.exporters).foreach { e =>
        try e.shutdown()
        catch { case scala.util.control.NonFatal(_) => () }
      }

    /** Collector startup semantics for persistent queues: before new
      * data flows, every [[PersistentQueueExporter]] in the service —
      * at any depth of the sender chain (retry/queue/timeout
      * wrappers) — redelivers its accepted-but-undelivered batches
      * (the persistent_queue initialization pass). Returns per-
      * pipeline stats; call before [[run]] after a crash. */
    def recover(spark: SparkSession): Map[String, RecoveryStats] =
      pipelines.toSeq.flatMap { case (name, p) =>
        p.exporters.flatMap(findPersistent).map(q => name -> q.recover(spark))
      }.groupMapReduce(_._1)(_._2)((a, b) => RecoveryStats(
        a.redelivered + b.redelivered, a.stillPending + b.stillPending,
        a.deadLettered + b.deadLettered))

    private def findPersistent(e: Exporter): Seq[PersistentQueueExporter] =
      e match {
        case q: PersistentQueueExporter => q +: findPersistent(q.delegate)
        case RetryingExporter(d, _, _, _, _) => findPersistent(d)
        case QueuedExporter(d, _, _, _, _) => findPersistent(d)
        case TimeoutExporter(d, _) => findPersistent(d)
        case _ => Nil
      }

    /** healthcheck-extension analog: per-pipeline persistent-queue
      * depth (batches + spooled bytes) and DLQ depth, read straight
      * off the queue dirs. A healthy service has empty pendings; a
      * growing pending count under a live endpoint is the signal the
      * reference's health endpoint turns red on. */
    def status(spark: SparkSession): Seq[QueueStatus] =
      pipelines.toSeq.flatMap { case (name, p) =>
        p.exporters.flatMap(findPersistent).map { q =>
          import org.apache.hadoop.fs.Path
          val pend = new Path(s"${q.queueDir}/pending")
          val dlq = new Path(s"${q.queueDir}/dlq")
          val f = pend.getFileSystem(spark.sparkContext.hadoopConfiguration)
          def dirs(p: Path): Long =
            if (f.exists(p)) f.listStatus(p).count(_.isDirectory).toLong else 0L
          val bytes = if (f.exists(pend)) f.getContentSummary(pend).getLength else 0L
          QueueStatus(name, q.queueDir, pending = dirs(pend),
            pendingBytes = bytes, deadLettered = dirs(dlq))
        }
      }

    /** zpages analog (reference extension/zpagesextension — live
      * debug pages: pipelinez's receiver→processor→exporter tables,
      * servicez's runtime state): one renderable text report of the
      * pipeline graph, exporter chains (sender wrappers unwrapped in
      * order), feature gate states, and live queue depths. The
      * reference serves this over its own HTTP server; here the
      * report is the value — print it, log it, or serve it from
      * anything. */
    def zpages(spark: SparkSession,
               gates: FeatureGate.Registry = FeatureGate.global): String = {
      def chain(e: Exporter): String = e match {
        case q: PersistentQueueExporter =>
          s"persistent_queue(${q.queueDir}) -> ${chain(q.delegate)}"
        case RetryingExporter(d, n, _, _, _) => s"retry(max=$n) -> ${chain(d)}"
        case QueuedExporter(d, dlq, _, _, _) => s"queue(dlq=$dlq) -> ${chain(d)}"
        case TimeoutExporter(d, ms) => s"timeout(${ms}ms) -> ${chain(d)}"
        case other => other.getClass.getSimpleName.stripSuffix("$")
      }
      val sb = new StringBuilder
      sb.append("== pipelinez ==\n")
      pipelines.toSeq.sortBy(_._1).foreach { case (name, p) =>
        sb.append(s"pipeline $name\n")
        sb.append(s"  receiver:  ${p.receiver.getClass.getSimpleName.stripSuffix("$")}\n")
        sb.append(s"  stages:    ${p.processors.size}\n")
        p.exporters.foreach(e => sb.append(s"  exporter:  ${chain(e)}\n"))
      }
      sb.append("== servicez ==\n")
      status(spark).foreach { s =>
        sb.append(s"queue ${s.pipeline}: pending=${s.pending} " +
          s"bytes=${s.pendingBytes} dlq=${s.deadLettered}\n")
      }
      sb.append("== featuregatez ==\n")
      gates.visitAll.foreach { g =>
        sb.append(s"${g.id} [${g.stage}] enabled=${g.isEnabled}\n")
      }
      sb.toString
    }

    /** Self-telemetry as DATA (reference service/telemetry.go +
      * obsreport: the collector publishes its own accepted/refused/
      * sent counters as OTLP metrics a pipeline can scrape): the
      * zpages/queue numbers land here as a metrics-schema DataFrame —
      * [[graft.model.OtelModel.metricPointSchema]], the exact shape
      * every §2 metrics operator consumes — closing the dogfooding
      * loop: graft processes its own health with the same operators
      * it offers (q_gauge_last over queue depth, rate-per-minute over
      * sent batches, ...).
      *
      * Queue DEPTHS are point-in-time gauges; the optional per-
      * pipeline [[QueueObs]] counters are process-lifetime totals and
      * publish as cumulative monotonic sums (start = service scrape
      * epoch). Timestamps are caller-provided so scrapes are
      * deterministic under test and monotone under a real clock. */
    def healthFrame(spark: SparkSession,
                    timeUnixNano: Long,
                    startTimeUnixNano: Long = 0L,
                    obs: Map[String, QueueObs] = Map.empty,
                    // obsreport receiver/transport counters
                    // (obsreport/obsreport_receiver.go: accepted/
                    // refused per receiver+transport): component name
                    // → counter name → lifetime total, published as
                    // otelcol_receiver_<counter> cumulative sums with
                    // the component as the `receiver` attribute. The
                    // transports' HttpObs/GrpcObs/ScraperObs all
                    // expose `counters` in this shape.
                    transports: Map[String, Map[String, Long]] = Map.empty,
                    // the obsreport per-component catalog
                    // ([[Obsreport.Registry]], filled by
                    // [[runObsreport]]) — otelcol_receiver_accepted_*/
                    // refused_*, exporter sent_*/send_failed_*,
                    // processor dropped_*, scraper scraped/errored —
                    // published as cumulative sums at level ≥ basic
                    // (the reference emits these whenever telemetry
                    // is on at all)
                    obsreport: Obsreport.Registry = null,
                    // process self-metrics (proctelemetry/
                    // process_telemetry.go:145-195): uptime, heap,
                    // sys memory, cpu seconds, rss. Off by default so
                    // the dogfood frame stays deterministic under
                    // test; the Prometheus endpoint turns them on
                    // (a scrape of a production collector always
                    // expects them).
                    processMetrics: Boolean = false,
                    // configtelemetry verbosity (reference config/
                    // configtelemetry Level, default = the service's
                    // configured `service::telemetry::metrics::level`):
                    // none → nothing; basic → queue gauges + delivery/
                    // dead-letter totals; normal → + retry and
                    // partial-success indicators; detailed → + the
                    // per-transport dimensioned counters
                    level: Extensions.TelemetryLevel = null): DataFrame = {
      import org.apache.spark.sql.Row
      import scala.jdk.CollectionConverters._
      val lvl = if (level == null) telemetryLevel else level
      val res = Map(graft.model.SemConv.AttributeServiceName -> "graft-collector") ++ telemetryResource
      def gauge(name: String, unit: String, value: Double,
                attrs: Map[String, String]): Row =
        Row(name, "gauge", null, unit, null, null, timeUnixNano, null,
          value, attrs, res)
      def sum(name: String, unit: String, value: Double,
              attrs: Map[String, String]): Row =
        Row(name, "sum", null, unit, "cumulative", true, timeUnixNano,
          startTimeUnixNano, value, attrs, res)
      val queueRows =
        if (lvl.rank < Extensions.LevelBasic.rank) Nil
        else status(spark).flatMap { s =>
          val attrs = Map("pipeline" -> s.pipeline, "queue_dir" -> s.queueDir)
          Seq(
            gauge("otelcol_exporter_queue_size", "{batches}", s.pending.toDouble, attrs),
            gauge("otelcol_exporter_queue_bytes", "By", s.pendingBytes.toDouble, attrs),
            gauge("otelcol_exporter_dlq_depth", "{batches}", s.deadLettered.toDouble, attrs))
        }
      val obsRows =
        if (lvl.rank < Extensions.LevelBasic.rank) Nil
        else obs.toSeq.sortBy(_._1).flatMap { case (pipeline, o) =>
          val attrs = Map("pipeline" -> pipeline)
          val basic = Seq(
            sum("otelcol_exporter_sent_batches", "{batches}",
              o.delivered.get.toDouble, attrs),
            sum("otelcol_exporter_dead_lettered_batches", "{batches}",
              o.deadLetteredBatches.get.toDouble, attrs))
          val normal =
            if (lvl.rank < Extensions.LevelNormal.rank) Nil
            else Seq(
              sum("otelcol_exporter_send_retries", "{retries}",
                o.retries.get.toDouble, attrs),
              sum("otelcol_exporter_dead_lettered_rows", "{records}",
                o.deadLetteredRows.get.toDouble, attrs),
              sum("otelcol_exporter_partial_successes", "{batches}",
                o.partialSuccesses.get.toDouble, attrs))
          basic ++ normal
        }
      val transportRows =
        if (lvl.rank < Extensions.LevelDetailed.rank) Nil
        else transports.toSeq.sortBy(_._1).flatMap {
          case (receiver, counters) =>
            val attrs = Map("receiver" -> receiver)
            counters.toSeq.sortBy(_._1).map { case (counter, v) =>
              sum(s"otelcol_receiver_$counter", "{requests}", v.toDouble, attrs)
            }
        }
      val obsreportRows =
        if (lvl.rank < Extensions.LevelBasic.rank || obsreport == null) Nil
        else {
          // view/relabel step before serving (proctelemetry
          // batchViews analog): configured views first, then the
          // high-cardinality filter set when its gate is on — both
          // drop keys and re-SUM merged series (exact: the catalog
          // is all monotonic counters)
          val views = telemetryViews ++
            (if (FeatureGate.global.isEnabled(
              FeatureGate.DisableHighCardinalityMetrics.id))
              Obsreport.HighCardinalityViews else Nil)
          Obsreport.applyViews(views, obsreport.snapshot).map {
            case (fam, dims, v) =>
              sum(fam, "1", v.toDouble, dims) // unit "1": obsreport
          }                                   // counts items,
        }                                     // dimensionless
      val processRows =
        if (lvl.rank < Extensions.LevelBasic.rank || !processMetrics) Nil
        else Obsreport.ProcessTelemetry.families().map {
          case (name, "gauge", unit, v) => gauge(name, unit, v, Map.empty)
          case (name, _, unit, v) => sum(name, unit, v, Map.empty)
        }
      spark.createDataFrame(
        (queueRows ++ obsRows ++ transportRows ++ obsreportRows ++
          processRows).asJava,
        graft.model.OtelModel.metricPointSchema)
    }

    /** [[PipelineDef.runObsreport]] over every pipeline: one service
      * run recording the whole obsreport catalog. Pipelines after a
      * failing one still run (the service does not stop siblings);
      * the first failure rethrows at the end. */
    def runObsreport(spark: SparkSession, reg: Obsreport.Registry,
                     tracer: SelfTrace.Tracer = null,
                     traceParent: Option[SelfTrace.SpanRef] = None)
        : Map[String, PipelineStats] = {
      var failed: Throwable = null
      val stats = pipelines.toSeq.sortBy(_._1).flatMap { case (name, p) =>
        try Some(name -> p.runObsreport(spark, name, reg, tracer, traceParent))
        catch { case e: Throwable => if (failed == null) failed = e; None }
      }.toMap
      if (failed != null) throw failed
      stats
    }

    /** graceful shutdown drain (the collector flushes its queues on
      * Shutdown before exiting): run recovery passes until every
      * persistent queue is empty or `budgetMs` elapses. Returns true
      * if fully drained — false means durable batches remain for the
      * next start (nothing is lost either way). */
    def drain(spark: SparkSession, budgetMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + budgetMs
      var clean = status(spark).forall(s => s.pending == 0)
      while (!clean && System.currentTimeMillis() < deadline) {
        recover(spark)
        clean = status(spark).forall(s => s.pending == 0)
        if (!clean) Thread.sleep(25)
      }
      clean
    }
  }

  /** one persistent queue's live depth, per [[Service.status]] */
  final case class QueueStatus(pipeline: String, queueDir: String,
                               pending: Long, pendingBytes: Long,
                               deadLettered: Long)
}
