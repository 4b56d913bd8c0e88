package graft.pipeline

import java.util.concurrent.atomic.AtomicLong

/** The reference's obsreport per-component metric catalog — the
  * standard dashboard families every existing collector alert rule
  * is written against (reference: obsreport/obsreport_receiver.go:
  * 106-134, obsreport_exporter.go, obsreport_scraper.go, with the
  * name/dimension constants in internal/obsreportconfig/obsmetrics/
  * obs_{receiver,exporter,scraper}.go):
  *
  *  - `otelcol_receiver_accepted_{spans,metric_points,log_records}`
  *    / `otelcol_receiver_refused_*`, dimensioned by
  *    {receiver, transport} — items successfully pushed into the
  *    pipeline vs items the pipeline could not take (a downstream
  *    consumer error surfaces at the RECEIVER as refused, the
  *    reference's EndOp(err) semantics);
  *  - `otelcol_exporter_sent_*` / `otelcol_exporter_send_failed_*`
  *    (+ `enqueue_failed_*`, exporterhelper/obsreport.go:55-67),
  *    dimensioned by {exporter};
  *  - `otelcol_scraper_scraped_metric_points` /
  *    `otelcol_scraper_errored_metric_points`, dimensioned by
  *    {receiver, scraper};
  *  - `otelcol_processor_accepted_*` / `refused_*` / `dropped_*`
  *    (obsreport_processor.go:101-157, names in obs_processor.go:
  *    32-56), dimensioned by {processor} — rows a stage passed on
  *    successfully vs rows a downstream failure refused vs rows the
  *    stage itself dropped.
  *
  * One [[Obsreport.Registry]] instance is the service-lifetime
  * catalog: counters key on (family, dimensions), so two instances of
  * one component id SUM into one series (the mergeTransports
  * discipline) instead of last-wins. The registry flows through
  * [[Pipeline.Service.healthFrame]], so the Prometheus endpoint, the
  * zpages and the dogfood metrics DataFrame all see the same rows. */
object Obsreport {

  /** the per-signal item noun of the catalog names. Collector
    * pipeline ids are `<signal>[/name]` (service/pipelines keys);
    * anything that is not traces/metrics is a log pipeline in graft's
    * model (events-as-logs), so log_records is the default noun. */
  def itemKind(pipelineName: String): String = {
    val signal = pipelineName.split("/", 2)(0)
    signal match {
      case "traces" => "spans"
      case "metrics" => "metric_points"
      case _ => "log_records"
    }
  }

  /** one lifetime counter series: (family name, sorted dimensions) */
  final case class Key(family: String, dims: Seq[(String, String)])

  final class Registry {
    private val counters =
      new java.util.concurrent.ConcurrentHashMap[Key, AtomicLong]()

    private def at(family: String, dims: Map[String, String]): AtomicLong =
      counters.computeIfAbsent(Key(family, dims.toSeq.sortBy(_._1)),
        _ => new AtomicLong(0L))

    /** event-driven bump (runObsreport paths) — same-id instances SUM */
    def add(family: String, dims: Map[String, String], n: Long): Unit =
      if (n > 0) at(family, dims).addAndGet(n)

    /** mirror an externally-kept LIFETIME total (a transport/scraper
      * obs that already counts monotonically) — idempotent per scrape,
      * never double-counts */
    def set(family: String, dims: Map[String, String], v: Long): Unit =
      at(family, dims).set(v)

    // ---- the reference families, spelled once ----------------------
    def receiverAccepted(id: String, transport: String, item: String, n: Long): Unit =
      add(s"otelcol_receiver_accepted_$item",
        Map("receiver" -> id, "transport" -> transport), n)
    def receiverRefused(id: String, transport: String, item: String, n: Long): Unit =
      add(s"otelcol_receiver_refused_$item",
        Map("receiver" -> id, "transport" -> transport), n)
    def exporterSent(id: String, item: String, n: Long): Unit =
      add(s"otelcol_exporter_sent_$item", Map("exporter" -> id), n)
    def exporterSendFailed(id: String, item: String, n: Long): Unit =
      add(s"otelcol_exporter_send_failed_$item", Map("exporter" -> id), n)
    def exporterEnqueueFailed(id: String, item: String, n: Long): Unit =
      add(s"otelcol_exporter_enqueue_failed_$item", Map("exporter" -> id), n)
    def processorAccepted(id: String, item: String, n: Long): Unit =
      add(s"otelcol_processor_accepted_$item", Map("processor" -> id), n)
    def processorRefused(id: String, item: String, n: Long): Unit =
      add(s"otelcol_processor_refused_$item", Map("processor" -> id), n)
    def processorDropped(id: String, item: String, n: Long): Unit =
      add(s"otelcol_processor_dropped_$item", Map("processor" -> id), n)
    def scraperScraped(receiver: String, scraper: String, n: Long): Unit =
      set("otelcol_scraper_scraped_metric_points",
        Map("receiver" -> receiver, "scraper" -> scraper), n)
    def scraperErrored(receiver: String, scraper: String, n: Long): Unit =
      set("otelcol_scraper_errored_metric_points",
        Map("receiver" -> receiver, "scraper" -> scraper), n)

    /** deterministic-order snapshot for healthFrame */
    def snapshot: Seq[(String, Map[String, String], Long)] = {
      import scala.jdk.CollectionConverters._
      counters.entrySet().asScala.toSeq
        .map(e => (e.getKey.family, e.getKey.dims.toMap, e.getValue.get))
        .sortBy { case (f, d, _) => (f, d.toSeq.sorted.mkString(",")) }
    }
  }

  /** One sdkmetric-view analog (reference service/internal/
    * proctelemetry/config.go:163-204 batchViews + cardinalityFilter):
    * an instrument selector plus the attribute keys to DROP from the
    * matched series before serving. `instrument` matches a family
    * name exactly, or as a prefix with a trailing `*` (the
    * sdkmetric.Instrument name wildcard). `whenDims` narrows the
    * match to series carrying those dimension values — the graft
    * analog of the reference's instrumentation-SCOPE selectors (its
    * grpc-scope filter becomes `transport=grpc`, http-scope
    * `transport=http`). */
  final case class View(instrument: String,
                        dropKeys: Set[String],
                        whenDims: Map[String, String] = Map.empty) {
    require(instrument.nonEmpty, "view requires an instrument selector")
    require(dropKeys.nonEmpty, s"view over '$instrument' drops no keys")
    def matches(family: String, dims: Map[String, String]): Boolean =
      (if (instrument.endsWith("*"))
         family.startsWith(instrument.dropRight(1))
       else family == instrument) &&
        whenDims.forall { case (k, v) => dims.get(k).contains(v) }
  }

  /** The reference's disable_high_cardinality_metrics filter set
    * (proctelemetry/config.go:51-63,180-195): grpc-instrumented
    * series lose net.sock.peer.{addr,port,name}; http-instrumented
    * ones lose net.host.{name,port}. Both key lists are the public
    * semconv names ([[graft.model.SemConv]]); graft's transport
    * series live in the otelcol_* space with a `transport` dimension
    * standing in for the instrumentation scope. */
  val HighCardinalityViews: Seq[View] = Seq(
    View("otelcol_*",
      Set(graft.model.SemConv.AttributeNetSockPeerAddr,
        graft.model.SemConv.AttributeNetSockPeerPort,
        graft.model.SemConv.AttributeNetSockPeerName),
      whenDims = Map("transport" -> "grpc")),
    View("otelcol_*",
      Set(graft.model.SemConv.AttributeNetHostName,
        graft.model.SemConv.AttributeNetHostPort),
      whenDims = Map("transport" -> "http")))

  /** Apply `views` to a catalog snapshot: every matching view's keys
    * drop from the row's dimensions, and rows that become identical
    * merge by SUMMING — exact spatial re-aggregation, because the
    * registry holds only monotonic counters (the reference's SDK does
    * the same re-aggregation under an AttributeFilter). Output keeps
    * the snapshot's deterministic ordering contract. */
  def applyViews(views: Seq[View],
                 snapshot: Seq[(String, Map[String, String], Long)])
      : Seq[(String, Map[String, String], Long)] =
    if (views.isEmpty) snapshot
    else snapshot
      .map { case (fam, dims, v) =>
        val drop = views.filter(_.matches(fam, dims)).flatMap(_.dropKeys).toSet
        (fam, dims.filterNot { case (k, _) => drop(k) }, v)
      }
      .groupMapReduce(r => (r._1, r._2))(_._3)(_ + _)
      .toSeq.map { case ((fam, dims), v) => (fam, dims, v) }
      .sortBy { case (f, d, _) => (f, d.toSeq.sorted.mkString(",")) }

  /** Process self-metrics (reference service/internal/proctelemetry/
    * process_telemetry.go:145-195): the five families a Prometheus
    * scrape of any production collector expects, measured from the
    * JVM's own MX beans (the Go runtime counterparts are documented
    * per family), plus graft's Spark codegen compile count. Values are
    * read at call time; uptime/cpu/compilations are process-lifetime
    * counters, the rest point-in-time gauges. */
  object ProcessTelemetry {
    private val runtimeMx = java.lang.management.ManagementFactory.getRuntimeMXBean
    private val memoryMx = java.lang.management.ManagementFactory.getMemoryMXBean

    /** seconds since process start (process_uptime, counter) */
    def uptimeSec: Double =
      (System.currentTimeMillis() - runtimeMx.getStartTime) / 1000.0

    /** bytes of live heap objects (process_runtime_heap_alloc_bytes;
      * Go: runtime.MemStats.HeapAlloc) */
    def heapAllocBytes: Long = memoryMx.getHeapMemoryUsage.getUsed

    /** bytes of memory obtained from the OS for the runtime
      * (process_runtime_total_sys_memory_bytes; Go:
      * runtime.MemStats.Sys) — committed heap + non-heap */
    def totalSysMemoryBytes: Long =
      memoryMx.getHeapMemoryUsage.getCommitted +
        memoryMx.getNonHeapMemoryUsage.getCommitted

    /** total user+system CPU seconds (process_cpu_seconds, counter);
      * 0.0 where the platform bean is unavailable */
    def cpuSeconds: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          val ns = os.getProcessCpuTime
          if (ns < 0) 0.0 else ns / 1e9
        case _ => 0.0
      }

    /** resident set size (process_memory_rss) — /proc/self/status
      * VmRSS on Linux; falls back to committed memory elsewhere */
    def rssBytes: Long = {
      val p = java.nio.file.Paths.get("/proc/self/status")
      if (java.nio.file.Files.isReadable(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(p).asScala
          .find(_.startsWith("VmRSS:"))
          .map(_.split("\\s+"))
          .collect { case Array(_, kb, "kB") => kb.toLong * 1024L }
          .getOrElse(totalSysMemoryBytes)
      } else totalSysMemoryBytes
    }

    /** classes Spark's code generator has compiled in this JVM
      * (graft_codegen_compilations, counter): every miss of its
      * compiled-class cache. A count that keeps climbing while the
      * same queries repeat means the cache is too small for the
      * working set (see GraftSession.CodegenCacheEntries). */
    def codegenCompilations: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    /** (family, type, unit, value) rows in healthFrame's vocabulary */
    def families(): Seq[(String, String, String, Double)] = Seq(
      ("otelcol_process_uptime", "sum", "s", uptimeSec),
      ("otelcol_process_runtime_heap_alloc_bytes", "gauge", "By",
        heapAllocBytes.toDouble),
      ("otelcol_process_runtime_total_sys_memory_bytes", "gauge", "By",
        totalSysMemoryBytes.toDouble),
      ("otelcol_process_cpu_seconds", "sum", "s", cpuSeconds),
      ("otelcol_process_memory_rss", "gauge", "By", rssBytes.toDouble),
      ("graft_codegen_compilations", "sum", "1", codegenCompilations.toDouble))
  }
}
