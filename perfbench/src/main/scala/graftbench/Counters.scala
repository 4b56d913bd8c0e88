package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark execution counters, attributed to the job group a query runs
  * under (the mix runner sets the group to the query name). Job
  * intervals become `operators.job` spans under the query's span. */
final class SparkCounters(trace: Trace) extends SparkListener {
  final class Group {
    val jobs = new LongAdder
    val shuffleBytes = new LongAdder
  }
  val groups = new ConcurrentHashMap[String, Group]
  /** group → id of the span the group's jobs belong to */
  val groupSpan = new ConcurrentHashMap[String, java.lang.Long]
  val tasks = new LongAdder
  val spillBytes = new LongAdder
  val peakExecMem = new AtomicLong
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long)]
  // listener events carry wall-clock millis; spans use nanoTime
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def group(name: String): Group = groups.computeIfAbsent(name, _ => new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    group(g).jobs.increment()
    e.stageIds.foreach(s => stageGroup.put(s, g))
    jobInfo.put(e.jobId, (g, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (g, start) =>
      val parent = Option(groupSpan.get(g)).map(_.longValue).getOrElse(0L)
      trace.record("operators.job", parent, start * 1000000L + nsOffset, e.time * 1000000L + nsOffset)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      val g = stageGroup.getOrDefault(e.stageId, "")
      group(g).shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

/** Micro-batch progress of the ingest stream. Input rows of the file
  * sources are spool files, i.e. requests. */
final class StreamCounters extends StreamingQueryListener {
  final case class Batch(id: Long, files: Long, triggerMs: Long, addBatchMs: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]
  val consumedFiles = new AtomicLong
  @volatile var failure: Option[String] = None

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(Batch(p.batchId, p.numInputRows, ms("triggerExecution"), ms("addBatch")))
      consumedFiles.addAndGet(p.numInputRows)
    }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failure = Some(x))

  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.id)
}

/** What the process and the host did during the measured window:
  * the highest heap occupancy right after a collection, read from the
  * JVM's GC notifications, which sees what a query or micro-batch still
  * holds when a collection runs, without forcing one in the window; the
  * process's CPU time; and the share of the host's CPU time stolen from
  * this machine by its hypervisor (Linux `/proc/stat`), which explains
  * runs that are slow for reasons outside the program. */
final class WindowWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    .collect { case e: NotificationEmitter => e }
  private val peak = new AtomicLong
  private val gcs = new AtomicLong
  @volatile private var on = false
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max)
      gcs.incrementAndGet()
    }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** (steal, total) jiffies of all CPUs; zeros where /proc/stat is absent */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
  private var cpu0, steal0, total0 = 0L
  private var cpuNs, stealTicks, totalTicks = 0L

  /** starts the window on a collected heap: garbage that the set-ups and
    * the warm-up left in the old generation would otherwise count towards
    * the peak until G1 happens to clean it, which it did in some runs and
    * not in others */
  def start(): Unit = {
    System.gc()
    val (s, t) = cpuTicks()
    steal0 = s; total0 = t; cpu0 = os.getProcessCpuTime
    on = true
  }

  /** a window no collection fell into (toy sizes) ends with one, so the
    * peak is never empty; notifications arrive on another thread */
  def stop(): Unit = {
    cpuNs = os.getProcessCpuTime - cpu0
    val (s, t) = cpuTicks()
    stealTicks = s - steal0; totalTicks = t - total0
    if (gcs.get == 0) {
      System.gc()
      val deadline = System.nanoTime() + 2000000000L
      while (gcs.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
    }
    on = false
  }

  /** collections seen while on */
  def collections: Long = gcs.get

  def peakMb: Double = peak.get / (1024.0 * 1024.0)

  /** share of all CPUs' time in the window the hypervisor stole, in % */
  def stealPct: Double = if (totalTicks > 0) 100.0 * stealTicks / totalTicks else 0.0

  def info: Map[String, Any] = Map("gc_collections" -> collections,
    "window_process_cpu_s" -> cpuNs / 1e9, "host_steal_pct" -> stealPct)
}

/** CPU time of the program's own Java threads, per thread from
  * `ThreadMXBean`. The JVM's JIT compiler and GC threads are not Java
  * threads and are left out, and so is the load generator: threads
  * named `perfbench-*` and the JDK HTTP client's `HttpClient-*`. Unlike
  * wall time, thread CPU time does not count the time the hypervisor
  * takes a CPU away from this machine (steal), which on a shared host
  * moved wall-clock figures by half between runs. */
object AppCpu {
  private val mx = ManagementFactory.getThreadMXBean

  /** thread id → CPU ns, for every live program thread not in `exclude` */
  def snapshot(exclude: Set[Long] = Set.empty): Map[Long, Long] =
    mx.getAllThreadIds.toSeq.filterNot(exclude).flatMap { id =>
      Option(mx.getThreadInfo(id)).map(_.getThreadName)
        .filterNot(n => n.startsWith("perfbench-") || n.startsWith("HttpClient-"))
        .map(_ => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0)
    }.toMap

  /** CPU seconds the threads alive now spent since `from`; a thread that
    * ended in between takes its time since `from` with it */
  def secondsSince(from: Map[Long, Long], exclude: Set[Long] = Set.empty): Double =
    snapshot(exclude).map { case (id, ns) => math.max(0L, ns - from.getOrElse(id, 0L)) }.sum / 1e9
}
