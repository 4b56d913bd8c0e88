package graft.sources

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl,
  SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types._

/** Receiver spools: how a receiver lands a request in one
  * ([[Spool.commit]]), and how every stream source that tails a spool
  * directory admits its files into a micro-batch ([[Spool.binaryFiles]],
  * [[Spool.textLines]], [[Spool.parquetFiles]]).
  *
  * A micro-batch costs a fixed part (planning, source listing, three
  * metadata-log writes: file-source log, offset WAL and commit log;
  * the sink's writer and commit protocol; on the local file system
  * none of them starts a process, see [[LocalFs]]) that does not
  * depend on how many requests it carries, so a batch is sized by bytes, as
  * the collector's batch processor sizes one by items and never by
  * request count. The budget is one maximal request: a burst of
  * ordinary requests drains in one trigger, and no trigger holds much
  * more than the largest request a receiver accepts. Spark admits at
  * least one file per trigger, even one larger than the budget, so no
  * request can stall the stream.
  *
  * When a batch starts is the other half of the batch processor's
  * rule (a batch is cut by size or by a 200 ms timeout). Every spool
  * stream reads through [[SpoolSource]], which hands offsets, the
  * source log and the checkpoint to Spark's own file source and only
  * decides when to ask it: an idle stream waits for a burst to land
  * before it starts a batch, and does not re-list a spool that has not
  * changed. */
object Spool {
  /** The largest request a receiver accepts by default, in bytes
    * (64 MiB): the HTTP receiver's decoded-body cap, the Arrow gRPC
    * receivers' message cap (`max_recv_msg_size_mib`), and the
    * per-trigger byte budget of every spool stream. */
  val MaxRequestBytes: Long = 64L * 1024 * 1024

  /** Lands one request in a spool directory: writes it to a hidden
    * `.name` file, then renames that to `name`, so a stream source,
    * which skips hidden files, never lists a half-written request.
    * Creates `dir` when missing. When the write or the rename fails,
    * the hidden file is deleted and the error rethrown. Returns the
    * committed file. */
  def commit(dir: File, name: String, bytes: Array[Byte]): File = {
    dir.mkdirs()
    val tmp = new File(dir, s".$name").toPath
    val target = new File(dir, name)
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable =>
        try Files.deleteIfExists(tmp) catch { case d: java.io.IOException => e.addSuppressed(d) }
        throw e
    }
    target
  }

  /** The fixed schema of Spark's `binaryFile` source. */
  val BinaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Tails a spool of binary request files: one row per file, in
    * [[BinaryFileSchema]]. `glob` keeps only the file names it matches
    * (Spark's `pathGlobFilter`). */
  def binaryFiles(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int],
                  glob: Option[String] = None): DataFrame =
    readStream(spark, new SpoolSource.BinaryFiles, BinaryFileSchema, dir, maxFilesPerTrigger,
      glob.map("pathGlobFilter" -> _).toMap)

  /** Tails a spool of text files: one `value` row per line. */
  def textLines(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int]): DataFrame =
    readStream(spark, new SpoolSource.TextLines, StructType(Seq(StructField("value", StringType))),
      dir, maxFilesPerTrigger, Map.empty)

  /** Tails a spool of parquet files written in `schema`. */
  def parquetFiles(spark: SparkSession, dir: String, schema: StructType,
                   maxFilesPerTrigger: Option[Int]): DataFrame =
    readStream(spark, new SpoolSource.Parquet, schema, dir, maxFilesPerTrigger, Map.empty)

  /** A stream over `dir` through `source`, admitting at most
    * [[MaxRequestBytes]] of spool files per trigger, or at most
    * `maxFilesPerTrigger` files when one is given (tests and configs use
    * it to force several batches). Spark refuses both options at once,
    * so exactly one is set. The schema is the one Spark's own file
    * source reports for the same read (it forces columns nullable and
    * adds partition columns), so the stream's columns do not depend on
    * which reader serves them. */
  private def readStream(spark: SparkSession, source: SpoolSource, schema: StructType, dir: String,
                         maxFilesPerTrigger: Option[Int], options: Map[String, String]): DataFrame = {
    val opts = options + (maxFilesPerTrigger match {
      case Some(n) => "maxFilesPerTrigger" -> n.toString
      case None => "maxBytesPerTrigger" -> MaxRequestBytes.toString
    })
    val resolved = spark.readStream.format(source.format).schema(schema).options(opts).load(dir).schema
    spark.readStream.format(source.getClass.getName).schema(resolved).options(opts).load(dir)
  }
}

/** The stream source behind every spool reader. It creates Spark's file
  * source for its format (`DataSource(…).createSource`), so offsets,
  * the source log and checkpoints written by a plain
  * `spark.readStream.format(format)` reader stay valid, and wraps it in
  * a [[SpoolSource.Gated]] source that changes only when the file
  * source is asked for new data. One subclass per format, because
  * Spark instantiates a provider by class name. */
abstract class SpoolSource(private[sources] val format: String) extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (s"Spool[${parameters.getOrElse("path", "")}]", schema.getOrElse(
      throw new IllegalArgumentException("a spool source needs the schema of its files")))

  override def createSource(sqlContext: SQLContext, metadataPath: String, schema: Option[StructType],
                            providerName: String, parameters: Map[String, String]): Source =
    new SpoolSource.Gated(DataSource(sqlContext.sparkSession, className = format,
      userSpecifiedSchema = schema, options = parameters).createSource(metadataPath)
      .asInstanceOf[FileStreamSource], parameters("path"))
}

object SpoolSource {
  final class BinaryFiles extends SpoolSource("binaryFile")
  final class TextLines extends SpoolSource("text")
  final class Parquet extends SpoolSource("parquet")

  /** How long a spool directory must go unchanged before an idle stream
    * starts a batch (settle rule). The HTTP receiver answers a request
    * in about 5 ms (perfbench `ingest_http_pb`, traced ack p50), so a
    * burst sent over a few connections commits a file every few
    * milliseconds; a request that finds the stream idle waits for this
    * window once. */
  private val QuietMicros = 20000L

  /** The longest an idle stream waits for the spool to settle, from the
    * first change it sees: the collector batch processor's default
    * `timeout` (200 ms), so a spool written to without pause still
    * starts a batch. */
  private val MaxWaitMicros = 200000L

  /** How often the settle rule re-reads the directory's mtime. */
  private val SettlePollMs = 2L

  /** How far a directory's mtime may lag the wall clock. Linux stamps
    * files from a clock that advances once per kernel tick (1 to 10 ms;
    * a directory's mtime read 5.4 ms behind `System.currentTimeMillis`
    * in 2,000 creates on ext4, Linux 6.18), so a change within one tick of the
    * last can leave the mtime as it was. The idle rule trusts an
    * unchanged mtime only when it is older than the listing's start by
    * more than this. */
  private val ClockSlackMicros = 20000L

  private val listingCounts = new ConcurrentHashMap[String, AtomicLong]

  /** How many times spool sources over `dir` (the path given to the
    * reader) have listed it through Spark's file source. */
  private[graft] def listings(dir: String): Long =
    Option(listingCounts.get(dir)).map(_.get).getOrElse(0L)

  private def micros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def same(a: OffsetV2, b: OffsetV2): Boolean =
    if (a == null || b == null) a == null && b == null else a.json == b.json

  /** Spark's file source `files`, asked for new data only when the spool
    * may hold some.
    *
    * Idle rule: when the last listing found nothing and the directory's
    * mtime is the one read just before that listing began (and that
    * mtime was older than the listing's start by more than
    * [[ClockSlackMicros]]), nothing was added since, and the answer is
    * "no new data" after one stat. Spark's own trigger loop polls an
    * idle source every 10 ms (`spark.sql.streaming.pollingDelay`), and
    * each full listing copies a `JobConf` and scans the classpath.
    *
    * Settle rule: when the last poll found nothing and the mtime has
    * changed, the call blocks until the directory has been quiet for
    * [[QuietMicros]] or [[MaxWaitMicros]] have passed since the change,
    * then lists. A stream that just finished a batch lists at once.
    * Because the wait happens inside `latestOffset`,
    * `processAllAvailable` still sees every file committed before it
    * was called.
    *
    * Both rules read only the directory's own mtime, so they apply only
    * while it has no subdirectories (`nlink` 2; Spark's file index
    * lists subdirectories too) and is on the local file system; anything
    * else lists on every poll, as Spark does. A stream under
    * `Trigger.AvailableNow` always lists. */
  private[sources] final class Gated(files: FileStreamSource, path: String)
      extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {
    private val dir: Option[Path] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val scheme = p.toUri.getScheme
      if ((scheme == null || scheme == "file") && !path.exists("{}[]*?\\".contains(_)))
        Some(Paths.get(p.toUri.getPath))
      else None
    }
    private val counter = listingCounts.computeIfAbsent(path, _ => new AtomicLong)

    private var availableNow = false
    private var idle = false          // the last poll found nothing
    private var lastResult: OffsetV2 = _
    private var lastMtime = -1L       // mtime read just before the last listing (-1: unknown)
    private var trusted = false       // lastMtime predates that listing by more than the slack

    /** the directory's mtime in µs, or -1 when the rules cannot use it */
    private def mtime(): Long = dir.fold(-1L) { d =>
      try {
        val a = Files.readAttributes(d, "unix:lastModifiedTime,nlink")
        if (a.get("nlink") != 2) -1L
        else a.get("lastModifiedTime").asInstanceOf[java.nio.file.attribute.FileTime]
          .to(java.util.concurrent.TimeUnit.MICROSECONDS)
      } catch { case _: java.io.IOException | _: UnsupportedOperationException => -1L }
    }

    /** waits until the mtime has held still for [[QuietMicros]] or
      * [[MaxWaitMicros]] have passed since `first`; returns the mtime
      * read last and when it was read */
    private def settle(first: Long, seenAt: Long): (Long, Long) = {
      val changed0 = math.min(first, seenAt)
      val deadline = changed0 + MaxWaitMicros
      var seen = first
      var changed = changed0
      var now = seenAt
      while (now - changed < QuietMicros && now < deadline) {
        Thread.sleep(SettlePollMs)
        now = micros()
        val m = mtime()
        if (m != seen) { seen = m; changed = now }
      }
      (seen, now)
    }

    override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
      var now = micros()
      var m = mtime()
      if (!availableNow && idle && m >= 0 && same(start, lastResult)) {
        if (m == lastMtime && trusted) return lastResult
        if (m != lastMtime) { val (s, t) = settle(m, now); m = s; now = t }
      }
      counter.incrementAndGet()
      val next = files.latestOffset(start, limit)
      idle = same(next, start)
      lastResult = next
      lastMtime = m
      trusted = m >= 0 && m < now - ClockSlackMicros
      next
    }

    override def getDefaultReadLimit: ReadLimit = files.getDefaultReadLimit
    override def reportLatestOffset(): OffsetV2 = files.reportLatestOffset()
    override def prepareForTriggerAvailableNow(): Unit = {
      availableNow = true
      files.prepareForTriggerAvailableNow()
    }
    override def schema: StructType = files.schema
    override def getOffset: Option[Offset] = files.getOffset
    override def getBatch(start: Option[Offset], end: Offset): DataFrame = files.getBatch(start, end)
    override def commit(end: Offset): Unit = files.commit(end)
    override def stop(): Unit = files.stop()
    override def toString: String = files.toString
  }
}
