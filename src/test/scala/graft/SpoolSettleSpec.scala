package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{OtlpJsonSource, Spool, SpoolSource}

/** When a spool stream starts a batch ([[SpoolSource]]): an idle
  * stream waits for a burst to settle (20 ms quiet, at most 200 ms) and
  * then carries it in one micro-batch, never starves under a steady
  * trickle, loses and repeats no file, and does not re-list a spool
  * that has not changed. */
class SpoolSettleSpec extends AnyFunSuite with BeforeAndAfterAll {
  import PbWire._

  private lazy val spark: SparkSession = TestSession.spark

  /** Each query runs on a cloned session whose artifact directory Spark
    * removes (`rm -rf`) once the session is collected. Collect the
    * ones this suite stopped now, so their cleanup does not land in a
    * later suite (`ForkFreeSpec` counts the processes a window starts). */
  override def afterAll(): Unit = {
    System.gc()
    Thread.sleep(2000)
    super.afterAll()
  }

  private def payload(i: Int): Array[Byte] =
    request(Seq("service.name" -> str(1, s"svc$i")), "graft",
      fixed64(1, 1000L + i) ++ vint(2, 9) ++ lenDelim(5, str(1, s"m$i")))

  private def commit(dir: Path, i: Int): Unit =
    Spool.commit(dir.toFile, f"req$i%05d.pb", payload(i))

  /** one micro-batch as the stream ran it: when foreachBatch began and
    * the services it carried */
  private final case class Batch(id: Long, startNs: Long, services: Seq[String])

  private def services(df: DataFrame): Seq[String] =
    df.select(col("resource_attributes")("service.name")).collect().map(_.getString(0)).toSeq

  private def start(stream: DataFrame, seen: ConcurrentLinkedQueue[Batch],
                    checkpoint: Option[Path] = None): StreamingQuery = {
    val w = stream.writeStream.foreachBatch { (df: Dataset[Row], id: Long) =>
      val t = System.nanoTime()
      val s = services(df)
      if (s.nonEmpty) seen.add(Batch(id, t, s))
      ()
    }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c.toString)).start()
  }

  /** waits until the stream has polled the spool and found nothing */
  private def awaitIdle(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (!(q.status.message == "Waiting for data to arrive" && !q.status.isTriggerActive) &&
      System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(100)
    assert(q.exception.isEmpty, q.exception)
  }

  private def awaitServices(q: StreamingQuery, seen: ConcurrentLinkedQueue[Batch], n: Int,
                            timeoutS: Int = 60): Seq[Batch] = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (seen.asScala.map(_.services.size).sum < n && System.nanoTime() < deadline &&
      q.exception.isEmpty) Thread.sleep(10)
    assert(q.exception.isEmpty, q.exception)
    seen.asScala.toSeq.sortBy(_.id)
  }

  private def spool(): Path = Files.createTempDirectory("spool_settle")

  test("30 files committed 2 ms apart into an idle stream drain in one micro-batch") {
    val dir = spool()
    val seen = new ConcurrentLinkedQueue[Batch]()
    val q = start(OtlpJsonSource.streamLogsPb(spark, dir.toString), seen)
    try {
      awaitIdle(q)
      val payloads = (0 until 30).map(payload)
      payloads.indices.foreach { i =>
        Spool.commit(dir.toFile, f"req$i%05d.pb", payloads(i))
        LockSupport.parkNanos(2000000L)
      }
      val got = awaitServices(q, seen, 30)
      assert(got.map(_.services.size) == Seq(30), got.map(_.services.size))
      assert(got.head.services.toSet == (0 until 30).map(i => s"svc$i").toSet)
    } finally q.stop()
  }

  test("commits every 5 ms for 1 s: the first batch starts within 200 ms plus one trigger") {
    val dir = spool()
    val seen = new ConcurrentLinkedQueue[Batch]()
    val q = start(OtlpJsonSource.streamLogsPb(spark, dir.toString), seen)
    try {
      awaitIdle(q)
      val payloads = (0 until 200).map(payload)
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      payloads.indices.foreach { i =>
        Spool.commit(dir.toFile, f"req$i%05d.pb", payloads(i))
        val due = t0 + (i + 1) * 5000000L
        while (System.nanoTime() < due) LockSupport.parkNanos(due - System.nanoTime())
      }
      val got = awaitServices(q, seen, 200)
      assert(got.flatMap(_.services).sorted == (0 until 200).map(i => s"svc$i").sorted)
      // the first data batch is cut when its latestOffset returns: the
      // trigger began at most one idle poll (10 ms) after the first
      // commit, and latestOffset holds the settle wait plus one listing
      val first = got.head
      val p = q.recentProgress.find(p => p.batchId == first.id && p.numInputRows > 0).get
      val waitMs = p.durationMs.get("latestOffset").longValue
      val cutMs = java.time.Instant.parse(p.timestamp).toEpochMilli + waitMs - t0Ms
      assert(waitMs <= 200 + 100, p.durationMs)
      assert(cutMs <= 200 + 10 + 100, s"first batch cut $cutMs ms after the first commit")
      assert(first.services.size < 200, "the first batch waited for the whole trickle")
    } finally q.stop()
  }

  test("300 commits at random offsets from the polls are each exported exactly once") {
    val dir = spool()
    val seen = new ConcurrentLinkedQueue[Batch]()
    val q = start(OtlpJsonSource.streamLogsPb(spark, dir.toString), seen)
    try {
      val rnd = new scala.util.Random(13)
      val payloads = (0 until 300).map(payload)
      payloads.indices.foreach { i =>
        Spool.commit(dir.toFile, f"req$i%05d.pb", payloads(i))
        LockSupport.parkNanos(rnd.nextInt(30000) * 1000L)
      }
      val got = awaitServices(q, seen, 300)
      val all = got.flatMap(_.services)
      assert(all.size == 300 && all.toSet == (0 until 300).map(i => s"svc$i").toSet,
        all.groupBy(identity).collect { case (s, xs) if xs.size > 1 => s })
      assert(got.size > 1, "a 4 s trickle cannot be one batch")
    } finally q.stop()
  }

  test("an idle stream lists an unchanged spool a handful of times in 2 s, not every poll") {
    val dir = spool()
    (0 until 3).foreach(commit(dir, _))
    val seen = new ConcurrentLinkedQueue[Batch]()
    val q = start(OtlpJsonSource.streamLogsPb(spark, dir.toString), seen)
    try {
      awaitServices(q, seen, 3)
      awaitIdle(q)
      val before = SpoolSource.listings(dir.toString)
      Thread.sleep(2000)
      val listed = SpoolSource.listings(dir.toString) - before
      assert(listed <= 5, s"$listed listings of an unchanged spool in 2 s")
      // and a change is still seen
      commit(dir, 3)
      assert(awaitServices(q, seen, 4).flatMap(_.services).toSet == (0 until 4).map(i => s"svc$i").toSet)
    } finally q.stop()
  }

  test("a checkpoint of the plain binaryFile reader resumes under the spool reader without re-exporting") {
    val dir = spool()
    val checkpoint = Files.createTempDirectory("spool_settle_ckpt").resolve("c")
    (0 until 5).foreach(commit(dir, _))
    val plain = OtlpJsonSource.parseLogsPb(spark.readStream.format("binaryFile")
      .schema(Spool.BinaryFileSchema).option("pathGlobFilter", "*.pb")
      .option("maxBytesPerTrigger", Spool.MaxRequestBytes).load(dir.toString)
      .select(col("content").as("pb")))
    val first = new ConcurrentLinkedQueue[Batch]()
    val q1 = start(plain, first, Some(checkpoint))
    try q1.processAllAvailable() finally q1.stop()
    assert(first.asScala.flatMap(_.services).toSet == (0 until 5).map(i => s"svc$i").toSet)

    (5 until 8).foreach(commit(dir, _))
    val second = new ConcurrentLinkedQueue[Batch]()
    val q2 = start(OtlpJsonSource.streamLogsPb(spark, dir.toString), second, Some(checkpoint))
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.exception.isEmpty, q2.exception)
    assert(second.asScala.toSeq.flatMap(_.services).sorted == (5 until 8).map(i => s"svc$i"))
    assert(second.asScala.forall(_.id > first.asScala.map(_.id).max))
  }
}
