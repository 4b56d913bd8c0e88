package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.OtlpJsonSource

/** Spool streams admit files by a byte budget of one maximal request
  * per trigger ([[graft.sources.Spool]]): a micro-batch costs about
  * the same whether it carries 2 requests or 30, so a burst of
  * ordinary requests must drain in one trigger. An explicit
  * `maxFilesPerTrigger` still caps a trigger by files. */
class SpoolAdmissionSpec extends AnyFunSuite {
  import PbWire._

  private lazy val spark: SparkSession = TestSession.spark

  /** a spool of `n` one-record requests; request i comes from service `svc<i>` */
  private def spool(n: Int): Path = {
    val dir = Files.createTempDirectory("spool_admission")
    (0 until n).foreach { i =>
      Files.write(dir.resolve(f"req$i%03d.pb"), request(Seq("service.name" -> str(1, s"svc$i")), "graft",
        fixed64(1, 1000L + i) ++ vint(2, 9) ++ lenDelim(5, str(1, s"m$i"))))
    }
    dir
  }

  /** drains `stream`; per non-empty micro-batch, in order, the keys `key` reads off it */
  private def batches(stream: DataFrame)(key: DataFrame => Seq[String]): Seq[Set[String]] = {
    val seen = new ConcurrentLinkedQueue[(Long, Set[String])]()
    val q = stream.writeStream
      .foreachBatch((df: Dataset[Row], id: Long) => { seen.add(id -> key(df).toSet); () })
      .start()
    try q.processAllAvailable() finally q.stop()
    seen.asScala.toSeq.sortBy(_._1).map(_._2).filter(_.nonEmpty)
  }

  private def services(df: DataFrame): Seq[String] =
    df.select(col("resource_attributes")("service.name")).collect().map(_.getString(0)).toSeq

  private val all30 = (0 until 30).map(i => s"svc$i").toSet

  test("a 30-request spool drains in one micro-batch under the default admission") {
    val got = batches(OtlpJsonSource.streamLogsPb(spark, spool(30).toString))(services)
    assert(got.map(_.size) == Seq(30) && got.head == all30)
  }

  test("an explicit maxFilesPerTrigger still caps every micro-batch by files") {
    val dir = spool(7)
    val got = batches(OtlpJsonSource.streamLogsPb(spark, dir.toString, maxFilesPerTrigger = Some(2)))(services)
    assert(got.forall(_.size <= 2), got)
    assert(got.size == 4 && got.flatten.toSet == (0 until 7).map(i => s"svc$i").toSet, got)
  }

  test("streamLogsPbWithDlq dead-letters a corrupt file in the same single micro-batch") {
    val dir = spool(30)
    val corrupt = Array[Byte](0x0a, 0x7f, 0x01)
    Files.write(dir.resolve("bad.pb"), corrupt)
    val (good, dlq) = OtlpJsonSource.streamLogsPbWithDlq(spark, dir.toString)
    val goodBatches = batches(good)(services)
    assert(goodBatches.map(_.size) == Seq(30) && goodBatches.head == all30)
    val hex = (b: Array[Byte]) => b.map(x => f"$x%02x").mkString
    assert(batches(dlq)(_.select("raw").collect().map(r => hex(r.getAs[Array[Byte]](0))).toSeq) ==
      Seq(Set(hex(corrupt))))
  }
}
