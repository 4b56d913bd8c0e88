package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Processors
import graft.pipeline.{ConfigLoader, Pipeline}
import graft.sources.{LocalFs, OtlpJsonSource}
import graft.streaming.StreamingPipelines

/** graft sessions write to the local file system without starting a
  * process ([[graft.sources.LocalFs]]). With Hadoop's stock local file
  * system and no native library, every micro-batch of a spool stream
  * started about 30 `chmod`/`readlink` processes for its metadata logs
  * and the parquet exporter's commit. Process starts are counted with
  * an in-process JFR stream of `jdk.ProcessStart` events. */
class ForkFreeSpec extends AnyFunSuite {
  import PbWire._

  private lazy val spark: SparkSession = TestSession.spark

  /** the command lines of the processes this JVM starts while `body` runs */
  private def processStarts(body: => Unit): Seq[String] = {
    // a marker process brackets `body` on each side, so the count is
    // known to cover the whole of it, and to see events at all
    val begin = "graft-fork-census-begin"
    val end = "graft-fork-census-end"
    val seen = new ConcurrentLinkedQueue[String]()
    // Spark's executor heartbeat reads the page size with `getconf`
    // once per JVM; its first beat comes 10-20 s after start, inside
    // the window when this suite runs first. Do that read now.
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => { seen.add(e.getString("command")); () })
      rs.startAsync()
      def mark(m: String): Unit = {
        new ProcessBuilder("true", m).start().waitFor()
        val deadline = System.currentTimeMillis() + 30000
        while (!seen.asScala.exists(_.contains(m)) && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(seen.asScala.exists(_.contains(m)), s"JFR never reported the $m process")
      }
      mark(begin)
      body
      mark(end)
      seen.asScala.toSeq.dropWhile(!_.contains(begin)).drop(1).takeWhile(!_.contains(end))
    } finally rs.close()
  }

  /** a spool of `n` one-record pb requests */
  private def spool(n: Int): Path = {
    val dir = Files.createTempDirectory("fork_free_spool")
    (0 until n).foreach { i =>
      Files.write(dir.resolve(f"req$i%03d.pb"), request(Seq("service.name" -> str(1, s"svc$i")),
        "graft", fixed64(1, 1000L + i) ++ vint(2, 9 + i % 2) ++ lenDelim(5, str(1, s"m$i"))))
    }
    dir
  }

  private def drain(q: StreamingQuery): Int =
    try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) } finally q.stop()

  private def census(starts: Seq[String], batches: Int): String =
    s"$batches batches started ${starts.size} processes: " +
      starts.groupBy(_.split(' ').head).map { case (c, xs) => s"$c x${xs.size}" }.mkString(", ") +
      starts.take(3).mkString("; first: ", "; ", "")

  test("the session serves the file scheme with the fork-free local file system") {
    val conf = spark.sessionState.newHadoopConf()
    assert(new org.apache.hadoop.fs.Path("file:///").getFileSystem(conf)
      .isInstanceOf[LocalFs.Checksummed])
    assert(org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
      .getDefaultFileSystem.isInstanceOf[LocalFs.Context])
  }

  test("spool -> streamLogsPb -> processors -> ParquetExporter starts no process per batch") {
    val out = Files.createTempDirectory("fork_free_out").resolve("sink").toString
    val ck = Files.createTempDirectory("fork_free_ck").toString
    val stream = Processors.attributes(
      Processors.filter(
        OtlpJsonSource.streamLogsPb(spark, spool(3).toString, maxFilesPerTrigger = Some(1)),
        col("severity_number") >= 9),
      Seq(Processors.Upsert("attributes", Processors.mapPut(col("attributes"), "p", lit("x"))),
        Processors.HashAttr("body")))
    var batches = 0
    val starts = processStarts {
      batches = drain(StreamingPipelines.exportStream(stream, Pipeline.ParquetExporter(out), ck))
    }
    assert(batches >= 3)
    assert(starts.size == 0, census(starts, batches))
    assert(spark.read.parquet(out).count() == 3)
  }

  test("a config-declared Service.runStreaming pipeline starts no process per batch") {
    val in = Files.createTempDirectory("fork_free_json")
    (0 until 3).foreach { i =>
      Files.write(in.resolve(s"r$i.json"),
        s"""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"s$i"}}]},"scopeLogs":[{"scope":{"name":"graft"},"logRecords":[{"timeUnixNano":"${1700000000000000000L + i}","severityNumber":9,"body":{"stringValue":"m$i"},"attributes":[]}]}]}]}"""
          .getBytes("UTF-8"))
    }
    val out = Files.createTempDirectory("fork_free_cfg_out").resolve("sink").toString
    val svc = ConfigLoader.fromJson(
      s"""{"pipelines": {"logs/live": {
         |  "receiver": {"type": "stream_json_logs", "path": "$in", "maxFilesPerTrigger": 1},
         |  "processors": [{"type": "filter", "where": "severity_number >= 9"}],
         |  "exporters": [{"type": "parquet", "path": "$out"}]}}}""".stripMargin)
    val ck = Files.createTempDirectory("fork_free_cfg_ck").toString
    var batches = 0
    val starts = processStarts {
      batches = svc.runStreaming(spark, ck).values.flatten.map(drain).sum
    }
    assert(batches >= 3)
    assert(starts.size == 0, census(starts, batches))
    assert(spark.read.parquet(out).count() == 3)
  }
}
