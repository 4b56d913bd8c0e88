package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.AdmissionController
import graft.pipeline.AdmissionController._
import graft.sources.ArrowIpc

/** Receiver-side admission control — the otel-arrow receiver's
  * bounded in-flight memory budget, here as AdmissionController +
  * the Arrow gateway and OTLP/HTTP receiver integrations. */
class AdmissionSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("acquire/release accounting, high-water, oversize refusal") {
    val c = new AdmissionController(maxBytes = 100)
    assert(c.acquire(60, 0) == Right(()))
    assert(c.inFlightBytes == 60)
    assert(c.acquire(40, 0) == Right(()))
    assert(c.inFlightBytes == 100 && c.highWater.get == 100)
    // full: an impatient acquire times out (retryable refusal)
    assert(c.acquire(1, 0) == Left(Timeout))
    c.release(40)
    assert(c.inFlightBytes == 60)
    assert(c.acquire(40, 0) == Right(()))
    // larger than the whole budget: never admittable, distinct refusal
    assert(c.acquire(101, Long.MaxValue) == Left(TooLarge))
    c.release(100)
    assert(c.inFlightBytes == 0)
    // high-water never exceeded the budget
    assert(c.highWater.get <= c.maxBytes)
    assert(c.admitted.get == 3 && c.refused.get == 2)
  }

  test("a blocked acquire wakes on release; waiter cap refuses immediately") {
    val c = new AdmissionController(maxBytes = 10, maxWaiters = 1)
    assert(c.acquire(10, 0) == Right(()))
    // one patient waiter blocks...
    val got = new java.util.concurrent.atomic.AtomicReference[Either[Refusal, Unit]]
    val t = new Thread(() => got.set(c.acquire(10, 5000)))
    t.start()
    // ...until it occupies the only waiting-room slot: the next
    // acquire refuses immediately instead of piling up
    Thread.sleep(100)
    assert(c.acquire(10, 1000) == Left(TooManyWaiters))
    c.release(10)
    t.join(5000)
    assert(got.get == Right(()))
    c.release(10)
  }

  test("withAdmission releases on both exit paths") {
    val c = new AdmissionController(maxBytes = 10)
    assert(c.withAdmission(5, 0)(42) == Right(42))
    assert(c.inFlightBytes == 0)
    intercept[RuntimeException] {
      c.withAdmission(5, 0)(throw new RuntimeException("boom"))
    }
    assert(c.inFlightBytes == 0)
  }

  test("arrow gateway: concurrent senders, bounded memory, lossless durable spool") {
    val spark2 = spark
    import spark2.implicits._
    val spool = java.nio.file.Files.createTempDirectory("graft_gateway").toString
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("id", "name")
    val payload = ArrowIpc.encodeRows(df.schema,
      df.collect().toSeq, dictCap = 0, batchRows = 0, codec = "none")
    // budget fits ~2 payloads: concurrent pushes must take turns
    val ctl = new AdmissionController(maxBytes = payload.length * 2L + 8)
    val gw = new ArrowIpc.ArrowAdmissionGateway(0, spool, ctl)
    try {
      val perConn = 10
      val line = java.util.Base64.getEncoder.encodeToString(payload)
      val threads = (1 to 3).map { _ =>
        new Thread(() => {
          val s = new java.net.Socket("127.0.0.1", gw.boundPort)
          val out = new java.io.PrintWriter(s.getOutputStream, true)
          (1 to perConn).foreach(_ => out.println(line))
          out.flush(); s.close()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      val deadline = System.currentTimeMillis() + 30000
      while (gw.payloads.get < 30 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(gw.payloads.get == 30)
      // the budget bound held while three connections pushed at once
      assert(ctl.highWater.get <= ctl.maxBytes)
      assert(ctl.inFlightBytes == 0) // all released once durable
      // durable and lossless: the spool reader recovers every row
      val back = ArrowIpc.readSpool(spark, spool, df.schema)
      assert(back.count() == 30 * 4)
      assert(back.groupBy("id", "name").count().collect()
        .forall(_.getLong(2) == 30))
    } finally gw.stop()
  }

  test("arrow gateway: an over-budget payload dead-letters, the line survives") {
    val spark2 = spark
    import spark2.implicits._
    val spool = java.nio.file.Files.createTempDirectory("graft_gateway_dlq").toString
    val small = Seq((1L, "x")).toDF("id", "name")
    val big = Seq.tabulate(64)(i => (i.toLong, "y" * 4096)).toDF("id", "name")
    val smallPayload = ArrowIpc.encodeRows(small.schema,
      small.collect().toSeq, 0, 0, "none")
    val bigPayload = ArrowIpc.encodeRows(big.schema,
      big.collect().toSeq, 0, 0, "none")
    val ctl = new AdmissionController(maxBytes = smallPayload.length.toLong + 8)
    assert(bigPayload.length > ctl.maxBytes, "test premise: big must exceed budget")
    val gw = new ArrowIpc.ArrowAdmissionGateway(0, spool, ctl)
    try {
      val s = new java.net.Socket("127.0.0.1", gw.boundPort)
      val out = new java.io.PrintWriter(s.getOutputStream, true)
      val enc = java.util.Base64.getEncoder
      out.println(enc.encodeToString(smallPayload))
      out.println(enc.encodeToString(bigPayload))   // dead-letters
      out.println(enc.encodeToString(smallPayload)) // line still works
      out.flush(); s.close()
      val deadline = System.currentTimeMillis() + 30000
      while ((gw.payloads.get < 2 || gw.deadLettered.get < 1) &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(gw.payloads.get == 2 && gw.deadLettered.get == 1)
      assert(new java.io.File(spool, "_dlq").listFiles().length == 1)
      assert(ArrowIpc.readSpool(spark, spool, small.schema).count() == 2)
    } finally gw.stop()
  }

  test("arrow gateway feeds a live streaming query: admission-bounded ingest to micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    val spool = java.nio.file.Files.createTempDirectory("graft_gw_stream").toString
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "name")
    val payload = ArrowIpc.encodeRows(df.schema,
      df.collect().toSeq, 0, 0, "none")
    val ctl = new AdmissionController(maxBytes = payload.length * 2L + 8)
    val gw = new ArrowIpc.ArrowAdmissionGateway(0, spool, ctl)
    // the streaming receiver tails the gateway's durable spool — the
    // full push path: socket → admission → durable file → micro-batch
    val q = ArrowIpc.streamSpool(spark, spool, df.schema, maxFilesPerTrigger = Some(5))
      .writeStream.format("memory").queryName("gw_stream")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_gw_ck").toString)
      .start()
    try {
      val line = java.util.Base64.getEncoder.encodeToString(payload)
      val s = new java.net.Socket("127.0.0.1", gw.boundPort)
      val out = new java.io.PrintWriter(s.getOutputStream, true)
      (1 to 5).foreach(_ => out.println(line))
      out.flush(); s.close()
      val deadline = System.currentTimeMillis() + 30000
      while (gw.payloads.get < 5 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      q.processAllAvailable()
      // a second wave while the query is live lands in later batches
      val s2 = new java.net.Socket("127.0.0.1", gw.boundPort)
      val out2 = new java.io.PrintWriter(s2.getOutputStream, true)
      (1 to 3).foreach(_ => out2.println(line))
      out2.flush(); s2.close()
      while (gw.payloads.get < 8 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM gw_stream")
      assert(got.count() == 8 * 2)
      assert(got.groupBy("id", "name").count().collect()
        .forall(_.getLong(2) == 8))
      assert(ctl.highWater.get <= ctl.maxBytes && ctl.inFlightBytes == 0)
    } finally { q.stop(); gw.stop() }
  }

  test("http receiver: budget-full throttles 429, oversize 413, drained accepts") {
    import graft.sources.OtlpHttp
    val spool = java.nio.file.Files.createTempDirectory("graft_http_adm").toString
    val ctl = new AdmissionController(maxBytes = 1024, maxWaiters = 0)
    val rx = new OtlpHttp.OtlpHttpReceiver(0, spool,
      controller = Some(ctl), admissionWaitMs = 50)
    try {
      val body = ("""{"resourceLogs":[]}""" + " " * 100).getBytes("UTF-8")
      def post(b: Array[Byte]): Int = {
        val conn = new java.net.URL(
          s"http://127.0.0.1:${rx.boundPort}/v1/logs")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/json")
        conn.setDoOutput(true)
        conn.getOutputStream.write(b)
        val code = conn.getResponseCode
        conn.disconnect()
        code
      }
      // normal admission passes and releases
      assert(post(body) == 200)
      assert(ctl.inFlightBytes == 0)
      // fill the budget externally: the receiver throttles with 429
      assert(ctl.acquire(1024, 0) == Right(()))
      assert(post(body) == 429)
      assert(rx.obs.throttled.get == 1)
      ctl.release(1024)
      // drained: the same request is admitted again
      assert(post(body) == 200)
      // a body larger than the whole budget is 413, not retryable-wait
      assert(post(Array.fill(2048)('x'.toByte)) == 413)
      assert(rx.obs.requests.get == 2)
    } finally rx.stop()
  }
}
