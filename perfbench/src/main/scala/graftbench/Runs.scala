package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import Main.{Args, Outcome}

/** Helpers both kinds of run share. */
object Runs {
  /** the mix tables, generated into the checkout once per size */
  def ensureData(a: Args): String = {
    val root = new File(a.work, "data")
    val dir = new File(root, a.scale.data.key)
    if (new File(dir, "_COMPLETE").exists()) dir.getPath
    else {
      val s = Main.session(a)
      try DataGen.ensure(s, root, a.scale.data) finally s.stop()
    }
  }

  /** the per-layer probes every traced run reports */
  def probes(a: Args, spark: SparkSession, dataDir: String, trace: Trace): Map[String, Double] = {
    val sc = a.scale
    val schema = graft.sources.ArrowIpc.logsSchema(spark)
    val reqs = (0 until sc.probeRequests).map(i => LogGen.request(a.seed, i, sc.recordsPerRequest))
    Probes.sources(spark, reqs.map(LogGen.pbPayload), reqs.map(LogGen.arrowPayload(schema, _)),
      reqs.map(_.recs.size.toLong).sum, sc.probeReps, trace) ++
      Probes.functions(spark, dataDir, sc.probeCopies, sc.probeReps, trace)
  }

  /** Spark counters for the traced run's measured window */
  def layerCounters(c: SparkCounters): Map[String, Double] = {
    Thread.sleep(500) // listener events are delivered asynchronously
    Map("operators.spill_bytes" -> c.spillBytes.sum.toDouble,
      "operators.peak_exec_mem_mb" -> c.peakExecMem.get / (1024.0 * 1024.0),
      "operators.tasks" -> c.tasks.sum.toDouble)
  }

  def ms(ns: Long): Double = ns / 1e6

  /** The wall-clock figures a user waits for: the unit of work and the
    * per-operation latency quantiles. They are per-layer metrics, not
    * end-to-end ones: across runs on a shared host they followed the
    * hypervisor's steal, not the program. Every run reports them in its
    * info line. */
  def wallFigures(work: Double, latencyMs: Seq[Double]): Map[String, Double] =
    Map("wall.work_s" -> work, "wall.latency_p50_ms" -> Stats.quantile(latencyMs, 0.5),
      "wall.latency_p90_ms" -> Stats.quantile(latencyMs, 0.9))
}

object MixRun {
  def readDigests(f: File, dataKey: String): Either[String, Map[String, String]] =
    if (!f.exists()) Left(s"no expected digests at $f")
    else {
      val j = Json.readFile(f)
      if (j.path("data").asText() != dataKey)
        Left(s"$f holds digests for data ${j.path("data").asText()}, not $dataKey")
      else {
        val d = j.path("digests")
        Right(d.fieldNames().asScala.map(k => k -> d.get(k).asText()).toMap)
      }
    }

  def apply(a: Args, trace: Trace, heap: WindowWatch): Outcome = {
    val queries = Mix.queries
    val dataDir = Runs.ensureData(a)
    val expected = if (a.writeDigests) Right(Map.empty[String, String])
      else readDigests(a.digestFile, a.scale.data.key)
    val (spark, setupTimes) = Main.setups[SparkSession](a.scale.setups, _ => {
      val s = Main.session(a)
      Seq("documents", "embeddings").foreach(t =>
        graft.Tables(s, dataDir, t).createOrReplaceTempView(t))
      s
    }, _.stop())
    try {
      var counters: Option[SparkCounters] = None
      val res = Mix.run(spark, dataDir, queries, a.seed, a.seconds, trace, heap, () => {
        if (a.trace) {
          val c = new SparkCounters(trace)
          spark.sparkContext.addSparkListener(c)
          counters = Some(c)
        }
        counters
      })
      val peak = heap.peakMb
      // without stored digests, the warm-up pass sets them and the
      // measured passes must repeat them
      val exp = if (a.writeDigests) res.warmup.flatMap(e => e.digest.map(e.query -> _)).toMap
        else expected.getOrElse(Map.empty)
      if (a.writeDigests) writeDigests(a, res.warmup)
      a.dumpResults.foreach(dumpResults(spark, dataDir, queries, _))
      val bad = (res.warmup ++ res.measured).filterNot(_.ok(exp))
      val failures = expected.swap.toSeq ++ bad.map { e =>
        s"${e.query} (pass ${e.pass}): " + e.error.getOrElse(
          s"digest ${e.digest.getOrElse("-")} != expected ${exp.getOrElse(e.query, "-")}")
      }
      val e2e = Map("setup_s" -> Stats.median(setupTimes.map(_.cpu)), "work_cpu_s" -> res.perPass(_.cpu),
        "peak_heap_mb" -> peak)
      val wall = Runs.wallFigures(res.perPass(_.seconds), res.measured.map(_.seconds * 1000))
      val layers = counters.map { c =>
        val perQuery = res.measured.groupBy(_.query).flatMap { case (q, es) =>
          val g = c.group(q)
          Seq(s"query.$q.wall_s" -> Stats.median(es.map(_.seconds)),
            s"query.$q.cpu_s" -> Stats.median(es.map(_.cpu)),
            s"query.$q.jobs" -> g.jobs.sum.toDouble / es.size,
            s"query.$q.shuffle_bytes" -> g.shuffleBytes.sum.toDouble / es.size)
        }
        spark.sparkContext.removeSparkListener(c)
        Runs.layerCounters(c) ++ perQuery ++ Runs.probes(a, spark, dataDir, trace)
      }.getOrElse(Map.empty) ++ wall
      Outcome(res.warmup.size + res.measured.size, bad.size, failures, e2e, layers, Map(
        "wall" -> wall,
        "data" -> a.scale.data.key, "documents" -> a.scale.data.documents, "embeddings" -> a.scale.data.embeddings,
        "queries" -> queries, "measured_wall_s" -> res.measuredWall,
        "warmup_wall_s" -> res.warmupWall,
        "query_executions" -> res.measured.size, "setup_walls_s" -> setupTimes.map(_.wall), "setup_cpu_s" -> setupTimes.map(_.cpu),
        "query_median_s" -> res.measured.groupBy(_.query).map { case (q, es) =>
          q -> Stats.median(es.map(_.seconds)) }))
    } finally spark.stop()
  }

  private def writeDigests(a: Args, execs: Seq[Mix.Exec]): Unit =
    Json.writeFile(a.digestFile, Json.obj("data" -> a.scale.data.key,
      "digests" -> execs.flatMap(e => e.digest.map(e.query -> _)).toMap))

  /** each query's rows as parquet plus its DuckDB oracle SQL, for
    * oracle_check.py */
  private def dumpResults(spark: SparkSession, dataDir: String, queries: Seq[String],
                          dir: File): Unit = {
    queries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite")
        .parquet(new File(dir, s"$q.parquet").getPath)
    }
    val sql = graft.SparkEntry.oracleSql
    Json.writeFile(new File(dir, "oracle_sql.json"), Json.obj(
      "data_dir" -> dataDir, "queries" -> queries.flatMap(q => sql.get(q).map(q -> _)).toMap))
  }
}

object IngestRun {
  def apply(a: Args, trace: Trace, heap: WindowWatch): Outcome = {
    val start = System.nanoTime()
    val sc = a.scale
    val R = sc.recordsPerRequest
    val ratePerReq = sc.rateItemsPerS / R
    val nSteady = math.max(1, math.round(ratePerReq * a.seconds).toInt)
    val firstSteady = sc.warmupRequests
    val firstBurst = firstSteady + nSteady
    val total = firstBurst + sc.bursts * sc.burstRequests
    val connections = math.max(1, math.min(Main.cpus, 8))
    val dataDir = if (a.trace) Some(Runs.ensureData(a)) else None
    val runDir = new File(a.work, s"tmp/ingest-${ProcessHandle.current.pid}")
    var reqs: IndexedSeq[LogGen.Req] = IndexedSeq.empty
    var payloads: IndexedSeq[Array[Byte]] = IndexedSeq.empty
    // inputs are generated between set-ups, outside their timing
    def makeInputs(): Unit = if (reqs.isEmpty) {
      reqs = (0 until total).map(i => LogGen.request(a.seed, i, R))
      payloads = reqs.map(LogGen.pbPayload)
    }
    val ((spark, ing), setupTimes) = Main.setups[(SparkSession, Ingest)](sc.setups, k => {
      val s = Main.session(a)
      (s, new Ingest(s, new File(runDir, s"setup$k"), connections, trace))
    }, { case (s, i) => makeInputs(); i.closeSenders(); i.stop(); s.stop() })
    makeInputs()
    val failures = Seq.newBuilder[String]
    val timeoutS = 60.0
    def await(files: Int, phase: String): Boolean = {
      val ok = ing.awaitConsumed(files, timeoutS)
      if (!ok) failures += s"$phase: stream consumed ${ing.streamCounters.consumedFiles.get} of $files requests" +
        ing.streamCounters.failure.map(f => s" ($f)").getOrElse("")
      ok
    }
    val counters = if (a.trace) {
      val c = new SparkCounters(trace); spark.sparkContext.addSparkListener(c); Some(c)
    } else None
    try {
      // drained warm-up through the whole path
      val w0 = System.nanoTime()
      (0 until firstSteady).foreach(i => ing.send(i, payloads(i), w0))
      await(firstSteady, "warm-up")
      val warmupEnd = System.nanoTime()
      // steady phase: open loop on a fixed schedule
      val backlogMax = new java.util.concurrent.atomic.AtomicLong
      @volatile var sampling = true
      val sampler = new Thread(() => while (sampling) {
        backlogMax.accumulateAndGet(ing.http.obs.requests.get - ing.streamCounters.consumedFiles.get, math.max)
        Thread.sleep(20)
      }, "perfbench-backlog")
      sampler.setDaemon(true); sampler.start()
      heap.start()
      // this thread only schedules and waits: the client's side
      val client = Set(Thread.currentThread.getId)
      val steadyCpu0 = AppCpu.snapshot(client)
      val intervalNs = (1e9 / ratePerReq).toLong
      val s0 = System.nanoTime() + 1000000L
      (0 until nSteady).foreach { k =>
        val due = s0 + k * intervalNs
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime()
        }
        ing.send(firstSteady + k, payloads(firstSteady + k), due)
      }
      await(firstBurst, "steady")
      val steadyEnd = System.nanoTime()
      val steadyCpu = AppCpu.secondsSince(steadyCpu0, client)
      // bursts: a fixed backlog at once, timed to the export that drains
      // it; the program's CPU is counted until the stream reports it done
      val drains = (0 until sc.bursts).flatMap { b =>
        val first = firstBurst + b * sc.burstRequests
        val c0 = AppCpu.snapshot(client)
        val t0 = System.nanoTime()
        (first until first + sc.burstRequests).foreach(i => ing.send(i, payloads(i), t0))
        if (!await(first + sc.burstRequests, s"burst $b")) None
        else {
          val cpu = AppCpu.secondsSince(c0, client)
          ing.exportEndOfFile(first + sc.burstRequests).map(end => ((end - t0) / 1e9, cpu))
        }
      }
      val walls = drains.map(_._1)
      val burstsEnd = System.nanoTime()
      heap.stop()
      sampling = false
      sampler.join()
      val peak = heap.peakMb
      ing.closeSenders()
      ing.stop()
      // every sent record exported exactly once, with the expected content
      val got = ing.readBack()
      reqs.foreach { r =>
        val s = ing.sent.get(r.index)
        val (n, h) = LogGen.expected(r)
        if (s == null) failures += s"request ${r.index}: never sent"
        else s.error.foreach(e => failures += s"request ${r.index}: $e")
        got.get(r.index.toLong) match {
          case None => failures += s"request ${r.index}: lost"
          case Some((gn, gh, batches)) =>
            if (batches.size != 1) failures += s"request ${r.index}: exported by batches ${batches.mkString(",")}"
            if (gn != n) failures += s"request ${r.index}: $gn rows exported, $n expected"
            else if (gh != h) failures += s"request ${r.index}: row digest mismatch"
        }
      }
      (got.keySet -- reqs.map(_.index.toLong)).foreach(k => failures += s"unknown request $k exported")
      if (walls.size != sc.bursts) failures += s"${sc.bursts - walls.size} bursts did not drain"
      val steady = (firstSteady until firstBurst).map(ing.sent.get)
      def exportEnd(i: Int): Option[Long] = got.get(i.toLong).flatMap(_._3.headOption)
        .flatMap(b => Option(ing.exports.get(b.toLong))).map(_._2)
      val delivery = steady.flatMap(s => exportEnd(s.index).map(e => Runs.ms(e - s.scheduledNs)))
      val items = reqs.map(_.recs.size.toLong).sum
      val itemsOut = got.values.map(_._1.toLong).sum
      val e2e = Map("setup_s" -> Stats.median(setupTimes.map(_.cpu)),
        "work_cpu_s" -> Stats.median(drains.map(_._2)), "peak_heap_mb" -> peak)
      val wall = Runs.wallFigures(Stats.median(walls), delivery)
      val layers = wall ++ counters.map { c =>
        spark.sparkContext.removeSparkListener(c)
        val batches = ing.streamCounters.all
        batches.foreach { b =>
          Option(ing.exports.get(b.id)).foreach { case (e0, e1) =>
            // progress reports durations only: place the trigger so it
            // ends with its export (the commit after it takes ~1 ms)
            val tid = trace.record("streaming.trigger", 0L,
              math.min(e0, e1 - b.triggerMs * 1000000L), e1)
            trace.record("pipeline.export", tid, e0, e1)
          }
        }
        val acks = steady.filter(_.ackNs > 0).map(s => Runs.ms(s.ackNs - s.scheduledNs))
        val http = ing.http.obs.counters
        Runs.layerCounters(c) ++ Map(
          "sources.http.accepted" -> http("accepted_requests").toDouble,
          "sources.http.refused" -> http("refused_requests").toDouble,
          "sources.http.recv_bytes_per_item" -> http("recv_bytes").toDouble / items,
          "sources.http.ack_p50_ms" -> Stats.quantile(acks, 0.5),
          "sources.http.ack_p90_ms" -> Stats.quantile(acks, 0.9),
          "sources.spool_files" -> ing.spoolFiles.toDouble,
          "streaming.triggers" -> batches.size.toDouble,
          "streaming.trigger_ms_p50" -> Stats.median(batches.map(_.triggerMs.toDouble)),
          "streaming.add_batch_ms_p50" -> Stats.median(batches.map(_.addBatchMs.toDouble)),
          "streaming.fixed_ms_p50" -> Stats.median(batches.map(b => (b.triggerMs - b.addBatchMs).toDouble)),
          "streaming.items_per_trigger_p50" -> Stats.median(batches.map(_.files.toDouble * R)),
          "streaming.backlog_files_max" -> backlogMax.get.toDouble,
          "pipeline.export_ms_p50" -> Stats.median(ing.exports.values.asScala.toSeq.map(x => Runs.ms(x._2 - x._1))),
          "pipeline.items_in" -> items.toDouble,
          "pipeline.items_out" -> itemsOut.toDouble,
          "pipeline.export_bytes_per_item" -> ing.exportBytes.toDouble / math.max(1L, itemsOut),
          "gen.lag_ms_max" -> steady.map(s => Runs.ms(s.startNs - s.scheduledNs)).max,
          "gen.sent" -> ing.sent.size.toDouble) ++
          Runs.probes(a, spark, dataDir.get, trace)
      }.getOrElse(Map.empty)
      val failureList = failures.result()
      val failedReqs = failureList.collect { case Req(i) => i }.distinct.size
      Outcome(total, failedReqs, failureList, e2e, layers, Map(
        "transport" -> "otlp_http_protobuf",
        "records_per_request" -> R, "steady_rate_items_per_s" -> sc.rateItemsPerS,
        "steady_requests" -> nSteady, "warmup_requests" -> sc.warmupRequests,
        "burst_requests" -> sc.burstRequests, "bursts" -> sc.bursts,
        "wall" -> wall, "burst_walls_s" -> walls, "burst_cpu_s" -> drains.map(_._2),
        "steady_cpu_s" -> steadyCpu, "connections" -> connections,
        "delivery_samples" -> delivery.size, "setup_walls_s" -> setupTimes.map(_.wall), "setup_cpu_s" -> setupTimes.map(_.cpu),
        "phase_s" -> Map("setup_inputs" -> (w0 - start) / 1e9, "warmup" -> (warmupEnd - w0) / 1e9, "steady" -> (steadyEnd - warmupEnd) / 1e9,
          "bursts" -> (burstsEnd - steadyEnd) / 1e9, "verify" -> (System.nanoTime() - burstsEnd) / 1e9)))
    } finally {
      // a no-op after a clean run; stops the stream when a phase threw
      try { ing.closeSenders(); ing.stop() } catch { case _: Exception => () }
      spark.stop()
      deleteTree(runDir)
    }
  }

  private val Req = "request (\\d+):.*".r

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
