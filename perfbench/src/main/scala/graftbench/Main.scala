package graftbench

import java.io.{File, PrintStream}

import org.apache.spark.sql.SparkSession

/** graft's benchmark. One workload per run:
  *
  *  - `ingest_http_pb`: open-loop OTLP/HTTP protobuf log pushes into
  *    `OtlpHttpReceiver`, streamed by `OtlpJsonSource.streamLogsPb`
  *    through `Processors.filter`/`attributes` to `ParquetExporter`.
  *  - `curate_dedup`: one closed-loop client running the curation query
  *    mix of `SparkEntry.queries` serially ([[Mix]]).
  *
  * The last stdout line is the result JSON; `--trace 1` reports
  * per-layer metrics in place of the end-to-end ones.
  *
  * Usage: `Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *   [--home <checkout>] [--toy] [--digests <file>] [--write-digests]
  *   [--dump-results <dir>]` */
object Main {
  final case class Scale(data: DataGen.Size, recordsPerRequest: Int, rateItemsPerS: Double,
                         warmupRequests: Int, burstRequests: Int, bursts: Int, setups: Int,
                         probeRequests: Int, probeCopies: Int, probeReps: Int)

  /** The sizes runs measure at. A micro-batch costs a fixed part plus a
    * part per request, and runs back to back, so its duration grows as
    * 1 / (1 - rate x per-request cost): a slower host raises both the
    * cost and that factor. Requests of 16 records at 7 a second keep the
    * product near a fifth, and give 105 latency samples in a 15 s steady
    * phase. A burst of 30 requests drains in 3 or 4 micro-batches of at
    * most 10 files, depending on how many files the first one finds, so
    * one batch more or less moves a burst's time by a quarter at most. */
  val Full = Scale(DataGen.Size(500, 500), recordsPerRequest = 16,
    rateItemsPerS = 112.0, warmupRequests = 10, burstRequests = 30, bursts = 4, setups = 5,
    probeRequests = 40, probeCopies = 20, probeReps = 2)
  /** for the benchmark's own test */
  val Toy = Scale(DataGen.Size(60, 60), recordsPerRequest = 16, rateItemsPerS = 400.0,
    warmupRequests = 4, burstRequests = 4, bursts = 1, setups = 1,
    probeRequests = 4, probeCopies = 1, probeReps = 1)

  val Workloads: Seq[String] = Seq("ingest_http_pb", "curate_dedup")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "work_cpu_s" -> "s",
    "peak_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.http.accepted" -> "count", "sources.http.refused" -> "count",
    "sources.http.recv_bytes_per_item" -> "B", "sources.http.ack_p50_ms" -> "ms",
    "sources.http.ack_p90_ms" -> "ms", "sources.pb_to_json_ns_per_item" -> "ns",
    "sources.pb_to_rows_ns_per_item" -> "ns", "sources.arrow_decode_ns_per_item" -> "ns",
    "sources.arrow_to_rows_ns_per_item" -> "ns", "sources.spool_files" -> "count",
    "streaming.triggers" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.fixed_ms_p50" -> "ms",
    "streaming.items_per_trigger_p50" -> "items", "streaming.backlog_files_max" -> "count",
    "pipeline.export_ms_p50" -> "ms", "pipeline.items_in" -> "items",
    "pipeline.items_out" -> "items", "pipeline.export_bytes_per_item" -> "B") ++
    Mix.queries.flatMap(q => Seq(s"query.$q.wall_s" -> "s", s"query.$q.cpu_s" -> "s",
      s"query.$q.jobs" -> "count", s"query.$q.shuffle_bytes" -> "B")) ++
    Seq("operators.spill_bytes" -> "B", "operators.peak_exec_mem_mb" -> "MB",
      "operators.tasks" -> "count") ++
    Probes.Kernels.map(k => s"functions.$k.rows_per_s" -> "rows/s") ++
    Seq("gen.lag_ms_max" -> "ms", "gen.sent" -> "count") ++
    Seq("wall.work_s" -> "s", "wall.latency_p50_ms" -> "ms", "wall.latency_p90_ms" -> "ms",
      "host.steal_pct" -> "%") ++
    Seq("gen", "sources", "streaming", "pipeline", "query", "operators", "functions")
      .map(l => s"self.${l}_ms" -> "ms") ++
    EndToEnd.map { case (n, u) => s"traced.$n" -> u }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        home: File, toy: Boolean, digests: Option[File], writeDigests: Boolean,
                        dumpResults: Option[File]) {
    def scale: Scale = if (toy) Toy else Full
    def work: File = new File(home, ".bench_build")
    def digestFile: File = digests.getOrElse(new File(home, "perfbench/expected_digests.json"))
  }

  def parse(argv: Seq[String]): Either[String, Args] = {
    def loop(rest: List[String], m: Map[String, String]): Either[String, Map[String, String]] =
      rest match {
        case Nil => Right(m)
        case ("--toy" | "--write-digests") :: tail => loop(tail, m + (rest.head -> "1"))
        case k :: v :: tail if k.startsWith("--") => loop(tail, m + (k -> v))
        case other => Left(s"unexpected argument: ${other.head}")
      }
    loop(argv.toList, Map.empty).flatMap { m =>
      try {
        val w = m.getOrElse("--workload", "")
        if (!Workloads.contains(w)) Left(s"--workload must be one of ${Workloads.mkString(", ")}")
        else Right(Args(w, m.getOrElse("--seed", "1").toLong,
          m.getOrElse("--seconds", "15").toDouble, m.getOrElse("--trace", "0") == "1",
          new File(m.getOrElse("--home", ".")).getAbsoluteFile, m.contains("--toy"),
          m.get("--digests").map(new File(_)), m.contains("--write-digests"),
          m.get("--dump-results").map(new File(_))))
      } catch { case e: NumberFormatException => Left(s"bad number: ${e.getMessage}") }
    }
  }

  def main(argv: Array[String]): Unit = {
    val code = parse(argv.toSeq) match {
      case Left(err) => System.err.println(err); 2
      case Right(a) =>
        try run(a, System.out)
        catch { case e: Throwable => e.printStackTrace(); 1 }
    }
    // Spark leaves non-daemon threads behind
    System.exit(code)
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()
  /** Spark task threads. One, whatever the machine has: on a shared
    * host the CPUs a process actually gets swing between one and all of
    * them for tens of seconds at a time, which moved four-thread runs
    * by up to 4x, while one thread kept its speed. */
  val sparkThreads: Int = 1

  def session(a: Args): SparkSession = {
    val tmp = new File(a.work, "tmp")
    tmp.mkdirs()
    val s = graft.GraftSession.builder(sparkThreads.toString)
      .config("spark.local.dir", tmp.getPath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `failed` counts failed operations; `failures` describes them and
    * any run-level error, and any entry makes the run incorrect */
  final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
                           e2e: Map[String, Double], layers: Map[String, Double],
                           info: Map[String, Any])

  /** runs one workload, prints the info line and the result line;
    * returns the exit code (0 only when every check passed) */
  def run(a: Args, out: PrintStream): Int = {
    val trace = new Trace(a.trace, s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
    val heap = new WindowWatch
    val o =
      if (a.workload.startsWith("ingest_")) IngestRun(a, trace, heap)
      else MixRun(a, trace, heap)
    val metrics =
      if (!a.trace) EndToEnd.map { case (n, u) => (n, o.e2e(n), u) }
      else {
        val self = trace.selfMsByLayer
        val all = o.layers + ("host.steal_pct" -> heap.stealPct) ++
          Seq("gen", "sources", "streaming", "pipeline", "query", "operators", "functions")
            .map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0)) ++
          o.e2e.map { case (n, v) => s"traced.$n" -> v }
        PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }
    val failed = o.failed
    val correct = o.failures.isEmpty && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val result = Json.obj("correct" -> correct, "attempted" -> o.attempted,
      "failed" -> failed, "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        // JSON has no NaN: a metric a failed run could not measure is null
        n -> Json.obj("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u) }: _*))
    val info = Json.obj((o.info ++ heap.info ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "available_cpus" -> cpus, "spark_master" -> s"local[$sparkThreads]",
      "requested_cpus" -> sparkThreads, "oversubscribed" -> (sparkThreads > cpus),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark_version" -> org.apache.spark.SPARK_VERSION, "cold_ready_s" -> coldReadyS)).toSeq: _*)
    val report = Json.obj("info" -> info, "result" -> result,
      "failures" -> o.failures.take(50), "end_to_end" -> o.e2e, "per_layer" -> o.layers)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Json.writeFile(new File(a.work, s"out/$tag.json"), report)
    if (a.trace) trace.write(new File(a.work, s"out/$tag.spans.jsonl"))
    o.failures.take(20).foreach(f => System.err.println(s"FAILED: $f"))
    out.println(Json.write(Json.obj("info" -> info)))
    out.println(Json.write(result))
    out.flush()
    if (correct) 0 else 1
  }

  /** One set-up: wall seconds and the program's CPU seconds ([[AppCpu]]) */
  final case class SetupTime(wall: Double, cpu: Double)

  /** K set-ups, keeping the last; returns it and every set-up's time.
    * The first is cold: it loads the classes and JIT-compiles the code
    * the later ones reuse. */
  def setups[T](k: Int, setup: Int => T, teardown: T => Unit): (T, Seq[SetupTime]) = {
    var last: Option[T] = None
    val times = (0 until k).map { i =>
      last.foreach(teardown)
      val c0 = AppCpu.snapshot()
      val t0 = System.nanoTime()
      last = Some(setup(i))
      val wall = (System.nanoTime() - t0) / 1e9
      if (i == 0) coldReadyS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      SetupTime(wall, AppCpu.secondsSince(c0))
    }
    (last.get, times)
  }

  /** seconds from JVM start until the first set-up was ready: the cold
    * start a user of a fresh process waits for (reported in the info line) */
  @volatile var coldReadyS: Double = Double.NaN
}
