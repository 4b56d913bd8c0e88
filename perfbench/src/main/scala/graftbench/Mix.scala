package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The closed-loop analyst: one client runs a query mix serially,
  * pass after pass, through `graft.SparkEntry.queries`. */
object Mix {
  /** the curation mix: most of its time goes to the native kernels of
    * `functions` and to the DedupOps/AnnOps/TextOps operators */
  val queries: Seq[String] = Seq("q_dedup_fused", "q_dedup_minhash", "q_dedup_simhash",
    "q_winnowing", "q_repetition_gopher", "q_knn_graph", "q_ann_ivf",
    "q_ann_ivf_sweep", "q_media_phash", "q_lang_trigram")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Materializes every column of `df` and folds it into an
    * order-independent digest: row count and two 64-bit sums over the
    * halves of each row's xxhash64. Map columns hash through their
    * JSON text, since Spark does not hash maps. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = col("h")
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
      .head()
    String.format(java.util.Locale.ROOT, "%d:%x:%x",
      Long.box(r.getLong(0)), Long.box(r.getLong(1)), Long.box(r.getLong(2)))
  }

  /** `cpu`: the program's CPU seconds during the execution ([[AppCpu]]) */
  final case class Exec(query: String, pass: Int, seconds: Double, cpu: Double,
                        digest: Option[String], error: Option[String]) {
    def ok(expected: Map[String, String]): Boolean =
      error.isEmpty && digest.isDefined && expected.get(query) == digest
  }

  def runQuery(spark: SparkSession, dataDir: String, q: String, pass: Int,
               trace: Trace, counters: Option[SparkCounters]): Exec = {
    val sc = spark.sparkContext
    sc.setJobGroup(q, q, interruptOnCancel = false)
    try trace.span(s"query.$q") {
      counters.foreach(_.groupSpan.put(q, trace.currentId))
      val c0 = AppCpu.snapshot()
      val t0 = System.nanoTime()
      val res =
        try Right(digest(graft.SparkEntry.queries(q)(spark, dataDir)))
        catch {
          case e: Exception => Left(s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)}")
        }
      val wall = (System.nanoTime() - t0) / 1e9
      Exec(q, pass, wall, AppCpu.secondsSince(c0), res.toOption, res.left.toOption)
    } finally sc.clearJobGroup()
  }

  final case class Result(warmup: Seq[Exec], warmupWall: Double, measured: Seq[Exec],
                          measuredWall: Double) {
    /** a pass as the sum over the mix of each query's median */
    def perPass(f: Exec => Double): Double =
      measured.groupBy(_.query).values.map(es => Stats.median(es.map(f))).sum
  }

  /** One untimed pass in mix order, then the measured window: passes in
    * seed-shuffled orders, one query at a time, until `seconds` have
    * passed and every query has run at least once. The heap watch is on
    * for the measured window only. */
  def run(spark: SparkSession, dataDir: String, queries: Seq[String], seed: Long,
          seconds: Double, trace: Trace, heap: WindowWatch,
          counters: () => Option[SparkCounters]): Result = {
    val w0 = System.nanoTime()
    // the warm-up is not part of the trace: its cold queries have no
    // job spans under them and would pose as query self time
    val warm = queries.map(q => runQuery(spark, dataDir, q, -1, new Trace(false, ""), None))
    val warmWall = (System.nanoTime() - w0) / 1e9
    val c = counters()
    heap.start()
    val start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    val execs = Seq.newBuilder[Exec]
    var pass = 0
    var done = false
    while (!done) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries).iterator
      while (order.hasNext && !(pass > 0 && elapsed >= seconds))
        execs += runQuery(spark, dataDir, order.next(), pass, trace, c)
      done = elapsed >= seconds
      pass += 1
    }
    val wall = elapsed
    heap.stop()
    Result(warm, warmWall, execs.result(), wall)
  }
}
