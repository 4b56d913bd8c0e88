package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle-parity helpers.
  *
  * The driver hash-compares Spark parquet output against DuckDB. Two
  * rules keep doubles bit-identical across engines:
  *  1. per-row arithmetic stays in IEEE double (identical in both),
  *  2. any SUM over rows goes through DECIMAL(28,8) so the result is
  *     independent of partitioning/accumulation order, then casts back
  *     to double.
  * Timestamps: events.ts is nanosecond parquet; Spark truncates to
  * micros. We only ever emit second-or-coarser buckets as BIGINT.
  */
object QUtil {
  /** order-independent exact sum of a double expression */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 8))).cast("double")

  /** Bounded pool for overlapping INDEPENDENT Spark actions inside
    * one operator (optimization guide §2.6: actions are only
    * sequential because the driver calls them sequentially; a second
    * in-flight job back-fills the executor tail of the first). Used
    * by the multi-leg sweeps and the fused-dedup build, whose eager
    * localCheckpoint/collect steps otherwise serialize. State-free:
    * each call sites its own small pool, nothing shared across
    * queries, and the RESULT VALUES are unchanged — same frames,
    * same actions, different submission order. */
  /** Intra-operator job concurrency. Default 4; tune with
    * SPARK_GRAFT_INTRA_SLOTS (1 serializes — the pre-r18 behavior).
    * The right value depends on how many QUERIES run concurrently
    * around the operator: a serial caller (Verify, isolated re-runs,
    * interactive use) wants 4; under Bench's own 4-way slot
    * concurrency the box is already near-packed and intra-operator
    * fan-out mostly reshuffles the same 32 cores. */
  private lazy val intraSlots: Int = sys.env.get("SPARK_GRAFT_INTRA_SLOTS") match {
    case None => 4
    case Some(v) =>
      try v.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_INTRA_SLOTS must be an integer, got '$v'")
      }
  }

  def inParallel[A](work: Seq[() => A], slots: Int = 4): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(math.min(slots, intraSlots), work.size)))
    // java futures, not scala ones: get() rethrows EVERY Throwable
    // (scala Futures only complete on NonFatal, so a fatal worker
    // error — OOM, StackOverflow — would leave the await hanging
    // forever). Results drain in completion order, so the first
    // failure surfaces as soon as it happens, not after every task
    // submitted before it; the pool is then shut down hard so queued
    // and running thunks don't keep going behind the propagated error
    try {
      val done = new java.util.concurrent.ExecutorCompletionService[(Int, A)](pool)
      work.zipWithIndex.foreach { case (w, i) =>
        done.submit(new java.util.concurrent.Callable[(Int, A)] { def call(): (Int, A) = (i, w()) })
      }
      val out = new Array[Any](work.size)
      work.foreach { _ =>
        try { val (i, a) = done.take().get(); out(i) = a }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            throw e.getCause
        }
      }
      out.toSeq.map(_.asInstanceOf[A])
    } finally pool.shutdown()
  }

  /** JSON string escape for the driver artifacts (Verify's oracle
    * dump, Bench's result line): backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL or an error
    * message would otherwise break the driver's json.load. ONE
    * definition so the two artifacts can never diverge in escaping. */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
