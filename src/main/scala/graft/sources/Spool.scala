package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.DataStreamReader

/** Admission of spool files into a micro-batch, shared by every
  * stream source that tails a receiver's spool directory.
  *
  * A micro-batch costs a fixed part (planning, source listing,
  * metadata logs, the sink's writer and commit) that does not depend
  * on how many requests it carries, so a batch is sized by bytes, as
  * the collector's batch processor sizes one by items and never by
  * request count. The budget is one maximal request: a burst of
  * ordinary requests drains in one or two triggers, and no trigger
  * holds much more than the largest request a receiver accepts.
  * Spark admits at least one file per trigger, even one larger than
  * the budget, so no request can stall the stream. */
object Spool {
  /** The largest request a receiver accepts by default, in bytes
    * (64 MiB): the HTTP receiver's decoded-body cap, the Arrow gRPC
    * receivers' message cap (`max_recv_msg_size_mib`), and the
    * per-trigger byte budget of every spool stream. */
  val MaxRequestBytes: Long = 64L * 1024 * 1024

  /** A stream reader that admits at most [[MaxRequestBytes]] of spool
    * files per trigger, or at most `maxFilesPerTrigger` files when one
    * is given (tests and configs use it to force several batches).
    * Spark refuses both options at once, so exactly one is set. */
  def readStream(spark: SparkSession, maxFilesPerTrigger: Option[Int]): DataStreamReader =
    maxFilesPerTrigger match {
      case Some(n) => spark.readStream.option("maxFilesPerTrigger", n)
      case None => spark.readStream.option("maxBytesPerTrigger", MaxRequestBytes)
    }
}
