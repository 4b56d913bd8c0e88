package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.DataStreamReader

/** Receiver spools: how a receiver lands a request in one
  * ([[Spool.commit]]), and how every stream source that tails a spool
  * directory admits its files into a micro-batch ([[Spool.readStream]]).
  *
  * A micro-batch costs a fixed part (planning, source listing, three
  * metadata-log writes: file-source log, offset WAL and commit log;
  * the sink's writer and commit protocol; on the local file system
  * none of them starts a process, see [[LocalFs]]) that does not
  * depend on how many requests it carries, so a batch is sized by bytes, as
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
