package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashExprs, VectorExprs}
import graft.sources.{ArrowIpc, OtlpJsonSource, OtlpProtobuf}

/** Single-layer timings for the traced run: the wire decoders of
  * `sources` and the native kernels of `functions`, each warmed once
  * and then timed on its own. Jobs write to Spark's no-op sink, so
  * every output column is computed. */
object Probes {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** median seconds of `reps` timed calls after one warm call */
  private def time(trace: Trace, name: String, reps: Int)(body: => Unit): Double = {
    body
    Stats.median((0 until reps).map { _ =>
      trace.span(name) {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
    })
  }

  def sources(spark: SparkSession, pb: Seq[Array[Byte]], arrow: Seq[Array[Byte]],
              items: Long, reps: Int, trace: Trace): Map[String, Double] = {
    import spark.implicits._
    val schema = ArrowIpc.logsSchema(spark)
    val pbDf = pb.toDF("pb").cache()
    val ipcDf = arrow.toDF("ipc").cache()
    pbDf.count(); ipcDf.count()
    def perItem(s: Double): Double = s * 1e9 / items
    val sink = new java.util.concurrent.atomic.AtomicLong
    val r = Map(
      "sources.pb_to_json_ns_per_item" -> perItem(time(trace, "sources.pb_to_json", reps) {
        pb.foreach(b => sink.addAndGet(OtlpProtobuf.logsRequestToJson(b).numBytes()))
      }),
      "sources.pb_to_rows_ns_per_item" -> perItem(time(trace, "sources.pb_to_rows", reps) {
        noop(OtlpJsonSource.parseLogsPb(pbDf))
      }),
      "sources.arrow_decode_ns_per_item" -> perItem(time(trace, "sources.arrow_decode", reps) {
        arrow.foreach(b => sink.addAndGet(ArrowIpc.decodeRows(schema, b).size))
      }),
      "sources.arrow_to_rows_ns_per_item" -> perItem(time(trace, "sources.arrow_to_rows", reps) {
        noop(ArrowIpc.parse(ipcDf, schema))
      }))
    pbDf.unpersist(); ipcDf.unpersist()
    r
  }

  val Kernels: Seq[String] = Seq("minhash_signature", "winnow_packed", "repetition_signals",
    "simhash_bits", "dhash_stub_bits", "nearest_centroid")

  /** rows/s of each kernel as a projection over `copies` cached copies
    * of documents (embeddings for nearest_centroid) */
  def functions(spark: SparkSession, dataDir: String, copies: Int, reps: Int,
                trace: Trace): Map[String, Double] = {
    val k = spark.range(copies).toDF("copy")
    val docs = graft.Tables(spark, dataDir, "documents").crossJoin(k)
      .select(col("doc_id"), split(col("text"), " ").as("tokens"),
        HashExprs.word_shingles(col("text"), 5).as("shingles")).cache()
    val embs = graft.Tables(spark, dataDir, "embeddings").crossJoin(k)
      .select(col("embedding").cast("array<double>").as("v")).cache()
    val nDocs = docs.count().toDouble
    val nEmbs = embs.count().toDouble
    val centroids = (0 until 16).map(c => (0 until 64).map(i => math.sin(c * 64 + i + 1.0)))
    val projections: Seq[(String, DataFrame, Double)] = Seq(
      ("minhash_signature", docs.select(HashExprs.minhash_signature(col("shingles"), 128)), nDocs),
      ("winnow_packed", docs.select(HashExprs.winnow_packed(col("tokens"))), nDocs),
      ("repetition_signals", docs.select(HashExprs.repetition_signals(col("tokens"))), nDocs),
      ("simhash_bits", docs.select(HashExprs.simhash_bits(col("tokens"))), nDocs),
      ("dhash_stub_bits", docs.select(HashExprs.dhash_stub_bits(col("doc_id"))), nDocs),
      ("nearest_centroid", embs.select(VectorExprs.nearest_centroid(col("v"), centroids)), nEmbs))
    val r = projections.map { case (name, df, rows) =>
      s"functions.$name.rows_per_s" -> rows / time(trace, s"functions.$name", reps)(noop(df))
    }.toMap
    docs.unpersist(); embs.unpersist()
    r
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear interpolation between the closest ranks (the inclusive
    * method); NaN when empty */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
