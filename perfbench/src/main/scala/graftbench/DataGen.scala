package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic `documents` and `embeddings` tables for the
  * curation mix, in the layout `graft.Tables` reads (one parquet
  * directory per table, the schemas of the repository's test data).
  * Every value is a hash of the row id and a per-column salt, so the
  * tables depend neither on partitioning nor on the run's seed: the
  * mix's expected digests hold for every seed, and the seed only
  * reorders queries. About 15% of documents are near or exact copies
  * of an earlier one, so dedup has work to do; embeddings fall in ten
  * clusters, so kNN and IVF have structure to find. */
object DataGen {
  final case class Size(documents: Int, embeddings: Int) {
    def key: String = s"v1-d$documents-e$embeddings"
  }

  private val Vocab = Seq("the", "a", "data", "table", "row", "column", "query", "scan",
    "join", "agg", "group", "order", "sort", "hash", "key", "value", "part", "line",
    "customer", "window", "stream", "batch", "spark", "filter", "merge", "vector",
    "fast", "slow", "big", "small")

  private def h(id: Column, salt: Int): Column = xxhash64(lit(salt), id)
  private def pick(id: Column, salt: Int, n: Long): Column = pmod(h(id, salt), lit(n))
  private def oneOf(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(id, salt, xs.size.toLong) + 1).cast("int"))

  /** writes the tables under `root/<size key>` unless present; returns that dir */
  def ensure(spark: SparkSession, root: java.io.File, size: Size): String = {
    val dir = new java.io.File(root, size.key)
    if (!new java.io.File(dir, "_COMPLETE").exists()) {
      val tmp = new java.io.File(root, s".${size.key}-${ProcessHandle.current.pid}")
      tables(spark, size).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(tmp, s"$name.parquet").getPath)
      }
      new java.io.File(tmp, "_COMPLETE").createNewFile()
      if (!tmp.renameTo(dir) && !new java.io.File(dir, "_COMPLETE").exists())
        throw new java.io.IOException(s"could not publish $dir")
    }
    dir.getPath
  }

  def tables(spark: SparkSession, size: Size): Seq[(String, DataFrame)] = {
    val id = col("id")
    // a copy takes an earlier document's words (src) and, unless exact,
    // swaps one of them
    val vocab = array(Vocab.map(lit): _*)
    val docSrc = when(id > 0 && pick(id, 31, 100) < 15,
      id - 1 - pick(id, 32, 50) % id).otherwise(id)
    val documents = spark.range(size.documents)
      .select(id, docSrc.as("src"), pick(id, 33, 3).as("exact"))
      .withColumn("len", pick(col("src"), 34, 80) + 20)
      .withColumn("edit", pick(id, 35, 1000) % col("len"))
      .withColumn("words", transform(sequence(lit(0L), col("len") - 1), i =>
        when(col("src") =!= col("id") && col("exact") =!= 0 && i === col("edit"), lit("edited"))
          .otherwise(element_at(vocab, (pmod(xxhash64(lit(36), col("src"), i),
            lit(Vocab.size.toLong)) + 1).cast("int")))))
      .select(id.as("doc_id"), array_join(col("words"), " ").as("text"),
        oneOf(id, 37, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
        concat(lit("src"), pick(id, 38, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // ten clusters: a per-label centroid plus per-vector noise
    val embeddings = spark.range(size.embeddings)
      .select(id.as("vec_id"), pick(id, 39, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0L), lit(63L)), i =>
          ((pmod(xxhash64(lit(40), col("label"), i), lit(2001L)) - 1000) / 10000.0 +
            (pmod(xxhash64(lit(41), col("vec_id"), i), lit(2001L)) - 1000) / 20000.0)
            .cast("float")).as("embedding"),
        col("label"))
    Seq("documents" -> documents, "embeddings" -> embeddings)
  }
}
