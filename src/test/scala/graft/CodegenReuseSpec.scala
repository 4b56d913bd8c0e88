package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark compiles each distinct generated class once and keeps it in
  * a JVM-wide LRU cache of `spark.sql.codegen.cache.maxEntries`
  * classes (GraftSession sizes it). The curation mix cycles through
  * more classes than Spark's default of 100, so at the default every
  * warm pass recompiles its whole working set. Compiles are counted by
  * Spark's own compile-time histogram, one sample per cache miss. The
  * cold pass must start from an empty cache, so build.sbt forks this
  * suite into a JVM of its own. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** the benchmark's curation mix (perfbench `Mix.queries`) */
  private val mix = Seq("q_dedup_fused", "q_dedup_minhash", "q_dedup_simhash",
    "q_winnowing", "q_repetition_gopher", "q_knn_graph", "q_ann_ivf",
    "q_ann_ivf_sweep", "q_media_phash", "q_lang_trigram")

  /** classes compiled by one pass of the mix */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    mix.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a warm pass of the curation mix reuses its compiled classes") {
    val cold = pass()
    assert(cold > 100, s"the cold pass compiled $cold classes: the working set " +
      "fits Spark's default cache of 100, so this spec no longer pins anything")
    val warm1 = pass()
    val warm2 = pass()
    info(s"compiles per pass: cold $cold, warm $warm1, $warm2")
    assert(warm2 <= cold * 0.05, s"a warm pass recompiled $warm2 of the cold pass's " +
      s"$cold classes: the codegen cache is smaller than the working set")
  }
}
