package graft

import org.apache.spark.sql.SparkSession

import graft.sources.LocalFs

/** One place for session config so Verify/Bench/tests agree.
  * local[N] testing stands in for a multi-executor cluster; shuffle
  * partitions track core count, AQE handles skew/coalescing at scale.
  *
  * Every session serves the `file` scheme with [[LocalFs]], through
  * both Hadoop entry points (`FileSystem` and `FileContext`), so local
  * writes start no `chmod`/`readlink` processes (~30 per streaming
  * micro-batch with Hadoop's stock class and no native library). The
  * same two keys set in spark-defaults, `--conf` or a system property
  * are overridden. Hadoop caches one `FileSystem` per scheme and user
  * for the JVM, so a `FileSystem.get` on `file:` made before the first
  * session, with a configuration that lacks these settings, keeps the
  * stock class for the rest of the process.
  */
object GraftSession {
  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). graft's
    * working set is far larger: one pass of the ten-query curation mix
    * needs ~340 distinct classes, the whole 239-query registry at
    * sf0.001 ~2,900 (~2,800 on a cold pass plus 60–150 new ones per
    * warm pass). An LRU cache smaller than the cycle misses on every
    * lookup, so at the default every warm curation pass recompiled
    * 350–360 classes in Janino (a quarter of its CPU samples); at this
    * size the first warm pass compiles a few dozen at most and later
    * ones none. Each cached class retains ~33 KB of heap and ~8 KB of
    * metaspace, and memory follows the classes actually used, not the
    * cap: the curation mix keeps ~11 MB; after a warm registry pass,
    * heap after a full GC read 241 MB against 151 MB at the default,
    * metaspace 212 against 189 MB. Pinned by CodegenReuseSpec. */
  private val CodegenCacheEntries = 4096

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // events.ts is TIMESTAMP(NANOS) parquet — read as bigint nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed tables (bucketed layouts) land in tmp, not the repo
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      // sorted-bucketed scans report their sort order, eliminating
      // both SMJ sorts of a co-located join. Spark gates this behind
      // a legacy flag because it requires ONE file per bucket —
      // which ScaleOps.writeBucketed's bucket-aligned repartition
      // guarantees (multi-file buckets silently fall back to sorting,
      // so the flag is safe for any other table)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // static conf, read once per JVM on the first codegen compile;
      // see CodegenCacheEntries
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      // AQE numbers whole-stage codegen stages in the order it creates
      // them, which varies with stage completion timing (most under
      // QUtil.inParallel). By default Spark puts that number in the
      // generated class name, so a cached class compiles again under a
      // new name (0–20 per warm curation pass, measured). Off, the id
      // stays in a comment, which the cache key ignores.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)

  def get(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
