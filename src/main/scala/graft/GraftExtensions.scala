package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{CosineSim, GzipCompress, GzipDecompress, HyperplaneBuckets, HyperplaneBucketsMd5, MinHashSignature, MinHashSignatureMd5, RollingHash, SimHashBits, SimHashBits128, SimHashBitsMd5, WordShingles}
import graft.sources.{OtlpLogsJsonToPb, OtlpLogsPbToJson, OtlpLogsPbToRows, OtlpLogsPbToRowsSafe, OtlpMetricsJsonToPb, OtlpMetricsPbToJson, OtlpMetricsPbToJsonSafe, OtlpSpansJsonToPb, OtlpSpansPbToJson, OtlpSpansPbToJsonSafe}

/** SQL surface for the native expressions, so `spark.sql` users get
  * the same operators as the Column API:
  *
  *   SELECT minhash_signature(word_shingles(text, 3), 32) FROM docs
  *   SELECT cosine_sim(a.embedding, b.embedding) FROM ...
  *
  * Register per-session (`GraftExtensions.register(spark)`) or via
  * `--conf spark.sql.extensions=graft.GraftExtensions` at submit.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach { case (name, (info, builder)) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _)  => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private[graft] val registrations: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] = Map(
    "word_shingles" -> (
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => WordShingles(args.head, intArg(args(1), "n"))),
    "minhash_signature" -> (
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => MinHashSignature(args.head, intArg(args(1), "k"))),
    "simhash_bits" -> (
      new ExpressionInfo(classOf[SimHashBits].getName, "simhash_bits"),
      (args: Seq[Expression]) => SimHashBits(args.head)),
    "cosine_sim" -> (
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSim(args.head, args(1))),
    "hyperplane_buckets" -> (
      new ExpressionInfo(classOf[HyperplaneBuckets].getName, "hyperplane_buckets"),
      (args: Seq[Expression]) =>
        HyperplaneBuckets(args.head, intArg(args(1), "tables"), intArg(args(2), "planes"))),
    "minhash_signature_md5" -> (
      new ExpressionInfo(classOf[MinHashSignatureMd5].getName, "minhash_signature_md5"),
      (args: Seq[Expression]) => MinHashSignatureMd5(args.head, intArg(args(1), "k"))),
    "simhash_bits_md5" -> (
      new ExpressionInfo(classOf[SimHashBitsMd5].getName, "simhash_bits_md5"),
      (args: Seq[Expression]) => SimHashBitsMd5(args.head)),
    "simhash_bits_128" -> (
      new ExpressionInfo(classOf[SimHashBits128].getName, "simhash_bits_128"),
      (args: Seq[Expression]) => SimHashBits128(args.head)),
    "hyperplane_buckets_md5" -> (
      new ExpressionInfo(classOf[HyperplaneBucketsMd5].getName, "hyperplane_buckets_md5"),
      (args: Seq[Expression]) =>
        HyperplaneBucketsMd5(args.head, intArg(args(1), "tables"), intArg(args(2), "planes"))),
    "rolling_hash" -> (
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (args: Seq[Expression]) => args match {
        case Seq(t)       => RollingHash(t, 31L, 1000000007L)
        case Seq(t, b, m) => RollingHash(t, longArg(b, "base"), longArg(m, "mod"))
        case other => throw new IllegalArgumentException(
          s"rolling_hash takes (text) or (text, base, mod), got ${other.size} args")
      }),
    "otlp_logs_pb_to_json" -> (
      new ExpressionInfo(classOf[OtlpLogsPbToJson].getName, "otlp_logs_pb_to_json"),
      (args: Seq[Expression]) => OtlpLogsPbToJson(args.head)),
    "otlp_spans_pb_to_json" -> (
      new ExpressionInfo(classOf[OtlpSpansPbToJson].getName, "otlp_spans_pb_to_json"),
      (args: Seq[Expression]) => OtlpSpansPbToJson(args.head)),
    "otlp_metrics_pb_to_json" -> (
      new ExpressionInfo(classOf[OtlpMetricsPbToJson].getName, "otlp_metrics_pb_to_json"),
      (args: Seq[Expression]) => OtlpMetricsPbToJson(args.head)),
    "otlp_logs_json_to_pb" -> (
      new ExpressionInfo(classOf[OtlpLogsJsonToPb].getName, "otlp_logs_json_to_pb"),
      (args: Seq[Expression]) => OtlpLogsJsonToPb(args.head)),
    "otlp_spans_json_to_pb" -> (
      new ExpressionInfo(classOf[OtlpSpansJsonToPb].getName, "otlp_spans_json_to_pb"),
      (args: Seq[Expression]) => OtlpSpansJsonToPb(args.head)),
    "otlp_metrics_json_to_pb" -> (
      new ExpressionInfo(classOf[OtlpMetricsJsonToPb].getName, "otlp_metrics_json_to_pb"),
      (args: Seq[Expression]) => OtlpMetricsJsonToPb(args.head)),
    "gzip_compress" -> (
      new ExpressionInfo(classOf[GzipCompress].getName, "gzip_compress"),
      (args: Seq[Expression]) => GzipCompress(args.head)),
    "gzip_decompress" -> (
      new ExpressionInfo(classOf[GzipDecompress].getName, "gzip_decompress"),
      (args: Seq[Expression]) => GzipDecompress(args.head)),
    "otlp_logs_pb_to_rows" -> (
      new ExpressionInfo(classOf[OtlpLogsPbToRows].getName, "otlp_logs_pb_to_rows"),
      (args: Seq[Expression]) => OtlpLogsPbToRows(args.head)),
    "otlp_logs_pb_to_rows_safe" -> (
      new ExpressionInfo(classOf[OtlpLogsPbToRowsSafe].getName, "otlp_logs_pb_to_rows_safe"),
      (args: Seq[Expression]) => OtlpLogsPbToRowsSafe(args.head)),
    "otlp_spans_pb_to_json_safe" -> (
      new ExpressionInfo(classOf[OtlpSpansPbToJsonSafe].getName, "otlp_spans_pb_to_json_safe"),
      (args: Seq[Expression]) => OtlpSpansPbToJsonSafe(args.head)),
    "otlp_metrics_pb_to_json_safe" -> (
      new ExpressionInfo(classOf[OtlpMetricsPbToJsonSafe].getName, "otlp_metrics_pb_to_json_safe"),
      (args: Seq[Expression]) => OtlpMetricsPbToJsonSafe(args.head)))

  /** imperative registration for an existing session */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    registrations.foreach { case (name, (info, builder)) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
  }
}
