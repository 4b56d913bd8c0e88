package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.OtelModel

/** OTLP/JSON log ingestion (receiver/otlpreceiver analog, JSON
  * encoding path — reference: pdata/plog/json.go). Parses the
  * ExportLogsServiceRequest shape:
  *
  * {"resourceLogs":[{"resource":{"attributes":[{"key":k,"value":{"stringValue":v}}]},
  *   "scopeLogs":[{"scope":{"name":n},
  *     "logRecords":[{"timeUnixNano":"...","severityNumber":9,
  *       "severityText":"INFO","body":{"stringValue":"..."},
  *       "attributes":[...],"traceId":"..","spanId":".."}]}]}]}
  *
  * and flattens the Resource → Scope → LogRecord tree into the
  * columnar log schema. Pure column ops (from_json + explode), so the
  * same code serves batch reads and readStream file sources.
  */
/** Java-serializable Hadoop Configuration carrier (Spark's own
  * SerializableConfiguration is private[spark]): ships the DRIVER's
  * filesystem config — defaultFS, object-store credentials — to
  * executor-side writers that open filesystems directly. */
final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

object OtlpJsonSource {

  // ---- pcommon.Value (AnyValue) model ----------------------------
  // Reference behavior (not code): pdata/pcommon/value.go:24-31 — a
  // value is one of Str, Int, Double, Bool, Map, Slice, Bytes; the
  // OTLP/JSON forms are stringValue, intValue (string-encoded int64),
  // doubleValue, boolValue, bytesValue (base64), arrayValue{values},
  // kvlistValue{values}. Spark JSON schemas cannot recurse, so nested
  // array/kvlist elements are scalar-typed (one nesting level —
  // deeper trees parse as null, the documented depth limit).

  private val scalarValueType = StructType(Seq(
    StructField("stringValue", StringType),
    StructField("intValue", StringType),
    StructField("doubleValue", DoubleType),
    StructField("boolValue", BooleanType),
    StructField("bytesValue", StringType)))

  private val anyValueType = StructType(scalarValueType.fields.toSeq ++ Seq(
    StructField("arrayValue", StructType(Seq(
      StructField("values", ArrayType(scalarValueType))))),
    StructField("kvlistValue", StructType(Seq(
      StructField("values", ArrayType(StructType(Seq(
        StructField("key", StringType),
        StructField("value", scalarValueType))))))))))

  private val kvType = ArrayType(StructType(Seq(
    StructField("key", StringType),
    StructField("value", anyValueType))))

  /** canonical string of a scalar AnyValue (typed branches collapse
    * to their text form; ints keep their string encoding; bools are
    * "true"/"false"; bytes stay base64) */
  private def scalarToString(v: org.apache.spark.sql.Column) =
    coalesce(
      v.getField("stringValue"),
      v.getField("intValue"),
      v.getField("doubleValue").cast("string"),
      v.getField("boolValue").cast("string"),
      v.getField("bytesValue"))

  /** canonical string of a full AnyValue: scalars as above; arrayValue
    * → JSON array of element strings; kvlistValue → JSON object. The
    * flattened columnar model keeps attributes as map<string,string>
    * (otel-arrow does the same dictionary-friendly normalization);
    * nothing becomes NULL just because it wasn't a string. */
  private def anyValueToString(v: org.apache.spark.sql.Column) =
    coalesce(
      scalarToString(v),
      when(v.getField("arrayValue").isNotNull,
        to_json(transform(v.getField("arrayValue").getField("values"), e => scalarToString(e)))),
      when(v.getField("kvlistValue").isNotNull, {
        val kvs = firstKeys(v.getField("kvlistValue").getField("values"))
        to_json(map_from_arrays(
          transform(kvs, e => e.getField("key")),
          transform(kvs, e => scalarToString(e.getField("value")))))
      }))

  /** the key/value structs minus every repeat of an earlier key: a
    * repeated key keeps its FIRST value (pdata Map.Get) instead of
    * failing the batch in map_from_arrays with DUPLICATED_MAP_KEY */
  private def firstKeys(kvs: org.apache.spark.sql.Column) =
    filter(kvs, (kv, i) =>
      array_position(transform(kvs, e => e.getField("key")), kv.getField("key")) === i + 1)

  /** OTLP/JSON u64 string → long with the same bits (a fixed64 time at
    * or above 2^63 reads negative, as the wire decoder gives it);
    * anything that is not an integer in [-2^63, 2^64) reads null */
  private def u64Bits(s: org.apache.spark.sql.Column) =
    coalesce(s.try_cast("long"),
      (s.try_cast("decimal(20,0)") - lit(new java.math.BigDecimal("18446744073709551616")))
        .try_cast("long"))

  /** uint32 carried in a long → int with the same low 32 bits */
  private def uint32Bits(c: org.apache.spark.sql.Column) =
    shiftright(shiftleft(c, 32), 32).cast("int")

  private val logRecordType = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("observedTimeUnixNano", StringType),
    StructField("severityNumber", IntegerType),
    StructField("severityText", StringType),
    StructField("body", anyValueType),
    StructField("attributes", kvType),
    // uint32 on the wire: parse as long so a value with bit 31 set
    // can't make from_json null the ENTIRE request document (silent
    // loss of every record in it); the output keeps its low 32 bits
    // in an int (flags IS a 32-bit bitfield)
    StructField("flags", LongType),
    StructField("droppedAttributesCount", LongType),
    StructField("traceId", StringType),
    StructField("spanId", StringType)))

  private val scopeLogType = StructType(Seq(
    StructField("scope", StructType(Seq(StructField("name", StringType)))),
    StructField("logRecords", ArrayType(logRecordType))))

  private val resourceLogType = StructType(Seq(
    StructField("resource", StructType(Seq(StructField("attributes", kvType)))),
    StructField("scopeLogs", ArrayType(scopeLogType))))

  val requestSchema: StructType = StructType(Seq(
    StructField("resourceLogs", ArrayType(resourceLogType))))

  private def kvToMap(c: org.apache.spark.sql.Column) = {
    val kvs = firstKeys(c)
    map_from_arrays(
      transform(kvs, kv => kv.getField("key")),
      transform(kvs, kv => anyValueToString(kv.getField("value"))))
  }

  /** one JSON request document per input row (`json` column) → one
    * row per log record, OtelModel.logSchema-shaped */
  def parseLogs(requests: DataFrame): DataFrame =
    requests
      .select(from_json(col("json"), requestSchema).as("r"))
      .select(explode(col("r.resourceLogs")).as("rl"))
      .select(kvToMap(col("rl.resource.attributes")).as("resource_attributes"),
        explode(col("rl.scopeLogs")).as("sl"))
      .select(col("resource_attributes"), col("sl.scope.name").as("scope_name"),
        explode(col("sl.logRecords")).as("lr"))
      .select(
        u64Bits(col("lr.timeUnixNano")).as("time_unix_nano"),
        u64Bits(col("lr.observedTimeUnixNano")).as("observed_time_unix_nano"),
        col("lr.severityNumber").as("severity_number"),
        col("lr.severityText").as("severity_text"),
        anyValueToString(col("lr.body")).as("body"),
        kvToMap(col("lr.attributes")).as("attributes"),
        uint32Bits(coalesce(col("lr.flags"), lit(0L))).as("flags"),
        uint32Bits(coalesce(col("lr.droppedAttributesCount"), lit(0L)))
          .as("dropped_attributes_count"),
        col("lr.traceId").as("trace_id"),
        col("lr.spanId").as("span_id"),
        col("resource_attributes"),
        col("scope_name"))

  // ---- traces ----

  private val spanEventType = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("name", StringType),
    StructField("attributes", kvType)))

  private val spanLinkType = StructType(Seq(
    StructField("traceId", StringType),
    StructField("spanId", StringType),
    StructField("traceState", StringType),
    StructField("attributes", kvType)))

  private val spanType = StructType(Seq(
    StructField("traceId", StringType),
    StructField("spanId", StringType),
    StructField("traceState", StringType),
    StructField("parentSpanId", StringType),
    StructField("name", StringType),
    StructField("kind", IntegerType),
    StructField("startTimeUnixNano", StringType),
    StructField("endTimeUnixNano", StringType),
    StructField("status", StructType(Seq(
      StructField("code", IntegerType),
      StructField("message", StringType)))),
    StructField("attributes", kvType),
    // uint32 → long (see logRecordType note)
    StructField("droppedAttributesCount", LongType),
    StructField("droppedEventsCount", LongType),
    StructField("droppedLinksCount", LongType),
    StructField("events", ArrayType(spanEventType)),
    StructField("links", ArrayType(spanLinkType))))

  private val scopeSpanType = StructType(Seq(
    StructField("scope", StructType(Seq(StructField("name", StringType)))),
    StructField("spans", ArrayType(spanType))))

  private val resourceSpanType = StructType(Seq(
    StructField("resource", StructType(Seq(StructField("attributes", kvType)))),
    StructField("scopeSpans", ArrayType(scopeSpanType))))

  val traceRequestSchema: StructType = StructType(Seq(
    StructField("resourceSpans", ArrayType(resourceSpanType))))

  /** ExportTraceServiceRequest JSON → one row per span (ptrace tree
    * flattened to OtelModel.spanSchema shape) */
  def parseSpans(requests: DataFrame): DataFrame =
    requests
      .select(from_json(col("json"), traceRequestSchema).as("r"))
      .select(explode(col("r.resourceSpans")).as("rs"))
      .select(kvToMap(col("rs.resource.attributes")).as("resource_attributes"),
        explode(col("rs.scopeSpans")).as("ss"))
      .select(col("resource_attributes"), col("ss.scope.name").as("scope_name"),
        explode(col("ss.spans")).as("sp"))
      .select(
        col("sp.traceId").as("trace_id"),
        col("sp.spanId").as("span_id"),
        col("sp.traceState").as("trace_state"),
        col("sp.parentSpanId").as("parent_span_id"),
        col("sp.name").as("name"),
        col("sp.kind").as("kind"),
        col("sp.startTimeUnixNano").cast("long").as("start_time_unix_nano"),
        col("sp.endTimeUnixNano").cast("long").as("end_time_unix_nano"),
        col("sp.status.code").as("status_code"),
        col("sp.status.message").as("status_message"),
        kvToMap(col("sp.attributes")).as("attributes"),
        coalesce(col("sp.droppedAttributesCount"), lit(0L)).cast("int")
          .as("dropped_attributes_count"),
        coalesce(col("sp.droppedEventsCount"), lit(0L)).cast("int")
          .as("dropped_events_count"),
        coalesce(col("sp.droppedLinksCount"), lit(0L)).cast("int")
          .as("dropped_links_count"),
        coalesce(size(col("sp.events")), lit(0)).as("n_events"),
        coalesce(size(col("sp.links")), lit(0)).as("n_links"),
        col("resource_attributes"),
        col("scope_name"))

  /** span events exploded to their own rows (one per event, with the
    * owning span's ids) — the pdata SpanEventSlice flattened */
  def parseSpanEvents(requests: DataFrame): DataFrame =
    requests
      .select(from_json(col("json"), traceRequestSchema).as("r"))
      .select(explode(col("r.resourceSpans")).as("rs"))
      .select(explode(col("rs.scopeSpans")).as("ss"))
      .select(explode(col("ss.spans")).as("sp"))
      .filter(col("sp.events").isNotNull)
      .select(col("sp.traceId").as("trace_id"), col("sp.spanId").as("span_id"),
        explode(col("sp.events")).as("ev"))
      .select(col("trace_id"), col("span_id"),
        col("ev.timeUnixNano").cast("long").as("time_unix_nano"),
        col("ev.name").as("name"),
        kvToMap(col("ev.attributes")).as("attributes"))

  /** span links exploded to their own rows (pdata SpanLinkSlice —
    * links are first-class rows like events, not just a count;
    * reference shape: pdata/ptrace/generated_spanlink.go) */
  def parseSpanLinks(requests: DataFrame): DataFrame =
    requests
      .select(from_json(col("json"), traceRequestSchema).as("r"))
      .select(explode(col("r.resourceSpans")).as("rs"))
      .select(explode(col("rs.scopeSpans")).as("ss"))
      .select(explode(col("ss.spans")).as("sp"))
      .filter(col("sp.links").isNotNull)
      .select(col("sp.traceId").as("trace_id"), col("sp.spanId").as("span_id"),
        explode(col("sp.links")).as("lk"))
      .select(col("trace_id"), col("span_id"),
        col("lk.traceId").as("linked_trace_id"),
        col("lk.spanId").as("linked_span_id"),
        col("lk.traceState").as("linked_trace_state"),
        kvToMap(col("lk.attributes")).as("attributes"))

  // ---- metrics (gauge/sum number datapoints) ----

  /** pmetric.Exemplar (generated_exemplar.go): a sampled observation
    * with its trace correlation riding a datapoint */
  private val exemplarType = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("asDouble", DoubleType),
    StructField("asInt", StringType),
    StructField("spanId", StringType),
    StructField("traceId", StringType),
    StructField("filteredAttributes", kvType)))

  private val numberPointType = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("startTimeUnixNano", StringType),
    StructField("asDouble", DoubleType),
    StructField("asInt", StringType),
    StructField("attributes", kvType),
    StructField("exemplars", ArrayType(exemplarType))))

  private val histogramPointType = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("count", StringType),
    StructField("sum", DoubleType),
    StructField("bucketCounts", ArrayType(StringType)),
    StructField("explicitBounds", ArrayType(DoubleType)),
    StructField("attributes", kvType),
    StructField("exemplars", ArrayType(exemplarType))))

  private val summaryPointType = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("count", StringType),
    StructField("sum", DoubleType),
    StructField("attributes", kvType),
    StructField("quantileValues", ArrayType(StructType(Seq(
      StructField("quantile", DoubleType),
      StructField("value", DoubleType)))))))

  private val expBucketsType = StructType(Seq(
    StructField("offset", IntegerType),
    StructField("bucketCounts", ArrayType(StringType))))

  private val expHistogramPointType = StructType(Seq(
    StructField("timeUnixNano", StringType),
    StructField("count", StringType),
    StructField("sum", DoubleType),
    StructField("scale", IntegerType),
    StructField("zeroCount", StringType),
    StructField("zeroThreshold", DoubleType),
    StructField("attributes", kvType),
    StructField("positive", expBucketsType),
    StructField("negative", expBucketsType)))

  private val metricType = StructType(Seq(
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("unit", StringType),
    StructField("gauge", StructType(Seq(
      StructField("dataPoints", ArrayType(numberPointType))))),
    StructField("sum", StructType(Seq(
      StructField("dataPoints", ArrayType(numberPointType)),
      StructField("aggregationTemporality", IntegerType),
      StructField("isMonotonic", BooleanType)))),
    StructField("histogram", StructType(Seq(
      StructField("dataPoints", ArrayType(histogramPointType)),
      StructField("aggregationTemporality", IntegerType)))),
    StructField("summary", StructType(Seq(
      StructField("dataPoints", ArrayType(summaryPointType))))),
    StructField("exponentialHistogram", StructType(Seq(
      StructField("dataPoints", ArrayType(expHistogramPointType)),
      StructField("aggregationTemporality", IntegerType))))))

  private val scopeMetricType = StructType(Seq(
    StructField("scope", StructType(Seq(StructField("name", StringType)))),
    StructField("metrics", ArrayType(metricType))))

  private val resourceMetricType = StructType(Seq(
    StructField("resource", StructType(Seq(StructField("attributes", kvType)))),
    StructField("scopeMetrics", ArrayType(scopeMetricType))))

  val metricRequestSchema: StructType = StructType(Seq(
    StructField("resourceMetrics", ArrayType(resourceMetricType))))

  /** ExportMetricsServiceRequest JSON → one row per number datapoint
    * (gauge + sum), OtelModel.metricPointSchema shape */
  def parseMetricPoints(requests: DataFrame): DataFrame = {
    val base = requests
      .select(from_json(col("json"), metricRequestSchema).as("r"))
      .select(explode(col("r.resourceMetrics")).as("rm"))
      .select(kvToMap(col("rm.resource.attributes")).as("resource_attributes"),
        explode(col("rm.scopeMetrics")).as("sm"))
      .select(col("resource_attributes"), explode(col("sm.metrics")).as("m"))
    def points(kind: String, temporality: org.apache.spark.sql.Column,
               monotonic: org.apache.spark.sql.Column) =
      base.filter(col(s"m.$kind").isNotNull)
        .select(col("m.name").as("metric_name"), lit(kind).as("metric_type"),
          col("m.description").as("description"), col("m.unit").as("unit"),
          temporality.as("aggregation_temporality"), monotonic.as("is_monotonic"),
          col("resource_attributes"), explode(col(s"m.$kind.dataPoints")).as("dp"))
        .select(col("metric_name"), col("metric_type"),
          col("description"), col("unit"),
          col("aggregation_temporality"), col("is_monotonic"),
          col("dp.timeUnixNano").cast("long").as("time_unix_nano"),
          col("dp.startTimeUnixNano").cast("long").as("start_time_unix_nano"),
          coalesce(col("dp.asDouble"), col("dp.asInt").cast("double")).as("value"),
          kvToMap(col("dp.attributes")).as("attributes"),
          col("resource_attributes"))
    points("gauge", lit(null).cast("string"), lit(null).cast("boolean"))
      .unionByName(points("sum",
        when(col("m.sum.aggregationTemporality") === 1, "delta")
          .when(col("m.sum.aggregationTemporality") === 2, "cumulative"),
        col("m.sum.isMonotonic")))
  }

  /** exemplars exploded to rows: one per sampled observation across
    * number (gauge/sum) and histogram datapoints — the trace-correlated
    * drill-down path (pdata/pmetric/generated_exemplar.go) */
  def parseMetricExemplars(requests: DataFrame): DataFrame = {
    val base = requests
      .select(from_json(col("json"), metricRequestSchema).as("r"))
      .select(explode(col("r.resourceMetrics")).as("rm"))
      .select(explode(col("rm.scopeMetrics")).as("sm"))
      .select(explode(col("sm.metrics")).as("m"))
    def side(kind: String) =
      base.filter(col(s"m.$kind").isNotNull)
        .select(col("m.name").as("metric_name"), lit(kind).as("metric_type"),
          explode(col(s"m.$kind.dataPoints")).as("dp"))
        .filter(col("dp.exemplars").isNotNull)
        .select(col("metric_name"), col("metric_type"),
          col("dp.timeUnixNano").cast("long").as("point_time_unix_nano"),
          explode(col("dp.exemplars")).as("ex"))
        .select(col("metric_name"), col("metric_type"), col("point_time_unix_nano"),
          col("ex.timeUnixNano").cast("long").as("time_unix_nano"),
          coalesce(col("ex.asDouble"), col("ex.asInt").cast("double")).as("value"),
          col("ex.spanId").as("span_id"),
          col("ex.traceId").as("trace_id"),
          kvToMap(col("ex.filteredAttributes")).as("filtered_attributes"))
    side("gauge").unionByName(side("sum")).unionByName(side("histogram"))
  }

  /** ExportMetricsServiceRequest JSON → one row per histogram
    * datapoint, with per-bucket counts exploded alongside an
    * upper-inclusive bound (last bucket = +Inf → null bound). */
  def parseHistogramBuckets(requests: DataFrame): DataFrame =
    requests
      .select(from_json(col("json"), metricRequestSchema).as("r"))
      .select(explode(col("r.resourceMetrics")).as("rm"))
      .select(explode(col("rm.scopeMetrics")).as("sm"))
      .select(explode(col("sm.metrics")).as("m"))
      .filter(col("m.histogram").isNotNull)
      .select(col("m.name").as("metric_name"),
        explode(col("m.histogram.dataPoints")).as("dp"))
      .select(col("metric_name"),
        col("dp.timeUnixNano").cast("long").as("time_unix_nano"),
        col("dp.count").cast("long").as("total_count"),
        col("dp.sum").as("total_sum"),
        kvToMap(col("dp.attributes")).as("attributes"),
        posexplode(col("dp.bucketCounts")))
      .withColumnRenamed("pos", "bucket_idx")
      .withColumn("bucket_count", col("col").cast("long"))
      .drop("col")

  /** summary datapoints → one row per quantile value */
  def parseSummaryQuantiles(requests: DataFrame): DataFrame =
    requests
      .select(from_json(col("json"), metricRequestSchema).as("r"))
      .select(explode(col("r.resourceMetrics")).as("rm"))
      .select(explode(col("rm.scopeMetrics")).as("sm"))
      .select(explode(col("sm.metrics")).as("m"))
      .filter(col("m.summary").isNotNull)
      .select(col("m.name").as("metric_name"),
        explode(col("m.summary.dataPoints")).as("dp"))
      .select(col("metric_name"),
        col("dp.timeUnixNano").cast("long").as("time_unix_nano"),
        col("dp.count").cast("long").as("total_count"),
        col("dp.sum").as("total_sum"),
        kvToMap(col("dp.attributes")).as("attributes"),
        explode(col("dp.quantileValues")).as("qv"))
      .select(col("metric_name"), col("time_unix_nano"),
        col("total_count"), col("total_sum"), col("attributes"),
        col("qv.quantile").as("quantile"), col("qv.value").as("value"))

  /** exponential histogram datapoints → one row per bucket, BOTH
    * signs (reference: pdata/pmetric
    * generated_exponentialhistogramdatapoint.go:129-131 has
    * Positive() and Negative() bucket slices; negative buckets count
    * values in (-base^(i+1), -base^i]). `sign` is +1/-1; the
    * magnitude lower bound is base-2 from (scale, offset+idx), and
    * zero_threshold carries the width of the zero bucket. */
  def parseExpHistogramBuckets(requests: DataFrame): DataFrame = {
    val base = requests
      .select(from_json(col("json"), metricRequestSchema).as("r"))
      .select(explode(col("r.resourceMetrics")).as("rm"))
      .select(explode(col("rm.scopeMetrics")).as("sm"))
      .select(explode(col("sm.metrics")).as("m"))
      .filter(col("m.exponentialHistogram").isNotNull)
      .select(col("m.name").as("metric_name"),
        explode(col("m.exponentialHistogram.dataPoints")).as("dp"))
    // one pass: both signs ride a single exploded (sign, buckets)
    // array, so the request JSON is parsed once, not once per side
    base
      .select(col("metric_name"),
        col("dp.timeUnixNano").cast("long").as("time_unix_nano"),
        col("dp.scale").as("scale"),
        col("dp.zeroCount").cast("long").as("zero_count"),
        coalesce(col("dp.zeroThreshold"), lit(0.0)).as("zero_threshold"),
        kvToMap(col("dp.attributes")).as("attributes"),
        explode(array(
          struct(lit(1).as("sign"), col("dp.positive").as("b")),
          struct(lit(-1).as("sign"), col("dp.negative").as("b")))).as("sb"))
      .filter(col("sb.b").isNotNull)
      .select(col("metric_name"), col("time_unix_nano"), col("scale"),
        col("zero_count"), col("zero_threshold"), col("attributes"),
        col("sb.sign").as("sign"), col("sb.b.offset").as("offset"),
        posexplode(col("sb.b.bucketCounts")))
      .withColumnRenamed("pos", "bucket_idx")
      .withColumn("bucket_count", col("col").cast("long"))
      .withColumn("lower_bound",
        pow(lit(2.0), (col("offset") + col("bucket_idx")).cast("double") /
          pow(lit(2.0), col("scale").cast("double"))))
      .drop("col")
  }

  // ---- export (exporter/otlphttpexporter JSON encoding analog) ----
  // The reference marshals all three signals (pdata/plog/json.go,
  // ptrace/json.go, pmetric/json.go); these are the inverse of the
  // parsers above, so parse ∘ write = id per signal.

  /** build a typed AnyValue struct column (pass null for unused
    * branches; to_json drops them) — the marshal-side counterpart of
    * the typed parse in [[kvToMap]]/anyValueToString */
  def typedAnyValue(str: org.apache.spark.sql.Column, intStr: org.apache.spark.sql.Column,
                    dbl: org.apache.spark.sql.Column, bool: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    struct(
      Option(str).getOrElse(lit(null).cast("string")).as("stringValue"),
      Option(intStr).getOrElse(lit(null).cast("string")).as("intValue"),
      Option(dbl).getOrElse(lit(null).cast("double")).as("doubleValue"),
      Option(bool).getOrElse(lit(null).cast("boolean")).as("boolValue"))

  private def mapToKv(m: org.apache.spark.sql.Column) =
    transform(map_entries(m), e => struct(e.getField("key").as("key"),
      struct(e.getField("value").as("stringValue")).as("value")))

  /** logs rows (logSchema shape) → one OTLP/JSON request document per
    * (resource_attributes, scope_name) group — the inverse of
    * [[parseLogs]], so pipelines can round-trip. */
  /** `shardKeys`: extra grouping columns that SPLIT the output into
    * more, smaller requests (a batch id from assignBatchesRanged —
    * the reference batcher's sendBatchSize shape); they never appear
    * in the payload. */
  def writeLogsJson(logs: DataFrame, shardKeys: Seq[String] = Nil): DataFrame = {
    val withFidelity = Seq("flags", "dropped_attributes_count")
      .foldLeft(logs)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(0)))
    withFidelity
      .groupBy((Seq(col("resource_attributes"), col("scope_name")) ++
        shardKeys.map(col)): _*)
      .agg(collect_list(struct(
        col("time_unix_nano").cast("string").as("timeUnixNano"),
        col("observed_time_unix_nano").cast("string").as("observedTimeUnixNano"),
        col("severity_number").as("severityNumber"),
        col("severity_text").as("severityText"),
        struct(col("body").as("stringValue")).as("body"),
        mapToKv(col("attributes")).as("attributes"),
        when(col("flags") =!= 0, col("flags")).as("flags"),
        when(col("dropped_attributes_count") =!= 0,
          col("dropped_attributes_count")).as("droppedAttributesCount"),
        col("trace_id").as("traceId"),
        col("span_id").as("spanId"))).as("logRecords"))
      .select(to_json(struct(array(struct(
        struct(mapToKv(col("resource_attributes")).as("attributes")).as("resource"),
        array(struct(
          struct(col("scope_name").as("name")).as("scope"),
          col("logRecords"))).as("scopeLogs"))).as("resourceLogs"))).as("json"))
  }

  /** span rows (spanSchema shape, [[parseSpans]] output) → OTLP/JSON
    * ExportTraceServiceRequest documents — ptrace/json.go marshal
    * analog. Events/links travel on their own row streams
    * ([[parseSpanEvents]]/[[parseSpanLinks]]); the span document
    * carries the record-level fidelity fields. */
  def writeSpansJson(spans: DataFrame, shardKeys: Seq[String] = Nil): DataFrame =
    spans
      .groupBy((Seq(col("resource_attributes"), col("scope_name")) ++
        shardKeys.map(col)): _*)
      .agg(collect_list(struct(
        col("trace_id").as("traceId"),
        col("span_id").as("spanId"),
        col("trace_state").as("traceState"),
        col("parent_span_id").as("parentSpanId"),
        col("name").as("name"),
        col("kind").as("kind"),
        col("start_time_unix_nano").cast("string").as("startTimeUnixNano"),
        col("end_time_unix_nano").cast("string").as("endTimeUnixNano"),
        struct(col("status_code").as("code"),
          col("status_message").as("message")).as("status"),
        mapToKv(col("attributes")).as("attributes"),
        when(col("dropped_attributes_count") =!= 0,
          col("dropped_attributes_count")).as("droppedAttributesCount"),
        when(col("dropped_events_count") =!= 0,
          col("dropped_events_count")).as("droppedEventsCount"),
        when(col("dropped_links_count") =!= 0,
          col("dropped_links_count")).as("droppedLinksCount"))).as("spans"))
      .select(to_json(struct(array(struct(
        struct(mapToKv(col("resource_attributes")).as("attributes")).as("resource"),
        array(struct(
          struct(col("scope_name").as("name")).as("scope"),
          col("spans"))).as("scopeSpans"))).as("resourceSpans"))).as("json"))

  /** number datapoint rows (metricPointSchema shape,
    * [[parseMetricPoints]] output) → OTLP/JSON
    * ExportMetricsServiceRequest documents — pmetric/json.go marshal
    * analog for gauge/sum metrics. to_json drops null branches, so a
    * gauge metric document carries only `gauge`, a sum only `sum`. */
  def writeMetricsJson(points: DataFrame, shardKeys: Seq[String] = Nil): DataFrame = {
    val withMeta = Seq("description", "unit").foldLeft(points)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string")))
    withMeta
      .groupBy((Seq(col("resource_attributes"), col("metric_name"),
        col("description"), col("unit"), col("metric_type"),
        col("aggregation_temporality"), col("is_monotonic")) ++
        shardKeys.map(col)): _*)
      .agg(collect_list(struct(
        col("time_unix_nano").cast("string").as("timeUnixNano"),
        col("start_time_unix_nano").cast("string").as("startTimeUnixNano"),
        col("value").as("asDouble"),
        mapToKv(col("attributes")).as("attributes"))).as("dataPoints"))
      .select(to_json(struct(array(struct(
        struct(mapToKv(col("resource_attributes")).as("attributes")).as("resource"),
        array(struct(
          struct(lit("graft").as("name")).as("scope"),
          array(struct(
            col("metric_name").as("name"),
            col("description").as("description"),
            col("unit").as("unit"),
            when(col("metric_type") === "gauge",
              struct(col("dataPoints").as("dataPoints"))).as("gauge"),
            when(col("metric_type") === "sum", struct(
              col("dataPoints").as("dataPoints"),
              // only emit a temporality that is actually known —
              // null (UNSPECIFIED/unrecognized) must NOT silently
              // become CUMULATIVE on export; to_json drops the null
              when(col("aggregation_temporality") === "delta", 1)
                .when(col("aggregation_temporality") === "cumulative", 2)
                .as("aggregationTemporality"),
              col("is_monotonic").as("isMonotonic"))).as("sum"))).as("metrics"))).as("scopeMetrics"))).as("resourceMetrics"))).as("json"))
  }

  /** OTLP protobuf receiver path: binary ExportLogsServiceRequest
    * rows (`pb` column) → the same flattened log rows as
    * [[parseLogs]], decoded straight from the wire in one native pass
    * ([[OtlpProtobuf.logsRequestToRows]]) and inlined: one generator
    * and flat columns, no JSON text in between. The decoder sits in
    * the generator itself, so no optimizer rule can copy it into a
    * pushed-down filter and run it twice per request. */
  def parseLogsPb(requests: DataFrame): DataFrame =
    requests.select(inline(OtlpProtobuf.otlp_logs_pb_to_rows(col("pb"))))

  /** [[parseLogsPb]] with the receiver's dead-letter path: malformed
    * wire bytes route to (raw, dlq_time) rows instead of killing the
    * batch. Returns (good, dlq): `inline` of the NULL a malformed
    * request decodes to emits nothing, so the good side needs no
    * filter, and the DLQ side evaluates the decoder once, in its filter. */
  def parseLogsPbWithDlq(requests: DataFrame): (DataFrame, DataFrame) = {
    val good = requests.select(inline(OtlpProtobuf.otlp_logs_pb_to_rows_safe(col("pb"))))
    val dlq = requests.filter(OtlpProtobuf.otlp_logs_pb_to_rows_safe(col("pb")).isNull)
      .select(col("pb").as("raw"), current_timestamp().as("dlq_time"))
    (good, dlq)
  }

  /** binary ExportTraceServiceRequest rows → flattened span rows */
  def parseSpansPb(requests: DataFrame): DataFrame =
    parseSpans(requests.select(
      OtlpProtobuf.otlp_spans_pb_to_json(col("pb")).as("json")))

  /** [[parseSpansPb]] with the dead-letter path (mirrors
    * [[parseLogsPbWithDlq]] — one corrupt spool file must not kill a
    * spans streaming query either). Returns (good, dlq). */
  def parseSpansPbWithDlq(requests: DataFrame): (DataFrame, DataFrame) = {
    val tagged = requests.withColumn("json",
      OtlpProtobuf.otlp_spans_pb_to_json_safe(col("pb")))
    val good = parseSpans(tagged.filter(col("json").isNotNull).select(col("json")))
    val dlq = tagged.filter(col("json").isNull)
      .select(col("pb").as("raw"), current_timestamp().as("dlq_time"))
    (good, dlq)
  }

  /** binary ExportMetricsServiceRequest rows → number datapoint rows */
  def parseMetricPointsPb(requests: DataFrame): DataFrame =
    parseMetricPoints(requests.select(
      OtlpProtobuf.otlp_metrics_pb_to_json(col("pb")).as("json")))

  /** [[parseMetricPointsPb]] with the dead-letter path. Returns
    * (good, dlq). */
  def parseMetricPointsPbWithDlq(requests: DataFrame): (DataFrame, DataFrame) = {
    val tagged = requests.withColumn("json",
      OtlpProtobuf.otlp_metrics_pb_to_json_safe(col("pb")))
    val good = parseMetricPoints(tagged.filter(col("json").isNotNull).select(col("json")))
    val dlq = tagged.filter(col("json").isNull)
      .select(col("pb").as("raw"), current_timestamp().as("dlq_time"))
    (good, dlq)
  }

  /** logs rows → binary ExportLogsServiceRequest documents (the
    * otlpexporter protobuf encoding: marshal to the JSON form, then
    * one kernel pass to wire bytes) */
  def writeLogsPb(logs: DataFrame, shardKeys: Seq[String] = Nil): DataFrame =
    writeLogsJson(logs, shardKeys).select(
      OtlpProtobuf.otlp_logs_json_to_pb(col("json")).as("pb"))

  /** Small-files compaction for a pb log spool — the 100 TB
    * listing-killer: push receivers land one request per file, so a
    * day-old prefix holds millions of tiny .pb files and every scan
    * pays the listing. Decode the spool, re-batch into requests of
    * ≤maxRecords (id-RANGE sharding via assignBatchesRanged — never a
    * fixed modulus, which would put N/k records into one aggregation
    * buffer at 100×), re-encode, and land ONE file per request,
    * executor-side. Content survives exactly (the decode∘encode = id
    * contract); request grouping is deterministic when `orderCol` is
    * a total order. Compact into a NEW directory and swap — never in
    * place over a live receiver's source. Returns (filesIn, filesOut).
    */
  def compactLogsPbSpool(spark: SparkSession, inDir: String, outDir: String,
                         maxRecords: Int): (Long, Long) =
    compactPbSpool(spark, inDir, outDir, maxRecords,
      parseLogsPb, "time_unix_nano", writeLogsPb(_, _))

  /** [[compactLogsPbSpool]] for the other two signals */
  def compactSpansPbSpool(spark: SparkSession, inDir: String, outDir: String,
                          maxRecords: Int): (Long, Long) =
    compactPbSpool(spark, inDir, outDir, maxRecords,
      parseSpansPb, "start_time_unix_nano", writeSpansPb(_, _))
  def compactMetricsPbSpool(spark: SparkSession, inDir: String, outDir: String,
                            maxRecords: Int): (Long, Long) =
    compactPbSpool(spark, inDir, outDir, maxRecords,
      parseMetricPointsPb, "time_unix_nano", writeMetricsPb(_, _))

  private def compactPbSpool(spark: SparkSession, inDir: String, outDir: String,
                             maxRecords: Int,
                             parse: DataFrame => DataFrame, orderCol: String,
                             encode: (DataFrame, Seq[String]) => DataFrame)
      : (Long, Long) = {
    val raw = spark.read.format("binaryFile").load(inDir)
      .select(col("content").as("pb"))
    val filesIn = raw.count()
    val rows = parse(raw)
    val batched = graft.operators.Processors.assignBatchesRanged(
      rows, col(orderCol), maxRecords)
    val requests = encode(batched, Seq("batch_id"))
    // the executor-side writer must see the DRIVER's Hadoop config
    // (defaultFS, object-store credentials) — a fresh Configuration()
    // would resolve the wrong/unauthenticated filesystem off-local
    val hconf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    requests.select(col("pb")).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.foreach { r =>
          val pb = r.getAs[Array[Byte]]("pb")
          // attempt-stable, content-addressed name: the partition's
          // row SET is deterministic across task retries (the shuffle
          // repartitioning is a pure hash of batch keys) even though
          // fetch ORDER is not, so a retried or speculative attempt
          // rewrites exactly the same paths with the same bytes — no
          // duplicate files, no commit protocol needed. A name
          // collision requires byte-identical requests in one
          // partition, impossible across disjoint ranged batches.
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(pb).map("%02x".format(_)).mkString
          val path = new org.apache.hadoop.fs.Path(outDir,
            f"compact-$pid%05d-${pb.length}%08x-$digest.pb")
          val fs = path.getFileSystem(hconf.value.value)
          val os = fs.create(path, true)
          try os.write(pb) finally os.close()
        }
    }
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filesOut = fs.listStatus(outPath).count(_.isFile).toLong
    (filesIn, filesOut)
  }

  /** span rows → binary ExportTraceServiceRequest documents */
  def writeSpansPb(spans: DataFrame, shardKeys: Seq[String] = Nil): DataFrame =
    writeSpansJson(spans, shardKeys).select(
      OtlpProtobuf.otlp_spans_json_to_pb(col("json")).as("pb"))

  /** number datapoint rows → binary ExportMetricsServiceRequest docs */
  def writeMetricsPb(points: DataFrame, shardKeys: Seq[String] = Nil): DataFrame =
    writeMetricsJson(points, shardKeys).select(
      OtlpProtobuf.otlp_metrics_json_to_pb(col("json")).as("pb"))

  /** Transport-compressed export/ingest: the otlphttpexporter gzips
    * request bodies; these wrap the pb writers/parsers with the
    * codegen'd gzip kernels so spooled request blobs travel (and land)
    * compressed. Storage sinks keep their own parquet codec. */
  def writeLogsPbGz(logs: DataFrame): DataFrame =
    writeLogsPb(logs).select(
      graft.functions.GzipExprs.gzip_compress(col("pb")).as("pb"))

  def parseLogsPbGz(requests: DataFrame): DataFrame =
    parseLogsPb(requests.select(
      graft.functions.GzipExprs.gzip_decompress(col("pb")).as("pb")))

  /** [[parseLogs]] with a dead-letter channel: requests that don't
    * parse (from_json → null) are routed raw instead of dropped —
    * the collector's receiver error path. Returns (good, dlq).
    */
  def parseLogsWithDlq(requests: DataFrame): (DataFrame, DataFrame) = {
    val tagged = requests.withColumn("r", from_json(col("json"), requestSchema))
    val good = parseLogs(tagged.filter(col("r.resourceLogs").isNotNull).select(col("json")))
    val dlq = tagged.filter(col("r.resourceLogs").isNull)
      .select(col("json").as("raw"), current_timestamp().as("dlq_time"))
    (good, dlq)
  }

  private def streamPbFiles(spark: SparkSession, dir: String,
                            maxFilesPerTrigger: Option[Int]): DataFrame =
    Spool.readStream(spark, maxFilesPerTrigger)
      .format("binaryFile")
      .schema(StructType(Seq(  // binaryFile's fixed schema (streaming sources don't infer)
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      // spool dirs may hold non-payload siblings (IncludeMetadata
      // `.meta` sidecars); only committed request payloads are pb
      .option("pathGlobFilter", "*.pb")
      .load(dir)
      .select(col("content").as("pb"))

  /** Streaming OTLP-protobuf file receivers: tail a directory of
    * binary request files (one Export*ServiceRequest per file — the
    * shape an HTTP receiver's spool directory has). */
  def streamLogsPb(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame =
    parseLogsPb(streamPbFiles(spark, dir, maxFilesPerTrigger))

  def streamSpansPb(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame =
    parseSpansPb(streamPbFiles(spark, dir, maxFilesPerTrigger))

  def streamMetricsPb(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame =
    parseMetricPointsPb(streamPbFiles(spark, dir, maxFilesPerTrigger))

  /** Dead-lettering streaming receivers: one corrupt spool file must
    * not kill the whole query — malformed requests flow to the dlq
    * stream (raw bytes + time), well-formed ones parse as usual.
    * Returns (good, dlq); attach a sink to each. */
  def streamLogsPbWithDlq(spark: SparkSession, dir: String,
                          maxFilesPerTrigger: Option[Int] = None): (DataFrame, DataFrame) =
    parseLogsPbWithDlq(streamPbFiles(spark, dir, maxFilesPerTrigger))

  def streamSpansPbWithDlq(spark: SparkSession, dir: String,
                           maxFilesPerTrigger: Option[Int] = None): (DataFrame, DataFrame) =
    parseSpansPbWithDlq(streamPbFiles(spark, dir, maxFilesPerTrigger))

  def streamMetricsPbWithDlq(spark: SparkSession, dir: String,
                             maxFilesPerTrigger: Option[Int] = None): (DataFrame, DataFrame) =
    parseMetricPointsPbWithDlq(streamPbFiles(spark, dir, maxFilesPerTrigger))

  /** Socket-fed OTLP receiver: the reference's primary surface is a
    * network server (receiver/otlpreceiver/otlp.go:42 — gRPC/HTTP
    * push), not a file tail. Structured Streaming's socket source
    * delivers UTF-8 lines, so binary Export*ServiceRequest frames ride
    * base64-per-line (the same framing an HTTP receiver's JSON-lines
    * spool uses for binary payloads); everything downstream — decode,
    * DLQ, flatten — is the identical parse path the file receivers
    * use. The socket source is Spark's demo source (no replay, single
    * reader); a production push receiver fronts this with a durable
    * log (Kafka-shape source) feeding the same `pb` column.
    */
  def socketLogsPb(spark: SparkSession, host: String, port: Int): DataFrame =
    parseLogsPb(spark.readStream
      .format("socket").option("host", host).option("port", port).load()
      .select(unbase64(col("value")).as("pb")))

  /** [[socketLogsPb]] with the dead-letter path, as a SINGLE
    * consuming query. A socket is one non-replayable connection — the
    * (good, dlq) two-DataFrame shape the file receivers use would
    * start two queries that each open their OWN connection, and a
    * server that doesn't re-broadcast every line to every connection
    * would split records arbitrarily between the branches. Here one
    * query reads the socket and each micro-batch is routed to the two
    * sinks. Hardened end to end: a line that is not even valid base64
    * dead-letters via try_to_binary (unbase64 throws on some
    * malformed inputs), a line whose bytes are not a valid request
    * dead-letters via the NULL-on-malformed decode — nothing kills
    * the query. DLQ `raw` carries the decoded wire bytes when base64
    * was valid (same semantics as the file receivers' DLQ — directly
    * re-inspectable as pb), else the raw line bytes. */
  def socketLogsPbRouted(spark: SparkSession, host: String, port: Int,
                         checkpoint: String,
                         goodSink: (DataFrame, Long) => Unit,
                         dlqSink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val tagged = spark.readStream
      .format("socket").option("host", host).option("port", port).load()
      .withColumn("pb", try_to_binary(col("value"), lit("base64")))
      .withColumn("rows", OtlpProtobuf.otlp_logs_pb_to_rows_safe(col("pb")))
    tagged.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persisted: both sinks read the rows decoded once
        val b = batch.persist()
        try {
          goodSink(b.select(inline(col("rows"))), batchId)
          dlqSink(b.filter(col("rows").isNull)
            .select(coalesce(col("pb"), col("value").cast("binary")).as("raw"),
              current_timestamp().as("dlq_time")), batchId)
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** [[socketLogsPb]]'s OTLP/JSON siblings — the reference receiver
    * serves BOTH encodings on its push surface (otlpreceiver:
    * protobuf and JSON over HTTP), so the socket matrix does too: one
    * Export*ServiceRequest JSON document per line, identical parse
    * path to the file receivers. */
  def socketLogsJson(spark: SparkSession, host: String, port: Int): DataFrame =
    parseLogs(spark.readStream
      .format("socket").option("host", host).option("port", port).load()
      .select(col("value").as("json")))
  def socketSpansJson(spark: SparkSession, host: String, port: Int): DataFrame =
    parseSpans(spark.readStream
      .format("socket").option("host", host).option("port", port).load()
      .select(col("value").as("json")))
  def socketMetricsJson(spark: SparkSession, host: String, port: Int): DataFrame =
    parseMetricPoints(spark.readStream
      .format("socket").option("host", host).option("port", port).load()
      .select(col("value").as("json")))

  /** [[socketLogsPb]] for the other two signals — the push receiver
    * matrix covers every OTLP service, not just logs. */
  def socketSpansPb(spark: SparkSession, host: String, port: Int): DataFrame =
    parseSpansPb(spark.readStream
      .format("socket").option("host", host).option("port", port).load()
      .select(unbase64(col("value")).as("pb")))
  def socketMetricsPb(spark: SparkSession, host: String, port: Int): DataFrame =
    parseMetricPointsPb(spark.readStream
      .format("socket").option("host", host).option("port", port).load()
      .select(unbase64(col("value")).as("pb")))

  /** Streaming OTLP-JSON file receiver: tail a directory of request
    * documents (one JSON per line). Each trigger admits up to one
    * maximal request's bytes ([[Spool.readStream]]). That bounds a
    * batch; it is not the memory limiter, whose refusal and
    * backpressure are the receivers' admission control and
    * `StreamingPipelines.exportStreamAdmitted`/`exportStreamBytesBudget`.
    */
  def streamLogs(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame =
    parseLogs(Spool.readStream(spark, maxFilesPerTrigger)
      .text(dir)
      .select(col("value").as("json")))

  /** events table → logSchema (the testdata stand-in receiver) */
  def eventsAsLogs(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables(spark, dir, "events")
    e.select(
      col("ts_ns").as("time_unix_nano"),
      col("ts_ns").as("observed_time_unix_nano"),
      when(col("event_type") === "error", 17).otherwise(9).as("severity_number"),
      when(col("event_type") === "error", "ERROR").otherwise("INFO").as("severity_text"),
      col("event_type").as("body"),
      map(lit("value"), col("value").cast("string"),
        lit("props"), col("props")).as("attributes"),
      lit(0).as("flags"),
      lit(0).as("dropped_attributes_count"),
      md5(col("user_id").cast("string")).as("trace_id"),
      md5(col("event_id").cast("string")).as("span_id"),
      map(lit("service.name"), concat(lit("svc-"), (col("user_id") % 5).cast("string")))
        .as("resource_attributes"),
      lit("graft").as("scope_name"))
  }
}
