package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** OTTL → Spark mapping (reference behavior, not code: the transform
  * processor's OpenTelemetry Transformation Language; editor and
  * converter functions per the public OTTL function catalog).
  *
  * OTTL statements are scalar edits over telemetry fields; every one
  * of them is a Catalyst column expression here, so a "transform
  * processor" config is just a list of `withColumn`s — codegen'd,
  * pushdown-friendly, and running on 1000 executors without a
  * per-record interpreter. The table below is the migration map a
  * collector user needs; each entry is tested in OttlSpec.
  */
object Ottl {

  // ---- editors (mutate a field) ----------------------------------
  /** set(target, value) */
  def set(value: Column): Column = value
  /** delete_key(map, key) */
  def deleteKey(m: Column, key: String): Column = Processors.mapDelete(m, Seq(key))
  /** keep_keys(map, keys) */
  def keepKeys(m: Column, keys: Seq[String]): Column = Processors.mapKeepKeys(m, keys)
  /** truncate_all(map, n) */
  def truncateAll(m: Column, n: Int): Column = Processors.mapTruncateValues(m, n)
  /** replace_pattern(field, regex, replacement) */
  def replacePattern(c: Column, regex: String, replacement: String): Column =
    regexp_replace(c, regex, replacement)
  /** replace_all_patterns over map values */
  def replaceAllPatterns(m: Column, regex: String, replacement: String): Column =
    transform_values(m, (_, v) => regexp_replace(v, regex, replacement))
  /** limit(map, n) — keep at most n entries (deterministic by key order) */
  def limitKeys(m: Column, n: Int): Column =
    map_from_entries(slice(array_sort(map_entries(m)), 1, n))
  /** merge_maps(target, source, strategy) — "upsert": source wins on
    * key conflicts; "insert": existing target keys are kept. */
  def mergeMaps(target: Column, source: Column, strategy: String): Column =
    strategy match {
      case "upsert" => map_concat(
        map_filter(target, (k, _) => !map_contains_key(source, k)), source)
      case "insert" => map_concat(target,
        map_filter(source, (k, _) => !map_contains_key(target, k)))
      case other => throw new IllegalArgumentException(
        s"merge_maps strategy '$other' (upsert | insert)")
    }
  /** append(arr, value) — OTTL's append editor over array fields */
  def append(arr: Column, value: Column): Column =
    concat(coalesce(arr, array()), array(value))

  // ---- context paths (resource / scope / record) ------------------
  /** OTTL context path → Column over the flattened schemas. OTTL
    * statements address THREE levels of the pdata tree — the record
    * (log/span/datapoint), its instrumentation scope, and its
    * resource (e.g. `resource.attributes["service.name"]`,
    * `instrumentation_scope.name`, `attributes["http.route"]`,
    * `body`); graft flattens that tree into per-record columns
    * (resource_attributes, scope_name, ...), so path resolution is a
    * plan-time rewrite, zero per-row cost. Unknown segments resolve
    * as plain column names (record-context fields); a genuinely
    * missing field fails at ANALYSIS time like any bad column — the
    * collector's config-validation stage, not a runtime surprise. */
  def path(p: String): Column = p match {
    case MapEntryPath(base, key) => element_at(mapPathCol(base), key)
    // pdata accessor suffixes: ids are already hex strings here
    case "trace_id.string"       => col("trace_id")
    case "span_id.string"        => col("span_id")
    case "parent_span_id.string" => col("parent_span_id")
    case "resource.attributes"   => col("resource_attributes")
    case "resource.dropped_attributes_count" =>
      col("resource_dropped_attributes_count")
    case "instrumentation_scope.name" | "scope.name"       => col("scope_name")
    case "instrumentation_scope.version" | "scope.version" => col("scope_version")
    case "instrumentation_scope.attributes" | "scope.attributes" =>
      col("scope_attributes")
    // datapoint context: the enclosing metric's fields ride flattened
    case "metric.name"        => col("metric_name")
    case "metric.description" => col("description")
    case "metric.unit"        => col("unit")
    case "metric.type"        => col("metric_type")
    // spanevent context (reference behavior: the transform processor's
    // spanevent context over pdata SpanEventSlice) — statements run on
    // the EXPLODED event frame (sources/OtlpJsonSource.parseSpanEvents:
    // one row per event, owning span ids alongside), so event fields
    // are plain columns and the owning span is the `span.` prefix
    case "spanevent.name"           => col("name")
    case "spanevent.time_unix_nano" => col("time_unix_nano")
    case "spanevent.attributes"     => col("attributes")
    // link context (pdata SpanLinkSlice exploded by parseSpanLinks):
    // `link.trace_id` is the LINKED trace, not the owning span's
    case "link.trace_id"    => col("linked_trace_id")
    case "link.span_id"     => col("linked_span_id")
    case "link.trace_state" => col("linked_trace_state")
    case "link.attributes"  => col("attributes")
    // owning-span addressing from within spanevent/link context
    case "span.trace_id" => col("trace_id")
    case "span.span_id"  => col("span_id")
    case bare => col(bare)
  }

  /** set(path, value) at statement level: editors that write INTO a
    * map entry rewrite the backing map column; plain paths rewrite
    * their column. Returns the transformed frame (OTTL statements
    * compose as withColumns). */
  def setPath(df: org.apache.spark.sql.DataFrame, p: String,
              value: Column): org.apache.spark.sql.DataFrame = p match {
    case MapEntryPath(base, key) =>
      val name = mapPathName(base)
      df.withColumn(name, Processors.mapPut(col(name), key, value))
    case other => df.withColumn(pathColumnName(other), value)
  }

  /** delete_key at statement level, any context:
    * `deleteAtPath(df, "resource.attributes", "internal.tag")` */
  def deleteAtPath(df: org.apache.spark.sql.DataFrame, mapPath: String,
                   key: String): org.apache.spark.sql.DataFrame = {
    val name = mapPathName(mapPath)
    df.withColumn(name, Processors.mapDelete(col(name), Seq(key)))
  }

  private val MapEntryPath = """^([A-Za-z_.]+)\["([^"]+)"\]$""".r
  private def mapPathName(base: String): String = base match {
    case "attributes" => "attributes"
    case "resource.attributes" => "resource_attributes"
    case "instrumentation_scope.attributes" | "scope.attributes" =>
      "scope_attributes"
    // event/link attributes are THE attributes column of their
    // exploded frames (see [[path]])
    case "spanevent.attributes" | "link.attributes" => "attributes"
    case other => throw new IllegalArgumentException(
      s"'$other' is not an OTTL map path (attributes | resource.attributes" +
        " | instrumentation_scope.attributes | spanevent.attributes" +
        " | link.attributes)")
  }
  private def mapPathCol(base: String): Column = col(mapPathName(base))
  private def pathColumnName(p: String): String = p match {
    case "instrumentation_scope.name" | "scope.name"       => "scope_name"
    case "instrumentation_scope.version" | "scope.version" => "scope_version"
    case "metric.name" => "metric_name"
    case "metric.description" => "description"
    case "metric.unit" => "unit"
    case "spanevent.name"           => "name"
    case "spanevent.time_unix_nano" => "time_unix_nano"
    case "link.trace_id"    => "linked_trace_id"
    case "link.span_id"     => "linked_span_id"
    case "link.trace_state" => "linked_trace_state"
    case bare if !bare.contains('.') => bare
    case other => throw new IllegalArgumentException(
      s"cannot write to OTTL path '$other'")
  }

  // ---- converters (pure functions) -------------------------------
  /** Concat(vals..., sep) */
  def concatWs(sep: String, cols: Column*): Column = concat_ws(sep, cols: _*)
  /** Split(str, sep) */
  def splitStr(c: Column, sep: String): Column = split(c, java.util.regex.Pattern.quote(sep))
  /** Substring(str, start, len) — OTTL is 0-based, Spark 1-based */
  def substringOttl(c: Column, start: Int, len: Int): Column = substring(c, start + 1, len)
  /** Int(v) / Double(v) */
  def toInt(c: Column): Column = c.cast("long")
  def toDouble(c: Column): Column = c.cast("double")
  /** IsMatch(str, regex) */
  def isMatch(c: Column, regex: String): Column = c.rlike(regex)
  /** SHA256/FNV */
  def sha256Of(c: Column): Column = sha2(c, 256)
  /** real FNV-1a 64 (spec constants), matching OTTL's FNV converter */
  def fnvOf(c: Column): Column = graft.functions.HashExprs.fnv_hash(c.cast("string"))
  /** ParseJSON(str)[path] */
  def parseJsonField(c: Column, path: String): Column = get_json_object(c, s"$$.$path")
  /** ConvertCase(str, "upper"|"lower") */
  def convertCase(c: Column, mode: String): Column =
    if (mode == "upper") upper(c) else lower(c)
  /** Len */
  def len(c: Column): Column = length(c)
  /** UnixNano→seconds (OTTL Time conversion on integral ns) */
  def nanosToSeconds(c: Column): Column = c.cast("long") / lit(1000000000L)
  /** Coalesce-style default */
  def default(c: Column, dflt: Column): Column = coalesce(c, dflt)
  /** ExtractPatterns(str, regex-with-groups) → map of named captures */
  def extractPatterns(c: Column, regex: String, groups: Seq[(String, Int)]): Column =
    map_from_arrays(
      array(groups.map { case (n, _) => lit(n) }: _*),
      array(groups.map { case (_, i) => regexp_extract(c, regex, i) }: _*))
  /** ParseKeyValue(str, pairSep, kvSep) → map */
  def parseKeyValue(c: Column, pairSep: String, kvSep: String): Column =
    str_to_map(c, lit(java.util.regex.Pattern.quote(pairSep)),
      lit(java.util.regex.Pattern.quote(kvSep)))
  /** ToKeyValueString(map, pairSep, kvSep) — deterministic key order */
  def toKeyValueString(m: Column, pairSep: String, kvSep: String): Column =
    array_join(transform(array_sort(map_entries(m)),
      e => concat(e.getField("key"), lit(kvSep), e.getField("value"))), pairSep)
  /** Base64Decode / Base64Encode */
  def base64Decode(c: Column): Column = unbase64(c)
  def base64Encode(c: Column): Column = base64(c)
  /** Hex(int) */
  def intToHex(c: Column): Column = lower(hex(c))
  /** Log (natural) / Sqrt */
  def logOttl(c: Column): Column = log(c)
  def sqrtOttl(c: Column): Column = sqrt(c)
  /** Hour/Minutes/Seconds of day from integral unix ns. Spark's `/`
    * on longs is DOUBLE division, and epoch-ns values exceed 2^53
    * (ulp ≈ 256 ns at 1.7e18) — dividing the raw ns would misreport
    * timestamps within ~128 ns of a boundary. pmod first: the
    * within-period remainder is < 8.64e13, exactly representable, so
    * the division-then-floor is boundary-exact and timezone-free. */
  def hourOfDay(ns: Column): Column =
    floor(pmod(ns.cast("long"), lit(86400000000000L)) / lit(3600000000000L)).cast("int")
  def minuteOfHour(ns: Column): Column =
    floor(pmod(ns.cast("long"), lit(3600000000000L)) / lit(60000000000L)).cast("int")
  def secondOfMinute(ns: Column): Column =
    floor(pmod(ns.cast("long"), lit(60000000000L)) / lit(1000000000L)).cast("int")
  /** Sort(array) / Unique(array) */
  def sortArr(c: Column): Column = array_sort(c)
  def uniqueArr(c: Column): Column = array_distinct(c)
  /** URL(url)[part] — OTTL's URL converter; part ∈ HOST, PATH, QUERY,
    * PROTOCOL, REF, or QUERY:<key> for one parameter */
  def urlPart(c: Column, part: String): Column =
    if (part.startsWith("QUERY:")) parse_url(c, lit("QUERY"), lit(part.drop(6)))
    else parse_url(c, lit(part))
  /** Flatten(struct) — nested attributes to dotted keys, the OTTL
    * flatten converter over a TYPED nested column: recursion happens
    * at plan time over the schema (zero per-row interpretation), the
    * row-time work is just field extraction + one map build. */
  def flatten(c: Column, schema: org.apache.spark.sql.types.StructType,
              prefix: String = ""): Column = {
    def walk(col: Column, st: org.apache.spark.sql.types.StructType,
             pfx: String): Seq[(String, Column)] =
      st.fields.toSeq.flatMap { f =>
        val key = if (pfx.isEmpty) f.name else s"$pfx.${f.name}"
        f.dataType match {
          case nested: org.apache.spark.sql.types.StructType =>
            walk(col.getField(f.name), nested, key)
          case _ => Seq(key -> col.getField(f.name).cast("string"))
        }
      }
    val kvs = walk(c, schema, prefix)
    map_from_arrays(
      array(kvs.map { case (k, _) => lit(k) }: _*),
      array(kvs.map { case (_, v) => v }: _*))
  }

  /** ParseCSV(str, headers, delimiter) → map of header → field */
  def parseCsv(c: Column, headers: Seq[String], delimiter: String = ","): Column = {
    val schema = org.apache.spark.sql.types.StructType(headers.map(h =>
      org.apache.spark.sql.types.StructField(h, org.apache.spark.sql.types.StringType)))
    val parsed = from_csv(c, schema,
      Map("sep" -> delimiter, "mode" -> "PERMISSIVE"))
    map_from_arrays(
      array(headers.map(lit): _*),
      array(headers.map(h => parsed.getField(h)): _*))
  }

  // ---- time & duration converters (OTTL Duration/Time/Unix*) ------

  /** Duration("1h30m") → nanoseconds (time.ParseDuration semantics:
    * sign, decimal fractions, ns/us/µs/ms/s/m/h units, multiple
    * tokens). Codegen'd native kernel; malformed input → NULL (the
    * transform processor's error_mode=ignore), never a killed query. */
  def duration(c: Column): Column = graft.functions.TimeExprs.go_duration_ns(c)

  /** Duration accessors (OTTL Hours/Minutes/Seconds/Milliseconds/
    * Microseconds/Nanoseconds over a duration): ns → double in the
    * requested unit. */
  def hours(ns: Column): Column = ns.cast("double") / lit(3.6e12)
  def minutes(ns: Column): Column = ns.cast("double") / lit(6e10)
  def seconds(ns: Column): Column = ns.cast("double") / lit(1e9)
  def milliseconds(ns: Column): Column = ns.cast("double") / lit(1e6)
  def microseconds(ns: Column): Column = ns.cast("double") / lit(1e3)
  def nanoseconds(ns: Column): Column = ns.cast("long")

  /** Time(str, ctimeFormat) → timestamp: the OTTL Time converter's
    * strptime-style format, translated to Spark's pattern AT PLAN
    * TIME (the per-row work is one codegen'd to_timestamp). Supported
    * directives are the common telemetry subset; an unknown directive
    * fails at plan time, not per row. */
  def time(c: Column, ctimeFormat: String): Column =
    to_timestamp(c, ctimeToJavaPattern(ctimeFormat))

  /** [[time]] straight to integral unix nanos (the pipeline's native
    * time representation; sub-microsecond digits are not representable
    * by the timestamp type and read as 0). */
  def timeUnixNano(c: Column, ctimeFormat: String): Column =
    unix_micros(time(c, ctimeFormat)) * lit(1000L)

  /** ctime → java.time pattern, validated at plan time. */
  private[graft] def ctimeToJavaPattern(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    def quote(ch: Char): Unit =
      if (ch.isLetter) sb.append('\'').append(ch).append('\'')
      else sb.append(ch)
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'I' => sb.append("hh")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'f' => sb.append("SSSSSS") // microseconds
          case 'L' => sb.append("SSS")    // milliseconds
          case 'p' => sb.append("a")
          case 'b' => sb.append("MMM")
          case 'B' => sb.append("MMMM")
          case 'a' => sb.append("EEE")
          case 'A' => sb.append("EEEE")
          case 'j' => sb.append("DDD")
          case 'z' => sb.append("xx") // ±hhmm, the strptime %z shape
          case 'Z' => sb.append("zzz")
          case 'T' => sb.append("HH:mm:ss")
          case 'F' => sb.append("yyyy-MM-dd")
          case '%' => sb.append('%')
          case other => throw new IllegalArgumentException(
            s"unsupported ctime directive %$other in '$fmt'")
        }
        i += 2
      } else { quote(ch); i += 1 }
    }
    sb.toString
  }

  /** Year/Month/Day/Weekday(time) — calendar accessors over the
    * timestamp type (OTTL's time field converters): Spark's
    * codegen'd datetime expressions, UTC session calendar. Weekday
    * follows Go's time.Weekday numbering (Sunday = 0), so the Spark
    * 1-based dayofweek shifts by one. */
  def yearOf(ts: Column): Column = year(ts)
  def monthOf(ts: Column): Column = month(ts)
  def dayOf(ts: Column): Column = dayofmonth(ts)
  def weekdayOf(ts: Column): Column = dayofweek(ts) - lit(1)
  /** Format(fmt, args...) — the printf-style Format converter */
  def format(fmt: String, args: Column*): Column = format_string(fmt, args: _*)

  /** UnixNano/UnixMicro/UnixMilli/UnixSeconds(time) — timestamp →
    * integral epoch in the requested unit (truncating division, the
    * Go time.Time accessors' behavior). */
  def unixNano(ts: Column): Column = unix_micros(ts) * lit(1000L)
  def unixMicro(ts: Column): Column = unix_micros(ts)
  def unixMilli(ts: Column): Column = unix_millis(ts)
  def unixSeconds(ts: Column): Column = unix_seconds(ts)
  /** inverse: integral unix nanos → timestamp (µs precision — the
    * timestamp type's resolution). Exact integer arithmetic: Column
    * `/` is DOUBLE division, and at current-epoch magnitudes
    * (~1.75e18 ns) doubles space 256 ns apart, so ~12% of inputs
    * truncate into the WRONG microsecond. Floor to a multiple of
    * 1000 first (pmod — floor semantics, correct pre-epoch too),
    * then the decimal division is remainder-free, hence exact. */
  def timeFromUnixNano(ns: Column): Column = {
    val l = ns.cast("long")
    val floored = l - pmod(l, lit(1000L))
    timestamp_micros((floored.cast("decimal(38,0)") / lit(1000)).cast("long"))
  }

  /** TruncateTime over integral unix ns: floor to a duration bucket.
    * pmod keeps the arithmetic in exactly-representable territory
    * (same rationale as [[hourOfDay]]) and handles pre-epoch
    * timestamps correctly (floor, not trunc-toward-zero). */
  def truncateTime(ns: Column, durationNs: Long): Column =
    ns.cast("long") - pmod(ns.cast("long"), lit(durationNs))

  /** IsString-ish guards collapse to type checks at plan time in a
    * typed column model — schema does statically what OTTL checks
    * dynamically, so there is nothing to evaluate per row. */
}
