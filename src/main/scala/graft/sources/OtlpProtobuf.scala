package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** OTLP protobuf wire-format codec — the reference receiver's PRIMARY
  * encoding (receiver/otlpreceiver; message layout from the public
  * opentelemetry-proto schema, field numbers per pdata's generated
  * logs.pb.go / trace.pb.go / metrics.pb.go and common.pb.go —
  * behavior, not code).
  *
  * Logs decode straight to the flat log rows: [[logsRequestToRows]]
  * walks an ExportLogsServiceRequest once and emits one row per
  * LogRecord with the columns, types and canonical AnyValue strings of
  * [[OtlpJsonSource.parseLogs]], so the pb receivers' plan is one scan,
  * one generator and flat columns. Spans and metrics still convert to
  * their OTLP/JSON document ([[spansRequestToJson]],
  * [[metricsRequestToJson]]) and share the JSON flattening;
  * [[logsRequestToJson]] keeps the logs form of that conversion.
  *
  * No protobuf library: the wire format is 4 primitives (varint,
  * fixed32/64, length-delimited); a schema-aware reader is ~100 lines
  * and keeps the sandbox dependency-free.
  *
  * [[Reader]] and [[Writer]] are graft's only protobuf wire codec:
  * the transports' own messages (otel-arrow BatchArrowRecords and
  * BatchStatus in [[ArrowGrpc]], google.rpc.Status + RetryInfo in
  * [[GrpcOtlp]], Export*PartialSuccess in [[OtlpHttp]]) encode and
  * decode through them too, so every walk of peer-supplied bytes is
  * bounds-checked.
  */
object OtlpProtobuf {

  /** Column API: binary OTLP logs request → OTLP/JSON string */
  def otlp_logs_pb_to_json(pb: Column): Column =
    Bridge.column(OtlpLogsPbToJson(Bridge.expression(pb)))

  /** Column API: binary OTLP traces request → OTLP/JSON string */
  def otlp_spans_pb_to_json(pb: Column): Column =
    Bridge.column(OtlpSpansPbToJson(Bridge.expression(pb)))

  /** Column API: binary OTLP metrics request → OTLP/JSON string */
  def otlp_metrics_pb_to_json(pb: Column): Column =
    Bridge.column(OtlpMetricsPbToJson(Bridge.expression(pb)))

  /** Column API: OTLP/JSON logs document → binary request (export) */
  def otlp_logs_json_to_pb(json: Column): Column =
    Bridge.column(OtlpLogsJsonToPb(Bridge.expression(json)))

  /** Column API: OTLP/JSON traces document → binary request (export) */
  def otlp_spans_json_to_pb(json: Column): Column =
    Bridge.column(OtlpSpansJsonToPb(Bridge.expression(json)))

  /** Column API: OTLP/JSON metrics document → binary request (export) */
  def otlp_metrics_json_to_pb(json: Column): Column =
    Bridge.column(OtlpMetricsJsonToPb(Bridge.expression(json)))

  /** Column API: binary OTLP logs request → array of flat log rows
    * (`inline` it); malformed bytes fail the task */
  def otlp_logs_pb_to_rows(pb: Column): Column =
    Bridge.column(OtlpLogsPbToRows(Bridge.expression(pb)))

  /** Column API: like [[otlp_logs_pb_to_rows]] but malformed bytes
    * yield NULL instead of failing the task — dead-lettering is a
    * per-row decision (receiver error path), one bad file must not
    * kill the batch. */
  def otlp_logs_pb_to_rows_safe(pb: Column): Column =
    Bridge.column(OtlpLogsPbToRowsSafe(Bridge.expression(pb)))

  /** nullable twin of [[logsRequestToJson]]: malformed bytes → null */
  def logsRequestToJsonOrNull(bytes: Array[Byte]): UTF8String =
    try logsRequestToJson(bytes)
    catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => null }

  /** Column API: NULL-on-malformed traces decode (DLQ path) */
  def otlp_spans_pb_to_json_safe(pb: Column): Column =
    Bridge.column(OtlpSpansPbToJsonSafe(Bridge.expression(pb)))

  /** Column API: NULL-on-malformed metrics decode (DLQ path) */
  def otlp_metrics_pb_to_json_safe(pb: Column): Column =
    Bridge.column(OtlpMetricsPbToJsonSafe(Bridge.expression(pb)))

  /** nullable twin of [[spansRequestToJson]] for the DLQ path */
  def spansRequestToJsonOrNull(bytes: Array[Byte]): UTF8String =
    try spansRequestToJson(bytes)
    catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => null }

  /** nullable twin of [[metricsRequestToJson]] for the DLQ path */
  def metricsRequestToJsonOrNull(bytes: Array[Byte]): UTF8String =
    try metricsRequestToJson(bytes)
    catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => null }

  // ---- wire-level reader ----------------------------------------

  private def malformed(why: String): Nothing =
    throw new IllegalArgumentException(s"malformed protobuf: $why")

  /** bounds-checked wire reader: untrusted bytes must fail fast with a
    * diagnosable error, never read out of range or — the killer — let
    * a negative length varint move the cursor backwards into an
    * infinite loop */
  private[sources] final class Reader(val b: Array[Byte], var p: Int, val end: Int) {
    def hasNext: Boolean = p < end
    def varint(): Long = {
      var x = 0L; var s = 0; var done = false
      while (!done) {
        if (p >= end) malformed("truncated varint")
        if (s > 63) malformed("varint longer than 10 bytes")
        val v = b(p); p += 1
        x |= (v & 0x7fL) << s; s += 7
        if ((v & 0x80) == 0) done = true
      }
      x
    }
    def fixed64(): Long = {
      if (p + 8 > end) malformed("truncated fixed64")
      var x = 0L; var i = 0
      while (i < 8) { x |= (b(p + i) & 0xffL) << (8 * i); i += 1 }
      p += 8; x
    }
    def fixed32(): Int = {
      if (p + 4 > end) malformed("truncated fixed32")
      var x = 0; var i = 0
      while (i < 4) { x |= (b(p + i) & 0xff) << (8 * i); i += 1 }
      p += 4; x
    }
    def lenDelim(): (Int, Int) = {
      val len64 = varint()
      if (len64 < 0 || len64 > end - p) malformed(s"length $len64 out of range")
      val len = len64.toInt
      val off = p
      p += len
      (off, len)
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => if (p + 8 > end) malformed("truncated fixed64"); p += 8
      case 2 => lenDelim()
      case 5 => if (p + 4 > end) malformed("truncated fixed32"); p += 4
      case other => malformed(s"wire type $other")
    }
  }

  private def utf8(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, java.nio.charset.StandardCharsets.UTF_8)

  private[graft] val HexDigits = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** lowercase hex of b[off, off+len) as ASCII bytes */
  private def hexBytes(b: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new Array[Byte](len * 2)
    var i = 0
    while (i < len) {
      val v = b(off + i) & 0xff
      out(2 * i) = HexDigits(v >>> 4); out(2 * i + 1) = HexDigits(v & 0xf)
      i += 1
    }
    out
  }

  /** lowercase hex of b[off, off+len), two digits per byte: the one
    * byte-to-hex formatter graft's ids, digests and file names use */
  private[graft] def hex(b: Array[Byte], off: Int, len: Int): String =
    new String(hexBytes(b, off, len), java.nio.charset.StandardCharsets.US_ASCII)

  /** JSON form of a double per the OTLP/JSON mapping: ordinary values
    * are bare numbers; NaN/±Infinity are the quoted string tokens
    * (bare NaN is invalid JSON and breaks every consumer) */
  private def jsonDouble(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString
    else if (java.lang.Double.isNaN(d)) "\"NaN\""
    else if (d > 0) "\"Infinity\""
    else "\"-Infinity\""

  /** escape for embedding in a JSON string literal (RFC 8259: quote,
    * backslash, and control chars) */
  private[sources] def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  // ---- message-level converters (field numbers per OTLP proto) ---

  /** proto unmarshalers cap message recursion (protobuf-go uses 100);
    * without it a crafted blob of nested 2-byte arrayValue headers
    * drives anyValue past the JVM stack — a StackOverflowError would
    * escape the DLQ wrapper and kill the batch */
  private val MaxValueDepth = 100

  /** AnyValue: 1=string 2=bool 3=int 4=double 5=array 6=kvlist 7=bytes */
  private def anyValue(b: Array[Byte], off: Int, len: Int, depth: Int = 0): String = {
    if (depth > MaxValueDepth) malformed(s"AnyValue nesting deeper than $MaxValueDepth")
    val r = new Reader(b, off, off + len)
    var out = "{}"
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2) => val (o, l) = r.lenDelim()
          out = s"""{"stringValue":"${jsonEscape(utf8(b, o, l))}"}"""
        case (2, 0) => out = s"""{"boolValue":${r.varint() != 0L}}"""
        case (3, 0) => out = s"""{"intValue":"${r.varint()}"}"""
        case (4, 1) =>
          out = s"""{"doubleValue":${jsonDouble(java.lang.Double.longBitsToDouble(r.fixed64()))}}"""
        case (5, 2) => val (o, l) = r.lenDelim()
          val inner = new Reader(b, o, o + l)
          val vals = new scala.collection.mutable.ArrayBuffer[String]()
          while (inner.hasNext) {
            val t2 = inner.varint().toInt
            if ((t2 >>> 3) == 1 && (t2 & 7) == 2) {
              val (vo, vl) = inner.lenDelim(); vals += anyValue(b, vo, vl, depth + 1)
            } else inner.skip(t2 & 7)
          }
          out = s"""{"arrayValue":{"values":[${vals.mkString(",")}]}}"""
        case (6, 2) => val (o, l) = r.lenDelim()
          val inner = new Reader(b, o, o + l)
          val kvs = new scala.collection.mutable.ArrayBuffer[String]()
          while (inner.hasNext) {
            val t2 = inner.varint().toInt
            if ((t2 >>> 3) == 1 && (t2 & 7) == 2) {
              val (vo, vl) = inner.lenDelim(); kvs += keyValue(b, vo, vl, depth + 1)
            } else inner.skip(t2 & 7)
          }
          out = s"""{"kvlistValue":{"values":[${kvs.mkString(",")}]}}"""
        case (7, 2) => val (o, l) = r.lenDelim()
          val b64 = java.util.Base64.getEncoder.encodeToString(
            java.util.Arrays.copyOfRange(b, o, o + l))
          out = s"""{"bytesValue":"$b64"}"""
        case (_, wt) => r.skip(wt)
      }
    }
    out
  }

  /** KeyValue: 1=key 2=value */
  private def keyValue(b: Array[Byte], off: Int, len: Int, depth: Int = 0): String = {
    val r = new Reader(b, off, off + len)
    var key = ""
    var value = "{}"
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2) => val (o, l) = r.lenDelim(); key = jsonEscape(utf8(b, o, l))
        case (2, 2) => val (o, l) = r.lenDelim(); value = anyValue(b, o, l, depth + 1)
        case (_, wt) => r.skip(wt)
      }
    }
    s"""{"key":"$key","value":$value}"""
  }

  private def kvList(b: Array[Byte], r: Reader,
                     acc: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    val (o, l) = r.lenDelim()
    acc += keyValue(b, o, l)
  }

  /** LogRecord: 1=timeUnixNano(f64) 2=severityNumber 3=severityText
    * 5=body 6=attributes 7=droppedAttributesCount 8=flags(f32)
    * 9=traceId 10=spanId 11=observedTimeUnixNano(f64) */
  private def logRecord(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 1)  => parts += s""""timeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (11, 1) => parts += s""""observedTimeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (2, 0)  => parts += s""""severityNumber":${r.varint()}"""
        case (3, 2)  => val (o, l) = r.lenDelim()
          parts += s""""severityText":"${jsonEscape(utf8(b, o, l))}""""
        case (5, 2)  => val (o, l) = r.lenDelim(); parts += s""""body":${anyValue(b, o, l)}"""
        case (6, 2)  => kvList(b, r, attrs)
        case (7, 0)  => parts += s""""droppedAttributesCount":${r.varint()}"""
        case (8, 5)  => parts += s""""flags":${java.lang.Integer.toUnsignedLong(r.fixed32())}"""
        case (9, 2)  => val (o, l) = r.lenDelim(); parts += s""""traceId":"${hex(b, o, l)}""""
        case (10, 2) => val (o, l) = r.lenDelim(); parts += s""""spanId":"${hex(b, o, l)}""""
        case (_, wt) => r.skip(wt)
      }
    }
    parts += s""""attributes":[${attrs.mkString(",")}]"""
    parts.mkString("{", ",", "}")
  }

  /** Resource: 1=attributes 2=droppedAttributesCount */
  private def resource(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => kvList(b, r, attrs)
        case (_, wt) => r.skip(wt)
      }
    }
    s"""{"attributes":[${attrs.mkString(",")}]}"""
  }

  /** InstrumentationScope: 1=name 2=version */
  private def scope(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    var name = ""
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); name = jsonEscape(utf8(b, o, l))
        case (_, wt) => r.skip(wt)
      }
    }
    s"""{"name":"$name"}"""
  }

  /** Resource{Logs,Spans,Metrics} share one shape: 1=resource
    * 2=repeated scope envelope — as do Scope{Logs,Spans,Metrics}:
    * 1=scope 2=repeated record. One walker serves all three signals. */
  private def resourceEnvelope(b: Array[Byte], off: Int, len: Int,
                               scopeListName: String, recordListName: String,
                               record: (Array[Byte], Int, Int) => String): String = {
    val r = new Reader(b, off, off + len)
    var res = """{"attributes":[]}"""
    val sls = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); res = resource(b, o, l)
        case (2, 2)  => val (o, l) = r.lenDelim()
          sls += signalEnvelope(b, o, l, recordListName, record)
        case (_, wt) => r.skip(wt)
      }
    }
    s"""{"resource":$res,"$scopeListName":[${sls.mkString(",")}]}"""
  }

  // ---- traces (field numbers per trace.pb.go) --------------------

  /** Span.Event: 1=time 2=name 3=attributes 4=dropped */
  private def spanEvent(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 1)  => parts += s""""timeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (2, 2)  => val (o, l) = r.lenDelim(); parts += s""""name":"${jsonEscape(utf8(b, o, l))}""""
        case (3, 2)  => kvList(b, r, attrs)
        case (_, wt) => r.skip(wt)
      }
    }
    parts += s""""attributes":[${attrs.mkString(",")}]"""
    parts.mkString("{", ",", "}")
  }

  /** Span.Link: 1=traceId 2=spanId 3=traceState 4=attributes */
  private def spanLink(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); parts += s""""traceId":"${hex(b, o, l)}""""
        case (2, 2)  => val (o, l) = r.lenDelim(); parts += s""""spanId":"${hex(b, o, l)}""""
        case (3, 2)  => val (o, l) = r.lenDelim(); parts += s""""traceState":"${jsonEscape(utf8(b, o, l))}""""
        case (4, 2)  => kvList(b, r, attrs)
        case (_, wt) => r.skip(wt)
      }
    }
    parts += s""""attributes":[${attrs.mkString(",")}]"""
    parts.mkString("{", ",", "}")
  }

  /** Span: 1=traceId 2=spanId 3=traceState 4=parentSpanId 5=name
    * 6=kind 7=start(f64) 8=end(f64) 9=attributes 10=droppedAttrs
    * 11=events 12=droppedEvents 13=links 14=droppedLinks 15=status
    * (Status: 2=message 3=code) */
  private def span(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    val events = new scala.collection.mutable.ArrayBuffer[String]()
    val links = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); parts += s""""traceId":"${hex(b, o, l)}""""
        case (2, 2)  => val (o, l) = r.lenDelim(); parts += s""""spanId":"${hex(b, o, l)}""""
        case (3, 2)  => val (o, l) = r.lenDelim(); parts += s""""traceState":"${jsonEscape(utf8(b, o, l))}""""
        case (4, 2)  => val (o, l) = r.lenDelim(); parts += s""""parentSpanId":"${hex(b, o, l)}""""
        case (5, 2)  => val (o, l) = r.lenDelim(); parts += s""""name":"${jsonEscape(utf8(b, o, l))}""""
        case (6, 0)  => parts += s""""kind":${r.varint()}"""
        case (7, 1)  => parts += s""""startTimeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (8, 1)  => parts += s""""endTimeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (9, 2)  => kvList(b, r, attrs)
        case (10, 0) => parts += s""""droppedAttributesCount":${r.varint()}"""
        case (11, 2) => val (o, l) = r.lenDelim(); events += spanEvent(b, o, l)
        case (12, 0) => parts += s""""droppedEventsCount":${r.varint()}"""
        case (13, 2) => val (o, l) = r.lenDelim(); links += spanLink(b, o, l)
        case (14, 0) => parts += s""""droppedLinksCount":${r.varint()}"""
        case (15, 2) => val (o, l) = r.lenDelim()
          val sr = new Reader(b, o, o + l)
          var code = 0L; var msg = ""
          while (sr.hasNext) {
            val t2 = sr.varint().toInt
            (t2 >>> 3, t2 & 7) match {
              case (2, 2)  => val (mo, ml) = sr.lenDelim(); msg = jsonEscape(utf8(b, mo, ml))
              case (3, 0)  => code = sr.varint()
              case (_, wt) => sr.skip(wt)
            }
          }
          parts += s""""status":{"code":$code,"message":"$msg"}"""
        case (_, wt) => r.skip(wt)
      }
    }
    parts += s""""attributes":[${attrs.mkString(",")}]"""
    if (events.nonEmpty) parts += s""""events":[${events.mkString(",")}]"""
    if (links.nonEmpty) parts += s""""links":[${links.mkString(",")}]"""
    parts.mkString("{", ",", "}")
  }

  /** generic Resource+Scope envelope shared by all three signals */
  private def signalEnvelope(b: Array[Byte], off: Int, len: Int,
                             innerName: String,
                             inner: (Array[Byte], Int, Int) => String): String = {
    val r = new Reader(b, off, off + len)
    val items = new scala.collection.mutable.ArrayBuffer[String]()
    var sc = """{"name":""}"""
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); sc = scope(b, o, l)
        case (2, 2)  => val (o, l) = r.lenDelim(); items += inner(b, o, l)
        case (_, wt) => r.skip(wt)
      }
    }
    s"""{"scope":$sc,"$innerName":[${items.mkString(",")}]}"""
  }

  /** ExportTraceServiceRequest: 1=resourceSpans
    * (ResourceSpans: 1=resource 2=scopeSpans; ScopeSpans: 1=scope 2=spans) */
  def spansRequestToJson(bytes: Array[Byte]): UTF8String = {
    val rls = topLevel(bytes, (b, off, len) =>
      resourceEnvelope(b, off, len, "scopeSpans", "spans", span))
    UTF8String.fromString(s"""{"resourceSpans":[${rls.mkString(",")}]}""")
  }

  // ---- metrics (field numbers per metrics.pb.go) -----------------

  private def zigzag32(n: Long): Int = (((n >>> 1) ^ -(n & 1)).toInt)

  /** Exemplar: 7=filteredAttributes 2=time 3=asDouble 4=spanId
    * 5=traceId 6=asInt(sfixed64) */
  private def exemplar(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (2, 1)  => parts += s""""timeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (3, 1)  => parts += s""""asDouble":${jsonDouble(java.lang.Double.longBitsToDouble(r.fixed64()))}"""
        case (6, 1)  => parts += s""""asInt":"${r.fixed64()}""""
        case (4, 2)  => val (o, l) = r.lenDelim(); parts += s""""spanId":"${hex(b, o, l)}""""
        case (5, 2)  => val (o, l) = r.lenDelim(); parts += s""""traceId":"${hex(b, o, l)}""""
        case (7, 2)  => kvList(b, r, attrs)
        case (_, wt) => r.skip(wt)
      }
    }
    parts += s""""filteredAttributes":[${attrs.mkString(",")}]"""
    parts.mkString("{", ",", "}")
  }

  /** NumberDataPoint: 7=attributes 2=start(f64) 3=time(f64)
    * 4=asDouble(f64) 6=asInt(sfixed64) 5=exemplars */
  private def numberPoint(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    val exs = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (2, 1)  => parts += s""""startTimeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (3, 1)  => parts += s""""timeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (4, 1)  => parts += s""""asDouble":${jsonDouble(java.lang.Double.longBitsToDouble(r.fixed64()))}"""
        case (6, 1)  => parts += s""""asInt":"${r.fixed64()}""""
        case (5, 2)  => val (o, l) = r.lenDelim(); exs += exemplar(b, o, l)
        case (7, 2)  => kvList(b, r, attrs)
        case (_, wt) => r.skip(wt)
      }
    }
    parts += s""""attributes":[${attrs.mkString(",")}]"""
    if (exs.nonEmpty) parts += s""""exemplars":[${exs.mkString(",")}]"""
    parts.mkString("{", ",", "}")
  }

  /** packed (wire type 2) or unpacked (wire type 1) fixed64 list →
    * JSON array of strings. Any other wire type is the caller's to
    * skip — consuming 8 raw bytes for, say, a varint-encoded field
    * would misalign the reader and decode garbage instead of failing. */
  private def packedFixed64(b: Array[Byte], r: Reader, wireType: Int,
                            acc: scala.collection.mutable.ArrayBuffer[String]): Unit =
    if (wireType == 2) {
      val (o, l) = r.lenDelim()
      val inner = new Reader(b, o, o + l)
      while (inner.hasNext) acc += java.lang.Long.toUnsignedString(inner.fixed64())
    } else if (wireType == 1) acc += java.lang.Long.toUnsignedString(r.fixed64())
    else malformed(s"wire type $wireType for packed fixed64")

  /** HistogramDataPoint: 9=attributes 2=start 3=time 4=count(f64)
    * 5=sum 6=bucketCounts(packed f64) 7=explicitBounds(packed f64)
    * 8=exemplars */
  private def histogramPoint(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    val exs = new scala.collection.mutable.ArrayBuffer[String]()
    val counts = new scala.collection.mutable.ArrayBuffer[String]()
    val bounds = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (2, 1)  => parts += s""""startTimeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (3, 1)  => parts += s""""timeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (4, 1)  => parts += s""""count":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (5, 1)  => parts += s""""sum":${jsonDouble(java.lang.Double.longBitsToDouble(r.fixed64()))}"""
        case (6, 2)  => packedFixed64(b, r, 2, counts)
        case (6, 1)  => packedFixed64(b, r, 1, counts)
        case (7, 2)  => val (o, l) = r.lenDelim()
          val inner = new Reader(b, o, o + l)
          while (inner.hasNext) bounds += jsonDouble(java.lang.Double.longBitsToDouble(inner.fixed64()))
        case (7, 1)  => bounds += jsonDouble(java.lang.Double.longBitsToDouble(r.fixed64()))
        case (8, 2)  => val (o, l) = r.lenDelim(); exs += exemplar(b, o, l)
        case (9, 2)  => kvList(b, r, attrs)
        case (_, wt) => r.skip(wt)
      }
    }
    if (counts.nonEmpty) parts += s""""bucketCounts":[${counts.map("\"" + _ + "\"").mkString(",")}]"""
    if (bounds.nonEmpty) parts += s""""explicitBounds":[${bounds.mkString(",")}]"""
    parts += s""""attributes":[${attrs.mkString(",")}]"""
    if (exs.nonEmpty) parts += s""""exemplars":[${exs.mkString(",")}]"""
    parts.mkString("{", ",", "}")
  }

  /** ExponentialHistogramDataPoint: 1=attributes 2=start 3=time
    * 4=count(f64) 5=sum 6=scale(zigzag) 7=zeroCount(f64) 8=positive
    * 9=negative 14=zeroThreshold (Buckets: 1=offset(zigzag)
    * 2=bucketCounts packed varint) */
  private def expHistogramPoint(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    def buckets(o: Int, l: Int): String = {
      val br = new Reader(b, o, o + l)
      var offset = 0
      val cs = new scala.collection.mutable.ArrayBuffer[String]()
      while (br.hasNext) {
        val t2 = br.varint().toInt
        (t2 >>> 3, t2 & 7) match {
          case (1, 0) => offset = zigzag32(br.varint())
          case (2, 2) => val (co, cl) = br.lenDelim()
            val inner = new Reader(b, co, co + cl)
            while (inner.hasNext) cs += java.lang.Long.toUnsignedString(inner.varint())
          case (2, 0) => cs += java.lang.Long.toUnsignedString(br.varint())
          case (_, wt) => br.skip(wt)
        }
      }
      s"""{"offset":$offset,"bucketCounts":[${cs.map("\"" + _ + "\"").mkString(",")}]}"""
    }
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => kvList(b, r, attrs)
        case (2, 1)  => parts += s""""startTimeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (3, 1)  => parts += s""""timeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (4, 1)  => parts += s""""count":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (5, 1)  => parts += s""""sum":${jsonDouble(java.lang.Double.longBitsToDouble(r.fixed64()))}"""
        case (6, 0)  => parts += s""""scale":${zigzag32(r.varint())}"""
        case (7, 1)  => parts += s""""zeroCount":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (8, 2)  => val (o, l) = r.lenDelim(); parts += s""""positive":${buckets(o, l)}"""
        case (9, 2)  => val (o, l) = r.lenDelim(); parts += s""""negative":${buckets(o, l)}"""
        case (14, 1) => parts += s""""zeroThreshold":${jsonDouble(java.lang.Double.longBitsToDouble(r.fixed64()))}"""
        case (_, wt) => r.skip(wt)
      }
    }
    parts += s""""attributes":[${attrs.mkString(",")}]"""
    parts.mkString("{", ",", "}")
  }

  /** SummaryDataPoint: 7=attributes 2=start 3=time 4=count(f64) 5=sum
    * 6=quantileValues (1=quantile 2=value, both f64) */
  private def summaryPoint(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val attrs = new scala.collection.mutable.ArrayBuffer[String]()
    val qvs = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (2, 1) => parts += s""""startTimeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (3, 1) => parts += s""""timeUnixNano":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (4, 1) => parts += s""""count":"${java.lang.Long.toUnsignedString(r.fixed64())}""""
        case (5, 1) => parts += s""""sum":${jsonDouble(java.lang.Double.longBitsToDouble(r.fixed64()))}"""
        case (6, 2) => val (o, l) = r.lenDelim()
          val qr = new Reader(b, o, o + l)
          var q = 0.0; var v = 0.0
          while (qr.hasNext) {
            val t2 = qr.varint().toInt
            (t2 >>> 3, t2 & 7) match {
              case (1, 1)  => q = java.lang.Double.longBitsToDouble(qr.fixed64())
              case (2, 1)  => v = java.lang.Double.longBitsToDouble(qr.fixed64())
              case (_, wt) => qr.skip(wt)
            }
          }
          qvs += s"""{"quantile":${jsonDouble(q)},"value":${jsonDouble(v)}}"""
        case (7, 2) => kvList(b, r, attrs)
        case (_, wt) => r.skip(wt)
      }
    }
    parts += s""""attributes":[${attrs.mkString(",")}]"""
    if (qvs.nonEmpty) parts += s""""quantileValues":[${qvs.mkString(",")}]"""
    parts.mkString("{", ",", "}")
  }

  /** Metric: 1=name 2=description 3=unit 5=gauge 7=sum 9=histogram
    * 10=exponentialHistogram 11=summary (each: 1=dataPoints;
    * Sum adds 2=aggregationTemporality 3=isMonotonic; Histogram/Exp
    * add 2=aggregationTemporality) */
  private def metric(b: Array[Byte], off: Int, len: Int): String = {
    val r = new Reader(b, off, off + len)
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    def dataSection(o: Int, l: Int, point: (Array[Byte], Int, Int) => String,
                    withTemporality: Boolean, withMonotonic: Boolean): String = {
      val dr = new Reader(b, o, o + l)
      val pts = new scala.collection.mutable.ArrayBuffer[String]()
      val extra = new scala.collection.mutable.ArrayBuffer[String]()
      while (dr.hasNext) {
        val t2 = dr.varint().toInt
        (t2 >>> 3, t2 & 7) match {
          case (1, 2) => val (po, pl) = dr.lenDelim(); pts += point(b, po, pl)
          case (2, 0) if withTemporality => extra += s""""aggregationTemporality":${dr.varint()}"""
          case (3, 0) if withMonotonic => extra += s""""isMonotonic":${dr.varint() != 0L}"""
          case (_, wt) => dr.skip(wt)
        }
      }
      (Seq(s""""dataPoints":[${pts.mkString(",")}]""") ++ extra).mkString("{", ",", "}")
    }
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); parts += s""""name":"${jsonEscape(utf8(b, o, l))}""""
        case (2, 2)  => val (o, l) = r.lenDelim(); parts += s""""description":"${jsonEscape(utf8(b, o, l))}""""
        case (3, 2)  => val (o, l) = r.lenDelim(); parts += s""""unit":"${jsonEscape(utf8(b, o, l))}""""
        case (5, 2)  => val (o, l) = r.lenDelim()
          parts += s""""gauge":${dataSection(o, l, numberPoint, withTemporality = false, withMonotonic = false)}"""
        case (7, 2)  => val (o, l) = r.lenDelim()
          parts += s""""sum":${dataSection(o, l, numberPoint, withTemporality = true, withMonotonic = true)}"""
        case (9, 2)  => val (o, l) = r.lenDelim()
          parts += s""""histogram":${dataSection(o, l, histogramPoint, withTemporality = true, withMonotonic = false)}"""
        case (10, 2) => val (o, l) = r.lenDelim()
          parts += s""""exponentialHistogram":${dataSection(o, l, expHistogramPoint, withTemporality = true, withMonotonic = false)}"""
        case (11, 2) => val (o, l) = r.lenDelim()
          parts += s""""summary":${dataSection(o, l, summaryPoint, withTemporality = false, withMonotonic = false)}"""
        case (_, wt) => r.skip(wt)
      }
    }
    parts.mkString("{", ",", "}")
  }

  /** ExportMetricsServiceRequest: 1=resourceMetrics
    * (ResourceMetrics: 1=resource 2=scopeMetrics;
    * ScopeMetrics: 1=scope 2=metrics) */
  def metricsRequestToJson(bytes: Array[Byte]): UTF8String = {
    val rms = topLevel(bytes, (b, off, len) =>
      resourceEnvelope(b, off, len, "scopeMetrics", "metrics", metric))
    UTF8String.fromString(s"""{"resourceMetrics":[${rms.mkString(",")}]}""")
  }

  /** walk the request's repeated field-1 submessages */
  private def topLevel(bytes: Array[Byte],
                       each: (Array[Byte], Int, Int) => String): Seq[String] = {
    val r = new Reader(bytes, 0, bytes.length)
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); out += each(bytes, o, l)
        case (_, wt) => r.skip(wt)
      }
    }
    out.toSeq
  }

  // ---- encode (otlpexporter wire format) -------------------------
  // The exporter's inverse: OTLP/JSON document → protobuf bytes.
  // Driven by Jackson (already on Spark's classpath for from_json),
  // mirroring the decoder's field numbers, so decode ∘ encode = id on
  // the JSON form — for EVERY section the decoders emit: all five
  // metric data types, span events/links, exemplars (spec-verified
  // round trips in CollectorIntegrationSpec). Unparseable numeric
  // strings and non-hex ids drop the field rather than throw.

  private[sources] final class Writer {
    private val buf = new java.io.ByteArrayOutputStream(256)
    def bytes: Array[Byte] = buf.toByteArray
    def varint(x0: Long): Unit = {
      var x = x0
      while ((x & ~0x7fL) != 0) { buf.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      buf.write(x.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field << 3) | wire)
    def lenDelim(field: Int, payload: Array[Byte]): Unit = {
      tag(field, 2); varint(payload.length); buf.write(payload, 0, payload.length)
    }
    def str(field: Int, s: String): Unit =
      lenDelim(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def fixed64(field: Int, x: Long): Unit = {
      tag(field, 1)
      var i = 0
      while (i < 8) { buf.write(((x >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def fixed32(field: Int, x: Int): Unit = {
      tag(field, 5)
      var i = 0
      while (i < 4) { buf.write(((x >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def vint(field: Int, x: Long): Unit = { tag(field, 0); varint(x) }
    /** sint32 (zigzag) varint field */
    def zint32(field: Int, x: Int): Unit =
      vint(field, ((x.toLong << 1) ^ (x.toLong >> 31)) & 0xffffffffL)
    def rawFixed64(x: Long): Unit = {
      var i = 0
      while (i < 8) { buf.write(((x >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def rawVarint(x: Long): Unit = varint(x)
  }

  /** the bytes of one message `fill` writes */
  private[sources] def encode(fill: Writer => Unit): Array[Byte] = {
    val w = new Writer
    fill(w)
    w.bytes
  }

  /** packed fixed64 list field from a sub-writer of raw values */
  private def packed(w: Writer, field: Int)(fill: Writer => Unit): Unit = {
    val inner = new Writer
    fill(inner)
    w.lenDelim(field, inner.bytes)
  }

  private def unhex(s: String): Array[Byte] =
    Array.tabulate(s.length / 2)(i =>
      Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte)

  private def isHex(s: String): Boolean =
    s.length % 2 == 0 && s.nonEmpty && s.forall(c =>
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F'))

  private type JNode = com.fasterxml.jackson.databind.JsonNode

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Numeric-string guards: OTLP/JSON carries u64 timestamps/counts as
    * strings. A negative or non-numeric string must not throw out of
    * the encoder (one bad row would fail the whole export task) — the
    * field is dropped instead, the same policy as non-hex ids. */
  private def ulong(s: String): Option[Long] =
    try Some(java.lang.Long.parseUnsignedLong(s))
    catch { case _: NumberFormatException => None }

  private def slong(s: String): Option[Long] =
    try Some(s.toLong) catch { case _: NumberFormatException => None }

  /** u64-string field n.name → fixed64, dropped when unparseable */
  private def u64Field(w: Writer, field: Int, n: JNode, name: String): Unit =
    if (n.hasNonNull(name)) ulong(n.get(name).asText()).foreach(w.fixed64(field, _))

  /** double field n.name → fixed64 IEEE bits, dropped when unparseable */
  private def dblField(w: Writer, field: Int, n: JNode, name: String): Unit =
    if (n.hasNonNull(name)) jsonDoubleOpt(n.get(name)).foreach(d =>
      w.fixed64(field, java.lang.Double.doubleToLongBits(d)))

  private def encodeAnyValue(v: JNode): Array[Byte] = {
    val w = new Writer
    if (v == null || v.isNull) return w.bytes  // unset AnyValue: empty message
    if (v.has("stringValue")) w.str(1, v.get("stringValue").asText())
    else if (v.has("boolValue")) w.vint(2, if (v.get("boolValue").asBoolean()) 1 else 0)
    // a non-numeric intValue / undecodable bytesValue drops the field
    // instead of throwing out of the whole export task (ulong policy)
    else if (v.has("intValue"))
      slong(v.get("intValue").asText()).foreach(w.vint(3, _))
    else if (v.has("doubleValue"))
      jsonDoubleOpt(v.get("doubleValue")).foreach(d =>
        w.fixed64(4, java.lang.Double.doubleToLongBits(d)))
    else if (v.has("arrayValue")) {
      val inner = new Writer
      val vals = v.get("arrayValue").get("values")
      if (vals != null) vals.forEach(e => inner.lenDelim(1, encodeAnyValue(e)))
      w.lenDelim(5, inner.bytes)
    } else if (v.has("kvlistValue")) {
      val inner = new Writer
      val vals = v.get("kvlistValue").get("values")
      if (vals != null) vals.forEach(e => inner.lenDelim(1, encodeKeyValue(e)))
      w.lenDelim(6, inner.bytes)
    } else if (v.has("bytesValue"))
      try w.lenDelim(7, java.util.Base64.getDecoder.decode(v.get("bytesValue").asText()))
      catch { case _: IllegalArgumentException => () } // non-base64: drop the field
    w.bytes
  }

  private def encodeKeyValue(kv: JNode): Array[Byte] = {
    val w = new Writer
    if (kv.hasNonNull("key")) w.str(1, kv.get("key").asText())
    w.lenDelim(2, encodeAnyValue(kv.get("value")))
    w.bytes
  }

  private def encodeLogRecord(lr: JNode): Array[Byte] = {
    val w = new Writer
    u64Field(w, 1, lr, "timeUnixNano")
    if (lr.has("severityNumber")) w.vint(2, lr.get("severityNumber").asLong())
    if (lr.has("severityText")) w.str(3, lr.get("severityText").asText())
    if (lr.has("body")) w.lenDelim(5, encodeAnyValue(lr.get("body")))
    if (lr.has("attributes")) lr.get("attributes").forEach(kv => w.lenDelim(6, encodeKeyValue(kv)))
    if (lr.has("droppedAttributesCount")) w.vint(7, lr.get("droppedAttributesCount").asLong())
    if (lr.has("flags")) w.fixed32(8, lr.get("flags").asInt())
    // ids are hex in OTLP/JSON; non-hex ids (synthetic test data)
    // cannot round-trip through 8/16 raw bytes — drop, don't throw
    if (lr.has("traceId") && isHex(lr.get("traceId").asText()))
      w.lenDelim(9, unhex(lr.get("traceId").asText()))
    if (lr.has("spanId") && isHex(lr.get("spanId").asText()))
      w.lenDelim(10, unhex(lr.get("spanId").asText()))
    u64Field(w, 11, lr, "observedTimeUnixNano")
    w.bytes
  }

  private def hexField(w: Writer, field: Int, n: JNode, name: String): Unit =
    // ids are hex in OTLP/JSON; non-hex ids (synthetic test data)
    // cannot round-trip through raw wire bytes — drop, don't throw
    if (n.hasNonNull(name) && isHex(n.get(name).asText()))
      w.lenDelim(field, unhex(n.get(name).asText()))

  /** Span.Event (inverse of [[spanEvent]]): 1=time 2=name
    * 3=attributes 4=droppedAttributesCount */
  private def encodeSpanEvent(ev: JNode): Array[Byte] = {
    val w = new Writer
    u64Field(w, 1, ev, "timeUnixNano")
    if (ev.hasNonNull("name")) w.str(2, ev.get("name").asText())
    if (ev.has("attributes")) ev.get("attributes").forEach(kv => w.lenDelim(3, encodeKeyValue(kv)))
    if (ev.hasNonNull("droppedAttributesCount")) w.vint(4, ev.get("droppedAttributesCount").asLong())
    w.bytes
  }

  /** Span.Link (inverse of [[spanLink]]): 1=traceId 2=spanId
    * 3=traceState 4=attributes 5=droppedAttributesCount */
  private def encodeSpanLink(ln: JNode): Array[Byte] = {
    val w = new Writer
    hexField(w, 1, ln, "traceId")
    hexField(w, 2, ln, "spanId")
    if (ln.hasNonNull("traceState")) w.str(3, ln.get("traceState").asText())
    if (ln.has("attributes")) ln.get("attributes").forEach(kv => w.lenDelim(4, encodeKeyValue(kv)))
    if (ln.hasNonNull("droppedAttributesCount")) w.vint(5, ln.get("droppedAttributesCount").asLong())
    w.bytes
  }

  /** Span per trace.pb.go field numbers (inverse of [[span]]) */
  private def encodeSpan(sp: JNode): Array[Byte] = {
    val w = new Writer
    hexField(w, 1, sp, "traceId")
    hexField(w, 2, sp, "spanId")
    if (sp.hasNonNull("traceState")) w.str(3, sp.get("traceState").asText())
    hexField(w, 4, sp, "parentSpanId")
    if (sp.hasNonNull("name")) w.str(5, sp.get("name").asText())
    if (sp.hasNonNull("kind")) w.vint(6, sp.get("kind").asLong())
    u64Field(w, 7, sp, "startTimeUnixNano")
    u64Field(w, 8, sp, "endTimeUnixNano")
    if (sp.has("attributes")) sp.get("attributes").forEach(kv => w.lenDelim(9, encodeKeyValue(kv)))
    if (sp.hasNonNull("droppedAttributesCount")) w.vint(10, sp.get("droppedAttributesCount").asLong())
    if (sp.has("events")) sp.get("events").forEach(ev => w.lenDelim(11, encodeSpanEvent(ev)))
    if (sp.hasNonNull("droppedEventsCount")) w.vint(12, sp.get("droppedEventsCount").asLong())
    if (sp.has("links")) sp.get("links").forEach(ln => w.lenDelim(13, encodeSpanLink(ln)))
    if (sp.hasNonNull("droppedLinksCount")) w.vint(14, sp.get("droppedLinksCount").asLong())
    if (sp.hasNonNull("status")) {
      val st = sp.get("status")
      val sw = new Writer
      if (st.hasNonNull("message")) sw.str(2, st.get("message").asText())
      if (st.hasNonNull("code")) sw.vint(3, st.get("code").asLong())
      w.lenDelim(15, sw.bytes)
    }
    w.bytes
  }

  /** JSON numbers may arrive as text ("NaN"/"Infinity" per OTLP/JSON,
    * but also arbitrary garbage) — an unparseable value DROPS the
    * field (same policy as [[ulong]]/[[slong]]/non-hex ids); turning
    * garbage into a fabricated 0.0 measurement would silently corrupt
    * downstream sums/histograms */
  private def jsonDoubleOpt(n: JNode): Option[Double] =
    if (n.isTextual)
      try Some(java.lang.Double.parseDouble(n.asText()))
      catch { case _: NumberFormatException => None }
    else if (n.isNumber) Some(n.asDouble())
    else None

  /** Exemplar (inverse of [[exemplar]]): 7=filteredAttributes 2=time
    * 3=asDouble 4=spanId 5=traceId 6=asInt(sfixed64) */
  private def encodeExemplar(ex: JNode): Array[Byte] = {
    val w = new Writer
    u64Field(w, 2, ex, "timeUnixNano")
    dblField(w, 3, ex, "asDouble")
    hexField(w, 4, ex, "spanId")
    hexField(w, 5, ex, "traceId")
    if (ex.hasNonNull("asInt"))
      slong(ex.get("asInt").asText()).foreach(w.fixed64(6, _))
    if (ex.has("filteredAttributes"))
      ex.get("filteredAttributes").forEach(kv => w.lenDelim(7, encodeKeyValue(kv)))
    w.bytes
  }

  private def encodeNumberPoint(dp: JNode): Array[Byte] = {
    val pw = new Writer
    u64Field(pw, 2, dp, "startTimeUnixNano")
    u64Field(pw, 3, dp, "timeUnixNano")
    dblField(pw, 4, dp, "asDouble")
    if (dp.has("exemplars")) dp.get("exemplars").forEach(ex => pw.lenDelim(5, encodeExemplar(ex)))
    if (dp.hasNonNull("asInt")) slong(dp.get("asInt").asText()).foreach(pw.fixed64(6, _))
    if (dp.has("attributes")) dp.get("attributes").forEach(kv => pw.lenDelim(7, encodeKeyValue(kv)))
    pw.bytes
  }

  /** HistogramDataPoint (inverse of [[histogramPoint]]) */
  private def encodeHistogramPoint(dp: JNode): Array[Byte] = {
    val pw = new Writer
    u64Field(pw, 2, dp, "startTimeUnixNano")
    u64Field(pw, 3, dp, "timeUnixNano")
    u64Field(pw, 4, dp, "count")
    dblField(pw, 5, dp, "sum")
    if (dp.has("bucketCounts"))
      packed(pw, 6)(inner => dp.get("bucketCounts").forEach(c =>
        ulong(c.asText()).foreach(inner.rawFixed64)))
    if (dp.has("explicitBounds"))
      packed(pw, 7)(inner => dp.get("explicitBounds").forEach(bd =>
        jsonDoubleOpt(bd).foreach(d =>
          inner.rawFixed64(java.lang.Double.doubleToLongBits(d)))))
    if (dp.has("exemplars")) dp.get("exemplars").forEach(ex => pw.lenDelim(8, encodeExemplar(ex)))
    if (dp.has("attributes")) dp.get("attributes").forEach(kv => pw.lenDelim(9, encodeKeyValue(kv)))
    pw.bytes
  }

  /** ExponentialHistogramDataPoint (inverse of [[expHistogramPoint]]) */
  private def encodeExpHistogramPoint(dp: JNode): Array[Byte] = {
    val pw = new Writer
    def buckets(field: Int, bk: JNode): Unit = {
      val bw = new Writer
      if (bk.hasNonNull("offset")) bw.zint32(1, bk.get("offset").asInt())
      if (bk.has("bucketCounts"))
        packed(bw, 2)(inner => bk.get("bucketCounts").forEach(c =>
          ulong(c.asText()).foreach(inner.rawVarint)))
      pw.lenDelim(field, bw.bytes)
    }
    if (dp.has("attributes")) dp.get("attributes").forEach(kv => pw.lenDelim(1, encodeKeyValue(kv)))
    u64Field(pw, 2, dp, "startTimeUnixNano")
    u64Field(pw, 3, dp, "timeUnixNano")
    u64Field(pw, 4, dp, "count")
    dblField(pw, 5, dp, "sum")
    if (dp.hasNonNull("scale")) pw.zint32(6, dp.get("scale").asInt())
    u64Field(pw, 7, dp, "zeroCount")
    if (dp.hasNonNull("positive")) buckets(8, dp.get("positive"))
    if (dp.hasNonNull("negative")) buckets(9, dp.get("negative"))
    dblField(pw, 14, dp, "zeroThreshold")
    pw.bytes
  }

  /** SummaryDataPoint (inverse of [[summaryPoint]]) */
  private def encodeSummaryPoint(dp: JNode): Array[Byte] = {
    val pw = new Writer
    u64Field(pw, 2, dp, "startTimeUnixNano")
    u64Field(pw, 3, dp, "timeUnixNano")
    u64Field(pw, 4, dp, "count")
    dblField(pw, 5, dp, "sum")
    if (dp.has("quantileValues")) dp.get("quantileValues").forEach { qv =>
      val qw = new Writer
      dblField(qw, 1, qv, "quantile")
      dblField(qw, 2, qv, "value")
      pw.lenDelim(6, qw.bytes)
    }
    if (dp.has("attributes")) dp.get("attributes").forEach(kv => pw.lenDelim(7, encodeKeyValue(kv)))
    pw.bytes
  }

  /** Metric — ALL five data types (gauge/sum/histogram/
    * exponentialHistogram/summary) per metrics.pb.go field numbers,
    * so decode ∘ encode = id holds for full documents, not just the
    * gauge/sum subset [[OtlpJsonSource.writeMetricsJson]] marshals. */
  private def encodeMetric(m: JNode): Array[Byte] = {
    val w = new Writer
    if (m.hasNonNull("name")) w.str(1, m.get("name").asText())
    if (m.hasNonNull("description")) w.str(2, m.get("description").asText())
    if (m.hasNonNull("unit")) w.str(3, m.get("unit").asText())
    def dataSection(field: Int, sec: JNode, point: JNode => Array[Byte],
                    withTemporality: Boolean, withMonotonic: Boolean): Unit = {
      val sw = new Writer
      val dps = sec.get("dataPoints")
      if (dps != null) dps.forEach(dp => sw.lenDelim(1, point(dp)))
      if (withTemporality && sec.hasNonNull("aggregationTemporality"))
        sw.vint(2, sec.get("aggregationTemporality").asLong())
      if (withMonotonic && sec.hasNonNull("isMonotonic"))
        sw.vint(3, if (sec.get("isMonotonic").asBoolean()) 1 else 0)
      w.lenDelim(field, sw.bytes)
    }
    if (m.hasNonNull("gauge"))
      dataSection(5, m.get("gauge"), encodeNumberPoint, withTemporality = false, withMonotonic = false)
    if (m.hasNonNull("sum"))
      dataSection(7, m.get("sum"), encodeNumberPoint, withTemporality = true, withMonotonic = true)
    if (m.hasNonNull("histogram"))
      dataSection(9, m.get("histogram"), encodeHistogramPoint, withTemporality = true, withMonotonic = false)
    if (m.hasNonNull("exponentialHistogram"))
      dataSection(10, m.get("exponentialHistogram"), encodeExpHistogramPoint, withTemporality = true, withMonotonic = false)
    if (m.hasNonNull("summary"))
      dataSection(11, m.get("summary"), encodeSummaryPoint, withTemporality = false, withMonotonic = false)
    w.bytes
  }

  /** shared inverse of [[resourceEnvelope]]: one request encoder for
    * all three signals */
  private def encodeRequest(json: UTF8String, rlName: String, slName: String,
                            recName: String, rec: JNode => Array[Byte]): Array[Byte] = {
    val root = mapper.readTree(json.toString)
    val w = new Writer
    val rls = root.get(rlName)
    if (rls != null) rls.forEach { rl =>
      val rlw = new Writer
      val res = rl.get("resource")
      if (res != null) {
        val rw = new Writer
        val attrs = res.get("attributes")
        if (attrs != null) attrs.forEach(kv => rw.lenDelim(1, encodeKeyValue(kv)))
        rlw.lenDelim(1, rw.bytes)
      }
      val sls = rl.get(slName)
      if (sls != null) sls.forEach { sl =>
        val slw = new Writer
        val sc = sl.get("scope")
        if (sc != null && sc.hasNonNull("name")) {
          val sw = new Writer
          sw.str(1, sc.get("name").asText())
          slw.lenDelim(1, sw.bytes)
        }
        val recs = sl.get(recName)
        if (recs != null) recs.forEach(r => slw.lenDelim(2, rec(r)))
        rlw.lenDelim(2, slw.bytes)
      }
      w.lenDelim(1, rlw.bytes)
    }
    w.bytes
  }

  /** OTLP/JSON logs request document → ExportLogsServiceRequest bytes.
    * Ids must be hex strings (the form our JSON path uses). */
  def logsJsonToRequest(json: UTF8String): Array[Byte] =
    encodeRequest(json, "resourceLogs", "scopeLogs", "logRecords", encodeLogRecord)

  /** OTLP/JSON traces request → ExportTraceServiceRequest bytes */
  def spansJsonToRequest(json: UTF8String): Array[Byte] =
    encodeRequest(json, "resourceSpans", "scopeSpans", "spans", encodeSpan)

  /** OTLP/JSON metrics request → ExportMetricsServiceRequest bytes */
  def metricsJsonToRequest(json: UTF8String): Array[Byte] =
    encodeRequest(json, "resourceMetrics", "scopeMetrics", "metrics", encodeMetric)

  /** ExportLogsServiceRequest: 1=resourceLogs */
  def logsRequestToJson(bytes: Array[Byte]): UTF8String = {
    val rls = topLevel(bytes, (b, off, len) =>
      resourceEnvelope(b, off, len, "scopeLogs", "logRecords", logRecord))
    UTF8String.fromString(s"""{"resourceLogs":[${rls.mkString(",")}]}""")
  }

  // ---- logs: wire → flat rows -----------------------------------
  // One walk of the request emits the rows OtlpJsonSource.parseLogs
  // makes of its OTLP/JSON form: same fields read, same last-wins
  // rule for repeated scalars, same malformed cases rejected, and
  // every AnyValue rendered to the canonical string of
  // OtlpJsonSource.anyValueToString — Double.toString for doubles,
  // "NaN"/"Infinity", base64 bytes, and the to_json text of arrays and
  // kvlists, whose own array/kvlist elements render as null (the JSON
  // schema's depth-1 limit). A duplicated map key keeps its first
  // value (pdata Map.Get); uint32 fields and fixed64 times keep their
  // bits in int and long.

  private val attrMapType = MapType(StringType, StringType, valueContainsNull = true)

  /** one flat log row: the columns, order and nullability of
    * [[OtlpJsonSource.parseLogs]] */
  val logRowType: StructType = StructType(Seq(
    StructField("time_unix_nano", LongType),
    StructField("observed_time_unix_nano", LongType),
    StructField("severity_number", IntegerType),
    StructField("severity_text", StringType),
    StructField("body", StringType),
    StructField("attributes", attrMapType),
    StructField("flags", IntegerType, nullable = false),
    StructField("dropped_attributes_count", IntegerType, nullable = false),
    StructField("trace_id", StringType),
    StructField("span_id", StringType),
    StructField("resource_attributes", attrMapType),
    StructField("scope_name", StringType)))

  val logRowsType: ArrayType = ArrayType(logRowType, containsNull = false)

  private val ResourceAttrs = 10
  private val ScopeName = 11

  private val True = UTF8String.fromString("true")
  private val False = UTF8String.fromString("false")
  private val EmptyMap: MapData = new ArrayBasedMapData(
    new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))

  /** UTF-8 text: ASCII is used as is; anything else decodes like
    * [[utf8]], so malformed sequences become U+FFFD as they do on the
    * JSON path */
  private def text(b: Array[Byte], off: Int, len: Int): UTF8String = {
    var i = off
    while (i < off + len && b(i) >= 0) i += 1
    if (i == off + len) UTF8String.fromBytes(b, off, len)
    else UTF8String.fromString(utf8(b, off, len))
  }

  /** keys in first-occurrence order; a repeated key keeps its first
    * value */
  private final class FirstWinsMap {
    private val m = new java.util.LinkedHashMap[UTF8String, UTF8String]()
    // not putIfAbsent: that replaces a key whose first value is null
    def put(k: UTF8String, v: UTF8String): Unit = if (!m.containsKey(k)) m.put(k, v)
    def toMapData: MapData =
      if (m.isEmpty) EmptyMap
      else new ArrayBasedMapData(new GenericArrayData(m.keySet.toArray.asInstanceOf[Array[Any]]),
        new GenericArrayData(m.values.toArray.asInstanceOf[Array[Any]]))
    /** to_json of the map */
    def toJson: UTF8String = json { g =>
      g.writeStartObject()
      m.forEach { (k, v) =>
        g.writeFieldName(k.toString)
        if (v == null) g.writeNull() else g.writeString(v.toString)
      }
      g.writeEndObject()
    }
  }

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** JSON text written by Jackson's default generator, as to_json does */
  private def json(write: com.fasterxml.jackson.core.JsonGenerator => Unit): UTF8String = {
    val w = new java.io.StringWriter()
    val g = jsonFactory.createGenerator(w)
    write(g)
    g.close()
    UTF8String.fromString(w.toString)
  }

  /** canonical string of an AnyValue; `element` marks an array or
    * kvlist member, where an array/kvlist value renders as null (but
    * is still walked, so malformed nesting fails as on the JSON path) */
  private def anyValueText(b: Array[Byte], off: Int, len: Int, depth: Int,
                           element: Boolean): UTF8String = {
    if (depth > MaxValueDepth) malformed(s"AnyValue nesting deeper than $MaxValueDepth")
    val r = new Reader(b, off, off + len)
    var out: UTF8String = null
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2) => val (o, l) = r.lenDelim(); out = text(b, o, l)
        case (2, 0) => out = if (r.varint() != 0L) True else False
        case (3, 0) => out = UTF8String.fromString(java.lang.Long.toString(r.varint()))
        case (4, 1) =>
          out = UTF8String.fromString(java.lang.Double.toString(
            java.lang.Double.longBitsToDouble(r.fixed64())))
        case (5, 2) => val (o, l) = r.lenDelim()
          val inner = new Reader(b, o, o + l)
          val vals = new scala.collection.mutable.ArrayBuffer[UTF8String]()
          while (inner.hasNext) {
            val t2 = inner.varint().toInt
            if ((t2 >>> 3) == 1 && (t2 & 7) == 2) {
              val (vo, vl) = inner.lenDelim()
              vals += anyValueText(b, vo, vl, depth + 1, element = true)
            } else inner.skip(t2 & 7)
          }
          out = if (element) null else json { g =>
            g.writeStartArray()
            vals.foreach(v => if (v == null) g.writeNull() else g.writeString(v.toString))
            g.writeEndArray()
          }
        case (6, 2) => val (o, l) = r.lenDelim()
          val inner = new Reader(b, o, o + l)
          val kvs = new FirstWinsMap
          while (inner.hasNext) {
            val t2 = inner.varint().toInt
            if ((t2 >>> 3) == 1 && (t2 & 7) == 2) {
              val (vo, vl) = inner.lenDelim()
              keyValueInto(b, vo, vl, depth + 1, element = true, kvs)
            } else inner.skip(t2 & 7)
          }
          out = if (element) null else kvs.toJson
        case (7, 2) => val (o, l) = r.lenDelim()
          out = UTF8String.fromBytes(java.util.Base64.getEncoder.encode(
            java.util.Arrays.copyOfRange(b, o, o + l)))
        case (_, wt) => r.skip(wt)
      }
    }
    out
  }

  /** KeyValue: 1=key 2=value, added to `acc` */
  private def keyValueInto(b: Array[Byte], off: Int, len: Int, depth: Int,
                           element: Boolean, acc: FirstWinsMap): Unit = {
    val r = new Reader(b, off, off + len)
    var key = UTF8String.EMPTY_UTF8
    var value: UTF8String = null
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2) => val (o, l) = r.lenDelim(); key = text(b, o, l)
        case (2, 2) => val (o, l) = r.lenDelim()
          value = anyValueText(b, o, l, depth + 1, element)
        case (_, wt) => r.skip(wt)
      }
    }
    acc.put(key, value)
  }

  private def attributeInto(b: Array[Byte], r: Reader, acc: FirstWinsMap): Unit = {
    val (o, l) = r.lenDelim()
    keyValueInto(b, o, l, 0, element = false, acc)
  }

  /** LogRecord (field numbers at [[logRecord]]) → a row in
    * [[logRowType]] order whose resource and scope columns the
    * enclosing envelopes fill in */
  private def logRow(b: Array[Byte], off: Int, len: Int): GenericInternalRow = {
    val row = new GenericInternalRow(logRowType.length)
    val attrs = new FirstWinsMap
    row.setInt(6, 0)
    row.setInt(7, 0)
    val r = new Reader(b, off, off + len)
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 1)  => row.setLong(0, r.fixed64())
        case (11, 1) => row.setLong(1, r.fixed64())
        // a value out of int range is dropped, keeping any earlier one,
        // as from_json's partial results do
        case (2, 0)  => val v = r.varint(); if (v == v.toInt) row.setInt(2, v.toInt)
        case (3, 2)  => val (o, l) = r.lenDelim(); row.update(3, text(b, o, l))
        case (5, 2)  => val (o, l) = r.lenDelim()
          row.update(4, anyValueText(b, o, l, 0, element = false))
        case (6, 2)  => attributeInto(b, r, attrs)
        case (7, 0)  => row.setInt(7, r.varint().toInt)
        case (8, 5)  => row.setInt(6, r.fixed32())
        case (9, 2)  => val (o, l) = r.lenDelim(); row.update(8, UTF8String.fromBytes(hexBytes(b, o, l)))
        case (10, 2) => val (o, l) = r.lenDelim(); row.update(9, UTF8String.fromBytes(hexBytes(b, o, l)))
        case (_, wt) => r.skip(wt)
      }
    }
    row.update(5, attrs.toMapData)
    row
  }

  /** ScopeLogs: 1=scope 2=logRecords */
  private def scopeLogRows(b: Array[Byte], off: Int, len: Int,
                           out: scala.collection.mutable.ArrayBuffer[GenericInternalRow]): Unit = {
    val first = out.length
    var name = UTF8String.EMPTY_UTF8
    val r = new Reader(b, off, off + len)
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); name = scopeName(b, o, l)
        case (2, 2)  => val (o, l) = r.lenDelim(); out += logRow(b, o, l)
        case (_, wt) => r.skip(wt)
      }
    }
    var i = first
    while (i < out.length) { out(i).update(ScopeName, name); i += 1 }
  }

  /** InstrumentationScope name (1=name; last wins) */
  private def scopeName(b: Array[Byte], off: Int, len: Int): UTF8String = {
    val r = new Reader(b, off, off + len)
    var name = UTF8String.EMPTY_UTF8
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); name = text(b, o, l)
        case (_, wt) => r.skip(wt)
      }
    }
    name
  }

  /** Resource attributes (1=attributes) */
  private def resourceAttrs(b: Array[Byte], off: Int, len: Int): MapData = {
    val r = new Reader(b, off, off + len)
    val attrs = new FirstWinsMap
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => attributeInto(b, r, attrs)
        case (_, wt) => r.skip(wt)
      }
    }
    attrs.toMapData
  }

  /** ResourceLogs: 1=resource 2=scopeLogs */
  private def resourceLogRows(b: Array[Byte], off: Int, len: Int,
                              out: scala.collection.mutable.ArrayBuffer[GenericInternalRow]): Unit = {
    val first = out.length
    var res = EmptyMap
    val r = new Reader(b, off, off + len)
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); res = resourceAttrs(b, o, l)
        case (2, 2)  => val (o, l) = r.lenDelim(); scopeLogRows(b, o, l, out)
        case (_, wt) => r.skip(wt)
      }
    }
    var i = first
    while (i < out.length) { out(i).update(ResourceAttrs, res); i += 1 }
  }

  /** ExportLogsServiceRequest (1=resourceLogs) → one flat row per
    * LogRecord ([[logRowType]]) */
  def logsRequestToRows(bytes: Array[Byte]): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[GenericInternalRow]()
    val r = new Reader(bytes, 0, bytes.length)
    while (r.hasNext) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (1, 2)  => val (o, l) = r.lenDelim(); resourceLogRows(bytes, o, l, out)
        case (_, wt) => r.skip(wt)
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** nullable twin of [[logsRequestToRows]] for the DLQ path */
  def logsRequestToRowsOrNull(bytes: Array[Byte]): ArrayData =
    try logsRequestToRows(bytes)
    catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => null }
}

/** binary OTLP ExportLogsServiceRequest → its OTLP/JSON document (the
  * pb receivers decode to rows directly with [[OtlpLogsPbToRows]]) */
case class OtlpLogsPbToJson(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "otlp_logs_pb_to_json"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.logsRequestToJson(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sources.OtlpProtobuf.logsRequestToJson($c)")

  override protected def withNewChildInternal(c: Expression): OtlpLogsPbToJson = copy(child = c)
}

/** binary OTLP ExportLogsServiceRequest → array of flat log rows
  * ([[OtlpProtobuf.logRowType]]); consumed with `inline` */
case class OtlpLogsPbToRows(child: Expression) extends UnaryExpression {
  override def dataType: DataType = OtlpProtobuf.logRowsType
  override def prettyName: String = "otlp_logs_pb_to_rows"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.logsRequestToRows(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sources.OtlpProtobuf.logsRequestToRows($c)")

  override protected def withNewChildInternal(c: Expression): OtlpLogsPbToRows = copy(child = c)
}

/** [[OtlpLogsPbToRows]] with NULL-on-malformed semantics (DLQ path) */
case class OtlpLogsPbToRowsSafe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = OtlpProtobuf.logRowsType
  override def nullable: Boolean = true
  override def prettyName: String = "otlp_logs_pb_to_rows_safe"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.logsRequestToRowsOrNull(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val eval = child.genCode(ctx)
    val code =
      code"""${eval.code}
         |boolean ${ev.isNull} = ${eval.isNull};
         |ArrayData ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.sources.OtlpProtobuf.logsRequestToRowsOrNull(${eval.value});
         |  ${ev.isNull} = ${ev.value} == null;
         |}""".stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(c: Expression): OtlpLogsPbToRowsSafe = copy(child = c)
}

/** [[OtlpSpansPbToJson]] with NULL-on-malformed semantics (DLQ path) */
case class OtlpSpansPbToJsonSafe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "otlp_spans_pb_to_json_safe"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.spansRequestToJsonOrNull(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val eval = child.genCode(ctx)
    val code =
      code"""${eval.code}
         |boolean ${ev.isNull} = ${eval.isNull};
         |UTF8String ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.sources.OtlpProtobuf.spansRequestToJsonOrNull(${eval.value});
         |  ${ev.isNull} = ${ev.value} == null;
         |}""".stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(c: Expression): OtlpSpansPbToJsonSafe = copy(child = c)
}

/** [[OtlpMetricsPbToJson]] with NULL-on-malformed semantics (DLQ path) */
case class OtlpMetricsPbToJsonSafe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "otlp_metrics_pb_to_json_safe"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.metricsRequestToJsonOrNull(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val eval = child.genCode(ctx)
    val code =
      code"""${eval.code}
         |boolean ${ev.isNull} = ${eval.isNull};
         |UTF8String ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.sources.OtlpProtobuf.metricsRequestToJsonOrNull(${eval.value});
         |  ${ev.isNull} = ${ev.value} == null;
         |}""".stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(c: Expression): OtlpMetricsPbToJsonSafe = copy(child = c)
}

/** binary OTLP ExportTraceServiceRequest → OTLP/JSON string */
case class OtlpSpansPbToJson(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "otlp_spans_pb_to_json"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.spansRequestToJson(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sources.OtlpProtobuf.spansRequestToJson($c)")

  override protected def withNewChildInternal(c: Expression): OtlpSpansPbToJson = copy(child = c)
}

/** binary OTLP ExportMetricsServiceRequest → OTLP/JSON string */
case class OtlpMetricsPbToJson(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "otlp_metrics_pb_to_json"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.metricsRequestToJson(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sources.OtlpProtobuf.metricsRequestToJson($c)")

  override protected def withNewChildInternal(c: Expression): OtlpMetricsPbToJson = copy(child = c)
}

/** OTLP/JSON logs document → binary ExportLogsServiceRequest (the
  * otlpexporter's wire encoding; decode ∘ encode = id) */
case class OtlpLogsJsonToPb(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "otlp_logs_json_to_pb"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.logsJsonToRequest(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sources.OtlpProtobuf.logsJsonToRequest($c)")

  override protected def withNewChildInternal(c: Expression): OtlpLogsJsonToPb = copy(child = c)
}

/** OTLP/JSON traces document → binary ExportTraceServiceRequest */
case class OtlpSpansJsonToPb(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "otlp_spans_json_to_pb"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.spansJsonToRequest(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sources.OtlpProtobuf.spansJsonToRequest($c)")

  override protected def withNewChildInternal(c: Expression): OtlpSpansJsonToPb = copy(child = c)
}

/** OTLP/JSON metrics document → binary ExportMetricsServiceRequest */
case class OtlpMetricsJsonToPb(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "otlp_metrics_json_to_pb"

  override def nullSafeEval(input: Any): Any =
    OtlpProtobuf.metricsJsonToRequest(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sources.OtlpProtobuf.metricsJsonToRequest($c)")

  override protected def withNewChildInternal(c: Expression): OtlpMetricsJsonToPb = copy(child = c)
}
