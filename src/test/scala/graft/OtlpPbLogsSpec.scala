package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{OtlpJsonSource, OtlpProtobuf}

/** The retired pb log receiver: wire bytes → OTLP/JSON text →
  * from_json flattening. Kept only as the parity reference for the
  * native decoder. */
object LegacyPbLogs {
  def parse(requests: DataFrame): DataFrame =
    OtlpJsonSource.parseLogs(requests.select(
      OtlpProtobuf.otlp_logs_pb_to_json(col("pb")).as("json")))

  /** the retired DLQ verdict: the JSON conversion rejected the bytes */
  def deadLetters(pb: Array[Byte]): Boolean = OtlpProtobuf.logsRequestToJsonOrNull(pb) == null
}

/** protobuf wire builder for hand-made OTLP requests */
object PbWire {
  def varint(x: Long): Array[Byte] = {
    var v = x; val out = scala.collection.mutable.ArrayBuffer[Byte]()
    while ((v & ~0x7fL) != 0) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
    out += v.toByte; out.toArray
  }
  def tag(field: Int, wire: Int): Array[Byte] = varint(((field << 3) | wire).toLong)
  def lenDelim(field: Int, payload: Array[Byte]): Array[Byte] =
    tag(field, 2) ++ varint(payload.length.toLong) ++ payload
  def str(field: Int, s: String): Array[Byte] = lenDelim(field, s.getBytes("UTF-8"))
  def fixed64(field: Int, x: Long): Array[Byte] =
    tag(field, 1) ++ (0 until 8).map(i => ((x >>> (8 * i)) & 0xff).toByte)
  def fixed32(field: Int, x: Int): Array[Byte] =
    tag(field, 5) ++ (0 until 4).map(i => ((x >>> (8 * i)) & 0xff).toByte)
  def vint(field: Int, x: Long): Array[Byte] = tag(field, 0) ++ varint(x)
  def double(field: Int, d: Double): Array[Byte] =
    fixed64(field, java.lang.Double.doubleToRawLongBits(d))
  def kv(key: String, value: Array[Byte]): Array[Byte] = str(1, key) ++ lenDelim(2, value)
  def array(values: Array[Byte]*): Array[Byte] = lenDelim(5, values.flatMap(lenDelim(1, _)).toArray)
  def kvlist(kvs: (String, Array[Byte])*): Array[Byte] =
    lenDelim(6, kvs.flatMap { case (k, v) => lenDelim(1, kv(k, v)) }.toArray)

  /** ExportLogsServiceRequest with one resource and one scope */
  def request(resourceAttrs: Seq[(String, Array[Byte])], scope: String,
              records: Array[Byte]*): Array[Byte] =
    lenDelim(1,
      lenDelim(1, resourceAttrs.flatMap { case (k, v) => lenDelim(1, kv(k, v)) }.toArray) ++
        lenDelim(2, lenDelim(1, str(1, scope)) ++ records.flatMap(lenDelim(2, _))))
}

/** Native pb log decode vs the retired pb → JSON → from_json chain,
  * the wire-legal inputs that used to kill a micro-batch, and the DLQ
  * on the native path. */
class OtlpPbLogsSpec extends AnyFunSuite {
  import PbWire._

  private lazy val spark: SparkSession = TestSession.spark

  private def pbFrame(reqs: Seq[Array[Byte]]): DataFrame = {
    import spark.implicits._
    // an RDD source keeps the decoder in generated code (a local Seq
    // would fold at optimize time)
    spark.sparkContext.parallelize(reqs, 2).toDF("pb")
  }

  /** every row as to_json text, in order: map order and AnyValue text
    * compare byte for byte */
  private def canon(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col).toSeq: _*))).collect().map(_.getString(0)).toSeq

  private def fromJson(docs: String*): Array[Byte] =
    OtlpProtobuf.logsJsonToRequest(UTF8String.fromString(docs.mkString))

  private def assertParity(name: String, reqs: Seq[Array[Byte]]): Unit = {
    val df = pbFrame(reqs)
    val native = OtlpJsonSource.parseLogsPb(df)
    val legacy = LegacyPbLogs.parse(df)
    assert(native.schema == legacy.schema, name)
    val (n, l) = (canon(native), canon(legacy))
    assert(n.size == l.size, s"$name: ${n.size} rows vs ${l.size}")
    n.zip(l).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"$name row $i:\n native $a\n legacy $b")
    }
  }

  // ---- fixtures the suite builds elsewhere ------------------------

  private def suiteJsonFixtures: Seq[(String, Array[Byte])] = {
    def envelope(svc: String, recs: String) =
      s"""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$svc"}}]},""" +
        s""""scopeLogs":[{"scope":{"name":"graft"},"logRecords":[$recs]}]}]}"""
    val arrowGrpc = (0 until 5).map(i =>
      s"""{"timeUnixNano":"${1700000000000000000L + i}","severityNumber":9,""" +
        s""""severityText":"INFO","body":{"stringValue":"log-$i"}}""").mkString(",")
    val auth = (0 until 5).map(i =>
      s"""{"timeUnixNano":"${1700000000000000000L + i}","severityNumber":9,""" +
        s""""body":{"stringValue":"m$i"},"attributes":[]}""").mkString(",")
    val http = (0 until 9).map(i =>
      s"""{"timeUnixNano":"${1700000000000000000L + i * 1000000L}",""" +
        s""""severityNumber":9,"severityText":"INFO","body":{"stringValue":"msg-$i"},""" +
        s""""attributes":[{"key":"idx","value":{"intValue":"$i"}}],""" +
        s""""traceId":"t${i % 7}","spanId":"s$i"}""").mkString(",")
    val collector = (0 until 12).map { i =>
      val sev = if (i % 3 == 0) """"severityNumber":17,"severityText":"ERROR""""
        else """"severityNumber":9,"severityText":"INFO""""
      s"""{"timeUnixNano":"${1700000000000000000L + i * 1000000L}",$sev,""" +
        s""""body":{"stringValue":"msg-$i"},"attributes":[{"key":"idx","value":{"intValue":"$i"}},""" +
        s"""{"key":"noisy","value":{"stringValue":"${"x" * 50}"}}],"traceId":"t${i % 7}","spanId":"s$i"}"""
    }.mkString(",")
    val hexIds = (0 until 6).map(i =>
      s"""{"timeUnixNano":"${1700000000000000000L + i * 1000000L}","severityNumber":${9 + i % 3},""" +
        s""""severityText":"INFO","body":{"stringValue":"m-api-$i"},""" +
        s""""attributes":[{"key":"idx","value":{"intValue":"$i"}}],""" +
        s""""traceId":"${f"$i%032x"}","spanId":"${f"$i%016x"}"}""").mkString(",")
    val socket =
      """{"timeUnixNano":"1700000000000000001","severityNumber":17,"body":{"stringValue":"boom"},"attributes":[]},""" +
        """{"timeUnixNano":"1700000000000000002","severityNumber":9,"body":{"stringValue":"ok"},"attributes":[]}"""
    val badNumbers = """{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":[{""" +
      """"scope":{"name":"g"},"logRecords":[""" +
      """{"timeUnixNano":"-5","severityNumber":9,"body":{"stringValue":"a"}},""" +
      """{"timeUnixNano":"not-a-number","severityNumber":10,"body":{"stringValue":"b"}},""" +
      """{"timeUnixNano":"1700000000000000000","severityNumber":11,"body":{"stringValue":"c"}}]}]}]}"""
    val badAttrs = """{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":[{""" +
      """"scope":{"name":"g"},"logRecords":[{"timeUnixNano":"7","attributes":[""" +
      """{"key":"bad_i","value":{"intValue":"twelve"}},{"key":"bad_b","value":{"bytesValue":"%%%"}},""" +
      """{"key":"bad_d","value":{"doubleValue":"garbage"}},{"key":"ok","value":{"intValue":"42"}}],""" +
      """"body":{"stringValue":"kept"}}]}]}]}"""
    Seq(
      "arrow-grpc" -> fromJson(envelope("api", arrowGrpc)),
      "auth" -> fromJson(envelope("svc", auth)),
      "http-grpc-tls" -> fromJson(envelope("api", http)),
      "collector" -> fromJson(envelope("api", collector)),
      "hex-ids" -> fromJson(envelope("worker", hexIds)),
      "socket" -> fromJson(envelope("api", socket)),
      "bad-numbers" -> fromJson(badNumbers),
      "bad-attrs" -> fromJson(badAttrs))
  }

  /** the hand-built full AnyValue spread of the pb decode spec */
  private def anyValueSpread: Array[Byte] = {
    def record(i: Int): Array[Byte] =
      fixed64(1, 1700000000000000000L + i) ++ vint(2, if (i == 0) 17 else 9) ++
        str(3, if (i == 0) "ERROR" else "INFO") ++ lenDelim(5, str(1, s"msg-$i")) ++
        lenDelim(6, kv("d", double(4, 1.5 + i))) ++ lenDelim(6, kv("b", vint(2, 1))) ++
        lenDelim(6, kv("i", vint(3, 42L + i))) ++
        lenDelim(6, kv("by", lenDelim(7, Array[Byte](104, 105)))) ++
        lenDelim(6, kv("arr", array(vint(3, 7), str(1, "x")))) ++
        vint(7, 3) ++ fixed32(8, 1) ++
        lenDelim(9, Array.fill[Byte](16)(0x1a)) ++ lenDelim(10, Array.fill[Byte](8)(0x2b))
    request(Seq("service.name" -> str(1, "api")), "graft", record(0), record(1))
  }

  test("native decode keeps the retired formulation's schema: names, types, order, nullability") {
    val df = pbFrame(Seq(anyValueSpread))
    assert(OtlpJsonSource.parseLogsPb(df).schema == LegacyPbLogs.parse(df).schema)
    assert(OtlpJsonSource.parseLogsPbWithDlq(df)._1.schema == LegacyPbLogs.parse(df).schema)
    assert(OtlpJsonSource.parseLogsPb(df).schema == graft.sources.ArrowIpc.logsSchema(spark))
  }

  test("parity with pb → JSON → parseLogs on every pb fixture the suite builds") {
    suiteJsonFixtures.foreach { case (name, pb) => assertParity(name, Seq(pb)) }
    assertParity("any-value-spread", Seq(anyValueSpread))
    // the rows eventsAsLogs makes, over generated events, exported by
    // writeLogsPb (the suite's exporter → receiver round trip)
    val events = spark.range(200).select(
      (lit(1700000000000000000L) + col("id") * 1000L).as("time_unix_nano"),
      (lit(1700000000000000000L) + col("id") * 1000L).as("observed_time_unix_nano"),
      when(col("id") % 7 === 0, 17).otherwise(9).as("severity_number"),
      when(col("id") % 7 === 0, "ERROR").otherwise("INFO").as("severity_text"),
      concat(lit("event-"), (col("id") % 3).cast("string")).as("body"),
      map(lit("value"), (col("id") * 0.5).cast("string"), lit("props"), lit("{\"k\":1}")).as("attributes"),
      lit(0).as("flags"), lit(0).as("dropped_attributes_count"),
      md5((col("id") % 11).cast("string")).as("trace_id"),
      substring(md5(col("id").cast("string")), 1, 16).as("span_id"),
      map(lit("service.name"), concat(lit("svc-"), (col("id") % 5).cast("string"))).as("resource_attributes"),
      lit("graft").as("scope_name"))
    val eventPbs = OtlpJsonSource.writeLogsPb(events).collect().map(_.getAs[Array[Byte]]("pb")).toSeq
    assert(eventPbs.nonEmpty)
    assertParity("events-as-logs", eventPbs)
    assertParity("all-fixtures-one-frame", suiteJsonFixtures.map(_._2) ++ eventPbs)
  }

  test("parity on every AnyValue branch, nesting past depth 1, and envelope shapes") {
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      1e-7, 1e21, 0.1, -123.456, Double.MinPositiveValue, Double.MaxValue)
    val branches: Seq[(String, Array[Byte])] = Seq(
      "s" -> str(1, "plain"), "s-esc" -> str(1, "q\"b\\s\n\t\r\u0001\u001f\u007f"),
      "s-uni" -> str(1, "ünïcødé ✓ 😀 \u2028"), "s-empty" -> str(1, ""),
      "s-bad-utf8" -> lenDelim(1, Array[Byte](0x61, 0xff.toByte, 0xc3.toByte, 0x28, 0xed.toByte, 0xa0.toByte, 0x80.toByte)),
      "t" -> vint(2, 1), "f" -> vint(2, 0), "t2" -> vint(2, 2),
      "i-neg" -> vint(3, -42), "i-min" -> vint(3, Long.MinValue), "i-max" -> vint(3, Long.MaxValue),
      "by" -> lenDelim(7, Array[Byte](0, 1, 2, -1, -128)), "by-empty" -> lenDelim(7, Array.empty[Byte]),
      "empty" -> Array.empty[Byte],
      "last-wins" -> (str(1, "first") ++ vint(3, 9)),
      "arr" -> array(str(1, "a"), vint(2, 1), vint(3, -1), double(4, Double.NaN),
        lenDelim(7, Array[Byte](1)), Array.empty[Byte], str(1, "\"q\"\n")),
      "arr-empty" -> array(),
      "arr-nested" -> array(str(1, "x"), array(str(1, "deep")), kvlist("k" -> str(1, "v"))),
      "kvl" -> kvlist("a" -> str(1, "1"), "b" -> double(4, 1e21), "c" -> Array.empty[Byte],
        "d\"e" -> vint(2, 0), "" -> str(1, "no key")),
      "kvl-empty" -> kvlist(),
      "kvl-nested" -> kvlist("arr" -> array(str(1, "deep")), "map" -> kvlist("x" -> str(1, "y"))),
      "deep-100" -> (0 until 98).foldLeft(str(1, "bottom"))((v, _) => array(v))
    ) ++ doubles.zipWithIndex.map { case (d, i) => s"d$i" -> double(4, d) }
    // each branch as body, record attribute and resource attribute
    val records = branches.map { case (k, v) =>
      fixed64(1, 1L) ++ lenDelim(5, v) ++ lenDelim(6, kv(k, v)) ++ lenDelim(6, kv("kind", str(1, k)))
    }
    assertParity("branches", records.map(r => request(Seq("svc" -> str(1, "a")), "s", r)))
    assertParity("resource-branches", branches.map { case (k, v) =>
      request(Seq(k -> v), "s", fixed64(1, 2L)) })

    // absent body, resource, scope; several resources and scopes;
    // resource and scope after their records; repeated resource/scope
    val rec = fixed64(1, 5L) ++ vint(2, 9)
    val bare = lenDelim(1, lenDelim(2, lenDelim(2, rec)))
    val noScope = lenDelim(1, lenDelim(1, lenDelim(1, kv("r", str(1, "1")))) ++ lenDelim(2, lenDelim(2, rec)))
    val scopeNoName = lenDelim(1, lenDelim(2, lenDelim(1, str(2, "v1.0")) ++ lenDelim(2, rec)))
    val late = lenDelim(1,
      lenDelim(2, lenDelim(2, rec) ++ lenDelim(1, str(1, "late-scope")) ++ lenDelim(2, rec)) ++
        lenDelim(1, lenDelim(1, kv("late", str(1, "res")))))
    val repeated = lenDelim(1,
      lenDelim(1, lenDelim(1, kv("first", str(1, "r")))) ++
        lenDelim(2, lenDelim(1, str(1, "s1")) ++ lenDelim(1, str(1, "s2")) ++ lenDelim(2, rec)) ++
        lenDelim(1, lenDelim(1, kv("second", str(1, "r")))))
    val many = (0 until 3).map(i => lenDelim(1,
      lenDelim(1, lenDelim(1, kv("service.name", str(1, s"svc$i")))) ++
        (0 until i + 1).flatMap(j => lenDelim(2, lenDelim(1, str(1, s"scope$j")) ++
          (0 until j + 1).flatMap(k => lenDelim(2, fixed64(1, 100L * i + 10L * j + k))).toArray)).toArray))
      .reduce(_ ++ _)
    val emptyEnvelopes = lenDelim(1, Array.empty[Byte]) ++ lenDelim(1, lenDelim(2, Array.empty[Byte])) ++
      lenDelim(1, lenDelim(1, Array.empty[Byte]))
    assertParity("envelopes", Seq(bare, noScope, scopeNoName, late, repeated, many, emptyEnvelopes,
      Array.empty[Byte]))
  }

  test("parity on generated requests: random fields, unknown and repeated fields, wrong wire types") {
    val rnd = new scala.util.Random(20261017L)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    def someBytes(n: Int): Array[Byte] = { val a = new Array[Byte](n); rnd.nextBytes(a); a }
    def text(): Array[Byte] = pick(
      "", "a", "msg \"quoted\" \\ back", "tab\tnl\ncr\r", "\u0000\u001f", "ünïcødé ✓", "😀",
      rnd.alphanumeric.take(rnd.nextInt(12)).mkString).getBytes("UTF-8")
    def long(): Long = pick(0L, -1L, Long.MinValue, Long.MaxValue, 42L, rnd.nextLong())
    def dbl(): Double = pick(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0,
      1e-7, 1e21, rnd.nextGaussian() * 1e6, java.lang.Double.longBitsToDouble(rnd.nextLong()))
    def key(): String = pick("k", "a", "b", "dup", "service.name", "é")
    def unknown(): Array[Byte] = pick(vint(99, long()), fixed64(98, long()), fixed32(97, 1),
      lenDelim(96, someBytes(3)), lenDelim(4, someBytes(2)))
    def anyValue(depth: Int): Array[Byte] = rnd.nextInt(if (depth > 3) 7 else 10) match {
      case 0 => lenDelim(1, text())
      case 1 => vint(2, pick(0L, 1L, 2L))
      case 2 => vint(3, long())
      case 3 => double(4, dbl())
      case 4 => lenDelim(7, someBytes(rnd.nextInt(6)))
      case 5 => Array.empty[Byte]
      case 6 => unknown() ++ lenDelim(1, text())
      case 7 => array((0 until rnd.nextInt(4)).map(_ => anyValue(depth + 1)): _*)
      case 8 => kvlist((0 until rnd.nextInt(4)).map(_ => key() -> anyValue(depth + 1)): _*)
      case _ => anyValue(depth) ++ anyValue(depth)
    }
    def keyValue(): Array[Byte] = rnd.nextInt(8) match {
      case 0 => lenDelim(2, anyValue(0))
      case 1 => str(1, key())
      case 2 => kv(key(), anyValue(0)) ++ unknown()
      case _ => kv(key(), anyValue(0))
    }
    def record(): Array[Byte] = {
      val fields = Seq(
        () => fixed64(1, long()), () => fixed64(11, long()),
        () => vint(2, pick(9L, 17L, 0L, -1L, 1L << 40, 4294967295L, Int.MaxValue.toLong)),
        () => lenDelim(3, text()), () => lenDelim(5, anyValue(0)), () => lenDelim(6, keyValue()),
        () => vint(7, pick(0L, 3L, 4294967295L, 1L << 40, -1L)), () => fixed32(8, rnd.nextInt()),
        () => lenDelim(9, someBytes(pick(16, 0, 3))), () => lenDelim(10, someBytes(pick(8, 0, 5))),
        () => unknown(),
        () => lenDelim(2, someBytes(2)), () => vint(5, 1L), () => lenDelim(1, someBytes(8)))
      (0 until rnd.nextInt(12)).map(_ => fields(rnd.nextInt(fields.length))()).foldLeft(Array.empty[Byte])(_ ++ _)
    }
    def scopeLogs(): Array[Byte] = rnd.shuffle(
      Seq.fill(rnd.nextInt(2))(lenDelim(1, str(1, new String(text(), "UTF-8")) ++ str(2, "1.0"))) ++
        Seq.fill(rnd.nextInt(5))(lenDelim(2, record())) ++ Seq.fill(rnd.nextInt(2))(unknown()))
      .foldLeft(Array.empty[Byte])(_ ++ _)
    def resourceLogs(): Array[Byte] = rnd.shuffle(
      Seq.fill(rnd.nextInt(3))(lenDelim(1,
        (0 until rnd.nextInt(4)).map(_ => lenDelim(1, keyValue())).foldLeft(Array.empty[Byte])(_ ++ _) ++
          vint(2, 1))) ++
        Seq.fill(rnd.nextInt(4))(lenDelim(2, scopeLogs())) ++ Seq.fill(rnd.nextInt(2))(unknown()))
      .foldLeft(Array.empty[Byte])(_ ++ _)
    val reqs = (0 until 300).map(_ =>
      (Seq.fill(rnd.nextInt(4))(lenDelim(1, resourceLogs())) ++ Seq.fill(rnd.nextInt(2))(unknown()))
        .foldLeft(Array.empty[Byte])(_ ++ _))
    assert(reqs.forall(r => !LegacyPbLogs.deadLetters(r)), "generated requests are well-formed")
    assertParity("generated", reqs)
  }

  test("DLQ routing on malformed bytes equals the retired formulation") {
    val rnd = new scala.util.Random(7L)
    val good = suiteJsonFixtures.map(_._2) :+ anyValueSpread
    val truncated = good.flatMap(g => Seq.fill(8)(g.take(rnd.nextInt(g.length))))
    val flipped = good.flatMap(g => Seq.fill(8) {
      val c = g.clone(); c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte; c
    })
    val garbage = Seq.fill(300) { val a = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(a); a }
    var nested: Array[Byte] = str(1, "x")
    (0 until 5000).foreach(_ => nested = lenDelim(5, lenDelim(1, nested)))
    val crafted = Seq(
      Array[Byte](0x0a, 0x7f, 0x01),                                        // length past the end
      lenDelim(1, lenDelim(2, lenDelim(2, lenDelim(6, kv("a", nested))))),   // nesting bomb
      lenDelim(1, lenDelim(2, lenDelim(2, tag(1, 1) ++ Array[Byte](1, 2)))), // truncated fixed64
      lenDelim(1, lenDelim(2, lenDelim(2, tag(8, 5) ++ Array[Byte](1)))),    // truncated fixed32
      lenDelim(1, lenDelim(2, lenDelim(2, tag(12, 3)))),                     // group wire type
      lenDelim(1, lenDelim(2, lenDelim(2, tag(5, 2) ++ varint(-1L)))),       // negative length
      Array.fill[Byte](11)(0x80.toByte) ++ Array[Byte](0))                   // 11-byte varint
    val all = good ++ truncated ++ flipped ++ garbage ++ crafted
    all.foreach { b =>
      assert(LegacyPbLogs.deadLetters(b) == (OtlpProtobuf.logsRequestToRowsOrNull(b) == null),
        b.map("%02x".format(_)).mkString)
    }
    val legacyDead = all.filter(LegacyPbLogs.deadLetters)
    assert(legacyDead.size > 100 && legacyDead.size < all.size)
    val (goodDf, dlqDf) = OtlpJsonSource.parseLogsPbWithDlq(pbFrame(all))
    val dlqRaw = dlqDf.collect().map(_.getAs[Array[Byte]]("raw").toSeq).toSeq
    assert(dlqRaw.sortBy(_.mkString(",")) == legacyDead.map(_.toSeq).sortBy(_.mkString(",")))
    assert(canon(goodDf) == canon(LegacyPbLogs.parse(pbFrame(all.filterNot(LegacyPbLogs.deadLetters)))))
  }

  // ---- wire-legal inputs that used to kill a micro-batch -----------

  private def killers: Seq[Array[Byte]] = Seq(
    request(Seq("service.name" -> str(1, "api")), "graft",
      fixed64(1, 1700000000000000000L) ++ vint(2, 9) ++ fixed32(8, 0x80000001) ++
        lenDelim(5, str(1, "high flags"))),
    request(Seq("service.name" -> str(1, "api")), "graft",
      fixed64(1, -1L) ++ fixed64(11, Long.MinValue) ++ vint(2, 9) ++ lenDelim(5, str(1, "max time"))),
    request(Seq("service.name" -> str(1, "api"), "service.name" -> str(1, "shadow")), "graft",
      fixed64(1, 1700000000000000001L) ++ vint(2, 9) ++ lenDelim(5, kvlist("k" -> str(1, "1"), "k" -> str(1, "2"))) ++
        lenDelim(6, kv("dup", str(1, "first"))) ++ lenDelim(6, kv("dup", str(1, "second"))) ++
        lenDelim(6, kv("other", vint(3, 7))) ++ vint(7, 4294967295L)))

  private def assertKillersDecoded(rows: Seq[org.apache.spark.sql.Row]): Unit = {
    val byBody = rows.map(r => r.getAs[String]("body") -> r).toMap
    assert(byBody("high flags").getAs[Int]("flags") == 0x80000001)
    assert(byBody("max time").getAs[Long]("time_unix_nano") == -1L)
    assert(byBody("max time").getAs[Long]("observed_time_unix_nano") == Long.MinValue)
    val dup = byBody("""{"k":"1"}""")
    assert(dup.getAs[Map[String, String]]("attributes") == Map("dup" -> "first", "other" -> "7"))
    assert(dup.getAs[Map[String, String]]("resource_attributes") == Map("service.name" -> "api"))
    assert(dup.getAs[Int]("dropped_attributes_count") == -1)
  }

  test("high flags, u64-max times and duplicated keys stream through streamLogsPb and export") {
    val spool = Files.createTempDirectory("pb_killers_in")
    val out = Files.createTempDirectory("pb_killers_out").toString
    val ck = Files.createTempDirectory("pb_killers_ck").toString
    killers.zipWithIndex.foreach { case (b, i) => Files.write(spool.resolve(s"r$i.pb"), b) }
    Files.write(spool.resolve("ok.pb"), anyValueSpread)
    val q = OtlpJsonSource.streamLogsPb(spark, spool.toString).writeStream
      .format("parquet").option("path", out).option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
    } finally q.stop()
    val rows = spark.read.parquet(out).collect().toSeq
    assert(rows.size == 5)
    assertKillersDecoded(rows)
  }

  test("the JSON receiver takes the same three inputs, with the same rows as the pb path") {
    val df = pbFrame(killers)
    assertKillersDecoded(LegacyPbLogs.parse(df).collect().toSeq)
    assert(canon(OtlpJsonSource.parseLogsPb(df)) == canon(LegacyPbLogs.parse(df)))
    val json = """{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":[{"scope":{"name":"g"},""" +
      """"logRecords":[{"timeUnixNano":"18446744073709551615","flags":2147483649,""" +
      """"attributes":[{"key":"a","value":{"stringValue":"1"}},{"key":"a","value":{"stringValue":"2"}}]},""" +
      """{"timeUnixNano":"99999999999999999999","observedTimeUnixNano":"-1","flags":4294967296}]}]}]}"""
    import spark.implicits._
    val rows = OtlpJsonSource.parseLogs(Seq(json).toDF("json")).collect()
    assert(rows(0).getAs[Long]("time_unix_nano") == -1L)
    assert(rows(0).getAs[Int]("flags") == 0x80000001)
    assert(rows(0).getAs[Map[String, String]]("attributes") == Map("a" -> "1"))
    assert(rows(1).isNullAt(rows(1).fieldIndex("time_unix_nano")))
    assert(rows(1).getAs[Long]("observed_time_unix_nano") == -1L)
    assert(rows(1).getAs[Int]("flags") == 0)
  }

  // ---- DLQ on the native path --------------------------------------

  private val corrupt = Array[Byte](0x0a, 0x7f, 0x01)

  private def goodRequests: Seq[Array[Byte]] =
    (0 until 3).map(i => request(Seq("service.name" -> str(1, s"svc$i")), "graft",
      (0 until 4).map(j => fixed64(1, 1000L * i + j) ++ vint(2, 9) ++ lenDelim(5, str(1, s"m$i-$j"))): _*))

  test("streamLogsPbWithDlq: a corrupt spool file dead-letters raw, every good request exports") {
    val spool = Files.createTempDirectory("pb_dlq_in")
    goodRequests.zipWithIndex.foreach { case (b, i) => Files.write(spool.resolve(s"good$i.pb"), b) }
    Files.write(spool.resolve("bad.pb"), corrupt)
    val (good, dlq) = OtlpJsonSource.streamLogsPbWithDlq(spark, spool.toString, maxFilesPerTrigger = Some(2))
    val gq = good.writeStream.format("memory").queryName("native_dlq_good").start()
    val dq = dlq.writeStream.format("memory").queryName("native_dlq_dead").start()
    try {
      gq.processAllAvailable(); dq.processAllAvailable()
      assert(gq.isActive && dq.isActive)
    } finally { gq.stop(); dq.stop() }
    val bodies = spark.table("native_dlq_good").select("body").collect().map(_.getString(0)).sorted.toSeq
    assert(bodies == (for (i <- 0 until 3; j <- 0 until 4) yield s"m$i-$j").sorted)
    val raw = spark.table("native_dlq_dead").select("raw").collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq
    assert(raw == Seq(corrupt.toSeq))
  }

  test("socketLogsPbRouted: a corrupt request dead-letters raw, every good request exports") {
    val server = new java.net.ServerSocket(0)
    val sent = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val lines = goodRequests.take(2) ++ Seq(corrupt) ++ goodRequests.drop(2)
      lines.foreach(b => out.println(java.util.Base64.getEncoder.encodeToString(b)))
      out.flush()
      sent.countDown()
      Thread.sleep(30000)
      sock.close()
    })
    writer.setDaemon(true)
    writer.start()
    val ck = Files.createTempDirectory("pb_socket_dlq_ck").toString
    val goodRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val dlqRows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Byte]]()
    val q = OtlpJsonSource.socketLogsPbRouted(spark, "localhost", server.getLocalPort, ck,
      goodSink = (df, _) => df.select("body").collect().foreach(r => goodRows.add(r.getString(0))),
      dlqSink = (df, _) => df.select("raw").collect().foreach(r => dlqRows.add(r.getAs[Array[Byte]](0).toSeq)))
    try {
      assert(sent.await(20, java.util.concurrent.TimeUnit.SECONDS))
      val deadline = System.currentTimeMillis() + 30000
      while ((goodRows.size < 12 || dlqRows.isEmpty) && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(200)
      }
      assert(q.isActive)
    } finally {
      q.stop()
      server.close()
    }
    assert(goodRows.toArray.map(_.toString).sorted.toSeq ==
      (for (i <- 0 until 3; j <- 0 until 4) yield s"m$i-$j").sorted)
    assert(dlqRows.toArray.toSeq == Seq(corrupt.toSeq))
  }
}
