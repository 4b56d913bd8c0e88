package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{MetricsOps, Processors}
import graft.sources.OtlpJsonSource

/** End-to-end "collector config" run: OTLP-JSON in → processors →
  * export, plus a metrics pipeline over parsed datapoints — the
  * whole system wired together the way a collector deployment is.
  */
class CollectorIntegrationSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def mkLogRequest(svc: String, n: Int, errEvery: Int): String = {
    val recs = (0 until n).map { i =>
      val sev = if (i % errEvery == 0) """"severityNumber":17,"severityText":"ERROR""""
        else """"severityNumber":9,"severityText":"INFO""""
      s"""{"timeUnixNano":"${1700000000000000000L + i * 1000000L}",$sev,
         |"body":{"stringValue":"msg-$i"},
         |"attributes":[{"key":"idx","value":{"intValue":"$i"}},
         |  {"key":"noisy","value":{"stringValue":"${"x" * 50}"}}],
         |"traceId":"t${i % 7}","spanId":"s$i"}""".stripMargin.replaceAll("\n", "")
    }.mkString(",")
    s"""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$svc"}}]},
       |"scopeLogs":[{"scope":{"name":"graft"},"logRecords":[$recs]}]}]}"""
      .stripMargin.replaceAll("\n", "")
  }

  test("logs pipeline: parse → filter → attribute hygiene → batch → export roundtrip") {
    import spark.implicits._
    val requests = Seq(mkLogRequest("api", 40, 5), mkLogRequest("worker", 20, 4)).toDF("json")
    val logs = OtlpJsonSource.parseLogs(requests)
    assert(logs.count() == 60)

    // filter processor: errors only; attribute hygiene: drop the noisy
    // attr, truncate the rest, keep service name
    val processed = Processors.filter(logs, col("severity_number") >= 17)
      .withColumn("attributes", Processors.mapDelete(col("attributes"), Seq("noisy")))
      .withColumn("attributes", Processors.mapTruncateValues(col("attributes"), 16))
      .withColumn("attributes",
        Processors.mapPut(col("attributes"), "pipeline", lit("errors")))
    val exported = OtlpJsonSource.writeLogsJson(processed)
    val back = OtlpJsonSource.parseLogs(exported.select(col("json")))
    assert(back.count() == processed.count())
    val attrs = back.head().getAs[Map[String, String]]("attributes")
    assert(!attrs.contains("noisy") && attrs("pipeline") == "errors")
    // batching on the export path
    val batched = Processors.assignBatches(processed, col("time_unix_nano"), 16)
    assert(batched.groupBy("batch_id").count().agg(max("count")).head().getLong(0) <= 16)
  }

  test("metrics pipeline: parsed sum datapoints → delta→cumulative → gauge last") {
    import spark.implicits._
    val points = (0 until 30).map { i =>
      s"""{"resourceMetrics":[{"resource":{"attributes":[]},
         |"scopeMetrics":[{"scope":{"name":"g"},"metrics":[
         |{"name":"req.count","sum":{"aggregationTemporality":1,"isMonotonic":true,
         |"dataPoints":[{"timeUnixNano":"${i * 60000000000L}","asDouble":${i % 5}.0,"attributes":[]}]}}]}]}]}"""
        .stripMargin.replaceAll("\n", "")
    }
    val parsed = OtlpJsonSource.parseMetricPoints(points.toDF("json"))
    assert(parsed.count() == 30)
    assert(parsed.head().getAs[String]("aggregation_temporality") == "delta")
    val cum = MetricsOps.deltaToCumulative(
      parsed.withColumn("bucket", expr("time_unix_nano DIV 600000000000"))
        .groupBy(col("metric_name"), col("bucket"))
        .agg(sum(col("value")).as("delta_value")),
      Seq("metric_name"), "bucket", "delta_value")
    val last = cum.orderBy(col("bucket").desc).head()
    assert(last.getAs[Double]("cum_value") == (0 until 30).map(_ % 5).sum.toDouble)
  }

  test("declarative JSON config builds and runs a service") {
    val out = java.nio.file.Files.createTempDirectory("cfg_out").toString + "/errors"
    val config =
      s"""{"pipelines": {"logs/errors": {
         |  "receiver": {"type": "table", "dir": "/root/testdata/sf0.001", "table": "events"},
         |  "processors": [
         |    {"type": "filter", "where": "event_type = 'error'"},
         |    {"type": "upsert", "name": "sev", "expr": "upper(event_type)"},
         |    {"type": "drop", "columns": ["props", "ts", "ts_ns"]},
         |    {"type": "select", "exprs": ["event_id", "user_id", "sev", "value"]}],
         |  "exporters": [{"type": "parquet", "path": "$out"}]
         |}}}""".stripMargin
    graft.pipeline.ConfigLoader.fromJson(config).run(spark)
    val result = spark.read.parquet(out)
    assert(result.count() > 0)
    assert(result.columns.toSet == Set("event_id", "user_id", "sev", "value"))
    assert(result.select("sev").distinct().head().getString(0) == "ERROR")
  }

  test("config providers: yaml file, env: document, and http URI all build the same service") {
    import graft.pipeline.ConfigLoader
    val out = java.nio.file.Files.createTempDirectory("cfg_prov_out").toString
    // one pipeline, three providers — the confmap resolver story:
    // same document, different retrieval scheme
    def yamlDoc(sub: String) =
      s"""pipelines:
         |  logs/errors:
         |    receiver:
         |      type: table
         |      dir: $${env:GRAFT_SF_DIR:-/root/testdata/sf0.001}
         |      table: events
         |    processors:
         |      - type: filter
         |        where: event_type = 'error'
         |      - type: select
         |        exprs: [event_id, user_id, value]
         |    exporters:
         |      - type: parquet
         |        path: $out/$sub
         |""".stripMargin
    def check(sub: String): Unit = {
      val r = spark.read.parquet(s"$out/$sub")
      assert(r.count() > 0 && r.columns.toSet == Set("event_id", "user_id", "value"))
    }

    // fileprovider, yaml flavor (format by extension + env expansion)
    val yf = java.nio.file.Files.createTempFile("graft_cfg", ".yaml")
    java.nio.file.Files.write(yf, yamlDoc("from_file").getBytes("UTF-8"))
    ConfigLoader.fromUri(s"file:$yf").run(spark)
    check("from_file")

    // envprovider: the variable holds the whole document (sniffed as
    // yaml — no brace prefix)
    ConfigLoader.fromUri("env:GRAFT_CFG",
      env = {
        case "GRAFT_CFG" => Some(yamlDoc("from_env"))
        case _ => None
      }).run(spark)
    check("from_env")

    // httpprovider: served from a loopback endpoint (zero-egress
    // sandbox — the scheme and fetch path are exactly what a remote
    // config server would exercise)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/cfg.yaml", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = yamlDoc("from_http").getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      try ex.getResponseBody.write(body) finally ex.close()
    })
    server.start()
    // and a runaway response body is refused at the byte cap instead
    // of buffering unbounded (the endpoint streams forever via
    // chunked encoding; fromUri must abort, not hang or OOM)
    server.createContext("/huge.yaml", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, 0L) // chunked: no declared length
      val junk = new Array[Byte](1 << 20)
      try { var i = 0; while (i < 8) { ex.getResponseBody.write(junk); i += 1 } }
      catch { case _: java.io.IOException => () } // client hung up at the cap
      finally ex.close()
    })
    try {
      ConfigLoader.fromUri(
        s"http://127.0.0.1:${server.getAddress.getPort}/cfg.yaml").run(spark)
      check("from_http")
      val e = intercept[IllegalStateException] {
        ConfigLoader.fromUri(
          s"http://127.0.0.1:${server.getAddress.getPort}/huge.yaml")
      }
      assert(e.getMessage.contains("exceeds"))
    } finally server.stop(0)

    // a JSON document through the URI path still parses (sniffed)
    val jf = java.nio.file.Files.createTempFile("graft_cfg", ".json")
    java.nio.file.Files.write(jf,
      s"""{"pipelines": {"logs/errors": {
         |  "receiver": {"type": "table", "dir": "/root/testdata/sf0.001", "table": "events"},
         |  "processors": [{"type": "filter", "where": "event_type = 'error'"}],
         |  "exporters": [{"type": "parquet", "path": "$out/from_json"}]}}}"""
        .stripMargin.getBytes("UTF-8"))
    ConfigLoader.fromUri(jf.toString).run(spark)
    assert(spark.read.parquet(s"$out/from_json").count() > 0)

    // unset env: provider fails loudly, like an unresolvable URI
    intercept[IllegalArgumentException] {
      ConfigLoader.fromUri("env:GRAFT_NO_SUCH_CFG", env = _ => None)
    }
  }

  test("config: content_type processor stamps the shared detector for route to split on") {
    val out = java.nio.file.Files.createTempDirectory("cfg_ctype_out").toString
    // plant code/table/prose by doc_id stride, stamp with the config
    // processor (the SAME TextOps.contentType expression the census
    // and the streaming monitor run), and pin the stamp row-for-row
    val config =
      s"""{"pipelines": {"docs/typed": {
         | "receiver": {"type": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
         | "processors": [
         |  {"type": "upsert", "name": "text2", "expr":
         |    "CASE WHEN doc_id % 3 = 0 THEN 'def f(x) { return x * 3; } if (x < y) { z[i] = 3; }' WHEN doc_id % 3 = 1 THEN 'row 12 | 34 | 56 | 78' ELSE text END"},
         |  {"type": "content_type", "text": "text2"},
         |  {"type": "select", "exprs": ["doc_id", "content_type"]}],
         | "exporters": [{"type": "parquet", "path": "$out/typed"}]}}}""".stripMargin
    val svc = graft.pipeline.ConfigLoader.fromJson(config)
    svc.pipelines("docs/typed").run(spark)
    val got = spark.read.parquet(s"$out/typed")
    assert(got.count() > 0)
    val mismatches = got.filter(org.apache.spark.sql.functions.expr(
      """content_type <> CASE WHEN doc_id % 3 = 0 THEN 'code'
        |WHEN doc_id % 3 = 1 THEN 'table' ELSE 'prose' END""".stripMargin))
    assert(mismatches.count() == 0, mismatches.collect().take(3).mkString(", "))
    // custom column name via `as`
    val svc2 = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"docs/typed2": {
         | "receiver": {"type": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
         | "processors": [{"type": "content_type", "text": "text", "as": "ctype"}],
         | "exporters": []}}}""".stripMargin)
    val df2 = svc2.pipelines("docs/typed2").plan(spark)
    assert(df2.columns.contains("ctype"))
  }

  test("config: text_normalize processor folds confusables in place via the shared kernel") {
    // plant the q_text_normalize confusable classes through a config
    // pipeline and pin the stamp against the kernel directly — the
    // stage must fold IN PLACE by default and to `as` when asked
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"docs/norm": {
         | "receiver": {"type": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
         | "processors": [
         |  {"type": "upsert", "name": "text", "expr":
         |    "CASE WHEN doc_id % 2 = 0 THEN text || ' don\\u2019t \\u201Cquote\\u201D \\u2014 dash' ELSE text END"},
         |  {"type": "text_normalize", "text": "text", "as": "norm"},
         |  {"type": "text_normalize", "text": "text"},
         |  {"type": "select", "exprs": ["doc_id", "text", "norm"]}],
         | "exporters": []}}}""".stripMargin)
    val df = svc.pipelines("docs/norm").plan(spark)
    // `as` stamped before the in-place fold, so both columns carry
    // the folded bytes and must agree; planted docs actually changed
    val bad = df.filter(col("text") =!= col("norm"))
    assert(bad.count() == 0, bad.collect().take(3).mkString(", "))
    assert(df.filter(col("text").contains("\u201C")).count() == 0,
      "curly quote survived the in-place fold")
    assert(df.filter(col("text").contains(" don't \"quote\" - dash")).count() > 0,
      "folded suffix missing — the planted docs never reached the stage")
  }

  test("config: url_canon stamp + dedup_exact on the stamp = refetch dedup from config") {
    // two raw spellings per logical URL (case/www/default-port/utm/
    // param-order noise); the stamp must collapse them and the
    // EXISTING dedup_exact stage keyed on the stamp keeps the min id
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"docs/refetch": {
         | "receiver": {"type": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
         | "processors": [
         |  {"type": "upsert", "name": "url_raw", "expr":
         |    "CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.Site-' || (doc_id % 5) || '.Example.COM:80/p?b=2&a=1&utm_source=x' ELSE 'http://site-' || (doc_id % 5) || '.example.com/p?a=1&b=2' END"},
         |  {"type": "url_canon", "url": "url_raw"},
         |  {"type": "dedup_exact", "id": "doc_id", "text": "url_canon"},
         |  {"type": "select", "exprs": ["doc_id", "url_raw", "url_canon"]}],
         | "exporters": []}}}""".stripMargin)
    val df = svc.pipelines("docs/refetch").plan(spark)
    val rows = df.collect()
    // 5 logical URLs → exactly 5 survivors, each the group's min id
    assert(rows.length == 5, s"expected 5 canonical survivors, got ${rows.length}")
    val canon = rows.map(_.getAs[String]("url_canon"))
    assert(canon.distinct.length == 5)
    assert(canon.forall(u => u.matches(
      "http://site-[0-4]\\.example\\.com/p\\?a=1&b=2")), canon.mkString(", "))
    // both spellings collapsed: survivors are doc_ids 0..4 (the min
    // id of each doc_id%5 class at this SF)
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L),
      rows.map(_.getAs[Long]("doc_id")).sorted.mkString(", "))
  }

  test("training-prep capstone: text_fix -> normalize -> pii_scrub -> url refetch dedup -> soft weights -> shard, one yaml == the programmatic composition") {
    import graft.operators.{TextOps, ScaleOps}
    val out = java.nio.file.Files.createTempDirectory("prep_out").toString + "/shards"
    // the arc a training-prep run files, now the FULL decode chain:
    // repair broken decoding (mojibake), fold confusables, mask PII,
    // collapse refetches by canonical URL, weight remaining
    // exact-dup content 1/n instead of dropping, then the
    // deterministic global shuffle
    val yaml =
      s"""pipelines:
         |  corpus/prep:
         |    receiver:
         |      type: table
         |      dir: "/root/testdata/sf0.001"
         |      table: documents
         |    processors:
         |      - type: upsert
         |        name: text
         |        expr: "text || CASE WHEN doc_id % 5 = 0 THEN '\\u200B' ELSE '' END || CASE WHEN doc_id % 3 = 0 THEN ' caf\\u00C3\\u00A9' ELSE '' END || CASE WHEN doc_id % 4 = 0 THEN ' mail u' || doc_id || '@ex.com' ELSE '' END"
         |      - type: upsert
         |        name: url_raw
         |        expr: "CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.S-' || (doc_id % 25) || '.EX.COM:80/p?utm_x=1&a=2' ELSE 'http://s-' || (doc_id % 25) || '.ex.com/p?a=2' END"
         |      - type: text_fix
         |        text: text
         |      - type: text_normalize
         |        text: text
         |      - type: pii_scrub
         |        text: text
         |      - type: url_canon
         |        url: url_raw
         |      - type: dedup_exact
         |        id: doc_id
         |        text: url_canon
         |      - type: dedup_soft
         |        text: text
         |      - type: shuffle_shard
         |        id: doc_id
         |        shards: 4
         |        seed: prep1
         |        portable: true
         |      - type: select
         |        exprs: ["doc_id", "shard", "pos", "weight", "text"]
         |    exporters:
         |      - type: jsonl
         |        path: "$out"
         |""".stripMargin
    graft.pipeline.ConfigLoader.fromYaml(yaml).run(spark)
    val got = spark.read.json(out)
      .select(col("doc_id").cast("long"), col("shard").cast("long"),
        col("pos").cast("long"), col("weight").cast("double"),
        md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4))).toSet
    assert(got.nonEmpty)
    // refetch dedup by canonical URL: 25 logical URLs → 25 survivors
    assert(got.size == 25, s"expected 25 refetch survivors, got ${got.size}")
    // the programmatic composition of the SAME operators
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 5 === 0, "\u200B").otherwise(""),
        when(col("doc_id") % 3 === 0, " caf\u00C3\u00A9").otherwise(""),
        when(col("doc_id") % 4 === 0,
          concat(lit(" mail u"), col("doc_id"), lit("@ex.com")))
          .otherwise("")))
      .withColumn("url_raw",
        when(col("doc_id") % 2 === 0,
          concat(lit("HTTP://WWW.S-"), col("doc_id") % 25,
            lit(".EX.COM:80/p?utm_x=1&a=2")))
          .otherwise(concat(lit("http://s-"), col("doc_id") % 25,
            lit(".ex.com/p?a=2"))))
      .withColumn("text", TextOps.fixMojibake(col("text")))
      .withColumn("text", TextOps.normalizeConfusables(col("text")))
      .withColumn("text", TextOps.piiScrub(col("text")))
      .withColumn("url_canon", TextOps.urlCanon(col("url_raw")))
    val keep = base.withColumn("__cth", md5(col("url_canon")))
    val mins = keep.groupBy(col("__cth")).agg(min(col("doc_id")).as("__keep"))
    val kept = keep.join(mins, "__cth")
      .filter(col("doc_id") === col("__keep")).drop("__cth", "__keep")
    val soft = {
      val withH = kept.withColumn("__h", md5(col("text")))
      val counts = withH.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
      withH.join(counts, "__h")
        .withColumn("weight", lit(1.0) / col("__n").cast("double"))
        .drop("__h", "__n")
    }
    val prog = ScaleOps.shuffleShard(soft, "doc_id", 4, "prep1", portable = true)
      .select(col("doc_id").cast("long"), col("shard").cast("long"),
        col("pos").cast("long"), col("weight"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4))).toSet
    assert(got == prog, s"config ${got.size} rows vs programmatic ${prog.size}")
    // every decode stage did real work ahead of the weight stamp:
    // zero-widths folded, mojibake repaired, planted emails masked
    val texts = spark.read.json(out).collect().map(_.getAs[String]("text"))
    assert(!texts.exists(_.endsWith("\u200B")), "zero-width survived the fold")
    assert(!texts.exists(_.contains("caf\u00C3\u00A9")),
      "mojibake survived text_fix")
    assert(texts.exists(_.contains("caf\u00E9")), "repair output missing")
    assert(!texts.exists(_.contains("@ex.com")), "email survived pii_scrub")
    assert(texts.exists(_.contains("<EMAIL>")), "email mask missing")
  }

  test("config: novelty_report stage files exactly q_novelty's census") {
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"docs/novelty": {
         | "receiver": {"type": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
         | "processors": [{"type": "novelty_report", "id": "doc_id", "text": "text"}],
         | "exporters": []}}}""".stripMargin)
    val got = svc.pipelines("docs/novelty").plan(spark)
    val q = SparkEntry.queries("q_novelty")(spark, "/root/testdata/sf0.001")
    assert(got.count() > 0)
    assert(got.exceptAll(q).isEmpty && q.exceptAll(got).isEmpty,
      "config report diverged from q_novelty")
  }

  test("config: dedup_soft stamps 1/n weights without dropping rows") {
    // collapse docs into 7 content classes; every row survives with
    // weight exactly 1/class-size (the q_dedup_soft reweighting as a
    // stage), and per-class weights sum to 1 — the invariant the
    // reweighting exists for
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"docs/soft": {
         | "receiver": {"type": "table", "dir": "/root/testdata/sf0.001", "table": "documents"},
         | "processors": [
         |  {"type": "upsert", "name": "text", "expr": "'class-' || (doc_id % 7)"},
         |  {"type": "dedup_soft", "text": "text"},
         |  {"type": "select", "exprs": ["doc_id", "text", "weight"]}],
         | "exporters": []}}}""".stripMargin)
    val df = svc.pipelines("docs/soft").plan(spark)
    val n = df.count()
    assert(n == 500L, s"soft dedup dropped rows: $n")
    val byClass = df.groupBy(col("text"))
      .agg(count(lit(1)).as("n"), sum(col("weight")).as("wsum"),
        countDistinct(col("weight")).as("nw"))
      .collect()
    assert(byClass.length == 7)
    byClass.foreach { r =>
      assert(r.getAs[Long]("nw") == 1L, s"mixed weights in ${r.getString(0)}")
      assert(math.abs(r.getAs[Double]("wsum") - 1.0) < 1e-9,
        s"class ${r.getString(0)} weights sum to ${r.getAs[Double]("wsum")}")
    }
  }

  test("config: env expansion, forward/union connectors, route processor") {
    val out = java.nio.file.Files.createTempDirectory("cfg2_out").toString
    val config =
      s"""{"pipelines": {
         | "logs/base": {
         |  "receiver": {"type": "table", "dir": "$${env:GRAFT_SF_DIR:-/root/testdata/sf0.001}", "table": "events"},
         |  "processors": [
         |   {"type": "route", "routes": [
         |     {"name": "errors", "when": "event_type = 'error'"},
         |     {"name": "hot", "when": "value >= 150"}], "default": "rest"},
         |   {"type": "select", "exprs": ["event_id", "user_id", "event_type", "value", "route"]}]
         | },
         | "logs/errors": {
         |  "receiver": {"type": "forward", "from": "logs/base"},
         |  "processors": [{"type": "filter", "where": "route = 'errors'"}],
         |  "exporters": [{"type": "parquet", "path": "$out/errors"}]
         | },
         | "logs/hot": {
         |  "receiver": {"type": "forward", "from": "logs/base"},
         |  "processors": [{"type": "filter", "where": "route = 'hot'"}]
         | },
         | "logs/merged": {
         |  "receiver": {"type": "union", "from": ["logs/errors", "logs/hot"]},
         |  "exporters": [{"type": "parquet_queued", "path": "$out/merged", "dlq": "$out/dlq"}]
         | }}}""".stripMargin
    val svc = graft.pipeline.ConfigLoader.fromJson(config)
    svc.pipelines("logs/merged").run(spark)
    val merged = spark.read.parquet(s"$out/merged")
    assert(merged.count() > 0)
    assert(merged.select("route").distinct().collect().map(_.getString(0)).toSet ==
      Set("errors", "hot"))
    // expansion failed → unset var without default must throw
    intercept[IllegalArgumentException] {
      graft.pipeline.ConfigLoader.expandEnv("""{"x": "${env:GRAFT_DOES_NOT_EXIST}"}""")
    }
    // default form expands without the var being set
    assert(graft.pipeline.ConfigLoader.expandEnv("""${env:GRAFT_DOES_NOT_EXIST:-fallback}""")
      == "fallback")
  }

  test("malformed requests route to the dead-letter channel, not the floor") {
    import spark.implicits._
    val requests = Seq(
      mkLogRequest("api", 3, 2),
      """{"this is": "not otlp"}""",
      "garbage{{{").toDF("json")
    val (good, dlq) = OtlpJsonSource.parseLogsWithDlq(requests)
    assert(good.count() == 3)
    assert(dlq.count() == 2)
    assert(dlq.columns.contains("raw"))
  }

  test("streaming collector: file receiver → filter → partitioned parquet sink") {
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("otlp_in").toString
    val outDir = Files.createTempDirectory("otlp_out").toString + "/logs"
    val ckDir = Files.createTempDirectory("otlp_ck").toString
    Files.writeString(java.nio.file.Paths.get(s"$inDir/r1.json"), mkLogRequest("api", 30, 3))
    Files.writeString(java.nio.file.Paths.get(s"$inDir/r2.json"), mkLogRequest("worker", 12, 2))

    val logs = OtlpJsonSource.streamLogs(spark, inDir, maxFilesPerTrigger = Some(1))
    val errors = Processors.filter(logs, col("severity_number") >= 17)
      .withColumn("service", col("resource_attributes").getItem("service.name"))
    val q = errors.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .partitionBy("service")
      .start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.read.parquet(outDir)
    assert(out.count() == 10 + 6)
    assert(out.select("service").distinct().collect().map(_.getString(0)).toSet ==
      Set("api", "worker"))
    // partition pruning works on the service dirs
    val pruned = spark.read.parquet(outDir).filter(col("service") === "api")
    assert(pruned.count() == 10)
  }

  test("AnyValue: every pcommon value type parses, nothing becomes NULL") {
    import spark.implicits._
    val req =
      """{"resourceLogs":[{"resource":{"attributes":[]},
        |"scopeLogs":[{"scope":{"name":"g"},"logRecords":[
        |{"timeUnixNano":"1","flags":1,"droppedAttributesCount":2,
        | "body":{"doubleValue":2.5},
        | "attributes":[
        |  {"key":"s","value":{"stringValue":"txt"}},
        |  {"key":"i","value":{"intValue":"42"}},
        |  {"key":"d","value":{"doubleValue":1.5}},
        |  {"key":"b","value":{"boolValue":true}},
        |  {"key":"by","value":{"bytesValue":"aGk="}},
        |  {"key":"arr","value":{"arrayValue":{"values":[{"intValue":"1"},{"stringValue":"two"}]}}},
        |  {"key":"kv","value":{"kvlistValue":{"values":[{"key":"n","value":{"intValue":"7"}}]}}}]}]}]}]}"""
        .stripMargin.replaceAll("\n", "")
    val row = OtlpJsonSource.parseLogs(Seq(req).toDF("json")).head()
    val attrs = row.getAs[Map[String, String]]("attributes")
    assert(attrs("s") == "txt" && attrs("i") == "42" && attrs("d") == "1.5")
    assert(attrs("b") == "true" && attrs("by") == "aGk=")
    assert(attrs("arr") == """["1","two"]""")
    assert(attrs("kv") == """{"n":"7"}""")
    assert(row.getAs[String]("body") == "2.5")
    assert(row.getAs[Int]("flags") == 1)
    assert(row.getAs[Int]("dropped_attributes_count") == 2)
  }

  private def mkSpanRequest(svc: String, n: Int): String = {
    val spans = (0 until n).map { i =>
      s"""{"traceId":"t${i % 3}","spanId":"s$i","traceState":"vendor=x",
         |"parentSpanId":"p$i","name":"op-$i","kind":${i % 5 + 1},
         |"startTimeUnixNano":"${1000000L + i}","endTimeUnixNano":"${2000000L + i}",
         |"status":{"code":${i % 3},"message":"m$i"},
         |"attributes":[{"key":"idx","value":{"intValue":"$i"}}],
         |"droppedAttributesCount":$i,
         |"links":[{"traceId":"lt$i","spanId":"ls$i","traceState":"w3c=1",
         |  "attributes":[{"key":"rel","value":{"stringValue":"follows"}}]}]}"""
        .stripMargin.replaceAll("\n", "")
    }.mkString(",")
    s"""{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$svc"}}]},
       |"scopeSpans":[{"scope":{"name":"graft"},"spans":[$spans]}]}]}"""
      .stripMargin.replaceAll("\n", "")
  }

  test("traces: parse → marshal → parse round trip preserves span fields") {
    import spark.implicits._
    val spans = OtlpJsonSource.parseSpans(Seq(mkSpanRequest("api", 12)).toDF("json"))
    assert(spans.count() == 12)
    val back = OtlpJsonSource.parseSpans(
      OtlpJsonSource.writeSpansJson(spans).select(col("json")))
    val cols = Seq("trace_id", "span_id", "trace_state", "parent_span_id", "name",
      "kind", "start_time_unix_nano", "end_time_unix_nano", "status_code",
      "status_message", "attributes", "dropped_attributes_count")
    val a = spans.select(cols.map(col): _*).collect().map(_.toString).sorted
    val b = back.select(cols.map(col): _*).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("span links explode to first-class rows") {
    import spark.implicits._
    val links = OtlpJsonSource.parseSpanLinks(Seq(mkSpanRequest("api", 5)).toDF("json"))
    assert(links.count() == 5)
    val r = links.filter(col("span_id") === "s0").head()
    assert(r.getAs[String]("linked_trace_id") == "lt0")
    assert(r.getAs[String]("linked_trace_state") == "w3c=1")
    assert(r.getAs[Map[String, String]]("attributes")("rel") == "follows")
  }

  test("metrics: parse → marshal → parse round trip preserves datapoints") {
    import spark.implicits._
    val reqs = (0 until 10).map { i =>
      val m = if (i % 2 == 0)
        s"""{"name":"cpu","unit":"1","description":"cpu load","gauge":{"dataPoints":[{"timeUnixNano":"${i}000","asDouble":$i.25,"attributes":[{"key":"core","value":{"stringValue":"c$i"}}]}]}}"""
      else
        s"""{"name":"req","unit":"ms","sum":{"aggregationTemporality":2,"isMonotonic":true,"dataPoints":[{"timeUnixNano":"${i}000","asDouble":$i.5,"attributes":[]}]}}"""
      s"""{"resourceMetrics":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"api"}}]},
         |"scopeMetrics":[{"scope":{"name":"graft"},"metrics":[$m]}]}]}"""
        .stripMargin.replaceAll("\n", "")
    }
    val points = OtlpJsonSource.parseMetricPoints(reqs.toDF("json"))
    assert(points.count() == 10)
    val back = OtlpJsonSource.parseMetricPoints(
      OtlpJsonSource.writeMetricsJson(points).select(col("json")))
    val cols = Seq("metric_name", "metric_type", "description", "unit",
      "aggregation_temporality", "is_monotonic", "time_unix_nano", "value", "attributes")
    val a = points.select(cols.map(col): _*).collect().map(_.toString).sorted
    val b = back.select(cols.map(col): _*).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("exemplars parse to trace-correlated rows across point kinds") {
    import spark.implicits._
    val req =
      """{"resourceMetrics":[{"resource":{"attributes":[]},
        |"scopeMetrics":[{"scope":{"name":"g"},"metrics":[
        |{"name":"lat","histogram":{"aggregationTemporality":1,"dataPoints":[
        | {"timeUnixNano":"5","count":"2","bucketCounts":["1","1"],"explicitBounds":[10.0],
        |  "exemplars":[{"timeUnixNano":"3","asDouble":7.5,"spanId":"s1","traceId":"t1",
        |    "filteredAttributes":[{"key":"pod","value":{"stringValue":"p1"}}]}]}]}},
        |{"name":"cpu","gauge":{"dataPoints":[
        | {"timeUnixNano":"9","asDouble":0.4,
        |  "exemplars":[{"timeUnixNano":"8","asInt":"4","spanId":"s2","traceId":"t2"}]}]}}]}]}]}"""
        .stripMargin.replaceAll("\n", "")
    val ex = OtlpJsonSource.parseMetricExemplars(Seq(req).toDF("json"))
    assert(ex.count() == 2)
    val h = ex.filter(col("metric_type") === "histogram").head()
    assert(h.getAs[Double]("value") == 7.5 && h.getAs[String]("span_id") == "s1")
    assert(h.getAs[Map[String, String]]("filtered_attributes")("pod") == "p1")
    val g = ex.filter(col("metric_type") === "gauge").head()
    assert(g.getAs[Double]("value") == 4.0 && g.getAs[String]("trace_id") == "t2")
  }

  test("exponential histogram parses negative buckets and zero threshold") {
    import spark.implicits._
    val req =
      """{"resourceMetrics":[{"resource":{"attributes":[]},
        |"scopeMetrics":[{"scope":{"name":"g"},"metrics":[
        |{"name":"lat","exponentialHistogram":{"aggregationTemporality":1,"dataPoints":[
        |{"timeUnixNano":"1","count":"10","scale":0,"zeroCount":"2","zeroThreshold":0.001,
        | "positive":{"offset":1,"bucketCounts":["3","4"]},
        | "negative":{"offset":0,"bucketCounts":["1"]}}]}}]}]}]}"""
        .stripMargin.replaceAll("\n", "")
    val rows = OtlpJsonSource.parseExpHistogramBuckets(Seq(req).toDF("json"))
    assert(rows.count() == 3)
    val neg = rows.filter(col("sign") === -1).collect()
    assert(neg.length == 1 && neg(0).getAs[Long]("bucket_count") == 1L)
    assert(neg(0).getAs[Double]("lower_bound") == 1.0) // 2^0 magnitude
    assert(rows.filter(col("sign") === 1).count() == 2)
    assert(rows.head().getAs[Double]("zero_threshold") == 0.001)
  }

  test("per-metadata-key batching shards like the reference batcher") {
    val e = Tables(spark, "/root/testdata/sf0.001", "events")
    Processors.requireMetadataCardinality(e, Seq("event_type"), limit = 100)
    val b = Processors.assignBatchesByKey(e, Seq("event_type"), col("event_id"), 64)
    val stats = b.groupBy(col("event_type"), col("batch_id")).count()
    // no batch exceeds the size; every key group has its own batch 0
    assert(stats.agg(max("count")).head().getLong(0) <= 64)
    val keyCount = e.select("event_type").distinct().count()
    assert(stats.filter(col("batch_id") === 0).count() == keyCount)
    // the limit refuses high-cardinality metadata like the reference
    intercept[IllegalArgumentException] {
      Processors.requireMetadataCardinality(e, Seq("event_id"), limit = 10)
    }
  }

  test("multi-key batching keeps NULL-bearing key tuples as distinct groups (no concat collapse)") {
    val spark2 = spark
    import spark2.implicits._
    // ('a', NULL), (NULL, 'a') and ('a', 'a') are THREE batch groups;
    // a null-skipping string concat would merge the first two (and an
    // embedded separator could forge more) — each group must batch
    // independently from id 0
    val df = Seq(
      (1L, Some("a"), None: Option[String]),
      (2L, Some("a"), None: Option[String]),
      (3L, None: Option[String], Some("a")),
      (4L, Some("a"), Some("a"))
    ).toDF("id", "k1", "k2")
    val b = Processors.assignBatchesByKey(df, Seq("k1", "k2"), col("id"), 1)
      .select(col("id"), col("batch_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batchSize 1 → batch_id = within-group rank - 1: the two
    // ('a', NULL) rows get 0 and 1; the OTHER tuples each start at 0
    assert(b == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 0L), b.toString)
  }

  // minimal protobuf encoder (test-side twin of the decode kernel):
  // varint + length-delimited are the whole wire format
  private object Pb {
    def varint(x: Long): Array[Byte] = {
      var v = x; val out = scala.collection.mutable.ArrayBuffer[Byte]()
      while ((v & ~0x7fL) != 0) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
      out += v.toByte; out.toArray
    }
    def tag(field: Int, wire: Int): Array[Byte] = varint((field << 3) | wire)
    def lenDelim(field: Int, payload: Array[Byte]): Array[Byte] =
      tag(field, 2) ++ varint(payload.length) ++ payload
    def str(field: Int, s: String): Array[Byte] = lenDelim(field, s.getBytes("UTF-8"))
    def fixed64(field: Int, x: Long): Array[Byte] =
      tag(field, 1) ++ (0 until 8).map(i => ((x >>> (8 * i)) & 0xff).toByte)
    def fixed32(field: Int, x: Int): Array[Byte] =
      tag(field, 5) ++ (0 until 4).map(i => ((x >>> (8 * i)) & 0xff).toByte)
    def vint(field: Int, x: Long): Array[Byte] = tag(field, 0) ++ varint(x)
    def double(field: Int, d: Double): Array[Byte] =
      fixed64(field, java.lang.Double.doubleToLongBits(d))
    def kv(key: String, value: Array[Byte]): Array[Byte] =
      str(1, key) ++ lenDelim(2, value)
  }

  test("protobuf logs decode matches the JSON path field for field") {
    import spark.implicits._
    import Pb._
    // two records with the full AnyValue spread + fidelity fields
    def record(i: Int): Array[Byte] =
      fixed64(1, 1700000000000000000L + i) ++         // timeUnixNano
        vint(2, if (i == 0) 17 else 9) ++             // severityNumber
        str(3, if (i == 0) "ERROR" else "INFO") ++    // severityText
        lenDelim(5, str(1, s"msg-$i")) ++             // body stringValue
        lenDelim(6, kv("d", double(4, 1.5 + i))) ++   // double attr
        lenDelim(6, kv("b", vint(2, 1))) ++           // bool attr
        lenDelim(6, kv("i", vint(3, 42 + i))) ++      // int attr
        lenDelim(6, kv("by", lenDelim(7, Array[Byte](104, 105)))) ++ // bytes "hi"
        lenDelim(6, kv("arr", lenDelim(5,             // ["7","x"]
          lenDelim(1, vint(3, 7)) ++ lenDelim(1, str(1, "x"))))) ++
        vint(7, 3) ++                                 // droppedAttributesCount
        fixed32(8, 1) ++                              // flags
        lenDelim(9, Array.fill[Byte](16)(0x1a)) ++    // traceId
        lenDelim(10, Array.fill[Byte](8)(0x2b))       // spanId
    val resourceMsg =                                  // Resource{attributes:[kv]}
      lenDelim(1, kv("service.name", str(1, "api")))
    val scopeLogsMsg =                                 // ScopeLogs{scope, logRecords}
      lenDelim(1, str(1, "graft")) ++
        lenDelim(2, record(0)) ++ lenDelim(2, record(1))
    val request = lenDelim(1,                          // ResourceLogs
      lenDelim(1, resourceMsg) ++ lenDelim(2, scopeLogsMsg))

    val rows = OtlpJsonSource.parseLogsPb(Seq(request).toDF("pb"))
      .orderBy(col("time_unix_nano")).collect()
    assert(rows.length == 2)
    val r = rows(0)
    assert(r.getAs[Long]("time_unix_nano") == 1700000000000000000L)
    assert(r.getAs[Int]("severity_number") == 17)
    assert(r.getAs[String]("severity_text") == "ERROR")
    assert(r.getAs[String]("body") == "msg-0")
    val attrs = r.getAs[Map[String, String]]("attributes")
    assert(attrs("d") == "1.5" && attrs("b") == "true" && attrs("i") == "42")
    assert(attrs("by") == "aGk=")                       // base64("hi")
    assert(attrs("arr") == """["7","x"]""")
    assert(r.getAs[Int]("dropped_attributes_count") == 3)
    assert(r.getAs[Int]("flags") == 1)
    assert(r.getAs[String]("trace_id") == "1a" * 16)
    assert(r.getAs[String]("span_id") == "2b" * 8)
    assert(r.getAs[Map[String, String]]("resource_attributes")("service.name") == "api")
    assert(r.getAs[String]("scope_name") == "graft")
    // and the pb path agrees with writeLogsJson ∘ parseLogs round trip
    val viaJson = OtlpJsonSource.parseLogs(
      OtlpJsonSource.writeLogsJson(
        OtlpJsonSource.parseLogsPb(Seq(request).toDF("pb"))).select(col("json")))
    assert(viaJson.count() == 2)
  }

  test("protobuf logs export: decode ∘ encode round-trips the pipeline") {
    import spark.implicits._
    // events → logs rows → pb bytes → parse back: the full binary
    // exporter→receiver loop (eventsAsLogs ids are md5 hex, so they
    // survive the 16/8-byte wire form as their 32/16-hex prefixes)
    val logs = OtlpJsonSource.eventsAsLogs(spark, "/root/testdata/sf0.001")
      .withColumn("trace_id", substring(col("trace_id"), 1, 32))
      .withColumn("span_id", substring(col("span_id"), 1, 16))
      .limit(200)
    val pb = OtlpJsonSource.writeLogsPb(logs)
    assert(pb.schema.fields.head.dataType.typeName == "binary")
    val back = OtlpJsonSource.parseLogsPb(pb.select(col("pb")))
    assert(back.count() == 200)
    val a = logs.select("time_unix_nano", "severity_number", "severity_text",
        "body", "attributes", "trace_id", "span_id")
      .collect().map(_.toString).sorted
    val b = back.select("time_unix_nano", "severity_number", "severity_text",
        "body", "attributes", "trace_id", "span_id")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("config watcher: reload on change, bad documents rejected while the old service keeps running") {
    import graft.pipeline.ConfigLoader
    val out = java.nio.file.Files.createTempDirectory("cfg_watch_out").toString
    def doc(sub: String) =
      s"""pipelines:
         |  logs/errors:
         |    receiver: {type: table, dir: /root/testdata/sf0.001, table: events}
         |    processors:
         |      - {type: filter, where: "event_type = 'error'"}
         |    exporters:
         |      - {type: parquet, path: $out/$sub}
         |""".stripMargin
    val cfg = java.nio.file.Files.createTempFile("graft_watch", ".yaml")
    // atomic replace: the watcher polls concurrently and must never
    // observe a half-written document (exactly how a real config
    // deployer should update a watched file)
    def put(text: String): Unit = {
      val tmp = java.nio.file.Files.createTempFile("graft_watch_tmp", ".yaml")
      java.nio.file.Files.write(tmp, text.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, cfg,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    put(doc("v1"))
    val services = new java.util.concurrent.ConcurrentLinkedQueue[graft.pipeline.Pipeline.Service]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val w = ConfigLoader.watch(s"file:$cfg", intervalMs = 50,
      onError = errs.add(_))(services.add(_))
    try {
      // startup resolve is synchronous
      assert(w.reloads.get() == 1 && services.size() == 1)
      services.peek().run(spark)
      assert(spark.read.parquet(s"$out/v1").count() > 0)
      def awaitCount(c: java.util.concurrent.atomic.AtomicLong, n: Long): Unit = {
        val deadline = System.currentTimeMillis() + 15000
        while (c.get() < n && System.currentTimeMillis() < deadline) Thread.sleep(25)
        assert(c.get() == n, s"expected $n, got ${c.get()}")
      }
      // change → one reload with the NEW wiring
      put(doc("v2"))
      awaitCount(w.reloads, 2)
      services.toArray(Array.empty[graft.pipeline.Pipeline.Service]).last.run(spark)
      assert(spark.read.parquet(s"$out/v2").count() > 0)
      // a bad document is rejected, not adopted, and not re-attempted
      // until it changes; the reload count stays put
      put("pipelines: [broken")
      awaitCount(w.rejected, 1)
      Thread.sleep(200)
      assert(w.reloads.get() == 2 && w.rejected.get() == 1, "bad doc retried or adopted")
      assert(errs.size() == 1)
      // a fixed document reloads again
      put(doc("v3"))
      awaitCount(w.reloads, 3)
    } finally w.close()
  }

  test("config-built arrow_pool exporter runs a pipeline end to end") {
    import graft.pipeline.{ConfigLoader, Pipeline}
    val inDir = java.nio.file.Files.createTempDirectory("cfg_pool_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("cfg_pool_out").toString
    val logs = OtlpJsonSource.eventsAsLogs(spark, "/root/testdata/sf0.001")
      .withColumn("trace_id", substring(col("trace_id"), 1, 32))
      .withColumn("span_id", substring(col("span_id"), 1, 16))
      .limit(50)
    OtlpJsonSource.writeLogsJson(logs).select(col("json"))
      .coalesce(1).write.mode("overwrite").text(inDir)
    ConfigLoader.fromYaml(
      s"""pipelines:
         |  logs/arrow:
         |    receiver: {type: otlp_json_logs, path: $inDir}
         |    exporters:
         |      - {type: arrow_pool, path: $outDir, streams: 2, dictCap: 32, codec: zstd}
         |""".stripMargin).run(spark)
    val back = Pipeline.ArrowStreamPoolExporter.readLogs(spark, outDir)
    assert(back.count() == 50)
    assert(back.select(col("body")).distinct().count() > 1)
  }

  test("retry backoff is exponential, capped, jittered within bounds, and deterministic") {
    import graft.pipeline.Pipeline.backoffDelayMs
    val r = 0.5
    for (attempt <- 1 to 10) {
      val d = backoffDelayMs(100, attempt, multiplier = 2.0, maxMs = 3000,
        randomization = r, seed = 7L)
      val base = math.min(3000.0, 100.0 * math.pow(2.0, attempt - 1))
      assert(d >= (base * (1 - r)).floor && d <= (base * (1 + r)).ceil,
        s"attempt $attempt: $d outside [${base * (1 - r)}, ${base * (1 + r)}]")
      // deterministic: same (seed, attempt) → same delay
      assert(d == backoffDelayMs(100, attempt, 2.0, 3000, r, 7L))
    }
    // different seeds de-synchronize (the jitter's purpose)
    val spread = (0 until 20).map(s =>
      backoffDelayMs(100, 3, 2.0, 3000, r, s.toLong)).distinct
    assert(spread.size > 10, s"jitter too uniform: $spread")
  }

  test("arrow stream pool: concurrent writers, pb downgrade on encode failure, lossless mixed re-ingest") {
    import graft.pipeline.Pipeline.ArrowStreamPoolExporter
    val logs = OtlpJsonSource.eventsAsLogs(spark, "/root/testdata/sf0.001")
      .withColumn("trace_id", substring(col("trace_id"), 1, 32))
      .withColumn("span_id", substring(col("span_id"), 1, 16))
      .limit(120)
      .cache()
    val batches = (0 until 6).map(i =>
      logs.filter(pmod(col("time_unix_nano"), lit(6)) === i))
    val total = logs.count()
    assert(batches.map(_.count()).sum == total)

    // injected failure: batches 2 and 4 cannot arrow-encode; the
    // writer spools a PARTIAL junk file first to prove cleanup (a
    // leftover would corrupt or double-ingest the arrow spool)
    val dir = java.nio.file.Files.createTempDirectory("arrow_pool").toString
    val failIds = Set(2L, 4L)
    val injected: (org.apache.spark.sql.DataFrame, String, Int, Int, String) => Unit =
      (df, target, mpf, dc, cdc) => {
        val id = target.split("batch_id=").last.toLong
        if (failIds.contains(id)) {
          val p = java.nio.file.Paths.get(target)
          java.nio.file.Files.createDirectories(p)
          java.nio.file.Files.write(p.resolve("partial.arrow"), Array[Byte](1, 2, 3))
          throw new RuntimeException("injected arrow encode failure")
        }
        graft.sources.ArrowIpc.spool(df, target, mpf, dc, cdc)
      }
    val pool = new ArrowStreamPoolExporter(dir, numStreams = 2,
      downgradeAfter = 100, arrowWrite = injected)
    // drive from 3 concurrent senders — the prioritizer hands slots
    // first-available; excess senders block instead of colliding
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 6).grouped(2).zipWithIndex.map { case (ids, _) =>
      new Thread(() => {
        try ids.foreach(i => pool.exportBatch(batches(i), i.toLong))
        catch { case e: Throwable => errs.add(e) }
      })
    }.toSeq
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs)
    assert(pool.arrowBatches.get() == 4 && pool.pbBatches.get() == 2)
    assert(!pool.isDowngraded)
    // the failed batches' partial files are gone; their data is pb
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/arrow/stream-0/batch_id=2/partial.arrow")) &&
      !java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/arrow/stream-1/batch_id=2/partial.arrow")))
    // mixed arrow/pb spool re-ingests to exactly the input rows
    val back = ArrowStreamPoolExporter.readLogs(spark, dir)
    assert(back.count() == total)
    val cols = Seq("time_unix_nano", "severity_number", "body", "trace_id", "span_id")
    assert(back.select(cols.map(col): _*).collect().map(_.toString).sorted
      .sameElements(logs.select(cols.map(col): _*).collect().map(_.toString).sorted))

    // pool-level downgrade: consecutive failures close the ready
    // channel — everything after flows standard-OTLP, still lossless
    val dir2 = java.nio.file.Files.createTempDirectory("arrow_pool_dg").toString
    val alwaysFail: (org.apache.spark.sql.DataFrame, String, Int, Int, String) => Unit =
      (_, _, _, _, _) => throw new RuntimeException("peer lacks arrow support")
    val pool2 = new ArrowStreamPoolExporter(dir2, numStreams = 2,
      downgradeAfter = 2, arrowWrite = alwaysFail)
    (0 until 4).foreach(i => pool2.exportBatch(batches(i), i.toLong))
    assert(pool2.isDowngraded)
    assert(pool2.arrowBatches.get() == 0 && pool2.pbBatches.get() == 4)
    assert(ArrowStreamPoolExporter.readLogs(spark, dir2).count() ==
      batches.take(4).map(_.count()).sum)
    logs.unpersist()
  }

  test("malformed protobuf fails fast, never loops or reads out of bounds") {
    // negative length varint: tag 0x0A then a 10-byte varint decoding
    // to -11 — an unchecked reader would move its cursor backwards and
    // spin forever appending to the output buffer
    val negativeLen = Array[Byte](0x0a,
      0xf5.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0x01)
    val truncated = Array[Byte](0x0a, 0x7f, 0x01, 0x02) // length 127, 2 bytes present
    for (bad <- Seq(negativeLen, truncated)) {
      val e = intercept[IllegalArgumentException] {
        graft.sources.OtlpProtobuf.logsRequestToJson(bad)
      }
      assert(e.getMessage.contains("malformed protobuf"), e.getMessage)
    }
  }

  test("protobuf dead-letter path: corrupt files route to DLQ, good ones parse") {
    import spark.implicits._
    val goodPb = OtlpJsonSource.writeLogsPb(
      OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 4, 2)).toDF("json")))
      .head().getAs[Array[Byte]]("pb")
    val badPb = Array[Byte](0x0a, 0x7f, 0x01) // truncated length-delimited
    val (good, dlq) = OtlpJsonSource.parseLogsPbWithDlq(
      Seq(goodPb, badPb).toDF("pb"))
    assert(good.count() == 4)
    assert(dlq.count() == 1)
    assert(dlq.columns.contains("raw"))
  }

  test("protobuf decode fuzz: arbitrary bytes parse or fail cleanly, never hang") {
    val rnd = new scala.util.Random(1234)
    var parsed = 0
    var rejected = 0
    (0 until 500).foreach { i =>
      val bytes = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(bytes)
      val r = graft.sources.OtlpProtobuf.logsRequestToJsonOrNull(bytes)
      if (r == null) rejected += 1 else parsed += 1
    }
    // deep-nesting bomb: thousands of nested arrayValue headers must
    // reject as malformed (depth cap), not blow the stack
    import Pb._
    var nested: Array[Byte] = str(1, "x") // innermost AnyValue
    (0 until 5000).foreach(_ => nested = lenDelim(5, lenDelim(1, nested)))
    val bomb = lenDelim(1, lenDelim(2, lenDelim(2,
      fixed64(1, 1L) ++ lenDelim(6, kv("a", nested)))))
    assert(graft.sources.OtlpProtobuf.logsRequestToJsonOrNull(bomb) == null)
    assert(parsed + rejected == 500)
    // same guarantees for the spans and metrics decoders: random
    // bytes parse or reject cleanly, never hang or escape the task
    val rnd2 = new scala.util.Random(4321)
    (0 until 300).foreach { _ =>
      val bytes = new Array[Byte](rnd2.nextInt(200))
      rnd2.nextBytes(bytes)
      graft.sources.OtlpProtobuf.spansRequestToJsonOrNull(bytes)
      graft.sources.OtlpProtobuf.metricsRequestToJsonOrNull(bytes)
    }
    // and the nesting bomb must not blow their stacks either
    graft.sources.OtlpProtobuf.spansRequestToJsonOrNull(bomb)
    graft.sources.OtlpProtobuf.metricsRequestToJsonOrNull(bomb)
  }

  test("protobuf spans decode: ids, status, links, typed attributes") {
    import spark.implicits._
    import Pb._
    val spanMsg =
      lenDelim(1, Array.fill[Byte](16)(0x11)) ++        // traceId
        lenDelim(2, Array.fill[Byte](8)(0x22)) ++       // spanId
        str(3, "vendor=x") ++                           // traceState
        lenDelim(4, Array.fill[Byte](8)(0x33)) ++       // parentSpanId
        str(5, "GET /api") ++                           // name
        vint(6, 2) ++                                   // kind SERVER
        fixed64(7, 1000L) ++ fixed64(8, 2500L) ++       // start/end
        lenDelim(9, kv("http.status", vint(3, 200))) ++ // int attr
        vint(10, 1) ++                                  // droppedAttributesCount
        lenDelim(13, lenDelim(1, Array.fill[Byte](16)(0x44)) ++ // link traceId
          lenDelim(2, Array.fill[Byte](8)(0x55)) ++ str(3, "w3c=1")) ++
        lenDelim(15, str(2, "oops") ++ vint(3, 2))      // status{message,code}
    val request = lenDelim(1,                           // ResourceSpans
      lenDelim(1, lenDelim(1, kv("service.name", str(1, "api")))) ++
        lenDelim(2, lenDelim(1, str(1, "graft")) ++ lenDelim(2, spanMsg)))

    val spans = OtlpJsonSource.parseSpansPb(Seq(request).toDF("pb"))
    val s = spans.head()
    assert(s.getAs[String]("trace_id") == "11" * 16)
    assert(s.getAs[String]("span_id") == "22" * 8)
    assert(s.getAs[String]("trace_state") == "vendor=x")
    assert(s.getAs[String]("parent_span_id") == "33" * 8)
    assert(s.getAs[String]("name") == "GET /api")
    assert(s.getAs[Int]("kind") == 2)
    assert(s.getAs[Long]("start_time_unix_nano") == 1000L)
    assert(s.getAs[Int]("status_code") == 2)
    assert(s.getAs[String]("status_message") == "oops")
    assert(s.getAs[Map[String, String]]("attributes")("http.status") == "200")
    assert(s.getAs[Int]("dropped_attributes_count") == 1)
    assert(s.getAs[Int]("n_links") == 1)
    assert(s.getAs[Map[String, String]]("resource_attributes")("service.name") == "api")
    val links = OtlpJsonSource.parseSpanLinks(
      Seq(request).toDF("pb").select(
        graft.sources.OtlpProtobuf.otlp_spans_pb_to_json(col("pb")).as("json")))
    val lk = links.head()
    assert(lk.getAs[String]("linked_trace_id") == "44" * 16)
    assert(lk.getAs[String]("linked_trace_state") == "w3c=1")
  }

  test("protobuf metrics decode: gauge/sum/histogram/exp/summary points") {
    import spark.implicits._
    import Pb._
    def metricMsg(name: String, body: Array[Byte]): Array[Byte] =
      str(1, name) ++ str(3, "ms") ++ body
    val gauge = metricMsg("cpu", lenDelim(5, lenDelim(1,
      fixed64(3, 100L) ++ double(4, 0.75) ++
        lenDelim(7, kv("core", str(1, "c0"))))))
    val sum = metricMsg("req", lenDelim(7, lenDelim(1,
      fixed64(3, 200L) ++ tag(6, 1) ++ (0 until 8).map(i => ((42L >>> (8 * i)) & 0xff).toByte).toArray) ++
      vint(2, 2) ++ vint(3, 1)))
    val hist = metricMsg("lat", lenDelim(9, lenDelim(1,
      fixed64(3, 300L) ++ fixed64(4, 5L) ++ double(5, 12.5) ++
        lenDelim(6, (0 until 8).map(i => ((3L >>> (8 * i)) & 0xff).toByte).toArray ++
          (0 until 8).map(i => ((2L >>> (8 * i)) & 0xff).toByte).toArray) ++
        lenDelim(7, (0 until 8).map(i => ((java.lang.Double.doubleToLongBits(10.0) >>> (8 * i)) & 0xff).toByte).toArray)) ++
      vint(2, 1)))
    val exph = metricMsg("elat", lenDelim(10, lenDelim(1,
      fixed64(3, 400L) ++ fixed64(4, 7L) ++ tag(6, 0) ++ varint(0) ++
        fixed64(7, 1L) ++
        lenDelim(8, tag(1, 0) ++ varint(2) ++ lenDelim(2, varint(4) ++ varint(3))) ++
        lenDelim(9, tag(1, 0) ++ varint(0) ++ lenDelim(2, varint(1)))) ++
      vint(2, 1)))
    val summ = metricMsg("q", lenDelim(11, lenDelim(1,
      fixed64(3, 500L) ++ fixed64(4, 9L) ++ fixed64(5, java.lang.Double.doubleToLongBits(90.0)) ++
        lenDelim(6, fixed64(1, java.lang.Double.doubleToLongBits(0.5)) ++
          fixed64(2, java.lang.Double.doubleToLongBits(42.0))))))
    def req(m: Array[Byte]): Array[Byte] = lenDelim(1,
      lenDelim(1, lenDelim(1, kv("service.name", str(1, "api")))) ++
        lenDelim(2, lenDelim(1, str(1, "graft")) ++ lenDelim(2, m)))

    val pbs = Seq(req(gauge), req(sum), req(hist), req(exph), req(summ)).toDF("pb")
    val json = pbs.select(
      graft.sources.OtlpProtobuf.otlp_metrics_pb_to_json(col("pb")).as("json"))

    val points = OtlpJsonSource.parseMetricPoints(json)
    assert(points.count() == 2) // gauge + sum
    val g = points.filter(col("metric_type") === "gauge").head()
    assert(g.getAs[Double]("value") == 0.75 && g.getAs[String]("unit") == "ms")
    assert(g.getAs[Map[String, String]]("attributes")("core") == "c0")
    val sm = points.filter(col("metric_type") === "sum").head()
    assert(sm.getAs[Double]("value") == 42.0)
    assert(sm.getAs[String]("aggregation_temporality") == "cumulative")
    assert(sm.getAs[Boolean]("is_monotonic"))

    val hb = OtlpJsonSource.parseHistogramBuckets(json)
    assert(hb.count() == 2)
    assert(hb.orderBy(col("bucket_idx")).collect().map(_.getAs[Long]("bucket_count")).toSeq == Seq(3L, 2L))

    val eb = OtlpJsonSource.parseExpHistogramBuckets(json)
    assert(eb.filter(col("sign") === 1).count() == 2)
    assert(eb.filter(col("sign") === -1).count() == 1)
    assert(eb.filter(col("sign") === 1).orderBy(col("bucket_idx"))
      .head().getAs[Int]("offset") == 1)

    val sq = OtlpJsonSource.parseSummaryQuantiles(json)
    val q = sq.head()
    assert(q.getAs[Double]("quantile") == 0.5 && q.getAs[Double]("value") == 42.0)
    assert(q.getAs[Long]("total_count") == 9L)
  }

  test("pb encode is total: histogram/exp/summary metrics round-trip decode∘encode") {
    import spark.implicits._
    import Pb._
    // rebuild the five-type metrics request from the decode test
    def metricMsg(name: String, body: Array[Byte]): Array[Byte] =
      str(1, name) ++ str(3, "ms") ++ body
    val hist = metricMsg("lat", lenDelim(9, lenDelim(1,
      fixed64(3, 300L) ++ fixed64(4, 5L) ++ double(5, 12.5) ++
        lenDelim(6, (0 until 8).map(i => ((3L >>> (8 * i)) & 0xff).toByte).toArray ++
          (0 until 8).map(i => ((2L >>> (8 * i)) & 0xff).toByte).toArray) ++
        lenDelim(7, (0 until 8).map(i => ((java.lang.Double.doubleToLongBits(10.0) >>> (8 * i)) & 0xff).toByte).toArray)) ++
      vint(2, 1)))
    val exph = metricMsg("elat", lenDelim(10, lenDelim(1,
      fixed64(3, 400L) ++ fixed64(4, 7L) ++ tag(6, 0) ++ varint(0) ++
        fixed64(7, 1L) ++
        lenDelim(8, tag(1, 0) ++ varint(2) ++ lenDelim(2, varint(4) ++ varint(3))) ++
        lenDelim(9, tag(1, 0) ++ varint(0) ++ lenDelim(2, varint(1)))) ++
      vint(2, 1)))
    val summ = metricMsg("q", lenDelim(11, lenDelim(1,
      fixed64(3, 500L) ++ fixed64(4, 9L) ++ fixed64(5, java.lang.Double.doubleToLongBits(90.0)) ++
        lenDelim(6, fixed64(1, java.lang.Double.doubleToLongBits(0.5)) ++
          fixed64(2, java.lang.Double.doubleToLongBits(42.0))))))
    def req(m: Array[Byte]): Array[Byte] = lenDelim(1,
      lenDelim(1, lenDelim(1, kv("service.name", str(1, "api")))) ++
        lenDelim(2, lenDelim(1, str(1, "graft")) ++ lenDelim(2, m)))

    for (m <- Seq(hist, exph, summ)) {
      val json1 = graft.sources.OtlpProtobuf.metricsRequestToJson(req(m)).toString
      val pb2 = graft.sources.OtlpProtobuf.metricsJsonToRequest(
        org.apache.spark.unsafe.types.UTF8String.fromString(json1))
      val json2 = graft.sources.OtlpProtobuf.metricsRequestToJson(pb2).toString
      assert(json2 == json1, s"metric section lost in encode:\n$json1\nvs\n$json2")
    }
    // and via the registered SQL functions on a DataFrame
    val pbs = Seq(req(hist), req(exph), req(summ)).toDF("pb")
    val twice = pbs
      .select(graft.sources.OtlpProtobuf.otlp_metrics_pb_to_json(col("pb")).as("j1"))
      .select(col("j1"), graft.sources.OtlpProtobuf.otlp_metrics_pb_to_json(
        graft.sources.OtlpProtobuf.otlp_metrics_json_to_pb(col("j1"))).as("j2"))
    assert(twice.filter(col("j1") =!= col("j2")).count() == 0)
  }

  test("pb encode is total: span events and links survive decode∘encode") {
    import Pb._
    val spanMsg =
      lenDelim(1, Array.fill[Byte](16)(0x11)) ++
        lenDelim(2, Array.fill[Byte](8)(0x22)) ++
        str(5, "GET /api") ++ vint(6, 2) ++
        fixed64(7, 1000L) ++ fixed64(8, 2500L) ++
        lenDelim(9, kv("http.status", vint(3, 200))) ++
        lenDelim(11, fixed64(1, 1500L) ++ str(2, "retry") ++    // event
          lenDelim(3, kv("attempt", vint(3, 2)))) ++
        vint(12, 1) ++                                          // droppedEventsCount
        lenDelim(13, lenDelim(1, Array.fill[Byte](16)(0x44)) ++ // link
          lenDelim(2, Array.fill[Byte](8)(0x55)) ++ str(3, "w3c=1")) ++
        lenDelim(15, str(2, "oops") ++ vint(3, 2))
    val request = lenDelim(1,
      lenDelim(1, lenDelim(1, kv("service.name", str(1, "api")))) ++
        lenDelim(2, lenDelim(1, str(1, "graft")) ++ lenDelim(2, spanMsg)))
    val json1 = graft.sources.OtlpProtobuf.spansRequestToJson(request).toString
    assert(json1.contains(""""events""") && json1.contains(""""links""""))
    val pb2 = graft.sources.OtlpProtobuf.spansJsonToRequest(
      org.apache.spark.unsafe.types.UTF8String.fromString(json1))
    val json2 = graft.sources.OtlpProtobuf.spansRequestToJson(pb2).toString
    assert(json2 == json1, s"span events/links lost in encode:\n$json1\nvs\n$json2")
  }

  test("spans/metrics dead-letter paths mirror the logs receiver") {
    import spark.implicits._
    import Pb._
    val spanReq = lenDelim(1, lenDelim(2, lenDelim(2,
      lenDelim(1, Array.fill[Byte](16)(0x11)) ++ fixed64(7, 1L) ++ fixed64(8, 2L) ++ str(5, "op"))))
    val metricReq = lenDelim(1, lenDelim(2, lenDelim(2,
      str(1, "cpu") ++ lenDelim(5, lenDelim(1, fixed64(3, 100L) ++ double(4, 0.5))))))
    val badPb = Array[Byte](0x0a, 0x7f, 0x01) // truncated length-delimited

    val (gs, ds) = OtlpJsonSource.parseSpansPbWithDlq(Seq(spanReq, badPb).toDF("pb"))
    assert(gs.count() == 1 && ds.count() == 1)
    val (gm, dm) = OtlpJsonSource.parseMetricPointsPbWithDlq(Seq(metricReq, badPb).toDF("pb"))
    assert(gm.count() == 1 && dm.count() == 1)
  }

  test("encoders drop unparseable numeric strings instead of failing the task") {
    import org.apache.spark.unsafe.types.UTF8String
    // negative and non-numeric u64 timestamps must not throw
    val badLog = """{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":[{
      |"scope":{"name":"g"},"logRecords":[
      |{"timeUnixNano":"-5","severityNumber":9,"body":{"stringValue":"a"}},
      |{"timeUnixNano":"not-a-number","severityNumber":10,"body":{"stringValue":"b"}},
      |{"timeUnixNano":"1700000000000000000","severityNumber":11,"body":{"stringValue":"c"}}
      |]}]}]}""".stripMargin.replaceAll("\n", "")
    val pb = graft.sources.OtlpProtobuf.logsJsonToRequest(UTF8String.fromString(badLog))
    val back = graft.sources.OtlpProtobuf.logsRequestToJson(pb).toString
    // all three records survive; only the bad timestamps are dropped
    assert(back.contains(""""severityNumber":9""") &&
      back.contains(""""severityNumber":10""") &&
      back.contains(""""timeUnixNano":"1700000000000000000""""))
    val badSpan = """{"resourceSpans":[{"resource":{"attributes":[]},"scopeSpans":[{
      |"scope":{"name":"g"},"spans":[
      |{"name":"op","startTimeUnixNano":"oops","endTimeUnixNano":"-1","kind":1}
      |]}]}]}""".stripMargin.replaceAll("\n", "")
    val spb = graft.sources.OtlpProtobuf.spansJsonToRequest(UTF8String.fromString(badSpan))
    assert(graft.sources.OtlpProtobuf.spansRequestToJson(spb).toString.contains(""""name":"op""""))
    // attribute values with garbage numerics / non-base64 bytes drop
    // the FIELD, keep the record (same policy as timestamps/ids)
    val badAttrs = """{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":[{
      |"scope":{"name":"g"},"logRecords":[{"timeUnixNano":"7","attributes":[
      |{"key":"bad_i","value":{"intValue":"twelve"}},
      |{"key":"bad_b","value":{"bytesValue":"%%%"}},
      |{"key":"bad_d","value":{"doubleValue":"garbage"}},
      |{"key":"ok","value":{"intValue":"42"}}],
      |"body":{"stringValue":"kept"}}]}]}]}""".stripMargin.replaceAll("\n", "")
    val apb = graft.sources.OtlpProtobuf.logsJsonToRequest(UTF8String.fromString(badAttrs))
    val aback = graft.sources.OtlpProtobuf.logsRequestToJson(apb).toString
    assert(aback.contains(""""stringValue":"kept"""") &&
      aback.contains(""""intValue":"42"""") &&
      !aback.contains("twelve"), aback)
    // an unparseable doubleValue DROPS — it must never fabricate 0.0
    assert(!aback.contains(""""doubleValue":0""") && !aback.contains("garbage"), aback)
  }

  test("Arrow IPC wire-to-wire: pb → flatten → arrow spool → stream-ingest → identical rows") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // realistic wire input: hex ids (non-hex would be dropped by the
    // pb encoder), attrs, two resources, absent observed timestamp
    def req(svc: String, n: Int): String = {
      val recs = (0 until n).map { i =>
        s"""{"timeUnixNano":"${1700000000000000000L + i * 1000000L}",
           |"severityNumber":${9 + i % 3},"severityText":"INFO",
           |"body":{"stringValue":"m-$svc-$i"},
           |"attributes":[{"key":"idx","value":{"intValue":"$i"}}],
           |"traceId":"${f"$i%032x"}","spanId":"${f"$i%016x"}"}"""
          .stripMargin.replaceAll("\n", "")
      }.mkString(",")
      s"""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$svc"}}]},
         |"scopeLogs":[{"scope":{"name":"graft"},"logRecords":[$recs]}]}]}"""
        .stripMargin.replaceAll("\n", "")
    }
    val pbs = Seq(req("api", 25), req("worker", 10))
      .map(j => graft.sources.OtlpProtobuf.logsJsonToRequest(UTF8String.fromString(j)))
    val flat = OtlpJsonSource.parseLogsPb(pbs.toDF("pb")).persist()
    assert(flat.count() == 35)

    val spoolDir = java.nio.file.Files.createTempDirectory("arrow_spool").toString
    // several partitions × small chunks → multiple .arrow files; the
    // reader must also accept multi-batch streams (decode() loops)
    graft.sources.ArrowLogsIpc.spool(flat.repartition(3), spoolDir, maxPerFile = 8)
    val files = new java.io.File(spoolDir).listFiles().filter(_.getName.endsWith(".arrow"))
    assert(files.length > 1, s"expected a multi-file spool, got ${files.length}")

    val q = graft.sources.ArrowLogsIpc.streamSpool(spark, spoolDir, maxFilesPerTrigger = Some(2))
      .writeStream.format("memory").queryName("arrow_logs_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("arrow_logs_out")

    // same flattened contract: column names, types, and every row
    assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      flat.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (Option(r.getAs[java.lang.Long]("time_unix_nano")),
        Option(r.getAs[java.lang.Long]("observed_time_unix_nano")),
        Option(r.getAs[java.lang.Integer]("severity_number")),
        r.getAs[String]("severity_text"), r.getAs[String]("body"),
        Option(r.getAs[Map[String, String]]("attributes")).map(_.toSeq.sorted),
        r.getAs[Int]("flags"), r.getAs[Int]("dropped_attributes_count"),
        r.getAs[String]("trace_id"), r.getAs[String]("span_id"),
        Option(r.getAs[Map[String, String]]("resource_attributes")).map(_.toSeq.sorted),
        r.getAs[String]("scope_name"))
    }.sortBy(_.toString)
    assert(norm(got).toSeq == norm(flat).toSeq)
    flat.unpersist()
  }

  test("Arrow IPC spans and metrics: pb → flatten → spool → re-ingest → identical rows") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.ArrowIpc
    val spanJson =
      s"""{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"api"}}]},
         |"scopeSpans":[{"scope":{"name":"graft"},"spans":[
         |{"traceId":"${"ab" * 16}","spanId":"${"cd" * 8}","name":"op-a","kind":2,
         |"startTimeUnixNano":"1700000000000000000","endTimeUnixNano":"1700000000003000000",
         |"attributes":[{"key":"http.route","value":{"stringValue":"/x"}}],
         |"status":{"code":2,"message":"boom"}},
         |{"traceId":"${"ab" * 16}","spanId":"${"ef" * 8}","parentSpanId":"${"cd" * 8}",
         |"name":"op-b","kind":3,"startTimeUnixNano":"1700000000001000000",
         |"endTimeUnixNano":"1700000000002000000","attributes":[]}
         |]}]}]}""".stripMargin.replaceAll("\n", "")
    val metricJson =
      """{"resourceMetrics":[{"resource":{"attributes":[{"key":"host","value":{"stringValue":"h1"}}]},
        |"scopeMetrics":[{"scope":{"name":"graft"},"metrics":[
        |{"name":"cpu","unit":"1","gauge":{"dataPoints":[
        |  {"timeUnixNano":"1700000000000000000","asDouble":0.5,
        |   "attributes":[{"key":"core","value":{"intValue":"0"}}]}]}},
        |{"name":"reqs","sum":{"aggregationTemporality":2,"isMonotonic":true,
        |  "dataPoints":[{"timeUnixNano":"1700000000000000000",
        |   "startTimeUnixNano":"1699999990000000000","asInt":"41","attributes":[]}]}}
        |]}]}]}""".stripMargin.replaceAll("\n", "")
    def roundTrip(flat: org.apache.spark.sql.DataFrame,
                  schema: org.apache.spark.sql.types.StructType,
                  tag: String): Unit = {
      val dir = java.nio.file.Files.createTempDirectory(s"arrow_$tag").toString
      ArrowIpc.spool(flat.select(schema.fieldNames.map(col): _*), dir, maxPerFile = 1)
      val q = ArrowIpc.streamSpool(spark, dir, schema)
        .writeStream.format("memory").queryName(s"arrow_${tag}_out").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(s"arrow_${tag}_out")
      assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq)
      def norm(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
        schema.fieldNames.map { n =>
          r.getAs[Any](n) match {
            case m: Map[_, _] => m.toSeq.map(_.toString).sorted.toString
            case x => String.valueOf(x)
          }
        }.toSeq
      }.sortBy(_.toString)
      assert(norm(got).toSeq == norm(flat).toSeq, tag)
    }
    val spansPb = graft.sources.OtlpProtobuf.spansJsonToRequest(
      UTF8String.fromString(spanJson))
    val spansFlat = OtlpJsonSource.parseSpansPb(Seq(spansPb).toDF("pb")).persist()
    assert(spansFlat.count() == 2)
    roundTrip(spansFlat, ArrowIpc.spansSchema(spark), "spans")
    val metricsPb = graft.sources.OtlpProtobuf.metricsJsonToRequest(
      UTF8String.fromString(metricJson))
    val metricsFlat = OtlpJsonSource.parseMetricPointsPb(Seq(metricsPb).toDF("pb")).persist()
    assert(metricsFlat.count() == 2)
    roundTrip(metricsFlat, ArrowIpc.metricsSchema(spark), "metrics")
    spansFlat.unpersist(); metricsFlat.unpersist()
  }

  test("Arrow IPC receiver dead-letters a corrupt spool file instead of dying") {
    import graft.sources.{ArrowIpc, ArrowLogsIpc}
    val dir = java.nio.file.Files.createTempDirectory("arrow_dlq").toString
    val good = Seq(ArrowLogsIpc.ArrowFlatLog(1L, null, 9, "INFO", "ok",
      Map("k" -> "v"), 0, 0, null, null, Map("svc" -> "a"), "s"))
    import spark.implicits._
    ArrowLogsIpc.spool(good.toDF(), dir)
    // a payload that is not an IPC stream at all
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "corrupt.arrow"),
      Array.tabulate[Byte](64)(i => (i * 37).toByte))
    // a structurally VALID payload whose column type drifted (int64
    // severity where the contract says int32) must ALSO dead-letter —
    // the decode dispatches on the expected type, so drift fails
    // inside the DLQ's reach, not later in the row encoder
    val drifted = org.apache.spark.sql.types.StructType(
      ArrowIpc.logsSchema(spark).fields.map(f =>
        if (f.name == "severity_number") f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
    import spark.implicits._
    val driftRow = Seq(ArrowLogsIpc.ArrowFlatLog(9L, null, 17, "E", "drift",
      null, 0, 0, null, null, null, "s")).toDF()
      .withColumn("severity_number", col("severity_number").cast("long"))
      .select(drifted.fieldNames.map(col): _*)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "drifted.arrow"),
      ArrowIpc.encodeRows(drifted, driftRow.collect().toSeq))
    val (g, d) = ArrowIpc.streamSpoolWithDlq(spark, dir, ArrowIpc.logsSchema(spark))
    val qg = g.writeStream.format("memory").queryName("arrow_dlq_good").start()
    val qd = d.writeStream.format("memory").queryName("arrow_dlq_bad").start()
    try { qg.processAllAvailable(); qd.processAllAvailable() }
    finally { qg.stop(); qd.stop() }
    assert(spark.table("arrow_dlq_good").count() == 1)
    val dlqRows = spark.table("arrow_dlq_bad").collect()
    assert(dlqRows.length == 2 && dlqRows.forall(_.getAs[String]("dlq_error") != null),
      dlqRows.mkString("\n"))
    assert(dlqRows.exists(_.getAs[String]("dlq_error").contains("expected int")),
      dlqRows.mkString("\n"))
  }

  test("ArrowSpoolExporter replayed batchId overwrites, never duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("arrow_replay").toString
    val logs = Seq(graft.sources.ArrowLogsIpc.ArrowFlatLog(1L, null, 9, "I", "x",
      Map(), 0, 0, null, null, Map(), "s")).toDF()
    val ex = graft.pipeline.Pipeline.ArrowSpoolExporter(dir)
    ex.exportBatch(logs, 7L)
    ex.exportBatch(logs, 7L) // crash-replay of the same micro-batch
    val back = graft.sources.ArrowIpc.readSpool(spark,
      s"$dir/batch_id=7", graft.sources.ArrowIpc.logsSchema(spark))
    assert(back.count() == 1, "replayed batch duplicated its rows")
  }

  test("config wires an Arrow spool exporter into an Arrow receiver pipeline") {
    import graft.pipeline.ConfigLoader
    val spoolDir = java.nio.file.Files.createTempDirectory("arrow_cfg_spool").toString
    val outDir = java.nio.file.Files.createTempDirectory("arrow_cfg_out").toString + "/p"
    // stage 1: flattened logs → arrow spool (config-built exporter)
    import spark.implicits._
    val logs = Seq(
      graft.sources.ArrowLogsIpc.ArrowFlatLog(1L, null, 9, "INFO", "a",
        Map(), 0, 0, null, null, Map("svc" -> "x"), "s"),
      graft.sources.ArrowLogsIpc.ArrowFlatLog(2L, null, 17, "ERROR", "b",
        Map(), 0, 0, null, null, Map("svc" -> "x"), "s")).toDF()
    logs.createOrReplaceTempView("cfg_logs_in")
    graft.pipeline.Pipeline.ArrowSpoolExporter(spoolDir).export(logs)
    // stage 2: config-declared arrow receiver → filter → parquet
    val svc = ConfigLoader.fromJson(
      s"""{"pipelines": {"logs/arrow": {
         |  "receiver": {"type": "arrow_logs", "path": "$spoolDir"},
         |  "processors": [{"type": "filter", "where": "severity_number >= 17"}],
         |  "exporters": [{"type": "parquet", "path": "$outDir"}]}}}""".stripMargin)
    svc.run(spark)
    val out = spark.read.parquet(outDir)
    assert(out.count() == 1 && out.head().getAs[String]("body") == "b")
  }

  test("Arrow IPC batch read-back equals the exported frame (encode ∘ decode = id)") {
    import spark.implicits._
    // null-heavy corner rows: no attrs, no ids, null severity — the
    // boxed columns must survive as NULLs, not zeros
    val rows = Seq(
      graft.sources.ArrowLogsIpc.ArrowFlatLog(1L, null, null, null, "only-body",
        null, 0, 0, null, null, Map("r" -> "1"), "s"),
      graft.sources.ArrowLogsIpc.ArrowFlatLog(2L, 3L, 5, "WARN", "full",
        Map("a" -> "1", "b" -> null), 7, 2, "ff00", "aa11", Map(), "s2"))
    val df = rows.toDF()
    val dir = java.nio.file.Files.createTempDirectory("arrow_rt").toString
    graft.sources.ArrowLogsIpc.spool(df, dir)
    val back = graft.sources.ArrowLogsIpc.readSpool(spark, dir)
    val a = df.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("metrics export leaves unknown temporality unset, never cumulative") {
    import spark.implicits._
    import Pb._
    // a sum section with NO aggregationTemporality field → parsed
    // points carry null temporality → export must omit the field
    // (AGGREGATION_TEMPORALITY_UNSPECIFIED), not default it to 2
    val sumNoTemp = lenDelim(1, lenDelim(2, lenDelim(2,
      str(1, "req") ++ lenDelim(7, lenDelim(1, fixed64(3, 100L) ++ double(4, 1.0))))))
    val points = OtlpJsonSource.parseMetricPointsPb(Seq(sumNoTemp).toDF("pb"))
    assert(points.head().getAs[String]("aggregation_temporality") == null)
    val out = OtlpJsonSource.writeMetricsJson(points).head().getAs[String]("json")
    assert(!out.contains("aggregationTemporality"), out)
    // known temporalities still map: delta → 1, cumulative → 2
    val sumDelta = lenDelim(1, lenDelim(2, lenDelim(2,
      str(1, "req") ++ lenDelim(7, lenDelim(1, fixed64(3, 100L) ++ double(4, 1.0)) ++ vint(2, 1)))))
    val outDelta = OtlpJsonSource.writeMetricsJson(
      OtlpJsonSource.parseMetricPointsPb(Seq(sumDelta).toDF("pb")))
      .head().getAs[String]("json")
    assert(outDelta.contains(""""aggregationTemporality":1"""), outDelta)
  }

  test("histogram bucketCounts with a varint wire type is skipped, not misread") {
    import Pb._
    // (6,0) varint-encoded field 6 in a HistogramDataPoint: the old
    // reader consumed 8 raw bytes as fixed64, misaligning everything
    // after it; now it falls through to skip and the point still parses
    val histBadWire = lenDelim(1, lenDelim(2, lenDelim(2,
      str(1, "lat") ++ lenDelim(9, lenDelim(1,
        fixed64(3, 300L) ++ tag(6, 0) ++ varint(7) ++ fixed64(4, 5L))))))
    val json = graft.sources.OtlpProtobuf.metricsRequestToJson(histBadWire).toString
    assert(json.contains(""""count":"5""""), json)
    assert(!json.contains(""""bucketCounts""""), json)
  }

  test("gzip transport compression: compressed pb export round-trips and shrinks") {
    import spark.implicits._
    val logs = OtlpJsonSource.parseLogs(Seq(mkLogRequest("api", 50, 4)).toDF("json"))
    val raw = OtlpJsonSource.writeLogsPb(logs)
    val gz = OtlpJsonSource.writeLogsPbGz(logs)
    val rawLen = raw.select(length(col("pb"))).head().getInt(0)
    val gzLen = gz.select(length(col("pb"))).head().getInt(0)
    assert(gzLen < rawLen, s"gzip must shrink the request: $gzLen vs $rawLen")
    val back = OtlpJsonSource.parseLogsPbGz(gz)
    assert(back.count() == logs.count())
    assert(back.select("body").collect().map(_.getString(0)).sorted.sameElements(
      logs.select("body").collect().map(_.getString(0)).sorted))
    // non-gzip bytes fail with a diagnosable error, not garbage
    val bad = intercept[Exception] {
      Seq(Array[Byte](1, 2, 3)).toDF("pb")
        .select(graft.functions.GzipExprs.gzip_decompress(col("pb"))).collect()
    }
    assert(bad.getMessage != null)
    // SQL surface
    GraftExtensions.register(spark)
    val viaSql = gz.createOrReplaceTempView("gz_reqs")
    assert(spark.sql(
      "SELECT otlp_logs_pb_to_json(gzip_decompress(pb)) AS j FROM gz_reqs")
      .head().getString(0).contains("resourceLogs"))
  }

  test("streaming protobuf receiver: binary files → filtered parquet sink") {
    import java.nio.file.{Files, Paths}
    val inDir = Files.createTempDirectory("otlp_pb_in").toString
    val outDir = Files.createTempDirectory("otlp_pb_out").toString + "/logs"
    val ckDir = Files.createTempDirectory("otlp_pb_ck").toString
    // binary request: reuse the JSON builder + the export encoder
    val pbBytes = OtlpJsonSource.writeLogsPb(
      OtlpJsonSource.parseLogs {
        import spark.implicits._
        Seq(mkLogRequest("api", 20, 4)).toDF("json")
      }).head().getAs[Array[Byte]]("pb")
    Files.write(Paths.get(s"$inDir/r1.pb"), pbBytes)

    val logs = OtlpJsonSource.streamLogsPb(spark, inDir)
    val q = Processors.filter(logs, col("severity_number") >= 17)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(outDir).count() == 5) // errors every 4th of 20
  }

  test("protobuf spans export: rows → wire bytes → rows round-trips") {
    import spark.implicits._
    val spans = OtlpJsonSource.parseSpans(Seq(mkSpanRequest("api", 8)).toDF("json"))
    val back = OtlpJsonSource.parseSpansPb(
      OtlpJsonSource.writeSpansPb(spans).select(col("pb")))
    val cols = Seq("trace_id", "span_id", "trace_state", "parent_span_id", "name",
      "kind", "start_time_unix_nano", "end_time_unix_nano", "status_code",
      "status_message", "attributes", "dropped_attributes_count")
    // mkSpanRequest ids aren't hex, so compare the non-id fields plus counts
    val keep = cols.filterNot(Set("trace_id", "span_id", "parent_span_id"))
    assert(back.count() == 8)
    val a = spans.select(keep.map(col): _*).collect().map(_.toString).sorted
    val b = back.select(keep.map(col): _*).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("protobuf metrics export: rows → wire bytes → rows round-trips") {
    import spark.implicits._
    val reqs = (0 until 6).map { i =>
      val m = if (i % 2 == 0)
        s"""{"name":"cpu","unit":"1","gauge":{"dataPoints":[{"timeUnixNano":"${i}00","asDouble":$i.25,"attributes":[{"key":"core","value":{"stringValue":"c$i"}}]}]}}"""
      else
        s"""{"name":"req","sum":{"aggregationTemporality":1,"isMonotonic":true,"dataPoints":[{"timeUnixNano":"${i}00","asDouble":$i.5,"attributes":[]}]}}"""
      s"""{"resourceMetrics":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"api"}}]},
         |"scopeMetrics":[{"scope":{"name":"graft"},"metrics":[$m]}]}]}"""
        .stripMargin.replaceAll("\n", "")
    }
    val points = OtlpJsonSource.parseMetricPoints(reqs.toDF("json"))
    val back = OtlpJsonSource.parseMetricPointsPb(
      OtlpJsonSource.writeMetricsPb(points).select(col("pb")))
    val cols = Seq("metric_name", "metric_type", "unit", "aggregation_temporality",
      "is_monotonic", "time_unix_nano", "value", "attributes", "resource_attributes")
    val a = points.select(cols.map(col): _*).collect().map(_.toString).sorted
    val b = back.select(cols.map(col): _*).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("streaming protobuf span receiver parses wire files into span rows") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val inDir = Files.createTempDirectory("otlp_pb_spans").toString
    val pb = OtlpJsonSource.writeSpansPb(
      OtlpJsonSource.parseSpans(Seq(mkSpanRequest("api", 6)).toDF("json")))
      .head().getAs[Array[Byte]]("pb")
    Files.write(Paths.get(s"$inDir/r1.pb"), pb)
    val q = OtlpJsonSource.streamSpansPb(spark, inDir)
      .writeStream.format("memory").queryName("pb_spans_out").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.sql("SELECT count(*) FROM pb_spans_out").head().getLong(0) == 6)
    assert(spark.sql("SELECT DISTINCT scope_name FROM pb_spans_out").head().getString(0) == "graft")
  }

  test("pb spool compaction: many tiny files → few bounded requests, content exact") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val inDir = Files.createTempDirectory("compact_in").toString
    val outDir = Files.createTempDirectory("compact_out").toString
    // a push receiver's day: 40 one-record requests, two services
    val logs = OtlpJsonSource.eventsAsLogs(spark, "/root/testdata/sf0.001")
      .withColumn("trace_id", substring(col("trace_id"), 1, 32))
      .withColumn("span_id", substring(col("span_id"), 1, 16))
      .orderBy(col("time_unix_nano")).limit(40).collect()
    logs.zipWithIndex.foreach { case (row, i) =>
      val one = spark.createDataFrame(
        java.util.Collections.singletonList(row),
        OtlpJsonSource.eventsAsLogs(spark, "/root/testdata/sf0.001").schema)
      val pb = OtlpJsonSource.writeLogsPb(one).head().getAs[Array[Byte]]("pb")
      Files.write(Paths.get(f"$inDir/r$i%03d.pb"), pb)
    }
    val (nIn, nOut) = OtlpJsonSource.compactLogsPbSpool(spark, inDir, outDir,
      maxRecords = 25)
    assert(nIn == 40)
    // 40 records at ≤25/request → a few requests per (batch,
    // resource, scope) group — far fewer files than records (requests
    // never mix resources, so the floor is #batches × #services)
    assert(nOut >= 2 && nOut <= 16, s"expected a handful of files, got $nOut")
    // content survives exactly
    val before = OtlpJsonSource.parseLogsPb(
      spark.read.format("binaryFile").load(inDir).select(col("content").as("pb")))
    val after = OtlpJsonSource.parseLogsPb(
      spark.read.format("binaryFile").load(outDir).select(col("content").as("pb")))
    val cols = Seq("time_unix_nano", "severity_number", "body", "trace_id", "span_id")
    assert(after.count() == 40)
    assert(after.select(cols.map(col): _*).collect().map(_.toString).sorted
      .sameElements(before.select(cols.map(col): _*).collect().map(_.toString).sorted))
    // every compacted request respects the record bound
    val perFile = after.groupBy().count() // sanity overall
    val sizes = spark.read.format("binaryFile").load(outDir)
      .select(col("content").as("pb"))
      .select(graft.sources.OtlpProtobuf.otlp_logs_pb_to_json(col("pb")).as("json"))
    val counts = OtlpJsonSource.parseLogs(sizes).groupBy().count().head().getLong(0)
    assert(counts == 40)
  }

  test("pb spool compaction: spans and metrics twins") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    def spanJson(i: Int) =
      s"""{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"api"}}]},""" +
        s""""scopeSpans":[{"scope":{"name":"graft"},"spans":[{"traceId":"${f"$i%032x"}",""" +
        s""""spanId":"${f"${i + 1}%016x"}","name":"op-$i","kind":1,""" +
        s""""startTimeUnixNano":"${1000 + i}","endTimeUnixNano":"${2000 + i}",""" +
        s""""status":{"code":0},"attributes":[]}]}]}]}"""
    val sIn = Files.createTempDirectory("compact_sp_in").toString
    val sOut = Files.createTempDirectory("compact_sp_out").toString
    (0 until 12).foreach { i =>
      val pb = OtlpJsonSource.writeSpansPb(
        OtlpJsonSource.parseSpans(Seq(spanJson(i)).toDF("json")))
        .head().getAs[Array[Byte]]("pb")
      Files.write(Paths.get(f"$sIn/r$i%03d.pb"), pb)
    }
    val (si, so) = OtlpJsonSource.compactSpansPbSpool(spark, sIn, sOut, maxRecords = 10)
    assert(si == 12 && so >= 2 && so <= 4, s"$si -> $so")
    val spansBack = OtlpJsonSource.parseSpansPb(
      spark.read.format("binaryFile").load(sOut).select(col("content").as("pb")))
    assert(spansBack.count() == 12)
    assert(spansBack.select(col("span_id")).distinct().count() == 12)

    def metricJson(i: Int) =
      s"""{"resourceMetrics":[{"resource":{"attributes":[]},""" +
        s""""scopeMetrics":[{"scope":{"name":"graft"},"metrics":[{"name":"cpu",""" +
        s""""gauge":{"dataPoints":[{"timeUnixNano":"${100 + i}","asDouble":0.5,"attributes":[]}]}}]}]}]}"""
    val mIn = Files.createTempDirectory("compact_m_in").toString
    val mOut = Files.createTempDirectory("compact_m_out").toString
    (0 until 9).foreach { i =>
      val pb = OtlpJsonSource.writeMetricsPb(
        OtlpJsonSource.parseMetricPoints(Seq(metricJson(i)).toDF("json")))
        .head().getAs[Array[Byte]]("pb")
      Files.write(Paths.get(f"$mIn/r$i%03d.pb"), pb)
    }
    val (mi, mo) = OtlpJsonSource.compactMetricsPbSpool(spark, mIn, mOut, maxRecords = 4)
    assert(mi == 9 && mo >= 3 && mo <= 5, s"$mi -> $mo")
    val ptsBack = OtlpJsonSource.parseMetricPointsPb(
      spark.read.format("binaryFile").load(mOut).select(col("content").as("pb")))
    assert(ptsBack.count() == 9)
    assert(ptsBack.select(col("time_unix_nano")).distinct().count() == 9)
  }

  test("spans wire-to-wire: pb spool → stream → process → pb export → lossless re-ingest") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val spool = Files.createTempDirectory("w2ws_spool").toString
    val outDir = Files.createTempDirectory("w2ws_out").toString
    val ck = Files.createTempDirectory("w2ws_ck").toString
    // hex ids so the 16/8-byte wire form round-trips exactly
    def hexReq(svc: String, n: Int): String = {
      val spans = (0 until n).map { i =>
        val tid = f"${i % 3}%032x"; val sid = f"${i + 1}%016x"
        val pid = f"${i + 100}%016x"
        s"""{"traceId":"$tid","spanId":"$sid","parentSpanId":"$pid",""" +
          s""""name":"op-$i","kind":${i % 5 + 1},""" +
          s""""startTimeUnixNano":"${1000000L + i}","endTimeUnixNano":"${2000000L + i}",""" +
          s""""status":{"code":${i % 3},"message":"m$i"},""" +
          s""""attributes":[{"key":"idx","value":{"intValue":"$i"}},""" +
          s"""{"key":"noisy","value":{"stringValue":"x"}}]}"""
      }.mkString(",")
      s"""{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$svc"}}]},""" +
        s""""scopeSpans":[{"scope":{"name":"graft"},"spans":[$spans]}]}]}"""
    }
    for ((svc, i) <- Seq("api" -> 1, "worker" -> 2)) {
      val pb = OtlpJsonSource.writeSpansPb(
        OtlpJsonSource.parseSpans(Seq(hexReq(svc, 10)).toDF("json")))
        .head().getAs[Array[Byte]]("pb")
      Files.write(Paths.get(s"$spool/r$i.pb"), pb)
    }
    // streaming pipeline: wire decode → keep ERROR spans → attribute
    // hygiene → queued pb export per batch (the logs/metrics capstone
    // shape, traces flavor — all three signals now go wire to wire)
    val spans = OtlpJsonSource.streamSpansPb(spark, spool)
    val processed = spans.filter(col("status_code") === 2)
      .withColumn("attributes",
        graft.operators.Processors.mapDelete(col("attributes"), Seq("noisy")))
    val pbSink = new graft.pipeline.Pipeline.Exporter {
      def export(df: org.apache.spark.sql.DataFrame): Unit = ()
      override def exportBatch(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        OtlpJsonSource.writeSpansPb(df)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }
    val q = graft.streaming.StreamingPipelines.exportStream(processed,
      graft.pipeline.Pipeline.QueuedExporter(pbSink, s"$outDir/_dlq"), ck)
    try q.processAllAvailable() finally q.stop()
    val back = OtlpJsonSource.parseSpansPb(
      spark.read.parquet(outDir).select(col("pb")))
    assert(back.count() == 6) // status codes cycle 0,1,2 → 3 errors × 2 services
    assert(back.filter(col("status_code") === 2).count() == 6)
    val r = back.orderBy(col("span_id")).head()
    assert(r.getAs[String]("trace_id").length == 32 &&
      r.getAs[String]("parent_span_id").length == 16)
    val attrs = r.getAs[Map[String, String]]("attributes")
    assert(!attrs.contains("noisy") && attrs.contains("idx"))
    assert(back.select(col("resource_attributes").getItem("service.name"))
      .distinct().count() == 2)
    assert(back.select(col("scope_name")).distinct().head().getString(0) == "graft")
  }

  test("Arrow capstone: arrow spool → stream → filter/enrich → arrow spool out → re-ingest") {
    import spark.implicits._
    import graft.sources.{ArrowIpc, ArrowLogsIpc}
    // an otel-arrow PRODUCER's spool: 30 flattened logs, 1/3 errors
    val inDir = java.nio.file.Files.createTempDirectory("arrow_cap_in").toString
    val logs = (0 until 30).map(i => ArrowLogsIpc.ArrowFlatLog(
      1700000000000000000L + i * 1000000L, null,
      if (i % 3 == 0) 17 else 9, if (i % 3 == 0) "ERROR" else "INFO",
      s"m-$i", Map("idx" -> i.toString), 0, 0, null, null,
      Map("service.name" -> "api"), "graft")).toDF()
    // producer side uses the full wire feature set: dictionary-encoded
    // attribute columns AND zstd buffer compression — the consumer
    // stream must decode both transparently from the file metadata
    ArrowLogsIpc.spool(logs.repartition(2), inDir, maxPerFile = 7,
      dictCap = 32, codec = "zstd")
    // collector pipeline: arrow stream in → filter errors + hygiene →
    // arrow spool out (checkpointed, idempotent per-batch delivery),
    // re-exported dict+zstd as well
    val outDir = java.nio.file.Files.createTempDirectory("arrow_cap_out").toString
    val ck = java.nio.file.Files.createTempDirectory("arrow_cap_ck").toString
    val processed = ArrowIpc.streamLogsSpool(spark, inDir, maxFilesPerTrigger = Some(3))
      .filter(col("severity_number") >= 17)
      .withColumn("attributes",
        graft.operators.Processors.mapPut(col("attributes"), "pipeline", lit("errors")))
    val q = graft.streaming.StreamingPipelines.exportStream(processed,
      graft.pipeline.Pipeline.ArrowSpoolExporter(outDir, dictCap = 32, codec = "zstd"), ck)
    try q.processAllAvailable() finally q.stop()
    // a downstream otel-arrow CONSUMER re-ingests the exported spool
    val back = ArrowIpc.readSpool(spark, s"$outDir/batch_id=*",
      ArrowIpc.logsSchema(spark))
    val rows = back.collect()
    assert(rows.length == 10, s"expected the 10 errors, got ${rows.length}")
    assert(rows.forall(_.getAs[Int]("severity_number") == 17))
    assert(rows.forall(_.getAs[Map[String, String]]("attributes")("pipeline") == "errors"))
    assert(rows.map(_.getAs[String]("body")).sorted.toSeq ==
      (0 until 30 by 3).map(i => s"m-$i").sorted.toSeq)
  }

  test("wire-to-wire collector deployment: pb spool → stream → process → queued pb export → re-ingest") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val spool = Files.createTempDirectory("w2w_spool").toString
    val outDir = Files.createTempDirectory("w2w_out").toString
    val ck = Files.createTempDirectory("w2w_ck").toString
    // two binary requests land in the spool (what an HTTP frontend dumps)
    for ((svc, i) <- Seq("api" -> 1, "worker" -> 2)) {
      val pb = OtlpJsonSource.writeLogsPb(
        OtlpJsonSource.parseLogs(Seq(mkLogRequest(svc, 20, 4)).toDF("json")))
        .head().getAs[Array[Byte]]("pb")
      Files.write(Paths.get(s"$spool/r$i.pb"), pb)
    }
    // streaming pipeline: decode wire → filter errors → attribute
    // hygiene → queued exporter writing BINARY requests per batch
    val logs = OtlpJsonSource.streamLogsPb(spark, spool)
    val processed = Processors.filter(logs, col("severity_number") >= 17)
      .withColumn("attributes", Processors.mapDelete(col("attributes"), Seq("noisy")))
    val pbSink = new graft.pipeline.Pipeline.Exporter {
      def export(df: org.apache.spark.sql.DataFrame): Unit = ()
      override def exportBatch(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        OtlpJsonSource.writeLogsPb(df)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }
    val q = graft.streaming.StreamingPipelines.exportStream(processed,
      graft.pipeline.Pipeline.QueuedExporter(pbSink, s"$outDir/_dlq"), ck)
    try q.processAllAvailable() finally q.stop()
    // the exported wire bytes re-ingest losslessly
    val back = OtlpJsonSource.parseLogsPb(
      spark.read.parquet(outDir).select(col("pb")))
    assert(back.count() == 10) // 5 errors per 20-record request × 2
    assert(back.filter(col("severity_number") >= 17).count() == 10)
    val attrs = back.head().getAs[Map[String, String]]("attributes")
    assert(!attrs.contains("noisy") && attrs.contains("idx"))
    assert(back.select(col("resource_attributes").getItem("service.name"))
      .distinct().count() == 2)
  }

  test("metrics wire-to-wire: pb spool → stream → process → pb export → lossless re-ingest") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import Pb._
    val spool = Files.createTempDirectory("w2wm_spool").toString
    val outDir = Files.createTempDirectory("w2wm_out").toString
    val ck = Files.createTempDirectory("w2wm_ck").toString
    // request with every metric data type, one per service
    def metricMsg(name: String, body: Array[Byte]): Array[Byte] =
      str(1, name) ++ str(3, "ms") ++ body
    def fullRequest(svc: String, base: Long): Array[Byte] = {
      val gauge = metricMsg("cpu", lenDelim(5, lenDelim(1,
        fixed64(3, base) ++ double(4, 0.5) ++ lenDelim(7, kv("core", str(1, "c0"))))))
      val sum = metricMsg("req", lenDelim(7, lenDelim(1,
        fixed64(3, base + 1) ++ double(4, 42.0)) ++ vint(2, 1) ++ vint(3, 1)))
      val hist = metricMsg("lat", lenDelim(9, lenDelim(1,
        fixed64(3, base + 2) ++ fixed64(4, 5L) ++ double(5, 12.5) ++
          lenDelim(6, (0 until 8).map(i => ((3L >>> (8 * i)) & 0xff).toByte).toArray ++
            (0 until 8).map(i => ((2L >>> (8 * i)) & 0xff).toByte).toArray) ++
          lenDelim(7, (0 until 8).map(i => ((java.lang.Double.doubleToLongBits(10.0) >>> (8 * i)) & 0xff).toByte).toArray)) ++
        vint(2, 2)))
      val summ = metricMsg("q", lenDelim(11, lenDelim(1,
        fixed64(3, base + 3) ++ fixed64(4, 9L) ++
          lenDelim(6, fixed64(1, java.lang.Double.doubleToLongBits(0.5)) ++
            fixed64(2, java.lang.Double.doubleToLongBits(42.0))))))
      lenDelim(1,
        lenDelim(1, lenDelim(1, kv("service.name", str(1, svc)))) ++
          lenDelim(2, lenDelim(1, str(1, "graft")) ++
            lenDelim(2, gauge) ++ lenDelim(2, sum) ++
            lenDelim(2, hist) ++ lenDelim(2, summ)))
    }
    Files.write(Paths.get(s"$spool/r1.pb"), fullRequest("api", 1000L))
    Files.write(Paths.get(s"$spool/r2.pb"), fullRequest("worker", 2000L))

    // full-document fidelity across the spool (all five sections):
    // decode ∘ encode ∘ decode = decode
    val spoolDf = spark.read.format("binaryFile").load(spool)
      .select(col("content").as("pb"))
    val fidelity = spoolDf
      .select(graft.sources.OtlpProtobuf.otlp_metrics_pb_to_json(col("pb")).as("j1"))
      .select(col("j1"), graft.sources.OtlpProtobuf.otlp_metrics_pb_to_json(
        graft.sources.OtlpProtobuf.otlp_metrics_json_to_pb(col("j1"))).as("j2"))
    assert(fidelity.filter(col("j1") =!= col("j2")).count() == 0)

    // streaming half: number datapoints (gauge/sum) flow through the
    // collector pipeline and export back to wire bytes per batch
    val points = OtlpJsonSource.streamMetricsPb(spark, spool)
    val pbSink = new graft.pipeline.Pipeline.Exporter {
      def export(df: org.apache.spark.sql.DataFrame): Unit = ()
      override def exportBatch(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
        OtlpJsonSource.writeMetricsPb(df)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }
    val q = graft.streaming.StreamingPipelines.exportStream(points,
      graft.pipeline.Pipeline.QueuedExporter(pbSink, s"$outDir/_dlq"), ck)
    try q.processAllAvailable() finally q.stop()

    val back = OtlpJsonSource.parseMetricPointsPb(
      spark.read.parquet(outDir).select(col("pb")))
    assert(back.count() == 4) // gauge + sum per service
    val sums = back.filter(col("metric_type") === "sum")
    assert(sums.count() == 2)
    assert(sums.select("aggregation_temporality").distinct().head().getString(0) == "delta")
    assert(sums.select("value").collect().map(_.getDouble(0)).toSeq == Seq(42.0, 42.0))
    // gauge has no temporality — it must still be unset after the loop
    val gauges = back.filter(col("metric_type") === "gauge")
    assert(gauges.select("aggregation_temporality").collect().forall(_.isNullAt(0)))
    assert(gauges.head().getAs[Map[String, String]]("attributes")("core") == "c0")
    assert(back.select(col("resource_attributes").getItem("service.name"))
      .distinct().count() == 2)
  }

  test("Arrow dictionary encoding: low-card columns ship as indices, overflow falls back, wire-to-wire identical") {
    import graft.sources.ArrowIpc
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the otel-arrow attribute-column shape: service (5 distinct, long
    // values — the dictionary win), span_id (all unique — must
    // overflow a cap of 64 and fall back to plain), a scalar, a map
    val schema = StructType(Seq(
      StructField("service", StringType), StructField("span_id", StringType),
      StructField("n", LongType),
      StructField("attributes", MapType(StringType, StringType))))
    val rows = (0 until 2000).map { i =>
      Row(s"service-${"x" * 30}-${i % 5}", f"span-$i%016x", i.toLong,
        Map("env" -> (if (i % 2 == 0) "prod" else "dev")))
    }
    val dictBytes = ArrowIpc.encodeRows(schema, rows, dictCap = 64)
    val plainBytes = ArrowIpc.encodeRows(schema, rows)

    // the field metadata proves WHAT happened on the wire: service
    // carries a DictionaryEncoding, span_id does not
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(dictBytes), alloc)
    try {
      val fields = rdr.getVectorSchemaRoot.getSchema.getFields
      assert(fields.get(0).getDictionary != null, "service should be dict-encoded")
      assert(fields.get(1).getDictionary == null, "span_id must overflow to plain")
    } finally { rdr.close(); alloc.close() }

    // the dictionary is a real size win: 2000×37-char strings with 5
    // distinct values collapse to int32 indices + 5 dictionary entries.
    // The whole mixed payload (unique span_id and the map stay plain)
    // drops >35%; the service column alone shrinks ~18×
    assert(dictBytes.length < (plainBytes.length * 0.65).toInt,
      s"dict=${dictBytes.length} plain=${plainBytes.length}")
    val svcOnly = StructType(Seq(StructField("service", StringType)))
    val svcRows = rows.map(r => Row(r.getString(0)))
    assert(ArrowIpc.encodeRows(svcOnly, svcRows, dictCap = 64).length <
      ArrowIpc.encodeRows(svcOnly, svcRows).length / 8)

    // decode is transparent — same rows back from the dict stream
    assert(ArrowIpc.decodeRows(schema, dictBytes) == rows)

    // wire-to-wire with MIXED files in one spool: a dict-encoded spool
    // plus a plain file (the per-stream reset/fallback story — a
    // reader must accept both shapes side by side)
    val dir = java.nio.file.Files.createTempDirectory("arrow_dict").toString
    val df = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    ArrowIpc.spool(df.repartition(3), dir, maxPerFile = 512, dictCap = 64)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "plain-extra.arrow"),
      ArrowIpc.encodeRows(schema, Seq(Row("tail-svc", "tail-span", 9999L, Map("k" -> "v")))))
    val got = ArrowIpc.readSpool(spark, dir, schema)
    assert(got.count() == 2001)
    val back = got.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2),
        r.getMap[String, String](3).toMap)).sortBy(_._2)
    val want = (rows :+ Row("tail-svc", "tail-span", 9999L, Map("k" -> "v"))).map(r =>
      (r.getString(0), r.getString(1), r.getLong(2),
        r.getMap[String, String](3).toMap)).sortBy(_._2)
    assert(back.toSeq == want)
  }

  test("Arrow multi-batch stream shares one dictionary; zstd/lz4 compression round-trips") {
    import graft.sources.ArrowIpc
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("service", StringType), StructField("n", LongType),
      StructField("attributes", MapType(StringType, StringType))))
    val rows = (0 until 1000).map { i =>
      Row(s"padded-service-name-${"y" * 24}-${i % 4}", i.toLong,
        Map("k" -> s"v${i % 3}"))
    }
    // one stream, several record batches, ONE dictionary spanning all
    // (the long-lived gRPC stream shape: schema + dictionary once,
    // then batch after batch)
    val multi = ArrowIpc.encodeRows(schema, rows, dictCap = 64,
      batchRows = 128, codec = "none")
    assert(ArrowIpc.decodeRows(schema, multi) == rows)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(multi), alloc)
    try {
      var batches = 0
      while (rdr.loadNextBatch()) batches += 1
      assert(batches == 8, s"expected 8 record batches, got $batches")
      assert(rdr.getDictionaryVectors.size() == 1, "one shared dictionary")
    } finally { rdr.close(); alloc.close() }

    // transport compression: zstd and lz4 round-trip transparently
    // (decode detects the codec from buffer headers) and zstd beats
    // plain on this repetitive payload
    val plain = ArrowIpc.encodeRows(schema, rows)
    for (codec <- Seq("zstd", "lz4")) {
      val c = ArrowIpc.encodeRows(schema, rows, dictCap = 0,
        batchRows = 0, codec = codec)
      assert(ArrowIpc.decodeRows(schema, c) == rows, codec)
    }
    val zstd = ArrowIpc.encodeRows(schema, rows, dictCap = 0, batchRows = 0, codec = "zstd")
    assert(zstd.length < plain.length / 2, s"zstd=${zstd.length} plain=${plain.length}")
    // dict + multi-batch + zstd compose
    val all = ArrowIpc.encodeRows(schema, rows, dictCap = 64,
      batchRows = 256, codec = "zstd")
    assert(ArrowIpc.decodeRows(schema, all) == rows)
  }

  test("TimeoutExporter bounds a hung delivery and composes with the persistent queue") {
    import graft.pipeline.Pipeline._
    val fast = new CollectingExporter
    TimeoutExporter(fast, timeoutMs = 30000).export(
      spark.range(5).toDF("id"))
    assert(fast.result.length == 5) // under budget: passes through

    val hung = new Exporter {
      def export(df: org.apache.spark.sql.DataFrame): Unit = Thread.sleep(120000)
    }
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      TimeoutExporter(hung, timeoutMs = 300).export(spark.range(1).toDF("id"))
    }
    assert(e.getMessage.contains("budget"))
    assert((System.nanoTime() - t0) / 1e9 < 30, "timeout must not hang")

    // sender chain: queue(timeout(sink)) — a timed-out delivery is
    // retryable, so the batch stays durably pending, not lost
    val qdir = java.nio.file.Files.createTempDirectory("pq_timeout").toString
    val q = PersistentQueueExporter(TimeoutExporter(hung, timeoutMs = 200), qdir,
      retriesPerRun = 0, backoffMs = 1)
    q.export(spark.range(3).toDF("id"))
    assert(new java.io.File(s"$qdir/pending").listFiles().count(_.isDirectory) == 1)
  }

  test("map ops: put/delete/keepKeys/truncate behave like pcommon.Map") {
    import spark.implicits._
    val df = Seq(Map("a" -> "1", "b" -> "22", "c" -> "333")).toDF("attrs")
    val r = df.select(
      Processors.mapPut(col("attrs"), "a", lit("9")).as("put"),
      Processors.mapDelete(col("attrs"), Seq("b")).as("del"),
      Processors.mapKeepKeys(col("attrs"), Seq("a", "c")).as("keep"),
      Processors.mapTruncateValues(col("attrs"), 2).as("trunc")).head()
    assert(r.getAs[Map[String, String]]("put") == Map("a" -> "9", "b" -> "22", "c" -> "333"))
    assert(r.getAs[Map[String, String]]("del") == Map("a" -> "1", "c" -> "333"))
    assert(r.getAs[Map[String, String]]("keep") == Map("a" -> "1", "c" -> "333"))
    assert(r.getAs[Map[String, String]]("trunc") == Map("a" -> "1", "b" -> "22", "c" -> "33"))
  }

  test("curation capstone: ONE yaml drives warc -> html -> gopher -> exact+near+spancut dedup -> shuffle_shard -> jsonl; equals the programmatic pipeline; a sibling pipeline files the fused verdict report == q_dedup_fused") {
    import graft.operators.{TextOps, DedupOps, ScaleOps}
    import spark.implicits._
    // synthesize a .warc crawl from the documents table (the
    // q_warc_extract synthesis half): one response record per doc
    val sfDocs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val recs = sfDocs.select(graft.sources.Warc.warc_response(
        concat(lit("http://corpus.local/doc/"), col("doc_id")),
        lit("2024-01-01T00:00:00Z"),
        concat(lit("<html><body><p>"),
          regexp_replace(col("text"), "\\. ", ".</p><p>"),
          lit("</p></body></html>"))).as("w"))
      .collect().map(_.getAs[Array[Byte]](0))
    // plant duplicates that SURVIVE the gate: two verbatim copies of
    // a gate-passing doc (exact-dedup teeth) and one copy with the
    // last word changed (near-dup teeth) — the corpus's own dup
    // clusters may fail the quality gate, which would leave the
    // dedup stages vacuously un-exercised
    val passing = sfDocs.filter(graft.operators.TextOps
        .gopherFlags(col("text")).map(_._2).reduce(_ && _))
      .orderBy(col("doc_id")).select(col("text")).head().getString(0)
    val nearText = passing.split(" ").dropRight(1).mkString(" ") + " zzzq"
    // span-cut teeth: two gate-passing docs sharing ONE verbatim
    // 20-token span with fully distinct remainders — 3-gram Jaccard
    // ≈ 0.17 (under the 0.5 near-dup threshold) so only the
    // dedup_spancut stage can touch them, and it must cut the span
    // from the HIGHER id (900005) only
    val spanToks = (0 until 20).map(i => s"spanw$i")
    val spanDocA = (spanToks ++ (0 until 40).map(i => s"xrem$i") ++
      Seq("the", "a", "of", "and")).mkString(" ")
    val spanDocBKept = ((0 until 40).map(i => s"yrem$i") ++
      Seq("and", "of", "a", "the")).mkString(" ")
    val spanDocB = (spanToks.mkString(" ")) + " " + spanDocBKept
    // text_normalize teeth: a confusable twin of the passing doc —
    // byte-DIFFERENT (trailing zero-width + BOM) but folding to the
    // exact bytes, so it joins the exact-dedup cluster ONLY if the
    // normalize stage runs before the content hash
    val confusable = passing + "\u200B\uFEFF"
    assert(confusable != passing)
    val planted = Seq(
      (900001L, passing), (900002L, passing), (900003L, nearText),
      (900004L, spanDocA), (900005L, spanDocB), (900006L, confusable))
    val plantedRecs = planted.toDF("doc_id", "text")
      .select(graft.sources.Warc.warc_response(
        concat(lit("http://corpus.local/doc/"), col("doc_id")),
        lit("2024-01-01T00:00:00Z"),
        concat(lit("<html><body><p>"),
          regexp_replace(col("text"), "\\. ", ".</p><p>"),
          lit("</p></body></html>"))).as("w"))
      .collect().map(_.getAs[Array[Byte]](0))
    val in = java.nio.file.Files.createTempDirectory("cur_in").toString
    val buf = new java.io.ByteArrayOutputStream()
    recs.foreach(buf.write)
    plantedRecs.foreach(buf.write)
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "crawl-0.warc"),
      buf.toByteArray)
    val out = java.nio.file.Files.createTempDirectory("cur_out").toString + "/corpus"
    val outReport = java.nio.file.Files.createTempDirectory("cur_rep").toString + "/report"
    val outVenn = java.nio.file.Files.createTempDirectory("cur_venn").toString + "/venn"
    val yaml =
      s"""pipelines:
         |  corpus/fused_report:
         |    receiver:
         |      type: parquet
         |      path: "/root/testdata/sf0.001/documents.parquet"
         |    processors:
         |      - type: dedup_fused_report
         |        id: doc_id
         |        text: text
         |        source: source
         |    exporters:
         |      - type: jsonl
         |        path: "$outReport"
         |  corpus/venn_report:
         |    receiver:
         |      type: parquet
         |      path: "/root/testdata/sf0.001/documents.parquet"
         |    processors:
         |      - type: dedup_venn_report
         |        id: doc_id
         |        text: text
         |    exporters:
         |      - type: jsonl
         |        path: "$outVenn"
         |  corpus/curation:
         |    receiver:
         |      type: warc
         |      path: "$in"
         |    processors:
         |      - type: filter
         |        where: "record_type = 'response' AND http_status = 200"
         |      - type: upsert
         |        name: doc_id
         |        expr: "CAST(regexp_extract(target_uri, '([0-9]+)$$', 1) AS BIGINT)"
         |      - type: html_to_text
         |        from: payload
         |        to: text
         |        min_words: 1
         |      - type: text_normalize
         |        text: text
         |      - type: gopher_gate
         |        text: text
         |      - type: dedup_exact
         |        id: doc_id
         |        text: text
         |      - type: dedup_near
         |        id: doc_id
         |        text: text
         |        threshold: 0.5
         |      - type: dedup_spancut
         |        id: doc_id
         |        text: text
         |        min_len: 15
         |      - type: shuffle_shard
         |        id: doc_id
         |        shards: 8
         |        seed: cur1
         |        portable: true
         |      - type: select
         |        exprs: ["doc_id", "shard", "pos", "text"]
         |    exporters:
         |      - type: jsonl
         |        path: "$out"
         |""".stripMargin
    graft.pipeline.ConfigLoader.fromYaml(yaml).run(spark)
    val got = spark.read.json(out)
      .select(col("doc_id").cast("long"), col("shard").cast("long"),
        col("pos").cast("long"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

    // the SAME arc built from the operators directly
    val parsed = graft.sources.Warc.parseFiles(
        spark.read.format("binaryFile").load(in))
      .filter(expr("record_type = 'response' AND http_status = 200"))
      .withColumn("doc_id",
        expr("CAST(regexp_extract(target_uri, '([0-9]+)$', 1) AS BIGINT)"))
    val txt = TextOps.htmlToText(col("payload"))
    val lines = org.apache.spark.sql.functions.filter(
      transform(split(txt, "\n"), l => trim(l)), l => l =!= "")
    val kept = org.apache.spark.sql.functions.filter(
      lines, l => size(split(l, " +")) >= 1)
    val extracted = parsed.withColumn("text", array_join(kept, "\n"))
      .withColumn("text", TextOps.normalizeConfusables(col("text")))
    val gated = extracted.filter(
      TextOps.gopherFlags(col("text")).map(_._2).reduce(_ && _))
    val hashed = gated.withColumn("__cth", md5(col("text")))
    val keepH = hashed.groupBy(col("__cth")).agg(min(col("doc_id")).as("__keep"))
    val exact = hashed.join(keepH, "__cth")
      .filter(col("doc_id") === col("__keep")).drop("__cth", "__keep")
    val sh = exact.select(col("doc_id").as("__did"),
      DedupOps.shinglesOfText(col("text"), 3).as("__shs"))
    val cc = DedupOps.connectedComponents(
      DedupOps.jaccardPairs(sh, "__did", "__shs", 0.5))
    val near = exact.join(
      cc.filter(col("id") =!= col("component")).select(col("id").as("__dropid")),
      col("doc_id") === col("__dropid"), "left_anti")
    // span-cut replica on the SAME shared kernel the config stage
    // delegates to (the spec's independent ground truth is the
    // hand-built expected md5 assertions below, not a re-derivation)
    val cutPos = DedupOps.spanCutPositions(
      graft.DataPipelineQueries.exactDupSpansFrom(
        near.select(col("doc_id"), col("text")), 15, 50))
    val rebuilt = DedupOps.spanCutRebuild(near, "doc_id", "text", cutPos)
      .select(col("doc_id"), col("kept_text").as("__ct"))
    val spancut = near
      .join(rebuilt, Seq("doc_id"), "left")
      .withColumn("text", when(col("__ct").isNotNull, col("__ct"))
        .otherwise(col("text")))
      .drop("__ct")
    val prog = ScaleOps.shuffleShard(spancut, "doc_id", 8, "cur1", portable = true)
      .select(col("doc_id").cast("long"), col("shard").cast("long"),
        col("pos").cast("long"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got == prog, s"config run ${got.size} rows vs programmatic ${prog.size}")
    // the normalize stage's teeth: the confusable twin folded to the
    // passing doc's exact bytes, joined its exact-dedup cluster and
    // was dropped — byte-hashing WITHOUT the fold would have kept it
    assert(!got.exists(_._1 == 900006L),
      "confusable twin survived exact dedup — text_normalize did not fold it")

    // a dedup_near over a NON-integral id refuses loudly at the seam
    // (connected components propagate long labels; a string id would
    // cast to NULL and silently keep every duplicate)
    val badNear = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"corpus/bad": {
         |  "receiver": {"type": "warc", "path": "$in"},
         |  "processors": [
         |    {"type": "html_to_text", "from": "payload", "to": "text", "min_words": 1},
         |    {"type": "dedup_near", "id": "target_uri", "text": "text"}],
         |  "exporters": [{"type": "logging"}]}}}""".stripMargin)
    val eNear = intercept[IllegalArgumentException] { badNear.run(spark) }
    assert(eNear.getMessage.contains("integral"), eNear.getMessage)

    // non-vacuity: every stage actually bit — the gate and BOTH dedup
    // stages dropped documents, shards cover the configured range
    val nIn = parsed.count()
    assert(got.nonEmpty && got.size < nIn.toInt,
      s"curation kept ${got.size} of $nIn — no stage dropped anything")
    assert(gated.count() < nIn, "gopher gate dropped nothing")
    assert(exact.count() < gated.count(), "exact dedup dropped nothing")
    assert(near.count() < exact.count(), "near dedup dropped nothing")
    assert(got.map(_._2).subsetOf((0L until 8L).toSet) && got.map(_._2).size > 1)
    // ...and the spancut stage BIT exactly as designed: the higher-id
    // span doc lost precisely the shared 20 tokens (its remainder
    // reassembled in order), the lower-id doc rode through verbatim —
    // both still present (span-cut never drops docs)
    val byId = got.groupBy(_._1).view.mapValues(_.head._4).toMap
    assert(byId(900004L) == md5Hex(spanDocA), "span doc_a was modified")
    assert(byId(900005L) == md5Hex(spanDocBKept),
      "span doc_b was not cut to its remainder")

    // the fused-report pipeline of the SAME yaml filed the flagship's
    // artifact: the stage's rows equal q_dedup_fused over the same
    // corpus, column for column (longs exact, mixtures to 1e-12 —
    // the jsonl roundtrip re-parses doubles)
    type Rep = (String, Seq[Long], Seq[Double])
    def repRows(df: org.apache.spark.sql.DataFrame): Map[String, (Seq[Long], Seq[Double])] =
      df.select(col("source"), col("n_docs").cast("long"),
          col("n_drop_exact").cast("long"), col("n_drop_near").cast("long"),
          col("n_cut_spans").cast("long"), col("n_keep").cast("long"),
          col("toks_before").cast("long"), col("toks_after").cast("long"),
          col("mix_before").cast("double"), col("mix_after").cast("double"))
        .collect().map(r => r.getString(0) ->
          ((1 to 7).map(r.getLong(_)), Seq(r.getDouble(8), r.getDouble(9))))
        .toMap
    val filed = repRows(spark.read.json(outReport))
    val flagship = repRows(
      SparkEntry.queries("q_dedup_fused")(spark, "/root/testdata/sf0.001"))
    assert(filed.keySet == flagship.keySet,
      s"sources differ: ${filed.keySet} vs ${flagship.keySet}")
    for ((src, (longs, mixes)) <- flagship) {
      assert(filed(src)._1 == longs, s"$src counts: ${filed(src)._1} vs $longs")
      filed(src)._2.zip(mixes).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"$src mixture: $a vs $b") }
    }
    assert(flagship.nonEmpty)

    // ...and the venn sibling filed the AGREEMENT census next to the
    // fused mixture it justifies (r14 verdict #7): the stage's rows
    // equal q_dedup_venn over the same corpus, cell for cell
    def vennRows(df: org.apache.spark.sql.DataFrame)
        : Map[(Boolean, Boolean, Boolean), (Long, Long)] =
      df.select(col("f_exact").cast("boolean"), col("f_near").cast("boolean"),
          col("f_cut").cast("boolean"), col("n_docs").cast("long"),
          col("n_tokens").cast("long"))
        .collect().map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)) ->
          ((r.getLong(3), r.getLong(4)))).toMap
    val filedVenn = vennRows(spark.read.json(outVenn))
    val flagVenn = vennRows(
      SparkEntry.queries("q_dedup_venn")(spark, "/root/testdata/sf0.001"))
    assert(filedVenn == flagVenn,
      s"venn stage ${filedVenn.size} cells vs flagship ${flagVenn.size}")
    assert(flagVenn.nonEmpty)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("pair_align_report stage files the q_pair_align census bit-for-bit (one kernel)") {
    // the dedup_venn_report discipline on the multimodal axis: the
    // stage and the §2 query share pairAlignCensus verbatim, so the
    // table a curation run files cannot drift from the flagship's
    val dir = "/root/testdata/sf0.001"
    val pairsPath = java.nio.file.Files
      .createTempDirectory("pair_in").toString + "/pairs.parquet"
    DataPipelineQueries.pairAlignPairs(spark, dir)
      .select(col("source"), col("te"), col("ie"))
      .write.parquet(pairsPath)
    val out = java.nio.file.Files
      .createTempDirectory("pair_rep").toString + "/report"
    val yaml =
      s"""pipelines:
         |  corpus/pair_align:
         |    receiver:
         |      type: parquet
         |      path: "$pairsPath"
         |    processors:
         |      - type: pair_align_report
         |        source: source
         |        image: ie
         |        text: te
         |    exporters:
         |      - type: jsonl
         |        path: "$out"
         |""".stripMargin
    graft.pipeline.ConfigLoader.fromYaml(yaml).run(spark)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"), col("t_pct").cast("long"),
        col("n_pairs").cast("long"), col("n_keep").cast("long"),
        col("keep_frac").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val filed = keyed(spark.read.json(out))
    val flagship = keyed(SparkEntry.queries("q_pair_align")(spark, dir))
    assert(filed.nonEmpty && filed == flagship,
      s"stage filed ${filed.size} cells vs flagship ${flagship.size}")
    // a frame missing the embedding columns refuses loudly
    val e = intercept[Exception] {
      graft.pipeline.ConfigLoader.fromYaml(
        s"""pipelines:
           |  corpus/bad:
           |    receiver:
           |      type: parquet
           |      path: "/root/testdata/sf0.001/documents.parquet"
           |    processors:
           |      - type: pair_align_report
           |    exporters:
           |      - type: jsonl
           |        path: "$out-bad"
           |""".stripMargin).run(spark)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("pair_align_report needs column")),
      msgs(e).mkString(" | "))
  }

  test("multimodal capstone arc: caption_dedup drops the planted refetch spam and the filed census equals the flagship's") {
    // the second capstone discipline on the pair axis: a pair table
    // carrying planted byte-identical (image, caption) refetches
    // flows caption_dedup → pair_align_report in ONE yaml; the gate
    // must remove exactly the spam, so the filed table equals
    // q_pair_align over the clean base — the census a spam-polluted
    // corpus files WITHOUT the gate would double-count image 0's
    // sources (asserted too: the arc is doing real work).
    val dir = "/root/testdata/sf0.001"
    val base = DataPipelineQueries.pairAlignPairs(spark, dir)
      .select(col("pid").as("doc_id"),
        pmod(col("pid"), lit(50)).as("img_id"),
        concat(lit("cap-"), col("pid")).as("caption"),
        col("source"), col("te"), col("ie"))
    val planted = base.filter(pmod(col("doc_id"), lit(50)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val pairsPath = java.nio.file.Files
      .createTempDirectory("cap_arc_in").toString + "/pairs.parquet"
    base.unionByName(planted).write.parquet(pairsPath)
    val out = java.nio.file.Files
      .createTempDirectory("cap_arc_rep").toString + "/report"
    graft.pipeline.ConfigLoader.fromYaml(
      s"""pipelines:
         |  corpus/pair_curation:
         |    receiver:
         |      type: parquet
         |      path: "$pairsPath"
         |    processors:
         |      - type: caption_dedup
         |        id: doc_id
         |        image: img_id
         |        text: caption
         |      - type: pair_align_report
         |        source: source
         |        image: ie
         |        text: te
         |    exporters:
         |      - type: jsonl
         |        path: "$out"
         |""".stripMargin).run(spark)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"), col("t_pct").cast("long"),
        col("n_pairs").cast("long"), col("n_keep").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val filed = keyed(spark.read.json(out))
    val flagship = keyed(SparkEntry.queries("q_pair_align")(spark, dir))
    assert(filed == flagship,
      s"arc census != flagship: ${filed.size} vs ${flagship.size} cells")
    // without the gate the spam double-counts: the polluted census
    // differs (image 0's sources gain pairs) — the stage earns its slot
    val polluted = keyed(DataPipelineQueries.pairAlignCensus(
      spark.read.parquet(pairsPath).select(col("source"),
        graft.operators.AnnOps.cosine(col("te"), col("ie")).as("sim"))))
    assert(polluted != flagship, "planted spam must be visible ungated")
  }

  test("text_fix + pii_scrub stages ride the exact census kernels (one kernel each, stage output bit-equal)") {
    import spark.implicits._
    // doctored rows: planted mojibake + planted PII, one clean row
    val inPath = java.nio.file.Files
      .createTempDirectory("fix_scrub_in").toString + "/docs.parquet"
    Seq((1L, "caf\u00C3\u00A9 \u00E2\u20AC\u2122ok mail user1@ex.com" +
        " ip 10.0.0.1 call +12345678 ref 9999"),
        (2L, "plain clean text"))
      .toDF("doc_id", "text").write.parquet(inPath)
    val df = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"docs/decode": {
         | "receiver": {"type": "parquet", "path": "$inPath"},
         | "processors": [
         |  {"type": "text_fix", "text": "text", "as": "fixed"},
         |  {"type": "pii_scrub", "text": "fixed", "as": "scrubbed"}],
         | "exporters": []}}}""".stripMargin)
      .pipelines("docs/decode").plan(spark)
    val got = df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("fixed"), r.getAs[String]("scrubbed")))).toMap
    // bit-equal to the shared kernels applied directly
    val direct = spark.read.parquet(inPath)
      .select(col("doc_id"),
        graft.operators.TextOps.fixMojibake(col("text")).as("f"))
      .select(col("doc_id"), col("f"),
        graft.operators.TextOps.piiScrub(col("f")).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got == direct)
    // and the chain did real work: mojibake repaired, PII masked
    assert(got(1L)._1.contains("caf\u00E9") && got(1L)._1.contains("\u2019ok"))
    assert(got(1L)._2.contains("<EMAIL>") && got(1L)._2.contains("<IP>") &&
      got(1L)._2.contains("<PHONE>") && got(1L)._2.contains("<NUM>"),
      got(1L)._2)
    assert(got(2L) == (("plain clean text", "plain clean text")))
  }

  test("lang_gate stage: keeps exactly the langId-vote keep set, mass matches the q_lang_id census, empty keep refuses loudly") {
    val dir = "/root/testdata/sf0.001"
    val keep = Seq("en", "es")
    val df = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"docs/lang": {
         | "receiver": {"type": "table", "dir": "$dir", "table": "documents"},
         | "processors": [{"type": "lang_gate", "text": "text",
         |                 "keep": ["en", "es"]}],
         | "exporters": []}}}""".stripMargin)
      .pipelines("docs/lang").plan(spark)
    val got = df.select("doc_id").collect().map(_.getLong(0)).toSet
    // the stage IS the census kernel as a filter — same vote, same
    // keep set as the direct composition
    val direct = Tables(spark, dir, "documents")
      .filter(graft.operators.TextOps.langId(
        graft.operators.TextOps.tokens(col("text"))).isin(keep: _*))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == direct && got.nonEmpty)
    // triple pin: gate mass == the q_lang_id census mass over
    // predicted ∈ keep (stage, query and streamingLangId monitor all
    // ride TextOps.langId — the census IS the gate's accounting)
    val censusMass = SparkEntry.queries("q_lang_id")(spark, dir).collect()
      .filter(r => keep.contains(r.getAs[String]("predicted")))
      .map(_.getAs[Long]("n")).sum
    assert(got.size.toLong == censusMass,
      s"gate kept ${got.size}, census says $censusMass")
    // an empty keep list is a config error, not an empty corpus
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.ConfigLoader.fromJson(
        s"""{"pipelines": {"docs/lang": {
           | "receiver": {"type": "table", "dir": "$dir", "table": "documents"},
           | "processors": [{"type": "lang_gate", "text": "text", "keep": []}],
           | "exporters": []}}}""".stripMargin)
        .pipelines("docs/lang").plan(spark)
    }
    assert(ex.getMessage.contains("lang_gate"))
    // null text votes 'und' AT THE GATE (review-wave finding: the
    // raw kernel's when-chain falls through NULL comparisons to its
    // otherwise-branch 'de' — fine in the census, which only
    // reports, but a gate keeping null rows as German is a
    // data-keeping bug). Nulls drop under a 'de' keep and survive
    // only when 'und' is explicitly listed.
    import spark.implicits._
    val inPath = java.nio.file.Files
      .createTempDirectory("lang_gate_null").toString + "/docs.parquet"
    Seq((1L, Some("the of and to in is on the")),
        (2L, Option.empty[String]))
      .toDF("doc_id", "text").write.parquet(inPath)
    def gate(keepJson: String): Set[Long] =
      graft.pipeline.ConfigLoader.fromJson(
        s"""{"pipelines": {"docs/lang": {
           | "receiver": {"type": "parquet", "path": "$inPath"},
           | "processors": [{"type": "lang_gate", "text": "text",
           |                 "keep": $keepJson}],
           | "exporters": []}}}""".stripMargin)
        .pipelines("docs/lang").plan(spark)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gate("""["en"]""") == Set(1L))
    assert(gate("""["de"]""") == Set.empty[Long],
      "a null-text row leaked through the gate as 'de'")
    assert(gate("""["en", "und"]""") == Set(1L, 2L))
  }

  test("keep-first dedup: null keys cluster alone, sentinel-looking data cannot merge with them, reserved helper columns refuse loudly") {
    // the r16 ADVICE pair on keepFirstStage: (a) the old " null " pad
    // DID equal the literal string " null " as data — a row carrying
    // it merged into the null-keyed cluster and could mis-drop; (b) a
    // frame already carrying a helper column silently mis-deduped.
    import spark.implicits._
    val inPath = java.nio.file.Files
      .createTempDirectory("kf_sent_in").toString + "/pairs.parquet"
    // identical captions; image keys: two nulls, two literal
    // " null " strings, one bare space — three DISTINCT clusters
    Seq((1L, "same", Option.empty[String]), (2L, "same", Option.empty[String]),
        (3L, "same", Some(" null ")), (4L, "same", Some(" null ")),
        (5L, "same", Some(" ")))
      .toDF("doc_id", "caption", "img").write.parquet(inPath)
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"pairs/gate": {
         | "receiver": {"type": "parquet", "path": "$inPath"},
         | "processors": [{"type": "caption_dedup", "id": "doc_id",
         |                 "image": "img", "text": "caption"}],
         | "exporters": []}}}""".stripMargin)
    val kept = svc.pipelines("pairs/gate").plan(spark)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // null cluster keeps 1, " null " cluster keeps 3 (NOT merged into
    // the null cluster — the old sentinel would have dropped it),
    // the " " singleton keeps
    assert(kept == Set(1L, 3L, 5L), kept.toSeq.sorted.mkString(","))
    // a frame already carrying a reserved helper column refuses at
    // stage application with the remedy named
    val clashPath = java.nio.file.Files
      .createTempDirectory("kf_clash_in").toString + "/rows.parquet"
    Seq((1L, "x", "shadow")).toDF("doc_id", "text", "__keep")
      .write.parquet(clashPath)
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.ConfigLoader.fromJson(
        s"""{"pipelines": {"docs/clash": {
           | "receiver": {"type": "parquet", "path": "$clashPath"},
           | "processors": [{"type": "dedup_exact", "id": "doc_id",
           |                 "text": "text"}],
           | "exporters": []}}}""".stripMargin)
        .pipelines("docs/clash").plan(spark)
    }
    assert(e.getMessage.contains("reserves helper column '__keep'"),
      e.getMessage)
    // the guard is case-INSENSITIVE like Spark's resolver: "__CTH"
    // would be shadowed by withColumn("__cth", ...) all the same
    val clashPath2 = java.nio.file.Files
      .createTempDirectory("kf_clash2_in").toString + "/rows.parquet"
    Seq((1L, "x", "shadow")).toDF("doc_id", "text", "__CTH")
      .write.parquet(clashPath2)
    val e2 = intercept[IllegalArgumentException] {
      graft.pipeline.ConfigLoader.fromJson(
        s"""{"pipelines": {"docs/clash2": {
           | "receiver": {"type": "parquet", "path": "$clashPath2"},
           | "processors": [{"type": "dedup_exact", "id": "doc_id",
           |                 "text": "text"}],
           | "exporters": []}}}""".stripMargin)
        .pipelines("docs/clash2").plan(spark)
    }
    assert(e2.getMessage.contains("reserves helper column '__cth'"),
      e2.getMessage)
  }

  test("pair_align_report refuses a streaming frame by name (batch-only: the census checkpoints)") {
    // the r16 ADVICE seam: the kernel localCheckpoint()s, so a
    // streaming frame must refuse at realize time with the stage
    // named and the live twin pointed to — not die in an opaque
    // AnalysisException deep inside the checkpoint
    val spool = java.nio.file.Files.createTempDirectory("par_stream_in")
    val svc = graft.pipeline.ConfigLoader.fromJson(
      s"""{"pipelines": {"logs/live": {
         | "receiver": {"type": "stream_json_logs", "path": "$spool"},
         | "processors": [{"type": "pair_align_report"}],
         | "exporters": []}}}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      svc.pipelines("logs/live").plan(spark)
    }
    assert(e.getMessage.contains("pair_align_report is batch-only") &&
      e.getMessage.contains("streamingPairAlign"), e.getMessage)
  }
}
