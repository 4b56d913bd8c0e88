package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that matter at 100 TB must be
  * visible in the plan, not assumed — filters reach the parquet scan,
  * scans prune columns, dimension joins broadcast, and hot paths stay
  * inside whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q_filter_pushdown pushes predicates into the parquet scan") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipda") || p.contains("LessThan(l_quantity"), p)
  }

  test("q_filter_pushdown prunes columns at the scan") {
    val p = plan("q_filter_pushdown")
    // only the 4 needed columns should be read, never the full 11
    assert(!p.contains("l_orderkey"), "scan reads un-needed columns:\n" + p)
  }

  test("q3_top_orders still gets a broadcast join at small SF — from stats, not a hint") {
    // customer is SF-scaled so the query carries NO hint (r4 verdict #1);
    // at sf0.001 Spark's size-based planning must still pick broadcast
    // on its own — proving that dropping the hint costs nothing small
    // while AQE keeps the right to fall back at 100×.
    val p = plan("q3_top_orders")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_join_enrich gets a broadcast join at small SF — from stats, not a hint") {
    val p = plan("q_join_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q1 aggregation is whole-stage codegen with partial aggregation") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen stages are visible
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
    // partial + final pair => map-side combine before the shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_tail_sampling plans a broadcast semi join (decision side is small)") {
    val p = plan("q_tail_sampling")
    assert(p.contains("LeftSemi"), p)
  }

  test("dedup pipelines never degrade to cartesian products") {
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_ngram_jaccard", "q_dedup_apply",
        "q_dedup_embed", "q_dedup_minhash_scale", "q_dedup_simhash_scale")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("ANN brute force is the only deliberate cross product (broadcast side)") {
    val p = plan("q_ann_bruteforce")
    // Q×N with a broadcast query set is the intended shape; it must be
    // the broadcast nested-loop form, never a shuffled cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q3_top_orders carries no broadcast hint at all") {
    // r4 verdict #1: even the mktsegment-filtered customer keeps ~20%
    // of an SF-proportional table — it scales like the facts, so a
    // forced broadcast is a 100× build-side OOM AND removes AQE's
    // fallback. Zero ResolvedHints; strategy is entirely AQE's.
    val analyzed = SparkEntry.queries("q3_top_orders")(spark, sf)
      .queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(analyzed).isEmpty, analyzed)
  }

  test("no query hints a broadcast on an unbounded SF-scaled table (mechanical)") {
    // The q12/q14 discipline, enforced like the no-global-window rule:
    // a broadcast hint is legitimate ONLY on (a) fixed-cardinality
    // dims (nation: 25 rows, region: 5 — constant at any SF), (b)
    // in-memory bounded sets (LocalRelation), or (c) subtrees of an
    // SF-scaled table that are explicitly bounded to a constant-size
    // set — a Limit, or a literal filter on a key/rank column
    // (vec_id < 10 query sets, doc_id < 25 eval sets, rk <= R
    // shortlists). customer/supplier/part/orders/lineitem/events grow
    // linearly with SF and admit no such bound in a hint subtree.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val sfScaled = Seq("customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
    val boundKeys = Set("vec_id", "doc_id", "qid", "rk")
    var inspected = 0
    for ((name, q) <- SparkEntry.queries) {
      val analyzed = q(spark, sf).queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint =>
          val leafPaths = h.child.collect {
            case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
              fs.location.rootPaths.map(_.toString)
          }.flatten
          val scaledLeaves = leafPaths.filter(p =>
            sfScaled.exists(t => p.contains(s"/$t.parquet") || p.endsWith(s"/$t")))
          if (scaledLeaves.nonEmpty) {
            inspected += 1
            val bounded = h.child.collect {
              case _: GlobalLimit => true
              case _: LocalLimit => true
              case f: Filter
                  if f.condition.references.exists(a => boundKeys(a.name)) &&
                    f.condition.collect { case l: Literal => l }.nonEmpty => true
            }
            assert(bounded.nonEmpty,
              s"$name: broadcast hint over unbounded SF-scaled leaves " +
                s"${scaledLeaves.mkString(", ")} — at 100× this is a " +
                s"build-side OOM and disables AQE fallback:\n${h.child}")
          }
        case _ => ()
      }
    }
    // self-teeth: the ANN query/probe sets are hinted bounded subtrees
    // of embeddings — if leaf matching ever silently breaks (e.g. a
    // move to DSv2 relations), this trips instead of going vacuous
    assert(inspected >= 3,
      s"rule inspected only $inspected hinted SF-scaled subtrees — leaf matching broke")
  }

  test("no query plans a single-partition global window") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_batch_assign", "q_sessionize", "q_topk_per_group",
        "q_batch_timeout", "q_batch_by_key")) {
      // sparkPlan, not executedPlan: under AQE the executed plan is an
      // AdaptiveSparkPlanExec LEAF, so collect() would traverse nothing
      // and the rule would hold vacuously
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val empty = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(empty.isEmpty,
        s"$q moves all data to one partition for a window:\n$plan")
    }
  }

  test("no query windows solely on a declared low-cardinality key (mechanical)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    // r10 verdict #1 generalized: source/domain/lang/label columns
    // have DOZENS of values at ANY scale factor — a WindowExec
    // partitioned ONLY on them is ≤ #values tasks, each sort-ranking
    // a 1/#values slice of the corpus (5 TB in one task's sort at
    // 100 TB / 20 sources): the keyed cousin of the single-partition
    // window banned above, which partitionSpec.isEmpty cannot see.
    // Ranking within such groups must ride the ranged discipline
    // (ScaleOps.groupedRankRanged / prefixSumRanged — percentile-cut
    // sub-buckets + driver offsets), which keys its window on
    // (group, bucket) and so passes here.
    // r11 verdict #4 extension: series keys (event_type/metric/
    // label_key) join the declared set — they are just as low-card —
    // BUT a window over a TIME-BUCKETED Aggregate is exempt: its
    // input is series × calendar buckets (bounded by the time range,
    // not the SF), the legitimate shape of every delta/reset/rate
    // metric op. The exemption is mechanical: some aggregate below
    // the window must group by a declared time-bucket column.
    val lowCard = Set("source", "domain", "lang", "label",
      "event_type", "metric", "label_key")
    // Detection is STRUCTURAL, not name-based (the optimizer aliases
    // grouping expressions to `_groupingexpression#N`): exempt iff an
    // aggregate below the window groups by ALL the window's partition
    // keys PLUS at least one extra dimension, and every extra
    // dimension is BOUNDED — time-derived (named like a time bucket,
    // or defined by a Project alias referencing a declared time
    // column: calendar-bounded) or a CASE whose every result is a
    // literal (a fixed bucket table: domain bounded by construction —
    // the histogram-quantile rank walks). (event_type, user_id)
    // grouping does NOT slip through: user_id is neither.
    val timeSource = Set("ts", "ts_ns", "time", "timestamp", "date",
      "bucket", "hour", "minute", "day", "window",
      "ts_min", "ts_hour", "epoch_min", "epoch_hour")
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.catalyst.expressions.{Alias, CaseWhen, Expression, Literal}
    def literalDomain(e: Expression): Boolean = e match {
      case _: Literal => true
      case c: CaseWhen =>
        c.branches.forall(b => literalDomain(b._2)) &&
          c.elseValue.forall(literalDomain)
      case _ => false
    }
    // third exempt shape: a rank-limit pushdown below the window
    // (row_number ≤ k filters plan a PARTIAL WindowGroupLimit on the
    // map side — the window's input is ≤ k rows per key per map
    // partition, never the corpus)
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    def groupLimitBelow(w: WindowExec): Boolean =
      w.child.collect { case g: WindowGroupLimitExec => g }.nonEmpty
    def boundedKeyAggBelow(w: WindowExec): Boolean = {
      val partIds = w.partitionSpec.flatMap(_.references).map(_.exprId).toSet
      w.child.collect {
        case a: BaseAggregateExec =>
          val gAttrs = a.groupingExpressions.map(_.toAttribute)
          val extra = gAttrs.filterNot(at => partIds(at.exprId))
          partIds.subsetOf(gAttrs.map(_.exprId).toSet) && extra.nonEmpty &&
            extra.forall { at =>
              timeSource(at.name.toLowerCase) ||
                a.collect {
                  case p: ProjectExec => p.projectList.exists {
                    case al: Alias => al.exprId == at.exprId &&
                      (al.references.exists(r => timeSource(r.name.toLowerCase)) ||
                        literalDomain(al.child))
                    case _ => false
                  }
                }.exists(identity)
            }
      }.exists(identity)
    }
    def timeBucketedAggBelow(w: WindowExec): Boolean =
      boundedKeyAggBelow(w) || groupLimitBelow(w)
    def violations(p: SparkPlan): Seq[WindowExec] = p.collect {
      case w: WindowExec if w.partitionSpec.nonEmpty &&
        w.partitionSpec.forall(_.references.forall(a => lowCard(a.name))) &&
        !timeBucketedAggBelow(w) => w
    }
    def exempted(p: SparkPlan): Int = p.collect {
      case w: WindowExec if w.partitionSpec.nonEmpty &&
        w.partitionSpec.forall(_.references.forall(a => lowCard(a.name))) &&
        timeBucketedAggBelow(w) => w
    }.size
    var windowsSeen = 0
    var exemptSeen = 0
    for ((name, q) <- SparkEntry.queries) {
      val plan = q(spark, sf).queryExecution.sparkPlan
      windowsSeen += plan.collect { case w: WindowExec => w }.size
      exemptSeen += exempted(plan)
      val bad = violations(plan)
      assert(bad.isEmpty,
        s"$name: WindowExec keyed solely on a declared low-cardinality " +
          s"column over an SF-scaled (non-time-bucketed) input — at 100× " +
          s"this funnels the corpus into #values tasks:\n${bad.headOption}")
    }
    // self-teeth 0: the exemption path is EXERCISED (the metric ops'
    // series × calendar-bucket windows) — if the aggregate detection
    // breaks, this trips instead of the ban silently widening
    assert(exemptSeen >= 3,
      s"only $exemptSeen series-keyed windows rode the time-bucketed " +
        "exemption — aggregate detection broke (or the metric ops changed shape)")
    // self-teeth 1: the suite genuinely plans windows (qid/doc_id/
    // series keyed) — if sparkPlan traversal ever stops seeing
    // WindowExec (e.g. a planner change wraps them), trip instead of
    // passing vacuously
    assert(windowsSeen >= 5,
      s"rule saw only $windowsSeen WindowExec nodes across the suite — traversal broke")
    // self-teeth 2: the banned shape IS detected when present
    val offending = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(org.apache.spark.sql.functions.col("source"))
          .orderBy(org.apache.spark.sql.functions.col("doc_id"))))
    assert(violations(offending.queryExecution.sparkPlan).nonEmpty,
      "checker failed to flag a window keyed solely on `source`")
    // self-teeth 3: a SERIES key over a RAW SF-scaled frame (no
    // time-bucketed aggregate below) trips — the exemption must not
    // swallow the shape the extension exists to catch
    val offendingSeries = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(org.apache.spark.sql.functions.col("event_type"))
          .orderBy(org.apache.spark.sql.functions.col("event_id"))))
    assert(violations(offendingSeries.queryExecution.sparkPlan).nonEmpty,
      "checker failed to flag a raw-frame window keyed solely on `event_type`")
    // ...and the SAME key over a time-bucketed Aggregate is exempt
    // (the q_counter_resets shape, asserted directly)
    val exemptShape = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions
          .expr("unix_micros(cast(ts as timestamp)) DIV 3600000000").as("bucket"))
      .agg(org.apache.spark.sql.functions.count("*").as("c"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(org.apache.spark.sql.functions.col("event_type"))
          .orderBy(org.apache.spark.sql.functions.col("bucket"))))
    assert(violations(exemptShape.queryExecution.sparkPlan).isEmpty,
      "exemption failed: series window over a time-bucketed Aggregate flagged")
  }

  test("PQ/IVF index builds run no corpus-wide window — only per-query search windows") {
    // r3 verdict #1: the PQ codebook init ran row_number over
    // Window.partitionBy(s) — m partitions each sorting the full
    // corpus. The fix is pinned here at execution level: capture every
    // plan the PQ and IVF-PQ pipelines actually run and assert any
    // WindowExec partitions by qid (per-query top-k), never by a
    // low-cardinality build key.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q_ann_pq")(spark, sf).collect()
      SparkEntry.queries("q_ann_ivfpq")(spark, sf).collect()
      // the listener bus is async; wait for the capture to go quiet
      var last = -1
      var stable = 0
      while (stable < 4 && last < 1000) {
        Thread.sleep(250)
        if (plans.size == last) stable += 1 else { stable = 0; last = plans.size }
      }
    } finally spark.listenerManager.unregister(listener)
    // only judge the ANN pipelines' own plans (other suites may share
    // the session concurrently): they all carry a native ANN kernel
    val markers = Seq("nearest_code_l2", "nearest_centroid", "l2_table", "cosine_table", "l2_sq")
    val annPlans = plans.toArray(Array.empty[String])
      .filter(p => markers.exists(p.contains))
    assert(annPlans.nonEmpty, "listener captured no ANN plans")
    for (p <- annPlans; line <- p.linesIterator if line.contains("Window ")) {
      assert(line.contains("qid#"),
        s"ANN pipeline window not partitioned per-query:\n$line\nfull plan:\n$p")
    }
  }

  test("nearest_centroid stays one bounded expression at c=256") {
    // the r3 formulation inlined c cosine expressions — at c=256 the
    // plan string alone is >100 KB and codegen falls over; the native
    // expression keeps the centroid table a single reference object
    import graft.operators.AnnOps
    import org.apache.spark.sql.functions.col
    val cents: Array[Seq[Double]] =
      Array.tabulate(256)(i => (0 until 64).map(d => math.sin(i * 64.0 + d + 1)))
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val df = e.withColumn("cid", AnnOps.nearestCentroid(col("v"), cents))
    val p = df.queryExecution.executedPlan.toString
    assert(p.length < 20000, s"plan grows with c (${p.length} chars)")
    assert(p.contains("nearest_centroid"), p)
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got.values.forall(c => c >= 0 && c < 256))
    // spot-check argmax against a driver-side fold (same arithmetic)
    val vecs = e.limit(20).collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    vecs.foreach { case (id, v) =>
      val sims = cents.map { ct =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        v.indices.foreach { d => dot += v(d) * ct(d); na += v(d) * v(d); nb += ct(d) * ct(d) }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      assert(got(id) == sims.indexOf(sims.max), s"vec $id")
    }
  }

  test("q17 decorrelates with agg + join-back: no window, shared partkey exchange") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q17_small_quantity")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan
    // the correlated subquery must NOT become a per-partkey window
    // over the fact (that resorts every partition group for one
    // scalar) — it is an aggregate joined back on the grouping key
    assert(plan.toString.linesIterator.forall(!_.contains("Window ")), plan)
    // both branches shuffle on l_partkey → the exchange is computed
    // once and reused, not scanned twice
    assert(plan.toString.contains("ReusedExchange") ||
      plan.toString.contains("ReusedQueryStage") ||
      plan.toString.contains("TableCacheQueryStage"), plan)
    val empty = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(empty.isEmpty)
  }

  test("q2 min-cost join-back: no cartesian, supply aggregate computed once where canonicalization allows") {
    val df = SparkEntry.queries("q2_min_cost_supplier")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the decorrelated min joins back on (l_partkey, supplycost) —
    // both branches grow from the SAME supply subtree, so the
    // (l_partkey, l_suppkey) aggregate's exchange is reused instead
    // of re-scanning the fact
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"), p)
  }

  test("q11 stays non-empty on a perfectly uniform distribution (the OR-max branch has teeth)") {
    // review-wave finding: pigeonhole only guarantees max >= 1.0x
    // mean, so the 1.5x-mean band alone selects ZERO rows when every
    // part holds the same value — exactly the silent re-vacating the
    // de-vacuation set out to kill. The always-include-max branch
    // makes non-emptiness a construction; on a uniform corpus every
    // part IS the max, so all of them report.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q11_uniform").toString
    Seq((0, "NATION_0", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, 0)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    (1L to 4L).map(p => (p, 1L, 100.0))
      .toDF("l_partkey", "l_suppkey", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("q11_important_stock")(spark, dir).collect()
    assert(rows.length == 4, s"uniform corpus must keep all max-ties, got ${rows.length}")
  }

  test("q11's global threshold is ONE broadcast scalar, never a per-row re-aggregation") {
    val df = SparkEntry.queries("q11_important_stock")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the q22 discipline: the grand total is a 1-row aggregate that
    // broadcasts on its own (BNLJ on a single row is the right plan)
    assert(!p.contains("CartesianProduct"), p)
    // the per-part aggregate is checkpointed once — the fact appears
    // at most once across the whole executed plan (zero times when
    // the checkpoint hides the lineage), never once per consumer
    assert("lineitem".r.findAllIn(p).size <= 1,
      s"q11 rescans the fact for its grand total:\n$p")
  }

  test("q21 scans lineitem and orders exactly ONCE (fused per-order aggregate)") {
    // r5 verdict #1: the two-branch formulation (late candidates ∨
    // per-order counts) scanned lineitem AND orders twice with zero
    // exchange reuse — 2× the dominant I/O at 100 TB. The fused shape
    // carries the late-supplier set and late-row count through ONE
    // aggregate; this pins a single leaf per table in the FINAL
    // adaptive plan.
    val df = SparkEntry.queries("q21_waiting_suppliers")(spark, sf)
    df.collect() // finalize the adaptive plan
    val full = df.queryExecution.executedPlan.toString
    // AQE prints "== Final Plan ==" then "== Initial Plan ==" — only
    // judge the final one
    val finalPlan = full.split("== Initial Plan ==")(0)
    def scans(prefix: String): Int =
      finalPlan.linesIterator.count(l => l.contains("FileScan parquet") &&
        l.contains(s"[$prefix"))
    assert(scans("l_") == 1, s"lineitem scanned ${scans("l_")} times:\n$finalPlan")
    assert(scans("o_") == 1, s"orders scanned ${scans("o_")} times:\n$finalPlan")
    // and the fused aggregate must stay a plain hash aggregate — no
    // countDistinct Expand re-widening the fact
    assert(!finalPlan.contains("Expand"), finalPlan)
  }

  test("q15 computes the revenue view once: single lineitem leaf, exchange reused") {
    // the max-over-view consumer and the supplier join consume the
    // SAME per-supplier aggregate; the l_suppkey exchange must be
    // computed once (q17/q21 discipline), not re-derived from a
    // second fact scan
    val df = SparkEntry.queries("q15_top_supplier")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = finalPlan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("[l_"))
    assert(scans == 1, s"lineitem scanned $scans times:\n$finalPlan")
    assert(finalPlan.contains("ReusedExchange") ||
      finalPlan.contains("ReusedQueryStage") ||
      finalPlan.contains("TableCacheQueryStage"), finalPlan)
  }

  test("q_bucketed_join joins with ZERO exchanges on the bucket key") {
    // the durable-layout lever must actually show up in the executed
    // plan: both sides read bucket pairs directly into the sort-merge
    // join, no Exchange on either join key anywhere — the only
    // exchange allowed is the final groupBy's (different key)
    val df = SparkEntry.queries("q_bucketed_join")(spark, sf)
    df.collect() // finalize the adaptive plan
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(finalPlan.contains("SortMergeJoin"), finalPlan)
    assert("Exchange hashpartitioning\\((l_orderkey|o_orderkey)#".r
      .findAllIn(finalPlan).isEmpty,
      s"join on the bucket key still shuffles:\n$finalPlan")
    // sortBy metadata + one-file-per-bucket (the aligned write) +
    // the sorted-scan flag: the SMJ runs with ZERO Sort nodes too —
    // the lake layout carries the order, nothing re-sorts at read
    assert(!finalPlan.contains(") Sort ["),
      s"bucketed-sorted scan still re-sorts:\n$finalPlan")
  }

  test("q19's OR-of-ANDs predicate splits across BOTH scan sides") {
    // the Q19 point: (brandᵢ ∧ sizeᵢ ∧ qtyᵢ) disjunctions must not be
    // evaluated post-join — the per-side disjunctions (qty ranges →
    // lineitem, brand/size → part) each reach their parquet scan
    val p = plan("q19_disjunctive")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or(") ||
      p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"), p)
    assert(p.contains("Or(Or(And(EqualTo(p_brand"), p)
    // and both scans prune to only the needed columns
    assert(!p.contains("l_shipdate") && !p.contains("p_name"), p)
  }

  test("bm25/lm-bigram: posting filters stay map-side, no cartesian blowup") {
    // q_bm25's isin filter must run in the explode stage (before the
    // doc,term aggregate's exchange) — at 100 TB the wide op carries
    // query-term hits only, never corpus tokens
    val p = plan("q_bm25")
    assert(!p.contains("CartesianProduct"), p)
    val lines = p.linesIterator.toSeq
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("spark"))
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(filterIdx >= 0 && genIdx >= 0, p)
    // toString prints consumers above producers: the term filter must
    // sit directly on the explode output (adjacent, no exchange between)
    val between = lines.slice(math.min(filterIdx, genIdx), math.max(filterIdx, genIdx))
    assert(!between.exists(_.contains("Exchange")),
      s"posting filter separated from explode by an exchange:\n$p")
    val p2 = plan("q_lm_bigram")
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("q_html_extract and q_doc_chunk stay map-side: zero exchanges") {
    // HTML extraction and chunking are per-doc rewrites — at 100 TB
    // neither may shuffle anything, least of all page bodies
    for (q <- Seq("q_html_extract", "q_doc_chunk")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("q_filter_events keeps the filter adjacent to the scan") {
    val p = plan("q_filter_events")
    assert(p.contains("PushedFilters: [IsNotNull(event_type)") ||
      p.contains("EqualTo(event_type"), p)
  }

  test("stats-report queries never put text through an Exchange (mechanical, broadcast disabled)") {
    // r7 verdict #1: q_curation_funnel referenced `text` above its
    // dup-hash join — fine at small SF where the dup side broadcasts,
    // but at 100× the dup table has corpus cardinality, AQE must
    // sort-merge, and the docs side then shuffles FULL TEXT to produce
    // a five-number report. The discipline (already followed by
    // q_domain_stats): compute per-doc scalars map-side, join/aggregate
    // only scalars. Enforced here the way the broadcast-hint rule is:
    // with every broadcast path disabled, walk the final physical plan
    // and assert no Exchange's input attribute set contains `text` —
    // so a broadcast at tiny SF can never mask a latent text shuffle.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    def exchanges(p: SparkPlan): Seq[Exchange] = {
      val buf = scala.collection.mutable.ArrayBuffer[Exchange]()
      def go(n: SparkPlan): Unit = n match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case e: Exchange => buf += e; e.children.foreach(go)
        case other => other.children.foreach(go)
      }
      go(p)
      buf.toSeq
    }
    var sawExchange = 0
    for (q <- Seq("q_curation_funnel", "q_domain_stats", "q_vocab_stats",
                  "q_domain_mixture", "q_ppl_buckets", "q_gopher_rules",
                  "q_url_filter", "q_quality_classifier", "q_zorder_layout",
                  "q_cardinality_sketch", "q_heavy_hitters",
                  "q_truncation_loss")) {
      val df = SparkEntry.queries(q)(s2, sf)
      df.collect() // finalize the adaptive plan
      val exs = exchanges(df.queryExecution.executedPlan)
      sawExchange += exs.size
      for (e <- exs) {
        val carried = e.child.output.map(_.name)
        assert(!carried.exists(_.equalsIgnoreCase("text")),
          s"$q shuffles full text to produce a stats report " +
            s"(exchange input: ${carried.mkString(", ")}):\n${e.child}")
      }
    }
    // self-teeth: with broadcast off these queries MUST shuffle
    // something (the hash/term aggregates) — zero exchanges means the
    // walk silently broke, not that the rule passed
    assert(sawExchange >= 3,
      s"rule inspected only $sawExchange exchanges — plan walk broke")
  }

  test("q_cluster_topics joins per-doc term AGGREGATES to the assignment, never the raw token stream") {
    // r9 verdict #1: the assignment join used to take the exploded
    // token INSTANCES as input — at 100 TB that is a corpus-token-
    // sized shuffle with zero partial aggregation ahead of it. The
    // fix pre-aggregates (doc_id, term) -> doc_tf so map-side combine
    // collapses within-doc duplicates before the join exchange. Pin:
    // every physical join whose inputs carry `term` must have an
    // aggregate grouped on (doc_id, term) below that side.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val df = SparkEntry.queries("q_cluster_topics")(s2, sf)
    df.collect() // finalize the adaptive plan
    def kids(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def collectJoins(n: SparkPlan): Seq[BaseJoinExec] = (n match {
      case j: BaseJoinExec => Seq(j)
      case _ => Seq.empty
    }) ++ kids(n).flatMap(collectJoins)
    def hasDocTermAgg(n: SparkPlan): Boolean = {
      val grouping: Option[Seq[String]] = n match {
        case h: HashAggregateExec => Some(h.groupingExpressions.map(_.name))
        case o: ObjectHashAggregateExec => Some(o.groupingExpressions.map(_.name))
        case s: SortAggregateExec => Some(s.groupingExpressions.map(_.name))
        case _ => None
      }
      grouping.exists(g => g.contains("doc_id") && g.contains("term")) ||
        kids(n).exists(hasDocTermAgg)
    }
    val termJoins = collectJoins(df.queryExecution.executedPlan)
      .filter(j => (j.left.output ++ j.right.output).exists(_.name == "term"))
    assert(termJoins.nonEmpty, "no join carrying `term` found — plan walk broke")
    for (j <- termJoins; side <- Seq(j.left, j.right)
         if side.output.exists(_.name == "term"))
      assert(hasDocTermAgg(side),
        s"raw token stream feeds the assignment join (no (doc_id, term) " +
          s"aggregate below it):\n$side")
  }

  test("q_dedup_bloom: the bloom probe filters the store scan MAP-SIDE (below every Exchange)") {
    // the whole point of the bloom pre-filter is to shrink the store
    // shuffle: if the bloom_might_contain Filter ever floats above an
    // Exchange, the store shuffles unfiltered and the filter is
    // decorative. Walk the executed plan: every Filter mentioning
    // bloom_might_contain must have an exchange-free subtree.
    // asserted on the compiled physical plan (pre-AQE): at sf0.001
    // the filter is selective enough that AQE propagates the EMPTY
    // store branch away entirely (the join collapses to a null
    // literal — the pre-filter working maximally), so the final
    // adaptive plan may not contain the Filter at all. Placement is
    // decided by Catalyst, which AQE never reverses.
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = SparkEntry.queries("q_dedup_bloom")(spark, sf)
    def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
      f(p); p.children.foreach(walk(_)(f))
    }
    var bloomFilters = 0
    walk(df.queryExecution.sparkPlan) {
      case fe: FilterExec if fe.condition.toString.contains("bloom_might_contain") =>
        bloomFilters += 1
        var exchangesBelow = 0
        walk(fe.child) { case _: Exchange => exchangesBelow += 1; case _ => () }
        assert(exchangesBelow == 0,
          s"bloom filter sits ABOVE an exchange — store shuffles unfiltered:\n$fe")
      case _ => ()
    }
    assert(bloomFilters >= 1, "no bloom_might_contain Filter in the physical plan")
  }

  /** what the pb log receiver's speed rests on, read off an executed
    * plan: no JSON parse, no lambda, the wire decoder once per
    * request, and small generated code per whole-stage subtree */
  private def pbLogPlanViolations(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{JsonToStructs, LambdaFunction}
    import org.apache.spark.sql.execution.LeafExecNode
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.sources.{OtlpLogsPbToJson, OtlpLogsPbToRows, OtlpLogsPbToRowsSafe}
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exprs = plan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    // a file scan only lists its data filters (for file pruning); the
    // operators above it are what evaluate expressions per row
    val evaluated = plan.collect { case p if !p.isInstanceOf[LeafExecNode] => p.expressions }
      .flatten.flatMap(_.collect { case e => e })
    val decoders = evaluated.count {
      case _: OtlpLogsPbToRows | _: OtlpLogsPbToRowsSafe | _: OtlpLogsPbToJson => true
      case _ => false
    }
    val codeChars = org.apache.spark.sql.execution.debug.codegenStringSeq(plan).map(_._2.length)
    Seq(
      exprs.exists(_.isInstanceOf[JsonToStructs]) -> "JsonToStructs in the plan",
      exprs.exists(_.isInstanceOf[LambdaFunction]) -> "LambdaFunction in the plan",
      (decoders != 1) -> s"the decoder appears $decoders times",
      codeChars.exists(_ > PbLogCodegenMaxChars) ->
        s"generated source per subtree ${codeChars.mkString(", ")} chars > $PbLogCodegenMaxChars"
    ).collect { case (true, why) => why }
  }

  /** the retired JSON chain generated 68k and 163k characters */
  private val PbLogCodegenMaxChars = 30000

  test("pb log receivers plan one scan, one generator and flat columns, decoding once per request") {
    import org.apache.spark.sql.functions.col
    import graft.sources.OtlpJsonSource
    import org.apache.spark.sql.functions.length
    def spool(files: (String, Array[Byte])*) = {
      val dir = java.nio.file.Files.createTempDirectory("plan_pb_logs")
      files.foreach { case (n, b) => java.nio.file.Files.write(dir.resolve(n), b) }
      spark.read.format("binaryFile").load(dir.toString).select(col("content").as("pb"))
    }
    val pb = PbWire.request(Seq("service.name" -> PbWire.str(1, "api")), "graft",
      PbWire.fixed64(1, 1L) ++ PbWire.vint(2, 9) ++ PbWire.lenDelim(5, PbWire.str(1, "m")) ++
        PbWire.lenDelim(6, PbWire.kv("k", PbWire.array(PbWire.str(1, "a")))))
    val goodOnly = spool("r.pb" -> pb)
    val mixed = spool("r.pb" -> pb, "bad.pb" -> Array[Byte](0x0a, 0x7f, 0x01))
    val (good, dlq) = OtlpJsonSource.parseLogsPbWithDlq(mixed)
    def pushed(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("severity_number") >= 9).filter(col("body").isNotNull)
        .filter(col("resource_attributes").isNotNull)
    val cases = Seq(
      "parseLogsPb" -> OtlpJsonSource.parseLogsPb(goodOnly),
      "parseLogsPb, filtered" -> pushed(OtlpJsonSource.parseLogsPb(goodOnly.filter(length(col("pb")) > 0))),
      "parseLogsPbWithDlq good" -> good,
      "parseLogsPbWithDlq good, filtered" -> pushed(good),
      "parseLogsPbWithDlq dlq" -> dlq,
      "parseLogsPbWithDlq dlq, filtered" -> dlq.filter(length(col("raw")) > 0))
    for ((name, df) <- cases) {
      val v = pbLogPlanViolations(df)
      assert(v.isEmpty, s"$name: ${v.mkString("; ")}\n${df.queryExecution.executedPlan}")
    }
    // the check has teeth: the retired pb → JSON → from_json chain fails it
    val legacy = pbLogPlanViolations(LegacyPbLogs.parse(goodOnly))
    assert(legacy.exists(_.contains("JsonToStructs")) && legacy.exists(_.contains("LambdaFunction")), legacy)
  }
}
