package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AnnOps, DedupOps, MultimodalOps, ScaleOps, SketchOps, TextOps}
import QUtil._

/** LLM-training-data-pipeline queries (SURVEY §2 dedup / similarity /
  * text / multimodal). sql-oracled where the arithmetic is portable;
  * xxhash64-based ops (minhash, simhash, hyperplane LSH) are
  * rows-only and spec-verified instead (DuckDB lacks xxhash64).
  */
object DataPipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "embeddings")

  /** documents + a PLANTED exact-duplicate family (r15 verdict #2 —
    * the q_url_canon synthesis discipline): the driver corpus has
    * zero exact dups below sf0.1, so q_dedup_exact /
    * q_dedup_cross_source / q_doc_rollhash matched their oracles on
    * 0 = 0 rows — correct but vacuous as a driver signal. Every doc
    * with doc_id ≡ 0 (mod 50) gains a byte-identical mirror copy
    * under source 'mirror' at doc_id + 100,000,000 (collision-free:
    * real ids are dense from 0; 'mirror' sorts before every 'srcN'
    * so cross-source pairs orient deterministically). ≥10 planted
    * clusters at the smallest SF, identical UNION ALL in the oracle
    * CTE [[MirrorDocsSql]] — the driver's rows+schema+hash gate now
    * proves the dedup arithmetic, not the empty set. Scale shape:
    * the union adds 2% rows map-side, no extra exchange. */
  private def docsWithMirror(s: SparkSession, dir: String): DataFrame = {
    // id-space guard (r16 ADVICE): the +100,000,000 mirror offset is
    // collision-free only while real ids stay below it — and the
    // oracle CTE shares the identical construction, so a collision
    // would corrupt BOTH engines consistently and sail through the
    // hash gate. Fail loudly map-side instead (raise_error rides the
    // scan projection — no extra job, no exchange); a bigger-SF
    // corpus that ever crosses 100M dense ids turns into a named
    // error, not a silently-matching corrupted census.
    val d = docs(s, dir).withColumn("doc_id",
      when(col("doc_id") >= lit(100000000L),
        raise_error(concat(lit("docsWithMirror: doc_id "),
          col("doc_id").cast("string"),
          lit(" >= 100000000 collides with the mirror id space"))).cast("long"))
        .otherwise(col("doc_id")))
    d.unionByName(
      d.filter(pmod(col("doc_id"), lit(50)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(100000000L))
        .withColumn("source", lit("mirror")))
  }

  /** The paired view — (pid, te, ie, source) per pair: paired views
    * on the XOR-1 partner (text side = own vector, image side = the
    * partner's), source attached via one co-partitioned self-join.
    * The shape a real pair table ships in, and what the
    * `pair_align_report` config stage consumes. */
  def pairAlignPairs(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val txt = e.select(col("vec_id").as("pid"), col("v").as("te"))
    val img = e.select(col("vec_id").bitwiseXOR(lit(1L)).as("pid"),
      col("v").as("ie"))
    txt.join(img, "pid")
      .join(docs(s, dir).select(col("doc_id").as("pid"), col("source")),
        "pid")
  }

  /** The ONE image-text pair-similarity kernel behind q_pair_align
    * (batch census, oracled) and streamingPairAlign (live monitor):
    * [[pairAlignPairs]] + per-pair cosine, (source, sim) out — shared
    * so the batch curve and the monitor's buckets cannot drift. */
  def pairAlignSims(s: SparkSession, dir: String): DataFrame =
    pairAlignPairs(s, dir)
      .select(col("source"), AnnOps.cosine(col("te"), col("ie")).as("sim"))

  /** the census tail over a (source, sim) frame: checkpoint the ONE
    * pair pass, broadcast the 8-point grid, keep/drop per (source,
    * threshold) — shared verbatim by q_pair_align and the
    * `pair_align_report` config stage (one kernel, no drift).
    * NaN sims (a zero vector on either side NaN-poisons cosine —
    * the q_embed_norm_qa hazard) count in n_pairs but NEVER keep:
    * both engines order NaN above every number, so the unguarded
    * compare would silently pass undefined-alignment pairs at EVERY
    * cutoff — engine-consistent, curation-wrong (the q_quantize_sweep
    * zero-scale guard discipline, applied on both sides). */
  def pairAlignCensus(sims: DataFrame): DataFrame = {
    val s = sims.sparkSession
    val pairs = sims.localCheckpoint()
    val grid = {
      import s.implicits._
      (-1 to 6).map(i => (i * 5).toLong).toDF("t_pct")
    }
    pairs.crossJoin(broadcast(grid))
      .groupBy(col("source"), col("t_pct"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(!isnan(col("sim")) &&
            col("sim") * lit(100) >= col("t_pct").cast("double"), 1L)
          .otherwise(0L)).cast("long").as("n_keep"))
      .withColumn("keep_frac",
        col("n_keep").cast("double") / col("n_pairs").cast("double"))
  }

  /** the oracle's half of [[docsWithMirror]] — keep the two in
    * lockstep or the hash gate fails loudly */
  private val MirrorDocsSql: String =
    """documents_m AS (
      | SELECT doc_id, text, lang, source, n_chars FROM documents
      | UNION ALL
      | SELECT doc_id + 100000000, text, lang, 'mirror', n_chars
      | FROM documents WHERE doc_id % 50 = 0)""".stripMargin

  /** The ONE novelty-census kernel behind q_novelty (md5, oracled),
    * q_novelty_scale (xxhash64, the production key width) and the
    * `novelty_report` config stage: the segment stream reduces along
    * two independent key paths and the only join is doc-sized — see
    * the q_novelty registration comment and the PLANS.md exemplar.
    * `hash` maps the segment text to its key; any
    * practically-injective choice yields the identical census
    * (twin-spec-pinned). Input columns: doc_id, source, text. */
  /** the census's segment stream: distinct (doc_id, source, h) per
    * doc — ONE extraction kernel shared by the full census AND the
    * incremental probe (segmentation cannot drift between the two) */
  private def noveltySegs(d: DataFrame, hash: Column => Column): DataFrame =
    d.withColumn("__ws", TextOps.tokens(col("text")))
      .filter(size(col("__ws")) >= 1)
      .select(col("doc_id"), col("source"),
        explode(TextOps.segments8(col("__ws"))).as("seg"))
      .select(col("doc_id"), col("source"), hash(col("seg")).as("h"))
      .distinct()

  /** per-doc novel counts → the (source, bucket) census rollup —
    * shared tail of the full and incremental census forms */
  private def noveltyRollup(perDoc: DataFrame, novel: DataFrame): DataFrame =
    perDoc.join(novel, col("doc_id") === col("first_id"), "left")
      .select(col("source"), col("n_segs"),
        coalesce(col("__nn"), lit(0L)).as("n_novel"))
      .withColumn("bucket", expr("n_novel * 10 DIV n_segs"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_segs")).cast("long").as("segs"),
        sum(col("n_novel")).cast("long").as("novel_segs"))

  def noveltyCensus(d: DataFrame, hash: Column => Column): DataFrame = {
    val segs = noveltySegs(d, hash)
    val perDoc = segs.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_segs"))
    val novel = segs.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
      .groupBy(col("first_id")).agg(count(lit(1)).as("__nn"))
    noveltyRollup(perDoc, novel)
  }

  /** Incremental first-occurrence novelty (r14 verdict #4 — the
    * q_dedup_incremental discipline on the SEGMENT axis): the daily
    * batch's census against a persisted fingerprint STORE of
    * already-seen segment hashes. The store is a one-column hash
    * table — its text is never read, its docs never re-segmented;
    * batch segments extract once (the shared noveltySegs kernel),
    * reduce to within-batch first carriers, and ONE anti-join probe
    * against the store decides novelty. Only new-first-carrier rows
    * survive the probe. Equals the full census on (store ∪ batch)
    * restricted to batch docs whenever store ids precede batch ids
    * (first-arrival == min-id, the crawl-order premise q_novelty
    * encodes — oracle-pinned on the id-ordered split).
    *
    * Scale shape: the probe's shuffle is ∝ distinct NEW hashes in
    * the batch (the firsts frame), never ∝ store — the store side
    * arrives pre-distinct and joins hash-keyed; a day's work is a
    * day's segments plus one store scan, the q_dedup_incremental
    * contract. */
  def noveltyIncremental(store: DataFrame, batch: DataFrame,
                         hash: Column => Column): DataFrame = {
    val segs = noveltySegs(batch, hash)
    val perDoc = segs.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_segs"))
    val firsts = segs.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    val novel = firsts.join(store.select(col("h")), Seq("h"), "left_anti")
      .groupBy(col("first_id")).agg(count(lit(1)).as("__nn"))
    noveltyRollup(perDoc, novel)
  }

  /** The shared near-dup pair graph (3-gram shingles, exact Jaccard
    * >= 0.5 over banding-free posting lists) — the ONE Spark-side
    * twin of [[CcClosureSql]]; every dedup query derives its pairs
    * here so the near-dup definition cannot drift between siblings. */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir).select(col("doc_id"),
      DedupOps.shinglesOfText(col("text"), 3).as("shs"))
    DedupOps.jaccardPairs(sh, "doc_id", "shs", threshold = 0.5)
  }

  /** Shared winnowing selection (q_winnowing / q_winnow_pairs): one
    * row per (doc, distinct selected hash) with the doc's gram count.
    * The packed key c = h*POSCAP + (POSCAP-1-pos) makes min(c) over
    * the forward window equal (min h, rightmost pos) — Schleimer's
    * tie rule as a plain integer window MIN. */
  /** packed winnowing key width: 2^21 in-doc positions; h < 2^32 →
    * c = h·POSCAP + (POSCAP−1−pos) < 2^53 (exact in a long) — ONE
    * value shared by the pack, the unpack and the overflow guard */
  private val POSCAP = 2097152L

  private def winnowSelect(s: SparkSession, dir: String): DataFrame = {
    // r19: the gram explode + md5-per-gram + per-doc window MIN (an
    // interpreted-HOF gram builder and one gram-level Exchange+Sort)
    // collapsed into ONE native per-doc pass (winnow_hashes — parity
    // with the window SQL formulation is spec-pinned via
    // winnow_packed). The per-doc hash dedup happens IN the kernel,
    // so a (doc_id, h_sel) explode is already globally distinct and
    // the old distinct Exchange disappears outright (guide §2.4).
    docs(s, dir)
      .withColumn("__ws", TextOps.tokens(col("text")))
      .filter(size(col("__ws")) >= 7) // >= 1 full window: k+w-1
      .withColumn("n_grams", (size(col("__ws")) - 3).cast("long"))
      .select(col("doc_id"), col("n_grams"), explode(
        graft.functions.HashExprs.winnow_hashes(col("__ws"))).as("h_sel"))
  }

  /** Exact duplicated-substring spans (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * flagship): maximal cross-doc token spans ≥ `minLen` shared
    * VERBATIM, with doc/offset pairs so a curation pass can cut them.
    * Distributed as anchors → sorted anchor join → extension verify,
    * never a suffix array and never text²:
    *
    *  1. ANCHORS: the [[winnowSelect]] fingerprints, kept WITH their
    *     selected position (pos = POSCAP-1 − wmin mod POSCAP — the
    *     packed tie-rule decoded). Winnowing's guarantee (Schleimer
    *     et al.) is exactly what an exact-substring anchor needs: any
    *     common substring of ≥ k+w−1 = 7 tokens shares at least one
    *     SELECTED fingerprint, so no span ≥ `minLen` ≥ 7 can be
    *     missed. Expected anchors ≈ 2/(w+1) per token — the shuffle
    *     is ∝ anchors, not tokens².
    *  2. CAP: fingerprints in more than `dfCap` docs drop before the
    *     pair join (boilerplate bound — the maxDf cap every
    *     fingerprint joiner here carries); an n-fold duplicate emits
    *     ≤ C(cap,2) pairs per anchor.
    *  3. JOIN: anchor pairs on the 8-byte hash, doc_a < doc_b (one
    *     orientation); only hashes and positions shuffle here.
    *  4. EXTENSION VERIFY, once per doc PAIR: anchor pairs group per
    *     (doc_a, doc_b) — collect_list bounded by the df cap × doc
    *     length — and the token arrays join back onto ONE row per
    *     pair, never one per anchor (per-anchor rows replicated both
    *     arrays ≈0.4·T times for a near-mirror pair). A single fold
    *     walks the anchors sorted by (diagonal = pa−pb, pa): an
    *     anchor inside the previous maximal span ON ITS DIAGONAL is
    *     skipped outright (same maximal span by construction — or a
    *     hash collision when its gram crosses the span-ending
    *     mismatch), the anchor gram re-checks for collisions, and
    *     only region-STARTING anchors extend — left scan capped by
    *     the previous span's known mismatch, both scans short-circuit
    *     after the first mismatch (IF keeps the post-mismatch lambda
    *     steps array-access-free). Extension CPU is ∝ region length,
    *     not region² — a near-mirror pair costs one O(T) walk.
    *
    * Output: (doc_a, doc_b, start_a, start_b, span_len), 1-based
    * token offsets. */
  private def exactDupSpans(s: SparkSession, dir: String,
                            minLen: Int, dfCap: Int): DataFrame =
    exactDupSpansFrom(docs(s, dir), minLen, dfCap)

  /** The fused dedup DECISION report — one kernel behind BOTH the
    * q_dedup_fused §2 query and the `dedup_fused_report` config stage
    * (the spancut no-drift discipline: a curation run files the same
    * artifact the flagship query computes). Input frame needs
    * (doc_id long, source string, text string). Per doc ONE verdict
    * with precedence drop_exact (md5 keep-min) → drop_near (CC
    * keep-rule over exact-Jaccard pairs) → cut_spans (ExactSubstr
    * b-side coverage ≥ `cutFrac` of tokens) → keep, reported as the
    * per-source before/after token-mass mixture. The verdict frame is
    * localCheckpoint'd so CC + ExactSubstr run once across the three
    * consuming aggregates. */
  /** Per-doc dedup FAMILY FLAGS — the one frame behind both fused
    * surfaces: (doc_id, source, n_toks, __ex exact-drop, __near
    * CC-drop, __cut covered-token count). [[fusedDedupReport]] folds
    * it into the precedence verdict; q_dedup_venn censuses the raw
    * overlap. ONE copy, so the two reports cannot disagree on what
    * each family would flag. */
  private def dedupFlagFrame(d: DataFrame, minLen: Int, dfCap: Int,
                             jaccard: Double, shingle: Int): DataFrame = {
    val hashed = d.select(col("doc_id"), md5(col("text")).as("__h"))
    val keepMin = hashed.groupBy(col("__h"))
      .agg(min(col("doc_id")).as("__keep"))
    val exDrop = hashed.join(keepMin, "__h")
      .filter(col("doc_id") =!= col("__keep"))
      .select(col("doc_id")).withColumn("__ex", lit(true))
    // the CC branch (bounded pair collect + union-find) and the
    // ExactSubstr branch (eager winnow-anchor checkpoint) both run
    // Spark actions at CONSTRUCTION time — they are independent of
    // each other, so overlap them (guide §2.6; identical frames,
    // only the submission order changes)
    val branches = QUtil.inParallel(Seq[() => DataFrame](
      () => {
        val sh = d.select(col("doc_id"),
          DedupOps.shinglesOfText(col("text"), shingle).as("shs"))
        val pairs = DedupOps.jaccardPairs(sh, "doc_id", "shs", jaccard)
        DedupOps.connectedComponents(pairs)
          .filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id")).withColumn("__near", lit(true))
      },
      () => DedupOps.spanCutPositions(
          exactDupSpansFrom(d, minLen, dfCap))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("__cut"))))
    val nearDrop = branches(0)
    val cut = branches(1)
    d.select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).as("n_toks"))
      .join(exDrop, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .join(cut, Seq("doc_id"), "left")
  }

  def fusedDedupReport(d: DataFrame, minLen: Int = 15, dfCap: Int = 50,
                       jaccard: Double = 0.5, shingle: Int = 3,
                       cutFrac: Double = 0.05): DataFrame = {
    val verd = dedupFlagFrame(d, minLen, dfCap, jaccard, shingle)
      .withColumn("verdict",
        when(col("__ex"), "drop_exact")
          .when(col("__near"), "drop_near")
          .when(coalesce(col("__cut"), lit(0L)).cast("double") /
            col("n_toks").cast("double") >= cutFrac, "cut_spans")
          .otherwise("keep"))
      .withColumn("toks_after",
        when(col("verdict").isin("drop_exact", "drop_near"), lit(0L))
          .when(col("verdict") === "cut_spans", col("n_toks") - col("__cut"))
          .otherwise(col("n_toks").cast("long")))
      .localCheckpoint()
    val perSrc = verd.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("verdict") === "drop_exact", 1L).otherwise(0L)).as("n_drop_exact"),
      sum(when(col("verdict") === "drop_near", 1L).otherwise(0L)).as("n_drop_near"),
      sum(when(col("verdict") === "cut_spans", 1L).otherwise(0L)).as("n_cut_spans"),
      sum(when(col("verdict") === "keep", 1L).otherwise(0L)).as("n_keep"),
      sum(col("n_toks").cast("long")).as("toks_before"),
      sum(col("toks_after")).as("toks_after"))
    // ONE pass over the checkpointed verdict frame for both corpus
    // totals (was two single-column aggregates + two cross joins)
    val tot = verd.agg(sum(col("n_toks").cast("long")).as("tb"),
      sum(col("toks_after")).as("ta"))
    perSrc.crossJoin(tot)
      .select(col("source"), col("n_docs"), col("n_drop_exact"),
        col("n_drop_near"), col("n_cut_spans"), col("n_keep"),
        col("toks_before"), col("toks_after"),
        (col("toks_before").cast("double") / col("tb").cast("double"))
          .as("mix_before"),
        (col("toks_after").cast("double") / col("ta").cast("double"))
          .as("mix_after"))
  }

  /** the q_dedup_venn kernel — the dedup-family agreement census
    * over the SAME shared flag frame as the fused verdict, extracted
    * so the `dedup_venn_report` config stage files the identical
    * table a capstone run's curation yaml reads (r14 verdict #7:
    * the agreement measurement belongs next to the fused mixture it
    * justifies; one implementation, capstone-spec-pinned equal). */
  def vennDedupReport(d: DataFrame, minLen: Int = 15, dfCap: Int = 50,
                      jaccard: Double = 0.5, shingle: Int = 3,
                      cutFrac: Double = 0.05): DataFrame =
    dedupFlagFrame(d, minLen, dfCap, jaccard, shingle)
      .select(coalesce(col("__ex"), lit(false)).as("f_exact"),
        coalesce(col("__near"), lit(false)).as("f_near"),
        (coalesce(col("__cut"), lit(0L)).cast("double") /
          col("n_toks").cast("double") >= cutFrac).as("f_cut"),
        col("n_toks"))
      .groupBy(col("f_exact"), col("f_near"), col("f_cut"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("n_tokens"))

  /** tokenized frame feeding both the anchor selection and the
    * extension verify, with the position-packing guard */
  private[graft] def spanTokens(docsDf: DataFrame): DataFrame = {
    docsDf
      .withColumn("__ws", TextOps.tokens(col("text")))
      .filter(size(col("__ws")) >= 7)
      // the packed winnowing key holds positions below 2^21; a doc
      // longer than that would decode bogus (hash, position) pairs
      // and silently lose its tail's duplicates — refuse LOUDLY
      // (assert_true raises in the scan; null-filter keeps the row).
      // At 100 TB, chunk monster docs upstream (q_doc_chunk).
      .filter(assert_true(size(col("__ws")) < lit(POSCAP),
        lit(s"exactDupSpans: document exceeds ${POSCAP - 1} tokens — " +
          "winnowing positions would not pack; chunk it first")).isNull)
  }

  /** winnowing anchor selection over [[spanTokens]] output: one
    * (doc_id, h_sel, pos_sel) row per selected fingerprint —
    * checkpointed (feeds the cap join and both pair sides; in the
    * incremental path this frame IS what a production anchor store
    * persists per ingest day) */
  private[graft] def winnowAnchorSel(toks: DataFrame): DataFrame = {
    // r19: one native per-doc pass (winnow_packed dedups the packed
    // keys in-kernel — the bijection makes that exactly the old
    // distinct-(h_sel, pos_sel)); the gram explode, the gram-level
    // window Exchange+Sort and the distinct Exchange are all gone
    toks
      .select(col("doc_id"), explode(
        graft.functions.HashExprs.winnow_packed(col("__ws"))).as("__c"))
      .select(col("doc_id"),
        shiftright(col("__c"), 21).as("h_sel"),
        (lit(POSCAP - 1) - col("__c").bitwiseAND(lit(POSCAP - 1))).as("pos_sel"))
      .localCheckpoint()
  }

  /** [[winnowAnchorSel]] as ONE per-row HOF expression over the token
    * array — the STREAMING projection (a stream cannot run the
    * per-doc position window, but the window is per-doc over its own
    * grams, so it folds into the row): returns
    * array<struct<h_sel:long, pos_sel:long>>, bit-identical to the
    * window formulation (the packed key c = h·2²¹ + (2²¹−1−pos) is a
    * bijection, so distinct-c ≡ distinct-(h,pos); parity is
    * spec-pinned both directions on the sf corpus, which is what the
    * streaming convergence proof rests on). */
  private[graft] def winnowAnchorsExpr(ws: Column): Column = {
    require(POSCAP == (1L << 21)) // shiftright(c, 21) below IS c DIV POSCAP
    // r19: the per-gram md5 HOF + window-min HOF + array_distinct ride
    // the same native kernel as the batch selection (identical packed
    // keys in identical first-occurrence order — the kernel-vs-SQL
    // parity spec pins it); only the struct decode stays a lambda
    transform(graft.functions.HashExprs.winnow_packed(ws), c => struct(
      shiftright(c, 21).as("h_sel"),
      (lit(POSCAP - 1) - (c % lit(POSCAP))).as("pos_sel")))
  }

  /** the extension verify over an explicit pairs frame — the seam the
    * STREAMING anchor store drives per trigger (its stateful half
    * emits candidate anchor pairs; this turns them into maximal
    * spans with the same per-pair fold the batch operators use) */
  private[graft] def extendCandidateAnchorPairs(pairs: DataFrame,
                                                docsDf: DataFrame,
                                                minLen: Int): DataFrame =
    extendAnchorPairs(pairs, spanTokens(docsDf), minLen)

  /** [[exactDupSpans]] over an explicit (doc_id, text) frame — the
    * seam the doctored-corpus precision spec drives */
  private[graft] def exactDupSpansFrom(docsDf: DataFrame,
                                       minLen: Int, dfCap: Int): DataFrame = {
    val toks = spanTokens(docsDf)
    val sel = winnowAnchorSel(toks)
    // df = distinct DOCUMENTS carrying the fingerprint (the
    // documented boilerplate bound) — counting (doc, pos) rows would
    // let intra-doc repetition push a 2-doc duplicate over the cap
    // and silently lose the span
    val rare = sel.groupBy(col("h_sel"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") <= dfCap)
      .select(col("h_sel"))
    val capped = sel.join(rare, "h_sel")
    val pairs = capped.select(col("h_sel"), col("doc_id").as("doc_a"),
        col("pos_sel").as("pa"))
      .join(capped.select(col("h_sel"), col("doc_id").as("doc_b"),
        col("pos_sel").as("pb")), Seq("h_sel"))
      .filter(col("doc_a") < col("doc_b"))
    extendAnchorPairs(pairs, toks, minLen)
  }

  /** Incremental ExactSubstr — the daily-ingest path of the
    * flagship: `batchDf`'s anchors probe the historical anchor
    * store, emitting only the NEW spans (pairs touching at least one
    * batch doc). The store's TEXT is never rescanned to find
    * candidates: anchor selection per corpus half is independent
    * (production persists `winnowAnchorSel`'s (doc, hash, position)
    * rows plus per-hash doc counts at each ingest — re-derived here
    * because a query owns no storage), the pair probe joins hashes +
    * positions only, and store text enters exactly once, fetched for
    * the bounded candidate pairs by the extension verify. The df cap
    * counts distinct docs across store ∪ batch and only
    * batch-touched fingerprints survive the probe, so the output
    * CONVERGES: it equals the batch operator on the unioned corpus
    * restricted to batch-touching pairs (spec-pinned both doctored
    * and on the sf corpus). Doc ids must be unique across both
    * frames (the ingest contract). */
  private[graft] def exactDupSpansIncrementalFrom(
      storeDf: DataFrame, batchDf: DataFrame,
      minLen: Int, dfCap: Int): DataFrame = {
    val toksStore = spanTokens(storeDf)
    val toksBatch = spanTokens(batchDf)
    // the two halves' anchor selections are independent eager
    // checkpoints — overlap them (guide §2.6; identical frames)
    val sels = QUtil.inParallel(Seq(
      () => winnowAnchorSel(toksStore).withColumn("__new", lit(false)),
      () => winnowAnchorSel(toksBatch).withColumn("__new", lit(true))))
    val sel = sels(0).unionByName(sels(1))
    // the cap sees the WHOLE corpus (store metadata keeps per-hash
    // doc counts); a store-only fingerprint cannot make a new pair
    val rare = sel.groupBy(col("h_sel"))
      .agg(countDistinct(col("doc_id")).as("__df"),
        max(col("__new")).as("__touched"))
      .filter(col("__df") <= dfCap && col("__touched"))
      .select(col("h_sel"))
    val capped = sel.join(rare, "h_sel")
    val pairs = capped.select(col("h_sel"), col("doc_id").as("doc_a"),
        col("pos_sel").as("pa"), col("__new").as("__na"))
      .join(capped.select(col("h_sel"), col("doc_id").as("doc_b"),
        col("pos_sel").as("pb"), col("__new").as("__nb")), Seq("h_sel"))
      .filter(col("doc_a") < col("doc_b") && (col("__na") || col("__nb")))
      .drop("__na", "__nb")
    extendAnchorPairs(pairs, toksStore.unionByName(toksBatch), minLen)
  }

  /** the extension verify shared by the batch and incremental span
    * operators: anchors grouped per ordered doc pair, token arrays
    * joined once per pair, one diagonal-sorted fold per pair */
  private def extendAnchorPairs(pairs: DataFrame, toks: DataFrame,
                                minLen: Int): DataFrame = {
    // group the shared anchors per ordered doc pair BEFORE the token
    // join: arrays flow through the plan once per PAIR (the per-anchor
    // join replicated both arrays once per shared anchor — ≈0.4·T
    // copies for a near-mirror pair of T tokens)
    // r19 (§2.3 narrower exchange): anchors shuffle as ONE packed long
    // pa·2^21 + pb (both < 2^21 by the spanTokens guard) instead of a
    // two-long struct — halves the pair-exchange payload and lets the
    // kernel sort primitively
    val grouped = pairs
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(collect_list(shiftleft(col("pa"), 21).bitwiseOR(col("pb")))
        .as("anchors"))
    val withToks = grouped
      .join(toks.select(col("doc_id").as("doc_a"), col("__ws").as("za")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("__ws").as("zb")), Seq("doc_b"))
    // one NATIVE fold over the anchors sorted by (diagonal, pa) —
    // Kernels.extendSpans, the bit-identical port of the interpreted
    // SQL aggregate that used to live here (covered skip / collision
    // gram re-check / left scan capped by the previous span's known
    // mismatch / both scans short-circuit at the first mismatch;
    // extension CPU ∝ region length, not region²; spans below minLen
    // still advance the covered frontier, so the minLen filter stays
    // OUT here). The kernel-vs-SQL-fold parity is spec-pinned; spans
    // come back packed start_a·2^42 + start_b·2^21 + span_len and
    // decode through three codegen'd shifts.
    val M21 = POSCAP - 1
    withToks
      .select(col("doc_a"), col("doc_b"), explode(
        graft.functions.HashExprs.extend_spans(
          col("anchors"), col("za"), col("zb"))).as("sp"))
      .select(col("doc_a"), col("doc_b"),
        shiftright(col("sp"), 42).as("start_a"),
        shiftright(col("sp"), 21).bitwiseAND(lit(M21)).as("start_b"),
        col("sp").bitwiseAND(lit(M21)).as("span_len"))
      .filter(col("span_len") >= minLen)
      .distinct()
  }

  /** Trigram-profile language ID (q_lang_trigram; Cavnar & Trenkle
    * out-of-place rank distance) over an explicit (doc_id, lang,
    * text) frame: profiles train on doc_id % 5 != 0, the held-out
    * 20% scores by integer rank distance (see the registration
    * comment for the scale shape and the quality-vs-parity note). */
  /** the trigram-ID constants shared by the batch scorer and the
    * streaming monitor: profile depth R and the train/held-out split */
  private[graft] val TriR = 200

  // trigram generation from ONE split into a char array per doc:
  // substring(text, i, 3) re-seeks UTF-8 position i from the string
  // start on every call — O(len²) char scans per doc — where
  // element_at on the split array is O(1). Measured ~2× on the
  // train aggregate at sf0.1 (2.0 s → 1.05 s warm), byte-identical
  // trigrams. The explode feeds hash aggregates whose map-side
  // partial combine already bounds shuffle rows to distinct keys,
  // so occurrences never cross an exchange; a sorted per-doc
  // run-length pre-aggregate was built and measured SLOWER (the
  // per-doc array_sort outweighs the row reduction) — this explode
  // is the deliberate shape, not an oversight.
  /** the trigram-array generator over `text` — ONE copy behind
    * langTris (flagship census + profile train) AND q_langid_prefix's
    * positioned explode, so the prefix dial's "the cap-c leg keeps
    * exactly the trigrams the capped text generates" guarantee can
    * never drift from the profile's generator.
    *
    * r18 optimization: the generator is now the native single-pass
    * [[graft.functions.HashExprs.char_trigrams]] kernel — the old SQL
    * formulation (kept below as the parity reference the kernel spec
    * pins against) materialized a one-string-per-character array and
    * re-walked it through three element_at calls per trigram:
    *   element_at(transform(array(named_struct('ca', split(text, ''))), s ->
    *     transform(sequence(1, size(s.ca) - 2), i ->
    *       concat(element_at(s.ca, i), element_at(s.ca, i + 1),
    *              element_at(s.ca, i + 2)))), 1)
    * char_trigrams walks the string once, stepping by code point
    * exactly like split(text, '') (byte-identical output,
    * KernelPropertySpec parity case incl. surrogate pairs). */
  private[graft] def triGen(text: Column): Column =
    graft.functions.HashExprs.char_trigrams(text)

  private def langTris(df: DataFrame): DataFrame = df.select(
    col("doc_id"), col("lang"), explode(triGen(col("text"))).as("tri"))

  /** the TRAINED per-language trigram profile (lang, tri, rk_lang ≤
    * [[TriR]]) over the doc_id % 5 != 0 split — extracted (r17
    * verdict #6) so the streaming monitor can broadcast the SAME
    * table the batch confusion census joins: langs × ≤200 rows,
    * bounded by the label alphabet, checkpointed because both its
    * batch consumers (match join + lang list) re-read it. */
  private[graft] def trigramLangProfile(docsDf: DataFrame): DataFrame = {
    val train = langTris(docsDf
      .select(col("doc_id"), col("lang"), col("text"))
      .filter(length(col("text")) >= 3)
      .filter(col("doc_id") % 5 =!= 0))
    // groupedRankRanged evaluates its input twice (narrow stats scan +
    // output) — checkpoint the bounded (lang, trigram) aggregate so
    // the corpus trigram pass runs once either way
    val langCounts = train.groupBy(col("lang"), col("tri"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    ScaleOps.groupedRankRanged(
        langCounts, col("lang"), -col("n"), col("tri"), "rk", "__cnt")
      .filter(col("rk") <= TriR)
      .select(col("lang"), col("tri"), col("rk").as("rk_lang"))
      .localCheckpoint()
  }

  /** the held-out docs' TOP-[[TriR]] trigram profiles (doc_id, tri,
    * rk_doc) — extracted so q_langid_sweep rides the SAME doc-profile
    * pass as the flagship confusion census (one trigram explode, one
    * rank window; checkpointed because every consumer reads it at
    * least twice: size frame + match join, or the leg grid). */
  private[graft] def trigramDocProfile(docsDf: DataFrame): DataFrame = {
    val test = langTris(docsDf
      .select(col("doc_id"), col("lang"), col("text"))
      .filter(length(col("text")) >= 3)
      .filter(col("doc_id") % 5 === 0))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("n").desc, col("tri"))
    test.groupBy(col("doc_id"), col("tri"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk_doc", row_number().over(wDoc))
      .filter(col("rk_doc") <= TriR)
      .select(col("doc_id"), col("tri"), col("rk_doc"))
      .localCheckpoint()
  }

  private[graft] def trigramLangConfusion(docsDf: DataFrame): DataFrame = {
    val R = TriR
    val d = docsDf.select(col("doc_id"), col("lang"), col("text"))
      .filter(length(col("text")) >= 3)
    // the trained language profile (80% split) and the held-out doc
    // profiles (20% split) are independent eager checkpoints —
    // overlap them (guide §2.6; identical frames)
    val profs = QUtil.inParallel(Seq(
      () => trigramLangProfile(docsDf),
      () => trigramDocProfile(docsDf)))
    val langProf = profs(0)
    val docProf = profs(1)
    val profSize = docProf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("p"))
    val langs = langProf.select(col("lang").as("cand")).distinct()
    val matched = docProf.join(langProf, "tri")
      .groupBy(col("doc_id"), col("lang").as("cand"))
      .agg(sum(abs(col("rk_doc") - col("rk_lang"))).as("ms"),
        count(lit(1)).as("mc"))
    val scored = profSize.crossJoin(langs)
      .join(matched, Seq("doc_id", "cand"), "left")
      .withColumn("dist", coalesce(col("ms"), lit(0L)) +
        (col("p") - coalesce(col("mc"), lit(0L))) * lit(R.toLong))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("dist"), col("cand"))
    val pred = scored.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1).select(col("doc_id"), col("cand"))
    d.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("lang"))
      .join(pred, "doc_id")
      .groupBy(col("lang"), col("cand").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Shared containment verdict (q_containment + its capped scale
    * twin): banding candidates → shingle join-back → inter/min(szA,
    * szB) ≥ 0.8 — the asymmetric measure that catches SUB-document
    * duplication symmetric Jaccard misses. Volume ∝ candidates. */
  private def containmentVerdict(sh: DataFrame, pairs: DataFrame): DataFrame =
    pairs.select(col("id_a"), col("id_b"))
      .join(sh.select(col("doc_id").as("id_a"), col("shs").as("shs_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shs").as("shs_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("sz_a", size(col("shs_a")).cast("long"))
      .withColumn("sz_b", size(col("shs_b")).cast("long"))
      .withColumn("containment", col("inter").cast("double") /
        least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= 0.8)
      .withColumn("jaccard_misses", (col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double")) < 0.5)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"),
        col("sz_b"), col("containment"), col("jaccard_misses"))

  /** Shared doc→3-shingle frame for the containment pair */
  private def containShingles(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        DedupOps.shinglesOfText(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)

  /** Shared mutual-kNN EDGE derivation (q_knn_graph census, its
    * capped twin, and the q_knn_prune decision consumer): LSH
    * bucket-collision candidates (never a corpus broadcast or
    * all-pairs), per-qid top-5 windows, mutual (id,id) join —
    * one row per symmetric edge (id_a < id_b) with its cosine. */
  private def mutualKnnEdges(e: DataFrame, maxBucket: Int): DataFrame = {
    val pairs = AnnOps.embedNearDupPairs(e, planes = 5, tables = 16,
      threshold = -2.0, maxBucket = maxBucket)
    val sym = pairs
      .select(col("id_a").as("qid"), col("id_b").as("nid"), col("sim"))
      .unionAll(pairs
        .select(col("id_b").as("qid"), col("id_a").as("nid"), col("sim")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    val knn = sym.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).select(col("qid"), col("nid"), col("sim"))
    mutualPairs(knn)
  }

  /** The canonical-pair aggregate of [[mutualKnnEdges]]: directed
    * (qid, nid, sim) rows → one (id_a < id_b, sim) row per pair with
    * BOTH directions present. r19 (§2.3/§2.4): canonicalize (least,
    * greatest) and aggregate instead of the two-sided (qid,nid)⋈
    * (nid,qid) self-join — ONE partial-aggregable exchange of
    * (id, id, sim) rows replaces two join exchanges + sorts. Both
    * directions of a pair carry the SAME sim (cosine is symmetric and
    * the union duplicated one pair row), so min(sim) is that value.
    * Mutual ⇔ min(qid) ≠ max(qid), which, unlike count = 2, holds
    * only when both directions are there even if a directed row
    * repeats: a duplicate can never pose as the missing reverse edge
    * (pinned by DedupAnnSpec). A self-pair is never mutual. */
  private[graft] def mutualPairs(knn: DataFrame): DataFrame =
    knn.select(least(col("qid"), col("nid")).as("id_a"),
        greatest(col("qid"), col("nid")).as("id_b"), col("qid"), col("sim"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("qid")).as("__q0"), max(col("qid")).as("__q1"),
        min(col("sim")).as("sim"))
      .filter(col("__q0") =!= col("__q1"))
      .select(col("id_a"), col("id_b"), col("sim"))

  /** Mutual-kNN degree census over [[mutualKnnEdges]], 0 bucket
    * included */
  private def knnGraphCensus(e: DataFrame, maxBucket: Int): DataFrame = {
    val edges = mutualKnnEdges(e, maxBucket)
    val deg = edges.select(col("id_a").as("vid"))
      .unionAll(edges.select(col("id_b").as("vid")))
      .groupBy(col("vid")).agg(count(lit(1)).as("d"))
    e.select(col("vec_id").as("vid")).join(deg, Seq("vid"), "left")
      .select(coalesce(col("d"), lit(0L)).as("mutual_degree"))
      .groupBy(col("mutual_degree"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Shared dHash bit extraction over the deterministic stub decode
    * (q_media_phash + its capped scale twin) */
  private def phashBits(d: DataFrame): DataFrame =
    // r19: the interpreted transform(sequence(0,63)) lambda ran ~128
    // md5+conv expression trees per row; one native pass of 72 digests
    // (dhash_stub_bits — bit-identical md5 pixel walk, parity
    // spec-pinned against the SQL formulation) replaces it
    d.select(col("doc_id"),
      graft.functions.HashExprs.dhash_stub_bits(col("doc_id")).as("bits"))

  /** deterministic page template for q_html_extract — shared with
    * the oracle SQL so both engines synthesize the identical page
    * (no quotes/apostrophes: the string is embedded in SQL literals) */
  private val HtmlPrefix =
    "<html><head><title>d</title><style>body{margin:0}</style>" +
      "<script>var x=1&&2;</script></head><body><nav><ul><li>Home</li>" +
      "<li>About</li><li>Contact</li></ul></nav><h1>Section One</h1><p>"
  private val HtmlSuffix =
    "</p><div>Share on social media</div>" +
      "<footer>Copyright 2024 Example Corp</footer></body></html>"

  /** The Gopher-rule flag CTE (DuckDB twin of
    * [[graft.operators.TextOps.gopherFlags]]): per-doc rule booleans
    * with `source` kept. ONE copy — q_gopher_rules (the per-source
    * census) and q_quality_marginal (the ablation) both open with it,
    * so a rule-threshold change can never desynchronize one oracle
    * from its sibling. */
  private val GopherRulesCte: String =
    """WITH t AS (SELECT source, text, regexp_split_to_array(trim(text), '\s+') AS ws,
      |  regexp_replace(trim(text), '\s+', '', 'g') AS squeezed FROM documents),
      |m AS (SELECT source, len(ws) AS n,
      |  CAST(LENGTH(squeezed) AS DOUBLE) / len(ws) AS mwl,
      |  (LENGTH(text) - LENGTH(replace(text, '#', '')) +
      |   (LENGTH(text) - LENGTH(replace(text, '...', ''))) / 3) / len(ws) AS sym_ratio,
      |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(ws) AS alpha_frac,
      |  len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','on'))) AS stop_cnt
      | FROM t),
      |r AS (SELECT source,
      |  n >= 50 AND n <= 100000 AS r_wc,
      |  mwl >= 3.0 AND mwl <= 10.0 AS r_mwl,
      |  sym_ratio <= 0.1 AS r_sym,
      |  alpha_frac >= 0.8 AS r_alpha,
      |  stop_cnt >= 2 AS r_stop
      | FROM m)""".stripMargin

  /** The ExactSubstr oracle CTE (DuckDB twin of [[exactDupSpansFrom]]
    * at minLen 15 / dfCap 50): winnow anchors with positions, the
    * distinct-DOCUMENT df cap, anchor pair join, collision-checked
    * extension. ONE copy — ALL THREE span consumers —
    * q_dedup_substring_exact, q_dup_span_hist and q_dedup_span_cut —
    * open with it, so a change to the span definition can never
    * desynchronize one oracle from its siblings. */
  private val ExactSubstrBody: String =
    """xs_t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |xs_f AS (SELECT doc_id, ws, len(ws) - 3 AS n_grams FROM xs_t WHERE len(ws) >= 7),
      |xs_g AS (SELECT doc_id, n_grams,
      |   unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
      |     for i in range(1, len(ws) - 2)]) AS gram,
      |   unnest(range(1, len(ws) - 2)) AS pos
      |  FROM xs_f),
      |xs_h AS (SELECT doc_id, n_grams, pos,
      |   ('0x' || substr(md5(gram), 1, 8))::BIGINT AS hh FROM xs_g),
      |xs_w AS (SELECT doc_id, n_grams, pos,
      |   MIN(hh * 2097152 + (2097151 - pos)) OVER (PARTITION BY doc_id ORDER BY pos
      |     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |  FROM xs_h),
      |xs_sel AS (SELECT DISTINCT doc_id, wmin // 2097152 AS h_sel,
      |   2097151 - (wmin % 2097152) AS pos_sel
      |  FROM xs_w WHERE pos <= n_grams - 3),
      |xs_rare AS (SELECT h_sel FROM xs_sel GROUP BY 1 HAVING COUNT(DISTINCT doc_id) <= 50),
      |xs_capped AS (SELECT doc_id, h_sel, pos_sel FROM xs_sel JOIN xs_rare USING (h_sel)),
      |xs_pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |   a.pos_sel AS pa, b.pos_sel AS pb
      |  FROM xs_capped a JOIN xs_capped b ON a.h_sel = b.h_sel AND a.doc_id < b.doc_id),
      |xs_wt AS (SELECT p.*, fa.ws AS za, fb.ws AS zb
      |  FROM xs_pairs p JOIN xs_f fa ON p.doc_a = fa.doc_id
      |               JOIN xs_f fb ON p.doc_b = fb.doc_id
      |  WHERE array_to_string(fa.ws[p.pa:p.pa+3], ' ')
      |      = array_to_string(fb.ws[p.pb:p.pb+3], ' ')),
      |xs_ext AS (SELECT doc_a, doc_b, pa, pb,
      |   COALESCE(NULLIF(list_position(
      |     [za[pa - i] = zb[pb - i] for i in range(1, least(pa, pb))], false), 0) - 1,
      |     least(pa, pb) - 1) AS left_ext,
      |   COALESCE(NULLIF(list_position(
      |     [za[pa + 3 + i] = zb[pb + 3 + i]
      |       for i in range(1, least(len(za) - (pa + 3), len(zb) - (pb + 3)) + 1)],
      |     false), 0) - 1,
      |     least(len(za) - (pa + 3), len(zb) - (pb + 3))) AS right_ext
      |  FROM xs_wt),
      |spans AS (SELECT DISTINCT doc_a, doc_b,
      |  CAST(pa - left_ext AS BIGINT) AS start_a,
      |  CAST(pb - left_ext AS BIGINT) AS start_b,
      |  CAST(left_ext + 4 + right_ext AS BIGINT) AS span_len
      |FROM xs_ext WHERE left_ext + 4 + right_ext >= 15)""".stripMargin

  /** [[ExactSubstrBody]] as a standalone statement opener */
  private val ExactSubstrCte: String = "WITH " + ExactSubstrBody

  /** the spans themselves (q_dedup_substring_exact's tail) */
  private val ExactSubstrSpansSql: String =
    "SELECT doc_a, doc_b, start_a, start_b, span_len FROM spans"

  /** The shared near-dup CC closure EVERY dedup oracle opens with
    * (shingle pair graph at threshold 0.5, recursive reach,
    * min-label components). ONE copy: a change to the near-dup
    * definition (shingle n, threshold, closure shape) lands in all
    * seven consumers at once instead of silently desynchronizing
    * one oracle from its siblings. */
  private val CcClosureSql: String =
    """WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |   ELSE [] END AS shs FROM w),
        |ex AS (SELECT doc_id, len(shs) AS sz, unnest(shs) AS s FROM sh),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY a.doc_id, b.doc_id
        | HAVING CAST(COUNT(*) AS DOUBLE) / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        | SELECT s AS id, d AS r FROM edges
        | UNION
        | SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
        |comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id)""".stripMargin

  /** Shared shape of the fuzzy line-dedup family (q_line_neardup and
    * its 128-bit scale twin): 8-token segments as "doc:idx" composite
    * ids, a per-segment simhash from `bitsOf`, banded candidates with
    * the bucket cap, hamming ≤ 6 verification, and the per-doc-pair
    * (count, closest-hamming) report — ONE copy so the twins cannot
    * drift in anything but the hash width. */
  private def lineNearDupReport(d: DataFrame, bitsOf: Column => Column,
                                nBits: Int, chunkBits: Int): DataFrame = {
    val segd = d
      .withColumn("__ws", TextOps.tokens(col("text")))
      .filter(size(col("__ws")) >= 1)
      // posexplode over the ONE shared segmentation kernel — this
      // was a third hand-written copy of the 8-token windows before
      // the review wave (identical values; the position IS the idx)
      .select(col("doc_id"), posexplode(TextOps.segments8(col("__ws"))))
      .select(concat(col("doc_id"), lit(":"), col("pos")).as("sid"),
        col("col").as("seg"))
    val bits = segd.select(col("sid"), bitsOf(col("seg")).as("bits"))
    DedupOps.simhashNearDupPairs(bits, "sid", "bits", maxHamming = 6,
        nBits = nBits, chunkBits = chunkBits)
      .select(
        substring_index(col("id_a"), ":", 1).cast("long").as("da"),
        substring_index(col("id_b"), ":", 1).cast("long").as("db"),
        col("hamming"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_near_segs"),
        min(col("hamming")).cast("long").as("min_hamming"))
  }

  /** the ONE embedding-QA census kernel behind q_embed_norm_qa
    * (oracled) and streamingEmbedNormQa (the live ingest monitor —
    * every aggregate here is associative min/max/count/sum, so the
    * identical call runs in Update mode with state O(labels)):
    * per label the vector count, dim bounds, squared-norm bounds and
    * the zero-norm count — the zero vectors that NaN-poison cosine
    * downstream (the pair-align hazard). Input columns: label,
    * embedding. */
  /** the eval 5-gram postings q_decontaminate broadcasts, collected
    * to a driver map for [[graft.streaming.StreamingPipelines
    * .streamingDecontam]]: 5-gram → eval ids repeated per OCCURRENCE
    * (multiplicity inlined — see DedupOps.withContamScore for why
    * that reproduces the batch join's pair accounting exactly).
    * Bounded BY CONSTRUCTION: the eval set is the benchmark (doc_id
    * < 25 here), small by definition — the identical boundedness
    * argument as the batch query's broadcast(evalSet). ONE shingle
    * kernel (DedupOps.shinglesOfText at n=5) behind the census, the
    * sweep and this table. */
  def decontamPostings(docsDf: DataFrame): Map[String, Seq[Long]] =
    docsDf.filter(col("doc_id") < 25)
      .select(col("doc_id"),
        explode(DedupOps.shinglesOfText(col("text"), 5)).as("s5"))
      .collect()
      .groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(0)).toSeq.sorted).toMap

  /** the Gopher quality-gate census kernel — ONE body behind
    * q_gopher_rules (the batch §2 census) AND streamingGopherRules
    * (the live monitor): per-source doc/pass counts + one violation
    * counter per rule, over the [[graft.operators.TextOps.gopherFlags]]
    * rule expressions the config `gopher_gate` processor also runs
    * (three surfaces, one rule table — none can drift). Every
    * aggregate is an associative count/sum, so the identical call
    * runs batch and Update-mode unchanged; state O(sources). */
  def gopherCensus(d: DataFrame): DataFrame = {
    val flags = graft.operators.TextOps.gopherFlags(col("text"))
    d.select(col("source") +: flags.map { case (n, c) => c.as(n) }: _*)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("r_wc") && col("r_mwl") && col("r_sym") &&
          col("r_alpha") && col("r_stop"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(!col("r_wc"), 1L).otherwise(0L)).as("v_word_count"),
        sum(when(!col("r_mwl"), 1L).otherwise(0L)).as("v_mean_len"),
        sum(when(!col("r_sym"), 1L).otherwise(0L)).as("v_symbol"),
        sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("v_alpha"),
        sum(when(!col("r_stop"), 1L).otherwise(0L)).as("v_stop"))
  }

  def embedNormCensus(e: DataFrame): DataFrame =
    e.select(col("label"),
        expr("CAST(size(embedding) AS BIGINT)").as("dim"),
        expr("aggregate(CAST(embedding AS ARRAY<DOUBLE>), CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)").as("norm2"))
      .groupBy(col("label")).agg(
        count(lit(1)).as("n_vecs"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
        min(col("norm2")).as("min_norm2"), max(col("norm2")).as("max_norm2"),
        sum(when(col("norm2") === 0.0, 1L).otherwise(0L)).as("n_zero"))

  /** the planted mojibake suffix for q_text_fix: every repair class
    * once — Ã© Ã¨ Ã¼ Ã± Ã§ (2-char latin-1 misreads of UTF-8
    * accents) and â€™ â€œ â€+U+201D (3-char cp1252 misreads of curly
    * punctuation) — appended to doc_id ≡ 0 mod 7 docs identically in
    * query and oracle (Scala's lexer expands the \\u escapes, so the
    * oracle SQL ships raw UTF-8 to DuckDB) */
  private val MojiSuffix: String =
    " caf\u00C3\u00A9 \u00C3\u00A8\u00C3\u00BC\u00C3\u00B1\u00C3\u00A7" +
      " \u00E2\u20AC\u2122\u00E2\u20AC\u0153\u00E2\u20AC\u201D fin"

  /** q_bm25's exact oracle chain as a reusable CTE body yielding
    * `bm(doc_id, n_terms, score)` — the top-20 lexical leg. ONE copy:
    * q_rank_fusion composes it, so a scorer change (k1/b, terms, the
    * rational idf) lands in both oracles at once. */
  /** the tf/dft/dl/avgdl CTE prefix — ONE copy behind q_bm25,
    * q_rank_fusion AND q_bm25_sweep (the oracle-side twin of the
    * TextOps.bm25Hits refactor: a tokenization or idf tweak edits
    * exactly one string, review-wave finding) */
  private val Bm25AggCtes: String =
    """dl AS (
      | SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS dl
      | FROM documents),
      |stats AS (
      | SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |  CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      | FROM dl),
      |hits AS (
      | SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      | FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |       FROM documents)
      | WHERE term IN ('spark', 'join', 'window')
      | GROUP BY doc_id, term),
      |dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dft FROM hits GROUP BY term)""".stripMargin

  private val Bm25Top20Body: String = Bm25AggCtes + ",\n" +
    """bm AS (SELECT h.doc_id, COUNT(*) AS n_terms,
      | CAST(SUM(CAST(
      |  (((s.n - d.dft) + 0.5) / (d.dft + 0.5)) * (h.tf * (1.2 + 1.0)) /
      |   (h.tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(l.dl AS DOUBLE) / s.avgdl)))
      |  AS DECIMAL(28,8))) AS DOUBLE) AS score
      |FROM hits h
      |JOIN dft d USING (term)
      |JOIN dl l USING (doc_id)
      |CROSS JOIN stats s
      |GROUP BY h.doc_id
      |ORDER BY score DESC, h.doc_id ASC
      |LIMIT 20)""".stripMargin

  val queries: Map[String, Q] = Map(
    // exact dedup: content hash, keep the smallest doc_id per cluster
    // (over the mirror-planted corpus so the cluster list is
    // non-empty at every SF — see docsWithMirror)
    "q_dedup_exact" -> ((s, dir) => {
      docsWithMirror(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_copies") >= 2)
    }),

    // SOFT dedup — reweight instead of drop: each exact-duplicate
    // cluster's token mass counts ONCE, spread as weight 1/n over its
    // n copies, so the corpus keeps its coverage while the duplicated
    // gradient mass deflates (the reweighting alternative to
    // q_dedup_exact's keep-one — a hard drop loses the copies'
    // source/context diversity; a reweight keeps every row and
    // shrinks the sampling probability instead). Report per source:
    // raw vs effective token mass and the shrink ratio — how much of
    // a source's apparent mass is duplicated air. Scale shape: text
    // hashes map-side; ONE exchange on (hash, source) for the partial
    // aggregate, a bounded re-aggregate on hash for cluster sizes,
    // and the join back carries (hash, n_copies) only — text never
    // shuffles. Per-row doubles are one IEEE-exact division (copies
    // of a cluster share the hash, hence the token count, so the
    // group-level tk_hs/n equals the sum of per-doc tk/n exactly);
    // cross-row sums ride DECIMAL(28,8).
    "q_dedup_soft" -> ((s, dir) => {
      // the (h, source) aggregate feeds BOTH the cluster-size
      // re-aggregate and the join probe — checkpoint it so the
      // corpus is scanned and hashed ONCE (without this Catalyst
      // re-expands the subplan under column pruning and the tot
      // branch re-reads + re-md5s the whole corpus; the frame is
      // ≤ one row per (content, source) — doc-bounded, cheap to pin)
      val per = docs(s, dir)
        .select(col("source"), md5(col("text")).as("h"),
          TextOps.tokenCount(col("text")).cast("long").as("tk"))
        .groupBy(col("h"), col("source"))
        .agg(count(lit(1)).as("c_hs"), sum(col("tk")).as("tk_hs"))
        .localCheckpoint()
      val tot = per.groupBy(col("h")).agg(sum(col("c_hs")).as("n_copies"))
      per.join(tot, "h")
        .select(col("source"), col("c_hs"), col("tk_hs"),
          (col("tk_hs").cast("double") / col("n_copies").cast("double"))
            .as("eff"))
        .groupBy(col("source"))
        .agg(sum(col("c_hs")).cast("long").as("n_docs"),
          sum(col("tk_hs")).cast("long").as("raw_tokens"),
          dsum(col("eff")).as("eff_tokens"))
        .withColumn("eff_ratio",
          col("eff_tokens") / col("raw_tokens").cast("double"))
    }),

    // MinHash + LSH near-dup pairs. md5-lane signatures so the full
    // pipeline (signature → banding → estimate) is value-verified by
    // the DuckDB oracle; the xxhash64 kernel stays the scale path
    // (spec-verified recall/precision vs exact jaccard).
    "q_dedup_minhash" -> ((s, dir) => {
      val sig = docs(s, dir).select(col("doc_id"),
        DedupOps.minhashSignatureMd5(
          DedupOps.shinglesOfText(col("text"), 3), 32).as("sig"))
      DedupOps.lshNearDupPairsMd5(sig, "doc_id", "sig",
          bands = 8, rows = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"), col("est_sim"))
    }),

    // Dedup-aggressiveness THRESHOLD SWEEP: pairs and affected docs
    // at each candidate Jaccard cutoff {0.50..0.90} over ONE pair
    // pass (the shared nearDupPairs graph at its 0.5 base — a sweep
    // point below the base would need its own candidate generation;
    // these are the tightenings a deployment actually debates). The
    // q_ann_ivf_sweep discipline applied to the dedup dial: grid
    // join over the already-computed pairs, never one pass per
    // threshold. Per cutoff: surviving pair count + distinct docs
    // touched — how much of the corpus each tightening still reaches.
    "q_dedup_threshold_sweep" -> ((s, dir) => {
      import s.implicits._
      // pairs feed BOTH the pair count and the docs-affected census —
      // checkpoint so the shingle→posting→pair pipeline runs ONCE
      // (the frame is the pair graph itself: bounded, tiny)
      val pairs = nearDupPairs(s, dir).localCheckpoint()
      val grid = Seq(50, 60, 70, 80, 90).toDF("t_pct")
      // INTEGER cutoff comparison (r14 advice): jaccard*100 >= t_pct
      // in doubles misclassifies a pair at exactly the cutoff
      // (7/10 → 0.7*100 = 69.999…), and the oracle computes the same
      // tree so it cannot catch the boundary. inter*100 >= t_pct*union
      // is the identical predicate in exact integer arithmetic.
      val j = pairs.crossJoin(broadcast(grid))
        .filter(col("inter") * lit(100L) >=
          col("t_pct").cast("long") * col("union_sz"))
        .select(col("t_pct"), col("id_a"), col("id_b"))
      val np = j.groupBy(col("t_pct")).agg(count(lit(1)).as("n_pairs"))
      val da = j.select(col("t_pct"), explode(
          array(col("id_a"), col("id_b"))).as("id"))
        .distinct()
        .groupBy(col("t_pct")).agg(count(lit(1)).as("docs_affected"))
      grid.join(np, Seq("t_pct"), "left").join(da, Seq("t_pct"), "left")
        .select(col("t_pct"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("docs_affected"), lit(0L)).as("docs_affected"))
    }),

    // Sketch-accuracy report: how closely the 32-lane MinHash
    // estimate tracks EXACT shingle Jaccard over the banding
    // candidates — the measurement that justifies a sketch threshold
    // before trusting it at 100 TB (tune lanes/bands until the error
    // histogram is acceptable). The exact-verify join carries shingle
    // arrays for CANDIDATE pairs only (∝ banding collisions, never
    // all pairs); every aggregate is an integer sum (lanes,
    // intersection, union) — the only doubles are two IEEE-exact
    // divisions and the 1/8-wide bucketing, so the whole report is
    // value-oracled.
    "q_minhash_accuracy" -> ((s, dir) => {
      val sh = docs(s, dir).select(col("doc_id"),
          DedupOps.shinglesOfText(col("text"), 3).as("shs"))
        .filter(size(col("shs")) > 0)
      val sig = sh.select(col("doc_id"),
        DedupOps.minhashSignatureMd5(col("shs"), 32).as("sig"))
      val cand = DedupOps.lshNearDupPairsMd5(sig, "doc_id", "sig",
          bands = 8, rows = 4, threshold = 0.0)
        // est_sim = k/32 with 32 = 2^5: the product is the exact
        // integer lane count, no fp residue
        .withColumn("lanes", (col("est_sim") * 32).cast("long"))
      cand
        .join(sh.select(col("doc_id").as("id_a"), col("shs").as("shs_a")), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("shs").as("shs_b")), Seq("id_b"))
        .withColumn("inter",
          size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
        .withColumn("un",
          (size(col("shs_a")) + size(col("shs_b"))).cast("long") - col("inter"))
        .withColumn("err_bucket", floor(abs(
          col("lanes").cast("double") / lit(32.0) -
            col("inter").cast("double") / col("un").cast("double")) * lit(8.0))
          .cast("long"))
        .groupBy(col("err_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("lanes")).as("sum_lanes"),
          sum(col("inter")).as("sum_inter"),
          sum(col("un")).as("sum_union"))
    }),

    // REAL image-header dimension parsing (no codec needed — PNG
    // IHDR / JPEG SOFn / GIF descriptor): synthesize a VALID minimal
    // PNG per document (deterministic dims from its fields), parse it
    // back with the native header walker, and report the dimension
    // census a media-lake ingest runs. Rows-only (binary headers have
    // no SQL twin); the parser is spec-pinned on hand-built PNG/JPEG/
    // GIF bytes incl. corrupt-input nulls.
    "q_media_dims" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
          MultimodalOps.imageDims(MultimodalOps.pngHeader(
            (pmod(col("n_chars"), lit(1024)) + 1).cast("int"),
            (pmod(col("doc_id"), lit(512)) + 1).cast("int"))).as("dm"))
        .agg(count(lit(1)).as("blobs"),
          sum(when(col("dm").isNotNull, 1L).otherwise(0L)).as("parsed"),
          countDistinct(col("dm.format")).as("formats"),
          sum(col("dm.width").cast("long")).as("total_width"),
          max(col("dm.height")).as("max_height"))
    }),

    // audio twin of q_media_dims: RIFF/WAVE fmt-chunk walk (channels,
    // sample rate, bits) — valid-WAV synthesis → parse → census
    "q_audio_meta" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
          MultimodalOps.audioMeta(MultimodalOps.wavHeader(
            (pmod(col("doc_id"), lit(2)) + 1).cast("int"),
            when(col("lang") === "en", 44100).otherwise(16000).cast("int")))
            .as("am"))
        .agg(count(lit(1)).as("blobs"),
          sum(when(col("am").isNotNull, 1L).otherwise(0L)).as("parsed"),
          sum(when(col("am.channels") === 2, 1L).otherwise(0L)).as("stereo"),
          countDistinct(col("am.sample_rate")).as("sample_rates"),
          max(col("am.bits_per_sample")).as("max_bits"))
    }),

    // video leg of the header-parsing triple: MP4 moov/mvhd box walk
    // (timescale → wall-clock duration) — valid-MP4 synthesis →
    // parse → duration census
    "q_video_meta" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
          MultimodalOps.videoMeta(MultimodalOps.mp4Header(
            lit(1000).cast("int"),
            (col("n_chars") * 10).cast("long"))).as("vm"))
        .agg(count(lit(1)).as("blobs"),
          sum(when(col("vm").isNotNull, 1L).otherwise(0L)).as("parsed"),
          sum(col("vm.duration_ms")).as("total_duration_ms"),
          max(col("vm.duration_ms")).as("max_duration_ms"))
    }),

    // WARC ingestion seam (Warc.scala — the Common Crawl wire format):
    // synthesize one WARC/1.0 response record per document (the
    // encode expression), parse the bytes back with the native record
    // walker, and report corpus-ingest stats. Rows-only (binary
    // framing has no SQL twin); the codec roundtrip + multi-record +
    // gzip paths are WarcSpec-pinned. Everything is map-side until
    // the one stats aggregate.
    "q_warc_extract" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
          explode(graft.sources.Warc.warc_records(
            graft.sources.Warc.warc_response(
              concat(lit("http://corpus.local/doc/"), col("doc_id")),
              lit("2024-01-01T00:00:00Z"),
              concat(lit("<html><body><p>"), col("text"),
                lit("</p></body></html>"))))).as("r"))
        .agg(count(lit(1)).as("records"),
          sum(when(col("r.http_status") === 200, 1L).otherwise(0L)).as("http_200"),
          sum(length(col("r.payload")).cast("long")).as("payload_chars"),
          countDistinct(col("r.content_type")).as("content_types"))
    }),

    // Sketch DECISION quality: precision/recall of the banded-MinHash
    // ≥0.5 verdict against exact shingle Jaccard ≥0.5 — the
    // confusion-level companion of q_minhash_accuracy's error
    // histogram, and the number that says whether banding parameters
    // lose real duplicates (FN counts banding misses too, not just
    // estimate noise). Integer set algebra; two exact divisions.
    "q_dedup_eval" -> ((s, dir) => {
      val d = docs(s, dir)
      val sh = d.select(col("doc_id"),
        DedupOps.shinglesOfText(col("text"), 3).as("shs"))
      val exact = DedupOps.jaccardPairs(sh, "doc_id", "shs", threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val sig = sh.filter(size(col("shs")) > 0)
        .select(col("doc_id"), DedupOps.minhashSignatureMd5(col("shs"), 32).as("sig"))
      val pred = DedupOps.lshNearDupPairsMd5(sig, "doc_id", "sig",
          bands = 8, rows = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      // ONE plan, one action: a full-outer pair join classifies every
      // pair as TP/FP/FN in a single aggregate (three separate
      // intersect/except counts would re-execute BOTH pipelines per
      // action — measured 6.4 s → one pass)
      exact.withColumn("__e", lit(1))
        .join(pred.withColumn("__p", lit(1)), Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("__e").isNotNull && col("__p").isNotNull, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("__e").isNull && col("__p").isNotNull, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("__e").isNotNull && col("__p").isNull, 1L)
            .otherwise(0L)).as("fn"))
        .withColumn("precision",
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
        .withColumn("recall",
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
    }),

    // SimHash near-dup pairs (md5 bits — oracle value-verified)
    "q_dedup_simhash" -> ((s, dir) => {
      val bits = docs(s, dir).select(col("doc_id"),
        DedupOps.simhashBitsMd5(DedupOps.tokens(col("text"))).as("bits"))
      DedupOps.simhashNearDupPairs(bits, "doc_id", "bits", maxHamming = 6)
    }),

    // NEAR-duplicate LINES across documents — the fuzzy twin of
    // q_line_dedup's exact segment hash: 8-token segments carry a
    // word-level simhash, banded candidates verify at hamming ≤ 6,
    // and cross-doc near-dup segment pairs aggregate per doc pair
    // (count + closest hamming). This is the boilerplate an exact
    // line hash MISSES — per-page substitutions (dates, user names)
    // flip a token but not the fingerprint. Segment ids ride as
    // "doc:idx" strings (the boilerplate composite-key trick) and
    // the doc pair normalizes by value after the split. Scale shape:
    // the same banded blocking as q_dedup_simhash (16-bit chunk
    // keys, bucket cap) — never all-pairs; the oracle mirrors the
    // banding AND the cap.
    "q_line_neardup" -> ((s, dir) =>
      lineNearDupReport(docs(s, dir),
        seg => DedupOps.simhashBitsMd5(TextOps.tokens(seg)),
        nBits = 64, chunkBits = 16)),

    // Unicode confusable folding — the decode-layer normalization
    // upstream of every tokenizer (smart punctuation and invisible
    // characters split the vocabulary: don’t and don't become
    // distinct tokens). The ASCII corpus is CLEAN, so confusables are
    // planted deterministically by doc_id class (curly quotes + em
    // dash / zero-widths + BOM / NBSPs / untouched — the pii_redact
    // synthesis discipline; the oracle plants the same bytes) and the
    // shared kernel folds them back. Per-doc output with the
    // normalized md5, so the gate verifies the folding byte-for-byte
    // incl. that CLEAN docs pass through untouched. Entirely
    // map-side.
    // MOJIBAKE repair census (r16 verdict #6) — the decode-layer
    // sibling of q_text_normalize, one layer DOWN: normalize folds
    // legitimate Unicode to canonical forms; this repairs BROKEN
    // decoding — the double-encoded UTF-8 class (bytes written as
    // UTF-8, read back as latin-1/cp1252, re-encoded: é → Ã©,
    // ’ → â€™), the single most common wire corruption in crawled
    // corpora. The repair is a fixed digraph/trigraph replace table
    // ([[TextOps.mojibakeFixSqlOf]] — ONE SQL fragment shared verbatim by
    // the Spark expr and the DuckDB oracle, the Bm25AggCtes
    // discipline), applied over deterministically doctored docs
    // (doc_id ≡ 0 mod 7 gains every mojibake class — the pii_redact
    // synthesis discipline; the oracle plants the same bytes).
    // Census per source: fix counts, chars recovered (each 2/3-char
    // digraph collapses to its 1-char original), and the
    // byte-identity proof for clean docs (md5(fixed) == md5(text) —
    // the repair must be a no-op off the planted class). Entirely
    // map-side until the per-source aggregate.
    "q_text_fix" -> ((s, dir) => {
      val id = col("doc_id")
      docs(s, dir)
        .select(id, col("source"), col("text"),
          when(pmod(id, lit(7)) === 0,
            concat(col("text"), lit(MojiSuffix))).otherwise(col("text"))
            .as("m"))
        .withColumn("fixed", expr(TextOps.mojibakeFixSqlOf("m")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("fixed") =!= col("m"), 1L).otherwise(0L))
            .as("n_mojibake_docs"),
          sum((length(col("m")) - length(col("fixed"))).cast("long"))
            .as("chars_recovered"),
          sum(when(col("m") === col("text"), 1L).otherwise(0L))
            .as("n_clean"),
          sum(when(col("m") === col("text") &&
              md5(col("fixed")) === md5(col("text")), 1L).otherwise(0L))
            .as("n_clean_identical"))
    }),

    "q_text_normalize" -> ((s, dir) => {
      val id = col("doc_id")
      val suffix = when(pmod(id, lit(4)) === 0,
          lit(" don\u2019t \u201Cquote\u201D \u2014 dash"))
        .when(pmod(id, lit(4)) === 1,
          lit(" zero\u200Bwidth\uFEFFjoined"))
        .when(pmod(id, lit(4)) === 2,
          lit(" non\u00A0breaking\u00A0space"))
        .otherwise(lit(""))
      docs(s, dir).select(id, concat(col("text"), suffix).as("m"))
        .withColumn("norm", TextOps.normalizeConfusables(col("m")))
        .select(id, (col("norm") =!= col("m")).as("changed"),
          (length(col("m")) - length(col("norm"))).cast("long")
            .as("n_stripped"),
          md5(col("norm")).as("norm_md5"))
    }),

    // the PRODUCTION configuration of the same operator: 128-bit
    // simhash with 32-bit chunk keys — at segment cardinality (every
    // doc contributes ~tokens/8 rows) the 16-bit key space saturates
    // its buckets long before doc-level dedup would; 2^32 keys keep
    // buckets ~1 at 10^9+ segments (the q_dedup_simhash_scale
    // rationale, one granularity down). Rows-only: xxh64-lane bits
    // have no DuckDB twin; the family's recall/precision is
    // spec-verified at doc level and the md5 sibling above
    // value-verifies the banding+cap pipeline itself.
    "q_line_neardup_scale" -> ((s, dir) =>
      lineNearDupReport(docs(s, dir),
        seg => DedupOps.simhashBits128(TextOps.tokens(seg)),
        nBits = 128, chunkBits = 32)),

    // SCALE TWINS of the md5-portable pipelines: the xxh64 kernels
    // the 100 TB design actually prescribes (2-5× faster than the
    // md5 oracle formulations — DuckDB lacks xxhash64, so these are
    // rows-only; recall/precision is spec-verified vs exact jaccard
    // in DedupAnnSpec). Registered so the bench measures the
    // production path alongside the verification path.
    "q_dedup_minhash_scale" -> ((s, dir) => {
      val sig = docs(s, dir).select(col("doc_id"),
        DedupOps.minhashSignature(
          DedupOps.shinglesOfText(col("text"), 3), 32).as("sig"))
      DedupOps.lshNearDupPairs(sig, "doc_id", "sig",
          bands = 8, rows = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"), col("est_sim"))
    }),

    // 128-bit simhash with 32-bit chunk blocking — the configuration
    // that keeps buckets ~1 at 1e9+ docs (saturation stress spec)
    "q_dedup_simhash_scale" -> ((s, dir) => {
      val bits = docs(s, dir).select(col("doc_id"),
        DedupOps.simhashBits128(DedupOps.tokens(col("text"))).as("bits"))
      DedupOps.simhashNearDupPairs(bits, "doc_id", "bits", maxHamming = 6,
        nBits = 128, chunkBits = 32)
    }),

    "q_ann_lsh_scale" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.lshTopK(e.filter(col("vec_id") < 10), e, planes = 4, k = 10, tables = 16)
        .select(col("qid"), col("nid"), col("rk"))
    }),

    // exact word-3-gram Jaccard near-dup pairs (sql-oracled)
    "q_ngram_jaccard" -> ((s, dir) => {
      // project union_sz away: the oracle's pair schema is
      // (id_a, id_b, inter, jaccard)
      nearDupPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
    }),

    // end-to-end dedup application: exact-jaccard pairs -> connected
    // components -> keep min id per component (cluster semantics; the
    // greedy single-join variant stays available as DedupOps.applyDedup)
    "q_dedup_apply" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(s, dir)
      DedupOps.applyDedupCC(d, "doc_id", pairs)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"))
    }),

    // SOFT dedup at the NEAR-dup level — the q_dedup_soft policy
    // applied to CC clusters instead of exact-hash clusters: every
    // doc keeps weight 1/|its CC cluster| (singletons 1), per-source
    // raw vs effective token mass. Coarser clusters can only shrink
    // a doc's weight (its exact cluster is a subset of its CC
    // cluster), so per source eff_near ≤ eff_exact — spec-pinned.
    // Scale shape: the pair graph and CC are the shared bounded
    // kernels; docs join components on the id (left — non-members
    // weigh 1); text never shuffles past the map-side token count.
    "q_dedup_soft_near" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("tk"))
      val comp = DedupOps.connectedComponents(nearDupPairs(s, dir))
      val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("csz"))
      d.join(comp.withColumnRenamed("id", "doc_id").join(sizes, "component")
            .select(col("doc_id"), col("csz")),
          Seq("doc_id"), "left")
        .select(col("source"), col("tk"),
          (col("tk").cast("double") /
            coalesce(col("csz"), lit(1L)).cast("double")).as("eff"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tk")).cast("long").as("raw_tokens"),
          dsum(col("eff")).as("eff_tokens"))
        .withColumn("eff_ratio",
          col("eff_tokens") / col("raw_tokens").cast("double"))
    }),

    // Near-dup cluster PURITY: does duplication stay inside one
    // source or span several (the near-dup refinement of the
    // exact-hash q_dedup_cross_source census — templated spam and
    // mirrored articles cross sources at the NEAR-dup level long
    // before byte-identical copies do)? Per cluster-size bucket:
    // cluster count and how many clusters span 2+ sources. Two
    // bounded aggregates over components, never documents².
    "q_dedup_cluster_purity" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(s, dir)
      val comp = DedupOps.connectedComponents(pairs)
        .join(d.select(col("doc_id").as("id"), col("source")), "id")
      comp.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("source")).as("n_sources"))
        .groupBy(col("n_members"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("n_sources") >= 2, 1L).otherwise(0L))
            .as("n_cross_source"))
    }),

    // What dedup DID to the mixture: per-source before/after the CC
    // keep-rule (docs, char mass, and the corpus mixture share each
    // side) — the report a curation run files before anyone trains on
    // the deduped corpus, because near-dup removal is never
    // mixture-neutral (duplicate-heavy sources shrink). Same pair
    // graph + hybrid CC as q_dedup_apply; the per-source rollup adds
    // two keyed aggregates and two one-row totals (cross-joined
    // unhinted — stats broadcast them).
    "q_dedup_impact" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(s, dir)
      val keptDocs = DedupOps.applyDedupCC(d, "doc_id", pairs)
      val after = keptDocs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_after"), sum(col("n_chars")).as("chars_after"))
      val before = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_before"), sum(col("n_chars")).as("chars_before"))
      val tb = d.agg(sum(col("n_chars")).as("tb"))
      val ta = keptDocs.agg(sum(col("n_chars")).as("ta"))
      before.join(after, Seq("source"), "left")
        .crossJoin(tb).crossJoin(ta)
        .select(col("source"), col("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          col("chars_before"),
          coalesce(col("chars_after"), lit(0L)).as("chars_after"),
          (col("chars_before").cast("double") / col("tb").cast("double"))
            .as("mix_before"),
          (coalesce(col("chars_after"), lit(0L)).cast("double") /
            col("ta").cast("double")).as("mix_after"))
    }),

    // Dedup DECISION FUSION — what "run the dedup" means downstream:
    // per doc ONE verdict composed from the three dedup families,
    // with precedence (1) drop_exact: non-canonical byte-identical
    // copy (md5 keep-min, the q_dedup_exact rule); (2) drop_near:
    // non-representative member of a near-dup CC component (the
    // q_dedup_apply keep-rule); (3) cut_spans: survivor whose
    // ExactSubstr b-side span coverage is >= 5% of its tokens (the
    // q_dedup_span_cut remedy, applied only when worth the pass);
    // else keep. Reported as the per-source before/after mixture
    // (the q_dedup_impact shape over the FUSED rule, token mass).
    // All three inputs are the operators their own §2 queries run —
    // composition, not new machinery. The per-doc verdict frame
    // feeds three aggregates → localCheckpoint so CC + ExactSubstr
    // run once.
    "q_dedup_fused" -> ((s, dir) => fusedDedupReport(docs(s, dir))),

    // dedup-family VENN census — the overlap report behind the fused
    // verdict's precedence: per doc the INDEPENDENT (exact, near,
    // cut≥5%) booleans, censused over the 8 combinations with token
    // mass. Where q_dedup_fused decides, this one shows how much the
    // three families agree — the measurement that justifies running
    // fewer of them (a family flagging only subsets of another is
    // paying its cost for nothing). Same shared flag frame
    // (dedupFlagFrame) and the same oracle CTE prefix as the fused
    // report, so the two surfaces cannot disagree on what each
    // family flags.
    "q_dedup_venn" -> ((s, dir) => vennDedupReport(docs(s, dir))),

    // connected components over the near-dup pair graph: per-cluster
    // membership stats (component = min doc_id reachable)
    "q_dedup_cc" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir)
      DedupOps.connectedComponents(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
    }),

    // embedding-cosine near-dup pairs: LSH-bucketed candidates,
    // exact-cosine verification (md5-portable — oracle-verified)
    "q_dedup_embed" -> ((s, dir) => {
      AnnOps.embedNearDupPairs(embs(s, dir), planes = 4, tables = 16, threshold = 0.4)
    }),

    // brute-force exact cosine top-k (bit-identical fold arithmetic)
    "q_ann_bruteforce" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 10)
        .select(col("qid"), col("nid"), col("rk"), col("sim"))
    }),

    // hard-negative mining for contrastive training: per query the
    // top-10 most-similar corpus vectors with a DIFFERENT label —
    // the near-boundary negatives that carry gradient. Exactness
    // baseline (broadcast-query map-side; LSH candidates are the
    // corpus-scale path with the identical label filter).
    "q_hard_negatives" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.hardNegatives(e.filter(col("vec_id") < 10), e, k = 10)
    }),

    // the LSH candidate path with the same label filter — the
    // corpus-scale configuration (rows-only: xxh64 kernel)
    "q_hard_negatives_scale" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.hardNegativesLsh(e.filter(col("vec_id") < 10), e,
        planes = 4, k = 10, tables = 16)
        .select(col("qid"), col("nid"), col("rk"))
    }),

    // cosine-threshold range search (radius primitive; tau picked to
    // exercise a non-trivial match set at test SFs)
    "q_ann_range" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.rangeSearch(e.filter(col("vec_id") < 10), e, tau = 0.3)
    }),

    // hyperplane-LSH bucketed ANN (md5-sign planes — oracle-verified)
    "q_ann_lsh" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.lshTopKMd5(e.filter(col("vec_id") < 10), e, planes = 4, k = 10, tables = 16)
        .select(col("qid"), col("nid"), col("rk"))
    }),

    // Hyperplane-LSH tuning SWEEP — completes the index-QA family
    // (flat/IVF/PQ/IVF-PQ/PCA/graph/LSH each now carry their dial
    // table): recall@10 vs candidate cost across (tables, planes) on
    // the q_ann_lsh configuration. The tables axis is a rank-prefix
    // BY CONSTRUCTION (bucket keys are table-qualified, so the first
    // t tables' candidates nest) — ONE collision pass carries each
    // pair's min colliding table and every grid value is a filter;
    // planes legs are bounded re-collision passes (the signature
    // changes wholesale). Rows-only like its sweep siblings: the
    // bucket kernel is oracled through q_ann_lsh itself; here the
    // nesting theorem and the brute-force ground truth are
    // spec-pinned.
    "q_ann_lsh_sweep" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.lshSweep(e.filter(col("vec_id") < 10), e, planes = 4,
        tables = 16, k = 10, planesGrid = Seq(2, 8),
        tablesGrid = Seq(2, 4, 8, 16))
    }),

    // ANN recall report: per-query overlap of the hyperplane-LSH
    // top-10 against the brute-force top-10 — the measurement that
    // justifies an index's planes/tables before trusting it at scale
    // (the companion of q_minhash_accuracy for the embedding side).
    // Integer hit counts; the one division is IEEE-exact.
    "q_ann_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val bf = AnnOps.bruteForceTopK(q, e, k = 10)
        .select(col("qid"), col("nid"))
      val ann = AnnOps.lshTopKMd5(q, e, planes = 4, k = 10, tables = 16)
        .select(col("qid"), col("nid"), lit(1).as("__hit"))
      bf.join(ann, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"),
          count(lit(1)).as("n_true"))
        .withColumn("recall", col("hits").cast("double") / lit(10.0))
    }),

    // PQ ANN: per-subspace codebooks + asymmetric distance tables —
    // the memory-compression scale path. Deterministic build
    // (lowest-id init, decimal means, first-min ties) makes the whole
    // codebook → encode → ADC → refine pipeline replicable in the
    // oracle, like the IVF index build.
    "q_ann_pq" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.pqTopK(e.filter(col("vec_id") < 10), e, m = 2, ksub = 16, k = 10,
          iters = 2, rerank = 50)
        .select(col("qid"), col("nid"), col("rk"))
    }),

    // Embedding DRIFT between two snapshots — the embedding-space QA
    // a pipeline runs before REUSING an ANN index / centroids across
    // corpus or model versions: per label cluster, the L2 distance
    // between the two views' per-dimension mean vectors (the
    // centroid shift), with each side's population. Snapshot pair
    // derives deterministically (the q_corpus_churn synthesis on
    // vec_id). Decimal-exact per-dim means (the IVF-build
    // discipline), squared diffs on identical trees, the cross-dim
    // sum DECIMAL-routed, one final IEEE sqrt. A label present in
    // only ONE view has no shift to measure and is deliberately
    // absent (inner joins — population churn is q_corpus_churn's
    // job, not this report's). Scale shape: the exchanges carry
    // labels × dims mean partials (map-side combined), never
    // vectors; the drift table is labels-sized.
    "q_embed_drift" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      val a = e.filter(pmod(col("vec_id"), lit(10)) =!= 9)
      val b = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      def means(df: DataFrame, nm: String) =
        df.select(col("label"), posexplode(col("v")))
          .groupBy(col("label"), col("pos"))
          .agg((sum(col("col").cast(
              org.apache.spark.sql.types.DecimalType(28, 12))).cast("double") /
            count(lit(1))).as(nm))
      val ssq = means(a, "ma").join(means(b, "mb"), Seq("label", "pos"))
        .select(col("label"),
          ((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("d2"))
        .groupBy(col("label")).agg(dsum(col("d2")).as("ssq"))
      val ca = a.groupBy(col("label")).agg(count(lit(1)).as("n_a"))
      val cb = b.groupBy(col("label")).agg(count(lit(1)).as("n_b"))
      ssq.join(ca, "label").join(cb, "label")
        .select(col("label"), col("n_a"), col("n_b"),
          sqrt(col("ssq")).as("mean_shift"))
    }),

    // IMAGE-TEXT PAIR ALIGNMENT census (r15 verdict #5) — the
    // LAION-style curation gate for multimodal pairs: per pair the
    // cosine between its image embedding and its text embedding, and
    // per (source, threshold) the keep/drop census over a cutoff
    // grid (the threshold-sweep discipline: the dial rides ONE pair
    // pass). The corpus carries one embedding per id, so the pair's
    // two modalities derive deterministically (the q_embed_drift
    // snapshot trick): text side = the doc's own vector, image side
    // = the XOR-1 partner's vector — adjacent ids pair up and
    // alignment varies realistically across pairs (measured spread
    // at sf0.01: keep_frac 0.68 → 0 across the grid). Scale shape:
    // ONE co-partitioned self-join on the pair id (embeddings join
    // partner + source join, both on the same key — vectors cross
    // exactly one exchange), the per-pair sim frame checkpointed
    // once (doc-sized, 1 double/row), the 8-point grid a broadcast
    // cross join over it; keeps/fracs are identical IEEE trees in
    // both engines (sim*100 vs an integer threshold column). The
    // (source, sim) kernel is [[pairAlignSims]], shared with the
    // live monitor (streamingPairAlign) so batch and stream cannot
    // drift.
    "q_pair_align" -> ((s, dir) => pairAlignCensus(pairAlignSims(s, dir))),

    // CAPTION DEDUP — the (image, caption) composite-key dedup the
    // LAION curation pipeline runs BEFORE alignment scoring (the
    // same image re-crawled under many pages carries byte-identical
    // captions; dropping them before the cosine gate keeps the
    // alignment census from double-counting spam): image identity =
    // the pair's image key (synthesized as doc_id mod 50 — the
    // q_media_phash identity-class discipline; the mirror family's
    // +100,000,000 offset is ≡ 0 mod 50, so every planted mirror doc
    // lands on ITS ORIGINAL's image key with an identical caption —
    // real dup pairs at every SF by construction), caption identity
    // = the text hash. keep = first doc_id per (image, caption);
    // only ids + 16-byte hashes cross the window exchange, text
    // never shuffles, and the partition key carries the
    // high-cardinality hash.
    "q_caption_dedup" -> ((s, dir) => {
      val p = docsWithMirror(s, dir)
        .select(col("doc_id"), pmod(col("doc_id"), lit(50)).as("img_id"),
          col("source"), md5(col("text")).as("cap_hash"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("img_id"), col("cap_hash"))
      p.select(col("doc_id"), col("img_id"), col("source"), col("cap_hash"),
        (col("doc_id") === min(col("doc_id")).over(w)).as("keep"))
    }),

    // PQ quantization-distortion report: per subspace the k-means
    // objective (mean squared L2 to the nearest code word) and the
    // code usage — the (m, ksub) tuning measurement before trusting
    // ADC distances (the compression axis of the index-QA family:
    // minhash_accuracy → sketches, ann_recall/ivf_sweep → candidate
    // generation, this → the quantizer). Same deterministic build as
    // q_ann_pq, so the oracle replays the training chain verbatim.
    "q_pq_distortion" -> ((s, dir) =>
      AnnOps.pqDistortion(embs(s, dir), m = 2, ksub = 16, iters = 2)),

    // Graph ANN (partitioned small-world; Malkov & Yashunin 2018,
    // Spark-first: IVF router + per-cell NSW adjacency + bounded-hop
    // beam search — see AnnOps.hnswTopK). Rows-only by design: the
    // graph build composes LSH candidates, windows and a join loop no
    // SQL oracle can replicate; the recall floor vs q_ann_bruteforce
    // is spec-pinned (the q_ann_recall discipline) and the structure
    // (≤k per query, no self pairs, adjacency degree ≤ m) spec'd.
    "q_ann_hnsw" -> ((s, dir) => {
      val e = embs(s, dir)
      // params measured (HnswProfile): 1-entry/2-hop seeding reads
      // 0.07 recall on this weakly-clustered corpus — beam search
      // needs entry DIVERSITY (4 entries/cell) and enough hops to
      // traverse a cell (4; converged vs 6) → recall@10 0.86 vs the
      // brute-force oracle, floor spec-pinned at 0.7
      AnnOps.hnswTopK(e.filter(col("vec_id") < 10), e, c = 8, nprobe = 4,
          m = 8, beam = 20, hops = 4, k = 10, entries = 4)
        .select(col("qid"), col("nid"), col("rk"))
    }),

    // HNSW tuning SWEEP (r14 verdict #3 — the q_ann_ivf_sweep
    // discipline on the graph member): recall@10 vs scored-candidate
    // cost across (hops, beam, entries), ONE build shared by every
    // leg. The hops axis is free (per-hop snapshots nest — recall
    // monotone by theorem, spec-pinned); beam/entries legs are
    // bounded re-searches on the same checkpointed adjacency, their
    // seeds a rank-prefix of one medoid frame. The default point
    // (q_ann_hnsw's 4/20/4) anchors all three axes from one search —
    // this table is what justified 0.86 recall and prices the path
    // to 0.9+. Rows-only by design, like q_ann_hnsw itself: the
    // candidate trajectory composes LSH buckets, windows and a join
    // loop no SQL oracle replays; the brute-force ground truth and
    // the monotone theorems are spec-pinned (supersedes HnswProfile,
    // which measured the entries dial outside the suite).
    "q_ann_hnsw_sweep" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.hnswSweep(e.filter(col("vec_id") < 10), e, c = 8, nprobe = 4,
        m = 8, k = 10, hops = 4, beam = 20, entries = 4,
        beamGrid = Seq(5, 40), entriesGrid = Seq(1))
    }),

    // IVF ANN: centroid cells + nprobe search. Deterministic init +
    // decimal-exact means + fixed tie rules make the whole index
    // build/search bit-replicable in the oracle.
    "q_ann_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.ivfTopK(e.filter(col("vec_id") < 10), e, c = 16, nprobe = 4, k = 10,
          iters = 1)
        .select(col("qid"), col("nid"), col("rk"))
    }),

    // IVF nprobe tuning SWEEP: recall@10 vs scan fraction across the
    // probe dial {1,2,4,8,16} on the SAME deterministic c=16 build as
    // q_ann_ivf — one build, one ranked probe list per query, each
    // grid value a rank-prefix selection (never one search per grid
    // point); at nprobe = c the probed set is the corpus, so recall
    // must read exactly 1.0 (the sweep's internal sanity row). The
    // table a deployment reads to pick its recall/cost point.
    "q_ann_ivf_sweep" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.ivfSweep(e.filter(col("vec_id") < 10), e, c = 16,
        nprobes = Seq(1, 2, 4, 8, 16), k = 10, iters = 1)
    }),

    // deterministic k-means clustering of the embedding corpus (the
    // IVF build as a first-class curation operator; same build as
    // q_ann_ivf so the oracle replicates bit-exactly)
    "q_embed_cluster" -> ((s, dir) =>
      AnnOps.clusterStats(embs(s, dir), c = 16, iters = 1)),

    // Cluster topic labeling: the kmeans assignment (same
    // deterministic build as q_embed_cluster) joined to the documents
    // by id, top-3 terms per cluster by frequency — "what is this
    // embedding cluster ABOUT", the review surface of cluster-driven
    // curation. Terms explode map-side and collapse to per-doc
    // (doc_id, term, doc_tf) BEFORE the assignment join — the
    // map-side combine runs ahead of the join exchange, so what
    // shuffles is bounded by per-doc VOCABULARY, never the raw
    // corpus-token instance stream (PlanSpec pins the join input is
    // the aggregated frame).
    "q_cluster_topics" -> ((s, dir) => {
      val centroids = AnnOps.ivfCentroids(embs(s, dir), c = 16, iters = 1)
      val assigned = embs(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("__v"))
        .withColumn("cid", AnnOps.nearestCentroid(col("__v"), centroids))
        .select(col("vec_id"), col("cid"))
      val terms = docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term").rlike("^[a-z]+$") &&
          !col("term").isInCollection(TextOps.EnStop))
      val docTf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("doc_tf"))
      val tf = docTf.join(assigned, docTf("doc_id") === assigned("vec_id"))
        .groupBy(col("cid"), col("term"))
        .agg(sum(col("doc_tf")).cast("long").as("tf"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))
        .orderBy(col("tf").desc, col("term").asc)
      tf.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("cid"), col("rnk"), col("term"), col("tf"))
    }),

    // cluster-balanced sampling: per-topic cap after clustering (the
    // curation step q_embed_cluster feeds — same deterministic build)
    "q_sample_cluster" -> ((s, dir) =>
      AnnOps.clusterCappedSample(embs(s, dir), c = 16, iters = 1,
        cap = 10, seed = "mix42")),

    // IVF-PQ ANN: PQ codes riding inside IVF cells — probe nprobe
    // cells, ADC within, exact refine. The production billion-vector
    // layout; both deterministic builds compose, so the full index is
    // still bit-replicable in the oracle.
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.ivfPqTopK(e.filter(col("vec_id") < 10), e, c = 16, nprobe = 4,
          m = 2, ksub = 16, k = 10, ivfIters = 1, pqIters = 1, rerank = 50)
        .select(col("qid"), col("nid"), col("rk"))
    }),

    // per-label per-dimension centroids (array plumbing, exact sums)
    "q_embed_stats" -> ((s, dir) => {
      embs(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg((dsum(col("col").cast("double")) / count(lit(1))).as("centroid"),
          count(lit(1)).as("n"))
    }),

    // token counting per source
    "q_token_count" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("n_tokens", TextOps.tokenCount(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"))
    }),

    // BPE-ish subword token counting (regex pre-tokenizer shape)
    "q_token_bpe" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("n_bpe", TextOps.bpeTokenCount(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).as("total_bpe_tokens"),
          (sum(col("n_bpe")).cast("double") / count(lit(1))).as("avg_bpe_tokens"))
    }),

    // Tokenizer FERTILITY per language: subword tokens per whitespace
    // word (the multilingual tokenizer-quality metric — a language
    // the vocabulary serves poorly fragments into more pieces per
    // word, inflating its effective cost per document and starving it
    // of context window). Integer sums per lang; the one division is
    // IEEE-exact on identical trees. Entirely map-side + one keyed
    // aggregate.
    "q_tokenizer_fertility" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"),
          TextOps.bpeTokenCount(col("text")).as("n_bpe"),
          TextOps.tokenCount(col("text")).as("n_words"))
        .filter(col("n_words") >= 1)
        .groupBy(col("lang"))
        .agg(sum(col("n_bpe")).as("total_bpe"),
          sum(col("n_words")).as("total_words"))
        .withColumn("fertility",
          col("total_bpe").cast("double") / col("total_words").cast("double"))
    }),

    // max_seq_len TRADE-OFF table: per source, the token mass kept at
    // each candidate truncation cap (256/512/1024) and the share lost
    // at 512 — the number a training pipeline reads before fixing its
    // sequence length. Pure per-doc min() folded into one aggregate:
    // map-side partial over every cap simultaneously, one shuffle of
    // 20 rows, nothing resembling a percentile pass needed.
    "q_truncation_loss" -> ((s, dir) => {
      docs(s, dir)
        .select(col("source"), TextOps.tokenCount(col("text")).as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(least(col("n_tokens"), lit(256))).as("kept_256"),
          sum(least(col("n_tokens"), lit(512))).as("kept_512"),
          sum(least(col("n_tokens"), lit(1024))).as("kept_1024"),
          sum(when(col("n_tokens") > 512, 1L).otherwise(0L)).as("docs_over_512"),
          (lit(1.0) - sum(least(col("n_tokens"), lit(512))).cast("double")
            / sum(col("n_tokens")).cast("double")).as("loss_512"))
    }),

    // SEQUENCE-LENGTH sweep — the max_seq_len dial as a grid (the
    // q_dedup_threshold_sweep discipline on the packing axis):
    // q_truncation_loss prices three hard-coded caps; this is the
    // full table a deployment reads to pick its window. ONE pass
    // computes the per-doc token counts; the grid {16..512} rides
    // a broadcast cross join over that 8-byte/doc frame — never one
    // scan per length. Per L: docs truncated, tokens kept,
    // truncation loss, the pack-count LOWER bound ceil(kept/L)
    // (what a perfect packer needs — q_pack_stats measures what the
    // real packer achieves at 512) and the fill ceiling kept/(packs
    // ·L). Integer arithmetic throughout; two double divisions on
    // identical trees both engines.
    "q_seqlen_sweep" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(TextOps.tokenCount(col("text")).cast("long").as("tk"))
        .localCheckpoint() // one tokenize, six grid points
      val grid = { import s.implicits._
        Seq(16, 32, 64, 128, 256, 512).toDF("seq_len") }
      base.crossJoin(broadcast(grid))
        .groupBy(col("seq_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("tk") > col("seq_len"), 1L).otherwise(0L))
            .as("docs_truncated"),
          sum(col("tk")).cast("long").as("total_tokens"),
          sum(least(col("tk"), col("seq_len").cast("long"))).cast("long")
            .as("tokens_kept"))
        .withColumn("trunc_loss",
          lit(1.0) - col("tokens_kept").cast("double") /
            col("total_tokens").cast("double"))
        .withColumn("ideal_packs",
          expr("(tokens_kept + seq_len - 1) DIV seq_len"))
        .withColumn("fill_ceiling",
          col("tokens_kept").cast("double") /
            (col("ideal_packs") * col("seq_len")).cast("double"))
    }),

    // PADDING-efficiency table across batching policies — the
    // padding-FLOPs decision a batcher reads next to
    // q_truncation_loss's cap decision: per-doc token counts capped
    // at 512 cost differently under (a) pad_to_max — every doc pays
    // the full window; (b) sorted_batch32 — 32-doc batches over the
    // length-sorted order (rank rides globalRank, never a
    // single-partition window), each batch paying its own max, which
    // desc-sorting concentrates; (c) bucket_pow2 — each doc pays the
    // next power of two ≥ its length (CASE table, exact integers).
    // One row per policy; integer sums, the one division IEEE-exact.
    "q_pad_efficiency" -> ((s, dir) => {
      // (doc_id, capped-tk) feeds all three policy reductions —
      // checkpoint so the corpus is read and tokenized ONCE (the
      // frame is 16 bytes/doc; three re-scans of text cost far more)
      val base = docs(s, dir).select(col("doc_id"),
        least(TextOps.tokenCount(col("text")).cast("long"), lit(512L)).as("tk"))
        .localCheckpoint()
      val padMax = base
        .agg(count(lit(1)).as("n_docs"), sum(col("tk")).cast("long").as("tokens"),
          (count(lit(1)) * lit(512L)).as("cost"))
        .select(lit("pad_to_max").as("policy"), col("n_docs"),
          col("tokens"), col("cost"))
      val sortedB = ScaleOps.globalRank(base, negate(col("tk")), col("doc_id"), "rk")
        .withColumn("batch", expr("(rk - 1) DIV 32"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("bn"), max(col("tk")).as("bmax"),
          sum(col("tk")).as("btk"))
        .agg(sum(col("bn")).cast("long").as("n_docs"),
          sum(col("btk")).cast("long").as("tokens"),
          sum(col("bn") * col("bmax")).cast("long").as("cost"))
        .select(lit("sorted_batch32").as("policy"), col("n_docs"),
          col("tokens"), col("cost"))
      val pow2 = base.withColumn("p2",
          when(col("tk") <= 32, 32L).when(col("tk") <= 64, 64L)
            .when(col("tk") <= 128, 128L).when(col("tk") <= 256, 256L)
            .otherwise(512L))
        .agg(count(lit(1)).as("n_docs"), sum(col("tk")).cast("long").as("tokens"),
          sum(col("p2")).cast("long").as("cost"))
        .select(lit("bucket_pow2").as("policy"), col("n_docs"),
          col("tokens"), col("cost"))
      padMax.unionByName(sortedB).unionByName(pow2)
        .withColumn("efficiency",
          col("tokens").cast("double") / col("cost").cast("double"))
    }),

    // quality scoring (length / avg token len / stopword ratio)
    // Train/val/test SPLIT LEAKAGE census — the eval-contamination
    // check INSIDE a corpus (decontaminate covers train-vs-benchmark;
    // this covers the corpus's own held-out splits): docs assign to
    // train/val/test by the seeded portable hash of their id
    // (80/10/10 — the standard deterministic split), and a leak is a
    // VERBATIM 8-token segment shared across two splits — the
    // overlap-granularity check (Lee et al.'s decontamination unit;
    // byte-identical whole docs are the degenerate case and a corpus
    // with none still leaks through shared passages). One row per
    // split pair: distinct leaked segments + affected docs per side.
    // Scale shape: segments explode map-side, one shuffle on the
    // segment hash; the split pair space is 3 rows.
    "q_split_leakage" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("slot", ScaleOps.shardIdPortable(col("doc_id"), 10, "split1"))
        .withColumn("split", when(col("slot") < 8, "train")
          .when(col("slot") === 8, "val").otherwise("test"))
        .withColumn("__ws", TextOps.tokens(col("text")))
        .filter(size(col("__ws")) >= 1)
        .select(col("doc_id"), col("split"),
          explode(TextOps.segments8(col("__ws"))).as("seg"))
        .select(col("doc_id"), col("split"), md5(col("seg")).as("h"))
        .distinct()
      val byHS = d.groupBy(col("h"), col("split"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      val a = byHS.select(col("h"), col("split").as("split_a"), col("nd").as("nd_a"))
      val b = byHS.select(col("h"), col("split").as("split_b"), col("nd").as("nd_b"))
      a.join(b, Seq("h")).filter(col("split_a") < col("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("leaked_segments"),
          sum(col("nd_a")).cast("long").as("docs_a"),
          sum(col("nd_b")).cast("long").as("docs_b"))
    }),

    // First-occurrence NOVELTY census — how much of each doc's
    // content is NEW when it enters the corpus, at the verbatim
    // 8-token-segment granularity (the q_split_leakage overlap unit;
    // a segment's first occurrence is the copy worth training on —
    // repeats are what dedup removes, so a source whose novelty
    // collapses is re-serving old text even if no whole doc
    // duplicates). Ingest order is doc_id (the synthesis's arrival
    // proxy): a doc's novelty = the fraction of its DISTINCT segments
    // whose corpus-wide FIRST carrier (min doc_id) is this doc,
    // bucketed 0..10 per source. Scale shape: segments explode
    // map-side and BOTH aggregates reduce them independently — the
    // per-doc segment counts on the doc key, the first-carrier
    // census on the hash key re-keyed to its min carrier — so the
    // only join is DOC-sized (a per-segment join-back would carry
    // the segment stream through a second exchange; counting novels
    // on the first-carrier frame alone makes that join ∝ docs, not
    // tokens/8 — plan-audited). Text never shuffles; pure integer
    // arithmetic — fully value-oracled.
    "q_novelty" -> ((s, dir) =>
      noveltyCensus(docs(s, dir), seg => md5(seg))),

    // Incremental NOVELTY probe (r14 verdict #4): the census for a
    // daily BATCH against the persisted fingerprint STORE — batch
    // segments probe the store's hash table, only new-first-carrier
    // rows emit, the store is never re-segmented (noveltyIncremental;
    // the q_dedup_incremental contract on the segment axis). Split
    // is id-ordered at max(doc_id)/2 — the store-precedes-batch
    // premise under which the probe EQUALS the full census on the
    // union restricted to batch docs (min-id == first-arrival; a
    // modulo split would break that equivalence, which is the point
    // of the oracle: it computes the same id-ordered split).
    "q_novelty_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val half = d.agg(max(col("doc_id"))).first().getLong(0) / 2
      val store = noveltySegs(d.filter(col("doc_id") <= half),
        seg => md5(seg)).select(col("h")).distinct()
      noveltyIncremental(store, d.filter(col("doc_id") > half),
        seg => md5(seg))
    }),

    // Directed COPY MATRIX — whose text does each source re-serve:
    // for every re-served 8-token segment (carried by a doc that is
    // not its first carrier), one (origin source → re-serving
    // source) cell with distinct segments and re-serving docs. The
    // provenance companion of q_novelty (which says a source
    // re-serves old text; this says WHOSE — mirror detection, the
    // directed refinement of q_dedup_cross_source's undirected
    // whole-doc census; the diagonal is within-source boilerplate).
    // Scale shape: this report NEEDS the segment-keyed join-back the
    // novelty census avoids (the cell is a property of the
    // (origin, re-server) PAIR) — the join carries (h, first_id,
    // origin) only, text never shuffles, and the matrix aggregate is
    // sources² rows.
    "q_copy_matrix" -> ((s, dir) => {
      val segs = docs(s, dir)
        .withColumn("__ws", TextOps.tokens(col("text")))
        .filter(size(col("__ws")) >= 1)
        .select(col("doc_id"), col("source"),
          explode(TextOps.segments8(col("__ws"))).as("seg"))
        .select(col("doc_id"), col("source"), md5(col("seg")).as("h"))
        .distinct()
        .localCheckpoint() // feeds first-carrier resolution AND the matrix join
      val first = segs.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
      // rename the origin-resolution side up front: segs appears on
      // both sides of the matrix join (the analyzer's self-join
      // ambiguity check requires disjoint attribute sets)
      val origin = segs
        .select(col("h").as("oh"), col("doc_id").as("oid"),
          col("source").as("origin"))
        .join(first, col("oh") === first("h") && col("oid") === col("first_id"))
        .select(col("oh"), col("first_id"), col("origin"))
      segs.join(origin, col("h") === col("oh"))
        .filter(col("doc_id") =!= col("first_id"))
        .groupBy(col("origin"), col("source"))
        .agg(countDistinct(col("h")).as("segments"),
          countDistinct(col("doc_id")).as("reserving_docs"))
    }),

    // the PRODUCTION hash for the same census: xxhash64 segment keys
    // (2-5× cheaper than the md5 oracle formulation at 100 TB —
    // 8-byte keys through both exchanges instead of 32-hex). Any
    // practically-injective hash yields the IDENTICAL report (the
    // census counts distincts and min carriers, never hash values),
    // so the twin spec pins exact row equality with q_novelty —
    // stronger than the usual rows-only twin contract. ONE shared
    // kernel (noveltyCensus); only the hash differs.
    "q_novelty_scale" -> ((s, dir) =>
      noveltyCensus(docs(s, dir), seg => xxhash64(seg))),

    // Quality-threshold SURVIVAL curve — the measurement that picks
    // the cutoff: for each candidate threshold over the integer
    // stopword-per-mille surrogate (the q_budget_select score; LOW =
    // high quality), how many docs and how much token mass survive.
    // Buckets aggregate once (one shuffle on an 11-value key); the
    // cumulative view is an 11×11 threshold join, never a
    // single-partition window.
    "q_quality_survival" -> ((s, dir) => {
      // cutoff granularity 20‰, capped at 200‰: the corpus's score
      // mass lives in 0-150‰ (measured) — a 50‰ grid collapsed the
      // curve to two points. Bucketing via the ONE shared kernel the
      // streaming survival monitor also runs (TextOps.survivalBuckets
      // — r15: one scorer, no drift between the curve and its live twin)
      val base = TextOps.survivalBuckets(docs(s, dir), "text")
        .select(col("doc_id"), col("n_tokens"), col("bucket"))
      val perB = base.groupBy(col("bucket")).agg(
        count(lit(1)).as("nd"), sum(col("n_tokens")).cast("long").as("tk"))
      val tot = base.agg(count(lit(1)).as("tot_docs"),
        sum(col("n_tokens")).cast("long").as("tot_toks"))
      s.range(0, 11).toDF("t")
        .join(perB, col("bucket") <= col("t"))
        .groupBy(col("t"))
        .agg(sum(col("nd")).cast("long").as("n_docs_kept"),
          sum(col("tk")).cast("long").as("toks_kept"))
        .crossJoin(tot)
        .select((col("t") * 20).as("cutoff"), col("n_docs_kept"),
          col("toks_kept"),
          (col("n_docs_kept").cast("double") /
            col("tot_docs").cast("double")).as("frac_docs"),
          (col("toks_kept").cast("double") /
            col("tot_toks").cast("double")).as("frac_toks"))
    }),

    "q_quality_score" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      docs(s, dir).select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.avgTokenLen(col("text")).as("avg_token_len"),
          TextOps.wordlistRatio(toks, TextOps.EnStop).as("stopword_ratio"))
        .withColumn("quality_class",
          TextOps.qualityClass(col("n_tokens"), col("avg_token_len"), col("stopword_ratio")))
    }),

    // Budget-bounded curation decision: rank documents by an integer
    // quality surrogate (stopword hits per mille, ASCENDING — the
    // q_quality_score convention, where LOW stopword density marks
    // the high class) and greedily keep the best until a token
    // BUDGET is spent — the select step after scoring, the decision
    // arc every curation pipeline ends on. The global running total
    // rides prefixSumRanged (percentile-cut buckets + driver offsets,
    // the q_batch_assign discipline) — never a single-partition
    // window; the composite key makes the greedy order total
    // (score asc, doc_id asc) and a domain guard raises loud.
    "q_budget_select" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val base = docs(s, dir).select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.wordlistHits(toks, TextOps.EnStop).as("stop_hits"))
        .filter(col("n_tokens") >= 1)
        .withColumn("score", expr("stop_hits * 1000 DIV n_tokens"))
      val key = when(col("doc_id") >= 0 && col("doc_id") < 10000000000L &&
          col("score").between(0, 1000),
        col("score").cast("long") * lit(10000000000L) + col("doc_id"))
        .otherwise(raise_error(concat(
          lit("budget_select key out of domain: doc_id="),
          col("doc_id").cast("string"),
          lit(" score="), col("score").cast("string"))))
      ScaleOps.prefixSumRanged(base.withColumn("__k", key),
          col("__k"), col("n_tokens"), "cum_tokens")
        .select(col("doc_id"), col("n_tokens"), col("score"),
          col("cum_tokens"), (col("cum_tokens") <= 20000L).as("kept"))
    }),

    // language-ID heuristic vs labeled lang (confusion counts)
    "q_lang_id" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("predicted", TextOps.langId(TextOps.tokens(col("text"))))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    }),

    // WINDOW-level language mixture (code-switching detection): the
    // doc-level langId vote re-run per 32-token window — a document
    // whose windows disagree is mixed-language (embedded quotes,
    // boilerplate in another language, concatenation artifacts), the
    // gate a monolingual corpus build applies where a doc-level vote
    // would average the mixture away. Map-side slicing + the same
    // stopword-list votes; one doc-keyed aggregate.
    "q_lang_mix" -> ((s, dir) => {
      val W = 32
      val toks = docs(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 1)
      val nSeg = ((size(col("t")) + lit(W - 1)) / lit(W)).cast("int")
      toks.select(col("doc_id"), explode(transform(
          sequence(lit(0), nSeg - 1),
          i => slice(col("t"), i * W + 1, lit(W)))).as("wt"))
        .withColumn("pred", TextOps.langId(col("wt")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          countDistinct(when(col("pred") =!= "und", col("pred")))
            .as("n_langs"))
        .withColumn("is_mixed", col("n_langs") >= 2)
    }),

    // Trigram-profile language ID (Cavnar & Trenkle out-of-place rank
    // distance — the classifier behind langdetect/textcat, upgrading
    // the stopword heuristic): per-language char-trigram profiles
    // train on the labeled 80% split (doc_id % 5 != 0), the held-out
    // 20% scores by INTEGER rank distance — sum over the doc's top-200
    // trigrams of |doc_rank − lang_rank|, absent-from-profile = 200 —
    // entirely libm-free, so the DuckDB oracle is bit-exact. Output:
    // held-out confusion (true lang × predicted, doc counts).
    //
    // Scale shape: trigram explode is map-side; the LANGUAGE profile
    // rank rides ScaleOps.groupedRankRanged (lang is a DECLARED
    // low-cardinality key — a bare lang-keyed window is banned); the
    // DOC profile rank windows on doc_id (high-card, fine); scoring
    // joins the doc profiles to the ≤ langs×200-row profile table
    // (stats-broadcast) and the candidate fan-out is a crossJoin
    // against the ≤5-row lang list. No corpus broadcasts, no text
    // through the scoring exchanges (trigrams only).
    //
    // NOTE on quality vs parity: the synthetic tables' lang labels
    // carry no text signal (a word-level naive-Bayes tops out at the
    // majority-class baseline), so the ORACLE pins the mechanism's
    // cross-engine parity; the CLASSIFIER's quality — high accuracy,
    // beats the stopword heuristic — is spec-pinned on a doctored
    // genuinely-multilingual corpus (DedupAnnSpec), the
    // cluster-purity discipline.
    "q_lang_trigram" -> ((s, dir) =>
      trigramLangConfusion(docs(s, dir))),

    // the lang-id family's tuning dial (every index family has its
    // sweep; the detector family had none): held-out accuracy per
    // profile depth R in {25,50,100,200} — the C&T truncation knob
    // that prices profile size (broadcast bytes in the monitor,
    // state in the batch join) against accuracy. ONE trained profile
    // and ONE doc-profile pass at max depth (both checkpointed,
    // shared with q_lang_trigram via trigramLangProfile /
    // trigramDocProfile — depth-R legs are RANK PREFIXES of the max
    // table, never a retrain); the 4-row leg grid broadcasts, the
    // absent-from-profile penalty is the leg's own R (the C&T
    // out-of-place maximum, exactly q_lang_trigram's scoring at
    // R=200 — the 200 leg is pinned equal to the flagship census's
    // row totals). Scale shape: scored rows ∝ docs × langs × legs —
    // langs and legs are alphabet constants, so the argmin window
    // partitions by (doc, leg) at full parallelism.
    "q_langid_sweep" -> ((s, dir) => {
      import s.implicits._
      val legs = Seq(25, 50, 100, 200).toDF("budget_r")
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
        .filter(length(col("text")) >= 3)
      // independent eager profile checkpoints — overlap (guide §2.6)
      val profs = QUtil.inParallel(Seq(
        () => trigramLangProfile(docs(s, dir)),
        () => trigramDocProfile(docs(s, dir))))
      val langProf = profs(0)
      val docProf = profs(1)
      val mLeg = docProf.join(langProf, "tri")
        .crossJoin(broadcast(legs))
        .filter(col("rk_doc") <= col("budget_r") &&
          col("rk_lang") <= col("budget_r"))
        .groupBy(col("doc_id"), col("lang").as("cand"), col("budget_r"))
        .agg(sum(abs(col("rk_doc") - col("rk_lang"))).as("ms"),
          count(lit(1)).as("mc"))
      val pLeg = docProf.crossJoin(broadcast(legs))
        .filter(col("rk_doc") <= col("budget_r"))
        .groupBy(col("doc_id"), col("budget_r"))
        .agg(count(lit(1)).as("p"))
      val langs = langProf.select(col("lang").as("cand")).distinct()
      val scored = pLeg.crossJoin(langs)
        .join(mLeg, Seq("doc_id", "cand", "budget_r"), "left")
        .withColumn("dist", coalesce(col("ms"), lit(0L)) +
          (col("p") - coalesce(col("mc"), lit(0L))) *
            col("budget_r").cast("long"))
      val wPick = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("budget_r"))
        .orderBy(col("dist"), col("cand"))
      val pred = scored.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("budget_r"), col("cand"))
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy(col("budget_r"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === col("cand"), 1L).otherwise(0L))
            .as("n_correct"))
    }),

    // the lang-id family's OTHER dial: held-out accuracy per
    // inference PREFIX cap (the C&T sample discipline — language ID
    // reads a sample, not the document; this is the measured price
    // of streamingLangIdTrigram's production maxChars=400 knob).
    // Profiles train on FULL text (the cap is an inference knob, not
    // a training one); the cap-c leg keeps exactly the trigrams the
    // capped text generates (start position i <= c-2) off ONE
    // positioned trigram pass, so legs never re-scan the corpus. The
    // 100000 leg is effectively-unbounded on this corpus (spec
    // asserts max doc length stays under it) and is pinned equal to
    // q_lang_trigram's census totals. Per-leg ranks need their own
    // window — partitioned by (doc, leg), full parallelism, rows
    // bounded by docs x legs x 200.
    "q_langid_prefix" -> ((s, dir) => {
      import s.implicits._
      val R = TriR
      val legs = Seq(100, 200, 400, 100000).toDF("prefix_chars")
      val d = docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
        .filter(length(col("text")) >= 3)
      // the trained profile and the per-leg doc-profile checkpoint
      // are independent eager jobs — overlap them (guide §2.6)
      val pre = QUtil.inParallel(Seq(
        () => trigramLangProfile(docs(s, dir)),
        () => {
          val test = d.filter(col("doc_id") % 5 === 0).select(
              col("doc_id"), posexplode(triGen(col("text"))))
            .select(col("doc_id"), (col("pos") + 1).as("pos"),
              col("col").as("tri"))
          test.crossJoin(broadcast(legs))
            .filter(col("pos") <= col("prefix_chars") - 2)
            .groupBy(col("doc_id"), col("prefix_chars"), col("tri"))
            .agg(count(lit(1)).as("n"))
            .withColumn("rk_doc", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("doc_id"), col("prefix_chars"))
                .orderBy(col("n").desc, col("tri"))))
            .filter(col("rk_doc") <= R)
            .select(col("doc_id"), col("prefix_chars"), col("tri"),
              col("rk_doc"))
            .localCheckpoint() // feeds the size frame AND the match join
        }))
      val langProf = pre(0)
      val dp = pre(1)
      val p = dp.groupBy(col("doc_id"), col("prefix_chars"))
        .agg(count(lit(1)).as("p"))
      val langs = langProf.select(col("lang").as("cand")).distinct()
      val matched = dp.join(langProf, "tri")
        .groupBy(col("doc_id"), col("prefix_chars"),
          col("lang").as("cand"))
        .agg(sum(abs(col("rk_doc") - col("rk_lang"))).as("ms"),
          count(lit(1)).as("mc"))
      val scored = p.crossJoin(langs)
        .join(matched, Seq("doc_id", "prefix_chars", "cand"), "left")
        .withColumn("dist", coalesce(col("ms"), lit(0L)) +
          (col("p") - coalesce(col("mc"), lit(0L))) * lit(R.toLong))
      val wPick = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("prefix_chars"))
        .orderBy(col("dist"), col("cand"))
      val pred = scored.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("prefix_chars"), col("cand"))
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy(col("prefix_chars"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === col("cand"), 1L).otherwise(0L))
            .as("n_correct"))
    }),

    // benchmark decontamination (the training-pipeline hygiene step):
    // which TRAIN docs share >= 3 distinct word-5-grams with an EVAL
    // doc. Scale shape: the eval set is small by construction, so its
    // exploded n-gram postings BROADCAST and the train corpus scans
    // map-side — only matching (train, eval) pairs ever shuffle.
    "q_decontaminate" -> ((s, dir) => {
      val sh = docs(s, dir).select(col("doc_id"),
        explode(DedupOps.shinglesOfText(col("text"), 5)).as("s5"))
      // (the same eval split drives decontamPostings — the streaming
      // monitor's broadcast table; one shingle definition everywhere)
      val evalSet = sh.filter(col("doc_id") < 25)
        .select(col("doc_id").as("eval_id"), col("s5"))
      val train = sh.filter(col("doc_id") >= 25)
        .select(col("doc_id").as("train_id"), col("s5"))
      train.join(broadcast(evalSet), "s5")
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    }),

    // Decontamination N-GRAM-SIZE dial (the most debated knob in the
    // decontamination literature — 5-gram vs 8-gram vs 13-gram
    // standards): per n ∈ {4,5,8,13}, the pairs/train-docs/eval-items
    // the >=3-shared gate flags, ALL sizes generated row-locally in
    // ONE projection over ONE tokens split (a 13-gram leg is not a
    // re-tokenize; per-leg lists are array_distinct'd to match the
    // shingle kernel's set semantics), then one tagged explode feeds
    // the same broadcast-eval join as the flagship. NOT monotone by
    // theorem (distinct-set counts across n don't nest cleanly) —
    // this dial is measured, which is its point. The n=5 row is
    // spec-pinned equal to q_decontaminate's own pair frame.
    "q_decontam_ngram" -> ((s, dir) => {
      val ns = Seq(4, 5, 8, 13)
      // r18 optimization (27.4 s → 2.x s isolated at sf0.1, identical
      // rows): the hand-rolled nested-HOF gram builder paid twice —
      // project collapse inlined split(trim(text)) into the lambda
      // body, so the interpreted HOF re-split the text once per gram
      // (≈1M splits), and array_distinct over (n, s) STRUCT elements
      // takes Spark's O(len²) pairwise-equality path (structs have no
      // proper equals). All four legs now ride the SAME native
      // single-pass WordShingles kernel as the q_decontaminate
      // flagship (one codegen'd call per n — split, join, first-
      // occurrence dedup in one pass over the text), which also makes
      // the n=5 leg's kernel literally the flagship's; the leg index
      // rides posexplode and maps back to n through the literal grid.
      val legArrays = array(ns.map(n =>
        DedupOps.shinglesOfText(col("text"), n)): _*)
      val ex = docs(s, dir).select(col("doc_id"), posexplode(legArrays))
        .select(col("doc_id"),
          element_at(typedLit(ns), col("pos") + 1).as("n"),
          explode(col("col")).as("s"))
      val evalSet = ex.filter(col("doc_id") < 25)
        .select(col("n"), col("s"), col("doc_id").as("eval_id"))
      val train = ex.filter(col("doc_id") >= 25)
        .select(col("n"), col("s"), col("doc_id").as("train_id"))
      train.join(broadcast(evalSet), Seq("n", "s"))
        .groupBy(col("n"), col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("train_id")).as("train_docs_flagged"),
          count_distinct(col("eval_id")).as("eval_items_hit"))
    }),

    // Decontamination CUTOFF sweep (the threshold-sweep discipline
    // on the contamination axis): q_decontaminate flags train docs
    // sharing >= 3 eval 5-grams — this is the table that justifies
    // the 3. ONE shared-5-gram pair pass (the same broadcast-eval
    // join as the flagship), then every cutoff in {1..5} is a filter
    // over the counted pairs riding a broadcast grid — never one
    // scan per cutoff. Per cutoff: flagged pairs, distinct train
    // docs quarantined (the corpus cost), distinct eval items
    // protected (the benefit) — the dial a decontamination run reads
    // before choosing how aggressive to be.
    "q_decontam_sweep" -> ((s, dir) => {
      import s.implicits._
      val sh = docs(s, dir).select(col("doc_id"),
        explode(DedupOps.shinglesOfText(col("text"), 5)).as("s5"))
      val pairs = sh.filter(col("doc_id") >= 25)
        .select(col("doc_id").as("train_id"), col("s5"))
        .join(broadcast(sh.filter(col("doc_id") < 25)
          .select(col("doc_id").as("eval_id"), col("s5"))), "s5")
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
        .localCheckpoint() // one pair pass feeds all five cutoffs
      val grid = Seq(1, 2, 3, 4, 5).toDF("cutoff")
      pairs.crossJoin(broadcast(grid))
        .filter(col("n_shared") >= col("cutoff"))
        .groupBy(col("cutoff"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("train_id")).as("train_docs_flagged"),
          countDistinct(col("eval_id")).as("eval_items_hit"))
    }),

    // SEMANTIC decontamination (the embedding-side twin of
    // q_decontaminate): paraphrased benchmark leakage shares no
    // verbatim n-grams, so the n-gram check misses it — per EVAL
    // vector the MAX cosine against the train corpus, bucketed into
    // severity classes. Thresholds sit inside this corpus's measured
    // max-sim range (0.36-0.45) so every class is reachable. Scale
    // shape: the eval set is tiny by construction and BROADCASTS;
    // the train corpus scans map-side with partial max per
    // partition — the one exchange carries |eval| rows. The cosine
    // is the same single-pass kernel the oracled ANN family uses
    // (bit-identical to the DuckDB zip-fold twin). At corpus scale
    // the LSH-bucketed candidates (q_ann_lsh) replace the scan; the
    // brute max here is the exactness baseline.
    "q_decontam_embed" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.semanticContam(
        e.filter(pmod(col("vec_id"), lit(50)) === 0),
        e.filter(pmod(col("vec_id"), lit(50)) =!= 0),
        tCritical = 0.44, tHigh = 0.40, tModerate = 0.37)
    }),

    // HTML→text extraction (the trafilatura/C4 stage upstream of
    // every web-corpus operator): the synthetic corpus is plain
    // text, so each doc is first wrapped in a deterministic page
    // template (nav, script/style payloads, per-sentence <p> blocks,
    // social/footer boilerplate — the oracle runs the identical
    // synthesis), then tag-stripped, entity-decoded, and put through
    // the line-density boilerplate filter. Fully map-side.
    "q_html_extract" -> ((s, dir) => {
      val html = concat(lit(HtmlPrefix),
        regexp_replace(col("text"), "\\. ", ".</p><p>"), lit(HtmlSuffix))
      TextOps.htmlExtract(
        docs(s, dir).select(col("doc_id"), html.as("html")), "doc_id", "html")
    }),

    // intra-document repetition score (Gopher/C4-style quality
    // filter): 1 - distinct-3-grams / total-3-grams
    "q_repetition" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
          size(DedupOps.shinglesOfText(col("text"), 3)).as("n_distinct_3g"))
        .filter(col("n_tokens") >= 3)
        .withColumn("n_3g", col("n_tokens") - 2)
        .withColumn("rep_ratio",
          lit(1.0) - col("n_distinct_3g").cast("double") / col("n_3g"))
        .withColumn("rep_class", when(col("rep_ratio") > 0.2, "high")
          .when(col("rep_ratio") > 0.05, "medium").otherwise("low"))
    }),

    // Gopher repetition suite (Rae et al. Table A1's repetitious-text
    // block — q_repetition covers only the duplicate-3-gram ratio):
    // duplicate line/paragraph fraction, duplicate line/paragraph
    // CHARACTER fraction, top-{2,3,4}-gram character share, each
    // thresholded at the paper's literal values (0.30/0.30/0.20/0.20
    // and 0.20/0.18/0.16), censused per source with an all-clear
    // count. Lines/paragraphs are synthesized 8-/32-token chunks
    // (TextOps.repetitionSignals — the corpus has no newlines; the
    // oracle runs the identical synthesis). ONE map-side projection
    // per doc; the tiny per-source census is the only shuffle.
    "q_repetition_gopher" -> ((s, dir) => {
      // r19: the localCheckpoint that used to live here guarded
      // against Catalyst pushing struct extraction INTO named_struct
      // children (13 field references would each re-run their own
      // copy of the interpreted walks — measured 4.0 s vs 1.1 s warm
      // at sf0.1). The signal struct is now ONE opaque native kernel
      // call (no named_struct to push into) and a multi-referenced
      // non-trivial alias, which CollapseProject never inlines — one
      // evaluation per doc with no materialization action.
      val flagged = docs(s, dir)
        .withColumn("__ws", TextOps.tokens(col("text")))
        .filter(size(col("__ws")) >= 1)
        .select(col("source"), TextOps.repetitionSignals("__ws").as("__sig"))
      val flags = Seq(
        ("v_dup_line", col("__sig.dup_line_frac") > 0.30),
        ("v_dup_para", col("__sig.dup_para_frac") > 0.30),
        ("v_dup_line_chars", col("__sig.dup_line_char_frac") > 0.20),
        ("v_dup_para_chars", col("__sig.dup_para_char_frac") > 0.20),
        ("v_top_2gram", col("__sig.top_2gram_char_frac") > 0.20),
        ("v_top_3gram", col("__sig.top_3gram_char_frac") > 0.18),
        ("v_top_4gram", col("__sig.top_4gram_char_frac") > 0.16),
        ("v_dup_5gram", col("__sig.dup_5gram_char_frac") > 0.15),
        ("v_dup_6gram", col("__sig.dup_6gram_char_frac") > 0.14),
        ("v_dup_7gram", col("__sig.dup_7gram_char_frac") > 0.13),
        ("v_dup_8gram", col("__sig.dup_8gram_char_frac") > 0.12),
        ("v_dup_9gram", col("__sig.dup_9gram_char_frac") > 0.11),
        ("v_dup_10gram", col("__sig.dup_10gram_char_frac") > 0.10))
      val withFlags = flags.foldLeft(flagged) {
        case (df, (n, c)) => df.withColumn(n, c)
      }
      val sums = flags.map { case (n, _) =>
        sum(when(col(n), lit(1L)).otherwise(lit(0L))).as(n)
      } :+ sum(when(flags.map(f => !col(f._1)).reduce(_ && _),
        lit(1L)).otherwise(lit(0L))).as("n_clean")
      withFlags.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sums: _*)
    }),

    // PII scrubbing with an audit trail: emails, IPv4s, E.164-style
    // phone numbers and long digit runs redact to placeholders,
    // per-source counts of affected docs and removed characters. The
    // synthetic corpus carries no PII, so a deterministic contact
    // line derived from doc fields is appended first (the q_url_canon
    // messy-synthesis discipline — IPs on even ids, phones on ids ≡ 0
    // mod 3, so the audit columns vary per source) — the operator
    // under test is the redaction kernel, and the oracle runs the
    // identical synthesis. Mask ORDER is load-bearing: the specific
    // masks (email, ip, phone) run BEFORE the generic digit-run rule,
    // which would otherwise eat the octets/digits and misfile the
    // audit. Two planted BOUNDARY classes exercise the widened r18
    // masks (both engines, identically): ids ≡ 4 mod 5 carry an
    // out-of-range fake address (999.1.2.3 must NOT mask as <IP> —
    // the octet bound at work; its digit run still redacts as <NUM>)
    // and ids ≡ 5 mod 7 a mixed-case dotted/+-tagged email on a
    // multi-label domain (MUST mask as <EMAIL>). Fully map-side
    // until the per-source aggregate.
    "q_pii_redact" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("synth", concat(col("text"), lit(" contact user"),
          col("doc_id"), lit("@"), col("source"), lit(".com ref "),
          pmod(col("doc_id") * 7919, lit(10000)),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit(" ip "), pmod(col("doc_id"), lit(256)), lit("."),
              pmod(col("doc_id") * 7, lit(256)), lit("."),
              pmod(col("doc_id") * 13, lit(256)), lit("."),
              pmod(col("doc_id") * 29, lit(256)))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" call +"),
              lit(10000000L) + pmod(col("doc_id") * 31, lit(90000000L))))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 4, lit(" node 999.1.2.3"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 5,
            concat(lit(" mail First.Last+tag"), col("doc_id"),
              lit("@Sub.Example.co.uk"))).otherwise(lit(""))))
        .withColumn("redacted", TextOps.piiScrub(col("synth")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((length(col("synth")) - length(col("redacted"))).cast("long"))
            .as("chars_removed"),
          sum(when(col("redacted").contains("<EMAIL>"), 1L).otherwise(0L))
            .as("n_email_docs"),
          sum(when(col("redacted").contains("<IP>"), 1L).otherwise(0L))
            .as("n_ip_docs"),
          sum(when(col("redacted").contains("<PHONE>"), 1L).otherwise(0L))
            .as("n_phone_docs"))
    }),

    // stratified training-mix sampling: downsample the dominant
    // language to ~50% with a deterministic md5 coin (engine-portable,
    // repartition/retry-stable — the sampling decision is a pure
    // function of the row, never of physical placement)
    "q_sample_stratified" -> ((s, dir) => {
      docs(s, dir)
        .filter(when(col("lang") === "en",
            substring(md5(col("doc_id").cast("string")), 1, 1) <= "7")
          .otherwise(lit(true)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),

    // EXACT-k per-group sampling — "exactly 20 docs per source for
    // the eval set", the fixed quota a hash-FRACTION sampler
    // (q_sample_stratified) cannot promise: docs rank inside each
    // source by a seeded portable hash (the md5→int64 kernel —
    // decided by VALUE, so re-runs, re-partitions and both engines
    // agree; 32-bit collisions tie-break on doc_id identically) and
    // rank ≤ k survives. The kept rows themselves are the output, so
    // the oracle verifies the SELECTION, not just quota counts.
    // Ranking rides the ranged discipline (groupedRankRanged —
    // source is a declared low-cardinality key; a plain
    // source-window would sort 1/20th of a 100 TB corpus in one
    // task's sort; the ranged buckets also need a NUMERIC order key,
    // which the hex digest is not).
    "q_sample_exact" -> ((s, dir) => {
      val keyed = docs(s, dir).select(col("doc_id"), col("source"),
        conv(substring(md5(concat(lit("samp42:"), col("doc_id"))), 1, 8),
          16, 10).cast("long").as("hk"))
      ScaleOps.groupedRankRanged(keyed, col("source"), col("hk"),
          col("doc_id"), "rk", "__n")
        .filter(col("rk") <= 20)
        .select(col("doc_id"), col("source"), col("rk"))
    }),

    // deterministic global shuffle for training-data order — the
    // ScaleOps.shuffleShard operator (md5-portable twin for the
    // oracle; the xxh64 path is the production kernel). nShards is a
    // parameter — 37 here to prove nothing depends on a power-of-2 or
    // hex-digit constant; ≥4096 at 100 TB so every shard's window
    // sort is its own task.
    "q_shuffle_shard" -> ((s, dir) =>
      ScaleOps.shuffleShard(docs(s, dir).select(col("doc_id")), "doc_id",
        nShards = 37, seed = "shuf42", portable = true)),

    // sequence packing for pretraining — ScaleOps.packSequences
    // (per-shard contiguous fill, parallelism = nShards parameter),
    // aggregated to per-pack stats for the oracle.
    "q_pack_sequences" -> ((s, dir) =>
      ScaleOps.packSequences(
        docs(s, dir).select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", maxLen = 512, nShards = 37, seed = "pack7",
        portable = true)
        .groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))),

    // packing-efficiency report: fill rate of the packed layout —
    // the utilization metric every training run tracks (wasted pad
    // tokens = wasted accelerator time). One aggregate over the pack
    // ids; 'full' packs are those the NEXT doc could not extend.
    "q_pack_stats" -> ((s, dir) => {
      val packs = ScaleOps.packSequences(
        docs(s, dir).select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", maxLen = 512, nShards = 37, seed = "pack7",
        portable = true)
        .groupBy(col("shard"), col("pack_id"))
        .agg(sum(col("n_tokens")).as("pack_tokens"))
      packs.agg(
        count(lit(1)).as("n_packs"),
        sum(col("pack_tokens")).as("total_tokens"),
        sum(when(col("pack_tokens") >= 512, 1L).otherwise(0L))
          .as("at_capacity_packs"),
        (sum(col("pack_tokens")).cast("double") /
          (count(lit(1)) * lit(512)).cast("double")).as("fill_rate"))
    }),

    // windowed duplicated-substring detection (the suffix-array-dedup
    // approximation — see DedupOps.duplicatedWindows)
    "q_dedup_substring" -> ((s, dir) =>
      DedupOps.duplicatedWindows(docs(s, dir), "doc_id", "text",
        w = 8, stride = 4)),

    // bigram-LM fluency score (the CCNet-style LM quality filter,
    // self-trained on the corpus — see TextOps.lmBigramScore)
    "q_lm_bigram" -> ((s, dir) =>
      TextOps.lmBigramScore(docs(s, dir), "doc_id", "text")),

    // cross-document segment dedup, first occurrence wins, documents
    // reassembled from surviving segments (C4/RefinedWeb line-dedup —
    // see DedupOps.lineDedup)
    "q_line_dedup" -> ((s, dir) =>
      DedupOps.lineDedup(docs(s, dir), "doc_id", "text", window = 8)),

    // cross-document boilerplate census: 8-token line segments shared
    // by >= 2 distinct docs of one source (nav chrome, license
    // headers — what C4 strips before training). Fingerprints only
    // through the exchanges; per-source report.
    "q_boilerplate" -> ((s, dir) =>
      DedupOps.boilerplate(docs(s, dir), "doc_id", "source", "text",
        window = 8, minDocs = 2)),

    // cross-SOURCE duplication census — the provenance question a
    // mixture decision needs (which sources mirror each other, and
    // how much of a "new" source is already held elsewhere): distinct
    // (source, content-hash) pairs self-joined on the hash, one row
    // per source pair with the shared distinct-content count. The
    // join is bounded by contents present in 2+ sources (the dup
    // clusters), never the corpus against itself; only 16-byte
    // hashes cross the exchange. Runs over the mirror-planted corpus
    // (docsWithMirror) so the census is non-empty at every SF.
    "q_dedup_cross_source" -> ((s, dir) => {
      val sh = docsWithMirror(s, dir)
        .select(col("source"), md5(col("text")).as("h")).distinct()
      sh.as("a").join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
    }),

    // incremental NEAR-dup: probe the incoming batch's minhash
    // signatures against the historical signature store (see
    // DedupOps.lshNearDupAgainstStoreMd5); same modulo split
    "q_dedup_minhash_incr" -> ((s, dir) => {
      val sig = docs(s, dir).select(col("doc_id"),
        DedupOps.minhashSignatureMd5(
          DedupOps.shinglesOfText(col("text"), 3), 32).as("sig"))
      DedupOps.lshNearDupAgainstStoreMd5(
        sig.filter(col("doc_id") % 4 >= 2),
        sig.filter(col("doc_id") % 4 < 2),
        "doc_id", "sig", bands = 8, rows = 4, threshold = 0.5)
    }),

    // incremental dedup of an incoming batch against the historical
    // fingerprint store (daily-ingest pattern — see
    // DedupOps.dedupAgainstStore). Modulo split keeps the history/
    // incoming partition SF-invariant.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = d.filter(col("doc_id") % 4 < 2)
        .select(md5(col("text")).as("content_hash"))
      DedupOps.dedupAgainstStore(
          d.filter(col("doc_id") % 4 >= 2), "doc_id", "text", store)
        .select(col("doc_id"), col("dup_of_store"), col("dup_in_batch"),
          col("admit"))
    }),

    // the same probe behind a Bloom pre-filter on the store scan —
    // result bit-identical (no false negatives), shuffle ∝ matches
    // instead of ∝ store. Shares q_dedup_incremental's oracle: the
    // filter being invisible to the answer IS the spec.
    "q_dedup_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val store = d.filter(col("doc_id") % 4 < 2)
        .select(md5(col("text")).as("content_hash"))
      DedupOps.dedupAgainstStoreBloom(
          d.filter(col("doc_id") % 4 >= 2), "doc_id", "text", store)
        .select(col("doc_id"), col("dup_of_store"), col("dup_in_batch"),
          col("admit"))
    }),

    // DSIR-shaped importance weights toward a target distribution
    // (here: lang='en' as the target corpus) — see TextOps.dsirWeights
    "q_dsir_weights" -> ((s, dir) =>
      TextOps.dsirWeights(docs(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en")),

    // Trained quality classifier (the fastText-filter role): even
    // doc_ids train a capped-vocab df-posterior model against the
    // quality heuristic label; odd doc_ids are scored and the
    // confusion table reports how the trained filter would gate the
    // held-out corpus — see TextOps.qualityClassifier
    "q_quality_classifier" -> ((s, dir) =>
      TextOps.qualityClassifier(docs(s, dir), "doc_id", "text",
        labelPred = col("lang") === "en" && col("n_chars") >= 200,
        trainPred = col("doc_id") % 2 === 0)),

    // CALIBRATION curve of the same trained classifier (the SAME
    // TextOps.qualityScores kernel as the confusion table — one
    // scorer, no drift): held-out docs rank into ten EQUAL-FREQUENCY
    // score bins (the standard calibration construction; the mean
    // posterior concentrates in a ~14k-wide band by the law of large
    // numbers — measured — so fixed-width deciles collapse to one
    // bucket), per bin the actual-positive rate and the score range —
    // does a higher-scored bin really hold more positives. Ranking
    // rides globalRank (never a single-partition window); integer
    // bin math; the one rate division IEEE-exact on identical trees.
    "q_quality_calibration" -> ((s, dir) => {
      // globalRank needs two driver actions (percentile cuts + bucket
      // counts) before the consumer's own, and the count crossJoin
      // adds a third — localCheckpoint the scored frame once so the
      // classifier train+score pipeline never re-executes per action
      // (the perplexityBuckets discipline; this call site was the one
      // globalRank consumer still re-deriving its input — measured
      // 3.2-3.4 s isolated → see OPTIMIZATION_r18.md)
      val sc = TextOps.qualityScores(docs(s, dir), "doc_id", "text",
        labelPred = col("lang") === "en" && col("n_chars") >= 200,
        trainPred = col("doc_id") % 2 === 0).localCheckpoint()
      val n = sc.agg(count(lit(1)).as("n"))
      ScaleOps.globalRank(sc.crossJoin(n), col("score"), col("__id"), "rk")
        .withColumn("bucket", expr("((rk - 1) * 10) DIV n"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("__label"), 1L).otherwise(0L)).as("n_positive"),
          min(col("score")).as("lo_score"), max(col("score")).as("hi_score"))
        .withColumn("positive_rate",
          col("n_positive").cast("double") / col("docs").cast("double"))
    }),

    // BPE tokenizer training — first-iteration pair statistics
    // (value-oracled: the distributed pair-count kernel every merge
    // round reuses) and the full merge-table training loop
    // (rows-only: iterative argmax has no SQL twin; the Sennrich
    // worked example is spec-pinned in DedupAnnSpec). Corpus is
    // touched once for word counts; iterations run on the vocab.
    "q_bpe_pairs" -> ((s, dir) =>
      TextOps.bpePairCounts(docs(s, dir), "text", topK = 100)),
    "q_bpe_train" -> ((s, dir) =>
      TextOps.bpeTrain(docs(s, dir), "text", nMerges = 12)),
    // tokenizer APPLICATION — what a training run actually does with
    // the merge table: train (one corpus pass + in-memory loop), then
    // encode every document map-side with the merges riding as one
    // codegen reference object. Per-doc word/subword/char counts
    // report the compression the subword vocab achieves. Rows-only:
    // the merge table is data-derived, so there is no static SQL
    // twin; the encode kernel is spec-pinned on the Sennrich corpus.
    "q_bpe_encode" -> ((s, dir) => {
      val merges = TextOps.bpeTrain(docs(s, dir), "text", nMerges = 12)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeEncode(docs(s, dir), "doc_id", "text", merges)
    }),

    // tokenizer-BUDGET cross-check (r16 verdict #7): the q_vocab_oov
    // curve read against the TRAINED BPE vocab instead of the raw
    // top-B corpus word list — per merge-budget prefix of ONE
    // trained table, whole-word coverage and fertility (see
    // TextOps.vocabBudgetReport; budgets nest, so both curves are
    // monotone by theorem — spec-pinned, the full budget anchored
    // bit-equal to q_bpe_encode's corpus totals). Rows-only like
    // q_bpe_train itself: the merge table is data-derived (iterative
    // argmax, no static SQL twin).
    "q_vocab_budget" -> ((s, dir) => {
      // ONE corpus pass: the checkpointed word histogram feeds BOTH
      // the train and the report (review-wave finding — composing
      // bpeTrain(docs) + vocabBudgetReport(docs) silently rebuilt
      // the data-sized pass)
      val hist = TextOps.wordHistogram(docs(s, dir), "text")
        .localCheckpoint()
      val merges = TextOps.bpeTrainFrom(hist, nMerges = 12)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.vocabBudgetReportFrom(hist, merges, Seq(0, 3, 6, 12))
    }),

    // unigram-LM tokenizer TRAINING (Kudo 2018 / SentencePiece — the
    // OTHER production subword family; a tokenizer bake-off needs
    // both): seed substrings + hard-EM Viterbi + prune, one corpus
    // pass + driver loop (the bpeTrain discipline). Rows-only: the
    // vocabulary is data-derived (no static SQL twin); the trainer is
    // spec-pinned on closed-form corpora and shares its Viterbi
    // kernel with the encode expression.
    "q_unigram_lm" -> ((s, dir) =>
      TextOps.unigramTrain(docs(s, dir), "text", vocabSize = 80,
        maxPieceLen = 6, emIters = 4)),
    // unigram APPLICATION: train, then Viterbi-encode every doc
    // map-side with the vocabulary riding as two codegen reference
    // objects; per-doc compression report (the q_bpe_encode shape, so
    // the two subword families are directly comparable on one corpus)
    "q_unigram_encode" -> ((s, dir) => {
      val v = TextOps.unigramTrain(docs(s, dir), "text", vocabSize = 80,
        maxPieceLen = 6, emIters = 4).collect()
      val total = v.map(_.getLong(2)).sum.toDouble
      val pieces = v.map(r => (r.getString(0), math.log(
        (if (r.getLong(2) > 0L) r.getLong(2).toDouble else 0.5) / total))).toSeq
      TextOps.unigramEncode(docs(s, dir), "doc_id", "text", pieces,
        maxPieceLen = 6)
    }),
    // unigram-family tokenizer-BUDGET cross-check (r17 verdict #5 —
    // the q_vocab_budget discipline on the OTHER subword family):
    // coverage/fertility per multi-piece budget as prefixes of the
    // ONE trained table in the trainer's own prune order, log-probs
    // renormalized per leg (what a truncated-vocab deployment ships
    // — NOT a retrain; see TextOps.unigramBudgetReportFrom for the
    // honest non-nesting note). ONE checkpointed word histogram
    // feeds EM training and every report leg (zero corpus
    // re-scans); the over-ask budget 1000 clamps with
    // effective_pieces saying so. Rows-only like q_unigram_lm (the
    // vocabulary is data-derived); spec pins the budget-0 char
    // closed form, the per-leg ≤ char-decode ceiling, and the full
    // budget bit-equal to BOTH the hard-EM fixed point (Σ trained
    // counts) and q_unigram_encode's corpus totals.
    "q_unigram_budget" -> ((s, dir) => {
      val hist = TextOps.wordHistogram(docs(s, dir), "text")
        .localCheckpoint()
      val v = TextOps.unigramTrainFrom(hist, vocabSize = 80,
        maxPieceLen = 6, emIters = 4).collect()
      val vocab = v.map(r => (r.getString(0), r.getLong(2))).toSeq
      TextOps.unigramBudgetReportFrom(hist, vocab, Seq(0, 2, 5, 1000),
        maxPieceLen = 6)
    }),

    // tokenizer BAKE-OFF — the table a tokenizer decision actually
    // reads: BOTH subword families trained on the SAME corpus, both
    // encodes run, per-source fertility (subwords/word) and
    // compression (chars/subword) side by side. Rows-only (both
    // vocabularies are data-derived). Two bounded corpus passes for
    // the trains + two map-side encodes; the doc join keys on
    // doc_id, the census on source.
    "q_tokenizer_bakeoff" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = TextOps.bpeTrain(d, "text", nMerges = 12)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val uv = TextOps.unigramTrain(d, "text", vocabSize = 80,
        maxPieceLen = 6, emIters = 4).collect()
      val tot = uv.map(_.getLong(2)).sum.toDouble
      val pieces = uv.map(r => (r.getString(0), math.log(
        (if (r.getLong(2) > 0L) r.getLong(2).toDouble else 0.5) / tot))).toSeq
      val b = TextOps.bpeEncode(d, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_words"),
          col("n_subwords").as("bpe_subwords"))
      val u = TextOps.unigramEncode(d, "doc_id", "text", pieces, 6)
        .select(col("doc_id"), col("n_subwords").as("uni_subwords"),
          col("n_chars"))
      d.select(col("doc_id"), col("source"))
        .join(b, "doc_id").join(u, "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n_words")).cast("long").as("n_words"),
          sum(col("bpe_subwords")).cast("long").as("bpe_subwords"),
          sum(col("uni_subwords")).cast("long").as("uni_subwords"),
          (sum(col("bpe_subwords")).cast("double") /
            sum(col("n_words")).cast("double")).as("bpe_fertility"),
          (sum(col("uni_subwords")).cast("double") /
            sum(col("n_words")).cast("double")).as("uni_fertility"),
          (sum(col("n_chars")).cast("double") /
            sum(col("bpe_subwords")).cast("double")).as("bpe_chars_per_subword"),
          (sum(col("n_chars")).cast("double") /
            sum(col("uni_subwords")).cast("double")).as("uni_chars_per_subword"))
    }),

    // corpus vocabulary statistics: the Zipf head/tail report a
    // tokenizer or mix decision reads — vocab size, token mass, the
    // head share captured by the top-k terms, hapax (df=1) share.
    // One token explode → one term-count aggregate (shuffles terms
    // once); the head set is a bounded top-k, the scalars one row.
    "q_vocab_stats" -> ((s, dir) => {
      val terms = docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      val counts = terms.groupBy(col("term"))
        .agg(count(lit(1)).as("tf"))
      val topMass = counts.orderBy(col("tf").desc, col("term").asc)
        .limit(100).agg(sum(col("tf")).as("head_tf"))
      counts.agg(
          count(lit(1)).as("vocab_size"),
          sum(col("tf")).as("total_tokens"),
          sum(when(col("tf") === 1, 1L).otherwise(0L)).as("hapax_terms"))
        .crossJoin(topMass)
        .select(col("vocab_size"), col("total_tokens"), col("hapax_terms"),
          col("head_tf"),
          (col("head_tf").cast("double") / col("total_tokens").cast("double"))
            .as("head_share"))
    }),

    // Term-FREQUENCY SPECTRUM (frequency-of-frequencies): how many
    // distinct terms occur exactly/within k times, with their token
    // mass — the raw material of Zipf/Heaps vocabulary diagnostics
    // and the number behind "how much tail would a min-frequency
    // vocab cutoff drop" (q_vocab_stats reports the hapax point;
    // this is the whole curve). Banded buckets keep the output
    // bounded at any corpus size. Two bounded aggregates: terms
    // shuffle once for tf, the spectrum is a 9-row census; all
    // integer.
    "q_freq_spectrum" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      tf.withColumn("bucket",
          when(col("tf") <= 5, col("tf"))
            .when(col("tf") <= 10, 6L).when(col("tf") <= 100, 7L)
            .when(col("tf") <= 1000, 8L).otherwise(9L))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("tf")).cast("long").as("token_mass"))
    }),

    // Per-source vocabulary DRIFT vs the corpus-wide unigram
    // distribution: total-variation distance 0.5·Σ|p_s(w) − p(w)|,
    // with the absent-word mass folded in analytically
    // (Σ_{w∉S} p(w) = 1 − Σ_{w∈S} p(w)) so the join stays bounded by
    // the source's OWN vocabulary — never a source×global-vocab
    // fan-out. The mixture-QA scalar a corpus refresh checks before
    // swapping a source in (TV is exact, symmetric, zero libm:
    // count ratios, abs, one subtraction — per-row doubles with
    // identical expression trees in both engines, cross-row sums
    // through DECIMAL(28,8)).
    // CORPUS CHURN between two crawl snapshots — the daily-diff
    // report an ingest pipeline files before re-running curation
    // (added/removed/modified/unchanged docs + the token-mass delta,
    // per source). The driver ships one snapshot, so the pair is
    // derived deterministically (the pii_redact synthesis
    // discipline — the oracle builds the SAME two views): yesterday
    // drops id%10==9, today drops id%10==0, and id%7==3 docs are
    // EDITED in today's view. Modification is detected by CONTENT
    // HASH, not id bookkeeping. Scale shape: each side projects to
    // (id, source, md5, token-count) MAP-SIDE before the one
    // id-keyed full-outer join — document text never shuffles; the
    // census is the second, #sources-row exchange.
    "q_corpus_churn" -> ((s, dir) => {
      val base = docs(s, dir)
      def side(pred: Column, edited: Boolean) = {
        val t = if (edited)
          when(pmod(col("doc_id"), lit(7)) === 3,
            concat(col("text"), lit(" churned edit"))).otherwise(col("text"))
        else col("text")
        base.filter(pred).select(col("doc_id"), col("source"),
          md5(t).as("h"), TextOps.tokenCount(t).cast("long").as("tk"))
      }
      val a = side(pmod(col("doc_id"), lit(10)) =!= 9, edited = false)
        .withColumnRenamed("h", "ha").withColumnRenamed("tk", "tka")
        .withColumnRenamed("source", "src_a")
      val b = side(pmod(col("doc_id"), lit(10)) =!= 0, edited = true)
        .withColumnRenamed("h", "hb").withColumnRenamed("tk", "tkb")
        .withColumnRenamed("source", "src_b")
      a.join(b, Seq("doc_id"), "full_outer")
        .select(coalesce(col("src_a"), col("src_b")).as("source"),
          when(col("ha").isNull, "added")
            .when(col("hb").isNull, "removed")
            .when(col("ha") =!= col("hb"), "modified")
            .otherwise("unchanged").as("change"),
          (coalesce(col("tkb"), lit(0L)) - coalesce(col("tka"), lit(0L)))
            .as("delta"))
        .groupBy(col("source"), col("change"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("delta")).cast("long").as("token_delta"))
    }),

    "q_vocab_drift" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      val sc = words.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c_s"))
      val g = sc.groupBy(col("w")).agg(sum(col("c_s")).as("c"))
      val ns = sc.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
      val n = g.agg(sum(col("c")).as("n"))
      // no broadcast hint on the one-row total (the q22/q_vocab_stats
      // discipline): stats see a single-row aggregate and broadcast
      // it unhinted, keeping the mechanical no-hint-over-SF-leaf rule
      val j = sc.join(g, "w").join(ns, "source").crossJoin(n)
        .select(col("source"), col("n_s"),
          abs(col("c_s").cast("double") / col("n_s").cast("double") -
            col("c").cast("double") / col("n").cast("double")).as("diff"),
          (col("c").cast("double") / col("n").cast("double")).as("pg"))
      j.groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          dsum(col("diff")).as("sum_a"), dsum(col("pg")).as("sum_b"))
        .select(col("source"), col("n_tokens"),
          (lit(0.5) * (col("sum_a") + (lit(1.0) - col("sum_b"))))
            .as("tv_distance"))
    }),

    // HyperLogLog vocabulary-cardinality sketch per source, plus the
    // merged union row — the mergeable distinct-count primitive a
    // 100 TB pipeline runs INSTEAD of count(distinct): per-shard
    // sketches are 256 small-int bucket maxima that merge by max, so
    // the shuffle is sources×256 rows of map-side-combined partials
    // regardless of corpus size. Fully value-oracled: bucket = first
    // 8 md5 bits, rho from length(bin(x)) on the next 48 bits (both
    // engines strip leading zeros identically), and the harmonic-mean
    // denominator is kept as the INTEGER sum of 2^(49-rho) (max
    // 256·2^49 < 2^63 — exact, order-insensitive) so the only float
    // op is the final division by one alpha·m²·2^49 literal. The
    // standard small-range linear-counting correction needs ln() —
    // libm is not bit-portable across engines — so this publishes the
    // RAW estimate plus empty_buckets; a consumer applies the
    // correction off-oracle when empty_buckets > 0 warrants it. The
    // exact-distinct column is the QA reference (the expensive path
    // the sketch replaces at scale; at 100 TB you'd publish the
    // sketch columns only).
    "q_cardinality_sketch" -> ((s, dir) => {
      val numer = SketchOps.hllNumerator
      val tok = docs(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("term"))
      val perBucket = SketchOps.hllBucketMax(tok, Seq("source"), col("term"))
      // sketch MERGE: the union row derives from per-source bucket
      // maxima only — never re-touches the token stream.
      val merged = perBucket.groupBy(col("bucket"))
        .agg(max(col("mrho")).as("mrho"))
        .select(lit("__ALL__").as("source"), col("bucket"), col("mrho"))
      val est = SketchOps.hllDenom(perBucket.unionByName(merged), Seq("source"))
      val exact = tok.groupBy(col("source"))
        .agg(countDistinct(col("term")).as("n_exact"))
      val exactAll = tok.agg(countDistinct(col("term")).as("n_exact"))
        .select(lit("__ALL__").as("source"), col("n_exact"))
      est.join(exact.unionByName(exactAll), "source")
        .select(col("source"), col("n_exact"), col("empty_buckets"),
          (numer / col("denom").cast("double")).as("hll_est"),
          (abs(numer / col("denom").cast("double") - col("n_exact").cast("double"))
            / col("n_exact").cast("double")).as("rel_err"))
    }),

    // Count-min-sketch frequency estimation, QA'd against the exact
    // top-20: d=4 md5 lanes × w=1024 buckets; the estimate for a term
    // is the MIN over lanes of its bucket sums, an overestimate by
    // construction (collisions only add). At 100 TB the sketch side is
    // the product — 4096 map-side-combined partial counts per
    // executor, a fixed-size shuffle regardless of corpus size — and
    // the exact top-k here is the QA reference that calibrates the
    // epsilon the collision term contributes. All integer counts and
    // md5 lane hashes, value-oracled.
    "q_heavy_hitters" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      def bucketOf(lane: org.apache.spark.sql.Column,
                   term: org.apache.spark.sql.Column) =
        SketchOps.cmBucket(lane, term, 1024)
      val lanes = explode(array(lit(0), lit(1), lit(2), lit(3))).as("lane")
      val cells = tok.select(col("term"), lanes)
        .select(col("lane"), bucketOf(col("lane"), col("term")).as("bucket"))
        .groupBy(col("lane"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val top = tok.groupBy(col("term")).agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("term").asc).limit(20)
      top.select(col("term"), col("true_cnt"), lanes)
        .withColumn("bucket", bucketOf(col("lane"), col("term")))
        .join(cells, Seq("lane", "bucket"))
        .groupBy(col("term"), col("true_cnt"))
        .agg(min(col("cnt")).as("cm_est"))
        .select(col("term"), col("true_cnt"), col("cm_est"),
          (col("cm_est") - col("true_cnt")).as("overestimate"))
    }),

    // the curation FUNNEL: the filters composed in pipeline order
    // with per-stage survivor counts — the yield report every corpus
    // curation run publishes (how many docs each gate removed).
    // Stages: token-length floor → language → char-length band →
    // exact-dup first-occurrence. Every per-doc flag (and the 16-byte
    // text hash) is computed MAP-SIDE before any wide op, so only
    // scalars ever cross an exchange: at 100× the dup side has corpus
    // cardinality and AQE must sort-merge — shuffling full text there
    // to produce a five-number report would be the scale killer.
    // PlanSpec pins (broadcast disabled) that no Exchange carries text.
    "q_curation_funnel" -> ((s, dir) => {
      val perDoc = docs(s, dir).select(
        col("doc_id"),
        md5(col("text")).as("__h"),
        (size(split(trim(col("text")), "\\s+")) >= 20).as("len_ok"),
        (col("lang") === "en").as("lang_ok"),
        col("n_chars").between(150, 10000).as("chars_ok"))
      val dup = perDoc.groupBy(col("__h"))
        .agg(min(col("doc_id")).as("__keep"))
      val flagged = perDoc
        .join(dup, "__h")
        .withColumn("dedup_ok", col("doc_id") === col("__keep"))
      flagged.agg(
        count(lit(1)).as("total"),
        sum(when(col("len_ok"), 1L).otherwise(0L)).as("after_length"),
        sum(when(col("len_ok") && col("lang_ok"), 1L).otherwise(0L))
          .as("after_lang"),
        sum(when(col("len_ok") && col("lang_ok") && col("chars_ok"), 1L)
          .otherwise(0L)).as("after_chars"),
        sum(when(col("len_ok") && col("lang_ok") && col("chars_ok")
          && col("dedup_ok"), 1L).otherwise(0L)).as("kept"))
    }),

    // PCA-accelerated ANN: shortlist by reduced-space L2, exact
    // rerank (rows-only; recall spec-pinned vs brute force)
    "q_ann_pca" -> ((s, dir) => {
      val e = embs(s, dir)
      AnnOps.pcaTopK(e.filter(col("vec_id") < 10), e,
        kDim = 16, k = 10, shortlist = 150)
    }),

    // PCA dimension reduction of the embedding corpus (rows-only:
    // eigendecomposition has no DuckDB twin; DedupAnnSpec pins
    // orthonormality, eigenvalue ordering, captured variance,
    // projection-variance agreement, and determinism)
    "q_embed_pca" -> ((s, dir) => {
      val e = embs(s, dir)
      val (mean, basis, _) =
        AnnOps.pcaBasis(e, "embedding", d = AnnOps.vecDim(e, "embedding"), k = 8)
      AnnOps.pcaProject(e, "embedding", mean, basis, "proj")
        .select(col("vec_id"), col("label"),
          element_at(col("proj"), 1).as("p0"),
          element_at(col("proj"), 2).as("p1"))
    }),

    // the resample step completing DSIR: systematic weighted sampling
    // over the importance weights — n evenly-spaced points on the
    // cumulative weight axis, copies = points in the doc's interval
    // (deterministic, RNG-free — see ScaleOps.systematicResample)
    "q_dsir_resample" -> ((s, dir) => {
      val w = TextOps.dsirWeights(docs(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en")
      ScaleOps.systematicResample(w.select(col("doc_id"), col("weight")),
          orderCol = col("doc_id"), weightCol = col("weight"), nTarget = 100)
        .filter(col("copies") > 0)
        .select(col("doc_id"), col("__wq").as("wq"), col("copies"))
    }),

    // domain/source-level curation rollup: per-source volume, language
    // spread, exact-dup share, and the keep/drop decision — the
    // URL/domain filtering pass of a web-scale pipeline (drop sources
    // dominated by duplicated boilerplate). Wide ops: one corpus hash
    // count + one groupBy on source; text never shuffles (the dup
    // verdict joins back on the 16-byte hash).
    "q_domain_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      val dup = d.groupBy(md5(col("text")).as("__h"))
        .agg(count(lit(1)).as("__n"))
      d.withColumn("__h", md5(col("text")))
        .join(dup, "__h")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("dup_docs"))
        .withColumn("dup_share",
          col("dup_docs").cast("double") / col("n_docs").cast("double"))
        .withColumn("keep",
          col("dup_share") <= lit(0.5) && col("n_docs") >= lit(3))
    }),

    // CCNet-style head/middle/tail fluency split by INTEGER rank over
    // the corpus-trained LM score (see TextOps.perplexityBuckets —
    // no fp percentile boundary; ranking via ScaleOps.globalRank, no
    // single-partition window)
    "q_ppl_buckets" -> ((s, dir) =>
      TextOps.perplexityBuckets(docs(s, dir), "doc_id", "text")),

    // temperature-weighted domain mixture (τ=1/2: sqrt is IEEE-exact
    // cross-engine) with capped per-domain epochs — see
    // TextOps.domainMixture
    "q_domain_mixture" -> ((s, dir) =>
      TextOps.domainMixture(docs(s, dir), "source", "text")),

    // per-near-dup-cluster representative selection: connected
    // components over the jaccard pair graph, keep the largest doc
    // (n_chars, then smallest id) per cluster — one max-struct
    // aggregate over the membership, integer-only comparisons
    "q_dedup_representative" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(s, dir)
      DedupOps.connectedComponents(pairs)
        .join(d.select(col("doc_id").as("id"), col("n_chars")), "id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars").as("c"),
            negate(col("id")).as("negid"))).as("__m"))
        .select(col("component"), col("n_members"),
          negate(col("__m.negid")).cast("long").as("rep_id"),
          col("__m.c").as("rep_chars"))
    }),

    // Source-priority dedup: when near-duplicates span SOURCES, keep
    // by source quality rank (the curated-beats-crawled rule public
    // pipeline recipes apply: wiki over web over CC), doc_id as the
    // tie-break — the quality-aware sibling of the size-based
    // q_dedup_representative, same CC clusters, different keep rule.
    // One min-struct aggregate; integer-only comparisons.
    "q_dedup_priority" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = nearDupPairs(s, dir)
      DedupOps.connectedComponents(pairs)
        .join(d.select(col("doc_id").as("id"),
          // source rank = the numeric suffix (src0 ranks best);
          // domain-guarded (the lineDedup key discipline): a label
          // outside the srcN domain fails LOUD — a silent null rank
          // would win every min-struct and corrupt the keep rule
          when(col("source").rlike("^src[0-9]+$"),
              substring(col("source"), 4, 8).cast("long"))
            .otherwise(raise_error(concat(
              lit("q_dedup_priority source label out of domain: '"),
              col("source"),
              lit("' (requires srcN, N numeric)")))).as("prio")), "id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          min(struct(col("prio").as("p"), col("id").as("i"))).as("__m"))
        .select(col("component"), col("n_members"),
          col("__m.i").cast("long").as("keep_id"),
          col("__m.p").as("keep_prio"))
    }),

    // SemDedup: within-embedding-cluster cosine pruning against
    // smaller-id members (see AnnOps.semDedup — cluster key bounds
    // the quadratic, maxCluster refuses degenerate clusterings)
    "q_semdedup" -> ((s, dir) =>
      AnnOps.semDedup(embs(s, dir), "vec_id", "embedding", "label",
        threshold = 0.35)),

    // BM25 relevance mining: rank the corpus against a bounded seed
    // query (domain mining / relevance filtering for training mixes).
    // Rational idf — see TextOps.bm25 for the libm-free exactness
    // argument; top-20 with a doc_id tie-break.
    "q_bm25" -> ((s, dir) =>
      TextOps.bm25(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "window"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)),

    // BM25 (k1, b) TUNING sweep — the retrieval dial (the
    // threshold-sweep discipline on the lexical scorer): the
    // tf/dft/dl/avgdl aggregates compute ONCE (the same
    // TextOps.bm25Hits frame the flagship scores from — one kernel,
    // no drift), the 3×4 grid rides a broadcast cross join, and each
    // point's top-20 ranks in a window keyed on (k1_pct, b_pct) —
    // bounded partitions, never one corpus pass per point. Reported
    // per point: the top-1 doc and the top-20 overlap with the
    // default (1.2, 0.75) ranking — how sensitive the ranking a
    // deployment ships actually is to the dial. Integer outputs;
    // the score itself is the shared decimal-routed expression.
    "q_bm25_sweep" -> ((s, dir) => {
      import s.implicits._
      val hits = TextOps.bm25Hits(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "window")).localCheckpoint()
      val grid = Seq(60, 120, 200).flatMap(k1 =>
        Seq(0, 50, 75, 100).map(b => (k1, b))).toDF("k1_pct", "b_pct")
      val scored = hits.crossJoin(broadcast(grid))
        .withColumn("__s", TextOps.bm25TermScore(
          col("k1_pct").cast("double") / lit(100.0),
          col("b_pct").cast("double") / lit(100.0)))
        .groupBy(col("k1_pct"), col("b_pct"), col("doc_id"))
        .agg(QUtil.dsum(col("__s")).as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k1_pct"), col("b_pct"))
        .orderBy(col("score").desc, col("doc_id").asc)
      val ranked = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .localCheckpoint() // feeds the default set AND the census
      val default20 = ranked
        .filter(col("k1_pct") === 120 && col("b_pct") === 75)
        .select(col("doc_id").as("__d")).withColumn("__hit", lit(1L))
      ranked.join(default20, col("doc_id") === col("__d"), "left")
        .groupBy(col("k1_pct"), col("b_pct"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).cast("long")
            .as("top20_overlap"),
          max(when(col("rk") === 1, col("doc_id"))).as("top1"))
    }),

    // HYBRID retrieval — reciprocal-rank fusion of the two legs
    // every modern retrieval stack runs side by side (public method:
    // Cormack, Clarke & Buettcher 2009, RRF with k=60): the lexical
    // top-20 (the q_bm25 scorer VERBATIM — shared oracle CTE) fused
    // with the semantic top-20 (exact cosine against one query
    // vector, the ANN family kernel) by 1/(60+rank) + 1/(60+rank);
    // a doc on one leg only contributes that leg alone. Ranks come
    // from a count-of-better self-join over the ALREADY-LIMITED legs
    // (≤20 rows each, broadcast — never a global window); at corpus
    // scale each leg bounds itself (top-k machinery) before any rank
    // work, and the fusion join is k×k.
    "q_rank_fusion" -> ((s, dir) => {
      // the self-join references its input TWICE — checkpoint the
      // ≤20-row leg first so the corpus-sized scoring pass behind it
      // runs once, not once per side (measured: without it Catalyst
      // re-ran the whole BM25 chain and the cosine scan for the y
      // side of each rank join)
      def boundedRank(df0: DataFrame, id: String, score: String,
                      rankAs: String): DataFrame = {
        val df = df0.localCheckpoint()
        val y = df.select(col(id).as("__yid"), col(score).as("__ys"))
        df.select(col(id), col(score)).join(broadcast(y),
            col("__ys") > col(score) ||
              (col("__ys") === col(score) && col("__yid") < col(id)), "left")
          .groupBy(col(id))
          .agg((count(col("__yid")) + 1).as(rankAs))
      }
      val lex = boundedRank(
        TextOps.bm25(docs(s, dir), "doc_id", "text",
          Seq("spark", "join", "window"))
          .orderBy(col("score").desc, col("doc_id").asc).limit(20),
        "doc_id", "score", "rank_lex")
      val e = embs(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qe"))
      val sem = boundedRank(
        e.filter(col("vec_id") =!= 0)
          .select(col("vec_id").as("nid"),
            col("embedding").cast("array<double>").as("ne"))
          .crossJoin(broadcast(qv))
          .select(col("nid"), AnnOps.cosine(col("qe"), col("ne")).as("sim"))
          .orderBy(col("sim").desc, col("nid").asc).limit(20),
        "nid", "sim", "rank_sem")
      lex.join(sem, col("doc_id") === col("nid"), "full_outer")
        .select(coalesce(col("doc_id"), col("nid")).as("doc_id"),
          col("rank_lex"), col("rank_sem"),
          (coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_sem")), lit(0.0)))
            .as("rrf"))
    }),

    // Rabin–Karp rolling-hash content fingerprint dup clusters
    // (order-sensitive identity, the streaming-friendly fingerprint)
    "q_doc_rollhash" -> ((s, dir) => {
      docsWithMirror(s, dir)
        .groupBy(graft.functions.HashExprs.rolling_hash(col("text")).as("rh"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_docs") >= 2)
    }),

    // bag-of-words fingerprint dup clusters
    "q_doc_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(DedupOps.bagFingerprint(TextOps.tokens(col("text"))).as("fingerprint"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_docs") >= 2)
    }),

    // multimodal: frame sampling — one row per sampled frame index of
    // a "video" blob (stride sampling, the shape a frame-extraction
    // UDF consumes per partition)
    "q_frame_sample" -> ((s, dir) => {
      docs(s, dir)
        .filter(col("doc_id") < 50)
        .withColumn("n_frames", (col("n_chars") % 240 + 1).cast("int"))
        .select(col("doc_id"), col("n_frames"),
          explode(sequence(lit(0), col("n_frames") - 1, lit(30))).as("frame_idx"))
    }),

    // embedding quantization: float32 → int8 by per-vector max-abs
    // scaling (the compression step before ANN serving)
    // Scalar-quantization BITS sweep — the compression dial next to
    // q_embed_quantize's int8 codes and q_pq_distortion's codebook
    // axis: per bits ∈ {2,4,6,8} the reconstruction error of
    // symmetric scalar quantization (q = round(x/scale·L), L =
    // 2^(bits-1)−1, recon = q·scale/L). ONE explode of the embedding
    // table (the per-dim stream is 16 bytes/value), the grid rides a
    // broadcast cross join with L carried as an integer column (no
    // pow in any oracled expression), errors reduce decimal-routed.
    // The table that says how many bits an ANN index's stored
    // vectors actually need.
    "q_quantize_sweep" -> ((s, dir) => {
      import s.implicits._
      val base = embs(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("scale",
          greatest(array_max(col("v")), -array_min(col("v"))))
        // an all-zero vector has scale 0 and x/scale = NaN — and the
        // engines DIVERGE on NaN→DECIMAL (Spark nulls, DuckDB
        // errors); a zero vector also has no quantization question
        // to answer. Guard on both sides (review-wave finding).
        .filter(col("scale") > 0)
        .select(col("scale"), explode(col("v")).as("x"))
        .localCheckpoint() // one explode, four grid points
      val grid = Seq((2, 1), (4, 7), (6, 31), (8, 127))
        .toDF("bits", "levels")
      base.crossJoin(broadcast(grid))
        .withColumn("d",
          round(col("x") / col("scale") * col("levels").cast("double")) *
            col("scale") / col("levels").cast("double") - col("x"))
        .groupBy(col("bits"))
        .agg(count(lit(1)).as("n_values"),
          QUtil.dsum(col("d") * col("d")).as("sse"))
        .withColumn("mse", col("sse") / col("n_values").cast("double"))
    }),

    "q_embed_quantize" -> ((s, dir) => {
      embs(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("scale", greatest(array_max(col("v")), -array_min(col("v"))))
        .select(Seq(col("vec_id"), col("scale")) ++
          (0 until 4).map(i =>
            round(element_at(col("v"), i + 1) / col("scale") * 127)
              .cast("int").as(s"q$i")): _*)
    }),

    // multimodal: aspect-preserving resize planning over the decoded
    // dimensions — the Spark-side half of a media resize pipeline
    // (pixel resampling belongs in the partition-batched decode seam)
    "q_media_resize" -> ((s, dir) => {
      val meta = docs(s, dir)
        .select(col("doc_id"),
          (length(col("text").cast("binary")) % 640).cast("int").as("width"),
          ((length(col("text").cast("binary")) * 7) % 480).cast("int").as("height"))
      val (ow, oh) = graft.operators.MultimodalOps.resizeDims(
        col("width"), col("height"), maxW = 320, maxH = 240)
      meta.select(col("doc_id"), col("width"), col("height"),
        ow.as("out_w"), oh.as("out_h"))
    }),

    // multimodal: tile-grid planning — the vision-preprocessing cut
    // of each image into fixed 128px tiles (edge tiles clamped), one
    // row per tile with its pixel rectangle
    "q_media_tile" -> ((s, dir) => {
      val meta = docs(s, dir)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          (length(col("text").cast("binary")) % 640).cast("int").as("width"),
          ((length(col("text").cast("binary")) * 7) % 480).cast("int").as("height"))
      graft.operators.MultimodalOps.tilePlan(meta, col("width"), col("height"), 128)
        .select(col("doc_id"), col("tile_x").cast("int").as("tile_x"),
          col("tile_y").cast("int").as("tile_y"),
          col("tx").cast("int").as("tx"), col("ty").cast("int").as("ty"),
          col("tw"), col("th"))
    }),

    // multimodal: opaque blob + typed metadata from a stubbed decode
    // training-sequence chunking: maxLen-token windows advancing by
    // stride (overlapping context for long docs) — see
    // TextOps.chunkDocs; map-side only, zero shuffles
    "q_doc_chunk" -> ((s, dir) =>
      TextOps.chunkDocs(docs(s, dir), "doc_id", "text",
        maxLen = 32, stride = 24)),

    // magic-byte content-type sniffing over the multimodal blob
    // column (deterministic signatures prepended by doc_id band —
    // the media-ingest triage; see MultimodalOps.sniffMime)
    "q_mime_sniff" -> ((s, dir) => {
      val magic = when(pmod(col("doc_id"), lit(4)) === 0,
          unhex(lit("89504E470D0A1A0A")))
        .when(pmod(col("doc_id"), lit(4)) === 1, unhex(lit("FFD8FFE0")))
        .when(pmod(col("doc_id"), lit(4)) === 2, unhex(lit("474946383961")))
        .otherwise(lit(Array.empty[Byte]))
      docs(s, dir)
        .select(col("doc_id"),
          concat(magic, col("text").cast("binary")).as("blob"))
        .groupBy(MultimodalOps.sniffMime(col("blob")).as("mime"))
        .agg(count(lit(1)).as("n_blobs"),
          sum(length(col("blob"))).as("total_bytes"))
    }),

    "q_multimodal_meta" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          when(col("source").rlike("[02468]$"), lit("image")).otherwise(lit("audio"))
            .as("modality"),
          col("text").cast("binary").as("blob"))
        .select(col("doc_id"), col("modality"),
          length(col("blob")).as("n_bytes"),
          (length(col("blob")) % 640).as("width"),
          ((length(col("blob")) * 7) % 480).as("height"))
    }),

    // CONTENT-TYPE detection census (the code/table/prose gate a
    // mixed web corpus runs before per-type pipelines — the
    // StarCoder/Dolma-style routing decision): classify each doc
    // from portable character-class ratios — code-symbol density
    // ([;{}()=<>[]] ≥ 50‰ of chars) then digit density (≥ 150‰) then
    // prose — reported as the planted-vs-detected confusion. The
    // synthetic corpus is pure prose, so docs are first rewritten
    // deterministically by class (the pii_redact synthesis
    // discipline — the oracle builds the SAME code/table blocks):
    // id%5==0 docs become repeated code statements, id%5==1 repeated
    // numeric table rows, the rest keep their prose. All ratios are
    // integer arithmetic (hits·1000 vs chars·threshold — exact both
    // engines); everything is map-side, census the only shuffle.
    "q_content_type" -> ((s, dir) => {
      val id = col("doc_id")
      val codeBlock = concat(lit("def f"), pmod(id, lit(7)),
        lit("(x) { return x * "), pmod(id, lit(9)),
        lit("; } if (x < y) { z[i] = 3; }"))
      val tableRow = concat(lit("row "), pmod(id, lit(90)), lit(" | "),
        pmod(id, lit(77)), lit(" | "), pmod(id, lit(55)))
      val planted = when(pmod(id, lit(5)) === 0, "code")
        .when(pmod(id, lit(5)) === 1, "table").otherwise("prose")
      val synth = when(pmod(id, lit(5)) === 0,
          repeat(concat(codeBlock, lit(" ")), 10))
        .when(pmod(id, lit(5)) === 1, repeat(concat(tableRow, lit(" ")), 10))
        .otherwise(col("text"))
      // detection expression shared with the streaming monitor
      // (TextOps.contentType) — census and monitor can't drift
      val d = docs(s, dir).select(id, planted.as("planted"),
          synth.as("synth"))
        .withColumn("detected", TextOps.contentType(col("synth")))
      d.groupBy(col("planted"), col("detected"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("synth"))).cast("long").as("n_tokens"))
    }),

    // Gopher document-quality rules (Rae et al. 2021, §A1.1 subset):
    // word-count bounds, mean-word-length band, symbol-to-word ratio
    // (# and ellipsis), alphabetic-word fraction, minimum stopword
    // hits. Every flag computes MAP-SIDE from the text; only the
    // source key and five booleans reach the aggregate exchange (the
    // stats-report rule — text never shuffles).
    // ONE gopherCensus kernel (TextOps.gopherFlags rule expressions
    // shared with the config `gopher_gate` processor AND the
    // streamingGopherRules monitor) — census, filter and live view
    // can't drift
    "q_gopher_rules" -> ((s, dir) => gopherCensus(docs(s, dir))),

    // TF-IDF-style keyword extraction: top-3 terms per doc ranked by
    // (tf desc, rarity = df asc, term asc) — integer-only ordering,
    // no libm in the ranking key (the BM25 rational-idf discipline).
    // Scale shape: tf and df are term-keyed aggregates; the per-doc
    // window is keyed by doc_id — never a single-partition window.
    "q_tfidf_topk" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .filter(col("term").rlike("^[a-z]+$") &&
          !col("term").isInCollection(TextOps.EnStop))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(dfreq, "term")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"))
    }),

    // PMI collocation mining (Manning & Schütze ch. 5): top-25 word
    // bigrams by pointwise-mutual-information LIFT — the monotone
    // libm-free PMI surrogate c_xy*N/(c_x*c_y) (PMI = ln(lift), so
    // the ranking is identical and the oracle is bit-exact).
    // Scale shape: bigram/unigram counts are term-keyed aggregates;
    // the corpus-total is a 1-row crossJoin (the domain-mixture
    // grand-total pattern — a scalar aggregate broadcasts on its
    // own, no hint needed); only the surviving (c_xy >= 5) pairs
    // join the vocab tables.
    "q_collocations" -> ((s, dir) => {
      val toks = docs(s, dir).select(TextOps.tokens(col("text")).as("__t"))
      val bigrams = toks.filter(size(col("__t")) >= 2)
        .withColumn("__a", slice(col("__t"), lit(1), size(col("__t")) - 1))
        .withColumn("__b", slice(col("__t"), lit(2), size(col("__t")) - 1))
        .select(explode(arrays_zip(col("__a"), col("__b"))).as("bg"))
        .select(col("bg.__a").as("x"), col("bg.__b").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      val uni = toks.select(explode(col("__t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val total = toks.select(sum(size(col("__t"))).cast("long").as("n_total"))
      bigrams
        .join(uni.select(col("w").as("x"), col("c").as("c_x")), "x")
        .join(uni.select(col("w").as("y"), col("c").as("c_y")), "y")
        .crossJoin(total)
        .withColumn("pmi_lift",
          col("c_xy").cast("double") * col("n_total") / col("c_x") / col("c_y"))
        .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
          col("pmi_lift"))
        .orderBy(col("pmi_lift").desc, col("x"), col("y"))
        .limit(25)
    }),

    // Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    // SIGMOD 2003 — the MOSS algorithm): hash every positional
    // word-4-gram, slide a w=4 window, select each window's minimal
    // hash breaking ties RIGHTMOST, dedup the selections. The
    // rightmost-min rule computes exactly with ONE integer key:
    // c = h*POSCAP + (POSCAP-1-pos), so min(c) over the forward
    // window IS (min h, rightmost pos) — both engines run the same
    // integer window-MIN and the oracle is bit-exact (h is the
    // md5-slice portable hash; c < 2^53). Scale shape: the only
    // window is keyed per doc_id over in-doc positions.
    "q_winnowing" -> ((s, dir) => {
      winnowSelect(s, dir)
        .groupBy(col("doc_id"), col("n_grams"))
        .agg(count(lit(1)).as("n_fp"),
          expr("md5(concat_ws(',', transform(sort_array(collect_list(h_sel)), x -> cast(x as string))))")
            .as("fp_md5"))
    }),

    // The winnowing USE case (MOSS): cross-doc near-dup candidates —
    // pairs sharing >= 3 selected fingerprints. Over-common
    // fingerprints (boilerplate appearing in > 50 docs) drop before
    // the pair join, the maxDf cap every fingerprint joiner here
    // carries; only 8-byte hashes shuffle, text never does.
    "q_winnow_pairs" -> ((s, dir) => {
      // the selection feeds FOUR plan references (df count, cap join,
      // both pair-join sides) — localCheckpoint so the windowed
      // derivation runs once (the perplexityBuckets discipline)
      val sel = winnowSelect(s, dir).select(col("doc_id"), col("h_sel"))
        .localCheckpoint()
      val rare = sel.groupBy(col("h_sel"))
        .agg(count(lit(1)).as("__df")).filter(col("__df") <= 50)
      val capped = sel.join(rare.select(col("h_sel")), "h_sel")
      capped.as("a")
        .join(capped.as("b"), col("a.h_sel") === col("b.h_sel") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    }),

    // Lee et al. ExactSubstr dedup (see [[exactDupSpans]]): maximal
    // verbatim cross-doc spans >= 15 tokens with doc/offset pairs.
    // Anchors via winnowing (guaranteed shared fingerprint for any
    // common substring >= 7 tokens), df-capped join, extension
    // verify on the bounded candidates only.
    "q_dedup_substring_exact" -> ((s, dir) =>
      exactDupSpans(s, dir, minLen = 15, dfCap = 50)),

    // Production-cap twin (rows-only, the minhash_scale discipline):
    // the tight boilerplate bound (df <= 8) a 100 TB run would use —
    // an n-fold duplicated passage emits <= C(8,2) pairs per anchor
    // no matter how viral the passage. Aggregated to the per-doc cut
    // list with EXACT duplicated-token coverage: spans union over
    // BOTH pair sides (a doc appearing only as doc_b still gets its
    // row), overlapping/multiply-matched passages collapse via
    // distinct (doc, token position) — never summed per partner,
    // which would over-count a popular passage C(n,2)-fold.
    "q_dedup_substring_exact_scale" -> ((s, dir) => {
      val spans = exactDupSpans(s, dir, minLen = 15, dfCap = 8)
      val sides = spans.select(col("doc_a").as("doc_id"),
          col("start_a").as("st"), col("span_len"))
        .unionByName(spans.select(col("doc_b").as("doc_id"),
          col("start_b").as("st"), col("span_len")))
        .distinct()
      val nSpans = sides.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"))
      val coverage = sides
        .select(col("doc_id"),
          explode(expr("sequence(st, st + span_len - 1)")).as("tp"))
        .distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dup_tokens"))
      nSpans.join(coverage, "doc_id")
    }),

    // Incremental ExactSubstr (the daily-ingest path): batch = docs
    // with doc_id % 4 >= 2 probing the store half's anchor rows —
    // only NEW (batch-touching) spans emit, the store's text is
    // fetched solely for bounded candidates, and the result equals
    // the batch operator on the union restricted to batch-touching
    // pairs (convergence spec-pinned). Rows-only by design: the
    // span mechanism is oracled via q_dedup_substring_exact's CTE.
    "q_dedup_substring_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      exactDupSpansIncrementalFrom(
        d.filter(col("doc_id") % 4 < 2), d.filter(col("doc_id") % 4 >= 2),
        minLen = 15, dfCap = 50)
    }),

    // Duplicated-span census over the ExactSubstr flagship: how much
    // verbatim duplication exists per span-length bucket — the
    // report that decides whether span-cutting (Lee et al.) or
    // whole-doc dedup is the right remedy for a corpus. Buckets are
    // a literal CASE table; n_docs counts DISTINCT docs touched on
    // EITHER pair side. The span frame feeds two aggregates —
    // localCheckpoint so the anchor/extension machinery runs once.
    "q_dup_span_hist" -> ((s, dir) => {
      val spans = exactDupSpans(s, dir, minLen = 15, dfCap = 50)
        .withColumn("bucket",
          when(col("span_len") < 25, "15-24")
            .when(col("span_len") < 50, "25-49")
            .when(col("span_len") < 100, "50-99")
            .otherwise("100+"))
        .localCheckpoint()
      // PAIR mass, deliberately: Σ span_len over pair rows — a
      // passage in n docs counts C(n,2) times, measuring pairwise
      // duplication WORK (what the cut pass must examine), not
      // corpus coverage (q_dedup_substring_exact_scale's dup_tokens
      // is the coverage measure). The column name says which.
      val byBucket = spans.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_len")).as("pair_token_mass"))
      val docsTouched = spans
        .select(col("bucket"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
        .groupBy(col("bucket")).agg(countDistinct(col("d")).as("n_docs"))
      byBucket.join(docsTouched, "bucket")
    }),

    // Marginal value of each Gopher rule: docs failing the rule at
    // all vs docs failing ONLY that rule (what the filter uniquely
    // removes) — the ablation table that justifies keeping or
    // retiring each quality gate. One map-side flag projection + one
    // global aggregate; single wide row.
    "q_quality_marginal" -> ((s, dir) => {
      val flags = TextOps.gopherFlags(col("text"))
      val names = flags.map(_._1)
      val flagged = docs(s, dir).select(
        flags.map { case (n, c) => c.as(n) }: _*)
      val aggs = names.flatMap { n =>
        val others = names.filterNot(_ == n).map(col).reduce(_ && _)
        val short = n.stripPrefix("r_")
        Seq(sum(when(!col(n), 1L).otherwise(0L)).as(s"fail_$short"),
          sum(when(!col(n) && others, 1L).otherwise(0L)).as(s"only_$short"))
      } :+ sum(when(names.map(col).reduce(_ && _), 1L).otherwise(0L)).as("n_pass")
      flagged.agg(count(lit(1)).as("n_docs"), aggs: _*)
    }),

    // The ExactSubstr REMEDY (Lee et al. apply): cut every duplicated
    // span from the NON-canonical copy — doc_a < doc_b by pair
    // construction, so the b side loses its covered positions
    // (keep-earliest, the dedup_exact discipline at span granularity).
    // Emits the cut docs' before/after token counts and the md5 of
    // the reassembled text: order restored by sort_array over
    // (pos, token) structs, never a window; positions leave via one
    // anti-join. A FULLY duplicated doc legitimately cuts to zero
    // tokens (md5 of the empty string, both engines).
    "q_dedup_span_cut" -> ((s, dir) => {
      val spans = exactDupSpans(s, dir, minLen = 15, dfCap = 50)
      val cut = DedupOps.spanCutPositions(spans)
        .localCheckpoint() // feeds the semi-join + the anti-join
      DedupOps.spanCutRebuild(docs(s, dir), "doc_id", "text", cut)
        .select(col("doc_id"), col("n_before"), col("n_after"),
          md5(col("kept_text")).as("kept_md5"))
    }),

    // Contamination SEVERITY behind q_decontaminate's binary verdict:
    // per contaminated train doc, the fraction of its distinct
    // 5-grams found anywhere in the eval set, integer-deciled per
    // source (decile 10 = fully contained). Eval postings broadcast
    // (small by construction); one keyed aggregate.
    "q_contam_severity" -> ((s, dir) => {
      val sh = docs(s, dir).select(col("doc_id"), col("source"),
        explode(DedupOps.shinglesOfText(col("text"), 5)).as("s5"))
      val evalSet = sh.filter(col("doc_id") < 25)
        .select(col("s5")).distinct().withColumn("__hit", lit(1))
      val per = sh.filter(col("doc_id") >= 25)
        .join(broadcast(evalSet), Seq("s5"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("__hit"), lit(0))).as("n_hit"))
      per.filter(col("n_hit") > 0)
        .withColumn("decile", expr("(n_hit * 10) DIV n_grams"))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // OOV-rate-at-budget curve — the tokenizer-design measure behind
    // picking a vocab size: for each budget B, the fraction of token
    // OCCURRENCES (and distinct types) falling outside the top-B
    // corpus vocabulary. Complements q_vocab_stats (corpus totals)
    // and q_tokenizer_fertility (a FIXED tokenizer's cost). Vocab
    // ranking rides ScaleOps.globalRank (corpus-scaled key — never a
    // single-partition window); the counts frame checkpoints because
    // globalRank evaluates its input three times.
    "q_vocab_oov" -> ((s, dir) => {
      val counts = docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val ranked = ScaleOps.globalRank(counts, -col("tf"), col("term"), "rk")
      ranked.select(col("tf"), col("rk"),
          explode(array(lit(256L), lit(1024L), lit(4096L), lit(16384L)))
            .as("budget"))
        .groupBy(col("budget"))
        .agg(
          sum(when(col("rk") > col("budget"), col("tf")).otherwise(0L))
            .as("oov_tokens"),
          sum(when(col("rk") > col("budget"), 1L).otherwise(0L))
            .as("oov_types"),
          sum(col("tf")).as("total_tokens"))
        .withColumn("oov_rate", col("oov_tokens").cast("double") /
          col("total_tokens").cast("double"))
    }),

    // Lexical-diversity census: per-doc Simpson concentration over
    // word counts (1 − Σc²/n², the rational stand-in for entropy —
    // libm-free so the oracle is bit-exact), integer-deciled and
    // counted per source. Low deciles flag word-soup/repetitive
    // docs the way an entropy filter would. Two keyed aggregates,
    // no windows, no collects.
    "q_token_diversity" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("w"))
      val wc = toks.groupBy(col("doc_id"), col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
      val per = wc.groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c") * col("c")).as("sum_c2"), sum(col("c")).as("n"))
      per.withColumn("decile", expr("((n * n - sum_c2) * 10) DIV (n * n)"))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Embedding-space outlier detection for curation: squared
    // distance to the per-label centroid, flagged past 2.25x the
    // label mean (1.5x RMS). Every cross-row sum (centroid,
    // per-vector dist2, label mean) routes through DECIMAL(28,8) so
    // the oracle is bit-exact. Scale shape: two keyed aggregates and
    // a (label,pos)-keyed join — no windows, no collects.
    "q_embed_outliers" -> ((s, dir) => {
      val ex = embs(s, dir).select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", col("x").cast("double"))
      val cen = ex.groupBy(col("label"), col("pos"))
        .agg((dsum(col("x")) / count(lit(1))).as("centroid"))
      val dist = ex.join(cen, Seq("label", "pos"))
        .groupBy(col("vec_id"), col("label"))
        .agg(dsum((col("x") - col("centroid")) * (col("x") - col("centroid")))
          .as("dist2"))
      val means = dist.groupBy(col("label"))
        .agg((dsum(col("dist2")) / count(lit(1))).as("mean_dist2"))
      dist.join(means, "label")
        .select(col("vec_id"), col("label"), col("dist2"),
          (col("dist2") > col("mean_dist2") * 2.25).as("is_outlier"))
    }),

    // C4-style URL hygiene: host blocklist + keep-first dedup by
    // normalized URL (the refetch-dedup every web crawl needs). The
    // corpus carries no URLs, so a deterministic one derives from doc
    // fields (the pii_redact synthesis discipline — the oracle builds
    // the SAME urls). Scale shape: flags are map-side; the only
    // exchange keys on the url for the keyed min-window.
    "q_url_filter" -> ((s, dir) => {
      val host = concat(col("source"), lit("-"), pmod(col("doc_id"), lit(7)),
        lit(".example.com"))
      val url = concat(lit("http://"), col("host"), lit("/p"),
        pmod(col("doc_id"), lit(50)))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("url"))
      docs(s, dir).select(col("doc_id"), host.as("host"))
        .withColumn("url", url)
        .withColumn("blocked", col("host").isin(
          "src0-0.example.com", "src7-3.example.com", "src12-5.example.com"))
        .withColumn("keep", !col("blocked") && col("doc_id") ===
          min(when(!col("blocked"), col("doc_id"))).over(w))
        .select(col("doc_id"), col("host"), col("blocked"), col("keep"))
    }),

    // URL CANONICALIZATION — the normalize step URL hygiene runs
    // BEFORE any url-keyed dedup (q_url_filter assumes it): lowercase
    // scheme+host, strip a leading www., drop the scheme's DEFAULT
    // port (explicit non-default ports survive), strip one trailing
    // path slash, drop the fragment, drop utm_* tracking params and
    // SORT the survivors. The corpus carries no URLs, so a
    // deterministically MESSY one derives from doc fields —
    // mixed-case scheme/host, rotating default/explicit ports,
    // param order that varies by doc, tracking params, fragments
    // (the q_url_filter synthesis discipline; the oracle builds the
    // SAME raw strings and canonicalizes them with the same rules).
    // url_canon is IN the output, so the hash gate verifies the
    // parse byte-for-byte, not just the counts. Scale shape: parse +
    // rebuild are map-side string ops; the only exchange keys on
    // url_canon for the keyed min-window (refetch dedup).
    "q_url_canon" -> ((s, dir) => {
      val id = col("doc_id")
      val hostBase = concat(col("source"), lit("-"), pmod(id, lit(7)),
        lit(".Example.COM"))
      val rawUrl = concat(
        when(pmod(id, lit(2)) === 0, lit("HTTP")).otherwise(lit("https")),
        lit("://"),
        when(pmod(id, lit(3)) === 0, concat(lit("WWW."), hostBase))
          .otherwise(hostBase),
        when(pmod(id, lit(5)) === 0, lit(":80"))
          .when(pmod(id, lit(5)) === 1, lit(":443"))
          .when(pmod(id, lit(5)) === 2, lit(":8080")).otherwise(lit("")),
        // path modulus 7: every synthesis modulus divides 420, so ids
        // congruent mod 420 produce the SAME canonical url from
        // DIFFERENT raw spellings — the refetch-dedup window has real
        // work at every SF (a /50 path made canon urls unique below
        // 2100 docs and the keep flag vacuous)
        lit("/p"), pmod(id, lit(7)),
        when(pmod(id, lit(4)) === 0, lit("/")).otherwise(lit("")),
        lit("?"),
        when(pmod(id, lit(2)) === 0,
          concat(lit("b="), pmod(id, lit(2)), lit("&a="), pmod(id, lit(3))))
          .otherwise(concat(lit("a="), pmod(id, lit(3)),
            lit("&utm_source=feed&b="), pmod(id, lit(2)))),
        when(pmod(id, lit(3)) === 1, concat(lit("#s"), pmod(id, lit(6))))
          .otherwise(lit("")))
      val parsed = docs(s, dir).select(id, rawUrl.as("url_raw"))
        .withColumn("url_canon", TextOps.urlCanon(col("url_raw")))
        .withColumn("host", TextOps.urlHost(col("url_raw")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("url_canon"))
      parsed.select(col("doc_id"), col("url_raw"), col("url_canon"), col("host"),
        (col("doc_id") === min(col("doc_id")).over(w)).as("keep"))
    }),

    // LSH S-curve parameter tuner: P(candidate | jaccard=s) =
    // 1−(1−s^r)^b over an s grid for the (bands, rows) layouts a
    // deployment would choose between — the analytic companion of
    // q_minhash_accuracy (which measures the REALIZED error on this
    // corpus). All arithmetic is IEEE mult/sub with identical
    // left-assoc chains in both engines (integer exponents as
    // explicit products — zero libm), so the table value-oracles.
    "q_lsh_tune" -> ((s, dir) => {
      def chain(e: org.apache.spark.sql.Column, n: Int) =
        (2 to n).foldLeft(e)((acc, _) => acc * e)
      val grid = s.range(1, 20)
        .select(col("id").cast("int").as("s_num"))
      val combos = {
        import s.implicits._
        Seq((4, 8), (8, 4), (16, 2)).toDF("bands", "rows_per_band")
      }
      val x = grid.crossJoin(broadcast(combos))
        .withColumn("sv", col("s_num").cast("double") / lit(20.0))
      def p(b: Int, r: Int) =
        lit(1.0) - chain(lit(1.0) - chain(col("sv"), r), b)
      x.withColumn("p_collide",
          when(col("rows_per_band") === 8, p(4, 8))
            .when(col("rows_per_band") === 4, p(8, 4))
            .otherwise(p(16, 2)))
        .select(col("s_num"), col("bands"), col("rows_per_band"),
          col("p_collide"))
    }),

    // Shingle CONTAINMENT mining: |A∩B| / min(|A|,|B|) over the LSH
    // banding candidates — the asymmetric twin of Jaccard that
    // catches SUB-document duplication (a doc quoted or embedded
    // inside a larger one scores near-1 containment while symmetric
    // Jaccard stays low and the minhash dedup never fires). Same
    // candidate discipline as q_minhash_accuracy: shingle arrays
    // join back only for banding collisions, integer set sums, the
    // one division IEEE-exact.
    "q_containment" -> ((s, dir) => {
      val sh = containShingles(s, dir)
      val sig = sh.select(col("doc_id"),
        DedupOps.minhashSignatureMd5(col("shs"), 32).as("sig"))
      containmentVerdict(sh, DedupOps.lshNearDupPairsMd5(sig, "doc_id", "sig",
        bands = 8, rows = 4, threshold = 0.0, maxBucket = 1 << 20))
    }),

    // Capped PRODUCTION twin (r10 verdict #5, the minhash_scale
    // discipline): xxh64 signature kernel + the default 1000-member
    // bucket cap — the skew guard every 100 TB deployment runs with,
    // now a registered, benched query instead of a parameter no gate
    // exercises. Rows-only (DuckDB lacks xxhash64); spec pins the
    // capped results ⊆ the capless oracle-green ones.
    "q_containment_scale" -> ((s, dir) => {
      val sh = containShingles(s, dir)
      val sig = sh.select(col("doc_id"),
        DedupOps.minhashSignature(col("shs"), 32).as("sig"))
      containmentVerdict(sh, DedupOps.lshNearDupPairs(sig, "doc_id", "sig",
        bands = 8, rows = 4, threshold = 0.0))
    }),

    // Mutual-kNN graph statistics: k=5 cosine neighbors per node
    // from the LSH bucket-collision candidates (the scale path — the
    // corpus-vs-itself candidate join is a bucket groupBy, never a
    // broadcast or an all-pairs matrix), an edge where the relation
    // is SYMMETRIC, then the degree histogram — the substrate of
    // graph-based curation (SemDedup clusters, diversity pruning,
    // label propagation) and the density check run before trusting
    // any of them. Nodes with no mutual edge land in the 0 bucket.
    // maxBucket is lifted so the oracle needs no cap replica at gate
    // SFs; production re-caps it.
    "q_knn_graph" -> ((s, dir) =>
      knnGraphCensus(embs(s, dir), maxBucket = 1 << 20)),

    // Capped production twin (r10 verdict #5): same census under the
    // default 1000-member bucket cap. Rows-only; spec pins the node
    // total is conserved and degrees never exceed the capless run's.
    "q_knn_graph_scale" -> ((s, dir) =>
      knnGraphCensus(embs(s, dir), maxBucket = 1000)),

    // LSH index health pre-flight (the operational companion of
    // q_lsh_tune's parameter table): the bucket-occupancy histogram
    // of the banded minhash index plus the candidate-pair mass each
    // occupancy contributes — the measurement that picks maxBucket
    // (a cap drops exactly the rows and C(occ,2) pairs this reports,
    // so the operator quantifies the recall/cost trade BEFORE a run
    // commits to it). One banding pass and one (band, key) aggregate
    // — the same single wide op as the pair miner, with NO pairs
    // materialized: the quadratic term is computed, not enumerated.
    "q_lsh_bucket_stats" -> ((s, dir) => {
      val sig = containShingles(s, dir).select(col("doc_id"),
        DedupOps.minhashSignatureMd5(col("shs"), 32).as("sig"))
      sig.select(posexplode(expr(
          "transform(sequence(0, 7), b -> concat_ws(',', slice(sig, b*4+1, 4)))"))
          .as(Seq("band", "key")))
        .groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("occupancy"))
        .filter(col("occupancy") >= 2)
        .groupBy(col("occupancy"))
        .agg(count(lit(1)).as("n_buckets"))
        .withColumn("n_candidate_pairs",
          expr("occupancy * (occupancy - 1) DIV 2 * n_buckets"))
    }),

    // Embedding-corpus QA (run before ANY index build): per-label
    // vector counts, dimension consistency, norm² extremes and
    // zero-vector count — a zero vector NaN-poisons every cosine it
    // touches and a mixed-dimension corpus breaks the index builders,
    // so this is the gate an embedding drop passes first. norm² is
    // the same left-fold the cosine kernels use (bit-exact oracle);
    // min/max are order-independent. Fully map-side + one aggregate.
    // A ZERO-LENGTH embedding counts as a zero vector (norm2 = 0 →
    // n_zero, min_dim = 0): Spark's aggregate over [] returns the
    // 0.0 seed, and the oracle COALESCEs DuckDB's NULL-on-empty
    // list_sum to match — the degenerate row this gate exists to
    // catch must not silently fall out of the report (spec-pinned).
    "q_embed_norm_qa" -> ((s, dir) => embedNormCensus(embs(s, dir))),

    // Near-dup cluster census (the curation report over the CC
    // output): cluster-size histogram with the doc mass and the
    // removable-duplicate mass per size — "how much of the corpus is
    // duplicate clusters, and how big are they" is the number a dedup
    // run reports before applying its keep rule. Same pair graph +
    // hybrid CC as q_dedup_cc; the census is two bounded aggregates
    // over components, never documents.
    "q_dedup_clusters" -> ((s, dir) => {
      // containShingles' size>0 filter is a no-op for pair derivation
      // (empty-shingle docs produce no pairs) — reuse the shared frame
      val pairs = DedupOps.jaccardPairs(
        containShingles(s, dir), "doc_id", "shs", threshold = 0.5)
      DedupOps.connectedComponents(pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("n_members"))
        .groupBy(col("n_members"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("n_members") * col("n_clusters"))
        .withColumn("n_removable", (col("n_members") - 1) * col("n_clusters"))
    }),

    // Per-source contamination report (the q_decontaminate verdict
    // rolled up to the axis a curation run acts on): which SOURCES
    // carry eval-overlapping documents and at what rate — a
    // contaminated source gets dropped or down-weighted wholesale,
    // so the per-source share is the actionable number. The eval
    // postings broadcast exactly as in q_decontaminate; the rollup
    // adds one flagged-doc distinct and a per-source aggregate.
    "q_decontam_by_source" -> ((s, dir) => {
      val d = docs(s, dir)
      val sh = d.select(col("doc_id"), col("source"),
        explode(DedupOps.shinglesOfText(col("text"), 5)).as("s5"))
      val evalSet = sh.filter(col("doc_id") < 25)
        .select(col("doc_id").as("eval_id"), col("s5"))
      val flagged = sh.filter(col("doc_id") >= 25)
        .join(broadcast(evalSet), "s5")
        .groupBy(col("doc_id"), col("source"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .select(col("doc_id"), col("source")).distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("n_contaminated"))
      d.filter(col("doc_id") >= 25)
        .groupBy(col("source")).agg(count(lit(1)).as("n_train"))
        .join(flagged, Seq("source"), "left")
        .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
        .withColumn("contaminated_share",
          col("n_contaminated").cast("double") / col("n_train").cast("double"))
    }),

    // Diversity pruning over the mutual-kNN graph (r10 verdict #7):
    // the DECISION step consuming the census's substrate — the
    // SemDedup-adjacent greedy rule the repo's dedup side already
    // uses (q_semdedup: prune vs smaller-id members): a node is KEPT
    // iff no mutual neighbor has a smaller id, so every mutual
    // clique keeps exactly its smallest member and the corpus loses
    // redundant near-neighbors while isolated nodes are untouched.
    // Per-node report: degree, max cosine to a mutual neighbor, keep
    // verdict. Candidate-bounded like q_semdedup — rows ∝ nodes WITH
    // mutual edges, never the corpus crossed with itself.
    "q_knn_prune" -> ((s, dir) => {
      val edges = mutualKnnEdges(embs(s, dir), maxBucket = 1 << 20)
      edges.select(col("id_a").as("vid"), col("id_b").as("nb"), col("sim"))
        .unionAll(edges.select(
          col("id_b").as("vid"), col("id_a").as("nb"), col("sim")))
        .groupBy(col("vid")).agg(
          count(lit(1)).as("mutual_degree"),
          max(col("sim")).as("max_sim"),
          min(col("nb")).as("min_neighbor"))
        .withColumn("keep", col("min_neighbor") > col("vid"))
        .select(col("vid"), col("mutual_degree"), col("max_sim"), col("keep"))
    }),

    // Perceptual-hash image near-dup (dHash): an 8×9 "decoded"
    // grayscale grid → 64 gradient bits (pixel < right-neighbor) →
    // the simhash 16-bit chunk blocking → Hamming ≤ 2 pairs — the
    // image twin of text minhash dedup (pHash/dHash is how real
    // media pipelines dedup screenshots/thumbnails). The container
    // has no codecs, so the decode is the DETERMINISTIC stub the
    // multimodal discipline prescribes: pixels derive from an
    // md5 walk over (doc_id%40, row, col), which both engines can
    // compute — docs sharing a seed are identical images and
    // alternate variants differ in ONE pixel (≤1 gradient bit), so
    // the expected near-dup pairs are known. Everything downstream
    // of the stub — bit extraction, blocking, banded pair join,
    // Hamming verify — is the real operator.
    "q_media_phash" -> ((s, dir) =>
      // maxBucket lifted: the stub's ~80 identity classes grow
      // linearly with the corpus, and the capless oracle must stay
      // twin-exact (at real scale the CC/representative pass consumes
      // these pairs — pair listing within a dup cluster is quadratic
      // by definition, the §4 interpretation note)
      DedupOps.simhashNearDupPairs(phashBits(docs(s, dir)), "doc_id", "bits",
        maxHamming = 2, maxBucket = 1 << 20)),

    // Capped production twin (r10 verdict #5): the default 1000-member
    // chunk-bucket cap. Rows-only; spec pins capped pairs ⊆ capless.
    "q_media_phash_scale" -> ((s, dir) =>
      DedupOps.simhashNearDupPairs(phashBits(docs(s, dir)), "doc_id", "bits",
        maxHamming = 2)),

    // The image family's tuning dial (r17 verdict #3 — minhash has
    // q_lsh_tune + q_dedup_threshold_sweep, every ANN member has a
    // sweep; phash had none): Hamming radius {0..6} over ONE pair
    // pass of the SAME chunk-blocked candidate generator
    // q_media_phash runs — per radius, surviving pairs and distinct
    // images touched, monotone by construction (radius r's pair set
    // is a filter-prefix of r+1's; the threshold-sweep discipline on
    // the image axis, grid-joined, never one pass per radius). Radii
    // ≤ 3 are EXACT over 4×16-bit chunks (pigeonhole: ≤3 differing
    // bits leave ≥1 chunk equal); radii 4-6 measure the same
    // candidate generator at a wider verify threshold — the
    // deployment question this dial answers is how much pair mass a
    // wider verify radius admits WITHOUT re-blocking. The radius-2
    // row is q_media_phash's pair set exactly (spec-pinned).
    // Scale shape: pair volume ∝ candidates (the blocking bound);
    // the 7-row grid broadcast-joins; images dedup per (radius, id).
    "q_phash_sweep" -> ((s, dir) => {
      val pairs = DedupOps.simhashNearDupPairs(phashBits(docs(s, dir)),
        "doc_id", "bits", maxHamming = 6, maxBucket = 1 << 20)
      val grid = s.range(0, 7).select(col("id").as("radius"))
      pairs.join(broadcast(grid), col("hamming") <= col("radius"))
        .select(col("radius"),
          explode(array(col("id_a"), col("id_b"))).as("img"))
        .groupBy(col("radius"))
        .agg(expr("CAST(count(1) DIV 2 AS BIGINT)").as("n_pairs"),
          count_distinct(col("img")).as("n_images"))
    }),

    // Shard-balance QA for the training layout: per-shard doc counts
    // → min/max/total + the straggler ratio max/(total/liveShards) —
    // the check a 4096-shard write runs before a straggling task
    // burns a cluster-night. Integer counts; the one ratio is two
    // IEEE mults and a division.
    "q_shard_skew" -> ((s, dir) => {
      ScaleOps.shuffleShard(docs(s, dir).select(col("doc_id")), "doc_id",
          nShards = 37, seed = "shuf42", portable = true)
        .groupBy(col("shard")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_live_shards"),
          min(col("n")).as("min_docs"), max(col("n")).as("max_docs"),
          sum(col("n")).cast("long").as("total_docs"))
        .withColumn("skew_ratio",
          col("max_docs").cast("double") * col("n_live_shards").cast("double") /
            col("total_docs").cast("double"))
    }),

    // Per-source length percentiles by the EXACT nearest-rank method
    // (rank = ceil(p·N), pure integer arithmetic — no fp percentile
    // boundary, the q_ppl_buckets discipline): the length-profile
    // report a curation run reads before choosing truncation/packing
    // parameters. The per-source rank comes from the RANGED
    // discipline (groupedRankRanged: percentile-cut buckets +
    // driver offsets), never a window keyed solely on the ~20-value
    // source column — that shape is ≤20 tasks each sorting a 1/20
    // corpus slice at 100 TB, the low-cardinality cousin of the
    // single-partition window PlanSpec bans (r10 verdict #1).
    "q_length_percentiles" -> ((s, dir) => {
      def atP(p: Int) = max(when(
        col("rn") <= expr(s"(cnt * $p + 99) DIV 100"), col("n_chars")))
      ScaleOps.groupedRankRanged(
          docs(s, dir).select(col("source"), col("n_chars"), col("doc_id")),
          col("source"), col("n_chars"), col("doc_id"), "rn", "cnt")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          atP(50).as("p50_chars"), atP(90).as("p90_chars"),
          atP(99).as("p99_chars"), max(col("n_chars")).as("max_chars"))
    }),

    // Duplicate-5-gram coverage: the share of the corpus's distinct
    // word 5-grams that appear in MORE THAN ONE document — the
    // memorization-risk / dedup-efficacy scalar a curation run
    // reports before and after dedup (C4/Gopher report the same
    // statistic). Per-doc-distinct grams explode map-side; the gram
    // aggregate is the only shuffle; integer counts + one IEEE-exact
    // division.
    "q_dup_ngram_coverage" -> ((s, dir) => {
      val grams = docs(s, dir).select(col("doc_id"),
        explode(DedupOps.shinglesOfText(col("text"), 5)).as("g"))
      grams.groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .withColumn("shared_share",
          col("n_shared").cast("double") / col("n_grams").cast("double"))
    })
  )

  /** the fused-dedup oracle's shared prefix, ending at the per-doc
    * flag CTE `verd(doc_id, source, n_toks, cut_toks, is_ex,
    * is_near)` — the DuckDB twin of [[dedupFlagFrame]], consumed by
    * BOTH q_dedup_fused and q_dedup_venn (one copy, the CcClosureSql
    * discipline) */
  private val FusedVerdCteSql: String =
    CcClosureSql + ",\n" + ExactSubstrBody + ",\n" +
      """exg AS (SELECT md5(text) AS h, MIN(doc_id) AS keep_id FROM documents GROUP BY 1),
        |exdrop AS (SELECT d.doc_id FROM documents d JOIN exg g
        |  ON md5(d.text) = g.h WHERE d.doc_id <> g.keep_id),
        |neardrop AS (SELECT id AS doc_id FROM comp WHERE id <> component),
        |cutpos AS (SELECT DISTINCT doc_id, pos FROM
        |  (SELECT doc_b AS doc_id,
        |     unnest(range(start_b, start_b + span_len)) AS pos FROM spans)),
        |cov AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS cut_toks FROM cutpos GROUP BY 1),
        |verd AS (SELECT d.doc_id, d.source,
        |   CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS n_toks,
        |   COALESCE(c.cut_toks, 0) AS cut_toks,
        |   d.doc_id IN (SELECT doc_id FROM exdrop) AS is_ex,
        |   d.doc_id IN (SELECT doc_id FROM neardrop) AS is_near
        |  FROM documents d LEFT JOIN cov c ON d.doc_id = c.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_venn" ->
      (FusedVerdCteSql + "\n" +
        """SELECT is_ex AS f_exact, is_near AS f_near,
          | CAST(cut_toks AS DOUBLE) / CAST(n_toks AS DOUBLE) >= 0.05 AS f_cut,
          | CAST(COUNT(*) AS BIGINT) AS n_docs,
          | CAST(SUM(n_toks) AS BIGINT) AS n_tokens
          |FROM verd GROUP BY 1, 2, 3""".stripMargin),

    "q_dedup_exact" ->
      ("WITH " + MirrorDocsSql + "\n" +
        """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
          |FROM documents_m GROUP BY md5(text) HAVING COUNT(*) >= 2""".stripMargin),

    // identical per-row division trees; cross-row sums through
    // DECIMAL(28,8) (the q_vocab_drift discipline)
    "q_dedup_soft" ->
      """WITH d AS (SELECT source, md5(text) AS h,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tk
        | FROM documents),
        |per AS (SELECT h, source, CAST(COUNT(*) AS BIGINT) AS c_hs,
        |  CAST(SUM(tk) AS BIGINT) AS tk_hs FROM d GROUP BY h, source),
        |tot AS (SELECT h, CAST(SUM(c_hs) AS BIGINT) AS n_copies FROM per GROUP BY h),
        |j AS (SELECT source, c_hs, tk_hs,
        |  CAST(tk_hs AS DOUBLE) / CAST(n_copies AS DOUBLE) AS eff
        | FROM per JOIN tot USING (h))
        |SELECT source, CAST(SUM(c_hs) AS BIGINT) AS n_docs,
        | CAST(SUM(tk_hs) AS BIGINT) AS raw_tokens,
        | CAST(SUM(CAST(eff AS DECIMAL(28,8))) AS DOUBLE) AS eff_tokens,
        | CAST(SUM(CAST(eff AS DECIMAL(28,8))) AS DOUBLE)
        |  / CAST(SUM(tk_hs) AS DOUBLE) AS eff_ratio
        |FROM j GROUP BY source""".stripMargin,

    "q_dedup_minhash" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |   ELSE [] END AS shs FROM w),
        |sig AS (SELECT doc_id,
        |  list_transform(range(0, 32), i ->
        |    list_min(list_transform(shs, s ->
        |      substr(md5((i // 4)::VARCHAR || '|' || s), CAST((i % 4) * 8 + 1 AS INT), 8)))) AS sig
        | FROM sh WHERE len(shs) > 0),
        |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, a.sig sa, b.sig sb
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        | CAST(len(list_filter(list_zip(sa, sb), x -> x[1] = x[2])) AS DOUBLE) / 32 AS est_sim
        |FROM pairs
        |WHERE list_max(list_transform(range(0, 8), b ->
        |   CASE WHEN sa[b*4+1:b*4+4] = sb[b*4+1:b*4+4] THEN 1 ELSE 0 END)) = 1
        | AND len(list_filter(list_zip(sa, sb), x -> x[1] = x[2])) >= 16""".stripMargin,

    // the exact-pair CTE (q_ngram_jaccard) against the predicted-pair
    // CTE (q_dedup_minhash) — confusion counts by set algebra
    "q_dedup_eval" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |   ELSE [] END AS shs FROM w),
        |ex AS (SELECT doc_id, len(shs) AS sz, unnest(shs) AS s FROM sh),
        |exact AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY a.doc_id, b.doc_id
        | HAVING CAST(COUNT(*) AS DOUBLE) / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= 0.5),
        |sig AS (SELECT doc_id,
        |  list_transform(range(0, 32), i ->
        |    list_min(list_transform(shs, s ->
        |      substr(md5((i // 4)::VARCHAR || '|' || s), CAST((i % 4) * 8 + 1 AS INT), 8)))) AS sig
        | FROM sh WHERE len(shs) > 0),
        |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, a.sig sa, b.sig sb
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
        |pred AS (SELECT id_a, id_b
        | FROM pairs
        | WHERE list_max(list_transform(range(0, 8), b ->
        |    CASE WHEN sa[b*4+1:b*4+4] = sb[b*4+1:b*4+4] THEN 1 ELSE 0 END)) = 1
        |  AND len(list_filter(list_zip(sa, sb), x -> x[1] = x[2])) >= 16),
        |c AS (SELECT
        |  CAST((SELECT COUNT(*) FROM exact e JOIN pred p
        |        ON e.id_a = p.id_a AND e.id_b = p.id_b) AS BIGINT) AS tp,
        |  CAST((SELECT COUNT(*) FROM pred p LEFT JOIN exact e
        |        ON e.id_a = p.id_a AND e.id_b = p.id_b
        |        WHERE e.id_a IS NULL) AS BIGINT) AS fp,
        |  CAST((SELECT COUNT(*) FROM exact e LEFT JOIN pred p
        |        ON e.id_a = p.id_a AND e.id_b = p.id_b
        |        WHERE p.id_a IS NULL) AS BIGINT) AS fn)
        |SELECT tp, fp, fn,
        | CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        | CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall
        |FROM c""".stripMargin,

    // candidates = banding collisions (no est threshold), exact
    // verify via list_contains; integer sums only
    "q_minhash_accuracy" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |   ELSE [] END AS shs FROM w),
        |sh2 AS (SELECT doc_id, shs FROM sh WHERE len(shs) > 0),
        |sig AS (SELECT doc_id, shs,
        |  list_transform(range(0, 32), i ->
        |    list_min(list_transform(shs, s ->
        |      substr(md5((i // 4)::VARCHAR || '|' || s), CAST((i % 4) * 8 + 1 AS INT), 8)))) AS sig
        | FROM sh2),
        |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, a.sig sa, b.sig sb,
        |   a.shs shsa, b.shs shsb
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
        |cand AS (SELECT id_a, id_b,
        |  CAST(len(list_filter(list_zip(sa, sb), x -> x[1] = x[2])) AS BIGINT) AS lanes,
        |  CAST(len(list_filter(shsa, s -> list_contains(shsb, s))) AS BIGINT) AS inter,
        |  CAST(len(shsa) + len(shsb) AS BIGINT) AS sz
        | FROM pairs
        | WHERE list_max(list_transform(range(0, 8), b ->
        |    CASE WHEN sa[b*4+1:b*4+4] = sb[b*4+1:b*4+4] THEN 1 ELSE 0 END)) = 1),
        |e AS (SELECT lanes, inter, sz - inter AS un FROM cand),
        |b AS (SELECT lanes, inter, un,
        |  CAST(FLOOR(ABS(CAST(lanes AS DOUBLE) / 32.0 -
        |    CAST(inter AS DOUBLE) / CAST(un AS DOUBLE)) * 8.0) AS BIGINT) AS err_bucket
        | FROM e)
        |SELECT err_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        | CAST(SUM(lanes) AS BIGINT) AS sum_lanes,
        | CAST(SUM(inter) AS BIGINT) AS sum_inter,
        | CAST(SUM(un) AS BIGINT) AS sum_union
        |FROM b GROUP BY err_bucket""".stripMargin,

    "q_text_fix" ->
      (s"""WITH m0 AS (SELECT doc_id, source, text,
        |  text || CASE WHEN doc_id % 7 = 0 THEN '$MojiSuffix' ELSE '' END AS m
        | FROM documents),
        |f AS (SELECT source, text, m, ${TextOps.mojibakeFixSqlOf("m")} AS fixed FROM m0)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN fixed <> m THEN 1 ELSE 0 END) AS BIGINT) AS n_mojibake_docs,
        | CAST(SUM(LENGTH(m) - LENGTH(fixed)) AS BIGINT) AS chars_recovered,
        | CAST(SUM(CASE WHEN m = text THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        | CAST(SUM(CASE WHEN m = text AND md5(fixed) = md5(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_identical
        |FROM f GROUP BY source""").stripMargin,

    "q_text_normalize" ->
      """WITH m0 AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 4 = 0 THEN ' don\u2019t \u201Cquote\u201D \u2014 dash'
        |       WHEN doc_id % 4 = 1 THEN ' zero\u200Bwidth\uFEFFjoined'
        |       WHEN doc_id % 4 = 2 THEN ' non\u00A0breaking\u00A0space'
        |       ELSE '' END AS m
        | FROM documents),
        |n AS (SELECT doc_id, m,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(m,
        |      '[\u2018\u2019\u02BC]', chr(39), 'g'),
        |    '[\u201C\u201D]', chr(34), 'g'),
        |    '[\u2012\u2013\u2014]', '-', 'g'),
        |    '\u00A0', ' ', 'g'),
        |    '[\u200B\u200C\u200D\uFEFF]', '', 'g') AS norm
        | FROM m0)
        |SELECT doc_id, norm <> m AS changed,
        | CAST(len(m) - len(norm) AS BIGINT) AS n_stripped,
        | md5(norm) AS norm_md5
        |FROM n""".stripMargin,

    "q_line_neardup" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        | FROM documents
        | WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 1),
        |segs AS (SELECT doc_id || ':' || i AS sid,
        |  array_to_string(ws[i*8+1 : i*8+8], ' ') AS seg
        | FROM (SELECT doc_id, ws, unnest(range((len(ws)+7)//8)) AS i FROM w)),
        |t AS (SELECT sid, unnest(string_split(seg, ' ')) AS tok FROM segs),
        |h AS (SELECT sid, md5(tok) AS hex FROM t),
        |v AS (SELECT sid, j,
        |   SUM(2 * (((strpos('0123456789abcdef', substr(hex, CAST(j // 4 AS INT) + 1, 1)) - 1) >> (3 - j % 4)) & 1) - 1) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS j) u
        |  GROUP BY sid, j),
        |sig AS (SELECT sid, list(CASE WHEN vote > 0 THEN 1 ELSE 0 END ORDER BY j) AS bits
        |  FROM v GROUP BY sid),
        |ch AS (SELECT sid, c, array_to_string(bits[c*16+1 : c*16+16], '') AS key, bits
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS c) u),
        |bsz AS (SELECT c, key, COUNT(*) AS n FROM ch GROUP BY c, key),
        |cand AS (SELECT DISTINCT a.sid AS sa, b.sid AS sb, a.bits AS ba, b.bits AS bb
        |  FROM ch a JOIN ch b ON a.c = b.c AND a.key = b.key AND a.sid < b.sid
        |  JOIN bsz z ON z.c = a.c AND z.key = a.key
        |  WHERE z.n BETWEEN 2 AND 1000),
        |p AS (SELECT sa, sb,
        |  len(list_filter(list_zip(ba, bb), x -> x[1] <> x[2])) AS hamming
        | FROM cand),
        |d AS (SELECT CAST(split_part(sa, ':', 1) AS BIGINT) AS da,
        |  CAST(split_part(sb, ':', 1) AS BIGINT) AS db, hamming
        | FROM p WHERE hamming <= 6),
        |n AS (SELECT LEAST(da, db) AS doc_a, GREATEST(da, db) AS doc_b, hamming
        | FROM d WHERE da <> db)
        |SELECT doc_a, doc_b, COUNT(*) AS n_near_segs,
        | CAST(MIN(hamming) AS BIGINT) AS min_hamming
        |FROM n GROUP BY doc_a, doc_b""".stripMargin,

    "q_dedup_simhash" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        |h AS (SELECT doc_id, md5(tok) AS hex FROM t),
        |v AS (SELECT doc_id, j,
        |   SUM(2 * (((strpos('0123456789abcdef', substr(hex, CAST(j // 4 AS INT) + 1, 1)) - 1) >> (3 - j % 4)) & 1) - 1) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS j) u
        |  GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, list(CASE WHEN vote > 0 THEN 1 ELSE 0 END ORDER BY j) AS bits
        |  FROM v GROUP BY doc_id),
        |p AS (SELECT a.doc_id id_a, b.doc_id id_b, a.bits ba, b.bits bb
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        | len(list_filter(list_zip(ba, bb), x -> x[1] <> x[2])) AS hamming
        |FROM p
        |WHERE len(list_filter(list_zip(ba, bb), x -> x[1] <> x[2])) <= 6
        | AND list_max(list_transform(range(0, 4), c ->
        |   CASE WHEN ba[c*16+1:c*16+16] = bb[c*16+1:c*16+16] THEN 1 ELSE 0 END)) = 1""".stripMargin,

    "q_dedup_embed" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sig AS (SELECT vec_id, e,
        |  list_transform(range(0, 16), t ->
        |    list_transform(range(0, 4), p ->
        |      CASE WHEN list_sum(list_transform(list_zip(e, range(0, len(e))), x ->
        |        CASE WHEN substr(md5(t::VARCHAR || '/' || p::VARCHAR || ':' || x[2]::VARCHAR), 1, 1) <= '7'
        |         THEN x[1] ELSE -x[1] END)) > 0 THEN 1 ELSE 0 END)) AS sg
        | FROM v),
        |cand AS (SELECT a.vec_id id_a, b.vec_id id_b, a.e ae, b.e be
        |  FROM sig a JOIN sig b ON a.vec_id < b.vec_id
        |  WHERE list_max(list_transform(list_zip(a.sg, b.sg), z ->
        |    CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) = 1)
        |SELECT id_a, id_b, sim FROM (
        | SELECT id_a, id_b,
        |  list_sum(list_transform(list_zip(ae, be), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(ae, x -> x * x))) *
        |   sqrt(list_sum(list_transform(be, x -> x * x)))) AS sim
        | FROM cand)
        |WHERE sim >= 0.4""".stripMargin,

    // recall@10 of the LSH index vs exact: the bf and lsh CTEs are
    // the two oracled pipelines verbatim, joined on (qid, nid)
    "q_ann_recall" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |bsims AS (
        | SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(list_zip(q.e, c.e), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |   sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS sim
        | FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |bf AS (SELECT qid, nid FROM (
        | SELECT qid, nid,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
        | FROM bsims) WHERE rk <= 10),
        |sig AS (SELECT vec_id, e,
        |  list_transform(range(0, 16), t ->
        |    list_transform(range(0, 4), p ->
        |      CASE WHEN list_sum(list_transform(list_zip(e, range(0, len(e))), x ->
        |        CASE WHEN substr(md5(t::VARCHAR || '/' || p::VARCHAR || ':' || x[2]::VARCHAR), 1, 1) <= '7'
        |         THEN x[1] ELSE -x[1] END)) > 0 THEN 1 ELSE 0 END)) AS sg
        | FROM v),
        |cand AS (SELECT q.vec_id qid, c.vec_id nid, q.e qe, c.e ce
        |  FROM sig q JOIN sig c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        |  WHERE list_max(list_transform(list_zip(q.sg, c.sg), z ->
        |    CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) = 1),
        |asims AS (SELECT qid, nid,
        |  list_sum(list_transform(list_zip(qe, ce), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(qe, x -> x * x))) *
        |   sqrt(list_sum(list_transform(ce, x -> x * x)))) AS sim
        | FROM cand),
        |ann AS (SELECT qid, nid FROM (
        | SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
        | FROM asims) WHERE rk <= 10)
        |SELECT b.qid,
        | CAST(SUM(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        | CAST(COUNT(*) AS BIGINT) AS n_true,
        | CAST(CAST(SUM(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / 10.0 AS recall
        |FROM bf b LEFT JOIN ann a ON b.qid = a.qid AND b.nid = a.nid
        |GROUP BY b.qid""".stripMargin,

    "q_ann_lsh" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sig AS (SELECT vec_id, e,
        |  list_transform(range(0, 16), t ->
        |    list_transform(range(0, 4), p ->
        |      CASE WHEN list_sum(list_transform(list_zip(e, range(0, len(e))), x ->
        |        CASE WHEN substr(md5(t::VARCHAR || '/' || p::VARCHAR || ':' || x[2]::VARCHAR), 1, 1) <= '7'
        |         THEN x[1] ELSE -x[1] END)) > 0 THEN 1 ELSE 0 END)) AS sg
        | FROM v),
        |cand AS (SELECT q.vec_id qid, c.vec_id nid, q.e qe, c.e ce
        |  FROM sig q JOIN sig c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        |  WHERE list_max(list_transform(list_zip(q.sg, c.sg), z ->
        |    CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) = 1),
        |sims AS (SELECT qid, nid,
        |  list_sum(list_transform(list_zip(qe, ce), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(qe, x -> x * x))) *
        |   sqrt(list_sum(list_transform(ce, x -> x * x)))) AS sim
        | FROM cand)
        |SELECT qid, nid, rk FROM (
        | SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
        | FROM sims) WHERE rk <= 10""".stripMargin,

    "q_embed_cluster" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |init AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
        |asg0 AS (SELECT vec_id, e, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, v.e, i.cid,
        |   list_sum(list_transform(list_zip(v.e, i.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(i.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN init i) s0),
        |cells0 AS (SELECT vec_id, e, cid FROM asg0 WHERE rn = 1),
        |means AS (SELECT cid, u[2] AS pos,
        |   CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
        |  FROM (SELECT cid, unnest(list_zip(e, range(1, len(e) + 1))) AS u FROM cells0) x
        |  GROUP BY cid, u[2]),
        |newc AS (SELECT cid, list(m ORDER BY pos) AS ce FROM means GROUP BY cid),
        |cent AS (SELECT i.cid, COALESCE(n.ce, i.ce) AS ce FROM init i LEFT JOIN newc n ON i.cid = n.cid),
        |asg1 AS (SELECT vec_id, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, c.cid,
        |   list_sum(list_transform(list_zip(v.e, c.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN cent c) s1)
        |SELECT cid, COUNT(*) AS n_vecs, MIN(vec_id) AS rep_id
        |FROM asg1 WHERE rn = 1
        |GROUP BY cid""".stripMargin,

    // the q_embed_cluster assignment CTE verbatim, joined to the
    // documents' term frequencies — top-3 terms per kmeans cluster
    "q_cluster_topics" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |init AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
        |asg0 AS (SELECT vec_id, e, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, v.e, i.cid,
        |   list_sum(list_transform(list_zip(v.e, i.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(i.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN init i) s0),
        |cells0 AS (SELECT vec_id, e, cid FROM asg0 WHERE rn = 1),
        |means AS (SELECT cid, u[2] AS pos,
        |   CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
        |  FROM (SELECT cid, unnest(list_zip(e, range(1, len(e) + 1))) AS u FROM cells0) x
        |  GROUP BY cid, u[2]),
        |newc AS (SELECT cid, list(m ORDER BY pos) AS ce FROM means GROUP BY cid),
        |cent AS (SELECT i.cid, COALESCE(n.ce, i.ce) AS ce FROM init i LEFT JOIN newc n ON i.cid = n.cid),
        |asg1 AS (SELECT vec_id, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, c.cid,
        |   list_sum(list_transform(list_zip(v.e, c.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN cent c) s1),
        |cl AS (SELECT vec_id, cid FROM asg1 WHERE rn = 1),
        |w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT c.cid, w.term, COUNT(*) AS tf
        |  FROM w JOIN cl c ON w.doc_id = c.vec_id
        |  WHERE regexp_matches(w.term, '^[a-z]+$')
        |    AND w.term NOT IN ('the','a','of','and','to','in','is','on')
        |  GROUP BY c.cid, w.term)
        |SELECT cid, rnk, term, tf FROM (
        |  SELECT cid, term, tf, CAST(ROW_NUMBER() OVER (PARTITION BY cid
        |    ORDER BY tf DESC, term ASC) AS INT) AS rnk
        |  FROM tf)
        |WHERE rnk <= 3""".stripMargin,

    "q_sample_cluster" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |init AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
        |asg0 AS (SELECT vec_id, e, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, v.e, i.cid,
        |   list_sum(list_transform(list_zip(v.e, i.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(i.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN init i) s0),
        |cells0 AS (SELECT vec_id, e, cid FROM asg0 WHERE rn = 1),
        |means AS (SELECT cid, u[2] AS pos,
        |   CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
        |  FROM (SELECT cid, unnest(list_zip(e, range(1, len(e) + 1))) AS u FROM cells0) x
        |  GROUP BY cid, u[2]),
        |newc AS (SELECT cid, list(m ORDER BY pos) AS ce FROM means GROUP BY cid),
        |cent AS (SELECT i.cid, COALESCE(n.ce, i.ce) AS ce FROM init i LEFT JOIN newc n ON i.cid = n.cid),
        |asg1 AS (SELECT vec_id, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, c.cid,
        |   list_sum(list_transform(list_zip(v.e, c.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN cent c) s1),
        |cells AS (SELECT vec_id, cid FROM asg1 WHERE rn = 1)
        |SELECT vec_id, cid, rk FROM (
        | SELECT vec_id, cid,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY cid
        |    ORDER BY md5('mix42:' || vec_id::VARCHAR), vec_id) AS INTEGER) AS rk
        | FROM cells) WHERE rk <= 10""".stripMargin,

    "q_ann_ivf" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |init AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
        |asg0 AS (SELECT vec_id, e, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, v.e, i.cid,
        |   list_sum(list_transform(list_zip(v.e, i.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(i.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN init i) s0),
        |cells0 AS (SELECT vec_id, e, cid FROM asg0 WHERE rn = 1),
        |means AS (SELECT cid, u[2] AS pos,
        |   CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
        |  FROM (SELECT cid, unnest(list_zip(e, range(1, len(e) + 1))) AS u FROM cells0) x
        |  GROUP BY cid, u[2]),
        |newc AS (SELECT cid, list(m ORDER BY pos) AS ce FROM means GROUP BY cid),
        |cent AS (SELECT i.cid, COALESCE(n.ce, i.ce) AS ce FROM init i LEFT JOIN newc n ON i.cid = n.cid),
        |asg1 AS (SELECT vec_id, e, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, v.e, c.cid,
        |   list_sum(list_transform(list_zip(v.e, c.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN cent c) s1),
        |cells AS (SELECT vec_id AS nid, e AS ne, cid FROM asg1 WHERE rn = 1),
        |probes AS (SELECT qid, qe, cid FROM (
        |   SELECT q.vec_id AS qid, q.e AS qe, c.cid,
        |     ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |       list_sum(list_transform(list_zip(q.e, c.ce), x -> x[1] * x[2])) /
        |       (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |        sqrt(list_sum(list_transform(c.ce, x -> x * x)))) DESC, c.cid ASC) AS rn
        |   FROM (SELECT vec_id, e FROM v WHERE vec_id < 10) q CROSS JOIN cent c) s2
        |  WHERE rn <= 4),
        |cand AS (SELECT p.qid, s.nid,
        |   list_sum(list_transform(list_zip(p.qe, s.ne), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(p.qe, x -> x * x))) *
        |    sqrt(list_sum(list_transform(s.ne, x -> x * x)))) AS sim
        |  FROM cells s JOIN probes p USING (cid) WHERE p.qid <> s.nid)
        |SELECT qid, nid, rk FROM (
        | SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
        | FROM cand) WHERE rk <= 10""".stripMargin,

    // decimal-exact per-dim means (the IVF-build discipline), the
    // cross-dim sum DECIMAL-routed, one final sqrt
    "q_embed_drift" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings),
        |a AS (SELECT label, u[2] AS pos,
        |  CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS ma
        | FROM (SELECT label, unnest(list_zip(e, range(1, len(e)+1))) AS u
        |       FROM v WHERE vec_id % 10 <> 9) x GROUP BY 1, 2),
        |b AS (SELECT label, u[2] AS pos,
        |  CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mb
        | FROM (SELECT label, unnest(list_zip(e, range(1, len(e)+1))) AS u
        |       FROM v WHERE vec_id % 10 <> 0) x GROUP BY 1, 2),
        |d AS (SELECT a.label, (a.ma - b.mb) * (a.ma - b.mb) AS d2
        |      FROM a JOIN b USING (label, pos)),
        |ss AS (SELECT label, CAST(SUM(CAST(d2 AS DECIMAL(28,8))) AS DOUBLE) AS ssq
        |       FROM d GROUP BY label),
        |ca AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_a
        |       FROM v WHERE vec_id % 10 <> 9 GROUP BY label),
        |cb AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_b
        |       FROM v WHERE vec_id % 10 <> 0 GROUP BY label)
        |SELECT ss.label, ca.n_a, cb.n_b, sqrt(ssq) AS mean_shift
        |FROM ss JOIN ca USING (label) JOIN cb USING (label)""".stripMargin,

    // paired views on the XOR-1 partner; the q_ann_range cosine form
    "q_pair_align" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (SELECT t.vec_id AS pid, d.source,
        |   list_sum(list_transform(list_zip(t.e, i.e), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(t.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(i.e, x -> x * x)))) AS sim
        |  FROM v t JOIN v i ON xor(t.vec_id, 1) = i.vec_id
        |  JOIN documents d ON d.doc_id = t.vec_id),
        |g AS (SELECT unnest(range(-1, 7)) * 5 AS t_pct)
        |SELECT source, t_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        | CAST(SUM(CASE WHEN NOT isnan(sim) AND sim * 100 >= CAST(t_pct AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        | CAST(SUM(CASE WHEN NOT isnan(sim) AND sim * 100 >= CAST(t_pct AS DOUBLE) THEN 1 ELSE 0 END) AS DOUBLE)
        |  / CAST(COUNT(*) AS DOUBLE) AS keep_frac
        |FROM p, g GROUP BY 1, 2""".stripMargin,

    // the (image, caption) composite-key dedup over the mirror corpus
    "q_caption_dedup" ->
      ("WITH " + MirrorDocsSql + "\n" +
        """SELECT doc_id, doc_id % 50 AS img_id, source, md5(text) AS cap_hash,
          | doc_id = MIN(doc_id) OVER (PARTITION BY doc_id % 50, md5(text)) AS keep
          |FROM documents_m""".stripMargin),

    // the q_ann_pq training CTEs verbatim through b2, then the
    // assignment with its distortion exposed instead of the search
    "q_pq_distortion" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |ss AS (SELECT unnest(range(0, 2)) AS s),
        |subs AS (SELECT vec_id, s,
        |  CASE WHEN s = 0 THEN e[1:32] ELSE e[33:64] END AS sub FROM v, ss),
        |init AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid, sub AS ce
        | FROM subs WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
        |asg0 AS (SELECT vec_id, s, sub, cid FROM (
        |  SELECT subs.vec_id, subs.s, subs.sub, i.cid,
        |   ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
        |     list_sum(list_transform(list_zip(subs.sub, i.ce), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |     i.cid ASC) AS rn
        |  FROM subs JOIN init i ON subs.s = i.s) t WHERE rn = 1),
        |m0 AS (SELECT s, cid, u[2] AS pos,
        |  CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mval
        | FROM (SELECT s, cid, unnest(list_zip(sub, range(1, len(sub) + 1))) AS u FROM asg0) x
        | GROUP BY 1, 2, 3),
        |b1m AS (SELECT s, cid, list(mval ORDER BY pos) AS ce FROM m0 GROUP BY 1, 2),
        |b1 AS (SELECT i.s, i.cid, COALESCE(n.ce, i.ce) AS ce
        | FROM init i LEFT JOIN b1m n ON i.s = n.s AND i.cid = n.cid),
        |asg1 AS (SELECT vec_id, s, sub, cid FROM (
        |  SELECT subs.vec_id, subs.s, subs.sub, b.cid,
        |   ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
        |     list_sum(list_transform(list_zip(subs.sub, b.ce), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |     b.cid ASC) AS rn
        |  FROM subs JOIN b1 b ON subs.s = b.s) t WHERE rn = 1),
        |m1 AS (SELECT s, cid, u[2] AS pos,
        |  CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mval
        | FROM (SELECT s, cid, unnest(list_zip(sub, range(1, len(sub) + 1))) AS u FROM asg1) x
        | GROUP BY 1, 2, 3),
        |b2m AS (SELECT s, cid, list(mval ORDER BY pos) AS ce FROM m1 GROUP BY 1, 2),
        |b2 AS (SELECT b.s, b.cid, COALESCE(n.ce, b.ce) AS ce
        | FROM b1 b LEFT JOIN b2m n ON b.s = n.s AND b.cid = n.cid),
        |asg2 AS (SELECT vec_id, s, cid, d FROM (
        |  SELECT subs.vec_id, subs.s, b.cid,
        |   list_sum(list_transform(list_zip(subs.sub, b.ce), x -> (x[1]-x[2])*(x[1]-x[2]))) AS d,
        |   ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
        |     list_sum(list_transform(list_zip(subs.sub, b.ce), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |     b.cid ASC) AS rn
        |  FROM subs JOIN b2 b ON subs.s = b.s) t WHERE rn = 1)
        |SELECT s, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        | CAST(COUNT(DISTINCT cid) AS BIGINT) AS codes_used,
        | CAST(SUM(CAST(d AS DECIMAL(28,8))) AS DOUBLE) AS total_sq_err,
        | CAST(SUM(CAST(d AS DECIMAL(28,8))) AS DOUBLE)
        |  / CAST(COUNT(*) AS DOUBLE) AS mean_sq_err
        |FROM asg2 GROUP BY s""".stripMargin,

    // the q_ann_ivf build CTEs verbatim through `cells`, then the
    // rank-prefix grid selection instead of one fixed nprobe
    "q_ann_ivf_sweep" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |init AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
        |asg0 AS (SELECT vec_id, e, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, v.e, i.cid,
        |   list_sum(list_transform(list_zip(v.e, i.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(i.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN init i) s0),
        |cells0 AS (SELECT vec_id, e, cid FROM asg0 WHERE rn = 1),
        |means AS (SELECT cid, u[2] AS pos,
        |   CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
        |  FROM (SELECT cid, unnest(list_zip(e, range(1, len(e) + 1))) AS u FROM cells0) x
        |  GROUP BY cid, u[2]),
        |newc AS (SELECT cid, list(m ORDER BY pos) AS ce FROM means GROUP BY cid),
        |cent AS (SELECT i.cid, COALESCE(n.ce, i.ce) AS ce FROM init i LEFT JOIN newc n ON i.cid = n.cid),
        |asg1 AS (SELECT vec_id, e, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, v.e, c.cid,
        |   list_sum(list_transform(list_zip(v.e, c.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN cent c) s1),
        |cells AS (SELECT vec_id AS nid, e AS ne, cid FROM asg1 WHERE rn = 1),
        |rankedp AS (SELECT qid, qe, cid, rn AS cell_rank FROM (
        |   SELECT q.vec_id AS qid, q.e AS qe, c.cid,
        |     ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |       list_sum(list_transform(list_zip(q.e, c.ce), x -> x[1] * x[2])) /
        |       (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |        sqrt(list_sum(list_transform(c.ce, x -> x * x)))) DESC, c.cid ASC) AS rn
        |   FROM (SELECT vec_id, e FROM v WHERE vec_id < 10) q CROSS JOIN cent c) s2),
        |grid AS (SELECT unnest([1, 2, 4, 8, 16]) AS np),
        |probes AS (SELECT g.np, r.qid, r.qe, r.cid
        |  FROM rankedp r JOIN grid g ON r.cell_rank <= g.np),
        |cand AS (SELECT p.np, p.qid, s.nid,
        |   list_sum(list_transform(list_zip(p.qe, s.ne), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(p.qe, x -> x * x))) *
        |    sqrt(list_sum(list_transform(s.ne, x -> x * x)))) AS sim
        |  FROM cells s JOIN probes p USING (cid) WHERE p.qid <> s.nid),
        |topk AS (SELECT np, qid, nid FROM (
        |  SELECT np, qid, nid,
        |   ROW_NUMBER() OVER (PARTITION BY np, qid ORDER BY sim DESC, nid ASC) AS rk
        |  FROM cand) WHERE rk <= 10),
        |bf AS (SELECT qid, nid FROM (
        |  SELECT q.vec_id AS qid, s.vec_id AS nid,
        |   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |     list_sum(list_transform(list_zip(q.e, s.e), x -> x[1] * x[2])) /
        |     (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |      sqrt(list_sum(list_transform(s.e, x -> x * x)))) DESC, s.vec_id ASC) AS rk
        |  FROM (SELECT vec_id, e FROM v WHERE vec_id < 10) q
        |  JOIN v s ON q.vec_id <> s.vec_id) WHERE rk <= 10),
        |truth AS (SELECT g.np, b.qid, b.nid FROM bf b CROSS JOIN grid g)
        |SELECT np AS nprobe, CAST(SUM(hit) AS BIGINT) AS hits,
        | CAST(COUNT(*) AS BIGINT) AS n_true,
        | CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall,
        | CAST(np AS DOUBLE) / 16.0 AS scan_fraction
        |FROM (SELECT t.np, CASE WHEN k.nid IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM truth t LEFT JOIN topk k
        |  ON t.np = k.np AND t.qid = k.qid AND t.nid = k.nid)
        |GROUP BY np""".stripMargin,

    "q_ann_pq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |ss AS (SELECT unnest(range(0, 2)) AS s),
        |subs AS (SELECT vec_id, s,
        |  CASE WHEN s = 0 THEN e[1:32] ELSE e[33:64] END AS sub FROM v, ss),
        |init AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid, sub AS ce
        | FROM subs WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
        |asg0 AS (SELECT vec_id, s, sub, cid FROM (
        |  SELECT subs.vec_id, subs.s, subs.sub, i.cid,
        |   ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
        |     list_sum(list_transform(list_zip(subs.sub, i.ce), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |     i.cid ASC) AS rn
        |  FROM subs JOIN init i ON subs.s = i.s) t WHERE rn = 1),
        |m0 AS (SELECT s, cid, u[2] AS pos,
        |  CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mval
        | FROM (SELECT s, cid, unnest(list_zip(sub, range(1, len(sub) + 1))) AS u FROM asg0) x
        | GROUP BY 1, 2, 3),
        |b1m AS (SELECT s, cid, list(mval ORDER BY pos) AS ce FROM m0 GROUP BY 1, 2),
        |b1 AS (SELECT i.s, i.cid, COALESCE(n.ce, i.ce) AS ce
        | FROM init i LEFT JOIN b1m n ON i.s = n.s AND i.cid = n.cid),
        |asg1 AS (SELECT vec_id, s, sub, cid FROM (
        |  SELECT subs.vec_id, subs.s, subs.sub, b.cid,
        |   ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
        |     list_sum(list_transform(list_zip(subs.sub, b.ce), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |     b.cid ASC) AS rn
        |  FROM subs JOIN b1 b ON subs.s = b.s) t WHERE rn = 1),
        |m1 AS (SELECT s, cid, u[2] AS pos,
        |  CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mval
        | FROM (SELECT s, cid, unnest(list_zip(sub, range(1, len(sub) + 1))) AS u FROM asg1) x
        | GROUP BY 1, 2, 3),
        |b2m AS (SELECT s, cid, list(mval ORDER BY pos) AS ce FROM m1 GROUP BY 1, 2),
        |b2 AS (SELECT b.s, b.cid, COALESCE(n.ce, b.ce) AS ce
        | FROM b1 b LEFT JOIN b2m n ON b.s = n.s AND b.cid = n.cid),
        |codes AS (SELECT vec_id, s, cid FROM (
        |  SELECT subs.vec_id, subs.s, b.cid,
        |   ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
        |     list_sum(list_transform(list_zip(subs.sub, b.ce), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |     b.cid ASC) AS rn
        |  FROM subs JOIN b2 b ON subs.s = b.s) t WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 10),
        |qsubs AS (SELECT qid, s, CASE WHEN s = 0 THEN qe[1:32] ELSE qe[33:64] END AS qsub FROM q, ss),
        |adist AS (SELECT qs.qid, c.vec_id AS nid,
        |  SUM(list_sum(list_transform(list_zip(qs.qsub, b.ce), x -> (x[1]-x[2])*(x[1]-x[2])))) AS ad
        | FROM codes c JOIN b2 b ON c.s = b.s AND c.cid = b.cid
        |  JOIN qsubs qs ON qs.s = c.s
        | WHERE qs.qid <> c.vec_id
        | GROUP BY 1, 2),
        |shortlist AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ad ASC, nid ASC) AS rn
        |  FROM adist) t WHERE rn <= 50)
        |SELECT qid, nid, rk FROM (
        | SELECT a.qid, a.nid,
        |  ROW_NUMBER() OVER (PARTITION BY a.qid ORDER BY
        |    list_sum(list_transform(list_zip(q.qe, c.e), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |    a.nid ASC) AS rk
        | FROM shortlist a JOIN q ON q.qid = a.qid JOIN v c ON c.vec_id = a.nid) t
        |WHERE rk <= 10""".stripMargin,

    "q_ann_ivfpq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |init AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)),
        |asg0 AS (SELECT vec_id, e, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, v.e, i.cid,
        |   list_sum(list_transform(list_zip(v.e, i.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(i.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN init i) s0),
        |cells0 AS (SELECT vec_id, e, cid FROM asg0 WHERE rn = 1),
        |means AS (SELECT cid, u[2] AS pos,
        |   CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
        |  FROM (SELECT cid, unnest(list_zip(e, range(1, len(e) + 1))) AS u FROM cells0) x
        |  GROUP BY cid, u[2]),
        |newc AS (SELECT cid, list(m ORDER BY pos) AS ce FROM means GROUP BY cid),
        |cent AS (SELECT i.cid, COALESCE(n.ce, i.ce) AS ce FROM init i LEFT JOIN newc n ON i.cid = n.cid),
        |asg1 AS (SELECT vec_id, e, cid,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        | FROM (SELECT v.vec_id, v.e, c.cid,
        |   list_sum(list_transform(list_zip(v.e, c.ce), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(v.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS sim
        |  FROM v CROSS JOIN cent c) s1),
        |cells AS (SELECT vec_id AS nid, cid FROM asg1 WHERE rn = 1),
        |probes AS (SELECT qid, cid FROM (
        |   SELECT q.vec_id AS qid, c.cid,
        |     ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |       list_sum(list_transform(list_zip(q.e, c.ce), x -> x[1] * x[2])) /
        |       (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |        sqrt(list_sum(list_transform(c.ce, x -> x * x)))) DESC, c.cid ASC) AS rn
        |   FROM (SELECT vec_id, e FROM v WHERE vec_id < 10) q CROSS JOIN cent c) s2
        |  WHERE rn <= 4),
        |ss AS (SELECT unnest(range(0, 2)) AS s),
        |subs AS (SELECT vec_id, s,
        |  CASE WHEN s = 0 THEN e[1:32] ELSE e[33:64] END AS sub FROM v, ss),
        |pinit AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS pcid, sub AS ce
        | FROM subs WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
        |pasg0 AS (SELECT vec_id, s, sub, pcid FROM (
        |  SELECT subs.vec_id, subs.s, subs.sub, i.pcid,
        |   ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
        |     list_sum(list_transform(list_zip(subs.sub, i.ce), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |     i.pcid ASC) AS rn
        |  FROM subs JOIN pinit i ON subs.s = i.s) t WHERE rn = 1),
        |pm0 AS (SELECT s, pcid, u[2] AS pos,
        |  CAST(SUM(CAST(u[1] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mval
        | FROM (SELECT s, pcid, unnest(list_zip(sub, range(1, len(sub) + 1))) AS u FROM pasg0) x
        | GROUP BY 1, 2, 3),
        |pb1m AS (SELECT s, pcid, list(mval ORDER BY pos) AS ce FROM pm0 GROUP BY 1, 2),
        |pb1 AS (SELECT i.s, i.pcid, COALESCE(n.ce, i.ce) AS ce
        | FROM pinit i LEFT JOIN pb1m n ON i.s = n.s AND i.pcid = n.pcid),
        |codes AS (SELECT vec_id, s, pcid FROM (
        |  SELECT subs.vec_id, subs.s, b.pcid,
        |   ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.s ORDER BY
        |     list_sum(list_transform(list_zip(subs.sub, b.ce), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |     b.pcid ASC) AS rn
        |  FROM subs JOIN pb1 b ON subs.s = b.s) t WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 10),
        |qsubs AS (SELECT qid, s, CASE WHEN s = 0 THEN qe[1:32] ELSE qe[33:64] END AS qsub FROM q, ss),
        |cellcand AS (SELECT p.qid, s.nid FROM cells s JOIN probes p USING (cid) WHERE p.qid <> s.nid),
        |adist AS (SELECT cc.qid, cc.nid,
        |  SUM(list_sum(list_transform(list_zip(qs.qsub, b.ce), x -> (x[1]-x[2])*(x[1]-x[2])))) AS ad
        | FROM cellcand cc
        |  JOIN codes c ON c.vec_id = cc.nid
        |  JOIN pb1 b ON c.s = b.s AND c.pcid = b.pcid
        |  JOIN qsubs qs ON qs.qid = cc.qid AND qs.s = c.s
        | GROUP BY 1, 2),
        |shortlist AS (SELECT qid, nid FROM (
        |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ad ASC, nid ASC) AS rn
        |  FROM adist) t WHERE rn <= 50)
        |SELECT qid, nid, rk FROM (
        | SELECT a.qid, a.nid,
        |  ROW_NUMBER() OVER (PARTITION BY a.qid ORDER BY
        |    list_sum(list_transform(list_zip(q.qe, c.e), x -> (x[1]-x[2])*(x[1]-x[2]))) ASC,
        |    a.nid ASC) AS rk
        | FROM shortlist a JOIN q ON q.qid = a.qid JOIN v c ON c.vec_id = a.nid) t
        |WHERE rk <= 10""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |   ELSE [] END AS shs FROM w),
        |ex AS (SELECT doc_id, len(shs) AS sz, unnest(shs) AS s FROM sh)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
        | CAST(COUNT(*) AS DOUBLE) / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) AS jaccard
        |FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING CAST(COUNT(*) AS DOUBLE) / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= 0.5""".stripMargin,

    // the q_ngram_jaccard pair formulation with a threshold grid —
    // integer counts only, the one double comparison on identical
    // trees both engines
    "q_dedup_threshold_sweep" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |   ELSE [] END AS shs FROM w),
        |ex AS (SELECT doc_id, len(shs) AS sz, unnest(shs) AS s FROM sh),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(COUNT(*) AS BIGINT) AS inter,
        |  CAST(ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*) AS BIGINT) AS un
        | FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY a.doc_id, b.doc_id
        | HAVING CAST(COUNT(*) AS DOUBLE) / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= 0.5),
        |grid AS (SELECT unnest([50, 60, 70, 80, 90]) AS t_pct),
        |j AS (SELECT g.t_pct, p.id_a, p.id_b FROM p JOIN grid g
        |      ON p.inter * 100 >= CAST(g.t_pct AS BIGINT) * p.un),
        |np AS (SELECT t_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM j GROUP BY 1),
        |da AS (SELECT t_pct, CAST(COUNT(*) AS BIGINT) AS docs_affected FROM (
        |  SELECT DISTINCT t_pct, id FROM (
        |    SELECT t_pct, id_a AS id FROM j
        |    UNION ALL SELECT t_pct, id_b AS id FROM j)) GROUP BY 1)
        |SELECT g.t_pct, COALESCE(np.n_pairs, 0) AS n_pairs,
        | COALESCE(da.docs_affected, 0) AS docs_affected
        |FROM grid g LEFT JOIN np USING (t_pct) LEFT JOIN da USING (t_pct)""".stripMargin,

    "q_dedup_apply" ->
      (CcClosureSql + "\n" +
      """SELECT COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | COUNT(DISTINCT lang) AS n_langs
        |FROM documents WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)""".stripMargin),

    // the CC closure with per-doc 1/cluster-size weights; identical
    // division trees, DECIMAL-routed sums (the q_dedup_soft twin)
    "q_dedup_soft_near" ->
      (CcClosureSql + ",\n" +
      """sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS csz
        |       FROM comp GROUP BY component),
        |dd AS (SELECT d.source,
        |  CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS tk,
        |  COALESCE(sz.csz, 1) AS n
        | FROM documents d
        | LEFT JOIN comp ON d.doc_id = comp.id
        | LEFT JOIN sz ON comp.component = sz.component),
        |j AS (SELECT source, tk,
        |  CAST(tk AS DOUBLE) / CAST(n AS DOUBLE) AS eff FROM dd)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(tk) AS BIGINT) AS raw_tokens,
        | CAST(SUM(CAST(eff AS DECIMAL(28,8))) AS DOUBLE) AS eff_tokens,
        | CAST(SUM(CAST(eff AS DECIMAL(28,8))) AS DOUBLE)
        |  / CAST(SUM(tk) AS DOUBLE) AS eff_ratio
        |FROM j GROUP BY source""".stripMargin),

    // the CC closure with per-component distinct-source counts
    "q_dedup_cluster_purity" ->
      (CcClosureSql + ",\n" +
      """cl AS (SELECT c.component, COUNT(*) AS n_members,
        |        CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources
        |       FROM comp c JOIN documents d ON c.id = d.doc_id
        |       GROUP BY c.component)
        |SELECT n_members, COUNT(*) AS n_clusters,
        | CAST(SUM(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source
        |FROM cl GROUP BY n_members""".stripMargin),

    // the q_dedup_apply CC closure, rolled per source with mixture
    // shares (identical division expression trees both engines)
    "q_dedup_impact" ->
      (CcClosureSql + ",\n" +
      """kept AS (SELECT * FROM documents
        |         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)),
        |b AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars_before
        |      FROM documents GROUP BY source),
        |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars_after
        |      FROM kept GROUP BY source),
        |tb AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS tb FROM documents),
        |ta AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS ta FROM kept)
        |SELECT b.source, n_before, COALESCE(n_after, 0) AS n_after,
        | chars_before, COALESCE(chars_after, 0) AS chars_after,
        | CAST(chars_before AS DOUBLE) / CAST(tb AS DOUBLE) AS mix_before,
        | CAST(COALESCE(chars_after, 0) AS DOUBLE) / CAST(ta AS DOUBLE) AS mix_after
        |FROM b LEFT JOIN a ON b.source = a.source CROSS JOIN tb CROSS JOIN ta""".stripMargin),

    "q_dedup_cc" ->
      (CcClosureSql + "\n" +
      """SELECT component, COUNT(*) AS n_members, MAX(id) AS max_id
        |FROM comp GROUP BY component""".stripMargin),

    // the three dedup families composed: the CC closure and the
    // ExactSubstr span CTE (both shared constants) plus the md5
    // keep-min groups, fused by the same precedence CASE the Spark
    // plan applies
    "q_dedup_fused" ->
      (FusedVerdCteSql + ",\n" +
      """vv AS (SELECT source, n_toks,
        |   CASE WHEN is_ex THEN 'drop_exact'
        |        WHEN is_near THEN 'drop_near'
        |        WHEN CAST(cut_toks AS DOUBLE) / CAST(n_toks AS DOUBLE) >= 0.05 THEN 'cut_spans'
        |        ELSE 'keep' END AS verdict,
        |   CASE WHEN is_ex OR is_near THEN 0
        |        WHEN CAST(cut_toks AS DOUBLE) / CAST(n_toks AS DOUBLE) >= 0.05 THEN n_toks - cut_toks
        |        ELSE n_toks END AS toks_after
        |  FROM verd),
        |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |   CAST(SUM(CASE WHEN verdict = 'drop_exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_exact,
        |   CAST(SUM(CASE WHEN verdict = 'drop_near' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_near,
        |   CAST(SUM(CASE WHEN verdict = 'cut_spans' THEN 1 ELSE 0 END) AS BIGINT) AS n_cut_spans,
        |   CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |   CAST(SUM(n_toks) AS BIGINT) AS toks_before,
        |   CAST(SUM(toks_after) AS BIGINT) AS toks_after
        |  FROM vv GROUP BY source),
        |tb AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS tb FROM vv),
        |ta AS (SELECT CAST(SUM(toks_after) AS BIGINT) AS ta FROM vv)
        |SELECT source, n_docs, n_drop_exact, n_drop_near, n_cut_spans, n_keep,
        | toks_before, toks_after,
        | CAST(toks_before AS DOUBLE) / CAST(tb AS DOUBLE) AS mix_before,
        | CAST(toks_after AS DOUBLE) / CAST(ta AS DOUBLE) AS mix_after
        |FROM ps CROSS JOIN tb CROSS JOIN ta""".stripMargin),

    "q_ann_range" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sims AS (
        | SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(list_zip(q.e, c.e), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |   sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS sim
        | FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |SELECT qid, nid, sim FROM sims WHERE sim >= 0.3""".stripMargin,

    // the ann_bruteforce shape with the contrastive label filter
    "q_hard_negatives" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sims AS (
        | SELECT q.vec_id AS qid, q.label AS qlabel,
        |  c.vec_id AS nid, c.label AS nlabel,
        |  list_sum(list_transform(list_zip(q.e, c.e), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |   sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS sim
        | FROM v q, v c
        | WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id AND c.label <> q.label)
        |SELECT qid, qlabel, nid, nlabel, sim, rk FROM (
        | SELECT qid, qlabel, nid, nlabel, sim,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
        | FROM sims) WHERE rk <= 10""".stripMargin,

    "q_ann_bruteforce" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sims AS (
        | SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  list_sum(list_transform(list_zip(q.e, c.e), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |   sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS sim
        | FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |SELECT qid, nid, rk, sim FROM (
        | SELECT qid, nid, sim,
        |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
        | FROM sims) WHERE rk <= 10""".stripMargin,

    "q_embed_stats" ->
      """SELECT label, u[2] - 1 AS pos,
        | CAST(SUM(CAST(CAST(u[1] AS DOUBLE) AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS centroid,
        | COUNT(*) AS n
        |FROM (SELECT label, unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS u
        |      FROM embeddings)
        |GROUP BY label, u[2] - 1""".stripMargin,

    "q_token_count" ->
      """SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        | CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE) / COUNT(*) AS avg_tokens
        |FROM documents GROUP BY source""".stripMargin,

    "q_token_bpe" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) AS BIGINT) AS total_bpe_tokens,
        | CAST(SUM(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) AS DOUBLE) / COUNT(*) AS avg_bpe_tokens
        |FROM documents GROUP BY lang""".stripMargin,

    "q_tokenizer_fertility" ->
      """WITH t AS (SELECT lang,
        |  len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS n_bpe,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_words
        | FROM documents)
        |SELECT lang, CAST(SUM(n_bpe) AS BIGINT) AS total_bpe,
        | CAST(SUM(n_words) AS BIGINT) AS total_words,
        | CAST(CAST(SUM(n_bpe) AS BIGINT) AS DOUBLE) /
        |   CAST(CAST(SUM(n_words) AS BIGINT) AS DOUBLE) AS fertility
        |FROM t WHERE n_words >= 1 GROUP BY lang""".stripMargin,

    // ONE histogram CTE, grid cross join — the Spark plan's twin
    "q_seqlen_sweep" ->
      """WITH t AS (SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tk
        | FROM documents),
        |grid AS (SELECT unnest([16, 32, 64, 128, 256, 512]) AS seq_len),
        |agg AS (SELECT g.seq_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN t.tk > g.seq_len THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
        |  CAST(SUM(t.tk) AS BIGINT) AS total_tokens,
        |  CAST(SUM(LEAST(t.tk, CAST(g.seq_len AS BIGINT))) AS BIGINT) AS tokens_kept
        | FROM t CROSS JOIN grid g GROUP BY g.seq_len)
        |SELECT seq_len, n_docs, docs_truncated, total_tokens, tokens_kept,
        | 1.0 - CAST(tokens_kept AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS trunc_loss,
        | CAST((tokens_kept + seq_len - 1) // seq_len AS BIGINT) AS ideal_packs,
        | CAST(tokens_kept AS DOUBLE) /
        |  CAST(((tokens_kept + seq_len - 1) // seq_len) * seq_len AS DOUBLE) AS fill_ceiling
        |FROM agg""".stripMargin,

    "q_truncation_loss" ->
      """WITH t AS (SELECT source,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        | FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        | CAST(SUM(LEAST(n_tokens, 256)) AS BIGINT) AS kept_256,
        | CAST(SUM(LEAST(n_tokens, 512)) AS BIGINT) AS kept_512,
        | CAST(SUM(LEAST(n_tokens, 1024)) AS BIGINT) AS kept_1024,
        | CAST(SUM(CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT) AS docs_over_512,
        | 1.0 - CAST(SUM(LEAST(n_tokens, 512)) AS DOUBLE)
        |  / CAST(SUM(n_tokens) AS DOUBLE) AS loss_512
        |FROM t GROUP BY source""".stripMargin,

    "q_split_leakage" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN ('0x' || substr(md5('split1:' || doc_id), 1, 8))::BIGINT % 10 < 8
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5('split1:' || doc_id), 1, 8))::BIGINT % 10 = 8
        |       THEN 'val' ELSE 'test' END AS split,
        |  regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents
        | WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 1),
        |segs AS (SELECT DISTINCT doc_id, split,
        |  md5(unnest(list_transform(range((len(w)+7)//8),
        |    i -> array_to_string(w[i*8+1 : i*8+8], ' ')))) AS h
        | FROM t),
        |hs AS (SELECT h, split, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        |       FROM segs GROUP BY h, split)
        |SELECT a.split AS split_a, b.split AS split_b,
        | CAST(COUNT(*) AS BIGINT) AS leaked_segments,
        | CAST(SUM(a.nd) AS BIGINT) AS docs_a,
        | CAST(SUM(b.nd) AS BIGINT) AS docs_b
        |FROM hs a JOIN hs b ON a.h = b.h AND a.split < b.split
        |GROUP BY a.split, b.split""".stripMargin,

    // the rank is ROW_NUMBER over (tk DESC, doc_id ASC) — identical
    // to globalRank's (negated-order, tie) contract
    "q_pad_efficiency" ->
      """WITH base AS (SELECT doc_id,
        |  LEAST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT),
        |        512) AS tk
        | FROM documents),
        |pm AS (SELECT 'pad_to_max' AS policy, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tk) AS BIGINT) AS tokens,
        |  CAST(COUNT(*) * 512 AS BIGINT) AS cost FROM base),
        |r AS (SELECT tk, ROW_NUMBER() OVER (ORDER BY tk DESC, doc_id ASC) AS rk
        |      FROM base),
        |b AS (SELECT (rk - 1) // 32 AS batch, CAST(COUNT(*) AS BIGINT) AS bn,
        |  CAST(MAX(tk) AS BIGINT) AS bmax, CAST(SUM(tk) AS BIGINT) AS btk
        | FROM r GROUP BY 1),
        |sb AS (SELECT 'sorted_batch32' AS policy, CAST(SUM(bn) AS BIGINT) AS n_docs,
        |  CAST(SUM(btk) AS BIGINT) AS tokens,
        |  CAST(SUM(bn * bmax) AS BIGINT) AS cost FROM b),
        |p2 AS (SELECT 'bucket_pow2' AS policy, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tk) AS BIGINT) AS tokens,
        |  CAST(SUM(CASE WHEN tk <= 32 THEN 32 WHEN tk <= 64 THEN 64
        |    WHEN tk <= 128 THEN 128 WHEN tk <= 256 THEN 256
        |    ELSE 512 END) AS BIGINT) AS cost FROM base),
        |u AS (SELECT * FROM pm UNION ALL SELECT * FROM sb
        |      UNION ALL SELECT * FROM p2)
        |SELECT policy, n_docs, tokens, cost,
        | CAST(tokens AS DOUBLE) / CAST(cost AS DOUBLE) AS efficiency
        |FROM u""".stripMargin,

    // same 8-token segment construction as q_split_leakage; min
    // doc_id is the first carrier — pure integer arithmetic
    "q_novelty" ->
      """WITH t AS (SELECT doc_id, source,
        |  regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents
        | WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 1),
        |segs AS (SELECT DISTINCT doc_id, source,
        |  md5(unnest(list_transform(range((len(w)+7)//8),
        |    i -> array_to_string(w[i*8+1 : i*8+8], ' ')))) AS h
        | FROM t),
        |f AS (SELECT h, MIN(doc_id) AS first_id FROM segs GROUP BY h),
        |nv AS (SELECT first_id, CAST(COUNT(*) AS BIGINT) AS __nn
        |       FROM f GROUP BY first_id),
        |pd0 AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_segs
        |        FROM segs GROUP BY doc_id, source),
        |pd AS (SELECT pd0.source, pd0.n_segs,
        |  COALESCE(nv.__nn, 0) AS n_novel
        | FROM pd0 LEFT JOIN nv ON pd0.doc_id = nv.first_id)
        |SELECT source, (n_novel * 10) // n_segs AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_segs) AS BIGINT) AS segs,
        | CAST(SUM(n_novel) AS BIGINT) AS novel_segs
        |FROM pd GROUP BY source, bucket""".stripMargin,

    // the incremental probe: same segment CTE shape over the
    // id-ordered halves; the anti-join IS the store probe
    "q_novelty_incr" ->
      """WITH mx AS (SELECT MAX(doc_id) // 2 AS half FROM documents),
        |tb AS (SELECT doc_id, source,
        |  regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents, mx
        | WHERE doc_id > mx.half
        |   AND len(regexp_split_to_array(trim(text), '\s+')) >= 1),
        |store AS (SELECT DISTINCT
        |  md5(unnest(list_transform(range((len(w)+7)//8),
        |    i -> array_to_string(w[i*8+1 : i*8+8], ' ')))) AS h
        | FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS w
        |   FROM documents, mx
        |   WHERE doc_id <= mx.half
        |     AND len(regexp_split_to_array(trim(text), '\s+')) >= 1)),
        |segs AS (SELECT DISTINCT doc_id, source,
        |  md5(unnest(list_transform(range((len(w)+7)//8),
        |    i -> array_to_string(w[i*8+1 : i*8+8], ' ')))) AS h
        | FROM tb),
        |f AS (SELECT h, MIN(doc_id) AS first_id FROM segs GROUP BY h),
        |fn AS (SELECT f.first_id FROM f LEFT JOIN store ON f.h = store.h
        |       WHERE store.h IS NULL),
        |nv AS (SELECT first_id, CAST(COUNT(*) AS BIGINT) AS __nn
        |       FROM fn GROUP BY first_id),
        |pd0 AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_segs
        |        FROM segs GROUP BY doc_id, source),
        |pd AS (SELECT pd0.source, pd0.n_segs,
        |  COALESCE(nv.__nn, 0) AS n_novel
        | FROM pd0 LEFT JOIN nv ON pd0.doc_id = nv.first_id)
        |SELECT source, (n_novel * 10) // n_segs AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_segs) AS BIGINT) AS segs,
        | CAST(SUM(n_novel) AS BIGINT) AS novel_segs
        |FROM pd GROUP BY source, bucket""".stripMargin,

    // same segment frame; the matrix join carries (h, first_id,
    // origin) only
    "q_copy_matrix" ->
      """WITH t AS (SELECT doc_id, source,
        |  regexp_split_to_array(trim(text), '\s+') AS w
        | FROM documents
        | WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 1),
        |segs AS (SELECT DISTINCT doc_id, source,
        |  md5(unnest(list_transform(range((len(w)+7)//8),
        |    i -> array_to_string(w[i*8+1 : i*8+8], ' ')))) AS h
        | FROM t),
        |f AS (SELECT h, MIN(doc_id) AS first_id FROM segs GROUP BY h),
        |org AS (SELECT s.h, f.first_id, s.source AS origin
        |        FROM segs s JOIN f ON s.h = f.h AND s.doc_id = f.first_id)
        |SELECT o.origin, s.source,
        | CAST(COUNT(DISTINCT s.h) AS BIGINT) AS segments,
        | CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS reserving_docs
        |FROM segs s JOIN org o ON s.h = o.h
        |WHERE s.doc_id <> o.first_id
        |GROUP BY o.origin, s.source""".stripMargin,

    "q_quality_survival" ->
      """WITH b AS (SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    w -> w IN ('the','a','of','and','to','in','is','on'))) AS stop_hits
        | FROM documents),
        |sc AS (SELECT n_tokens,
        |  LEAST((stop_hits * 1000) // n_tokens // 20, 10) AS bucket
        | FROM b WHERE n_tokens >= 1),
        |pb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS nd,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tk FROM sc GROUP BY bucket),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tot_toks FROM sc),
        |ts AS (SELECT unnest(range(0, 11)) AS t)
        |SELECT ts.t * 20 AS cutoff,
        | CAST(SUM(nd) AS BIGINT) AS n_docs_kept,
        | CAST(SUM(tk) AS BIGINT) AS toks_kept,
        | CAST(SUM(nd) AS DOUBLE) / CAST(tot_docs AS DOUBLE) AS frac_docs,
        | CAST(SUM(tk) AS DOUBLE) / CAST(tot_toks AS DOUBLE) AS frac_toks
        |FROM ts JOIN pb ON pb.bucket <= ts.t, tot
        |GROUP BY ts.t, tot_docs, tot_toks""".stripMargin,

    "q_quality_score" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws,
        |  regexp_replace(trim(text), '\s+', '', 'g') AS squeezed FROM documents),
        |m AS (SELECT doc_id, len(ws) AS n_tokens,
        |  CAST(LENGTH(squeezed) AS DOUBLE) / len(ws) AS avg_token_len,
        |  CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE)
        |    / len(ws) AS stopword_ratio
        | FROM t)
        |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
        | CASE WHEN n_tokens >= 60 AND avg_token_len >= 4.0 AND stopword_ratio <= 0.3 THEN 'high'
        |  WHEN n_tokens >= 20 THEN 'medium' ELSE 'low' END AS quality_class
        |FROM m""".stripMargin,

    // the greedy budget prefix as ONE ordered window sum (the oracle
    // may use the single-partition form the engine side must avoid)
    "q_budget_select" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |m AS (SELECT doc_id, len(ws) AS n_tokens,
        |  len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','on'))) AS stop_hits
        | FROM t WHERE len(ws) >= 1),
        |s AS (SELECT doc_id, n_tokens, (stop_hits * 1000) // n_tokens AS score FROM m),
        |c AS (SELECT doc_id, n_tokens, score,
        |  CAST(SUM(n_tokens) OVER (
        |    ORDER BY score * 10000000000 + doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        | FROM s)
        |SELECT doc_id, n_tokens, score, cum_tokens,
        | cum_tokens <= 20000 AS kept
        |FROM c""".stripMargin,

    // the q_lang_id vote per 32-token window; DuckDB slices inside
    // list_transform like the line-dedup oracle
    "q_lang_mix" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 1),
        |w AS (SELECT doc_id,
        |  unnest(list_transform(range((len(ws)+31)//32),
        |    i -> ws[i*32+1 : i*32+32])) AS wt
        | FROM t),
        |sc AS (SELECT doc_id,
        |  len(list_filter(wt, x -> x IN ('the','a','of','and','to','in','is','on'))) AS en,
        |  len(list_filter(wt, x -> x IN ('el','la','de','y','en','es','los','que'))) AS es,
        |  len(list_filter(wt, x -> x IN ('der','die','das','und','zu','ist','den','von'))) AS de
        | FROM w),
        |p AS (SELECT doc_id,
        |  CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'und'
        |   WHEN en >= es AND en >= de THEN 'en'
        |   WHEN es >= de THEN 'es' ELSE 'de' END AS pred
        | FROM sc)
        |SELECT doc_id, COUNT(*) AS n_windows,
        | CAST(COUNT(DISTINCT CASE WHEN pred <> 'und' THEN pred END) AS BIGINT) AS n_langs,
        | COUNT(DISTINCT CASE WHEN pred <> 'und' THEN pred END) >= 2 AS is_mixed
        |FROM p GROUP BY doc_id""".stripMargin,

    "q_lang_id" ->
      """WITH t AS (SELECT lang, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sc AS (SELECT lang,
        |  len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','on'))) AS en,
        |  len(list_filter(ws, w -> w IN ('el','la','de','y','en','es','los','que'))) AS es,
        |  len(list_filter(ws, w -> w IN ('der','die','das','und','zu','ist','den','von'))) AS de
        | FROM t)
        |SELECT lang,
        | CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'und'
        |  WHEN en >= es AND en >= de THEN 'en'
        |  WHEN es >= de THEN 'es' ELSE 'de' END AS predicted,
        | COUNT(*) AS n
        |FROM sc GROUP BY 1, 2""".stripMargin,

    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 5
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
        |     for i in range(1, len(ws) - 3)])
        |   ELSE [] END AS shs FROM w),
        |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh)
        |SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_shared
        |FROM ex t JOIN ex e ON t.s = e.s AND e.doc_id < 25 AND t.doc_id >= 25
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,

    "q_decontam_ngram" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |ns AS (SELECT unnest([4, 5, 8, 13]) AS n),
        |sh AS (SELECT doc_id, n,
        |  CASE WHEN len(ws) >= n
        |   THEN list_distinct([array_to_string(ws[i:(i+n-1)], ' ')
        |     for i in range(1, len(ws) - n + 2)])
        |   ELSE [] END AS shs
        | FROM w CROSS JOIN ns),
        |ex AS (SELECT doc_id, n, unnest(shs) AS s FROM sh),
        |p AS (SELECT t.n, t.doc_id AS train_id, e.doc_id AS eval_id,
        |  COUNT(*) AS n_shared
        | FROM ex t JOIN ex e ON t.n = e.n AND t.s = e.s
        |  AND e.doc_id < 25 AND t.doc_id >= 25
        | GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3)
        |SELECT n, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        | CAST(COUNT(DISTINCT train_id) AS BIGINT) AS train_docs_flagged,
        | CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS eval_items_hit
        |FROM p GROUP BY 1""".stripMargin,

    // one pair CTE, grid filter — the sweep's Spark plan verbatim
    "q_decontam_sweep" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 5
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
        |     for i in range(1, len(ws) - 3)])
        |   ELSE [] END AS shs FROM w),
        |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
        |p AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        | FROM ex t JOIN ex e ON t.s = e.s AND e.doc_id < 25 AND t.doc_id >= 25
        | GROUP BY 1, 2),
        |grid AS (SELECT unnest([1, 2, 3, 4, 5]) AS cutoff)
        |SELECT g.cutoff, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        | CAST(COUNT(DISTINCT p.train_id) AS BIGINT) AS train_docs_flagged,
        | CAST(COUNT(DISTINCT p.eval_id) AS BIGINT) AS eval_items_hit
        |FROM p JOIN grid g ON p.n_shared >= g.cutoff
        |GROUP BY g.cutoff""".stripMargin,

    "q_decontam_embed" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |mx AS (SELECT q.vec_id AS eval_id,
        |  MAX(list_sum(list_transform(list_zip(q.e, c.e), x -> x[1] * x[2])) /
        |   (sqrt(list_sum(list_transform(q.e, x -> x * x))) *
        |    sqrt(list_sum(list_transform(c.e, x -> x * x))))) AS max_sim
        | FROM v q JOIN v c ON q.vec_id % 50 = 0 AND c.vec_id % 50 <> 0
        | GROUP BY q.vec_id)
        |SELECT eval_id, max_sim,
        | CASE WHEN max_sim >= 0.44 THEN 'critical'
        |      WHEN max_sim >= 0.40 THEN 'high'
        |      WHEN max_sim >= 0.37 THEN 'moderate'
        |      ELSE 'clean' END AS severity
        |FROM mx""".stripMargin,

    "q_repetition" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |m AS (SELECT doc_id, CAST(len(ws) AS INT) AS n_tokens,
        |  CAST(len(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |    for i in range(1, len(ws) - 1)])) AS INT) AS n_distinct_3g
        | FROM w WHERE len(ws) >= 3)
        |SELECT doc_id, n_tokens, n_distinct_3g,
        | n_tokens - 2 AS n_3g,
        | 1.0 - CAST(n_distinct_3g AS DOUBLE) / (n_tokens - 2) AS rep_ratio,
        | CASE WHEN 1.0 - CAST(n_distinct_3g AS DOUBLE) / (n_tokens - 2) > 0.2 THEN 'high'
        |  WHEN 1.0 - CAST(n_distinct_3g AS DOUBLE) / (n_tokens - 2) > 0.05 THEN 'medium'
        |  ELSE 'low' END AS rep_class
        |FROM m""".stripMargin,

    // identical line/paragraph synthesis (8-/32-token chunks), dup
    // mass as total − distinct, top-gram mass per (doc, gram) rows —
    // a different algorithm than the Spark run-length fold, same
    // integers, so the double divisions and the literal threshold
    // comparisons agree bit-exactly
    "q_repetition_gopher" ->
      """WITH w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |b AS (SELECT doc_id, source, ws,
        |  [array_to_string(ws[((j-1)*8+1):(j*8)], ' ') for j in range(1, (len(ws)+7)//8 + 1)] AS l8,
        |  [array_to_string(ws[((j-1)*32+1):(j*32)], ' ') for j in range(1, (len(ws)+31)//32 + 1)] AS l32,
        |  length(array_to_string(ws, '')) AS tot
        |  FROM w WHERE len(ws) >= 1),
        |g2 AS (SELECT doc_id, unnest([array_to_string(ws[i:(i+1)], ' ') for i in range(1, len(ws))]) AS g FROM b),
        |c2 AS (SELECT doc_id, MAX(c * (length(g) - 1)) AS best FROM
        |  (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
        |g3 AS (SELECT doc_id, unnest([array_to_string(ws[i:(i+2)], ' ') for i in range(1, len(ws) - 1)]) AS g FROM b),
        |c3 AS (SELECT doc_id, MAX(c * (length(g) - 2)) AS best FROM
        |  (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1),
        |g4 AS (SELECT doc_id, unnest([array_to_string(ws[i:(i+3)], ' ') for i in range(1, len(ws) - 2)]) AS g FROM b),
        |c4 AS (SELECT doc_id, MAX(c * (length(g) - 3)) AS best FROM
        |  (SELECT doc_id, g, COUNT(*) AS c FROM g4 GROUP BY 1, 2) GROUP BY 1),
        |gd5 AS (SELECT doc_id, unnest([array_to_string(ws[i:(i+4)], ' ') for i in range(1, len(ws) - 3)]) AS g FROM b),
        |d5 AS (SELECT doc_id, CAST(SUM(c * (length(g) - 4)) AS BIGINT) AS mass FROM
        |  (SELECT doc_id, g, COUNT(*) AS c FROM gd5 GROUP BY 1, 2) WHERE c >= 2 GROUP BY 1),
        |gd6 AS (SELECT doc_id, unnest([array_to_string(ws[i:(i+5)], ' ') for i in range(1, len(ws) - 4)]) AS g FROM b),
        |d6 AS (SELECT doc_id, CAST(SUM(c * (length(g) - 5)) AS BIGINT) AS mass FROM
        |  (SELECT doc_id, g, COUNT(*) AS c FROM gd6 GROUP BY 1, 2) WHERE c >= 2 GROUP BY 1),
        |gd7 AS (SELECT doc_id, unnest([array_to_string(ws[i:(i+6)], ' ') for i in range(1, len(ws) - 5)]) AS g FROM b),
        |d7 AS (SELECT doc_id, CAST(SUM(c * (length(g) - 6)) AS BIGINT) AS mass FROM
        |  (SELECT doc_id, g, COUNT(*) AS c FROM gd7 GROUP BY 1, 2) WHERE c >= 2 GROUP BY 1),
        |gd8 AS (SELECT doc_id, unnest([array_to_string(ws[i:(i+7)], ' ') for i in range(1, len(ws) - 6)]) AS g FROM b),
        |d8 AS (SELECT doc_id, CAST(SUM(c * (length(g) - 7)) AS BIGINT) AS mass FROM
        |  (SELECT doc_id, g, COUNT(*) AS c FROM gd8 GROUP BY 1, 2) WHERE c >= 2 GROUP BY 1),
        |gd9 AS (SELECT doc_id, unnest([array_to_string(ws[i:(i+8)], ' ') for i in range(1, len(ws) - 7)]) AS g FROM b),
        |d9 AS (SELECT doc_id, CAST(SUM(c * (length(g) - 8)) AS BIGINT) AS mass FROM
        |  (SELECT doc_id, g, COUNT(*) AS c FROM gd9 GROUP BY 1, 2) WHERE c >= 2 GROUP BY 1),
        |gd10 AS (SELECT doc_id, unnest([array_to_string(ws[i:(i+9)], ' ') for i in range(1, len(ws) - 8)]) AS g FROM b),
        |d10 AS (SELECT doc_id, CAST(SUM(c * (length(g) - 9)) AS BIGINT) AS mass FROM
        |  (SELECT doc_id, g, COUNT(*) AS c FROM gd10 GROUP BY 1, 2) WHERE c >= 2 GROUP BY 1),
        |d AS (SELECT b.source,
        |  CAST(len(l8) - len(list_distinct(l8)) AS DOUBLE) / CAST(len(l8) AS DOUBLE) AS dlf,
        |  CASE WHEN length(array_to_string(l8, '')) = 0 THEN 0.0 ELSE
        |    CAST(length(array_to_string(l8, '')) - length(array_to_string(list_distinct(l8), '')) AS DOUBLE) / CAST(length(array_to_string(l8, '')) AS DOUBLE) END AS dlcf,
        |  CAST(len(l32) - len(list_distinct(l32)) AS DOUBLE) / CAST(len(l32) AS DOUBLE) AS dpf,
        |  CASE WHEN length(array_to_string(l32, '')) = 0 THEN 0.0 ELSE
        |    CAST(length(array_to_string(l32, '')) - length(array_to_string(list_distinct(l32), '')) AS DOUBLE) / CAST(length(array_to_string(l32, '')) AS DOUBLE) END AS dpcf,
        |  CASE WHEN b.tot = 0 THEN 0.0 ELSE CAST(COALESCE(c2.best, 0) AS DOUBLE) / CAST(b.tot AS DOUBLE) END AS s2,
        |  CASE WHEN b.tot = 0 THEN 0.0 ELSE CAST(COALESCE(c3.best, 0) AS DOUBLE) / CAST(b.tot AS DOUBLE) END AS s3,
        |  CASE WHEN b.tot = 0 THEN 0.0 ELSE CAST(COALESCE(c4.best, 0) AS DOUBLE) / CAST(b.tot AS DOUBLE) END AS s4,
        |  CASE WHEN b.tot = 0 THEN 0.0 ELSE CAST(COALESCE(d5.mass, 0) AS DOUBLE) / CAST(b.tot AS DOUBLE) END AS sd5,
        |  CASE WHEN b.tot = 0 THEN 0.0 ELSE CAST(COALESCE(d6.mass, 0) AS DOUBLE) / CAST(b.tot AS DOUBLE) END AS sd6,
        |  CASE WHEN b.tot = 0 THEN 0.0 ELSE CAST(COALESCE(d7.mass, 0) AS DOUBLE) / CAST(b.tot AS DOUBLE) END AS sd7,
        |  CASE WHEN b.tot = 0 THEN 0.0 ELSE CAST(COALESCE(d8.mass, 0) AS DOUBLE) / CAST(b.tot AS DOUBLE) END AS sd8,
        |  CASE WHEN b.tot = 0 THEN 0.0 ELSE CAST(COALESCE(d9.mass, 0) AS DOUBLE) / CAST(b.tot AS DOUBLE) END AS sd9,
        |  CASE WHEN b.tot = 0 THEN 0.0 ELSE CAST(COALESCE(d10.mass, 0) AS DOUBLE) / CAST(b.tot AS DOUBLE) END AS sd10
        |  FROM b LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id) LEFT JOIN c4 USING (doc_id)
        |  LEFT JOIN d5 USING (doc_id) LEFT JOIN d6 USING (doc_id) LEFT JOIN d7 USING (doc_id) LEFT JOIN d8 USING (doc_id) LEFT JOIN d9 USING (doc_id) LEFT JOIN d10 USING (doc_id))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(CASE WHEN dlf > 0.30 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_line,
        | CAST(SUM(CASE WHEN dpf > 0.30 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_para,
        | CAST(SUM(CASE WHEN dlcf > 0.20 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_line_chars,
        | CAST(SUM(CASE WHEN dpcf > 0.20 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_para_chars,
        | CAST(SUM(CASE WHEN s2 > 0.20 THEN 1 ELSE 0 END) AS BIGINT) AS v_top_2gram,
        | CAST(SUM(CASE WHEN s3 > 0.18 THEN 1 ELSE 0 END) AS BIGINT) AS v_top_3gram,
        | CAST(SUM(CASE WHEN s4 > 0.16 THEN 1 ELSE 0 END) AS BIGINT) AS v_top_4gram,
        | CAST(SUM(CASE WHEN sd5 > 0.15 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_5gram,
        | CAST(SUM(CASE WHEN sd6 > 0.14 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_6gram,
        | CAST(SUM(CASE WHEN sd7 > 0.13 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_7gram,
        | CAST(SUM(CASE WHEN sd8 > 0.12 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_8gram,
        | CAST(SUM(CASE WHEN sd9 > 0.11 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_9gram,
        | CAST(SUM(CASE WHEN sd10 > 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS v_dup_10gram,
        | CAST(SUM(CASE WHEN NOT (dlf > 0.30) AND NOT (dpf > 0.30)
        |   AND NOT (dlcf > 0.20) AND NOT (dpcf > 0.20) AND NOT (s2 > 0.20)
        |   AND NOT (s3 > 0.18) AND NOT (s4 > 0.16) AND NOT (sd5 > 0.15) AND NOT (sd6 > 0.14) AND NOT (sd7 > 0.13) AND NOT (sd8 > 0.12) AND NOT (sd9 > 0.11) AND NOT (sd10 > 0.10) THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        |FROM d GROUP BY source""".stripMargin,

    "q_html_extract" ->
      s"""WITH h AS (SELECT doc_id,
        |  '$HtmlPrefix' || regexp_replace(text, '\\. ', '.</p><p>', 'g') || '$HtmlSuffix' AS html
        | FROM documents),
        |t AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
        |   '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |   '<(/?)(p|div|br|h1|h2|h3|li|ul|ol|tr|table|nav|footer|header)[^>]*>', chr(10), 'g'),
        |   '<[^>]*>', '', 'g') AS txt FROM h),
        |d AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(txt,
        |   '&lt;','<'),'&gt;','>'),'&quot;',chr(34)),'&#39;',chr(39)),'&nbsp;',' '),'&amp;','&') AS txt FROM t),
        |l AS (SELECT doc_id,
        |   list_filter(list_transform(string_split(txt, chr(10)), x -> trim(x)), x -> x <> '') AS lines FROM d),
        |k AS (SELECT doc_id, lines,
        |   list_filter(lines, x -> len(string_split_regex(x, ' +')) >= 5) AS kept FROM l)
        |SELECT doc_id,
        |   CAST(len(lines) AS BIGINT) AS n_lines,
        |   CAST(len(kept) AS BIGINT) AS n_kept,
        |   CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS n_chars,
        |   md5(array_to_string(kept, chr(10))) AS text_md5
        |FROM k""".stripMargin,

    "q_pii_redact" ->
      (s"""WITH s AS (SELECT source,
        |  text || ' contact user' || doc_id || '@' || source || '.com ref ' || ((doc_id * 7919) % 10000)
        |   || CASE WHEN doc_id % 2 = 0 THEN ' ip ' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256) || '.' || ((doc_id * 29) % 256) ELSE '' END
        |   || CASE WHEN doc_id % 3 = 0 THEN ' call +' || (10000000 + (doc_id * 31) % 90000000) ELSE '' END
        |   || CASE WHEN doc_id % 5 = 4 THEN ' node 999.1.2.3' ELSE '' END
        |   || CASE WHEN doc_id % 7 = 5 THEN ' mail First.Last+tag' || doc_id || '@Sub.Example.co.uk' ELSE '' END AS synth
        | FROM documents),
        |r AS (SELECT source, synth,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(synth,
        |    '${TextOps.PiiEmailRe}', '<EMAIL>', 'g'),
        |    '${TextOps.PiiIpRe}', '<IP>', 'g'),
        |    '${TextOps.PiiPhoneRe}', '<PHONE>', 'g'),
        |    '[0-9]{3,}', '<NUM>', 'g') AS redacted
        | FROM s)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(LENGTH(synth) - LENGTH(redacted)) AS BIGINT) AS chars_removed,
        | CAST(SUM(CASE WHEN redacted LIKE '%<EMAIL>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs,
        | CAST(SUM(CASE WHEN redacted LIKE '%<IP>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_ip_docs,
        | CAST(SUM(CASE WHEN redacted LIKE '%<PHONE>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_docs
        |FROM r GROUP BY source""").stripMargin,

    "q_sample_stratified" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE lang <> 'en' OR substr(md5(doc_id::VARCHAR), 1, 1) <= '7'
        |GROUP BY lang""".stripMargin,

    "q_sample_exact" ->
      """SELECT doc_id, source, rk FROM (
        | SELECT doc_id, source,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY ('0x' || substr(md5('samp42:' || doc_id), 1, 8))::BIGINT ASC,
        |             doc_id ASC) AS rk
        | FROM documents)
        |WHERE rk <= 20""".stripMargin,

    "q_shuffle_shard" ->
      """SELECT doc_id, shard,
        | CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INTEGER) AS pos
        |FROM (SELECT doc_id, md5('shuf42:' || doc_id::VARCHAR) AS h,
        |   CAST(('0x' || substr(md5('shuf42:' || doc_id::VARCHAR), 1, 8))::BIGINT % 37 AS INTEGER) AS shard
        | FROM documents)""".stripMargin,

    "q_pack_sequences" ->
      """SELECT shard, pack_id, COUNT(*) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
        |FROM (SELECT shard, n_tokens,
        |   CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
        | FROM (SELECT shard, n_tokens,
        |   CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(('0x' || substr(md5('pack7:' || doc_id::VARCHAR), 1, 8))::BIGINT % 37 AS INTEGER) AS shard
        |   FROM documents)))
        |GROUP BY shard, pack_id""".stripMargin,

    "q_pack_stats" ->
      """WITH packs AS (
        | SELECT shard, pack_id, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
        | FROM (SELECT shard, n_tokens,
        |    CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id
        |  FROM (SELECT shard, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |   FROM (SELECT doc_id,
        |     CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |     CAST(('0x' || substr(md5('pack7:' || doc_id::VARCHAR), 1, 8))::BIGINT % 37 AS INTEGER) AS shard
        |    FROM documents)))
        | GROUP BY shard, pack_id)
        |SELECT COUNT(*) AS n_packs,
        | CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
        | CAST(SUM(CASE WHEN pack_tokens >= 512 THEN 1 ELSE 0 END) AS BIGINT) AS at_capacity_packs,
        | CAST(SUM(pack_tokens) AS DOUBLE) / CAST(COUNT(*) * 512 AS DOUBLE) AS fill_rate
        |FROM packs""".stripMargin,

    "q_dedup_substring" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents),
        |wins AS (
        | SELECT doc_id, unnest(list_transform(generate_series(0, (len(t)-8)//4),
        |   i -> md5(array_to_string(t[i*4+1 : i*4+8], ' ')))) AS fp
        | FROM toks WHERE len(t) >= 8),
        |dup AS (SELECT fp FROM wins GROUP BY fp HAVING COUNT(*) >= 2)
        |SELECT doc_id, COUNT(*) AS dup_windows
        |FROM wins WHERE fp IN (SELECT fp FROM dup)
        |GROUP BY doc_id""".stripMargin,

    "q_lm_bigram" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents),
        |big AS (
        | SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        | FROM toks WHERE len(t) >= 2),
        |bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        |uc AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
        |v AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vocab
        |      FROM (SELECT unnest(t) AS term FROM toks)),
        |scored AS (
        | SELECT b.doc_id,
        |  (CAST(c.c12 AS DOUBLE) + 1.0) / (CAST(u.c1 AS DOUBLE) + v.vocab) AS p
        | FROM big b
        | JOIN bc c ON b.w1 = c.w1 AND b.w2 = c.w2
        | JOIN uc u ON b.w1 = u.w1
        | CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        | CAST(SUM(CAST(p AS DECIMAL(28,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lm_score
        |FROM scored GROUP BY doc_id""".stripMargin,

    // distinct (source, content-hash) pairs self-joined on the hash
    "q_dedup_cross_source" ->
      ("WITH " + MirrorDocsSql + ",\n" +
        """sh AS (SELECT DISTINCT source, md5(text) AS h FROM documents_m)
          |SELECT a.source AS src_a, b.source AS src_b,
          | CAST(COUNT(*) AS BIGINT) AS n_shared
          |FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
          |GROUP BY 1, 2""".stripMargin),

    // the line-dedup segmentation, scored across docs per source
    "q_boilerplate" ->
      """WITH toks AS (
        | SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents
        | WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 1),
        |segs0 AS (
        | SELECT doc_id, source,
        |  unnest(list_transform(range((len(t)+7)//8),
        |    i -> array_to_string(t[i*8+1 : i*8+8], ' '))) AS seg
        | FROM toks),
        |segs AS (SELECT DISTINCT source, md5(seg) AS h, doc_id FROM segs0),
        |boiler AS (
        | SELECT source, h FROM segs GROUP BY source, h
        | HAVING COUNT(*) >= 2),
        |nb AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_boiler_segments
        |       FROM boiler GROUP BY source),
        |aff AS (SELECT s.source, CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_affected_docs
        |        FROM segs s JOIN boiler b ON s.source = b.source AND s.h = b.h
        |        GROUP BY s.source)
        |SELECT nb.source, n_boiler_segments, n_affected_docs
        |FROM nb JOIN aff ON nb.source = aff.source""".stripMargin,

    "q_line_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents
        | WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 1),
        |segs AS (
        | SELECT doc_id,
        |  unnest(list_transform(range((len(t)+7)//8),
        |    i -> array_to_string(t[i*8+1 : i*8+8], ' '))) AS seg,
        |  unnest(range((len(t)+7)//8)) AS pos
        | FROM toks),
        |f AS (SELECT md5(seg) AS h, MIN(doc_id*1000000+pos) AS fk
        |      FROM segs GROUP BY 1),
        |k AS (SELECT s.doc_id, s.pos, s.seg,
        |        (s.doc_id*1000000+s.pos = f.fk) AS keep
        |      FROM segs s JOIN f ON md5(s.seg) = f.h)
        |SELECT doc_id, COUNT(*) AS n_segments,
        | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE keep) AS text_dedup
        |FROM k GROUP BY doc_id""".stripMargin,

    // same signature CTE as q_dedup_minhash; candidates = any band
    // slice equal, verified at >= 16/32 lanes (threshold 0.5)
    "q_dedup_minhash_incr" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |   ELSE [] END AS shs FROM w),
        |sig AS (SELECT doc_id,
        |  list_transform(range(0, 32), i ->
        |    list_min(list_transform(shs, s ->
        |      substr(md5((i // 4)::VARCHAR || '|' || s), CAST((i % 4) * 8 + 1 AS INT), 8)))) AS sig
        | FROM sh WHERE len(shs) > 0),
        |pairs AS (SELECT i.doc_id id_in, s.doc_id id_store, i.sig sa, s.sig sb
        |  FROM (SELECT * FROM sig WHERE doc_id % 4 >= 2) i
        |  JOIN (SELECT * FROM sig WHERE doc_id % 4 < 2) s ON true)
        |SELECT id_in, id_store,
        | CAST(len(list_filter(list_zip(sa, sb), x -> x[1] = x[2])) AS DOUBLE) / 32 AS est_sim
        |FROM pairs
        |WHERE list_max(list_transform(range(0, 8), b ->
        |   CASE WHEN sa[b*4+1:b*4+4] = sb[b*4+1:b*4+4] THEN 1 ELSE 0 END)) = 1
        | AND len(list_filter(list_zip(sa, sb), x -> x[1] = x[2])) >= 16""".stripMargin,

    "q_dedup_incremental" ->
      """WITH store AS (
        | SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 < 2),
        |inc AS (
        | SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 >= 2),
        |fb AS (SELECT h, MIN(doc_id) AS first_id FROM inc GROUP BY h)
        |SELECT i.doc_id,
        | (s.h IS NOT NULL) AS dup_of_store,
        | (i.doc_id <> f.first_id) AS dup_in_batch,
        | (s.h IS NULL AND i.doc_id = f.first_id) AS admit
        |FROM inc i
        |LEFT JOIN store s ON i.h = s.h
        |JOIN fb f ON i.h = f.h""".stripMargin,

    // Bloom pre-filtering is result-transparent: same oracle as the
    // unfiltered probe.
    "q_dedup_bloom" ->
      """WITH store AS (
        | SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 4 < 2),
        |inc AS (
        | SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 4 >= 2),
        |fb AS (SELECT h, MIN(doc_id) AS first_id FROM inc GROUP BY h)
        |SELECT i.doc_id,
        | (s.h IS NOT NULL) AS dup_of_store,
        | (i.doc_id <> f.first_id) AS dup_in_batch,
        | (s.h IS NULL AND i.doc_id = f.first_id) AS admit
        |FROM inc i
        |LEFT JOIN store s ON i.h = s.h
        |JOIN fb f ON i.h = f.h""".stripMargin,

    // integer-only NB-shaped classifier: fixed-point posterior
    // weights, integer mean score, confusion table — every step
    // portable, so training AND application are value-verified
    "q_quality_classifier" ->
      """WITH base AS (
        | SELECT doc_id, (lang = 'en' AND n_chars >= 200) AS label,
        |  (doc_id % 2 = 0) AS train,
        |  regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents),
        |tok AS (
        | SELECT DISTINCT doc_id, label, train, tok
        | FROM (SELECT doc_id, label, train, unnest(t) AS tok FROM base)),
        |dfs AS (
        | SELECT tok, CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS dfl,
        |  CAST(COUNT(*) AS BIGINT) AS dfa
        | FROM tok WHERE train GROUP BY tok),
        |vocab AS (
        | SELECT tok, (1000000 * (dfl + 1)) // (dfa + 2) AS w
        | FROM dfs ORDER BY dfa DESC, tok ASC LIMIT 5000),
        |sc AS (
        | SELECT t.doc_id, t.label, COUNT(v.w) AS m,
        |  CAST(COALESCE(SUM(v.w), 0) AS BIGINT) AS sw
        | FROM tok t LEFT JOIN vocab v USING (tok) WHERE NOT t.train
        | GROUP BY t.doc_id, t.label),
        |s2 AS (
        | SELECT label, CASE WHEN m = 0 THEN 500000 ELSE sw // m END AS score
        | FROM sc)
        |SELECT (score > 500000) AS predicted, label AS actual,
        | CAST(COUNT(*) AS BIGINT) AS docs,
        | CAST(SUM(score) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avg_score
        |FROM s2 GROUP BY 1, 2""".stripMargin,

    // the q_quality_classifier CTE chain through the per-doc score,
    // bucketed instead of confusion-tabled
    "q_quality_calibration" ->
      """WITH base AS (
        | SELECT doc_id, (lang = 'en' AND n_chars >= 200) AS label,
        |  (doc_id % 2 = 0) AS train,
        |  regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents),
        |tok AS (
        | SELECT DISTINCT doc_id, label, train, tok
        | FROM (SELECT doc_id, label, train, unnest(t) AS tok FROM base)),
        |dfs AS (
        | SELECT tok, CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS dfl,
        |  CAST(COUNT(*) AS BIGINT) AS dfa
        | FROM tok WHERE train GROUP BY tok),
        |vocab AS (
        | SELECT tok, (1000000 * (dfl + 1)) // (dfa + 2) AS w
        | FROM dfs ORDER BY dfa DESC, tok ASC LIMIT 5000),
        |sc AS (
        | SELECT t.doc_id, t.label, COUNT(v.w) AS m,
        |  CAST(COALESCE(SUM(v.w), 0) AS BIGINT) AS sw
        | FROM tok t LEFT JOIN vocab v USING (tok) WHERE NOT t.train
        | GROUP BY t.doc_id, t.label),
        |s2 AS (
        | SELECT doc_id, label,
        |  CASE WHEN m = 0 THEN 500000 ELSE sw // m END AS score
        | FROM sc),
        |r AS (SELECT label, score,
        |  ROW_NUMBER() OVER (ORDER BY score ASC, doc_id ASC) AS rk FROM s2),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r)
        |SELECT ((rk - 1) * 10) // n.n AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS docs,
        | CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        | CAST(MIN(score) AS BIGINT) AS lo_score,
        | CAST(MAX(score) AS BIGINT) AS hi_score,
        | CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
        |  / CAST(COUNT(*) AS DOUBLE) AS positive_rate
        |FROM r CROSS JOIN n GROUP BY 1""".stripMargin,

    "q_dsir_weights" ->
      """WITH toks AS (
        | SELECT doc_id, (lang = 'en') AS tgt,
        |  regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents),
        |feats AS (
        | SELECT doc_id, tgt,
        |  ('0x' || substr(md5(w1 || ' ' || w2), 1, 8))::BIGINT % 4096 AS f
        | FROM (SELECT doc_id, tgt, unnest(t[1:len(t)-1]) AS w1,
        |         unnest(t[2:len(t)]) AS w2
        |       FROM toks WHERE len(t) >= 2)),
        |c AS (SELECT f,
        |        CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |        CAST(COUNT(*) AS BIGINT) AS na
        |      FROM feats GROUP BY f)
        |SELECT doc_id, COUNT(*) AS n_feats,
        | CAST(SUM(nt) + 1 AS BIGINT) AS target_mass,
        | CAST(SUM(na) + 2 AS BIGINT) AS total_mass,
        | CAST(SUM(nt) + 1 AS DOUBLE) / CAST(SUM(na) + 2 AS DOUBLE) AS weight
        |FROM feats JOIN c USING (f)
        |GROUP BY doc_id""".stripMargin,

    // parallel unnest zips the two shifted slices row-wise — the
    // DuckDB twin of explode(transform(sequence, struct(l, r)))
    "q_bpe_pairs" ->
      """WITH w AS (
        | SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        | FROM documents),
        |fw AS (SELECT word FROM w WHERE regexp_matches(word, '^[!-~]+$')),
        |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt FROM fw GROUP BY word),
        |s AS (SELECT wcnt, string_split(word, '') AS sy FROM wc),
        |p AS (SELECT wcnt, unnest(sy[1:len(sy)-1]) AS l, unnest(sy[2:len(sy)]) AS r
        |      FROM s WHERE len(sy) >= 2),
        |pc AS (SELECT l, r, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM p GROUP BY l, r)
        |SELECT l, r, cnt FROM pc ORDER BY cnt DESC, l, r LIMIT 100""".stripMargin,

    // identical division/abs expression trees; cross-row sums through
    // DECIMAL(28,8); absent-word mass folded analytically
    "q_corpus_churn" ->
      """WITH a AS (SELECT doc_id, source, md5(text) AS ha,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tka
        | FROM documents WHERE doc_id % 10 <> 9),
        |b0 AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 7 = 3 THEN text || ' churned edit' ELSE text END AS t
        | FROM documents WHERE doc_id % 10 <> 0),
        |b AS (SELECT doc_id, source, md5(t) AS hb,
        |  CAST(len(regexp_split_to_array(trim(t), '\s+')) AS BIGINT) AS tkb
        | FROM b0),
        |j AS (SELECT COALESCE(a.source, b.source) AS source,
        |  CASE WHEN a.ha IS NULL THEN 'added'
        |       WHEN b.hb IS NULL THEN 'removed'
        |       WHEN a.ha <> b.hb THEN 'modified'
        |       ELSE 'unchanged' END AS change,
        |  COALESCE(b.tkb, 0) - COALESCE(a.tka, 0) AS delta
        | FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT source, change, COUNT(*) AS n_docs,
        | CAST(SUM(delta) AS BIGINT) AS token_delta
        |FROM j GROUP BY source, change""".stripMargin,

    "q_freq_spectrum" ->
      """WITH tf AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS tf FROM tf GROUP BY term)
        |SELECT CASE WHEN tf <= 5 THEN tf
        |  WHEN tf <= 10 THEN 6 WHEN tf <= 100 THEN 7
        |  WHEN tf <= 1000 THEN 8 ELSE 9 END AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_terms,
        | CAST(SUM(tf) AS BIGINT) AS token_mass
        |FROM c GROUP BY 1""".stripMargin,

    "q_vocab_drift" ->
      """WITH w AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |sc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_s FROM w GROUP BY 1, 2),
        |g AS (SELECT w, CAST(SUM(c_s) AS BIGINT) AS c FROM sc GROUP BY 1),
        |ns AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s FROM sc GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
        |j AS (
        | SELECT sc.source, ns.n_s,
        |  abs(CAST(sc.c_s AS DOUBLE) / CAST(ns.n_s AS DOUBLE) -
        |      CAST(g.c AS DOUBLE) / CAST(n.n AS DOUBLE)) AS diff,
        |  CAST(g.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS pg
        | FROM sc JOIN g USING (w) JOIN ns USING (source) CROSS JOIN n),
        |a AS (
        | SELECT source, MAX(n_s) AS n_tokens,
        |  CAST(SUM(CAST(diff AS DECIMAL(28,8))) AS DOUBLE) AS sum_a,
        |  CAST(SUM(CAST(pg AS DECIMAL(28,8))) AS DOUBLE) AS sum_b
        | FROM j GROUP BY 1)
        |SELECT source, n_tokens, 0.5 * (sum_a + (1.0 - sum_b)) AS tv_distance
        |FROM a""".stripMargin,

    "q_vocab_stats" ->
      """WITH t AS (
        | SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        | FROM documents),
        |c AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY term),
        |head AS (
        | SELECT CAST(SUM(tf) AS BIGINT) AS head_tf
        | FROM (SELECT tf FROM c ORDER BY tf DESC, term ASC LIMIT 100))
        |SELECT COUNT(*) AS vocab_size,
        | CAST(SUM(c.tf) AS BIGINT) AS total_tokens,
        | CAST(SUM(CASE WHEN c.tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_terms,
        | head.head_tf AS head_tf,
        | CAST(head.head_tf AS DOUBLE) / CAST(SUM(c.tf) AS DOUBLE) AS head_share
        |FROM c, head
        |GROUP BY head.head_tf""".stripMargin,

    "q_cardinality_sketch" ->
      """WITH tok AS (
        | SELECT source,
        |  unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        | FROM documents),
        |h AS (
        | SELECT source,
        |  ('0x' || substr(md5(term), 1, 2))::BIGINT AS bucket,
        |  ('0x' || substr(md5(term), 3, 12))::BIGINT AS x
        | FROM tok),
        |pb AS (
        | SELECT source, bucket,
        |  MAX(CASE WHEN x = 0 THEN 49 ELSE 49 - length(bin(x)) END) AS mrho
        | FROM h GROUP BY 1, 2),
        |allb AS (
        | SELECT source, bucket, mrho FROM pb
        | UNION ALL
        | SELECT '__ALL__' AS source, bucket, MAX(mrho) AS mrho
        | FROM pb GROUP BY 2),
        |est AS (
        | SELECT source,
        |  CAST(SUM(1::BIGINT << (49 - mrho)) AS BIGINT)
        |   + (256 - COUNT(*)) * 562949953421312 AS denom,
        |  256 - COUNT(*) AS empty_buckets
        | FROM allb GROUP BY 1),
        |ex AS (
        | SELECT source, COUNT(DISTINCT term) AS n_exact FROM tok GROUP BY 1
        | UNION ALL
        | SELECT '__ALL__' AS source, COUNT(DISTINCT term) AS n_exact FROM tok)
        |SELECT e.source, ex.n_exact, e.empty_buckets,
        | (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE))
        |  * 65536.0::DOUBLE * 562949953421312.0::DOUBLE
        |  / CAST(e.denom AS DOUBLE) AS hll_est,
        | ABS((0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE))
        |   * 65536.0::DOUBLE * 562949953421312.0::DOUBLE
        |   / CAST(e.denom AS DOUBLE) - CAST(ex.n_exact AS DOUBLE))
        |  / CAST(ex.n_exact AS DOUBLE) AS rel_err
        |FROM est e JOIN ex ON e.source = ex.source""".stripMargin,

    "q_heavy_hitters" ->
      """WITH tok AS (
        | SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        | FROM documents),
        |l AS (SELECT term, unnest([0, 1, 2, 3]) AS lane FROM tok),
        |cells AS (
        | SELECT lane,
        |  ('0x' || substr(md5(lane::VARCHAR || ':' || term), 1, 8))::BIGINT
        |   % 1024 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        | FROM l GROUP BY 1, 2),
        |top AS (
        | SELECT term, CAST(COUNT(*) AS BIGINT) AS true_cnt
        | FROM tok GROUP BY 1
        | ORDER BY true_cnt DESC, term ASC LIMIT 20),
        |p AS (SELECT term, true_cnt, unnest([0, 1, 2, 3]) AS lane FROM top),
        |p2 AS (
        | SELECT term, true_cnt, lane,
        |  ('0x' || substr(md5(lane::VARCHAR || ':' || term), 1, 8))::BIGINT
        |   % 1024 AS bucket
        | FROM p)
        |SELECT p2.term, p2.true_cnt, MIN(cells.cnt) AS cm_est,
        | MIN(cells.cnt) - p2.true_cnt AS overestimate
        |FROM p2 JOIN cells USING (lane, bucket)
        |GROUP BY p2.term, p2.true_cnt""".stripMargin,

    "q_curation_funnel" ->
      """WITH dup AS (
        | SELECT md5(text) AS h, MIN(doc_id) AS keep_id
        | FROM documents GROUP BY 1),
        |f AS (
        | SELECT d.doc_id,
        |  len(regexp_split_to_array(trim(d.text), '\s+')) >= 20 AS len_ok,
        |  d.lang = 'en' AS lang_ok,
        |  d.n_chars BETWEEN 150 AND 10000 AS chars_ok,
        |  d.doc_id = dup.keep_id AS dedup_ok
        | FROM documents d JOIN dup ON md5(d.text) = dup.h)
        |SELECT COUNT(*) AS total,
        | CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS after_length,
        | CAST(SUM(CASE WHEN len_ok AND lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS after_lang,
        | CAST(SUM(CASE WHEN len_ok AND lang_ok AND chars_ok THEN 1 ELSE 0 END) AS BIGINT) AS after_chars,
        | CAST(SUM(CASE WHEN len_ok AND lang_ok AND chars_ok AND dedup_ok THEN 1 ELSE 0 END) AS BIGINT) AS kept
        |FROM f""".stripMargin,

    // the weight CTE repeats q_dsir_weights; cum sums stay integral
    // (window SUM(BIGINT) is HUGEINT in DuckDB — cast back), and //
    // on non-negative operands floors exactly like Spark's DIV
    "q_dsir_resample" ->
      """WITH toks AS (
        | SELECT doc_id, (lang = 'en') AS tgt,
        |  regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents),
        |feats AS (
        | SELECT doc_id, tgt,
        |  ('0x' || substr(md5(w1 || ' ' || w2), 1, 8))::BIGINT % 4096 AS f
        | FROM (SELECT doc_id, tgt, unnest(t[1:len(t)-1]) AS w1,
        |         unnest(t[2:len(t)]) AS w2
        |       FROM toks WHERE len(t) >= 2)),
        |c AS (SELECT f,
        |        CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |        CAST(COUNT(*) AS BIGINT) AS na
        |      FROM feats GROUP BY f),
        |w AS (SELECT doc_id,
        |        CAST(SUM(nt) + 1 AS DOUBLE) / CAST(SUM(na) + 2 AS DOUBLE) AS weight
        |      FROM feats JOIN c USING (f) GROUP BY doc_id),
        |q AS (SELECT doc_id, CAST(round(weight * 1000000) AS BIGINT) AS wq FROM w),
        |cu AS (SELECT doc_id, wq,
        |         CAST(SUM(wq) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM q),
        |t AS (SELECT CAST(SUM(wq) AS BIGINT) AS tot FROM q)
        |SELECT doc_id, wq,
        | ((200*cum + tot - 1) // (2*tot)) - ((200*(cum - wq) + tot - 1) // (2*tot)) AS copies
        |FROM cu, t
        |WHERE ((200*cum + tot - 1) // (2*tot)) - ((200*(cum - wq) + tot - 1) // (2*tot)) > 0""".stripMargin,

    "q_domain_stats" ->
      """WITH h AS (SELECT md5(text) AS ch, COUNT(*) AS n
        |           FROM documents GROUP BY 1)
        |SELECT source, COUNT(*) AS n_docs,
        | CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | CAST(SUM(CASE WHEN h.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
        | CAST(SUM(CASE WHEN h.n >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE) AS dup_share,
        | (CAST(SUM(CASE WHEN h.n >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE) <= 0.5 AND COUNT(*) >= 3) AS keep
        |FROM documents d JOIN h ON md5(d.text) = h.ch
        |GROUP BY source""".stripMargin,

    // the q_lm_bigram pipeline + integer-rank thirds (no fp
    // percentile boundary crosses engines)
    "q_ppl_buckets" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents),
        |big AS (
        | SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        | FROM toks WHERE len(t) >= 2),
        |bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        |uc AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
        |v AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vocab
        |      FROM (SELECT unnest(t) AS term FROM toks)),
        |scored AS (
        | SELECT b.doc_id,
        |  (CAST(c.c12 AS DOUBLE) + 1.0) / (CAST(u.c1 AS DOUBLE) + v.vocab) AS p
        | FROM big b
        | JOIN bc c ON b.w1 = c.w1 AND b.w2 = c.w2
        | JOIN uc u ON b.w1 = u.w1
        | CROSS JOIN v),
        |lm AS (
        | SELECT doc_id,
        |  CAST(SUM(CAST(p AS DECIMAL(28,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lm_score
        | FROM scored GROUP BY doc_id),
        |r AS (
        | SELECT doc_id, lm_score,
        |  ROW_NUMBER() OVER (ORDER BY lm_score DESC, doc_id) AS ppl_rank,
        |  COUNT(*) OVER () AS n
        | FROM lm)
        |SELECT doc_id, lm_score, CAST(ppl_rank AS BIGINT) AS ppl_rank,
        | CASE WHEN ppl_rank * 3 <= n THEN 'head'
        |  WHEN ppl_rank * 3 <= 2 * n THEN 'middle'
        |  ELSE 'tail' END AS ppl_bucket
        |FROM r""".stripMargin,

    // τ=1/2 (sqrt — IEEE-exact) temperature mixture; Σwᵗ through
    // DECIMAL(28,8) on both sides
    "q_domain_mixture" ->
      """WITH d AS (
        | SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens
        | FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS tot FROM d),
        |w AS (SELECT source, n_docs, total_tokens,
        |  CAST(total_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS token_share
        | FROM d, t),
        |w2 AS (SELECT *, sqrt(token_share) AS wt FROM w),
        |s AS (SELECT CAST(SUM(CAST(wt AS DECIMAL(28,8))) AS DOUBLE) AS sw FROM w2)
        |SELECT source, n_docs, total_tokens, token_share,
        | wt / sw AS mix_weight,
        | LEAST(4.0, (wt / sw) / token_share) AS epochs
        |FROM w2, s""".stripMargin,

    // the q_dedup_cc component CTE + per-cluster representative
    // (largest doc, smallest id) — integer-only comparisons
    "q_dedup_representative" ->
      (CcClosureSql + ",\n" +
      """m AS (SELECT c.component, c.id, d.n_chars
        |      FROM comp c JOIN documents d ON d.doc_id = c.id),
        |sel AS (SELECT component, id, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY component ORDER BY n_chars DESC, id ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY component) AS nm
        | FROM m)
        |SELECT component, CAST(nm AS BIGINT) AS n_members,
        | CAST(id AS BIGINT) AS rep_id, CAST(n_chars AS BIGINT) AS rep_chars
        |FROM sel WHERE rn = 1""".stripMargin),

    // the representative oracle's CC chain with the priority keep
    // rule: min (source rank, id) per component
    "q_dedup_priority" ->
      (CcClosureSql + ",\n" +
      """m AS (SELECT c.component, c.id,
        |       CAST(substr(d.source, 4, 8) AS BIGINT) AS prio
        |      FROM comp c JOIN documents d ON d.doc_id = c.id),
        |sel AS (SELECT component, id, prio,
        |  ROW_NUMBER() OVER (PARTITION BY component ORDER BY prio ASC, id ASC) AS rn,
        |  COUNT(*) OVER (PARTITION BY component) AS nm
        | FROM m)
        |SELECT component, CAST(nm AS BIGINT) AS n_members,
        | CAST(id AS BIGINT) AS keep_id, prio AS keep_prio
        |FROM sel WHERE rn = 1""".stripMargin),

    // within-label pairwise cosine to smaller-id members — the exact
    // left-fold kernel the q_dedup_embed oracle already pins
    "q_semdedup" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (SELECT b.vec_id AS vid,
        |  list_sum(list_transform(list_zip(a.e, b.e), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(a.e, x -> x * x))) *
        |   sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS sim
        | FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id),
        |m AS (SELECT vid, MAX(sim) AS max_prior_sim FROM p GROUP BY vid)
        |SELECT v.vec_id, v.label, m.max_prior_sim,
        | CASE WHEN m.max_prior_sim IS NULL OR m.max_prior_sim < 0.35
        |  THEN 'keep' ELSE 'drop' END AS verdict
        |FROM v LEFT JOIN m ON m.vid = v.vec_id""".stripMargin,

    "q_bm25" ->
      ("WITH " + Bm25Top20Body + "\n" +
        "SELECT doc_id, n_terms, score FROM bm"),

    // same hits/dft/dl/stats CTEs as the flagship, grid cross join,
    // per-point window — score tree written identically to the
    // Spark side (k1 = k1_pct/100.0 both engines)
    "q_bm25_sweep" ->
      ("WITH " + Bm25AggCtes + ",\n" +
      """grid AS (SELECT k1_pct, b_pct
        | FROM (SELECT unnest([60, 120, 200]) AS k1_pct),
        |      (SELECT unnest([0, 50, 75, 100]) AS b_pct)),
        |scored AS (SELECT g.k1_pct, g.b_pct, h.doc_id,
        | CAST(SUM(CAST(
        |  (((s.n - d.dft) + 0.5) / (d.dft + 0.5)) *
        |   (h.tf * ((CAST(g.k1_pct AS DOUBLE) / 100.0) + 1.0)) /
        |   (h.tf + (CAST(g.k1_pct AS DOUBLE) / 100.0) *
        |    ((1.0 - (CAST(g.b_pct AS DOUBLE) / 100.0)) +
        |     (CAST(g.b_pct AS DOUBLE) / 100.0) * (CAST(l.dl AS DOUBLE) / s.avgdl)))
        |  AS DECIMAL(28,8))) AS DOUBLE) AS score
        | FROM hits h
        | JOIN dft d USING (term)
        | JOIN dl l USING (doc_id)
        | CROSS JOIN stats s
        | CROSS JOIN grid g
        | GROUP BY g.k1_pct, g.b_pct, h.doc_id),
        |ranked AS (SELECT k1_pct, b_pct, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY k1_pct, b_pct
        |    ORDER BY score DESC, doc_id ASC) AS rk
        | FROM scored),
        |top AS (SELECT * FROM ranked WHERE rk <= 20),
        |dflt AS (SELECT doc_id AS d FROM top WHERE k1_pct = 120 AND b_pct = 75)
        |SELECT t.k1_pct, t.b_pct,
        | CAST(SUM(CASE WHEN dflt.d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS top20_overlap,
        | MAX(CASE WHEN t.rk = 1 THEN t.doc_id END) AS top1
        |FROM top t LEFT JOIN dflt ON t.doc_id = dflt.d
        |GROUP BY t.k1_pct, t.b_pct""".stripMargin),

    // hybrid retrieval: the lexical leg is the SHARED q_bm25 chain,
    // the semantic leg the same cosine fold as the ANN family; ranks
    // via ROW_NUMBER over the already-limited legs; RRF division
    // trees written identically to the Spark side
    "q_rank_fusion" ->
      ("WITH " + Bm25Top20Body + ",\n" +
        """lex AS (SELECT doc_id, ROW_NUMBER() OVER
          |   (ORDER BY score DESC, doc_id ASC) AS rank_lex FROM bm),
          |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          |qv AS (SELECT e AS qe FROM v WHERE vec_id = 0),
          |sims AS (SELECT c.vec_id AS nid,
          |  list_sum(list_transform(list_zip(qv.qe, c.e), x -> x[1] * x[2])) /
          |   (sqrt(list_sum(list_transform(qv.qe, x -> x * x))) *
          |    sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS sim
          | FROM v c, qv WHERE c.vec_id <> 0),
          |sem AS (SELECT nid, rank_sem FROM (
          |  SELECT nid, ROW_NUMBER() OVER (ORDER BY sim DESC, nid ASC) AS rank_sem
          |  FROM sims) WHERE rank_sem <= 20)
          |SELECT COALESCE(l.doc_id, s.nid) AS doc_id, l.rank_lex, s.rank_sem,
          | COALESCE(1.0 / (60 + l.rank_lex), 0) +
          | COALESCE(1.0 / (60 + s.rank_sem), 0) AS rrf
          |FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.nid""".stripMargin),

    "q_doc_rollhash" ->
      ("WITH " + MirrorDocsSql + "\n" +
        """SELECT rh, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
          |FROM (SELECT doc_id,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(string_split_regex(text, ''), c -> CAST(ascii(c) AS BIGINT))),
          |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rh
          | FROM documents_m)
          |GROUP BY rh HAVING COUNT(*) >= 2""".stripMargin),

    "q_doc_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fingerprint,
        | COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        |FROM documents
        |GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,

    "q_frame_sample" ->
      """SELECT doc_id, CAST(n_chars % 240 + 1 AS INTEGER) AS n_frames,
        | CAST(unnest(range(0, n_chars % 240 + 1, 30)) AS INTEGER) AS frame_idx
        |FROM documents WHERE doc_id < 50""".stripMargin,

    // one explode CTE, grid cross join, decimal-routed error sums —
    // the Spark plan's twin (L carried as an integer column; no pow)
    "q_quantize_sweep" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s0 AS (SELECT GREATEST(list_max(e), -list_min(e)) AS scale, e FROM v),
        |s AS (SELECT scale, unnest(e) AS x FROM s0 WHERE scale > 0),
        |grid AS (SELECT * FROM (VALUES (2, 1), (4, 7), (6, 31), (8, 127))
        |         g(bits, levels)),
        |d AS (SELECT g.bits,
        |  round(s.x / s.scale * CAST(g.levels AS DOUBLE)) * s.scale /
        |    CAST(g.levels AS DOUBLE) - s.x AS d
        | FROM s CROSS JOIN grid g),
        |agg AS (SELECT bits, CAST(COUNT(*) AS BIGINT) AS n_values,
        |  CAST(SUM(CAST(d * d AS DECIMAL(28,8))) AS DOUBLE) AS sse
        | FROM d GROUP BY bits)
        |SELECT bits, n_values, sse,
        | sse / CAST(n_values AS DOUBLE) AS mse
        |FROM agg""".stripMargin,

    "q_embed_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |  GREATEST(list_max(e), -list_min(e)) AS scale FROM v)
        |SELECT vec_id, scale,
        | CAST(round(e[1] / scale * 127) AS INTEGER) AS q0,
        | CAST(round(e[2] / scale * 127) AS INTEGER) AS q1,
        | CAST(round(e[3] / scale * 127) AS INTEGER) AS q2,
        | CAST(round(e[4] / scale * 127) AS INTEGER) AS q3
        |FROM s""".stripMargin,

    "q_media_resize" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
        |  CAST(octet_length(encode(text)) * 7 % 480 AS INTEGER) AS height
        | FROM documents)
        |SELECT doc_id, width, height,
        | CASE WHEN height = 0 OR width = 0 THEN 0
        |  WHEN width * 240 <= height * 320
        |   THEN CAST(FLOOR(width * LEAST(height, 240) / height) AS INTEGER)
        |  ELSE LEAST(width, 320) END AS out_w,
        | CASE WHEN height = 0 OR width = 0 THEN 0
        |  WHEN width * 240 <= height * 320 THEN LEAST(height, 240)
        |  ELSE CAST(FLOOR(height * LEAST(width, 320) / width) AS INTEGER) END AS out_h
        |FROM m""".stripMargin,

    "q_media_tile" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
        |  CAST(octet_length(encode(text)) * 7 % 480 AS INTEGER) AS height
        | FROM documents WHERE doc_id < 200),
        |tx AS (SELECT doc_id, width, height,
        |  CAST(unnest(range(0, GREATEST(CAST(CEIL(width / 128.0) AS INT), 1))) AS INTEGER) AS tile_x
        | FROM m),
        |txy AS (SELECT doc_id, width, height, tile_x,
        |  CAST(unnest(range(0, GREATEST(CAST(CEIL(height / 128.0) AS INT), 1))) AS INTEGER) AS tile_y
        | FROM tx)
        |SELECT doc_id, tile_x, tile_y,
        | tile_x * 128 AS tx, tile_y * 128 AS ty,
        | CAST(LEAST(128, width - tile_x * 128) AS INTEGER) AS tw,
        | CAST(LEAST(128, height - tile_y * 128) AS INTEGER) AS th
        |FROM txy
        |WHERE LEAST(128, width - tile_x * 128) > 0
        | AND LEAST(128, height - tile_y * 128) > 0""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        | CASE WHEN regexp_matches(source, '[02468]$') THEN 'image' ELSE 'audio' END AS modality,
        | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        | CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
        | CAST(octet_length(encode(text)) * 7 % 480 AS INTEGER) AS height
        |FROM documents""".stripMargin,

    // integer window arithmetic + DuckDB's inclusive 1-based list
    // slice as the twin of Spark's slice(arr, start, len)
    "q_doc_chunk" ->
      """WITH t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        | FROM documents),
        |c AS (SELECT doc_id, tk, len(tk) AS n,
        |  CASE WHEN len(tk) > 32 THEN (len(tk) - 32 + 23) // 24 ELSE 0 END AS extra
        | FROM t WHERE len(tk) >= 1),
        |u AS (SELECT doc_id, tk, n, unnest(range(0, extra + 1)) AS ci FROM c)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
        | CAST(ci * 24 AS BIGINT) AS start_tok,
        | CAST(LEAST(32, n - ci * 24) AS BIGINT) AS n_tok,
        | array_to_string(tk[ci * 24 + 1 : ci * 24 + LEAST(32, n - ci * 24)], ' ') AS chunk_text
        |FROM u""".stripMargin,

    // the same magic prefixes prepended by doc_id band, sniffed back
    // from hex of the blob head (engine-exact byte compares)
    "q_mime_sniff" ->
      """WITH b AS (
        | SELECT doc_id,
        |  (CASE doc_id % 4
        |    WHEN 0 THEN unhex('89504E470D0A1A0A')
        |    WHEN 1 THEN unhex('FFD8FFE0')
        |    WHEN 2 THEN unhex('474946383961')
        |    ELSE ''::BLOB END) || encode(text) AS blob
        | FROM documents),
        |s AS (SELECT doc_id, blob, left(upper(hex(blob)), 24) AS h FROM b)
        |SELECT
        | CASE WHEN h LIKE '89504E470D0A1A0A%' THEN 'image/png'
        |  WHEN h LIKE 'FFD8FF%' THEN 'image/jpeg'
        |  WHEN h LIKE '474946383761%' OR h LIKE '474946383961%' THEN 'image/gif'
        |  WHEN h LIKE '52494646%' AND substr(h, 17, 8) = '57454250' THEN 'image/webp'
        |  WHEN h LIKE '52494646%' THEN 'audio/wav'
        |  WHEN substr(h, 9, 8) = '66747970' THEN 'video/mp4'
        |  WHEN h LIKE '1A45DFA3%' THEN 'video/webm'
        |  WHEN h LIKE '494433%' THEN 'audio/mpeg'
        |  ELSE 'application/octet-stream' END AS mime,
        | COUNT(*) AS n_blobs,
        | CAST(SUM(octet_length(blob)) AS BIGINT) AS total_bytes
        |FROM s GROUP BY 1""".stripMargin,

    "q_content_type" ->
      """WITH s AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'code'
        |       WHEN doc_id % 5 = 1 THEN 'table' ELSE 'prose' END AS planted,
        |  CASE WHEN doc_id % 5 = 0 THEN repeat(
        |    'def f' || (doc_id % 7) || '(x) { return x * ' || (doc_id % 9) ||
        |    '; } if (x < y) { z[i] = 3; } ', 10)
        |  WHEN doc_id % 5 = 1 THEN repeat(
        |    'row ' || (doc_id % 90) || ' | ' || (doc_id % 77) || ' | ' ||
        |    (doc_id % 55) || ' ', 10)
        |  ELSE text END AS synth
        | FROM documents),
        |m AS (SELECT doc_id, planted, synth, len(synth) AS chars,
        |  len(synth) - len(regexp_replace(synth, '[;{}()=<>\[\]]', '', 'g')) AS code_syms,
        |  len(synth) - len(regexp_replace(synth, '[0-9]', '', 'g')) AS digits
        | FROM s),
        |d AS (SELECT planted, synth,
        |  CASE WHEN chars = 0 THEN 'prose'
        |       WHEN code_syms * 1000 >= chars * 50 THEN 'code'
        |       WHEN digits * 1000 >= chars * 150 THEN 'table'
        |       ELSE 'prose' END AS detected
        | FROM m)
        |SELECT planted, detected, COUNT(*) AS n_docs,
        | CAST(SUM(len(regexp_split_to_array(trim(synth), '\s+'))) AS BIGINT) AS n_tokens
        |FROM d GROUP BY planted, detected""".stripMargin,

    "q_gopher_rules" ->
      (GopherRulesCte + "\n" +
        """SELECT source, COUNT(*) AS n_docs,
          | CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_sym AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
          | CAST(SUM(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS v_word_count,
          | CAST(SUM(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS v_mean_len,
          | CAST(SUM(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT) AS v_symbol,
          | CAST(SUM(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS v_alpha,
          | CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS v_stop
          |FROM r GROUP BY source""".stripMargin),

    "q_tfidf_topk" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
        |f AS (SELECT doc_id, term, COUNT(*) AS tf FROM w
        |      WHERE regexp_matches(term, '^[a-z]+$')
        |        AND term NOT IN ('the','a','of','and','to','in','is','on')
        |      GROUP BY 1, 2),
        |d AS (SELECT term, COUNT(*) AS df FROM f GROUP BY 1)
        |SELECT doc_id, rnk, term, tf, df FROM (
        |  SELECT f.doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY f.doc_id
        |    ORDER BY f.tf DESC, d.df ASC, f.term ASC) AS INT) AS rnk,
        |   f.term, f.tf, d.df
        |  FROM f JOIN d USING (term))
        |WHERE rnk <= 3""".stripMargin,

    "q_collocations" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |uni AS (SELECT unnest(ws) AS tok FROM w),
        |u AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_total FROM uni),
        |bg AS (SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS b
        |       FROM w WHERE len(ws) >= 2),
        |p AS (SELECT string_split(b, ' ')[1] AS x, string_split(b, ' ')[2] AS y,
        |       COUNT(*) AS c_xy FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT p.x, p.y, p.c_xy, ux.c AS c_x, uy.c AS c_y,
        | CAST(p.c_xy AS DOUBLE) * n.n_total / ux.c / uy.c AS pmi_lift
        |FROM p CROSS JOIN n
        | JOIN u ux ON p.x = ux.tok
        | JOIN u uy ON p.y = uy.tok
        |ORDER BY pmi_lift DESC, x, y LIMIT 25""".stripMargin,

    "q_winnowing" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |f AS (SELECT doc_id, ws, len(ws) - 3 AS n_grams FROM t WHERE len(ws) >= 7),
        |g AS (SELECT doc_id, n_grams,
        |   unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
        |     for i in range(1, len(ws) - 2)]) AS gram,
        |   unnest(range(1, len(ws) - 2)) AS pos
        |  FROM f),
        |h AS (SELECT doc_id, n_grams, pos,
        |   ('0x' || substr(md5(gram), 1, 8))::BIGINT AS hh FROM g),
        |w AS (SELECT doc_id, n_grams, pos,
        |   MIN(hh * 2097152 + (2097151 - pos)) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM h),
        |sel AS (SELECT DISTINCT doc_id, n_grams, wmin // 2097152 AS h_sel
        |  FROM w WHERE pos <= n_grams - 3)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, COUNT(*) AS n_fp,
        | md5(array_to_string(list_sort(list(h_sel)), ',')) AS fp_md5
        |FROM sel GROUP BY 1, 2""".stripMargin,

    "q_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |f AS (SELECT doc_id, ws, len(ws) - 3 AS n_grams FROM t WHERE len(ws) >= 7),
        |g AS (SELECT doc_id, n_grams,
        |   unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
        |     for i in range(1, len(ws) - 2)]) AS gram,
        |   unnest(range(1, len(ws) - 2)) AS pos
        |  FROM f),
        |h AS (SELECT doc_id, n_grams, pos,
        |   ('0x' || substr(md5(gram), 1, 8))::BIGINT AS hh FROM g),
        |w AS (SELECT doc_id, n_grams, pos,
        |   MIN(hh * 2097152 + (2097151 - pos)) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM h),
        |sel AS (SELECT DISTINCT doc_id, wmin // 2097152 AS h_sel
        |  FROM w WHERE pos <= n_grams - 3),
        |rare AS (SELECT h_sel FROM sel GROUP BY 1 HAVING COUNT(*) <= 50),
        |capped AS (SELECT doc_id, h_sel FROM sel JOIN rare USING (h_sel))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM capped a JOIN capped b ON a.h_sel = b.h_sel AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,

    "q_lang_trigram" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents WHERE length(text) >= 3),
        |tr AS (SELECT doc_id, lang,
        |   unnest([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS tri
        |  FROM d),
        |lc AS (SELECT lang, tri, COUNT(*) AS n FROM tr WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |lp AS (SELECT lang, tri, rk AS rk_lang FROM (
        |   SELECT lang, tri, row_number() OVER (PARTITION BY lang ORDER BY n DESC, tri) AS rk
        |   FROM lc) WHERE rk <= 200),
        |dc AS (SELECT doc_id, tri, COUNT(*) AS n FROM tr WHERE doc_id % 5 = 0 GROUP BY 1, 2),
        |dp AS (SELECT doc_id, tri, rk AS rk_doc FROM (
        |   SELECT doc_id, tri, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tri) AS rk
        |   FROM dc) WHERE rk <= 200),
        |ps AS (SELECT doc_id, COUNT(*) AS p FROM dp GROUP BY 1),
        |langs AS (SELECT DISTINCT lang AS cand FROM lp),
        |m AS (SELECT dp.doc_id, lp.lang AS cand,
        |   SUM(ABS(dp.rk_doc - lp.rk_lang)) AS ms, COUNT(*) AS mc
        |  FROM dp JOIN lp ON dp.tri = lp.tri GROUP BY 1, 2),
        |sc AS (SELECT ps.doc_id, langs.cand,
        |   COALESCE(ms, 0) + (p - COALESCE(mc, 0)) * 200 AS dist
        |  FROM ps CROSS JOIN langs
        |  LEFT JOIN m ON m.doc_id = ps.doc_id AND m.cand = langs.cand),
        |pr AS (SELECT doc_id, cand FROM (
        |   SELECT doc_id, cand, row_number() OVER (PARTITION BY doc_id ORDER BY dist, cand) AS rn
        |   FROM sc) WHERE rn = 1)
        |SELECT d.lang, pr.cand AS predicted, COUNT(*) AS n_docs
        |FROM d JOIN pr ON d.doc_id = pr.doc_id
        |WHERE d.doc_id % 5 = 0
        |GROUP BY 1, 2""".stripMargin,

    "q_langid_sweep" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents WHERE length(text) >= 3),
        |tr AS (SELECT doc_id, lang,
        |   unnest([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS tri
        |  FROM d),
        |lc AS (SELECT lang, tri, COUNT(*) AS n FROM tr WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |lp AS (SELECT lang, tri, rk AS rk_lang FROM (
        |   SELECT lang, tri, row_number() OVER (PARTITION BY lang ORDER BY n DESC, tri) AS rk
        |   FROM lc) WHERE rk <= 200),
        |dc AS (SELECT doc_id, tri, COUNT(*) AS n FROM tr WHERE doc_id % 5 = 0 GROUP BY 1, 2),
        |dp AS (SELECT doc_id, tri, rk AS rk_doc FROM (
        |   SELECT doc_id, tri, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tri) AS rk
        |   FROM dc) WHERE rk <= 200),
        |legs AS (SELECT unnest([25, 50, 100, 200]) AS budget_r),
        |m AS (SELECT dp.doc_id, lp.lang AS cand, budget_r,
        |   SUM(ABS(dp.rk_doc - lp.rk_lang)) AS ms, COUNT(*) AS mc
        |  FROM dp JOIN lp ON dp.tri = lp.tri CROSS JOIN legs
        |  WHERE dp.rk_doc <= budget_r AND lp.rk_lang <= budget_r
        |  GROUP BY 1, 2, 3),
        |ps AS (SELECT doc_id, budget_r, COUNT(*) AS p
        |  FROM dp CROSS JOIN legs WHERE rk_doc <= budget_r GROUP BY 1, 2),
        |langs AS (SELECT DISTINCT lang AS cand FROM lp),
        |sc AS (SELECT ps.doc_id, langs.cand, ps.budget_r,
        |   COALESCE(ms, 0) + (p - COALESCE(mc, 0)) * ps.budget_r AS dist
        |  FROM ps CROSS JOIN langs
        |  LEFT JOIN m ON m.doc_id = ps.doc_id AND m.cand = langs.cand
        |   AND m.budget_r = ps.budget_r),
        |pr AS (SELECT doc_id, budget_r, cand FROM (
        |   SELECT doc_id, budget_r, cand,
        |    row_number() OVER (PARTITION BY doc_id, budget_r ORDER BY dist, cand) AS rn
        |   FROM sc) WHERE rn = 1)
        |SELECT pr.budget_r, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN d.lang = pr.cand THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |FROM d JOIN pr ON d.doc_id = pr.doc_id
        |WHERE d.doc_id % 5 = 0
        |GROUP BY 1""".stripMargin,

    "q_langid_prefix" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents WHERE length(text) >= 3),
        |tr AS (SELECT doc_id, lang,
        |   unnest(range(1, length(text) - 1)) AS pos,
        |   unnest([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS tri
        |  FROM d),
        |lc AS (SELECT lang, tri, COUNT(*) AS n FROM tr WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |lp AS (SELECT lang, tri, rk AS rk_lang FROM (
        |   SELECT lang, tri, row_number() OVER (PARTITION BY lang ORDER BY n DESC, tri) AS rk
        |   FROM lc) WHERE rk <= 200),
        |legs AS (SELECT unnest([100, 200, 400, 100000]) AS prefix_chars),
        |dc AS (SELECT doc_id, prefix_chars, tri, COUNT(*) AS n
        |  FROM tr CROSS JOIN legs
        |  WHERE doc_id % 5 = 0 AND pos <= prefix_chars - 2
        |  GROUP BY 1, 2, 3),
        |dp AS (SELECT doc_id, prefix_chars, tri, rk AS rk_doc FROM (
        |   SELECT doc_id, prefix_chars, tri,
        |    row_number() OVER (PARTITION BY doc_id, prefix_chars ORDER BY n DESC, tri) AS rk
        |   FROM dc) WHERE rk <= 200),
        |ps AS (SELECT doc_id, prefix_chars, COUNT(*) AS p FROM dp GROUP BY 1, 2),
        |langs AS (SELECT DISTINCT lang AS cand FROM lp),
        |m AS (SELECT dp.doc_id, dp.prefix_chars, lp.lang AS cand,
        |   SUM(ABS(dp.rk_doc - lp.rk_lang)) AS ms, COUNT(*) AS mc
        |  FROM dp JOIN lp ON dp.tri = lp.tri GROUP BY 1, 2, 3),
        |sc AS (SELECT ps.doc_id, langs.cand, ps.prefix_chars,
        |   COALESCE(ms, 0) + (p - COALESCE(mc, 0)) * 200 AS dist
        |  FROM ps CROSS JOIN langs
        |  LEFT JOIN m ON m.doc_id = ps.doc_id AND m.cand = langs.cand
        |   AND m.prefix_chars = ps.prefix_chars),
        |pr AS (SELECT doc_id, prefix_chars, cand FROM (
        |   SELECT doc_id, prefix_chars, cand,
        |    row_number() OVER (PARTITION BY doc_id, prefix_chars ORDER BY dist, cand) AS rn
        |   FROM sc) WHERE rn = 1)
        |SELECT pr.prefix_chars, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN d.lang = pr.cand THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |FROM d JOIN pr ON d.doc_id = pr.doc_id
        |WHERE d.doc_id % 5 = 0
        |GROUP BY 1""".stripMargin,

    "q_dedup_substring_exact" ->
      (ExactSubstrCte + "\n" + ExactSubstrSpansSql),

    "q_dup_span_hist" ->
      (ExactSubstrCte + "\n" +
        """,sb AS (SELECT CASE WHEN span_len < 25 THEN '15-24'
          |    WHEN span_len < 50 THEN '25-49'
          |    WHEN span_len < 100 THEN '50-99' ELSE '100+' END AS bucket, *
          |  FROM spans),
          |b1 AS (SELECT bucket, COUNT(*) AS n_spans,
          |   CAST(SUM(span_len) AS BIGINT) AS pair_token_mass FROM sb GROUP BY 1),
          |b2 AS (SELECT bucket, COUNT(DISTINCT d) AS n_docs FROM
          |   (SELECT bucket, unnest([doc_a, doc_b]) AS d FROM sb) GROUP BY 1)
          |SELECT bucket, n_spans, pair_token_mass, n_docs
          |FROM b1 JOIN b2 USING (bucket)""".stripMargin),

    "q_quality_marginal" ->
      (GopherRulesCte + "\n" +
        """SELECT COUNT(*) AS n_docs,
          | CAST(SUM(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_wc,
          | CAST(SUM(CASE WHEN NOT r_wc AND r_mwl AND r_sym AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS only_wc,
          | CAST(SUM(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mwl,
          | CAST(SUM(CASE WHEN NOT r_mwl AND r_wc AND r_sym AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS only_mwl,
          | CAST(SUM(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT) AS fail_sym,
          | CAST(SUM(CASE WHEN NOT r_sym AND r_wc AND r_mwl AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS only_sym,
          | CAST(SUM(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
          | CAST(SUM(CASE WHEN NOT r_alpha AND r_wc AND r_mwl AND r_sym AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS only_alpha,
          | CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
          | CAST(SUM(CASE WHEN NOT r_stop AND r_wc AND r_mwl AND r_sym AND r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS only_stop,
          | CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_sym AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
          |FROM r""".stripMargin),

    "q_dedup_span_cut" ->
      (ExactSubstrCte + "\n" +
        """,cut AS (SELECT DISTINCT doc_id, pos FROM
          |   (SELECT doc_b AS doc_id,
          |      unnest(range(start_b, start_b + span_len)) AS pos FROM spans)),
          |tokp AS (SELECT doc_id, unnest(ws) AS w,
          |   unnest(range(1, len(ws) + 1)) AS pos FROM xs_t),
          |cd AS (SELECT DISTINCT doc_id FROM cut),
          |mine AS (SELECT tokp.* FROM tokp JOIN cd USING (doc_id)),
          |kept AS (SELECT mine.doc_id, mine.w, mine.pos FROM mine
          |  WHERE NOT EXISTS (SELECT 1 FROM cut c
          |    WHERE c.doc_id = mine.doc_id AND c.pos = mine.pos)),
          |bef AS (SELECT doc_id, COUNT(*) AS n_before FROM mine GROUP BY 1),
          |aft AS (SELECT doc_id, COUNT(*) AS n_after,
          |   md5(string_agg(w, ' ' ORDER BY pos)) AS kept_md5 FROM kept GROUP BY 1)
          |SELECT bef.doc_id, bef.n_before,
          |  COALESCE(aft.n_after, 0) AS n_after,
          |  COALESCE(aft.kept_md5, md5('')) AS kept_md5
          |FROM bef LEFT JOIN aft USING (doc_id)""".stripMargin),

    "q_contam_severity" ->
      """WITH w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id, source, unnest(
        |  CASE WHEN len(ws) >= 5
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
        |     for i in range(1, len(ws) - 3)])
        |   ELSE [] END) AS s5 FROM w),
        |ev AS (SELECT DISTINCT s5 FROM sh WHERE doc_id < 25),
        |per AS (SELECT sh.doc_id, sh.source, COUNT(*) AS n_grams,
        |   CAST(SUM(CASE WHEN ev.s5 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM sh LEFT JOIN ev ON sh.s5 = ev.s5
        |  WHERE sh.doc_id >= 25 GROUP BY 1, 2)
        |SELECT source, (n_hit * 10) // n_grams AS decile, COUNT(*) AS n_docs
        |FROM per WHERE n_hit > 0 GROUP BY 1, 2""".stripMargin,

    "q_vocab_oov" ->
      """WITH terms AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
        |c AS (SELECT term, COUNT(*) AS tf FROM terms GROUP BY 1),
        |r AS (SELECT term, tf, row_number() OVER (ORDER BY tf DESC, term) AS rk FROM c),
        |b AS (SELECT unnest([256, 1024, 4096, 16384]) AS budget)
        |SELECT CAST(budget AS BIGINT) AS budget,
        | CAST(SUM(CASE WHEN rk > budget THEN tf ELSE 0 END) AS BIGINT) AS oov_tokens,
        | CAST(SUM(CASE WHEN rk > budget THEN 1 ELSE 0 END) AS BIGINT) AS oov_types,
        | CAST(SUM(tf) AS BIGINT) AS total_tokens,
        | CAST(SUM(CASE WHEN rk > budget THEN tf ELSE 0 END) AS DOUBLE) /
        |   CAST(SUM(tf) AS DOUBLE) AS oov_rate
        |FROM r, b GROUP BY 1""".stripMargin,

    "q_token_diversity" ->
      """WITH tok AS (SELECT doc_id, source,
        |   unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
        |wc AS (SELECT doc_id, source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3),
        |per AS (SELECT doc_id, source, CAST(SUM(c * c) AS BIGINT) AS sum_c2,
        |   CAST(SUM(c) AS BIGINT) AS n FROM wc GROUP BY 1, 2)
        |SELECT source, ((n * n - sum_c2) * 10) // (n * n) AS decile,
        |  COUNT(*) AS n_docs
        |FROM per GROUP BY 1, 2""".stripMargin,

    "q_embed_outliers" ->
      """WITH ex AS (SELECT vec_id, label, u[2] - 1 AS pos, CAST(u[1] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, label,
        |    unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS u FROM embeddings)),
        |cen AS (SELECT label, pos,
        |  CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS centroid
        | FROM ex GROUP BY 1, 2),
        |d AS (SELECT vec_id, ex.label,
        |  CAST(SUM(CAST((x - centroid) * (x - centroid) AS DECIMAL(28,8))) AS DOUBLE) AS dist2
        | FROM ex JOIN cen ON ex.label = cen.label AND ex.pos = cen.pos
        | GROUP BY 1, 2),
        |m AS (SELECT label, CAST(SUM(CAST(dist2 AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS mean_dist2
        | FROM d GROUP BY 1)
        |SELECT d.vec_id, d.label, d.dist2, d.dist2 > m.mean_dist2 * 2.25 AS is_outlier
        |FROM d JOIN m ON d.label = m.label""".stripMargin,

    "q_url_filter" ->
      """WITH u AS (SELECT doc_id,
        |  source || '-' || (doc_id % 7) || '.example.com' AS host,
        |  'http://' || source || '-' || (doc_id % 7) || '.example.com/p' || (doc_id % 50) AS url
        | FROM documents),
        |f AS (SELECT doc_id, host, url,
        |  host IN ('src0-0.example.com','src7-3.example.com','src12-5.example.com') AS blocked
        | FROM u)
        |SELECT doc_id, host, blocked,
        | (NOT blocked) AND doc_id = MIN(CASE WHEN NOT blocked THEN doc_id END)
        |   OVER (PARTITION BY url) AS keep
        |FROM f""".stripMargin,

    "q_url_canon" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |  source || '-' || (doc_id % 7) || '.Example.COM' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':80' WHEN doc_id % 5 = 1 THEN ':443'
        |        WHEN doc_id % 5 = 2 THEN ':8080' ELSE '' END) ||
        |  '/p' || (doc_id % 7) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) || '?' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN 'b=' || (doc_id % 2) || '&a=' || (doc_id % 3)
        |        ELSE 'a=' || (doc_id % 3) || '&utm_source=feed&b=' || (doc_id % 2) END) ||
        |  (CASE WHEN doc_id % 3 = 1 THEN '#s' || (doc_id % 6) ELSE '' END) AS url_raw
        | FROM documents),
        |u2 AS (SELECT doc_id, url_raw,
        |  regexp_replace(url_raw, '#.*', '') AS nofrag FROM u),
        |p AS (SELECT doc_id, url_raw,
        |  lower(regexp_extract(nofrag, '^([^:]+)://', 1)) AS scheme,
        |  regexp_extract(nofrag, '^[^:]+://([^/?#]+)', 1) AS hostport,
        |  regexp_extract(nofrag, '^[^:]+://[^/?#]+([^?#]*)', 1) AS path0,
        |  regexp_extract(nofrag, '\?([^#]*)', 1) AS q
        | FROM u2),
        |c AS (SELECT doc_id, url_raw, scheme,
        |  regexp_replace(lower(regexp_extract(hostport, '^([^:]+)', 1)), '^www\.', '') AS host,
        |  regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |  CASE WHEN path0 LIKE '%/' AND len(path0) > 1
        |       THEN substr(path0, 1, len(path0) - 1) ELSE path0 END AS path,
        |  array_to_string(list_sort(list_filter(string_split(q, '&'),
        |    x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS qc
        | FROM p),
        |f AS (SELECT doc_id, url_raw, host,
        |  scheme || '://' || host ||
        |  (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |        OR (scheme = 'https' AND port = '443') THEN '' ELSE ':' || port END) ||
        |  path || (CASE WHEN qc <> '' THEN '?' || qc ELSE '' END) AS url_canon
        | FROM c)
        |SELECT doc_id, url_raw, url_canon, host,
        | doc_id = MIN(doc_id) OVER (PARTITION BY url_canon) AS keep
        |FROM f""".stripMargin,

    // integer-exponent powers as explicit left-assoc product chains —
    // IEEE mult/sub is bit-identical across engines when the
    // expression TREE is identical, which pow()/libm is not
    "q_lsh_tune" -> {
      def mulChain(e: String, n: Int): String =
        (2 to n).foldLeft(e)((acc, _) => s"($acc * $e)")
      def p(b: Int, r: Int): String =
        s"1.0 - ${mulChain(s"(1.0 - ${mulChain("sv", r)})", b)}"
      s"""WITH g AS (SELECT CAST(i AS INT) AS s_num FROM range(1, 20) t(i)),
         |c AS (SELECT * FROM (VALUES (4, 8), (8, 4), (16, 2)) v(bands, rows_per_band)),
         |x AS (SELECT s_num, bands, rows_per_band,
         |      CAST(s_num AS DOUBLE) / 20.0 AS sv FROM g CROSS JOIN c)
         |SELECT s_num, bands, rows_per_band,
         | CASE WHEN rows_per_band = 8 THEN ${p(4, 8)}
         |      WHEN rows_per_band = 4 THEN ${p(8, 4)}
         |      ELSE ${p(16, 2)} END AS p_collide
         |FROM x""".stripMargin
    },

    // the q_minhash_accuracy candidate CTEs with the asymmetric
    // containment verdict instead of the error histogram
    "q_containment" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |   ELSE [] END AS shs FROM w),
        |sh2 AS (SELECT doc_id, shs FROM sh WHERE len(shs) > 0),
        |sig AS (SELECT doc_id, shs,
        |  list_transform(range(0, 32), i ->
        |    list_min(list_transform(shs, s ->
        |      substr(md5((i // 4)::VARCHAR || '|' || s), CAST((i % 4) * 8 + 1 AS INT), 8)))) AS sig
        | FROM sh2),
        |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, a.sig sa, b.sig sb,
        |   a.shs shsa, b.shs shsb
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
        |cand AS (SELECT id_a, id_b,
        |  CAST(len(list_filter(shsa, s -> list_contains(shsb, s))) AS BIGINT) AS inter,
        |  CAST(len(shsa) AS BIGINT) AS sz_a,
        |  CAST(len(shsb) AS BIGINT) AS sz_b
        | FROM pairs
        | WHERE list_max(list_transform(range(0, 8), b ->
        |    CASE WHEN sa[b*4+1:b*4+4] = sb[b*4+1:b*4+4] THEN 1 ELSE 0 END)) = 1)
        |SELECT id_a, id_b, inter, sz_a, sz_b,
        | CAST(inter AS DOUBLE) / CAST(LEAST(sz_a, sz_b) AS DOUBLE) AS containment,
        | (CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE)) < 0.5 AS jaccard_misses
        |FROM cand
        |WHERE CAST(inter AS DOUBLE) / CAST(LEAST(sz_a, sz_b) AS DOUBLE) >= 0.8""".stripMargin,

    // the q_dedup_embed bucket-collision candidate CTEs, symmetrized
    // into per-node top-5 ranks, then the mutual-edge degree census
    "q_knn_graph" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sig AS (SELECT vec_id, e,
        |  list_transform(range(0, 16), t ->
        |    list_transform(range(0, 5), p ->
        |      CASE WHEN list_sum(list_transform(list_zip(e, range(0, len(e))), x ->
        |        CASE WHEN substr(md5(t::VARCHAR || '/' || p::VARCHAR || ':' || x[2]::VARCHAR), 1, 1) <= '7'
        |         THEN x[1] ELSE -x[1] END)) > 0 THEN 1 ELSE 0 END)) AS sg
        | FROM v),
        |cand AS (SELECT a.vec_id id_a, b.vec_id id_b,
        |  list_sum(list_transform(list_zip(a.e, b.e), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(a.e, x -> x * x))) *
        |   sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS sim
        |  FROM sig a JOIN sig b ON a.vec_id < b.vec_id
        |  WHERE list_max(list_transform(list_zip(a.sg, b.sg), z ->
        |    CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) = 1),
        |sym AS (SELECT id_a AS qid, id_b AS nid, sim FROM cand
        |  UNION ALL SELECT id_b AS qid, id_a AS nid, sim FROM cand),
        |knn AS (SELECT qid, nid FROM (
        |  SELECT qid, nid,
        |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
        |  FROM sym) WHERE rk <= 5),
        |edges AS (SELECT x.qid id_a, x.nid id_b FROM knn x JOIN knn y
        |  ON x.qid = y.nid AND x.nid = y.qid AND x.qid < x.nid),
        |deg AS (SELECT vid, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |  SELECT id_a AS vid FROM edges UNION ALL SELECT id_b AS vid FROM edges)
        | GROUP BY vid)
        |SELECT COALESCE(d, CAST(0 AS BIGINT)) AS mutual_degree,
        | CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM v LEFT JOIN deg ON v.vec_id = deg.vid
        |GROUP BY COALESCE(d, CAST(0 AS BIGINT))""".stripMargin,

    // the q_dedup_minhash signature CTE, bucketed by (band, key)
    // composite instead of paired — identical partitioning
    "q_lsh_bucket_stats" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 3
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |   ELSE [] END AS shs FROM w),
        |sig AS (SELECT doc_id,
        |  list_transform(range(0, 32), i ->
        |    list_min(list_transform(shs, s ->
        |      substr(md5((i // 4)::VARCHAR || '|' || s), CAST((i % 4) * 8 + 1 AS INT), 8)))) AS sig
        | FROM sh WHERE len(shs) > 0),
        |keys AS (SELECT doc_id, unnest(list_transform(range(0, 8), b ->
        |   b::VARCHAR || '#' || array_to_string(sig[b*4+1:b*4+4], ','))) AS bk
        | FROM sig),
        |occ AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS occupancy
        | FROM keys GROUP BY bk)
        |SELECT occupancy, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        | CAST(occupancy * (occupancy - 1) // 2 * COUNT(*) AS BIGINT) AS n_candidate_pairs
        |FROM occ WHERE occupancy >= 2 GROUP BY occupancy""".stripMargin,

    "q_embed_norm_qa" ->
      """WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT label, len(e) AS dim,
        |  COALESCE(list_sum(list_transform(e, x -> x * x)), 0.0) AS norm2 FROM v)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        | MIN(dim) AS min_dim, MAX(dim) AS max_dim,
        | MIN(norm2) AS min_norm2, MAX(norm2) AS max_norm2,
        | CAST(SUM(CASE WHEN norm2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM m GROUP BY label""".stripMargin,

    // the q_dedup_cc recursive-CTE closure, rolled into a
    // cluster-size histogram with doc / removable mass
    "q_dedup_clusters" ->
      (CcClosureSql + ",\n" +
      """sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
        | FROM comp GROUP BY component)
        |SELECT n_members, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        | CAST(n_members * COUNT(*) AS BIGINT) AS n_docs,
        | CAST((n_members - 1) * COUNT(*) AS BIGINT) AS n_removable
        |FROM sizes GROUP BY n_members""".stripMargin),

    // the q_decontaminate verdict rolled up per source, with
    // per-source train totals and the contamination share
    "q_decontam_by_source" ->
      """WITH w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id, source,
        |  CASE WHEN len(ws) >= 5
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
        |     for i in range(1, len(ws) - 3)])
        |   ELSE [] END AS shs FROM w),
        |ex AS (SELECT doc_id, source, unnest(shs) AS s FROM sh),
        |flagged AS (SELECT DISTINCT train_id, src FROM (
        |  SELECT t.doc_id AS train_id, ANY_VALUE(t.source) AS src, e.doc_id AS eval_id
        |  FROM ex t JOIN ex e ON t.s = e.s AND e.doc_id < 25 AND t.doc_id >= 25
        |  GROUP BY t.doc_id, e.doc_id HAVING COUNT(*) >= 3)),
        |per_src AS (SELECT src AS source, CAST(COUNT(*) AS BIGINT) AS n_contaminated
        | FROM flagged GROUP BY src),
        |totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train
        | FROM documents WHERE doc_id >= 25 GROUP BY source)
        |SELECT t.source, t.n_train,
        | COALESCE(p.n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated,
        | CAST(COALESCE(p.n_contaminated, CAST(0 AS BIGINT)) AS DOUBLE) /
        |  CAST(t.n_train AS DOUBLE) AS contaminated_share
        |FROM totals t LEFT JOIN per_src p ON t.source = p.source""".stripMargin,

    // the q_knn_graph edge CTEs with sim carried through, then the
    // greedy smaller-id keep rule per node
    "q_knn_prune" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sig AS (SELECT vec_id, e,
        |  list_transform(range(0, 16), t ->
        |    list_transform(range(0, 5), p ->
        |      CASE WHEN list_sum(list_transform(list_zip(e, range(0, len(e))), x ->
        |        CASE WHEN substr(md5(t::VARCHAR || '/' || p::VARCHAR || ':' || x[2]::VARCHAR), 1, 1) <= '7'
        |         THEN x[1] ELSE -x[1] END)) > 0 THEN 1 ELSE 0 END)) AS sg
        | FROM v),
        |cand AS (SELECT a.vec_id id_a, b.vec_id id_b,
        |  list_sum(list_transform(list_zip(a.e, b.e), x -> x[1] * x[2])) /
        |  (sqrt(list_sum(list_transform(a.e, x -> x * x))) *
        |   sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS sim
        |  FROM sig a JOIN sig b ON a.vec_id < b.vec_id
        |  WHERE list_max(list_transform(list_zip(a.sg, b.sg), z ->
        |    CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) = 1),
        |sym AS (SELECT id_a AS qid, id_b AS nid, sim FROM cand
        |  UNION ALL SELECT id_b AS qid, id_a AS nid, sim FROM cand),
        |knn AS (SELECT qid, nid, sim FROM (
        |  SELECT qid, nid, sim,
        |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
        |  FROM sym) WHERE rk <= 5),
        |edges AS (SELECT x.qid id_a, x.nid id_b, x.sim FROM knn x JOIN knn y
        |  ON x.qid = y.nid AND x.nid = y.qid AND x.qid < x.nid),
        |per AS (SELECT id_a AS vid, id_b AS nb, sim FROM edges
        |  UNION ALL SELECT id_b AS vid, id_a AS nb, sim FROM edges)
        |SELECT vid, CAST(COUNT(*) AS BIGINT) AS mutual_degree,
        | MAX(sim) AS max_sim, MIN(nb) > vid AS keep
        |FROM per GROUP BY vid""".stripMargin,

    // the q_dedup_simhash oracle shape with dHash gradient bits from
    // the deterministic pixel walk instead of token votes
    "q_media_phash" ->
      """WITH bits AS (SELECT doc_id,
        |  list_transform(range(0, 64), b -> CASE WHEN
        |    (('0x' || substr(md5((doc_id % 40)::VARCHAR || '/' || (b // 8)::VARCHAR || '/' || (b % 8)::VARCHAR), 1, 4))::BIGINT
        |      + CASE WHEN (doc_id // 40) % 2 = 1 AND b = 0 THEN 65536 ELSE 0 END)
        |    < ('0x' || substr(md5((doc_id % 40)::VARCHAR || '/' || (b // 8)::VARCHAR || '/' || ((b % 8) + 1)::VARCHAR), 1, 4))::BIGINT
        |   THEN 1 ELSE 0 END) AS bits
        | FROM documents),
        |p AS (SELECT a.doc_id id_a, b.doc_id id_b, a.bits ba, b.bits bb
        |  FROM bits a JOIN bits b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        | len(list_filter(list_zip(ba, bb), x -> x[1] <> x[2])) AS hamming
        |FROM p
        |WHERE len(list_filter(list_zip(ba, bb), x -> x[1] <> x[2])) <= 2
        | AND list_max(list_transform(range(0, 4), c ->
        |   CASE WHEN ba[c*16+1:c*16+16] = bb[c*16+1:c*16+16] THEN 1 ELSE 0 END)) = 1""".stripMargin,

    // the q_media_phash oracle's candidate CTE at verify radius 6,
    // grid-joined against radii 0..6 (one pair pass, suffix filters)
    "q_phash_sweep" ->
      """WITH bits AS (SELECT doc_id,
        |  list_transform(range(0, 64), b -> CASE WHEN
        |    (('0x' || substr(md5((doc_id % 40)::VARCHAR || '/' || (b // 8)::VARCHAR || '/' || (b % 8)::VARCHAR), 1, 4))::BIGINT
        |      + CASE WHEN (doc_id // 40) % 2 = 1 AND b = 0 THEN 65536 ELSE 0 END)
        |    < ('0x' || substr(md5((doc_id % 40)::VARCHAR || '/' || (b // 8)::VARCHAR || '/' || ((b % 8) + 1)::VARCHAR), 1, 4))::BIGINT
        |   THEN 1 ELSE 0 END) AS bits
        | FROM documents),
        |p AS (SELECT a.doc_id id_a, b.doc_id id_b,
        |  len(list_filter(list_zip(a.bits, b.bits), x -> x[1] <> x[2])) AS hamming
        | FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        | WHERE list_max(list_transform(range(0, 4), c ->
        |   CASE WHEN a.bits[c*16+1:c*16+16] = b.bits[c*16+1:c*16+16] THEN 1 ELSE 0 END)) = 1
        |  AND len(list_filter(list_zip(a.bits, b.bits), x -> x[1] <> x[2])) <= 6),
        |g AS (SELECT unnest(range(0, 7)) AS radius),
        |i AS (SELECT g.radius, unnest([p.id_a, p.id_b]) AS img
        |  FROM g JOIN p ON p.hamming <= g.radius)
        |SELECT CAST(radius AS BIGINT) AS radius,
        | CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
        | CAST(COUNT(DISTINCT img) AS BIGINT) AS n_images
        |FROM i GROUP BY radius""".stripMargin,

    "q_shard_skew" ->
      """WITH s AS (SELECT CAST(('0x' || substr(md5('shuf42:' || doc_id::VARCHAR), 1, 8))::BIGINT % 37 AS INTEGER) AS shard
        | FROM documents),
        |g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY shard)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_live_shards,
        | CAST(MIN(n) AS BIGINT) AS min_docs, CAST(MAX(n) AS BIGINT) AS max_docs,
        | CAST(SUM(n) AS BIGINT) AS total_docs,
        | CAST(MAX(n) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS skew_ratio
        |FROM g""".stripMargin,

    "q_length_percentiles" ->
      """WITH r AS (SELECT source, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY source) AS cnt
        | FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | MAX(CASE WHEN rn <= (cnt * 50 + 99) // 100 THEN n_chars END) AS p50_chars,
        | MAX(CASE WHEN rn <= (cnt * 90 + 99) // 100 THEN n_chars END) AS p90_chars,
        | MAX(CASE WHEN rn <= (cnt * 99 + 99) // 100 THEN n_chars END) AS p99_chars,
        | MAX(n_chars) AS max_chars
        |FROM r GROUP BY source""".stripMargin,

    "q_dup_ngram_coverage" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 5
        |   THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] for i in range(1, len(ws) - 3)])
        |   ELSE [] END AS shs FROM w),
        |gr AS (SELECT doc_id, unnest(shs) AS g FROM sh),
        |byg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_docs FROM gr GROUP BY g),
        |r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared FROM byg)
        |SELECT n_grams, n_shared,
        | CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) AS shared_share FROM r""".stripMargin
  )
}
