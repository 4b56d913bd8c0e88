package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the collector pipeline — the
  * reference IS a stream processor; these are the operators whose
  * semantics only exist with unbounded input.
  *
  * - windowed aggregation with watermark ≈ the metrics pipeline's
  *   periodic flush (batchprocessor timeout + aggregation)
  * - stateful streaming dedup ≈ an exactly-once filter the collector
  *   cannot express (it has no cross-batch state); state TTL bounds
  *   memory exactly like the memory limiter bounds queues
  * - rate metrics via flatMapGroupsWithState ≈ cumulative-counter
  *   tracking across batches (deltatocumulative with live state)
  */
object StreamingPipelines {

  /** md5 hex of a UTF-8 string — THE hashing kernel shared by every
    * streaming monitor whose state keys / sketch cells must stay
    * bit-identical to the SQL md5 kernels (oracle parity is
    * load-bearing: one drifted copy silently breaks a batch ==
    * streaming contract). */
  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    graft.sources.OtlpProtobuf.hex(d, 0, d.length)
  }

  /** tumbling-window counts/sums per key with a watermark. Input
    * needs an event-time `ts` timestamp column. Late data beyond
    * `lateness` is dropped — the streaming twin of q_tumbling_window.
    */
  def tumblingAgg(events: DataFrame, keyCol: String, window: String,
                  lateness: String): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Bridge a stream into any batch [[graft.pipeline.Pipeline.Exporter]]
    * via foreachBatch. Effectively-once delivery comes from the
    * checkpointed batchId being handed to `exportBatch`, whose
    * contract is idempotent per-batch overwrite (ParquetExporter
    * writes a batch_id=N subpath) — a replayed batch replaces its own
    * previous output instead of duplicating rows or clobbering the
    * whole sink.
    */
  def exportStream(stream: DataFrame, exporter: graft.pipeline.Pipeline.Exporter,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        exporter.exportBatch(batch.toDF(), batchId)
      }
      .start()

  /** Reactive admission — the memory limiter's refuse/drop behavior
    * (reference memorylimiterprocessor checks live memory and flips
    * between refusing and dropping) re-expressed for Spark's
    * execution model, where the pressure signal is the OBSERVED batch
    * size rather than heap telemetry: each micro-batch admits at most
    * `maxRowsPerBatch` rows (deterministic orderBy+limit — the
    * streaming twin of Processors.memoryLimit) and hands the overflow
    * to `refuse`, which typically respools it to the source directory
    * so the burst spreads over later triggers — upstream
    * backpressure, not data loss. State per trigger is bounded by a
    * constant regardless of how large the burst is.
    *
    * `refuse` receives the batchId and MUST be idempotent per
    * batchId (overwrite a batchId-derived location, never append):
    * like exportBatch, it runs BEFORE the checkpoint commits, so a
    * mid-batch failure replays the same batchId and an appending
    * refuse would duplicate the overflow rows. `order` MUST be a
    * TOTAL ordering (include a unique id): the admitted/refused split
    * is limit/offset over the sort, and ties resolved differently on
    * replay would change the split — when respooling to a file
    * source, which tracks files by name and never re-reads an
    * overwritten path, a changed split would lose/duplicate the
    * difference.
    */
  def exportStreamAdmitted(stream: DataFrame, exporter: graft.pipeline.Pipeline.Exporter,
                           checkpoint: String, maxRowsPerBatch: Int,
                           order: Seq[org.apache.spark.sql.Column],
                           refuse: (DataFrame, Long) => Unit,
                           heap: Option[graft.pipeline.HeapLimiter] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // process-heap trigger (reference memorylimiter): while the
        // PROCESS is under pressure the whole trigger is refused —
        // respooled to the source, nothing lost, re-admitted once the
        // limiter clears (refuse is idempotent per batchId, so a
        // pressured batch replayed after recovery re-splits cleanly)
        if (heap.exists(_.mustRefuse)) refuse(batch.orderBy(order: _*), batchId)
        else {
          val sorted = batch.orderBy(order: _*).persist()
          try {
            if (sorted.count() > maxRowsPerBatch)
              refuse(sorted.offset(maxRowsPerBatch), batchId)
            exporter.exportBatch(sorted.limit(maxRowsPerBatch), batchId)
          } finally { sorted.unpersist(); () }
        }
      }
      .start()

  /** memorylimiterprocessor counters (reference:
    * processor/memorylimiterprocessor/memorylimiter.go — the
    * refused/dropped split its obsreport publishes). */
  final class LimiterObs {
    val admittedRows = new java.util.concurrent.atomic.AtomicLong
    val admittedBytes = new java.util.concurrent.atomic.AtomicLong
    val refusedRows = new java.util.concurrent.atomic.AtomicLong
    val refusedBytes = new java.util.concurrent.atomic.AtomicLong
    val droppedRows = new java.util.concurrent.atomic.AtomicLong
    val droppedBytes = new java.util.concurrent.atomic.AtomicLong
  }

  /** Memory limiter with a BYTES budget — the soft/hard-watermark
    * admission of the reference memorylimiterprocessor
    * (memorylimiter.go: above the soft limit new data is REFUSED —
    * a retryable error, the receiver backs off; above the hard limit
    * the processor sheds load) re-expressed for Spark, where the
    * pressure signal is the OBSERVED bytes of the micro-batch rather
    * than live heap telemetry (a lazy plan holds no data; what heap
    * pressure is to the Go runtime, admitted-batch volume is here):
    *
    *  - rows whose running total (in the `orderCol` total order) fits
    *    `softBytes` are admitted downstream;
    *  - the slice between soft and hard is REFUSED — handed to
    *    `refuse`, which respools it to the source so later triggers
    *    re-admit it in budget-sized chunks (backpressure, no loss);
    *  - beyond `hardBytes` the batch is shed: rows are DROPPED with
    *    counters (the hard-limit emergency, load too large to even
    *    queue).
    *
    * Progress guarantee: the head row of each trigger is always
    * admitted (unless it alone exceeds hardBytes — a poison payload,
    * dropped), so a respooled slice always drains and a single
    * over-soft row cannot livelock the queue.
    *
    * The running sum never plans a single-partition window: rows
    * bucket by literal percentile cuts of `orderCol` (numeric, unique
    * — the assignBatchesRanged discipline), per-bucket byte sums
    * prefix-sum on the driver (≤ shuffle.partitions rows), and each
    * bucket cumsums only its own range in parallel.
    *
    * Same idempotence contract as [[exportStreamAdmitted]]: `refuse`
    * must overwrite a batchId-derived location, and `orderCol` must
    * be a total order, or a replayed batchId would change the split.
    */
  def exportStreamBytesBudget(stream: DataFrame,
                              exporter: graft.pipeline.Pipeline.Exporter,
                              checkpoint: String,
                              softBytes: Long, hardBytes: Long,
                              orderCol: org.apache.spark.sql.Column,
                              sizeOf: org.apache.spark.sql.Column,
                              refuse: (DataFrame, Long) => Unit,
                              obs: LimiterObs = new LimiterObs)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(softBytes > 0 && softBytes <= hardBytes,
      s"need 0 < softBytes <= hardBytes, got $softBytes/$hardBytes")
    import org.apache.spark.sql.expressions.Window
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val base = batch.toDF().withColumn("__sz", sizeOf.cast("long")).persist()
        try {
          if (base.isEmpty) exporter.exportBatch(batch.toDF(), batchId)
          else {
            val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
            val qs = (1 until n).map(_.toDouble / n)
            val cutRow = base.select(
              percentile_approx(orderCol, typedLit(qs), lit(10000)).as("c")).head()
            val cuts: Seq[Any] =
              if (cutRow.isNullAt(0)) Seq.empty else cutRow.getSeq[Any](0).distinct
            def bucketOf(c: org.apache.spark.sql.Column) =
              cuts.foldLeft(lit(0))((acc, cut) => acc + when(c > lit(cut), 1).otherwise(0))
            val bucketed = base.withColumn("__bk", bucketOf(orderCol))
            val sums = bucketed.groupBy(col("__bk")).agg(sum(col("__sz")).as("b"))
              .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
            var acc = 0L
            val offsets: Map[Int, Long] = (0 to cuts.size).map { bk =>
              val o = bk -> acc; acc += sums.getOrElse(bk, 0L); o
            }.toMap
            val w = Window.partitionBy(col("__bk")).orderBy(orderCol)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val tagged = bucketed
              .withColumn("__cum", sum(col("__sz")).over(w) +
                coalesce(element_at(typedLit(offsets), col("__bk")), lit(0L)))
              .withColumn("__cls",
                when(col("__cum") - col("__sz") === 0 && col("__sz") > hardBytes, "drop")
                  .when(col("__cum") - col("__sz") === 0, "admit")
                  .when(col("__cum") <= softBytes, "admit")
                  .when(col("__cum") <= hardBytes, "refuse")
                  .otherwise("drop"))
              .persist()
            try {
              val tallies = tagged.groupBy(col("__cls"))
                .agg(count(lit(1)).as("n"), sum(col("__sz")).as("b"))
                .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
              def bump(cls: String, rows: java.util.concurrent.atomic.AtomicLong,
                       bytes: java.util.concurrent.atomic.AtomicLong): Unit =
                tallies.get(cls).foreach { case (r, b) =>
                  rows.addAndGet(r); bytes.addAndGet(b)
                }
              bump("admit", obs.admittedRows, obs.admittedBytes)
              bump("refuse", obs.refusedRows, obs.refusedBytes)
              bump("drop", obs.droppedRows, obs.droppedBytes)
              val helperCols = Seq("__sz", "__bk", "__cum", "__cls")
              if (tallies.contains("refuse"))
                refuse(tagged.filter(col("__cls") === "refuse")
                  .drop(helperCols: _*), batchId)
              exporter.exportBatch(tagged.filter(col("__cls") === "admit")
                .drop(helperCols: _*), batchId)
            } finally { tagged.unpersist(); () }
          }
        } finally { base.unpersist(); () }
      }
      .start()
  }

  /** Scrape receiver analog (reference: receiver/scraperhelper):
    * a periodic pull that emits datapoints on a schedule. The rate
    * source provides the schedule; `scrape` turns each tick into
    * metric points (in a real deployment it reads the scraped
    * target's state).
    */
  def scrapeStream(spark: SparkSession, rowsPerSecond: Int,
                   scrape: DataFrame => DataFrame): DataFrame =
    scrape(spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load())

  /** session-window aggregation per key (gap-based, watermarked) —
    * the streaming twin of MetricsOps.sessionize. */
  def sessionAgg(events: DataFrame, keyCol: String, gap: String,
                 lateness: String): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  final case class Seen(firstSeenMs: Long)

  /** streaming exact-dedup: emit only the first record per content
    * key. `ttlMs` bounds state (memory-limiter discipline applied to
    * dedup state) via processing-time timeout; None keeps state
    * forever (exact dedup over the full stream).
    */
  def streamingDedup[T](spark: SparkSession, keyed: Dataset[(String, T)],
                        ttlMs: Option[Long] = None)(
                        implicit te: org.apache.spark.sql.Encoder[T],
                        tupEnc: org.apache.spark.sql.Encoder[(String, T)]): Dataset[T] = {
    import spark.implicits._
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Seen, T](OutputMode.Append, timeout) {
        (_: String, rows: Iterator[(String, T)], state: GroupState[Seen]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty
          else {
            state.update(Seen(System.currentTimeMillis()))
            ttlMs.foreach(t => state.setTimeoutDuration(t))
            rows.take(1).map(_._2)
          }
      }
  }

  final case class PendingHalves(client: Option[String], server: Option[String])

  /** Streaming servicegraph: the connector pairs the CLIENT and
    * SERVER spans of one call edge, which arrive in different
    * batches (different services export independently) — the
    * reference holds an in-memory pairing store with expiry; here the
    * store is flatMapGroupsWithState keyed on the edge id, with a
    * processing-time TTL bounding state exactly like the store's
    * expiry bounds memory. Input rows: (edgeKey, side
    * "client"|"server", serviceName). Emits (clientService,
    * serverService) once both halves have arrived.
    *
    * `ttlMs = None` keeps unmatched halves forever (and lets tests
    * drive the query with processAllAvailable — a ProcessingTimeTimeout
    * query schedules continuous empty batches to fire timeouts, the
    * same trade [[streamingDedup]] documents).
    */
  def serviceGraphStream(spark: SparkSession,
                         spans: Dataset[(String, String, String)],
                         ttlMs: Option[Long] = Some(60000L))(
      implicit e: org.apache.spark.sql.Encoder[(String, String)])
      : Dataset[(String, String)] = {
    import spark.implicits._
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    spans.groupByKey(_._1)
      .flatMapGroupsWithState[PendingHalves, (String, String)](
        OutputMode.Append, timeout) {
        (_: String, rows: Iterator[(String, String, String)],
         state: GroupState[PendingHalves]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var cur = state.getOption.getOrElse(PendingHalves(None, None))
            rows.foreach {
              case (_, "client", svc) => cur = cur.copy(client = cur.client.orElse(Some(svc)))
              case (_, "server", svc) => cur = cur.copy(server = cur.server.orElse(Some(svc)))
              case _ =>
            }
            (cur.client, cur.server) match {
              case (Some(c), Some(s)) =>
                state.remove()
                Iterator((c, s))
              case _ =>
                state.update(cur)
                ttlMs.foreach(t => state.setTimeoutDuration(t))
                Iterator.empty
            }
          }
      }
  }

  final case class ExpHistState(scale: Int, counts: Map[Long, Long])

  /** Stateful delta→cumulative for EXPONENTIAL HISTOGRAMS: per
    * series, bucket counts accumulate across micro-batches, and when
    * a batch arrives at a different scale the accumulated histogram
    * and the incoming buckets merge down to the common minimum scale
    * (floor-division index downscale — the same semantics as
    * MetricsOps.expDownscaleIdx, here over live state). This is the
    * collector's delta-aggregation behavior for exp histograms, which
    * must re-scale before merging. Input rows: (series, scale, idx,
    * count). Each batch emits the full accumulated histogram for
    * every series it touched: (series, scale, idx, cumulativeCount).
    */
  def runningExpHistogram(spark: SparkSession,
                          points: Dataset[(String, Int, Long, Long)])(
      implicit e: org.apache.spark.sql.Encoder[(String, Int, Long, Long)])
      : Dataset[(String, Int, Long, Long)] = {
    import spark.implicits._
    def down(counts: Map[Long, Long], from: Int, to: Int): Map[Long, Long] = {
      // JVM shifts are mod 64: an unvalidated scale gap >= 63 would
      // silently divide by the WRONG power of two. OTLP scales live
      // in [-10, 20]; anything wider is corrupt input — fail loudly.
      require(from - to >= 0 && from - to < 63,
        s"exp-histogram scale gap ${from - to} out of range (scales $from -> $to)")
      if (from == to) counts
      else counts.groupMapReduce { case (i, _) =>
        Math.floorDiv(i, 1L << (from - to)) }(_._2)(_ + _)
    }
    points.groupByKey(_._1)
      .flatMapGroupsWithState[ExpHistState, (String, Int, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Int, Long, Long)],
         state: GroupState[ExpHistState]) =>
          val incoming = rows.toSeq
          if (incoming.isEmpty) Iterator.empty
          else {
            val inScale = incoming.map(_._2).min
            val target = state.getOption
              .map(s => math.min(s.scale, inScale)).getOrElse(inScale)
            val baseC = state.getOption
              .map(s => down(s.counts, s.scale, target)).getOrElse(Map.empty[Long, Long])
            val merged = incoming.foldLeft(baseC) { case (acc, (_, sc, idx, cnt)) =>
              require(sc - target >= 0 && sc - target < 63,
                s"exp-histogram scale gap ${sc - target} out of range")
              val i2 = Math.floorDiv(idx, 1L << (sc - target))
              acc.updated(i2, acc.getOrElse(i2, 0L) + cnt)
            }
            state.update(ExpHistState(target, merged))
            merged.toSeq.sortBy(_._1)
              .map { case (i, c) => (key, target, i, c) }.iterator
          }
      }
  }

  /** Streaming near-duplicate detection — the batch MinHash→LSH
    * pipeline (DedupOps.lshNearDupPairs) re-expressed over an
    * unbounded document stream: each doc's signature is banded, each
    * band key addresses a bucket whose MEMBERSHIP IS THE STATE, and a
    * new doc emits a pair for every prior member whose lane-agreement
    * estimate clears the threshold — across micro-batches, so a doc
    * arriving today pairs with one seen yesterday. Per-bucket state
    * is capped at `maxBucket` members (the batch path's skew cap:
    * a degenerate bucket — empty docs, boilerplate — stops absorbing
    * comparisons instead of going quadratic) and `ttlMs` expires idle
    * buckets (the dedup-window retention knob).
    *
    * Emission is at-least-once per band: a pair discovered through
    * two different bands emits twice (exactly what the batch pipeline
    * produces before its final distinct — and Spark does not allow a
    * second stateful dedup behind flatMapGroupsWithState). Callers
    * dedupe downstream where needed; the canonical consumer (drop the
    * higher doc id) is idempotent, so duplicates cost nothing.
    *
    * Input (docId, signature); output (loId, hiId, laneAgreement).
    */
  def streamingNearDup(spark: SparkSession, docs: Dataset[(Long, Seq[Long])],
                       bands: Int, rowsPerBand: Int, threshold: Double,
                       maxBucket: Int = 64, ttlMs: Option[Long] = None)(
      implicit e: org.apache.spark.sql.Encoder[(Long, Long, Double)])
      : Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    val banded = docs.flatMap { case (id, sig) =>
      (0 until bands).iterator.map { b =>
        val slice = sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
        // value-derived bucket key (never hashCode: must be stable
        // across JVMs for checkpoint recovery)
        (s"$b:${slice.mkString(",")}", id, sig)
      }
    }
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Seq[Long])], (Long, Long, Double)](
        OutputMode.Append, timeout) {
        (_: String, rows: Iterator[(String, Long, Seq[Long])],
         state: GroupState[List[(Long, Seq[Long])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var members = state.getOption.getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            rows.toSeq.sortBy(_._2).foreach { case (_, id, sig) =>
              if (!members.exists(_._1 == id)) {
                members.foreach { case (mid, msig) =>
                  var eq = 0
                  var i = 0
                  while (i < sig.length && i < msig.length) {
                    if (sig(i) == msig(i)) eq += 1
                    i += 1
                  }
                  val sim = if (sig.isEmpty) 0.0 else eq.toDouble / sig.length
                  if (sim >= threshold)
                    out += ((math.min(mid, id), math.max(mid, id), sim))
                }
                if (members.size < maxBucket) members = members :+ ((id, sig))
              }
            }
            state.update(members)
            ttlMs.foreach(t => state.setTimeoutDuration(t))
            out.iterator
          }
      }
  }

  /** Streaming line dedup — [[graft.operators.DedupOps.lineDedup]]'s
    * first-occurrence verdict over an unbounded corpus stream: state
    * keyed by segment hash remembers the composite key
    * (docId·10⁶ + pos) of the first owner ever seen; every arrival
    * of that exact segment instance keeps (idempotent under replay),
    * every other copy — later in the same micro-batch or any later
    * batch — drops. Within a batch the smallest composite key wins,
    * so replayed batches reach identical verdicts, and a full replay
    * in doc order converges to the batch operator's keep set exactly.
    * `ttlMs` bounds state like every stateful op here: an idle
    * segment's ownership expires, trading unbounded memory for a
    * dedup window — the production retention knob.
    *
    * Input (docId, pos, segment); output (docId, pos, segment, keep).
    * Reassembly (groupBy doc, sort by pos, join) is a stateless
    * downstream agg, same as the batch operator's final regroup.
    */
  def streamingLineDedup(spark: SparkSession,
                         segs: Dataset[(Long, Int, String)],
                         ttlMs: Option[Long] = None)(
      implicit e: org.apache.spark.sql.Encoder[(Long, Int, String, Boolean)])
      : Dataset[(Long, Int, String, Boolean)] = {
    import spark.implicits._
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    segs.groupByKey { case (_, _, seg) =>
        // value-derived bounded key (never the raw text: state keys
        // should be 32 B, not a 10 kB boilerplate block; never
        // hashCode: checkpoint recovery needs cross-JVM stability)
        md5Hex(seg)
      }
      .flatMapGroupsWithState[Long, (Long, Int, String, Boolean)](
        OutputMode.Append, timeout) {
        (_: String, rows: Iterator[(Long, Int, String)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toSeq.sortBy { case (d, p, _) => d * 1000000L + p }
            val owner = state.getOption.getOrElse(
              batch.head._1 * 1000000L + batch.head._2)
            state.update(owner)
            ttlMs.foreach(t => state.setTimeoutDuration(t))
            batch.iterator.map { case (d, p, seg) =>
              (d, p, seg, d * 1000000L + p == owner)
            }
          }
      }
  }

  /** Streaming URL refetch dedup (r15 verdict #6) — the live twin of
    * the batch url_canon → keyed-min refetch composition (q_url_canon
    * / the capstone's `url_canon` stage): each arriving fetch
    * canonicalizes its raw URL MAP-SIDE ([[graft.operators.TextOps
    * .urlCanon]] is a stateless projection — lowercase scheme/host,
    * www. strip, default-port drop, fragment/utm strip, param sort),
    * and first-owner state keyed on the CANONICAL url remembers the
    * smallest doc_id ever seen for it. keep = this fetch IS the
    * owner: idempotent under replay (the owner's re-delivery keeps,
    * every other copy — same trigger or any later one — drops), and
    * a full replay in doc-id order converges to the batch
    * composition's keep set exactly (the streamingLineDedup
    * discipline, stamp axis swapped from segment text to canonical
    * URL). `ttlMs` expires idle ownerships — the crawl-recency
    * retention knob (an evicted URL's next fetch re-enters as
    * first-seen).
    *
    * Input columns (doc_id, url_raw); output (doc_id, url_raw,
    * url_canon, keep). State: one long per distinct canonical URL,
    * keyed by its md5 (value-derived bounded key — never the raw URL
    * string, never hashCode; checkpoint recovery needs cross-JVM
    * stability). Scale shape: canonicalization never shuffles; the
    * only exchange keys on the canon hash into the state store. */
  def streamingUrlDedup(spark: SparkSession, fetches: DataFrame,
                        ttlMs: Option[Long] = None)
      : Dataset[(Long, String, String, Boolean)] = {
    import spark.implicits._
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    fetches
      // a live fetch stream is external input: one malformed row with
      // a null URL must not NPE the key function and kill the whole
      // query (urlCanon propagates null; md5 of null throws) — the
      // null-text guard discipline from the segment monitors. A
      // null-URL fetch has no refetch identity to dedup on; it is
      // excluded from the monitor, not crashed into.
      .filter(col("url_raw").isNotNull)
      .select(col("doc_id").cast("long"), col("url_raw"),
        graft.operators.TextOps.urlCanon(col("url_raw")).as("url_canon"))
      .as[(Long, String, String)]
      .groupByKey { case (_, _, canon) => md5Hex(canon) }
      .flatMapGroupsWithState[Long, (Long, String, String, Boolean)](
        OutputMode.Append, timeout) {
        (_: String, rows: Iterator[(Long, String, String)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toSeq.sortBy(_._1)
            val owner = state.getOption.getOrElse(batch.head._1)
            state.update(owner)
            ttlMs.foreach(t => state.setTimeoutDuration(t))
            batch.iterator.map { case (d, raw, canon) =>
              (d, raw, canon, d == owner)
            }
          }
      }
  }

  /** Streaming caption dedup (r16 verdict #1) — the live twin of the
    * batch (image, caption) composite-key gate (q_caption_dedup /
    * the `caption_dedup` config stage): a live pair pipeline needs
    * the spam gate BEFORE the alignment monitor, exactly as the
    * batch capstone arc orders its stages (caption_dedup →
    * pair_align_report). First-owner state keyed on the composite of
    * the image identity and the caption hash — the streamingUrlDedup
    * discipline verbatim, stamp axis swapped from canonical URL to
    * the (image, caption) pair; reference analog: the servicegraph
    * connector's pairing-store-with-expiry semantics
    * (connector/servicegraphconnector, store/store.go). keep = this
    * pair IS the owner: idempotent under replay (the owner's
    * re-delivery keeps, every other copy — same trigger or later —
    * drops), and a full replay in doc-id order converges to the
    * batch gate's keep set exactly. `ttlMs` expires idle ownerships,
    * the crawl-recency retention knob (an evicted pair's next
    * arrival re-enters as first-seen).
    *
    * Null handling mirrors the batch window (groupBy/Window treat
    * NULL as its own group, keepFirstStage's sentinel encoding): a
    * null caption or null image identity forms its own cluster —
    * the bare-space sentinel cannot equal an md5 (hex charset) and
    * non-null image keys take a "v" prefix, so no data value merges
    * with a null cluster, and the composite parses unambiguously
    * (the caption leg is fixed-width hex or the bare sentinel, so
    * a "|" inside an image key cannot re-split it).
    *
    * Input columns (doc_id, img_id, text) — img_id is any
    * image-identity column (an id, a phash, a canonical url; cast
    * to string); output (doc_id, img_id, cap_hash, keep). State:
    * one long per distinct (image, caption) pair, keyed by the md5
    * of the encoded composite (value-derived bounded key — never
    * hashCode; checkpoint recovery needs cross-JVM stability).
    * Scale shape: hashing is map-side; the only exchange keys on
    * the composite hash into the state store; caption text never
    * enters state. */
  def streamingCaptionDedup(spark: SparkSession, pairs: DataFrame,
                            ttlMs: Option[Long] = None)
      : Dataset[(Long, String, String, Boolean)] = {
    import spark.implicits._
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    pairs
      // a live pair stream is external input: a malformed row with a
      // null doc_id would die in the tuple encoder (null into a
      // primitive Long) and kill the whole query — the
      // streamingUrlDedup null-guard discipline (review wave). A
      // null-id pair has no ownership identity; excluded, not
      // crashed into. Null img/caption DO flow through (they form
      // their own clusters via the sentinel encoding in the key).
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long"),
        col("img_id").cast("string"), md5(col("text")).as("cap_hash"))
      .as[(Long, String, String)]
      .groupByKey { case (_, img, cap) =>
        val ik = if (img == null) " " else "v" + img
        md5Hex(ik + "|" + (if (cap == null) " " else cap))
      }
      .flatMapGroupsWithState[Long, (Long, String, String, Boolean)](
        OutputMode.Append, timeout) {
        (_: String, rows: Iterator[(Long, String, String)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toSeq.sortBy(_._1)
            val owner = state.getOption.getOrElse(batch.head._1)
            state.update(owner)
            ttlMs.foreach(t => state.setTimeoutDuration(t))
            batch.iterator.map { case (d, img, cap) =>
              (d, img, cap, d == owner)
            }
          }
      }
  }

  /** per-fingerprint anchor-store state: the (doc, position) rows
    * seen so far, or the saturated marker once the fingerprint's
    * document frequency crossed the cap (df only grows — a saturated
    * hash never emits again, so its anchors free immediately) */
  final case class AnchorStore(docs: List[Long], positions: List[Long],
                               saturated: Boolean)

  /** Streaming ExactSubstr anchor store — the always-on twin of
    * [[graft.DataPipelineQueries.exactDupSpansIncrementalFrom]]
    * (r13's daily-ingest operator): the winnowing anchor selection
    * runs map-side per document (the window formulation folds into
    * one HOF projection, winnowAnchorsExpr — bit-parity spec-pinned),
    * and the anchor STORE is flatMapGroupsWithState keyed on the
    * fingerprint hash. Each micro-batch PROBES the store (new anchors
    * pair against every stored anchor of the same hash and against
    * each other) and APPENDS; the df cap counts distinct documents
    * across store ∪ batch exactly like the incremental operator — a
    * fingerprint crossing the cap saturates permanently (df only
    * grows) and frees its anchors. `ttlMs` expires idle fingerprints,
    * the production retention knob (an evicted hash's next arrival
    * re-enters as first-seen — the streamingLineDedup discipline).
    *
    * Emits one row per NEW candidate anchor pair per trigger:
    * (doc_a, doc_b, pa, pb), doc_a < doc_b. The extension verify is
    * the stateless half — feed a trigger's pairs to
    * [[graft.DataPipelineQueries.extendCandidateAnchorPairs]] with
    * the corpus texts (store text is fetched only for the bounded
    * candidates, never rescanned — the incremental discipline).
    * CONVERGENCE (spec-pinned): with triggers T₁…Tₙ, trigger Tₙ's
    * extended spans equal exactDupSpansIncrementalFrom(store =
    * T₁∪…∪Tₙ₋₁, batch = Tₙ). Doc ids unique across the stream (the
    * ingest contract).
    *
    * Scale shape: state per fingerprint is ≤ dfCap (doc, pos) longs;
    * hashes partition the state store; per-trigger work is
    * |batch anchors| × (stored ≤ cap) pair emissions — no text in
    * state, no rescans, no broadcast. */
  def streamingExactSubstrAnchors(spark: SparkSession,
                                  docs: Dataset[(Long, String)],
                                  dfCap: Int,
                                  ttlMs: Option[Long] = None)(
      implicit e: org.apache.spark.sql.Encoder[(Long, Long, Long, Long)])
      : Dataset[(Long, Long, Long, Long)] = {
    import spark.implicits._
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val anchors = graft.DataPipelineQueries
      .spanTokens(docs.toDF("doc_id", "text"))
      .select(col("doc_id"), explode(
        graft.DataPipelineQueries.winnowAnchorsExpr(col("__ws"))).as("a"))
      .select(col("a.h_sel"), col("doc_id"), col("a.pos_sel"))
      .as[(Long, Long, Long)]
    anchors.groupByKey(_._1)
      .flatMapGroupsWithState[AnchorStore, (Long, Long, Long, Long)](
        OutputMode.Append, timeout) {
        (_: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[AnchorStore]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.getOrElse(AnchorStore(Nil, Nil, false))
            // deterministic emission order under replay
            val fresh = rows.map { case (_, d, p) => (d, p) }.toSeq
              .sortBy(identity)
            if (st.saturated) {
              // stays saturated forever — state already minimal
              ttlMs.foreach(t => state.setTimeoutDuration(t))
              Iterator.empty
            } else {
              val allDocs = (st.docs ++ fresh.map(_._1)).distinct
              if (allDocs.size > dfCap) {
                // the incremental operator's cap filter (__df ≤ cap
                // over store ∪ batch): this trigger emits NOTHING for
                // the hash, and no later trigger can shrink df
                state.update(AnchorStore(Nil, Nil, saturated = true))
                ttlMs.foreach(t => state.setTimeoutDuration(t))
                Iterator.empty
              } else {
                val stored = st.docs.zip(st.positions)
                // new × stored plus new × new (i<j): exactly the
                // batch-touching pairs of the incremental probe —
                // stored × stored pairs were emitted by their own
                // trigger and never repeat
                val out = scala.collection.mutable.ArrayBuffer
                  .empty[(Long, Long, Long, Long)]
                for (((d, p), i) <- fresh.zipWithIndex) {
                  for ((d2, p2) <- stored ++ fresh.take(i))
                    if (d2 < d) out += ((d2, d, p2, p))
                    else if (d2 > d) out += ((d, d2, p, p2))
                }
                state.update(AnchorStore(st.docs ++ fresh.map(_._1),
                  st.positions ++ fresh.map(_._2), saturated = false))
                ttlMs.foreach(t => state.setTimeoutDuration(t))
                out.iterator
              }
            }
          }
      }
  }

  final case class LastCum(value: Double)

  /** Stateful cumulative→delta across micro-batches — the inverse of
    * [[runningCounter]] and the streaming story of the reference's
    * cumulativetodelta processor: per series the delta is this
    * point's cumulative minus the last cumulative seen in ANY prior
    * batch. The FIRST point of a series passes through (baseline 0 —
    * the batch operator's convention, MetricsOps.cumulativeToDelta),
    * and a RESET (cumulative below the last seen value: the emitting
    * process restarted its counter) re-baselines, so the point's own
    * value IS its delta — monotonic-sum reset detection. `ttlMs`
    * bounds state the streamingDedup way: an idle series' baseline
    * times out and its next point re-enters as first-point-passes-
    * through (exactly what the reference does when its tracker
    * evicts a stale series).
    *
    * Input (series, order, cum); rows sort by `order` within a batch,
    * cross-batch ordering comes from the source (spool/file sources
    * deliver in file order). Emits (series, order, cum, delta).
    */
  def cumulativeToDeltaStream(spark: SparkSession,
                              points: Dataset[(String, Long, Double)],
                              ttlMs: Option[Long] = None)(
      implicit e: org.apache.spark.sql.Encoder[(String, Long, Double, Double)])
      : Dataset[(String, Long, Double, Double)] = {
    import spark.implicits._
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    points.groupByKey(_._1)
      .flatMapGroupsWithState[LastCum, (String, Long, Double, Double)](
        OutputMode.Append, timeout) {
        (key: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[LastCum]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(_._2)
            if (sorted.isEmpty) Iterator.empty
            else {
              var last = state.getOption.map(_.value)
              val out = sorted.map { case (_, o, c) =>
                val delta = last match {
                  case Some(prev) if c >= prev => c - prev
                  case _ => c // first point of the series, or a reset
                }
                last = Some(c)
                (key, o, c, delta)
              }
              state.update(LastCum(last.get))
              ttlMs.foreach(t => state.setTimeoutDuration(t))
              out.iterator
            }
          }
      }
  }

  /** Streaming exemplar reservoir — the SDK/collector behavior of
    * keeping a BOUNDED set of exemplar datapoints per series over an
    * unbounded stream. Classic reservoir sampling needs an RNG,
    * which breaks replay (a recomputed batch would keep different
    * exemplars); instead each point's priority is a deterministic
    * hash of its identity and the reservoir is bottom-k by
    * (priority, ts): order-independent, replay-stable, and mergeable
    * — the same decision whatever batch boundaries or arrival order
    * the stream happens to have. Each batch emits the post-batch
    * reservoir for every series it touched (the
    * [[runningExpHistogram]] emission contract).
    *
    * Input (series, ts, value); output (series, ts, value) of the
    * retained exemplars. `ttlMs` expires idle series' reservoirs.
    */
  def exemplarReservoir(spark: SparkSession,
                        points: Dataset[(String, Long, Double)], k: Int,
                        ttlMs: Option[Long] = None)(
      implicit e: org.apache.spark.sql.Encoder[(String, Long, Double)])
      : Dataset[(String, Long, Double)] = {
    import spark.implicits._
    def priority(series: String, ts: Long, v: Double): Long =
      // pure function of the point's identity — stable across JVMs
      // and replays (never an RNG)
      scala.util.hashing.MurmurHash3.stringHash(s"$series|$ts|$v").toLong & 0x7fffffffL
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    points.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Double)], (String, Long, Double)](
        OutputMode.Append, timeout) {
        (key: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[List[(Long, Long, Double)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val incoming = rows.map { case (_, ts, v) =>
              (priority(key, ts, v), ts, v)
            }.toList
            if (incoming.isEmpty) Iterator.empty
            else {
              val merged = (state.getOption.getOrElse(Nil) ++ incoming)
                .distinct.sortBy(p => (p._1, p._2)).take(k)
              state.update(merged)
              ttlMs.foreach(t => state.setTimeoutDuration(t))
              merged.iterator.map { case (_, ts, v) => (key, ts, v) }
            }
          }
      }
  }

  /** Streaming inter-arrival gap monitor — the q_metric_gaps
    * semantics over an unbounded stream: per-series LAST-SEEN state
    * carries across micro-batches, so a gap spanning a batch
    * boundary measures exactly like one inside a batch (the case a
    * per-batch window can never see). Emits one row per point:
    * (series, ts_ns, gap_ns, is_first) with gap_ns = -1 on a
    * series' first point (and on re-entry after TTL expiry — the
    * staleness semantics of the cumulative tracker: an evicted idle
    * series starts over). State is ONE long per live series;
    * `ttlMs` bounds it for unbounded series churn.
    *
    * In-batch ordering is by ts (sorted per series per trigger);
    * cross-batch ordering comes from the source, like every stateful
    * operator here. */
  def streamingGapMonitor(spark: SparkSession,
                          points: Dataset[(String, Long)],
                          ttlMs: Option[Long] = None)(
      implicit e: org.apache.spark.sql.Encoder[(String, Long, Long, Boolean)])
      : Dataset[(String, Long, Long, Boolean)] = {
    import spark.implicits._
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    points.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long, Boolean)](
        OutputMode.Append, timeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.map(_._2).toSeq.sorted
            if (sorted.isEmpty) Iterator.empty
            else {
              var last: Option[Long] = state.getOption
              val out = sorted.map { ts =>
                val row = last match {
                  case Some(prev) => (key, ts, ts - prev, false)
                  case None => (key, ts, -1L, true)
                }
                last = Some(ts)
                row
              }
              state.update(last.get)
              ttlMs.foreach(t => state.setTimeoutDuration(t))
              out.iterator
            }
          }
      }
  }

  /** Streaming DECONTAMINATION — the q_decontaminate semantics over a
    * rolling ingest: every incoming training document's 5-gram
    * shingles probe a FROZEN eval-set shingle store (the static side
    * of a stream-static join; eval benchmarks are small and pinned,
    * exactly the broadcast-able side), and the per-(train, eval)
    * shared-gram counts accumulate in UPDATE mode — a document whose
    * overlap crosses the caller's threshold is quarantined before it
    * ever reaches a training shard. State is one count per
    * (train, eval) CANDIDATE pair (pairs with ≥1 shared gram — the
    * contaminated minority), not per document; run the sink with
    * `outputMode("update")`. The spec pins convergence to the batch
    * operator on the same split. */
  def streamingDecontaminate(spark: SparkSession, docs: DataFrame,
                             evalDocs: DataFrame, n: Int = 5): DataFrame = {
    val evalSh = evalDocs.select(col("eval_id"),
      explode(graft.operators.DedupOps.shinglesOfText(col("text"), n)).as("s"))
    val trainSh = docs.select(col("doc_id").as("train_id"),
      explode(graft.operators.DedupOps.shinglesOfText(col("text"), n)).as("s"))
    trainSh.join(broadcast(evalSh), "s")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Streaming counter-reset tracker — the q_counter_resets /
    * [[graft.operators.MetricsOps.cumulativeToDeltaWithResets]]
    * semantics over an unbounded stream: per-series LAST-READING
    * state carries across micro-batches, so a producer restart
    * spanning a trigger boundary is detected exactly like one inside
    * a batch. A reading below its predecessor emits
    * (is_reset = true, delta = the reading itself) — the
    * cumulativetodelta drop rule; a series' first point is a
    * cumulative from the implicit 0 start. Emits one row per point:
    * (series, order, cum, is_reset, delta). State is ONE double per
    * live series. In-batch ordering is by the order column (sorted
    * per series per trigger); cross-batch ordering comes from the
    * source, like every stateful operator here. The spec pins
    * streaming-over-N-batches == the batch kernel row-for-row. */
  def streamingCounterResets(spark: SparkSession,
                             points: Dataset[(String, Long, Double)])(
      implicit e: org.apache.spark.sql.Encoder[(String, Long, Double, Boolean, Double)])
      : Dataset[(String, Long, Double, Boolean, Double)] = {
    import spark.implicits._
    points.groupByKey(_._1)
      .flatMapGroupsWithState[Double, (String, Long, Double, Boolean, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[Double]) =>
          val sorted = rows.toSeq.sortBy(_._2)
          if (sorted.isEmpty) Iterator.empty
          else {
            var prev: Option[Double] = state.getOption
            val out = sorted.map { case (_, ord, cum) =>
              val isReset = prev.exists(cum < _)
              val delta = if (isReset) cum else cum - prev.getOrElse(0.0)
              prev = Some(cum)
              (key, ord, cum, isReset, delta)
            }
            state.update(prev.get)
            out.iterator
          }
      }
  }

  /** Streaming label-cardinality monitor: per-key HyperLogLog state
    * (the 256 bucket maxima of [[graft.operators.SketchOps]], one
    * Array[Int] per key — fixed 1 KiB state however many distinct
    * values arrive) updated each micro-batch, emitting the running
    * integer harmonic denominator + nonempty count + raw estimate.
    * The JVM kernel here is deliberately BIT-IDENTICAL to the SQL
    * kernel (same md5 bucket/rho layout), so a streaming monitor's
    * state can be checkpoint-merged with batch sketches — the spec
    * pins streaming-after-N-batches == batch-over-the-union exactly.
    * Estimate math mirrors SketchOps: denom = Σ 2^(49−rho) over all
    * 256 buckets (empties contribute 2^49), est = α·m²·2^49 / denom.
    */
  def streamingLabelCardinality(spark: SparkSession,
                                labels: Dataset[(String, String)])(
      implicit e: org.apache.spark.sql.Encoder[(String, Long, Int, Double)])
      : Dataset[(String, Long, Int, Double)] = {
    import spark.implicits._
    labels.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Int], (String, Long, Int, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[Array[Int]]) =>
          val maxima = state.getOption.getOrElse(new Array[Int](256))
          rows.foreach { case (_, v) =>
            val hex = md5Hex(v)
            val bucket = Integer.parseInt(hex.substring(0, 2), 16)
            val x = java.lang.Long.parseLong(hex.substring(2, 14), 16)
            val rho =
              if (x == 0L) 49
              else 49 - (64 - java.lang.Long.numberOfLeadingZeros(x))
            if (rho > maxima(bucket)) maxima(bucket) = rho
          }
          state.update(maxima)
          var denom = 0L; var nonempty = 0
          maxima.foreach { m =>
            denom += (1L << (49 - m)); if (m > 0) nonempty += 1
          }
          val numer = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 562949953421312.0
          Iterator((key, denom, nonempty, numer / denom.toDouble))
      }
  }

  /** Streaming BOILERPLATE detector — the q_boilerplate census over a
    * rolling ingest: per (source, segment-hash) state tracks the
    * distinct documents carrying that 8-token line segment, and the
    * moment the count crosses `minDocs` the segment is flagged ONCE
    * (append-mode alert: (source, segment_hash, n_docs_at_flag)) —
    * chrome discovered across trigger boundaries exactly like inside
    * one batch. After flagging, the doc-set state collapses to a
    * tombstone (the segment is already known chrome; live memory is
    * bounded by UNFLAGGED segments' small doc sets, and `ttlMs`
    * bounds the distinct-segment state space itself for unbounded
    * ingest — an evicted segment restarts its count, an evicted
    * tombstone may re-flag: the staleness trade every TTL-bounded
    * tracker makes). Segmentation and
    * hashing are bit-identical to [[graft.operators.DedupOps
    * .boilerplate]] (trim-split \s+, `window`-token slices, md5 of
    * the space-joined segment), so the flagged set converges to the
    * batch census (spec-pinned). */
  def streamingBoilerplate(spark: SparkSession,
                           docs: Dataset[(Long, String, String)],
                           window: Int = 8, minDocs: Int = 2,
                           ttlMs: Option[Long] = None)(
      implicit e: org.apache.spark.sql.Encoder[(String, String, Int)])
      : Dataset[(String, String, Int)] = {
    import spark.implicits._
    val segs = docs.flatMap { case (id, source, text) =>
      // IDENTICAL segmentation to the batch census, including the
      // [""]-tokenizing empty-doc edge the batch twin deliberately
      // keeps (TextOps pins it cross-engine — never fix one-sided)
      val t = text.trim.split("\\s+")
      val n = (t.length + window - 1) / window
      (0 until n).map { i =>
        val seg = t.slice(i * window, i * window + window).mkString(" ")
        // md5 hex carries no spaces, so source + space + hash splits
        // back unambiguously on the LAST space whatever the source
        // name contains
        (source + " " + md5Hex(seg), id)
      }.distinct.iterator
    }
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    segs.groupByKey(_._1)
      .flatMapGroupsWithState[Set[Long], (String, String, Int)](
        OutputMode.Append, timeout) {
        (key: String, rows: Iterator[(String, Long)],
         state: GroupState[Set[Long]]) =>
          if (state.hasTimedOut) {
            // TTL eviction: an idle unflagged segment forgets its
            // carriers (its count restarts on re-entry) and an idle
            // tombstone may re-flag — the staleness trade every
            // TTL-bounded tracker makes; ttlMs=None keeps exact
            // semantics at the cost of state per distinct segment
            state.remove(); Iterator.empty
          } else {
            val seen0 = state.getOption.getOrElse(Set.empty[Long])
            if (seen0.isEmpty && state.exists) {
              ttlMs.foreach(t => state.setTimeoutDuration(t))
              Iterator.empty // tombstone: already-known chrome
            } else {
              val seen = seen0 ++ rows.map(_._2)
              ttlMs.foreach(t => state.setTimeoutDuration(t))
              if (seen.size >= minDocs) {
                state.update(Set.empty[Long]) // flagged → tombstone
                val cut = key.lastIndexOf(' ')
                Iterator((key.substring(0, cut), key.substring(cut + 1), seen.size))
              } else {
                state.update(seen)
                Iterator.empty
              }
            }
          }
      }
  }

  /** Streaming heavy-hitters monitor: per-key count-min state (4
    * lanes × `width` additive longs — fixed 32 KiB per key however
    * many distinct terms arrive) plus a bounded candidate tracker
    * (2k terms re-scored against the updated sketch each trigger).
    * The JVM kernel is BIT-IDENTICAL to [[graft.operators.SketchOps
    * .cmBucket]] (md5 "lane:term" → first 8 hex → mod width), so a
    * term's running estimate equals the batch sketch's estimate over
    * the union of all triggers EXACTLY — the spec pins it against
    * q_heavy_hitters' cm_est column. Emits the current top-k
    * (estimate desc, term asc) per trigger with a PER-KEY trigger
    * sequence — consumers take each key's max-trig rows (a GLOBAL
    * max would drop keys idle in the last trigger); one-sided error
    * is the count-min guarantee (never underestimates). Candidate-set
    * membership is arrival-order dependent ONLY for terms whose
    * estimates tie at the k boundary — the documented space-saving
    * trade every bounded tracker makes. */
  def streamingHeavyHitters(spark: SparkSession,
                            terms: Dataset[(String, String)],
                            width: Int = 1024, k: Int = 20)(
      implicit e: org.apache.spark.sql.Encoder[(String, Long, String, Long)])
      : Dataset[(String, Long, String, Long)] = {
    import spark.implicits._
    val lanes = 4
    implicit val stEnc: org.apache.spark.sql.Encoder[(Array[Long], Map[String, Long], Long)] =
      org.apache.spark.sql.Encoders.kryo[(Array[Long], Map[String, Long], Long)]
    def buckets(term: String): Array[Int] =
      // the shared md5Hex kernel: first 8 hex chars per lane, mod
      // width — bit-identical to SketchOps.cmBucket
      (0 until lanes).map { lane =>
        (java.lang.Long.parseLong(md5Hex(s"$lane:$term").substring(0, 8), 16)
          % width).toInt
      }.toArray
    terms.groupByKey(_._1)
      .flatMapGroupsWithState[(Array[Long], Map[String, Long], Long), (String, Long, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[(Array[Long], Map[String, Long], Long)]) =>
          val (counts, cand0, trig0) = state.getOption
            .getOrElse((new Array[Long](lanes * width), Map.empty[String, Long], 0L))
          // fold occurrences per DISTINCT term first: 4 digests per
          // term, not per occurrence (a hot trigger has far more
          // occurrences than terms)
          val freq = scala.collection.mutable.Map.empty[String, Long]
          rows.foreach { case (_, term) =>
            freq(term) = freq.getOrElse(term, 0L) + 1L
          }
          freq.foreach { case (term, c) =>
            val bs = buckets(term)
            var l = 0
            while (l < lanes) { counts(l * width + bs(l)) += c; l += 1 }
          }
          val fresh = freq.keySet
          def est(term: String): Long = {
            val bs = buckets(term)
            (0 until lanes).map(l => counts(l * width + bs(l))).min
          }
          // re-score old candidates + this trigger's terms, keep 2k
          val scored = (cand0.keySet ++ fresh).toSeq
            .map(t => t -> est(t))
            .sortBy { case (t, c) => (-c, t) }
          val kept = scored.take(2 * k)
          val trig = trig0 + 1L
          state.update((counts, kept.toMap, trig))
          // the PER-KEY trigger sequence rides the output so a
          // consumer selects each key's latest snapshot (max trig
          // PER KEY — a global max would drop keys idle in the last
          // trigger); earlier snapshots are stale by construction,
          // counts only grow
          kept.take(k).iterator.map { case (t, c) => (key, trig, t, c) }
      }
  }

  /** per-key cumulative counter across micro-batches (stateful
    * delta→cumulative): emits (key, batch_delta, cumulative). */
  def runningCounter(spark: SparkSession, deltas: Dataset[(String, Double)])(
      implicit e: org.apache.spark.sql.Encoder[(String, Double, Double)])
      : Dataset[(String, Double, Double)] = {
    import spark.implicits._
    deltas.groupByKey(_._1)
      .flatMapGroupsWithState[Double, (String, Double, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[Double]) =>
          val delta = rows.map(_._2).sum
          val cum = state.getOption.getOrElse(0.0) + delta
          state.update(cum)
          Iterator((key, delta, cum))
      }
  }

  // ---- streaming corpus statistics (incremental BM25 / bigram LM) --

  /** running BM25 corpus stats: docs seen, total length, per-query-
    * term document frequency — O(|queryTerms|) state, never
    * vocab-sized */
  final case class Bm25CorpusState(n: Long, totalDl: Long, df: Map[String, Long])

  /** running bigram-LM stats: bigram counts, left-unigram counts, and
    * the vocab — vocab bounded by `maxVocab` (the memory-limiter
    * discipline: terms beyond the cap stop growing the vocab and
    * scores become approximations, they never OOM the merge) */
  final case class LmCorpusState(c12: Map[String, Long], c1: Map[String, Long],
                                 vocab: Set[String])

  /** counters for the two-stage corpus-stats operators. The scale
    * contract these make checkable: the stateful merge consumes one
    * bounded PARTIAL-aggregate frame per trigger (`partialRowsIn`),
    * never per-doc rows (`docsIn`) — pre-r8 every doc's payload rode
    * through one stateful task per trigger, which also computed every
    * score; that single task was the throughput ceiling. */
  final class CorpusStatsObs {
    val docsIn = new java.util.concurrent.atomic.AtomicLong
    val partialRowsIn = new java.util.concurrent.atomic.AtomicLong
    val triggers = new java.util.concurrent.atomic.AtomicLong
  }

  /** replay-idempotent per-batch state snapshots for foreachBatch
    * statefulness: `snapshot_<batchId>` is authoritative — if it
    * exists the merge already happened (a replayed batch reloads it
    * instead of double-counting); otherwise the latest earlier
    * snapshot is merged forward and the result lands via temp+rename.
    * Only the immediately-previous snapshot is retained (foreachBatch
    * replays at most the last uncommitted batch). */
  private final class SnapshotStore[S](dir: String, empty: S,
      ser: S => String, de: String => S) {
    private val d = new java.io.File(dir)
    def mergeFor(batchId: Long)(merge: S => S): S = {
      d.mkdirs()
      val cur = new java.io.File(d, s"snapshot_$batchId")
      if (cur.exists()) de(readAll(cur))
      else {
        val prevId = snapshotIds().filter(_ < batchId).sorted.lastOption
        val prev = prevId
          .map(i => de(readAll(new java.io.File(d, s"snapshot_$i"))))
          .getOrElse(empty)
        val next = merge(prev)
        val tmp = new java.io.File(d, s".tmp_snapshot_$batchId")
        java.nio.file.Files.write(tmp.toPath, ser(next).getBytes("UTF-8"))
        val out =
          if (tmp.renameTo(cur)) next
          else if (cur.exists()) {
            // lost the rename race to a concurrent writer (e.g. two
            // queries sharing a stateDir): the DURABLE snapshot is
            // authoritative — return it, not our divergent local
            // merge, and clean up the orphaned temp file
            tmp.delete()
            de(readAll(cur))
          } else throw new java.io.IOException(s"snapshot rename failed: $cur")
        for (i <- snapshotIds() if i < prevId.getOrElse(batchId))
          new java.io.File(d, s"snapshot_$i").delete()
        out
      }
    }
    private def snapshotIds(): Seq[Long] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .map(_.getName).filter(_.startsWith("snapshot_"))
        .map(_.stripPrefix("snapshot_").toLong)
    private def readAll(f: java.io.File): String =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }

  /** Streaming incremental BM25 (the live form of
    * [[graft.operators.TextOps.bm25]]): corpus statistics — N, total
    * document length, per-query-term df — accumulate across
    * micro-batches, and every arriving doc is scored against the
    * RUNNING stats as of its own trigger (update-then-score, so a doc
    * sees a corpus that includes itself, matching the batch operator
    * on a fully-replayed corpus).
    *
    * Input columns: id (long), text, and a boolean `update` flag —
    * rows with update=false score WITHOUT contributing to the stats
    * (the re-score/query path; replaying a corpus with update=false
    * after feeding it with update=true reproduces the batch twin's
    * scores exactly, which is what the convergence spec pins).
    *
    * Scale shape (two-stage, r7 verdict #3): tokenize + query-term
    * filter run MAP-SIDE as column kernels; a distributed partial
    * aggregate reduces each trigger to O(|queryTerms|) rows (per-term
    * df deltas + one scalar row of n/Σdl) which merge into a
    * replay-idempotent snapshot ([[SnapshotStore]], keyed by batchId
    * so crash-replay never double-counts); SCORING then runs map-side
    * across the cluster against the broadcast merged stats. No task
    * ever sees more than its partition's docs — pre-r8 the single
    * flatMapGroupsWithState task both held the state and computed
    * every score, serializing per-doc work onto one slot. `ttlMs`
    * expires stats idle across triggers (the stale-tracker eviction).
    *
    * Each trigger's scored frame (id, n_terms, score, updated) is
    * handed to `sink` — score arithmetic mirrors the batch twin term
    * by term (rational idf, identical op order, per-term
    * DECIMAL(28,8) rounding before the sum).
    */
  /** Streaming content-type monitor: the running per-(source, type)
    * census over a document stream — the live view of the
    * q_content_type routing gate. Detection is the SAME
    * [[graft.operators.TextOps.contentType]] expression as the batch
    * census (the no-drift discipline), evaluated map-side per doc;
    * the stateful half is one windowless count aggregate in Update
    * mode, so state is O(sources × 3 types) however many docs flow.
    * Converges: after any trigger sequence the current counts equal
    * the batch census over the union of all arrived docs (spec-pinned
    * on a two-trigger memory stream). */
  def streamingContentType(docs: DataFrame, sourceCol: String,
                           textCol: String): DataFrame =
    docs.select(col(sourceCol).as("source"),
        graft.operators.TextOps.contentType(col(textCol)).as("content_type"))
      .groupBy(col("source"), col("content_type"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"))

  final case class FirstCarrier(id: Long)

  /** Streaming first-occurrence NOVELTY monitor: the live view of
    * q_novelty's first-carrier verdicts. Segmentation is the SAME
    * [[graft.operators.TextOps.segments8]] kernel as the batch
    * census (no-drift), distinct per doc map-side (array_distinct
    * before the explode — never a streaming distinct); the stateful
    * half keys on the segment hash and holds the FIRST CARRIER id
    * (the streamingLineDedup first-owner discipline). Each arriving
    * (doc, segment) emits its verdict: novel iff this hash was
    * unseen and, within the trigger, this is the smallest arriving
    * doc_id (within-trigger ties resolve by id — the batch report's
    * min(doc_id) rule). Across triggers novelty is FIRST-ARRIVAL:
    * the monitor equals the batch census exactly when arrival order
    * respects doc_id order (the crawl-arrival premise the batch
    * report encodes as min(doc_id) — spec-pinned); out-of-order
    * arrival keeps the honest streaming semantics (the first fetch
    * owns the segment).
    *
    * Emissions are per-segment verdicts (doc_id, source, hash,
    * novel); the per-doc novelty fraction is one bounded doc-keyed
    * aggregate downstream of the sink — kept out of the query so the
    * monitor stays a single stateful operator. `ttlMs` bounds the
    * segment space for unbounded ingest (an expired segment
    * re-enters as first-seen — the streamingLineDedup trade). */
  def streamingNovelty(spark: SparkSession,
                       docs: DataFrame, idCol: String, sourceCol: String,
                       textCol: String, ttlMs: Option[Long] = None)
      : Dataset[(Long, String, String, Boolean)] = {
    import spark.implicits._
    // size(tokens) >= 1 mirrors the batch census's null/empty-text
    // guard (r14 advice): without it a NULL-text doc's NULL token
    // array would reach the segment kernel and the monitor would
    // diverge from q_novelty, which filters these docs out
    val segs = docs
      .withColumn("__ws", graft.operators.TextOps.tokens(col(textCol)))
      .filter(size(col("__ws")) >= 1)
      .select(col(idCol).cast("long").as("id"),
        col(sourceCol).as("src"),
        explode(array_distinct(
          graft.operators.TextOps.segments8(col("__ws")))).as("seg"))
      .select(md5(col("seg")).as("h"), col("id"), col("src"))
      .as[(String, Long, String)]
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    segs.groupByKey(_._1)
      .flatMapGroupsWithState[FirstCarrier, (Long, String, String, Boolean)](
        OutputMode.Append, timeout) {
        (h: String, rows: Iterator[(String, Long, String)],
         state: GroupState[FirstCarrier]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val arrivals = rows.toArray.sortBy(_._2)
            if (arrivals.isEmpty) Iterator.empty
            else {
              val known = state.exists
              if (!known) state.update(FirstCarrier(arrivals.head._2))
              ttlMs.foreach(t => state.setTimeoutDuration(t))
              arrivals.iterator.zipWithIndex.map { case ((_, id, src), i) =>
                (id, src, h, !known && i == 0)
              }
            }
          }
      }
  }

  final case class TermSeen(n: Int)

  /** Streaming VOCAB-GROWTH monitor — Heaps law live: how fast does
    * the vocabulary still grow as ingest proceeds (a source whose
    * curve flattens is re-serving its lexicon; the live view of
    * q_vocab_stats' vocab/hapax scalars and q_freq_spectrum's first
    * buckets). State per term is a SATURATING occurrence class
    * (1 = hapax, 2 = repeated — nothing above 2 matters to the
    * scalars), so emissions are TRANSITIONS only: `new` when a term
    * is first seen, `repeat` when it leaves hapax — at most two rows
    * per distinct term over the stream's whole life, whatever the
    * token volume. Running vocabulary = Σ new; running hapax =
    * Σ new − Σ repeat (convergence to the batch scalars over the
    * trigger union is spec-pinned). One stateful operator; the
    * tokenize + explode runs map-side. `ttlMs` bounds the term space
    * for unbounded ingest (an expired term re-enters as new — the
    * streamingLineDedup trade). */
  def streamingVocabGrowth(spark: SparkSession,
                           docs: DataFrame, textCol: String,
                           ttlMs: Option[Long] = None)
      : Dataset[(String, String)] = {
    import spark.implicits._
    val terms = docs.select(explode(
        graft.operators.TextOps.tokens(col(textCol))).as("term"))
      .as[String].map(t => (t, 1)) // carrier tuple; count rides the iterator
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    terms.groupByKey(_._1)
      .flatMapGroupsWithState[TermSeen, (String, String)](
        OutputMode.Append, timeout) {
        (term: String, rows: Iterator[(String, Int)],
         state: GroupState[TermSeen]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var k = 0
            while (rows.hasNext && k < 2) { rows.next(); k += 1 }
            if (k == 0) Iterator.empty
            else {
              val before = state.getOption.map(_.n).getOrElse(0)
              val after = math.min(2, before + k)
              if (after != before) state.update(TermSeen(after))
              ttlMs.foreach(t => state.setTimeoutDuration(t))
              val events =
                (if (before == 0) Seq("new") else Seq.empty) ++
                  (if (before <= 1 && after == 2) Seq("repeat") else Seq.empty)
              events.iterator.map(e => (term, e))
            }
          }
      }
  }

  final case class SplitsSeen(splits: Seq[String])

  /** Streaming split-leakage GUARD: the live twin of
    * q_split_leakage's census — the moment a verbatim 8-token
    * segment ([[graft.operators.TextOps.segments8]], the shared
    * kernel) arrives from a SECOND split, the arrival is flagged
    * against every split already owning the segment, so a
    * contaminated doc is quarantined before it reaches a training
    * shard (the streamingDecontaminate discipline applied to the
    * corpus's own splits). State per segment hash is the SET of
    * splits seen (≤ #splits entries — never docs, never text);
    * within a trigger, arrivals process in (split, doc) order so
    * same-trigger cross-split collisions flag deterministically.
    * Emissions: (doc_id, split, other_split, hash) — EVERY arrival
    * flags against every foreign owning split (a later doc from an
    * already-owning split still carries the contamination). The
    * distinct (hash, unordered split pair) set over all emissions
    * equals the batch census's leaked-segment pairs EXACTLY, any
    * arrival order (spec-pinned); only the pre-collision EARLY
    * carriers are unflaggable on a stream (nothing foreign owned the
    * segment yet) — the batch census backfills that side. */
  def streamingSplitLeakage(spark: SparkSession,
                            docs: DataFrame, idCol: String, splitCol: String,
                            textCol: String, ttlMs: Option[Long] = None)
      : Dataset[(Long, String, String, String)] = {
    import spark.implicits._
    // same null/empty-text guard as streamingNovelty (r14 advice):
    // two null-text docs in different splits must not flag as
    // leakage via a fabricated shared "" segment
    val segs = docs
      .withColumn("__ws", graft.operators.TextOps.tokens(col(textCol)))
      .filter(size(col("__ws")) >= 1)
      .select(col(idCol).cast("long").as("id"),
        col(splitCol).as("split"),
        explode(array_distinct(
          graft.operators.TextOps.segments8(col("__ws")))).as("seg"))
      .select(md5(col("seg")).as("h"), col("id"), col("split"))
      .as[(String, Long, String)]
    val timeout = if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    segs.groupByKey(_._1)
      .flatMapGroupsWithState[SplitsSeen, (Long, String, String, String)](
        OutputMode.Append, timeout) {
        (h: String, rows: Iterator[(String, Long, String)],
         state: GroupState[SplitsSeen]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val arrivals = rows.toArray.sortBy(r => (r._3, r._2))
            if (arrivals.isEmpty) Iterator.empty
            else {
              var owners = state.getOption.map(_.splits).getOrElse(Seq.empty)
              val out = scala.collection.mutable.ArrayBuffer
                .empty[(Long, String, String, String)]
              // EVERY arrival flags against every foreign owner — a
              // later doc from an already-owning split still carries
              // the cross-split segment and must quarantine too (the
              // guard is per-doc; only the pre-collision early side
              // is unflaggable on a stream, which the batch census
              // backfills)
              arrivals.foreach { case (_, id, split) =>
                owners.filter(_ != split)
                  .foreach(o => out += ((id, split, o, h)))
                if (!owners.contains(split)) owners = owners :+ split
              }
              state.update(SplitsSeen(owners))
              ttlMs.foreach(t => state.setTimeoutDuration(t))
              out.iterator
            }
          }
      }
  }

  final case class ChurnBase(h: String, tk: Long)

  /** Streaming corpus-churn monitor: the live twin of the
    * q_corpus_churn snapshot diff. YESTERDAY's snapshot loads as
    * INITIAL STATE — one (md5, token-count) pair per doc, the same
    * map-side projection the batch report exchanges (text never
    * reaches state); TODAY's crawl streams in as (doc_id, source,
    * content-hash, token-count) rows and each trigger emits the
    * doc's verdict against the stored snapshot: `added` (no prior,
    * delta = its mass), `modified` (content hash differs, delta =
    * token delta), `unchanged` (delta 0). The baseline state is
    * FIXED for the day — a re-crawl later in the stream re-verdicts
    * against YESTERDAY, not against its own earlier arrival (churn
    * is snapshot-to-snapshot, the batch report's semantics); within
    * one trigger the group's last row wins (a crawl frontier
    * dedupes fetches upstream — multi-fetch order inside a trigger
    * is the stream's, not ours).
    *
    * `removed` is deliberately NOT a streaming emission: an absence
    * is unobservable on a stream without a snapshot-complete marker,
    * so retention stays a batch-diff question — the convergence spec
    * pins the streamed verdicts equal to the batch diff RESTRICTED
    * to the arrival-observable classes (everything but `removed`).
    *
    * Scale shape: state is one 32-char hash + a long per BASELINE
    * doc (never text), partitioned by doc_id like any keyed state;
    * each trigger's work is ∝ its arrivals. Update output mode —
    * the latest verdict per doc supersedes. */
  def streamingCorpusChurn(spark: SparkSession,
                           today: Dataset[(Long, String, String, Long)],
                           baseline: Dataset[(Long, String, Long)])
      : Dataset[(Long, String, String, Long)] = {
    import spark.implicits._
    val init = baseline.groupByKey(_._1)
      .mapValues(r => ChurnBase(r._2, r._3))
    today.groupByKey(_._1)
      .flatMapGroupsWithState[ChurnBase, (Long, String, String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout, init) {
        (id: Long, rows: Iterator[(Long, String, String, Long)],
         state: GroupState[ChurnBase]) =>
          var last: (Long, String, String, Long) = null
          rows.foreach(last = _)
          if (last == null) Iterator.empty
          else {
            val (_, source, h, tk) = last
            state.getOption match {
              case None =>
                Iterator((id, source, "added", tk))
              case Some(base) if base.h != h =>
                Iterator((id, source, "modified", tk - base.tk))
              case Some(_) =>
                Iterator((id, source, "unchanged", 0L))
            }
          }
      }
  }

  def streamingBm25(spark: SparkSession, docs: DataFrame, idCol: String,
                    textCol: String, updateCol: String,
                    queryTerms: Seq[String], stateDir: String,
                    k1: Double = 1.2, b: Double = 0.75,
                    ttlMs: Option[Long] = None,
                    checkpointDir: Option[String] = None,
                    obs: Option[CorpusStatsObs] = None)
                   (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val store = new SnapshotStore[(Long, Bm25CorpusState)](
      stateDir, (0L, Bm25CorpusState(0L, 0L, Map.empty)),
      ser = { case (ms, st) =>
        (s"$ms ${st.n} ${st.totalDl}" +:
          st.df.toSeq.sortBy(_._1).map { case (t, c) => s"$t\t$c" }).mkString("\n")
      },
      de = { str =>
        val lines = str.linesIterator.toSeq
        val head = lines.head.split(" ")
        (head(0).toLong, Bm25CorpusState(head(1).toLong, head(2).toLong,
          lines.tail.map { l =>
            val f = l.split("\t"); f(0) -> f(1).toLong
          }.toMap))
      })
    val writer = docs.writeStream.outputMode("update")
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.foreachBatch { (batchDf: DataFrame, batchId: Long) =>
      val s = batchDf.sparkSession
      import s.implicits._
      val toks = graft.operators.TextOps.tokens(col(textCol))
      val prepped = batchDf.select(
          col(idCol).cast("long").as("id"),
          size(toks).cast("long").as("dl"),
          filter(toks, t => t.isInCollection(queryTerms)).as("hits"),
          col(updateCol).cast("boolean").as("upd"))
        .persist()
      try {
        val (_, st) = store.mergeFor(batchId) { case (lastMs, prev0) =>
          // TTL: stats idle longer than the window restart from zero
          val now = System.currentTimeMillis()
          val prev = if (ttlMs.exists(t => lastMs > 0L && now - lastMs > t))
            Bm25CorpusState(0L, 0L, Map.empty) else prev0
          // the per-trigger partials: O(|queryTerms|) df-delta rows +
          // one scalar row — THE only data the stateful merge sees
          val updD = prepped.filter(col("upd"))
          val termRows = updD
            .select(explode(array_distinct(col("hits"))).as("term"))
            .groupBy(col("term")).agg(count(lit(1)).as("df")).collect()
          val scal = updD.agg(count(lit(1)).as("n"),
            coalesce(sum(col("dl")), lit(0L)).as("dl")).head()
          obs.foreach(_.partialRowsIn.addAndGet(termRows.length + 1L))
          val df2 = termRows.foldLeft(prev.df) { (m, r) =>
            m.updated(r.getString(0), m.getOrElse(r.getString(0), 0L) + r.getLong(1))
          }
          (now, Bm25CorpusState(prev.n + scal.getLong(0),
            prev.totalDl + scal.getLong(1), df2))
        }
        obs.foreach { o =>
          o.docsIn.addAndGet(prepped.count()); o.triggers.incrementAndGet()
        }
        // scoring: pure column kernels (codegen'd, no per-row
        // encode/decode) — the per-term df table is O(|queryTerms|)
        // and rides as a literal map in the plan; each term's score
        // rounds through DECIMAL(28,8) before the exact decimal sum
        // (the Spark double→decimal cast = shortest-string + HALF_UP,
        // QUtil.dsum's contract), so replayed scores stay
        // bit-identical to the batch twin
        val dec = org.apache.spark.sql.types.DecimalType(28, 8)
        val scored =
          if (st.n == 0L)
            prepped.select(col("id"), lit(0L).as("n_terms"),
              lit(0.0).as("score"), col("upd").as("updated"))
          else {
            val n = st.n.toDouble
            val avgdl = st.totalDl.toDouble / n
            val dfMap =
              if (st.df.isEmpty) typedLit(Map.empty[String, Double])
              else typedLit(st.df.map { case (k, v) => k -> v.toDouble })
            val terms = array_sort(array_distinct(col("hits")))
            def termScore(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
              val tfd = size(filter(col("hits"), h => h === t)).cast("double")
              val dft = coalesce(element_at(dfMap, t), lit(0.0))
              val idf = (lit(n) - dft + lit(0.5)) / (dft + lit(0.5))
              idf * (tfd * lit(k1 + 1.0)) /
                (tfd + lit(k1) * (lit(1.0 - b) +
                  lit(b) * (col("dl").cast("double") / lit(avgdl))))
            }
            prepped.select(col("id"),
              size(terms).cast("long").as("n_terms"),
              when(size(terms) === 0, lit(0.0)).otherwise(
                aggregate(terms, lit(java.math.BigDecimal.ZERO).cast(dec),
                  (acc, t) => (acc + termScore(t).cast(dec)).cast(dec))
                  .cast("double")).as("score"),
              col("upd").as("updated"))
          }
        sink(scored, batchId)
      } finally prepped.unpersist()
    }.start()
  }

  /** Streaming incremental add-one bigram LM (the live form of
    * [[graft.operators.TextOps.lmBigramScore]]): bigram/unigram/vocab
    * counts accumulate across micro-batches; arriving docs score
    * against the running tables (update-then-score). Same two-stage
    * shape and input/flag contract as [[streamingBm25]]: the stateful
    * merge sees only per-trigger DELTAS — one row per distinct batch
    * bigram plus the distinct batch tokens (unigram counts derive
    * from the bigram deltas driver-side: c1(head) = Σ c12(head,·)) —
    * and scoring runs map-side against the broadcast tables. Partial
    * size is bounded by batch content (admission control bounds the
    * batch), never by corpus vocabulary; the vocab itself is capped
    * by `maxVocab` in sorted-term arrival order (deterministic).
    * Docs with <2 tokens emit nothing (the batch twin's filter).
    * Each trigger hands (id, n_bigrams, score, updated) to `sink`.
    */
  def streamingLmBigram(spark: SparkSession, docs: DataFrame, idCol: String,
                        textCol: String, updateCol: String, stateDir: String,
                        maxVocab: Int = 1000000, ttlMs: Option[Long] = None,
                        checkpointDir: Option[String] = None,
                        obs: Option[CorpusStatsObs] = None)
                       (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val SEP = "\u0000" // tokens are whitespace-split, NUL never occurs
    val store = new SnapshotStore[(Long, LmCorpusState)](
      stateDir, (0L, LmCorpusState(Map.empty, Map.empty, Set.empty)),
      ser = { case (ms, st) =>
        (Seq(ms.toString) ++
          st.vocab.toSeq.sorted.map(t => s"V\t$t") ++
          st.c1.toSeq.sortBy(_._1).map { case (t, c) => s"U\t$t\t$c" } ++
          st.c12.toSeq.sortBy(_._1).map { case (t, c) => s"B\t$t\t$c" })
          .mkString("\n")
      },
      de = { str =>
        val lines = str.linesIterator.toSeq
        var vocab = Set.empty[String]
        var c1 = Map.empty[String, Long]
        var c12 = Map.empty[String, Long]
        lines.tail.foreach { l =>
          val f = l.split("\t")
          f(0) match {
            case "V" => vocab += f(1)
            case "U" => c1 += f(1) -> f(2).toLong
            case "B" => c12 += f(1) -> f(2).toLong
          }
        }
        (lines.head.toLong, LmCorpusState(c12, c1, vocab))
      })
    val writer = docs.writeStream.outputMode("update")
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.foreachBatch { (batchDf: DataFrame, batchId: Long) =>
      val s = batchDf.sparkSession
      import s.implicits._
      val prepped = batchDf.select(
          col(idCol).cast("long").as("id"),
          graft.operators.TextOps.tokens(col(textCol)).as("toks"),
          col(updateCol).cast("boolean").as("upd"))
        .persist()
      try {
        val (_, st) = store.mergeFor(batchId) { case (lastMs, prev0) =>
          val now = System.currentTimeMillis()
          val prev = if (ttlMs.exists(t => lastMs > 0L && now - lastMs > t))
            LmCorpusState(Map.empty, Map.empty, Set.empty) else prev0
          val updD = prepped.filter(col("upd"))
          // distinct-bigram deltas (map-side combined) + distinct
          // tokens: the only rows the merge ever collects — bounded
          // by batch content, never corpus vocabulary
          val bigramRows = updD
            .filter(size(col("toks")) >= 2)
            .select(explode(
              transform(slice(col("toks"), lit(1), size(col("toks")) - 1),
                (t, i) => concat(t, lit(SEP), element_at(col("toks"), i + 2))))
              .as("bg"))
            .groupBy(col("bg")).agg(count(lit(1)).as("c")).collect()
          val tokenRows = updD
            .select(explode(array_distinct(col("toks"))).as("t"))
            .distinct().collect().map(_.getString(0))
          obs.foreach(_.partialRowsIn.addAndGet(
            bigramRows.length.toLong + tokenRows.length.toLong))
          var c12 = prev.c12; var c1 = prev.c1; var vocab = prev.vocab
          bigramRows.sortBy(_.getString(0)).foreach { r =>
            val key = r.getString(0); val delta = r.getLong(1)
            c12 = c12.updated(key, c12.getOrElse(key, 0L) + delta)
            val head = key.substring(0, key.indexOf(SEP))
            c1 = c1.updated(head, c1.getOrElse(head, 0L) + delta)
          }
          tokenRows.sorted.foreach(t =>
            if (vocab.size < maxVocab) vocab = vocab + t)
          (now, LmCorpusState(c12, c1, vocab))
        }
        obs.foreach { o =>
          o.docsIn.addAndGet(prepped.count()); o.triggers.incrementAndGet()
        }
        // scoring: column kernels over a bigram explode + broadcast
        // joins against the snapshot tables (the batch twin's own
        // shape — no per-row encode/decode). The state tables are
        // driver-held frames; Spark broadcasts them, so scoring
        // stays distributed. Per-pair p rounds through
        // DECIMAL(28,8) before the exact decimal sum (QUtil.dsum's
        // double→decimal cast), divided by n_bigrams in double —
        // bit-identical to the batch twin's op order.
        val v = st.vocab.size.toDouble
        val dec = org.apache.spark.sql.types.DecimalType(28, 8)
        val c12df = st.c12.toSeq.toDF("bg", "c12")
        val c1df = st.c1.toSeq.toDF("h", "c1")
        val pairs = prepped.filter(size(col("toks")) >= 2)
          .select(col("id"), col("upd"), explode(
            transform(slice(col("toks"), lit(1), size(col("toks")) - 1),
              (t, i) => concat(t, lit(SEP), element_at(col("toks"), i + 2))))
            .as("bg"))
          .withColumn("h", substring_index(col("bg"), SEP, 1))
        val scored = pairs
          .join(broadcast(c12df), Seq("bg"), "left")
          .join(broadcast(c1df), Seq("h"), "left")
          .withColumn("p",
            (coalesce(col("c12"), lit(0L)).cast("double") + lit(1.0)) /
              (coalesce(col("c1"), lit(0L)).cast("double") + lit(v)))
          .groupBy(col("id"), col("upd"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("p").cast(dec)).cast("double").as("__psum"))
          .select(col("id"), col("n_bigrams"),
            (col("__psum") / col("n_bigrams").cast("double")).as("score"),
            col("upd").as("updated"))
        sink(scored, batchId)
      } finally prepped.unpersist()
    }.start()
  }

  /** Streaming quality-SURVIVAL monitor: the live view of
    * q_quality_survival's curve (r14 verdict #5). Each arriving doc
    * scores through the ONE shared
    * [[graft.operators.TextOps.survivalBuckets]] kernel (the same
    * scorer as the batch curve — one implementation, no drift) and
    * lands in its 20‰ bucket; the monitor is a plain streaming
    * aggregation in UPDATE mode over (source, bucket) — running
    * (docs, token mass) per cell, state O(11 buckets × sources),
    * Spark's agg state machinery (no custom state). The cumulative
    * curve (threshold join over buckets, the 11×11 grid) is one
    * bounded batch aggregate DOWNSTREAM of the sink, same as the
    * batch query builds it — kept out of the stream so the monitor
    * stays a single stateful operator. Converges to the batch
    * per-bucket table over the trigger union (spec-pinned): counts
    * and token sums are associative, so any trigger slicing yields
    * the identical final state. */
  def streamingQualitySurvival(spark: SparkSession,
                               docs: DataFrame, sourceCol: String,
                               textCol: String): DataFrame =
    graft.operators.TextOps.survivalBuckets(docs, textCol)
      .groupBy(col(sourceCol).as("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("toks"))

  /** Streaming mojibake-repair monitor: the live view of
    * q_text_fix's census (the stage+query+monitor triple on the
    * decode axis — ONE kernel, [[graft.operators.TextOps
    * .fixMojibake]], behind the §2 census, the `text_fix` config
    * stage and this monitor, so the repair table cannot drift
    * between surfaces). Plain UPDATE-mode aggregation per source:
    * docs seen, docs carrying the double-encoded class (repair
    * changed bytes), chars recovered. State O(sources); counts are
    * associative, so any trigger slicing converges to the batch
    * aggregate over the same frame (spec-pinned against the
    * q_text_fix census columns on an identically doctored corpus).
    * Null text counts in n_docs and never flags (null comparisons
    * fall out of both sums — the count-but-never-keep guard). */
  def streamingTextFix(docs: DataFrame, sourceCol: String = "source",
                       textCol: String = "text"): DataFrame =
    // the repair chain projects ONCE before the aggregate (the batch
    // census's withColumn shape) — embedding it in each agg
    // expression would re-evaluate the 8-replace chain per counter
    // unless codegen CSE happens to rescue it (review wave); the
    // all-null-source edge coalesces to 0, not NULL (the doc
    // contract: null text counts and never flags)
    docs.select(col(sourceCol).as("source"), col(textCol).as("__raw"),
        graft.operators.TextOps.fixMojibake(col(textCol)).as("__fixed"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__fixed") =!= col("__raw"), 1L).otherwise(0L))
          .as("n_mojibake_docs"),
        coalesce(sum((length(col("__raw")) - length(col("__fixed")))
          .cast("long")), lit(0L)).as("chars_recovered"))

  /** Streaming confusable-folding monitor: the live view of
    * q_text_normalize — the decode chain's MIDDLE stage, the only
    * one of the text_fix → text_normalize → pii_scrub triple that
    * had no live twin until r18 (r17 verdict #2). ONE kernel,
    * [[graft.operators.TextOps.normalizeConfusables]], behind the
    * §2 per-doc census, the `text_normalize` config stage and this
    * monitor. Plain UPDATE-mode aggregation per source: docs seen,
    * docs the folding changed (smart quotes/dashes/NBSP fold 1:1,
    * zero-widths and BOM strip), chars stripped (the strip classes
    * only — folds are length-preserving). State O(sources); counts
    * associative, so any trigger slicing converges to the batch
    * aggregate over the same frame (spec-pinned against
    * q_text_normalize's per-doc census rolled up per source). Null
    * text counts in n_docs and never flags (null comparisons fall
    * out of both sums — the count-but-never-keep guard). */
  def streamingTextNormalize(docs: DataFrame,
                             sourceCol: String = "source",
                             textCol: String = "text"): DataFrame =
    // the fold chain projects ONCE before the aggregate (the
    // streamingTextFix shape — per-counter re-evaluation of the
    // 5-class regexp chain would bet on codegen CSE); the
    // all-null-source edge coalesces to 0, not NULL
    docs.select(col(sourceCol).as("source"), col(textCol).as("__raw"),
        graft.operators.TextOps.normalizeConfusables(col(textCol))
          .as("__norm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__norm") =!= col("__raw"), 1L).otherwise(0L))
          .as("n_normalized_docs"),
        coalesce(sum((length(col("__raw")) - length(col("__norm")))
          .cast("long")), lit(0L)).as("chars_stripped"))

  /** Streaming PII-scrub monitor: the live audit of q_pii_redact's
    * mask classes (the stage+query+monitor triple on the PII axis —
    * ONE kernel, [[graft.operators.TextOps.piiScrub]], behind the
    * §2 audit, the `pii_scrub` config stage and this monitor).
    * Plain UPDATE-mode aggregation per source: docs seen, docs whose
    * scrub surfaced each placeholder class, chars removed
    * (legitimately negative when a placeholder outgrows a short
    * digit run — the batch census's accounting verbatim). State
    * O(sources); converges under any trigger slicing, spec-pinned
    * equal to q_pii_redact's audit columns on the identically
    * synthesized corpus. Null text counts and never flags. */
  def streamingPiiScrub(docs: DataFrame, sourceCol: String = "source",
                        textCol: String = "text"): DataFrame =
    // the 4-regex scrub projects ONCE before the aggregate (the
    // batch census's withColumn shape — five agg copies would
    // re-scrub per counter without codegen CSE; review wave); the
    // all-null-source edge coalesces to 0, not NULL
    docs.select(col(sourceCol).as("source"), col(textCol).as("__raw"),
        graft.operators.TextOps.piiScrub(col(textCol)).as("__red"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__red").contains("<EMAIL>"), 1L).otherwise(0L))
          .as("n_email_docs"),
        sum(when(col("__red").contains("<IP>"), 1L).otherwise(0L))
          .as("n_ip_docs"),
        sum(when(col("__red").contains("<PHONE>"), 1L).otherwise(0L))
          .as("n_phone_docs"),
        coalesce(sum((length(col("__raw")) - length(col("__red")))
          .cast("long")), lit(0L)).as("chars_removed"))

  /** Streaming MIME-sniff monitor: the live blob-type census of a
    * multimodal INGEST stream — ONE kernel
    * ([[graft.operators.MultimodalOps.sniffMime]], the magic-byte
    * walk q_mime_sniff censuses) behind batch and monitor. Plain
    * UPDATE-mode aggregation keyed on the sniffed type; state
    * O(mime alphabet) — bounded by the sniffer's fixed signature
    * table, not the corpus. The live number: a crawl feed whose
    * type mix shifts (a partner starts shipping WebP, a proxy
    * starts returning HTML error pages as "images") shows up here
    * before the corpus census does. Converges to the batch census
    * under any trigger slicing (spec-pinned row-for-row). Input
    * column: `blob` (binary). */
  def streamingMimeSniff(blobs: DataFrame,
                         blobCol: String = "blob"): DataFrame =
    blobs.groupBy(graft.operators.MultimodalOps.sniffMime(col(blobCol))
        .as("mime"))
      .agg(count(lit(1)).as("n_blobs"),
        // null blobs sniff to octet-stream and contribute 0 bytes —
        // coalesce so an all-null slice emits 0, not NULL (the
        // null-sum discipline of the sibling monitors; r17 advice)
        coalesce(sum(length(col(blobCol))), lit(0L)).as("total_bytes"))

  /** Streaming language-ID confusion monitor: the live view of
    * q_lang_id's (label, predicted) matrix — ONE kernel
    * ([[graft.operators.TextOps.langId]], the stopword vote with the
    * deterministic tie order) behind the batch census and this
    * monitor. Plain UPDATE-mode aggregation; state O(langs²) —
    * bounded by the label and prediction alphabets, not the corpus.
    * Counts are associative: any trigger slicing converges to the
    * batch matrix (spec-pinned row-for-row). Null text predicts like
    * the batch kernel (tokens(null) → null → 'und' path is identical
    * — one expression, no drift). */
  def streamingLangId(docs: DataFrame, langCol: String = "lang",
                      textCol: String = "text"): DataFrame =
    docs.select(col(langCol).as("lang"),
        graft.operators.TextOps.langId(
          graft.operators.TextOps.tokens(col(textCol))).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  /** Streaming TRIGRAM language-ID monitor (r17 verdict #6 — the
    * opt-in upgrade over [[streamingLangId]]'s stopword vote:
    * q_lang_trigram's profile model is §2's own documented better
    * detector, including on languages the stopword lists cannot
    * name): the SAME Cavnar–Trenkle out-of-place scorer as the
    * batch census, run per row via
    * [[graft.operators.TextOps.withTrigramLangId]] — the doc's
    * top-200 trigram ranks compute inside the row and the TRAINED
    * profile (langs × ≤200 rows, from
    * [[graft.DataPipelineQueries.trigramLangProfile]]) rides the
    * plan as bounded per-language literal maps, so the monitor is
    * a row-local projection chain + one Update-mode aggregation
    * (staged aliases, not one nested expression — interpreted HOFs
    * re-evaluate subtrees per lambda call). State O(langs²);
    * counts associative → any trigger slicing converges to the batch
    * census over the same frame (spec-pinned row-for-row, plus the
    * scorer itself pinned prediction-for-prediction equal to the
    * batch window/join pipeline on the held-out split). `maxChars`
    * bounds per-row work (language ID reads a prefix, not the
    * document); short/null text lands in 'und' like the batch
    * kernel. */
  def streamingLangIdTrigram(docs: DataFrame,
                             profile: Seq[(String, String, Long)],
                             maxChars: Int = 400,
                             langCol: String = "lang",
                             textCol: String = "text"): DataFrame =
    graft.operators.TextOps.withTrigramLangId(
        docs.select(col(langCol).as("lang"), col(textCol).as("text")),
        "text", "predicted", profile, maxChars)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  /** Streaming embedding-QA monitor: the live view of
    * q_embed_norm_qa over an embedding INGEST stream — the literal
    * SAME [[graft.DataPipelineQueries.embedNormCensus]] call (every
    * aggregate in it is associative min/max/count/sum, so the one
    * kernel runs batch and Update-mode unchanged; state O(labels)).
    * The number that matters live: n_zero — zero-norm vectors
    * NaN-poison cosine downstream (the pair-align hazard), and an
    * ingest feed that starts emitting them should alert before the
    * corpus does. Converges to the batch census under any trigger
    * slicing (spec-pinned). Input columns: label, embedding. */
  def streamingEmbedNormQa(embs: DataFrame): DataFrame =
    graft.DataPipelineQueries.embedNormCensus(embs)

  /** Streaming Gopher quality-gate monitor (r17 verdict #8): the
    * live view of q_gopher_rules' per-source violation census — the
    * literal SAME [[graft.DataPipelineQueries.gopherCensus]] call
    * (map-side rule flags from the shared
    * [[graft.operators.TextOps.gopherFlags]] table — the expressions
    * the `gopher_gate` config processor filters on — then one
    * Update-mode aggregate of associative counts; state O(sources)).
    * The number that matters live: a feed whose n_pass/n_docs
    * collapses mid-crawl (a template change flooding symbol-heavy or
    * stub pages) alerts here before the corpus census runs; the
    * per-rule v_* columns say WHICH rule broke. Converges to the
    * batch census row-for-row under any trigger slicing
    * (spec-pinned). Input columns: source, text. */
  def streamingGopherRules(docs: DataFrame): DataFrame =
    graft.DataPipelineQueries.gopherCensus(docs)

  /** Streaming DECONTAMINATION monitor: the live twin of
    * q_decontaminate — an ingest feed that starts swallowing
    * benchmark text should alert BEFORE the corpus census runs. Each
    * arriving train doc scores row-locally via
    * [[graft.operators.DedupOps.withContamScore]] (max occurrence-
    * pair 5-gram share with any eval doc — the batch join's exact
    * accounting, reproduced inside the row against the broadcast
    * postings from [[graft.DataPipelineQueries.decontamPostings]];
    * eval sets are benchmark-sized, so the literal map is bounded by
    * construction), then ONE Update-mode per-source aggregate:
    * docs seen, docs at or past the q_decontaminate cutoff
    * (`minShared`, default the flagship's 3). State O(sources);
    * counts associative → converges to the batch verdict under any
    * trigger slicing (spec-pinned per source against the census's
    * own pair frame). Input columns: source, text. */
  def streamingDecontam(docs: DataFrame,
                        postings: Map[String, Seq[Long]],
                        minShared: Int = 3): DataFrame =
    graft.operators.DedupOps
      .withContamScore(docs, "text", "__n_shared_max", postings)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__n_shared_max") >= minShared, 1L).otherwise(0L))
          .as("n_contaminated"))

  /** Streaming pair-ALIGNMENT monitor: the live view of
    * q_pair_align's keep curve (the streamingQualitySurvival
    * discipline on the multimodal axis). Input is the (source, sim)
    * frame the ONE shared [[graft.DataPipelineQueries.pairAlignSims]]
    * kernel produces (same paired-view synthesis + cosine as the
    * batch census — no drift); each pair lands in its 5-point
    * alignment bucket (floor(sim·100 / 5)·5 — bucket ≥ t ⟺
    * sim·100 ≥ t for every grid threshold t, so the batch keep curve
    * rebuilds EXACTLY as the suffix sums of the bucket counts,
    * spec-pinned row-for-row). Plain UPDATE-mode aggregation over
    * (source, bucket): state O(buckets × sources), associative
    * counts — any trigger slicing converges to the identical final
    * state; the cumulative curve is a bounded batch aggregate
    * downstream of the sink, same as the batch query builds it. */
  def streamingPairAlign(pairs: DataFrame,
                         sourceCol: String = "source",
                         simCol: String = "sim"): DataFrame =
    pairs.groupBy(col(sourceCol).as("source"),
        // NaN sims (zero-vector pairs) AND null sims (null embedding
        // arrays) land in an explicit sentinel bucket below every
        // legitimate value — counted in the totals, never in a
        // suffix sum, exactly the batch census's count-but-never-keep
        // guard. -105, not -100: cosine -1.0 legitimately buckets to
        // -100 (floor(-100/5)·5) and the sentinel must not merge
        // anti-aligned real pairs with poison pairs (review wave); a
        // bare floor would bucket NaN/null to NULL and a rebuild
        // reading that as 0 would corrupt the keep curve.
        when(isnan(col(simCol)) || col(simCol).isNull, lit(-105L))
          .otherwise((floor(col(simCol) * lit(100) / lit(5.0)) * lit(5))
            .cast("long")).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
}
