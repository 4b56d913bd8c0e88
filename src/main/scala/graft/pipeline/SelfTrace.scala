package graft.pipeline

/** The collector's INTERNAL self-tracing (reference
  * service/telemetry.go:46-50: the service builds its own
  * TracerProvider so zpages can serve tracez;
  * service/telemetry/otel_trace_sampler.go: the record-only
  * parent-based sampler; service/telemetry/generated_config.go:
  * 204-230,459-492: the sampler-mode config shapes). Graft's analog
  * records span-shaped values for pipeline runs — a pipeline root
  * span with receiver/processor/exporter children, durations and
  * error status — into a bounded in-process store the tracez zpage
  * renders ([[ZpagesServer]]). Remote parents arrive through the
  * configured text-map propagators ([[graft.sources.Propagators]]),
  * which is what makes the parent-based sampler's remote modes
  * reachable.
  */
object SelfTrace {

  /** a span's identity as samplers and children see it. `remote` is
    * the parent-based discriminator: true when the context came off
    * the wire (a propagator extract), false for an in-process parent. */
  final case class SpanRef(traceId: String, spanId: String,
                           sampled: Boolean, remote: Boolean)

  /** a context EXTRACTED off the wire by a configured text-map
    * propagator is by definition a remote parent — the bridge that
    * feeds trace context through to the parent-based sampler's
    * remote modes */
  def fromPropagated(ctx: graft.sources.Propagators.SpanContext): SpanRef =
    SpanRef(ctx.traceId, ctx.spanId, ctx.sampled, remote = true)

  /** sdktrace.SamplingDecision: Drop records nothing; RecordOnly
    * records for zpages but does not set the sampled flag on
    * propagated context; RecordAndSample does both. */
  sealed abstract class Decision(val recorded: Boolean, val sampled: Boolean)
  case object Drop extends Decision(false, false)
  case object RecordOnly extends Decision(true, false)
  case object RecordAndSample extends Decision(true, true)

  sealed trait Sampler {
    def shouldSample(parent: Option[SpanRef], traceId: String): Decision
    def description: String
  }
  case object AlwaysOn extends Sampler {
    def shouldSample(p: Option[SpanRef], t: String): Decision = RecordAndSample
    def description: String = "AlwaysOnSampler"
  }
  case object AlwaysOff extends Sampler {
    def shouldSample(p: Option[SpanRef], t: String): Decision = Drop
    def description: String = "AlwaysOffSampler"
  }

  /** the reference's recordSampler (otel_trace_sampler.go:10-18):
    * record every span for the zpages surface, sample none */
  case object AlwaysRecord extends Sampler {
    def shouldSample(p: Option[SpanRef], t: String): Decision = RecordOnly
    def description: String = "Always record sampler"
  }

  /** TraceIdRatioBased (otel SDK semantics): the trace id's leading
    * 8 bytes, upper bit cleared, compared against ratio·2⁶³ — the
    * decision is a pure function of the trace id, so every member of
    * one trace samples identically without coordination. */
  final case class TraceIdRatioBased(ratio: Double) extends Sampler {
    require(ratio >= 0.0 && ratio <= 1.0,
      s"trace_id_ratio_based ratio must be in [0,1], got $ratio")
    private val bound = (ratio * Long.MaxValue).toLong
    def shouldSample(p: Option[SpanRef], t: String): Decision = {
      // otel-go compares x < fraction·2⁶³ where x ∈ [0, 2⁶³−1], so
      // fraction 1.0 samples EVERYTHING; Long.MaxValue = 2⁶³−1 would
      // drop the single top value — special-case it
      if (ratio >= 1.0) return RecordAndSample
      val x = java.lang.Long.parseUnsignedLong(t.take(16), 16) >>> 1
      if (x < bound) RecordAndSample else Drop
    }
    def description: String = f"TraceIDRatioBased{$ratio%.6f}"
  }

  /** sdktrace.ParentBased: the root sampler decides parentless spans;
    * spans with a parent route by (remote?, parent sampled?). The
    * otel defaults for unset variants: remote/local parent-sampled →
    * AlwaysOn, parent-not-sampled → AlwaysOff. */
  final case class ParentBased(
      root: Sampler,
      remoteParentSampled: Sampler = AlwaysOn,
      remoteParentNotSampled: Sampler = AlwaysOff,
      localParentSampled: Sampler = AlwaysOn,
      localParentNotSampled: Sampler = AlwaysOff) extends Sampler {
    def shouldSample(parent: Option[SpanRef], traceId: String): Decision =
      parent match {
        case None => root.shouldSample(parent, traceId)
        case Some(p) =>
          val delegate =
            if (p.remote) { if (p.sampled) remoteParentSampled else remoteParentNotSampled }
            else { if (p.sampled) localParentSampled else localParentNotSampled }
          delegate.shouldSample(parent, traceId)
      }
    def description: String = s"ParentBased{root=${root.description}}"
  }

  /** The provider default (telemetry.go:46-50 via
    * otel_trace_sampler.go:20-28) — faithfully INCLUDING the
    * reference's option-list quirk: alwaysRecord() passes
    * WithRemoteParentSampled TWICE (lines 23 and 27, the second
    * surely meant to be WithLocalParentNotSampled), and otel-go
    * applies options in order so the LAST one wins. Shipped behavior,
    * which graft mirrors: root, remote-parent-sampled and
    * remote-parent-not-sampled all RecordOnly; local-parent-sampled
    * AlwaysSample; local-parent-not-sampled keeps the ParentBased
    * default AlwaysOff (Drop) — it never received the record sampler
    * the code shape suggests it was meant to get. */
  val DefaultAlwaysRecord: ParentBased = ParentBased(
    root = AlwaysRecord,
    remoteParentSampled = AlwaysRecord,
    remoteParentNotSampled = AlwaysRecord,
    localParentSampled = AlwaysOn,
    localParentNotSampled = AlwaysOff)

  /** Parse the service::telemetry::traces::sampler config node
    * (generated_config.go:204-230: exactly one of always_on /
    * always_off / trace_id_ratio_based / parent_based /
    * jaeger_remote). jaeger_remote needs a live sampling endpoint —
    * refused loudly, naming the reason, like every other
    * unsupported-by-choice shape. */
  def parseSampler(node: Map[String, Object]): Sampler = {
    def asMap(o: Object): Map[String, Object] = {
      import scala.jdk.CollectionConverters._
      o match {
        case null => Map.empty
        case m: java.util.Map[_, _] =>
          m.asScala.map { case (k, v) =>
            k.toString -> v.asInstanceOf[Object] }.toMap
        case other => throw new IllegalArgumentException(
          s"sampler node must be a mapping, got ${other.getClass.getSimpleName}")
      }
    }
    val known = Set("always_on", "always_off", "trace_id_ratio_based",
      "parent_based", "jaeger_remote")
    val keys = node.keySet
    val bad = keys.diff(known)
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"unknown sampler kind(s): ${bad.toSeq.sorted.mkString(",")} " +
        s"(expected one of ${known.toSeq.sorted.mkString(", ")})")
    if (keys.size != 1) throw new IllegalArgumentException(
      s"sampler must declare exactly ONE kind, got ${keys.size}: " +
        keys.toSeq.sorted.mkString(","))
    keys.head match {
      case "always_on" => AlwaysOn
      case "always_off" => AlwaysOff
      case "jaeger_remote" => throw new IllegalArgumentException(
        "jaeger_remote sampler requires a remote sampling endpoint — " +
          "not supported; use parent_based/trace_id_ratio_based instead")
      case "trace_id_ratio_based" =>
        val m = asMap(node("trace_id_ratio_based"))
        val ratio = m.get("ratio").map {
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"trace_id_ratio_based ratio must be a number, got '$other'")
        }.getOrElse(1.0) // generated_config: unset ratio samples all
        TraceIdRatioBased(ratio)
      case "parent_based" =>
        val m = asMap(node("parent_based"))
        def sub(key: String, dflt: Sampler): Sampler =
          m.get(key).map(v => parseSampler(asMap(v))).getOrElse(dflt)
        ParentBased(
          root = sub("root", AlwaysOn),
          remoteParentSampled = sub("remote_parent_sampled", AlwaysOn),
          remoteParentNotSampled = sub("remote_parent_not_sampled", AlwaysOff),
          localParentSampled = sub("local_parent_sampled", AlwaysOn),
          localParentNotSampled = sub("local_parent_not_sampled", AlwaysOff))
    }
  }

  /** one finished span, as tracez consumes it */
  final case class Span(traceId: String, spanId: String,
                        parentSpanId: Option[String], name: String,
                        startUnixNano: Long, endUnixNano: Long,
                        error: Option[String],
                        attrs: Map[String, String]) {
    def durationNano: Long = endUnixNano - startUnixNano
  }

  /** contrib zpages latency boundaries (public zpages bucket scheme):
    * [0,10µs) [10µs,100µs) [100µs,1ms) [1ms,10ms) [10ms,100ms)
    * [100ms,1s) [1s,10s) [10s,100s) [100s,∞) — nine buckets. */
  val LatencyBoundariesNano: Seq[Long] = Seq(
    10L * 1000, 100L * 1000, 1000L * 1000, 10L * 1000 * 1000,
    100L * 1000 * 1000, 1000L * 1000 * 1000, 10L * 1000 * 1000 * 1000,
    100L * 1000 * 1000 * 1000)
  def latencyBucket(durationNano: Long): Int =
    LatencyBoundariesNano.count(_ <= durationNano)

  /** per-name tracez row: running spans, error count, per-bucket
    * counts, bounded recent samples (errors kept separately so an
    * error burst cannot evict every latency sample) */
  final case class TracezRow(name: String, running: Long, errors: Long,
                             bucketCounts: Seq[Long],
                             samples: Seq[Span], errorSamples: Seq[Span])

  /** SDK SpanProcessor seam (sdktrace.SpanProcessor OnEnd): every
    * RECORDED span reaches each registered processor when it ends,
    * with the sampler's export decision alongside — the otel-go
    * batch processor drops unsampled spans in OnEnd
    * (batch_span_processor.go: `if !s.SpanContext().IsSampled()`),
    * so the SAMPLER is what gates which spans leave the process
    * (telemetry.go:46-50 sampler-before-processor order). onEnd is
    * called OUTSIDE the tracer's lock and must be cheap/non-blocking
    * (a queue offer); export work belongs on the processor's own
    * thread. */
  trait SpanProcessor {
    def onEnd(span: Span, sampled: Boolean): Unit
    /** drain everything buffered, synchronously (SDK ForceFlush) */
    def forceFlush(): Unit = ()
    /** final flush + release resources (SDK Shutdown) */
    def shutdown(): Unit = ()
  }

  /** a started, not-yet-ended span */
  final class SpanHandle private[SelfTrace] (
      val ref: SpanRef, val name: String, val recording: Boolean,
      parentSpanId: Option[String], startNano: Long,
      attrs: Map[String, String], tracer: Tracer) {
    private val ended = new java.util.concurrent.atomic.AtomicBoolean(false)
    def end(error: Option[String] = None,
            extraAttrs: Map[String, String] = Map.empty): Unit =
      if (ended.compareAndSet(false, true) && recording)
        tracer.finish(this, Span(ref.traceId, ref.spanId, parentSpanId,
          name, startNano, tracer.nowNano(), error, attrs ++ extraAttrs))
  }

  /** The TracerProvider + zpages SpanProcessor in one: makes sampling
    * decisions, hands out context, and keeps the bounded per-name
    * store tracez reads. All storage is bounded (`maxSamplesPerName`
    * recent spans + as many error spans per name; counts are plain
    * longs) — a hot pipeline loop cannot grow the collector's own
    * memory. Thread-safe; registration order is not significant. */
  /** epoch-anchored monotonic nanos: wall-clock absolute values with
    * nanoTime resolution — millisecond timestamps would collapse the
    * sub-ms tracez latency buckets into one */
  private val epochNanoAnchor =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def defaultNowNano(): Long = epochNanoAnchor + System.nanoTime()

  final class Tracer(val sampler: Sampler = DefaultAlwaysRecord,
                     maxSamplesPerName: Int = 8,
                     val nowNano: () => Long = () => defaultNowNano(),
                     // registered span processors (telemetry::traces::
                     // processors) — each sees every recorded span at
                     // end time; the batch processor exports the
                     // sampled ones via OTLP
                     val processors: Seq[SpanProcessor] = Nil) {
    private val rng = new java.security.SecureRandom()
    private def hex(bytes: Int): String = {
      val b = new Array[Byte](bytes)
      rng.nextBytes(b)
      val s = graft.sources.OtlpProtobuf.hex(b, 0, bytes)
      // all-zero ids are invalid in W3C trace context — re-draw
      if (s.forall(_ == '0')) hex(bytes) else s
    }

    private final class NameStats {
      var running = 0L
      var errors = 0L
      val buckets = new Array[Long](LatencyBoundariesNano.length + 1)
      val samples = new scala.collection.mutable.ArrayDeque[Span]()
      val errorSamples = new scala.collection.mutable.ArrayDeque[Span]()
    }
    private val byName =
      scala.collection.mutable.LinkedHashMap[String, NameStats]()
    private def stats(name: String): NameStats =
      byName.getOrElseUpdate(name, new NameStats)

    /** start a span; the handle's `ref` is what children and
      * propagator injects carry (sampled = the sampler's decision) */
    def start(name: String, parent: Option[SpanRef] = None,
              attrs: Map[String, String] = Map.empty): SpanHandle = {
      val traceId = parent.map(_.traceId).getOrElse(hex(16))
      val decision = sampler.shouldSample(parent, traceId)
      val ref = SpanRef(traceId, hex(8), decision.sampled, remote = false)
      val h = new SpanHandle(ref, name, decision.recorded,
        parent.map(_.spanId), nowNano(), attrs, this)
      if (decision.recorded) synchronized { stats(name).running += 1 }
      h
    }

    /** record an already-measured child span with explicit
      * timestamps (the SDK's WithTimestamp form) — the shape pipeline
      * instrumentation uses for component children whose wall was
      * measured before their row counts were known */
    def record(name: String, parent: SpanRef, startNano: Long,
               endNano: Long, error: Option[String] = None,
               attrs: Map[String, String] = Map.empty): Unit = {
      // children inherit the parent's RECORDING fate: a dropped
      // parent has ref.sampled=false AND was never stored — callers
      // get child suppression by consulting the handle; here the
      // explicit-record API trusts the caller-supplied parent came
      // from a recording handle (runObsreport only records children
      // when the root handle records)
      val span = Span(parent.traceId, hex(8), Some(parent.spanId),
        name, startNano, endNano, error, attrs)
      synchronized {
        val s = stats(name)
        s.running += 1 // bump+finish keeps one code path for counts
        finishLocked(s, span)
      }
      // processors run OUTSIDE the lock (a slow/queue-full processor
      // must never stall the pipeline's span accounting); children
      // inherit the parent's sampled fate — the flag the batch
      // processor's OnEnd gate reads
      processors.foreach(_.onEnd(span, parent.sampled))
    }

    private[SelfTrace] def finish(h: SpanHandle, span: Span): Unit = {
      synchronized { finishLocked(stats(span.name), span) }
      processors.foreach(_.onEnd(span, h.ref.sampled))
    }

    private def finishLocked(s: NameStats, span: Span): Unit = {
      s.running = math.max(0L, s.running - 1)
      s.buckets(latencyBucket(span.durationNano)) += 1
      if (span.error.isDefined) {
        s.errors += 1
        s.errorSamples.append(span)
        if (s.errorSamples.length > maxSamplesPerName) s.errorSamples.removeHead()
      } else {
        s.samples.append(span)
        if (s.samples.length > maxSamplesPerName) s.samples.removeHead()
      }
    }

    /** tracez snapshot: one row per span name, deterministic order */
    def snapshot: Seq[TracezRow] = synchronized {
      byName.toSeq.map { case (name, s) =>
        TracezRow(name, s.running, s.errors, s.buckets.toSeq,
          s.samples.toSeq, s.errorSamples.toSeq)
      }.sortBy(_.name)
    }
  }
}
