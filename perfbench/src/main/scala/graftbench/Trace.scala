package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span recorder. Spans are kept in memory and written out
  * once, when the run ends. With tracing off, [[span]] only runs its
  * body, so untraced runs pay one branch per layer boundary.
  *
  * The layer of a span is its name up to the first '.', e.g.
  * `query.q1_pricing_summary` belongs to layer `query`. */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace.Span

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  /** id of the innermost open span on this thread (0 = none) */
  def currentId: Long = current.get

  /** a span whose interval was measured elsewhere (listener events,
    * exporter callbacks); returns its id */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, startNs, endNs))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** per layer: total span time minus the part of each span's interval
    * that its direct children cover, in milliseconds */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, mine) =>
      layer -> mine.map { s =>
        val covered = Trace.coveredNs(s.startNs, s.endNs,
          children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  /** one JSON object per line: run id, span id, parent, name, start/end ns */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(Json.write(Json.obj(
        "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
  }

  /** length of the union of `parts`, each clipped to [start, end] */
  def coveredNs(start: Long, end: Long, parts: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = start
    parts.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { total += b - from; reach = b }
      }
    total
  }
}
