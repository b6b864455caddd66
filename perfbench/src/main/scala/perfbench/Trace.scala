package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long) {
  def durMs: Double = (end - start) / 1e6
}

/** In-memory span recorder. When off, nothing is kept and span ids are 0;
  * the timed code paths are the same either way.
  */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def record(parent: Int, name: String, layer: String,
      start: Long, end: Long): Int = synchronized {
    if (!on) 0 else {
      val id = nextId; nextId += 1
      spans += Span(id, parent, name, layer, start, math.max(start, end))
      id
    }
  }

  /** Time `body` as a span; the body receives the span's id so that it can
    * parent its own children. The span is recorded when the body ends.
    */
  def span[T](parent: Int, name: String, layer: String)(body: Int => T): T = {
    val id = synchronized { if (on) { val i = nextId; nextId += 1; i } else 0 }
    val s = Clock.nowNs()
    try body(id) finally {
      val e = Clock.nowNs()
      if (on) synchronized { spans += Span(id, parent, name, layer, s, e) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L

  /** Epoch nanoseconds on the monotonic clock, comparable with the epoch
    * milliseconds Spark stamps on progress reports and stage events.
    */
  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def nowMs(): Double = nowNs() / 1e6
}

object SelfTime {

  /** Seconds of `root`'s interval attributed to each layer. Every span is
    * clipped to its parent; each instant goes to the deepest span active
    * then (split evenly when several spans share that depth), so the
    * layers' self times sum exactly to the root's duration.
    */
  def byLayer(spans: Seq[Span], root: Int): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    val rootSpan = spans.find(_.id == root).getOrElse(return Map.empty)
    // (span, depth) after clipping to the parent's interval
    val tree = mutable.ArrayBuffer((rootSpan, 0))
    var i = 0
    while (i < tree.size) {
      val (p, d) = tree(i)
      byParent.getOrElse(p.id, Nil).foreach { c =>
        val s = math.max(c.start, p.start); val e = math.min(c.end, p.end)
        if (e > s) tree += ((c.copy(start = s, end = e), d + 1))
      }
      i += 1
    }
    val cuts = tree.flatMap { case (s, _) => Seq(s.start, s.end) }.distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val sorted = tree.sortBy(_._1.start)
    cuts.indices.drop(1).foreach { i =>
      val (a, b) = (cuts(i - 1), cuts(i))
      val active = sorted.iterator.takeWhile(_._1.start <= a).filter(_._1.end >= b).toSeq
      if (active.nonEmpty) {
        val deepest = active.map(_._2).max
        val top = active.filter(_._2 == deepest)
        top.foreach { case (s, _) => acc(s.layer) += (b - a) / 1e9 / top.size }
      }
    }
    acc.toMap
  }

  /** Per-layer self times of the workload tree under `root`, the
    * generator's busy time (its spans run beside that tree), and the
    * root's wall time. Empty when tracing is off.
    */
  def report(t: Tracer, root: Int): Map[String, (Double, String)] =
    if (!t.on) Map.empty else {
      val spans = t.all
      val self = byLayer(spans, root)
      val gen = spans.filter(s => s.layer == "generator" && s.parent != 0).map(_.durMs).sum / 1000
      Seq("workload", "source", "streaming", "state", "sink", "exec", "operators")
        .map(l => s"self_s.$l" -> (self.getOrElse(l, 0.0), "s")).toMap ++
        Map("self_s.generator" -> (gen, "s"),
          "trace.wall_s" -> (spans.find(_.id == root).map(_.durMs / 1000).getOrElse(0.0), "s"))
    }
}
