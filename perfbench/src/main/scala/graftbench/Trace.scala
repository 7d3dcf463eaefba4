package graftbench

import scala.collection.mutable

/** One traced call into a layer: `parent` is the id of the span that was
  * open when this one started (0 for a root span).
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, runId: String) {
  def durNs: Long = endNs - startNs
}

/** Span recorder for the benchmark's own calls into graft's layers.
  *
  * Spans are kept in memory and written out when the run ends. While the
  * tracer is disabled, `span` runs its body and records nothing, so
  * untraced phases pay no bookkeeping. Spans open on the driver thread
  * only; counters may be added from any thread.
  */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, runId)
        open = open.tail
      }
    }

  def add(counter: String, v: Double): Unit =
    if (enabled) counters.merge(counter, v, (a: Double, b: Double) => a + b)

  def counter(name: String): Double = counters.getOrDefault(name, 0.0)

  def recorded: Seq[Span] = spans.toSeq

  /** Self time per span name, in seconds, summed over the run. */
  def selfSeconds: Map[String, Double] = Tracer.selfSeconds(spans.toSeq)

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "run_id" -> s.runId)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {

  /** Length of the union of intervals, each clipped to `[lo, hi]`. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval its
    * direct children cover.
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - coveredNs(kids, s.startNs, s.endNs))
    }.toMap
  }

  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}
