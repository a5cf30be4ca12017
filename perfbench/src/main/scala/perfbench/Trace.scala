package perfbench

import scala.collection.mutable

/** One timed call the benchmark made into a layer. Times are
  * `System.nanoTime` readings; `request` groups the spans of one
  * closed-loop iteration.
  */
final case class Span(id: Long, parent: Option[Long], name: String,
    layer: String, request: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, [[span]] only runs its body, so
  * untraced runs pay nothing but a branch. Spans nest per thread.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private var nextId = 0L
  @volatile var request: Long = 0L

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized {
          spans += Span(id, parent, name, layer, request, t0, t1)
        }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def writeJson(path: java.nio.file.Path): Unit = {
    val body = all.sortBy(_.id).map { s =>
      val p = s.parent.map(_.toString).getOrElse("null")
      s"""{"id":${s.id},"parent":$p,"name":"${Json.esc(s.name)}",""" +
        s""""layer":"${Json.esc(s.layer)}","request":${s.request},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}

/** Span arithmetic: self time and child coverage. */
object SpanMath {

  /** Total length of the union of `intervals`, each clipped to
    * [lo, hi].
    */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def children(spans: Seq[Span]): Map[Long, Seq[Span]] =
    spans.filter(_.parent.isDefined).groupBy(_.parent.get)

  /** Span id → its duration minus the part its direct children cover. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = children(spans)
    spans.map { s =>
      val covered = unionLength(
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)),
        s.startNs, s.endNs)
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Layer → summed self time over `spans`. */
  def layerSelfNs(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Share of `root`'s duration that its direct children cover. */
  def childCoverage(spans: Seq[Span], root: Span): Double = {
    val kids = spans.filter(_.parent.contains(root.id))
    if (root.durNs <= 0) 1.0
    else unionLength(kids.map(c => (c.startNs, c.endNs)),
      root.startNs, root.endNs).toDouble / root.durNs
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
