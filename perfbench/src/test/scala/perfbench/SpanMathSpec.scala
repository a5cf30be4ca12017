package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanMathSpec extends AnyFunSuite {

  private def span(id: Long, parent: Option[Long], layer: String,
      start: Long, end: Long, request: Long = 1) =
    Span(id, parent, s"$layer.$id", layer, request, start, end)

  test("union length merges overlaps and clips to the window") {
    assert(SpanMath.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(SpanMath.unionLength(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10)
    assert(SpanMath.unionLength(Seq((-5L, 5L), (95L, 120L)), 0, 100) == 10)
    assert(SpanMath.unionLength(Nil, 0, 100) == 0)
  }

  test("self time is duration minus the union of direct children") {
    val spans = Seq(
      span(1, None, "bench", 0, 100),
      span(2, Some(1), "core", 10, 40),
      span(3, Some(1), "sources", 30, 60), // overlaps 2: union 10..60
      span(4, Some(2), "models", 15, 35))  // grandchild: not subtracted from 1
    val self = SpanMath.selfNs(spans)
    assert(self(1) == 50)
    assert(self(2) == 10)
    assert(self(3) == 30)
    assert(self(4) == 20)
    val byLayer = SpanMath.layerSelfNs(spans)
    assert(byLayer == Map("bench" -> 50L, "core" -> 10L, "sources" -> 30L, "models" -> 20L))
  }

  test("child coverage of a root") {
    val root = span(1, None, "bench", 0, 200)
    val spans = Seq(root, span(2, Some(1), "core", 0, 90),
      span(3, Some(1), "plans", 100, 190))
    assert(SpanMath.childCoverage(spans, root) == 0.9)
  }

  test("the tracer nests spans and records nothing when disabled") {
    val on = new Tracer(true)
    on.span("bench", "outer") { on.span("core", "inner") { () } }
    val Seq(inner, outer) = on.all
    assert(inner.parent.contains(outer.id) && outer.parent.isEmpty)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    val off = new Tracer(false)
    assert(off.span("bench", "x")(42) == 42)
    assert(off.all.isEmpty)
  }
}
