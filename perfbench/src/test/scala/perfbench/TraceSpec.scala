package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time is the duration less the children's union") {
    val spans = Seq(
      Span(1, 0, "bench", "root", 0, 100),
      Span(2, 1, "sinks", "a", 10, 40),
      Span(3, 1, "sinks", "b", 30, 50), // overlaps a
      Span(4, 1, "spark", "c", 90, 120), // clipped to the parent
      Span(5, 2, "spark", "d", 15, 25))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 30 - 10)
    assert(self(3) == 20)
    assert(self(5) == 10)
    val byLayer = Tracer.selfByLayer(spans, spans)
    assert(byLayer("bench") == 0.05 && byLayer("sinks") == 0.04)
    // a pruned subtree keeps covering its parent
    val kept = Tracer.subtree(spans, 1, _.id == 2)
    assert(kept.map(_.id).toSet == Set(1, 3, 4))
    assert(Tracer.selfByLayer(spans, kept)("bench") == 0.05)
  }

  test("spans nest per thread and record nothing when tracing is off") {
    val tr = new Tracer(true)
    tr.span("bench", "outer")(tr.span("core", "inner")(()))
    val Seq(inner, outer) = tr.spans
    assert(inner.parent == outer.id && outer.parent == 0)
    assert(inner.start >= outer.start && inner.end <= outer.end)
    val off = new Tracer(false)
    assert(off.span("bench", "x")(42) == 42 && off.spans.isEmpty)
  }

  test("Kafka offset JSON parses to partition offsets") {
    assert(ProgressLog.offsets("""{"datapoints":{"0":12,"3":9}}""") == Map(0 -> 12L, 3 -> 9L))
    assert(ProgressLog.offsets(null).isEmpty)
  }
}
