package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      Span("op", 0, 100, -1, "a"),
      Span("build", 10, 30, 0, "a"),
      Span("action", 20, 50, 0, "a"), // overlaps build: 10..50 covered once
      Span("read", 25, 45, 2, "a"), // grandchild: only reduces its parent
      Span("late", 90, 120, 0, "a")) // runs past the parent: 90..100 counts
    assert(Tracer.selfTimes(spans) == IndexedSeq(100 - 40 - 10, 20, 30 - 20, 20, 30))
  }

  test("spans nest through the tracer and a disabled tracer records nothing") {
    val t = new Tracer(true)
    t.withOp("q1")(t.span("core.build")(t.span("engine.action")(())))
    assert(t.spans.map(s => (s.name, s.parent, s.op)) ==
      Seq(("op", -1, "q1"), ("core.build", 0, "q1"), ("engine.action", 1, "q1")))
    assert(t.spans.forall(s => s.end >= s.start))
    val self = Tracer.selfTimes(t.spans.toSeq)
    assert(self.sum == t.spans.head.dur)
    val off = new Tracer(false)
    assert(off.withOp("q")(off.span("x")(42)) == 42 && off.spans.isEmpty)
  }
}
