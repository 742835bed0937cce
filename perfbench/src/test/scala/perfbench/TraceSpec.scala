package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  // root [0,100]
  //   router.batch [10,40]
  //     router.batch [20,30]
  //   sink.compact [35,60]   overlaps the first batch by 5
  //   serving.x    [90,120]  runs past its parent's end
  private val tree = Seq(
    Span(0, -1, "bench.iteration", 0, 100),
    Span(1, 0, "router.batch", 10, 40),
    Span(2, 1, "router.batch", 20, 30),
    Span(3, 0, "sink.compact", 35, 60),
    Span(4, 0, "serving.x", 90, 120))

  test("covered length merges overlaps and clips to the window") {
    assert(SelfTime.covered(Seq((10.0, 40.0), (35.0, 60.0), (90.0, 120.0)), 0, 100) == 60.0)
    assert(SelfTime.covered(Seq((5.0, 6.0), (1.0, 2.0)), 0, 10) == 2.0)
    assert(SelfTime.covered(Seq((20.0, 30.0)), 25, 100) == 5.0)
    assert(SelfTime.covered(Nil, 0, 10) == 0.0)
  }

  test("self time is a span's duration less what its children cover") {
    val self = SelfTime.selfMs(tree)
    assert(self(0) == 40.0) // 100 - |[10,60] ∪ [90,100]|
    assert(self(1) == 20.0)
    assert(self(2) == 10.0)
    assert(self(3) == 25.0)
    assert(self(4) == 30.0)
  }

  test("self time per layer sums over a subtree") {
    val byLayer = SelfTime.byLayerMs(tree, 0)
    assert(byLayer == Map("bench" -> 40.0, "router" -> 30.0, "sink" -> 25.0, "serving" -> 30.0))
    assert(SelfTime.byLayerMs(tree, 1) == Map("router" -> 30.0))
  }

  test("self times of non-overlapping children account for the root's wall time") {
    val spans = Seq(Span(0, -1, "bench.iteration", 0, 50), Span(1, 0, "router.batch", 5, 20),
      Span(2, 1, "router.batch", 6, 9), Span(3, 0, "sink.compact", 20, 45))
    assert(SelfTime.byLayerMs(spans, 0).values.sum == 50.0)
  }

  test("the tracer nests spans under the open span and records nothing when off") {
    val t = new Tracer("run", enabled = true)
    val v = t.span("bench.iteration") {
      t.span("router.stream")(t.record("router.batch", t.nowMs, t.nowMs + 1))
      t.span("sink.compact")(42)
    }
    assert(v == 42)
    assert(t.spans.map(s => (s.id, s.parent, s.name)) == Seq(
      (0, -1, "bench.iteration"), (1, 0, "router.stream"), (2, 1, "router.batch"), (3, 0, "sink.compact")))
    assert(t.spans.forall(s => s.endMs >= s.startMs))
    val off = new Tracer("run", enabled = false)
    assert(off.span("x")(1) == 1 && off.spans.isEmpty)
  }

  test("layer is the span name's first part") {
    assert(Span(0, -1, "sessionizer.aggregate", 0, 1).layer == "sessionizer")
    assert(Span(0, -1, "bench", 0, 1).layer == "bench")
  }
}
