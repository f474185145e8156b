package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(id: Int, parent: Option[Int], start: Double, end: Double) =
    Span(id, s"layer.s$id", parent, (start * 1e9).toLong, (end * 1e9).toLong)

  test("self time subtracts direct children only") {
    // 0 [0, 10]
    //   1 [1, 4]
    //     3 [2, 3]
    //   2 [5, 9]
    val spans = Seq(span(0, None, 0, 10), span(1, Some(0), 1, 4),
      span(2, Some(0), 5, 9), span(3, Some(1), 2, 3))
    val self = Spans.selfSeconds(spans)
    assert(self(0) == 3.0)
    assert(self(1) == 2.0)
    assert(self(2) == 4.0)
    assert(self(3) == 1.0)
    // every second is counted exactly once
    assert(self.values.sum == spans.head.seconds)
  }

  test("a leaf's self time is its duration") {
    assert(Spans.selfSeconds(Seq(span(5, None, 2, 2.5)))(5) == 0.5)
  }

  test("uncovered time: overlapping and outside intervals count once") {
    assert(Spans.uncoveredMs(0, 100, Nil) == 100)
    assert(Spans.uncoveredMs(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 70)
    assert(Spans.uncoveredMs(0, 100, Seq((-5L, 10L), (90L, 200L))) == 80)
    assert(Spans.uncoveredMs(0, 100, Seq((0L, 100L), (20L, 30L))) == 0)
  }

  test("a unit's driver-only time is taken over the unit span's window") {
    // a wall clock that advances 10 ms on every reading
    var now = 0L
    val stack = new SpanStack(() => now * 1000000L, () => { now += 10; now })
    stack.push()                      // unit, opens at 10
    stack.push(); stack.pop("first")  // [20, 30]
    stack.push(); stack.pop("last")   // [40, 50]
    stack.pop("unit")                 // closes at 60
    val spans = stack.spans
    assert(spans.map(_.name) == Seq("unit", "first", "last"))
    assert(Spans.root(spans).name == "unit")
    // jobs cover 15..25 and 45..55: 30 of the unit's 50 ms have no job
    assert(Spans.driverOnlyMs(spans, Seq((15L, 25L), (45L, 55L))) == 30)
    // the spans of a later unit: the root is found by nesting, not position
    stack.push(); stack.push(); stack.pop("child"); stack.pop("unit2")
    val later = stack.spans.drop(spans.size)
    assert(Spans.root(later).name == "unit2")
    assert(later.last.name == "child")
  }

  test("spans with more than one root have no root") {
    assert(intercept[IllegalArgumentException](
      Spans.root(Seq(span(0, None, 0, 1), span(1, None, 1, 2)))).getMessage.contains("2 roots"))
  }
}
