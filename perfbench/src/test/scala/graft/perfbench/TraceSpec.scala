package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self time subtracts the union of children, clipped to the parent") {
    val spans = Seq(
      Span(1, 1, 0, "search", 0, 100),
      Span(1, 2, 1, "construct", 10, 30),
      Span(1, 3, 1, "execute", 20, 50), // overlaps construct by 10
      Span(1, 4, 1, "late", 90, 120), // only 90-100 lies inside the parent
      Span(1, 5, 3, "job 0", 25, 45), // a grandchild: counts for execute only
      Span(1, 6, 3, "job 1", 40, 48))
    val self = Trace.selfTimes(spans)
    assert(self(1L) == 100 - (40 + 10))
    assert(self(2L) == 20)
    assert(self(3L) == 30 - 23)
    assert(self(4L) == 30)
    assert(self(5L) == 20 && self(6L) == 8)
  }

  test("union of intervals counts overlaps once") {
    assert(Trace.union(Nil) == 0)
    assert(Trace.union(Seq((0.0, 1.0), (2.0, 3.0))) == 2)
    assert(Trace.union(Seq((0.0, 5.0), (1.0, 2.0), (4.0, 7.0))) == 7)
  }
}
