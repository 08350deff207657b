package steadybench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("self time is a span's duration minus its direct children's") {
    val spans = Seq(
      Span(0, -1, "op", "op", 0, 0L, 100L),
      Span(1, 0, "ops", "build", 0, 5L, 45L),
      Span(2, 1, "tables", "read", 0, 10L, 30L),
      Span(3, 0, "exec", "collect", 0, 50L, 95L),
      Span(4, 3, "job", "job 7", 0, 55L, 90L))
    val self = Spans.selfTimes(spans)
    assert(self == Map(0 -> 15L, 1 -> 20L, 2 -> 20L, 3 -> 10L, 4 -> 35L))
    // the self times of a tree add up to its root's duration
    assert(self.values.sum == spans.head.dur)
  }

  test("overlapping children are counted once, and only inside the parent") {
    val spans = Seq(
      Span(0, -1, "exec", "collect", 0, 0L, 100L),
      Span(1, 0, "job", "job 1", 0, 10L, 50L),
      Span(2, 0, "job", "job 2", 0, 40L, 70L),
      Span(3, 0, "job", "job 3", 0, 90L, 120L))
    assert(Spans.selfTimes(spans)(0) == 100L - 60L - 10L)
  }
}
