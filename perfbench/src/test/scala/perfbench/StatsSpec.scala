package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates between the closest ranks, like numpy's default") {
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(math.abs(Stats.percentile((1 to 10).map(_.toDouble), 90) - 9.1) < 1e-12)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0) == 1.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 100) == 3.0)
  }

  test("percentile ignores input order and handles one sample") {
    assert(Stats.median(Seq(9.0, 1.0, 5.0)) == 5.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("percentile rejects an empty sample and an out-of-range rank") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("coverage merges overlapping intervals and clips to the window") {
    assert(Tracer.coverage(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L)
    assert(Tracer.coverage(Nil, 0L, 10L) == 0L)
  }

  test("self time subtracts what child spans cover") {
    val spans = Seq(
      Span("op", "op", 0, 100, "", 0),
      Span("a", "layer", 10, 60, "op", 0),
      Span("j1", "job", 20, 30, "a", 0),
      Span("j2", "job", 25, 40, "a", 0))
    val self = Tracer.selfTimes(spans)
    assert(self("op") == 50L)
    assert(self("a") == 30L)
    assert(self("j1") == 10L)
  }
}
