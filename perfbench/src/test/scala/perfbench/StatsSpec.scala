package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantiles interpolate linearly; the median of an even count is the midpoint") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) === 2.0)
  }

  test("interval union merges overlaps and touching intervals and skips empty ones") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) === 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 20L))) === 30L)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) === 100L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) === 0L)
    assert(Stats.unionLength(Nil) === 0L)
  }

  test("self time subtracts the union of children, clipped to the span") {
    // two overlapping children cover 30..70; one sticks out past the end
    assert(Stats.selfTime((0L, 100L), Seq((30L, 60L), (40L, 70L), (90L, 150L))) === 100L - 40L - 10L)
    assert(Stats.selfTime((0L, 100L), Nil) === 100L)
    assert(Stats.selfTime((10L, 20L), Seq((0L, 50L))) === 0L)
  }
}
