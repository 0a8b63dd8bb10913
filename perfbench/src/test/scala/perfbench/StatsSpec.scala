package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("self time subtracts the children's union once, clipped to the span") {
    // span [0, 100); children [10, 30) and [20, 50) overlap; [90, 120) runs past the end
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) === 100 - 40 - 10)
    assert(Stats.selfTime(0, 100, Nil) === 100)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L))) === 0)
  }

  test("union length merges touching and nested intervals and skips empty ones") {
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L), (2L, 5L), (30L, 30L), (40L, 45L))) === 25)
    assert(Stats.covered(5, 15, Seq((0L, 10L), (12L, 40L))) === 8)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) === 90.0)
    assert(Stats.percentile(xs, 50) === 50.0)
    assert(Stats.percentile(Seq(7.0), 90) === 7.0)
  }

  test("a percentile is reportable only with at least ten samples beyond it") {
    assert(!Stats.supports(99, 90))
    assert(Stats.supports(100, 90))
    assert(Stats.supports(20, 50))
    assert(!Stats.supports(19, 50))
    assert(!Stats.supports(999, 99))
    assert(Stats.supports(1000, 99))
  }
}
