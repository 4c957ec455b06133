package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile is nearest-rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.9) == 3.0)
    assert(Stats.percentile(Seq(7.0), 0.01) == 7.0)
  }

  test("median of an even count is the lower middle sample") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("percentile rejects no samples and ranks outside (0, 1]") {
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 0.0))
  }

  test("union counts overlapping and nested job intervals once") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 30L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 20L))) == 30)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("driver gap is the part of a span no job covers, clipped to the span") {
    assert(Stats.uncovered(0, 100, Nil) == 100)
    assert(Stats.uncovered(0, 100, Seq((10L, 20L), (15L, 30L), (90L, 150L))) == 100 - 20 - 10)
    assert(Stats.uncovered(50, 60, Seq((0L, 55L))) == 5)
    assert(Stats.uncovered(50, 60, Seq((70L, 80L))) == 10)
  }
}
