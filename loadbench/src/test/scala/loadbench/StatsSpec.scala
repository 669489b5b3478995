package loadbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("a percentile needs ten samples beyond it") {
    assert(Stats.highestSupported(0).isEmpty)
    assert(Stats.highestSupported(19).isEmpty)
    assert(Stats.highestSupported(20).contains(50.0))
    assert(Stats.highestSupported(99).contains(50.0))
    assert(Stats.highestSupported(100).contains(90.0))
    assert(Stats.highestSupported(999).contains(90.0))
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(10000).contains(99.9))
  }

  test("slope recovers a line and is zero without spread in x") {
    val xs = Seq(1.0, 2.0, 3.0, 1.0, 2.0, 3.0)
    val ys = xs.map(x => 100 + 25 * x)
    assert(math.abs(Stats.slope(xs, ys) - 25) < 1e-9)
    // noise symmetric around the line leaves the fit unchanged
    val noisy = ys.zipWithIndex.map { case (y, i) => if (i < 3) y + 5 else y - 5 }
    assert(math.abs(Stats.slope(xs, noisy) - 25) < 1e-9)
    assert(Stats.slope(Seq(2.0, 2.0), Seq(1.0, 9.0)) == 0.0)
  }

  test("covered time is the union of job intervals clipped to the op") {
    assert(Intervals.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 100L) == 30L)
    assert(Intervals.coveredMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8L, 35L) == 17L)
    assert(Intervals.coveredMs(Nil, 0L, 100L) == 0L)
  }
}
