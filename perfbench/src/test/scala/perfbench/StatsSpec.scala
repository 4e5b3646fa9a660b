package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("the tail percentile keeps ten samples beyond it, between p50 and p90") {
    assert(Stats.tailLevel(1000) == 0.9)
    assert(Stats.tailLevel(100) == 0.9)
    assert(math.abs(Stats.tailLevel(50) - 0.8) < 1e-12)
    assert(math.abs(Stats.tailLevel(30) - 2.0 / 3) < 1e-12)
    assert(Stats.tailLevel(20) == 0.5)
    assert(Stats.tailLevel(12) == 0.5)
    assert(Stats.tailLevel(1) == 0.5)
    // at the level chosen, at least ten samples lie above it once n >= 20
    for (n <- 20 to 200) {
      val xs = (1 to n).map(_.toDouble)
      val (_, v) = Stats.tail(xs)
      assert(xs.count(_ > v) >= 10, s"n=$n")
    }
  }
}
