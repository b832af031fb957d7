package flowbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def beyond(xs: Seq[Double], p: Int) = xs.count(_ > Stats.percentile(xs, p))

  test("the tail is the highest whole percentile with at least 10 samples beyond it") {
    for (n <- Seq(20, 37, 100, 101, 250, 1000, 4321)) {
      val xs = (1 to n).map(_.toDouble)
      val p = Stats.tailPercentile(n)
      assert(beyond(xs, p) >= 10, s"n=$n p=$p")
      if (p < 100) assert(beyond(xs, p + 1) < 10, s"n=$n: p${p + 1} also has 10 beyond")
    }
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(1000) == 99)
    assert(Stats.tail((1 to 100).map(_.toDouble)) == (90, 90.0))
  }

  test("a short run reports the median as its tail") {
    assert(Stats.tailPercentile(12) == 50)
    assert(Stats.tailPercentile(1) == 50)
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 50) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 100) == 5.0)
  }
}
