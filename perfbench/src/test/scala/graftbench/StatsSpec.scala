package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail percentile is the highest whole percent with 10 samples beyond it") {
    assert(Stats.tailPercentile(200) == 0.95)
    assert(Stats.tailPercentile(199) == 0.94)
    assert(Stats.tailPercentile(1000) == 0.99)
    assert(Stats.tailPercentile(100) == 0.90)
    assert(Stats.tailPercentile(32) == 0.68)
    // fewer than 20 samples: no percentile above the median qualifies
    assert(Stats.tailPercentile(19) == 0.5)
    assert(Stats.tailPercentile(1) == 0.5)
    (20 to 2000).foreach { n =>
      val p = Stats.tailPercentile(n)
      val rank = math.ceil(p * n - 1e-9).toInt
      assert(n - rank >= 10, s"n=$n p=$p leaves ${n - rank} beyond")
      if (p < 0.99) assert(n - math.ceil((p + 0.01) * n - 1e-9).toInt < 10, s"n=$n: p=$p is not the highest")
    }
  }

  test("percentiles, medians and quartiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.95) == 95.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(3.0, 1.0)) == 2.0)
    assert(Stats.quartiles(xs) == ((25.0, 50.5, 75.0)))
    assert(Stats.quartiles(Seq(7.0)) == ((7.0, 7.0, 7.0)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((2.0, 3.0, 4.0)))
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("geometric mean") {
    assert(math.abs(Stats.geoMean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-9)
    assert(math.abs(Stats.geoMean(Seq(7.0)) - 7.0) < 1e-9)
    // a 10 % change of one of four samples moves it by about 2.4 %
    assert(math.abs(Stats.geoMean(Seq(1.1, 1.0, 1.0, 1.0)) - math.pow(1.1, 0.25)) < 1e-9)
    intercept[IllegalArgumentException](Stats.geoMean(Nil))
    intercept[IllegalArgumentException](Stats.geoMean(Seq(1.0, 0.0)))
  }

  test("job-interval union counts overlaps once and clips to the span") {
    assert(Stats.unionLength(Nil, 0, 100) == 0)
    assert(Stats.unionLength(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Stats.unionLength(Seq((10L, 30L), (20L, 40L)), 0, 100) == 30)
    assert(Stats.unionLength(Seq((10L, 50L), (20L, 30L)), 0, 100) == 40)
    assert(Stats.unionLength(Seq((30L, 40L), (10L, 20L), (15L, 35L)), 0, 100) == 30)
    assert(Stats.unionLength(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20)
    // clipped to [lo, hi]
    assert(Stats.unionLength(Seq((-50L, 10L), (90L, 150L)), 0, 100) == 20)
    assert(Stats.unionLength(Seq((200L, 300L)), 0, 100) == 0)
    // driver gap: wall minus job coverage
    assert(Stats.driverGap(0, 100, Seq((10L, 30L), (20L, 40L), (60L, 70L))) == 60)
    assert(Stats.driverGap(0, 100, Nil) == 100)
  }
}
