package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    assert(Stats.percentile(samples(100), 99) == 99.0)
    assert(Stats.percentile(samples(100), 50) == 50.0)
    assert(Stats.percentile(samples(3), 100) == 3.0)
  }

  test("tail is the highest ladder percentile with at least ten samples beyond it") {
    assert(Stats.tail(samples(10000)) == ("p99.9", 9990.0))
    assert(Stats.tail(samples(9999)) == ("p99", 9900.0))
    assert(Stats.tail(samples(1000)) == ("p99", 990.0))
    assert(Stats.tail(samples(999)) == ("p95", 950.0))
    assert(Stats.tail(samples(200)) == ("p95", 190.0))
    assert(Stats.tail(samples(100)) == ("p90", 90.0))
    assert(Stats.tail(samples(99)) == ("p50", 50.0))
    assert(Stats.tail(samples(20)) == ("p50", 10.0))
  }

  test("below twenty samples the tail is the maximum") {
    assert(Stats.tail(samples(19)) == ("max", 19.0))
    assert(Stats.tail(Seq(5.0)) == ("max", 5.0))
  }

  test("keyed median geomean weighs each key's median once") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    // key 1: median 1; key 2: median 4, whatever the sample counts
    val xs = Seq(1 -> 1.0, 1 -> 0.5, 1 -> 9.0) ++ Seq.fill(5)(2 -> 4.0) ++ Seq(2 -> 100.0)
    assert(math.abs(Stats.keyedMedianGeomean(xs) - 2.0) < 1e-12)
    // the pooled median of two evenly split keys sits in the gap between them
    val split = Seq.fill(50)(1 -> 1.0) ++ Seq.fill(50)(2 -> 4.0)
    assert(Stats.median(split.map(_._2)) == 2.5)
    assert(math.abs(Stats.keyedMedianGeomean(split) - 2.0) < 1e-12)
  }

  test("windowed tail is the median of each window's tail") {
    // three windows of 1000; one holds a stall of 40 slow samples
    val quiet = Seq.fill(990)(1.0) ++ Seq.fill(10)(2.0)
    val stalled = Seq.fill(960)(1.0) ++ Seq.fill(40)(50.0)
    val xs = quiet ++ stalled ++ quiet
    assert(Stats.tail(xs) == ("p99", 50.0))
    assert(Stats.windowedTail(xs, 3) == ("p99 median of 3 windows", 1.0))
    // a remainder shorter than a window is left out
    assert(Stats.windowedTail(xs :+ 99.0, 3)._2 == 1.0)
  }
}
