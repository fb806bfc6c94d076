package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 91) == 10.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
  }

  test("median averages the middle pair") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("tail percentile leaves at least ten samples above it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 20 to 2000; p <- Stats.tailPercentile(n))
      assert(n - (1 to n).count(i => i.toDouble / n <= p / 100.0 + 1e-12) >= 10, s"n=$n p=$p")
  }

  test("tail reports its percentile and value") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs).contains((75.0, 30.0)))
    assert(Stats.tail(xs.take(10)).isEmpty)
  }
}
