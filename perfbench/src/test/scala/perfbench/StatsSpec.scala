package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median: middle value, or the mean of the two middle values") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // expected values printed by CPython 3 statistics.quantiles(xs, n=4)
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == (2.75, 8.25))
    assert(Stats.quartiles(Seq(3.0, 1.0, 2.0)) == (1.0, 3.0))
    assert(Stats.quartiles(Seq(5.0, 1.0)) == (0.0, 6.0))
    assert(Stats.quartiles(Seq(0.7, 1.9, 2.2, 2.5, 3.1, 4.8, 9.0)) == (1.9, 4.8))
  }

  test("percentile is nearest-rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(IndexedSeq(4.0), 99) == 4.0)
  }

  test("tail: the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(xs) == Some((90.0, 90.0)))
    // exactly ten beyond the reported value
    val (_, v) = Stats.tail(xs).get
    assert(xs.count(_ > v) == 10)
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((100.0 / 11, 1.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 1000).map(_.toDouble), beyond = 10) == Some((99.0, 990.0)))
  }
}
