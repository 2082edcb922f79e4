package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // 100 samples: the 11th largest (90) has exactly ten beyond it, at p90.
    assert(Stats.tail(xs).contains((90.0, 90.0)))
    val shuffled = scala.util.Random.shuffle((1 to 40).map(_.toDouble))
    val (p, v) = Stats.tail(shuffled).get
    assert(v == 30.0 && shuffled.count(_ > v) == 10 && p == 75.0)
  }

  test("too few samples for a tail beyond the median give none") {
    assert(Stats.tail((1 to 20).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 21).map(_.toDouble)).map(_._2).contains(11.0))
  }

  test("median is an observed sample (lower middle)") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("slope of a growing backlog") {
    assert(math.abs(Stats.slope((0 until 10).map(i => (i.toDouble, 2.0 * i + 1))) - 2.0) < 1e-12)
    assert(Stats.slope(Seq((1.0, 5.0))) == 0.0)
  }
}
