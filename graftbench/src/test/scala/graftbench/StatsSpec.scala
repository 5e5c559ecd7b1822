package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).reverse.map(_.toDouble)

  test("the tail is the highest percentile with ten samples beyond it") {
    val t = Stats.tail(samples(100)).get
    assert(t.level == 90.0)
    assert(t.value == 90.0)
    assert((t.n, t.beyond) == (100, 10))
    assert(samples(100).count(_ > t.value) == 10)
    val t1000 = Stats.tail(samples(1000)).get
    assert((t1000.level, t1000.value) == (99.0, 990.0))
  }

  test("the smallest run with a tail has eleven samples") {
    val t = Stats.tail(samples(11)).get
    assert(t.value == 1.0)
    assert(samples(11).count(_ > t.value) == 10)
  }

  test("no tail qualifies with ten samples or fewer") {
    assert(Stats.tail(samples(10)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("tailOrMax falls back to the slowest sample below the median") {
    assert(Stats.tailOrMax(samples(100)).value == 90.0)
    val few = Stats.tailOrMax(samples(8))
    assert((few.level, few.value, few.beyond) == (100.0, 8.0, 0))
    // 12 samples: the rule's percentile (p16.7) sits below the median
    assert(Stats.tailOrMax(samples(12)).value == 12.0)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
