package steadybench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 20).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    assert(t.value == 10.0)
    assert(t.beyond == 10 && xs.count(_ > t.value) == 10)
    assert(t.pct == 50.0 && t.n == 20)
    val big = Stats.tail((1 to 1000).map(_.toDouble))
    assert(big.value == 990.0 && big.pct == 99.0 && big.beyond == 10)
  }

  test("tail needs more samples than the beyond count") {
    assert(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
    intercept[IllegalArgumentException](Stats.tail((1 to 10).map(_.toDouble)))
  }
}
