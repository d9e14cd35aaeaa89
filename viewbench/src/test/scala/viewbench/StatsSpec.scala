package viewbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("nearest-rank quantiles") {
    assert(Stats.median(xs(5)) === 3.0)
    assert(Stats.median(xs(4)) === 2.0)
    assert(Stats.quantile(xs(1000), 0.99) === 990.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
  }

  test("a tail percentile needs at least 10 distinct samples beyond it") {
    assert(Stats.beyond(xs(1000), 990.0) === 10)
    assert(Stats.tail(xs(1000), 0.99) === 990.0)
    assert(intercept[IllegalArgumentException](Stats.tail(xs(999), 0.99))
      .getMessage.contains("10 distinct samples beyond"))
    assert(Stats.tail(xs(20), 0.5) === 10.0)
    intercept[IllegalArgumentException](Stats.tail(xs(19), 0.5))
  }

  test("copies of one observation do not make a tail") {
    // 9 distinct observations, each copied 1000 times
    val copied = (1 to 9).flatMap(v => Seq.fill(1000)(v.toDouble))
    intercept[IllegalArgumentException](Stats.tail(copied, 0.99))
    intercept[IllegalArgumentException](Stats.tail(copied, 0.5))
  }

  test("no samples is an error, not a zero") {
    intercept[IllegalArgumentException](Stats.median(Nil))
  }
}
