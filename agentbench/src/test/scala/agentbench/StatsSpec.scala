package agentbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble).reverse

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tail(samples(100)) == Some(90 -> 90.0))
    assert(Stats.tail(samples(1000)) == Some(99 -> 990.0))
    assert(Stats.tail(samples(20)) == Some(50 -> 10.0))
    assert(Stats.tail(samples(11)) == Some(9 -> 1.0))
  }

  test("no tail percentile exists below eleven samples") {
    assert(Stats.tail(samples(10)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("every reported tail leaves at least ten larger samples") {
    for (n <- 11 to 400) {
      val (_, v) = Stats.tail(samples(n)).get
      assert(samples(n).count(_ > v) >= 10, s"n=$n")
    }
  }

  test("median and geometric mean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
  }
}
