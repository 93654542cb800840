package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate linearly between ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 25) == 1.75)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    def pct(n: Int) = Stats.tail((1 to n).map(_.toDouble))._1
    assert(pct(19) == 50)     // unresolvable: fewer than 20 samples → median
    assert(pct(20) == 50)
    assert(pct(37) == 50)
    assert(pct(38) == 75)
    assert(pct(91) == 75)
    assert(pct(92) == 90)
    assert(pct(100) == 90)
    assert(pct(200) == 95)
    assert(pct(1000) == 99)
    assert(pct(10000) == 99.9)
    for (n <- 20 to 2000; p = pct(n)) assert(Stats.beyond(n, p) >= 10, (n, p))
  }

  test("the tail reports its sample count and value") {
    val (p, v, n) = Stats.tail((1 to 100).map(_.toDouble))
    assert((p, n) == ((90.0, 100)))
    assert(math.abs(v - 90.1) < 1e-9)
    // at least ten samples lie strictly beyond the reported value
    assert((1 to 100).count(_ > v) >= 10)
  }
}
