package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 500) == 50.0)
    assert(Stats.percentile(xs, 900) == 90.0)
    assert(Stats.percentile(xs, 990) == 99.0)
    assert(Stats.percentile(xs, 1000) == 100.0)
    assert(Stats.percentile(Seq(7.0), 999) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.samplesFor(500) == 20)
    assert(Stats.samplesFor(750) == 40)
    assert(Stats.samplesFor(900) == 100)
    assert(Stats.samplesFor(990) == 1000)
    assert(Stats.samplesFor(999) == 10000)
    Seq(500, 750, 900, 950, 990).foreach { pm =>
      val n = Stats.samplesFor(pm)
      assert(Stats.beyond(n, pm) == Stats.MinBeyond)
      assert(Stats.beyond(n - 1, pm) < Stats.MinBeyond)
    }
  }

  test("the reported tail percentile and its label") {
    assert(Stats.beyond(Stats.samplesFor(Main.TailPerMille), Main.TailPerMille) >= Stats.MinBeyond)
    assert(Stats.label(Main.TailPerMille) == "p75")
    assert(Stats.label(999) == "p99.9" && Stats.label(900) == "p90")
  }
}
