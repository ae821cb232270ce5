package ldabench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("metric names: letters, digits, _ . - only, starting with a letter or digit, at most 64") {
    Seq("setup_s", "lda.trainer.iter_s", "jvm.live_heap_mb.parse", "ap_dense.scaling_eff", "9x-y")
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", ".x", "_x", "a b", "a/b", "a:b", "é", "x" * 65)
      .foreach(n => assert(!Stats.validName(n), n))
    assert(Stats.validName("x" * 64))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
  }

  test("the tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(1).isEmpty)
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    (1 to 3000).foreach { n =>
      Stats.tailPercentile(n).foreach { p =>
        val xs = (1 to n).map(_.toDouble)
        assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
      }
    }
  }

  test("a summary carries the median, the supported tail and the sample count") {
    val s = Stats.summarize((1 to 100).map(_.toDouble))
    assert(s.median == 50.5 && s.n == 100 && s.tail.contains(90.0 -> 90.0))
    assert(Stats.summarize(Seq(2.0, 1.0)).tail.isEmpty)
  }
}
