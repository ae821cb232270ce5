package ldabench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private val k = 3
  private val alpha = Array(0.1, 0.2, 0.3)
  private val beta = Seq(Array(-1.0, -2.0, -0.5), Array(-3.0, -0.1, -7.0))
  private val ll = Seq(-5.2e5, -3.81e6) // a falling bound is allowed

  private def model(alpha: Array[Double] = alpha, beta: Seq[Array[Double]] = beta,
      iterations: Int = 2, ll: Seq[Double] = ll) =
    Checks.model(k, iterations, 2, alpha, beta.iterator, ll)

  test("a sound model passes, a falling likelihood included") {
    assert(model().isEmpty)
  }

  test("a NaN, an infinity or a positive value in beta is rejected") {
    Seq(Double.NaN, Double.NegativeInfinity, 0.5).foreach { bad =>
      val p = model(beta = beta :+ Array(-1.0, bad, -1.0))
      assert(p.exists(_.contains("beta rows")), s"$bad: $p")
    }
  }

  test("alpha must hold K finite values above zero") {
    assert(model(alpha = Array(0.1, 0.0, 0.3)).nonEmpty)
    assert(model(alpha = Array(0.1, Double.NaN, 0.3)).nonEmpty)
    assert(model(alpha = Array(0.1, Double.PositiveInfinity, 0.3)).nonEmpty)
    assert(model(alpha = Array(0.1, 0.2)).nonEmpty)
  }

  test("iteration count and likelihood history must match the configuration") {
    assert(model(iterations = 1).exists(_.contains("iterations")))
    assert(model(ll = Seq(-1.0)).exists(_.contains("ll history")))
    assert(model(ll = Seq(-1.0, Double.NaN)).exists(_.contains("not finite")))
  }

  test("proportions must sum to 1 per document, for every document") {
    val good = Seq(1L -> 0.25, 1L -> 0.75, 2L -> 1.0)
    assert(Checks.proportions(good, 2).isEmpty)
    assert(Checks.proportions(Seq(1L -> 0.25, 1L -> 0.7, 2L -> 1.0), 2).nonEmpty)
    assert(Checks.proportions(Seq(1L -> Double.NaN, 2L -> 1.0), 2).nonEmpty)
    assert(Checks.proportions(good, 3).nonEmpty)
  }

  test("gamma rows normalize to proportions") {
    val p = Checks.gammaProportions(Seq(1L -> Array(1.0, 3.0), 2L -> Array(2.0)))
    assert(Checks.proportions(p, 2).isEmpty)
  }

  test("the digest ignores row order and sees any change in terms or likelihood") {
    val d = Checks.digest(Seq("1\t1\ta\t-0.5", "1\t2\tb\t-0.7"), ll)
    assert(d == Checks.digest(Seq("1\t2\tb\t-0.7", "1\t1\ta\t-0.5"), ll))
    assert(d != Checks.digest(Seq("1\t1\ta\t-0.5", "1\t2\tc\t-0.7"), ll))
    assert(d != Checks.digest(Seq("1\t1\ta\t-0.5", "1\t2\tb\t-0.7"), Seq(ll.head, ll(1) + 1e-9)))
  }

  test("term lines round scores to six places") {
    assert(Checks.termLine(1, 2, "w", -0.12345649) == "1\t2\tw\t-0.123456")
  }
}
