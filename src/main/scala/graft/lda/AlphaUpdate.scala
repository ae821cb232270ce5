package graft.lda

import graft.functions.GammaFuncs.{digamma, trigamma}

/**
 * Driver-side Newton–Raphson updates for the Dirichlet hyper-parameter α,
 * using Blei's linear-time inversion of the special (diagonal + rank-one)
 * Hessian structure (LDA paper, appendix A.2).
 *
 * Behavior-equivalent rewrite of the reference's
 * cc/mrlda/VariationalInference.java:409-511 (vector) and :573-625 (scalar),
 * pinned bit-for-bit (1e-10) by the golden values in the reference's
 * src/test/java/cc/mrlda/VariationalInferenceTest.java. The quirks of the
 * original are preserved deliberately: the step-decay counter is never reset
 * across Newton iterations, and after a singular-Hessian recovery the
 * update buffer aliases the current α (which ends the outer loop on the
 * next convergence check) — both affect which fixed point is returned.
 *
 * A consequence worth stating plainly (discovered while building the
 * q_lda_planted_alpha engine replay, and true of the reference too —
 * its alphaVectorUpdate buffer is allocated ONCE before the loop and
 * `alphaVector = alphaVectorUpdate` swaps references with no fresh
 * allocation): after the FIRST swap the two buffers alias even on the
 * ordinary non-singular path, so the convergence test compares an
 * array with itself and always passes — the vector update performs
 * EXACTLY TWO clean Newton iterations per call, regardless of the
 * threshold. The EM driver calls it once per outer iteration, so alpha
 * still converges across iterations; per call it is a 2-step Newton,
 * not a run-to-convergence loop.
 */
object AlphaUpdate {

  // constants from reference cc/mrlda/Settings.java:60-63 (note: float-typed there)
  private[graft] val ConvergeThreshold: Double = 0.000001f.toDouble
  private val MaxIterations = 1000
  private val MaxDecay = 10
  private val DecayFactor: Double = 0.8f.toDouble

  /** Asymmetric (vector) α update from per-topic sufficient statistics
    * ss_k = Σ_d digamma(γ_dk) − digamma(Σ_k γ_dk). */
  def updateVectorAlpha(numTopics: Int, numDocs: Long, alphaIn: Array[Double],
      ss: Array[Double]): Array[Double] = {
    var alpha = alphaIn.clone()
    var alphaNew = new Array[Double](numTopics)
    val grad = new Array[Double](numTopics)
    val hess = new Array[Double](numTopics)
    var iter = 0
    var decay = 0
    var alphaSum = alpha.sum
    var keepGoing = true

    try {
      while (keepGoing) {
        var sumGoverH = 0.0
        var sumInvH = 0.0
        val dgSum = digamma(alphaSum)
        var i = 0
        while (i < numTopics) {
          grad(i) = numDocs * (dgSum - digamma(alpha(i))) + ss(i)
          hess(i) = -numDocs * trigamma(alpha(i))
          if (grad(i).isInfinite) throw new ArithmeticException("alpha gradient diverged")
          sumGoverH += grad(i) / hess(i)
          sumInvH += 1.0 / hess(i)
          i += 1
        }
        val z = numDocs * trigamma(alphaSum)
        val c = sumGoverH / (1.0 / z + sumInvH)

        var stepped = false
        while (!stepped) {
          var singular = false
          var j = 0
          while (j < numTopics && !singular) {
            val step = math.pow(DecayFactor, decay) * (grad(j) - c) / hess(j)
            if (alpha(j) <= step) singular = true
            else alphaNew(j) = alpha(j) - step
            j += 1
          }
          if (singular) {
            decay += 1
            alphaNew = alpha // alias, as in the reference — see scaladoc
            if (decay > MaxDecay) stepped = true
          } else stepped = true
        }

        alphaSum = 0.0
        keepGoing = false
        var j = 0
        while (j < numTopics) {
          alphaSum += alphaNew(j)
          if (math.abs((alphaNew(j) - alpha(j)) / alpha(j)) >= ConvergeThreshold) keepGoing = true
          j += 1
        }
        if (iter >= MaxIterations) keepGoing = false
        if (decay > MaxDecay) keepGoing = false
        iter += 1
        alpha = alphaNew
      }
    } catch {
      case e: ArithmeticException => System.err.println(e.getMessage)
    }
    alpha
  }

  /** Symmetric (scalar) α update — Newton in log-space. */
  def updateScalarAlpha(numTopics: Int, numDocs: Long, alphaInit0: Double,
      ss: Double): Double = {
    var alphaInit = alphaInit0
    var alpha = alphaInit
    var iter = 0
    var done = false
    while (!done) {
      iter += 1
      if (alpha.isNaN || alpha.isInfinite) {
        alphaInit *= 10 // reference Settings.DEFAULT_ALPHA_UPDATE_SCALE_FACTOR
        alpha = alphaInit
      }
      val alphaSum = alpha * numTopics
      val grad = numDocs * (numTopics * digamma(alphaSum) - numTopics * digamma(alpha)) + ss
      val hess = numDocs *
        (numTopics.toDouble * numTopics * trigamma(alphaSum) - numTopics * trigamma(alpha))
      alpha = math.exp(math.log(alpha) - grad / (hess * alpha + grad))
      if (math.abs(grad) < ConvergeThreshold || iter > MaxIterations) done = true
    }
    alpha
  }
}
