package graft

import graft.functions.GammaFuncs.{digamma, logGamma}
import graft.lda.{EStep, EmCore}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The E-step kernel sweeps in linear space and takes logs on the final
 * sweep only; the reference sweeps in log space (`updatePhi`,
 * cc/mrlda/DocumentMapper.java:204-242, 402-429). Both are the same fixed
 * point, so on seeded documents the kernel must give the log-space sweep's
 * gamma and document log-likelihood to 1e-12 relative and its emitted
 * log φ to 1e-12 absolute. The documents carry the rows the models produce:
 * eta-1e-12 entries, the polylingual −700 floor (and ψ(e^-700) ≈ −1e304),
 * a tiny-λ entry of −1.1e68 and terms the model has never seen; and a
 * warm-started document whose linear normaliser underflows, which only the
 * kernel's log-space guard gets right. No Spark job.
 */
class EStepKernelSpec extends AnyFunSuite {
  import EStepKernelSpec.DocCase

  private val Sweeps = 100
  private val Vocab = 1000
  private val Seed = 42L

  /** The reference's log-space fixed point, as the kernel ran it before
    * the linear sweep: `updatePhi` for every term in every sweep, the last
    * sweep's likelihood and log φ (scaled by ln count) kept. */
  private def logSpaceFit(alpha: Array[Double], lb: Array[Array[Double]], cnt: Array[Int],
      gamma0: Array[Double]): (Array[Double], Double, Array[Array[Double]]) = {
    val k = alpha.length
    val logAlpha = alpha.map(math.log)
    val logCnt = cnt.map(c => math.log(c.toDouble))
    val gamma = gamma0.clone()
    val updateLogGamma = new Array[Double](k)
    val logPhi = Array.ofDim[Double](cnt.length, k)
    var likelihoodPhi = 0.0
    var sweep = 1
    var continue = true
    while (continue) {
      likelihoodPhi = 0.0
      for (i <- 0 until k) { gamma(i) = digamma(gamma(i)); updateLogGamma(i) = logAlpha(i) }
      for (w <- cnt.indices)
        likelihoodPhi += EStep.updatePhiTerm(k, cnt(w), logCnt(w), lb(w), gamma, logPhi(w),
          updateLogGamma)
      for (i <- 0 until k) gamma(i) = math.exp(updateLogGamma(i))
      sweep += 1
      continue = sweep < Sweeps
    }
    val likelihoodAlpha = logGamma(alpha.sum) - alpha.map(logGamma).sum
    val likelihoodGamma = gamma.map(logGamma).sum - logGamma(gamma.sum)
    (gamma, likelihoodAlpha + likelihoodGamma + likelihoodPhi, logPhi)
  }

  /** Runs the kernel on a block of one document, against a model of its
    * non-null rows: (gamma, ll, termId → emitted log φ). */
  private def kernelFit(c: DocCase): (Array[Double], Double, Map[Int, Array[Double]]) = {
    val kernel = new EmCore.Kernel(c.alpha,
      EmCore.Sweeps(Sweeps, randomStartGamma = false, learning = true, Seed), _ => Vocab)
    val block = EmCore.DocBlock(Iterator(EmCore.DocRecord(1L, c.tokens, c.terms.map(EmCore.key(0, _)),
      c.cnt.clone(), Array.emptyLongArray, c.gamma.map(_.clone()).orNull)), c.alpha)
    val beta = EmCore.PackedBeta.of(c.terms.indices.iterator.filter(c.rows(_) != null)
      .map(j => EmCore.key(0, c.terms(j)) -> c.rows(j).clone()), c.k)
    val fit = kernel.fitBlock(block, block.gamma, beta)
    (fit.gamma, fit.ll(0), block.distinct.indices.map(s =>
      EmCore.termOf(block.distinct(s)) -> fit.logphi.slice(s * c.k, (s + 1) * c.k)).toMap)
  }

  private def relClose(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(math.abs(a), math.abs(b))

  private def assertAgrees(c: DocCase): Unit = {
    val resolved = c.terms.indices.map { j =>
      if (c.rows(j) == null) EStep.randomElogBeta(c.k, c.terms(j), Vocab, Seed) else c.rows(j)
    }.toArray
    val gamma0 = c.gamma.getOrElse(Array.tabulate(c.k)(i => c.alpha(i) + c.tokens.toDouble / c.k))
    val (refGamma, refLl, refPhi) = logSpaceFit(c.alpha, resolved, c.cnt, gamma0)
    val (gamma, ll, phi) = kernelFit(c)
    for (i <- 0 until c.k)
      assert(relClose(gamma(i), refGamma(i), 1e-12),
        s"${c.name}: gamma($i) ${gamma(i)} vs log-space ${refGamma(i)}")
    assert(relClose(ll, refLl, 1e-12), s"${c.name}: document LL $ll vs log-space $refLl")
    assert(phi.keySet == c.terms.toSet, s"${c.name}: emitted terms")
    for (j <- c.terms.indices; i <- 0 until c.k) {
      val (got, want) = (phi(c.terms(j))(i), refPhi(j)(i))
      if (want > -700) assert(math.abs(got - want) <= 1e-12,
        s"${c.name}: log φ(term ${c.terms(j)}, topic $i) $got vs log-space $want")
      else assert(got < -699, s"${c.name}: log φ(term ${c.terms(j)}, topic $i) $got vs $want")
    }
  }

  /** A seeded document of 24 terms mixing every kind of E[log β] row. */
  private def mixedDoc(k: Int, alpha: Array[Double], seed: Long, warm: Boolean): DocCase = {
    val rng = new java.util.Random(seed)
    val nnz = 24
    val terms = Array.tabulate(nnz)(j => 1 + j * 7 + rng.nextInt(7))
    val cnt = Array.fill(nnz)(1 + rng.nextInt(9))
    cnt(0) = 60
    def dense = Array.fill(k)(math.log(rng.nextDouble() + 1e-9) - 3.0 * rng.nextDouble() - 4.0)
    val rows = Array.tabulate(nnz) { j =>
      val row = dense
      val special = rng.nextInt(k)
      j % 6 match {
        case 0 => row
        // eta-smoothed entries of topics that never saw the term: ψ(1e-12)
        case 1 => row.indices.foreach(i => if (i != special && rng.nextBoolean()) row(i) = -1e12); row
        // the polylingual floor at log λ = −700 and its E[log β] ψ(e^-700)
        case 2 => row(special) = -700.0; row((special + 1) % k) = digamma(math.exp(-700)); row
        // the tiny-λ entry of an eta-free model (λ ≈ e^-157)
        case 3 => row(special) = -1.1e68; row
        case 4 => null
        case _ => row
      }
    }
    val gamma = if (warm) Some(Array.fill(k)(0.5 + 30 * rng.nextDouble())) else None
    DocCase(s"K=$k seed=$seed warm=$warm", alpha, terms, cnt, rows, gamma)
  }

  private def alphas(k: Int, seed: Long): Seq[(String, Array[Double])] = {
    val rng = new java.util.Random(seed)
    // at 1.4e-3 an idle topic's exp(ψ(γ_k) − max ψ(γ)) is subnormal, below
    // the kernel's flush to 0
    Seq("alpha=1e-3" -> Array.fill(k)(1e-3), "alpha=1.4e-3" -> Array.fill(k)(1.4e-3),
      "polylingual alpha" -> Array.fill(k)(0.01 + 2 * rng.nextDouble()))
  }

  test("linear-space kernel == log-space sweep on seeded documents, K in {2, 5, 20}") {
    for (k <- Seq(2, 5, 20); (an, alpha) <- alphas(k, 11L * k); seed <- 1L to 4L)
      assertAgrees(mixedDoc(k, alpha, seed * 101 + k, warm = seed % 2 == 0)
        .copy(name = s"K=$k $an seed=$seed"))
  }

  test("a warm-started document whose linear normaliser underflows takes the log-space step") {
    for (k <- Seq(2, 5, 20)) {
      val alpha = Array.fill(k)(1e-3)
      val rng = new java.util.Random(k)
      val nnz = 12
      val cnt = Array.fill(nnz)(1 + rng.nextInt(5))
      // gamma warm-started on topic 0 alone (ψ(1e-3) ≈ −1000 elsewhere, so
      // exp(ψ(γ_k) − max ψ(γ)) is 0 there); half the terms keep their mass
      // only in the other topics (an eta entry at topic 0)
      val gamma = Array.tabulate(k)(i => if (i == 0) 1e-3 + cnt.sum else 1e-3)
      val rows = Array.tabulate(nnz) { j =>
        val row = Array.fill(k)(math.log(rng.nextDouble() + 1e-9) - 5.0)
        if (j % 2 == 0) row(0) = -1e12
        row
      }
      val c = DocCase(s"K=$k warm underflow", alpha, Array.tabulate(nnz)(_ + 1), cnt, rows,
        Some(gamma))
      // the first sweep's normaliser of an eta-at-topic-0 term is below the
      // floor, so this case goes through the guard
      val dg = gamma.map(digamma)
      val norm = rows(0).indices.map(i =>
        math.exp(rows(0)(i) - rows(0).max) * math.exp(dg(i) - dg.max)).sum
      assert(norm < EmCore.NormFloor, s"K=$k: first-sweep norm $norm does not underflow")
      assertAgrees(c)
    }
  }
}

object EStepKernelSpec {
  /** One document: term ids, counts, E[log β] rows (null: unseen) and an
    * optional warm-start gamma. */
  final case class DocCase(name: String, alpha: Array[Double], terms: Array[Int],
      cnt: Array[Int], rows: Array[Array[Double]], gamma: Option[Array[Double]]) {
    def k: Int = alpha.length
    def tokens: Long = cnt.map(_.toLong).sum
  }
}
