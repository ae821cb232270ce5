package graft.lda

import graft.functions.GammaFuncs.logAdd
import graft.lda.EmCore.{DocShape, Join, Keys, Lookup, Sweeps}
import graft.model.Doc
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{col, lit}

/**
 * One row of vanilla E-step output. Two shapes share the schema (the
 * Spark-native version of the reference's MultipleOutputs side-outputs,
 * cc/mrlda/DocumentMapper.java:341-346):
 *  - doc rows (`isDoc`): updated gamma + per-document log-likelihood;
 *  - phi rows: partition-combined log-space phi sufficient statistics —
 *    ONE row per termId carrying the K-length per-topic array
 *    (`logphi(i)` ↔ topic i+1). Consumers posexplode back to
 *    (topic, termId, logphi) via [[MStep.explodePhi]] before the
 *    cross-partition fold.
 */
case class EStepRow(
    isDoc: Boolean,
    docId: Long,
    gamma: Array[Double],
    ll: Double,
    termId: Int,
    logphi: Array[Double],
    /** doc rows carry the full document (counts + token total) so the next
      * iteration's corpus is a projection of the E-step output — no
      * corpus-sized rotation join per iteration, like the reference's
      * gamma side-output, which emits the whole Document
      * (DocumentMapper.java:341-346). Null on phi rows. */
    counts: Map[Int, Int] = null,
    numTokens: Long = 0L)

/** Vanilla LDA's documents and E-step rows as the EM core sees them: one
  * language, lang 0, keyed by `termId` alone. */
private[graft] object VanillaDocs extends DocShape[Doc, EStepRow](
    Keys(Nil), Seq("docId", "counts", "numTokens", "gamma"), "numTokens") {
  lazy val docEncoder: Encoder[Doc] = Encoders.product[Doc]
  lazy val rowEncoder: Encoder[EStepRow] = Encoders.product[EStepRow]
  def langCountsColumns(docs: DataFrame): DataFrame =
    docs.select(col("docId"), lit(0).as("lang"), col("counts").as("langCounts"))
  def langCounts(d: Doc): Iterable[(Int, Map[Int, Int])] = Seq(0 -> d.counts)
  def tokens(d: Doc): Long = d.numTokens
  def gamma(d: Doc): Option[Array[Double]] = d.gamma
  def fromTerms(docId: Long, tokens: Long, terms: Seq[TermBeta]): Doc =
    Doc(docId, terms.map(t => t.termId -> t.cnt).toMap, tokens)
  def docRow(d: Doc, gamma: Array[Double], ll: Double): EStepRow =
    EStepRow(isDoc = true, d.docId, gamma, ll, -1, null, d.counts, d.numTokens)
  def phiRow(key: Long, logphi: Array[Double]): EStepRow =
    EStepRow(isDoc = false, -1L, null, 0.0, EmCore.termOf(key), logphi)
}

/**
 * The vanilla E-step with the model broadcast — the Spark equivalent of
 * the reference's DistributedCache model shipping. The fixed point itself
 * is [[EmCore.estep]]'s kernel.
 */
object EStep {

  /**
   * One term's log-space phi update inside a fixed-point sweep (reference
   * updatePhi, cc/mrlda/DocumentMapper.java:402-429 — shared verbatim by the
   * polylingual mapper, polylda/DocumentMapper.java:245-247): computes
   * logφ_k = E[log β_kw] + ψ(γ_k), normalizes by log-sum-exp, accumulates the
   * likelihood contribution c·φ_k·(E[log β_kw] − logφ_k), scales by log c and
   * folds into the gamma accumulator. `dgamma` must already be ψ(γ);
   * `lp` is the term's scratch/output phi row; `logC` must be
   * math.log(cnt) — hoisted by callers so the (sweeps × terms) hot loop
   * doesn't recompute a per-term constant. Returns the likelihood term.
   */
  private[graft] def updatePhiTerm(k: Int, cnt: Int, logC: Double, lb: Array[Double],
      dgamma: Array[Double], lp: Array[Double], updateLogGamma: Array[Double]): Double = {
    var norm = lb(0) + dgamma(0)
    lp(0) = norm
    var i = 1
    while (i < k) {
      lp(i) = lb(i) + dgamma(i)
      norm = logAdd(norm, lp(i))
      i += 1
    }
    var likelihood = 0.0
    i = 0
    while (i < k) {
      lp(i) -= norm
      likelihood += cnt * math.exp(lp(i)) * (lb(i) - lp(i))
      lp(i) += logC
      updateLogGamma(i) = logAdd(updateLogGamma(i), lp(i))
      i += 1
    }
    likelihood
  }

  /**
   * Random E[log β] init for a term absent from the model: the reference's
   * log(2·rand/V + rand) (DocumentMapper.java:446-463) from a per-term seeded
   * RNG so runs are reproducible (the reference used unseeded Math.random —
   * divergence documented in SURVEY §7.5).
   */
  private[graft] def randomElogBeta(k: Int, termId: Int, numTerms: Int, seed: Long): Array[Double] = {
    val rng = new java.util.Random(seed ^ (termId.toLong * 0x9E3779B97F4A7C15L))
    Array.fill(k)(math.log(2.0 * rng.nextDouble() / numTerms + rng.nextDouble()))
  }

  /**
   * @param betaBc termId -> E[log β_·w] over topics (0-based array). Empty on
   *               the first iteration: unseen terms get the seeded random
   *               init ([[randomElogBeta]]).
   * @param learning when false (held-out inference, reference D5) phi rows
   *                 are not emitted.
   */
  def run(
      docs: Dataset[Doc],
      alphaBc: Broadcast[Array[Double]],
      betaBc: Broadcast[scala.collection.Map[Int, Array[Double]]],
      numTerms: Int,
      localIterations: Int = 100,
      randomStartGamma: Boolean = false,
      learning: Boolean = true,
      seed: Long = 42L): Dataset[EStepRow] =
    EmCore.estep(docs, VanillaDocs, alphaBc, Lookup.terms(betaBc), _ => numTerms,
      Sweeps(localIterations, randomStartGamma, learning, seed))
}

/**
 * The vanilla E-step with beta as a distributed `(termId, elogbeta
 * array<double>)` table: the scale path for models too large to broadcast
 * (SURVEY.md §7.5 — at V=1M, K=100 the K×V beta is ~800 MB; the reference
 * hits the same wall loading whole beta per mapper, DocumentMapper.java:116).
 * The corpus is exploded to (doc, term) rows, shuffle-joined with beta on
 * termId and regrouped per doc; the kernel is [[EmCore.estep]]'s. Cost: two
 * extra shuffles per iteration (join + regroup).
 */
object EStepShuffle {

  /** The corpus exploded to its beta-join shape: (docId, termId, cnt),
    * hash-partitioned by termId. EM-loop-invariant: pass it back via
    * `run(preExploded = ...)` so the corpus-nnz-sized exchange happens once
    * per training run instead of once per iteration. */
  def explodeDocs(docs: Dataset[Doc]): DataFrame = EmCore.explodeDocs(docs.toDF(), VanillaDocs)

  /** @param beta (termId INT, elogbeta ARRAY<DOUBLE> length K) */
  def run(
      docs: Dataset[Doc],
      alphaBc: Broadcast[Array[Double]],
      beta: DataFrame,
      numTerms: Int,
      localIterations: Int = 100,
      randomStartGamma: Boolean = false,
      learning: Boolean = true,
      seed: Long = 42L,
      preExploded: Option[DataFrame] = None): Dataset[EStepRow] =
    EmCore.estep(docs, VanillaDocs, alphaBc, Join(beta, preExploded), _ => numTerms,
      Sweeps(localIterations, randomStartGamma, learning, seed))
}
