package graft.lda

import graft.lda.EmCore.{Lookup, Model, Smoothing}
import graft.model.Doc
import org.apache.spark.sql.{DataFrame, Dataset}

/** Trained model state after an EM run (or one resumable snapshot of it). */
case class LdaModel(
    numTopics: Int,
    numTerms: Int,
    alpha: Array[Double],
    /** termId -> E[log β_·w] per topic (0-based topic index). */
    beta: scala.collection.Map[Int, Array[Double]],
    logLikelihood: Double,
    iterations: Int,
    llHistory: Seq[Double])

/**
 * Vanilla LDA: the EM core ([[EmCore.fit]]) with one language, eta
 * smoothing (optionally an informed prior) and a fixed alpha init.
 */
object Trainer {

  case class Config(
      numTopics: Int,
      maxIterations: Int = 30,
      localIterations: Int = 100,
      convergence: Double = 1e-6,
      alphaInit: Double = 1e-3, // reference VariationalInference.java:160
      symmetricAlpha: Boolean = false,
      /** Re-initialize gamma every iteration instead of warm-starting from
        * the previous iteration's posterior (reference `-randomstart`, which
        * suppresses the gamma side-output so every E-step starts fresh). */
      randomStartGamma: Boolean = false,
      updateAlpha: Boolean = true,
      seed: Long = 42L,
      prior: Option[DataFrame] = None,
      /** K×V threshold above which beta is NOT collected/broadcast and the
        * shuffle-join E-step runs instead (SURVEY §7.5 scale path). */
      betaBroadcastMaxEntries: Long = 4L << 20,
      /** Snapshot alpha/beta/gamma to parquet under this dir (reference D4). */
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 1,
      /** Resume from `(dir, iteration)` — the reference's `-modelindex`
        * (VariationalInference.java:169-174). */
      resumeFrom: Option[(String, Int)] = None) extends EmCore.Settings

  def train(docs: Dataset[Doc], numTerms: Int, cfg: Config): LdaModel = {
    val fit = EmCore.fit(docs, Model(VanillaDocs, Smoothing.eta(cfg.prior),
      Array.fill(cfg.numTopics)(cfg.alphaInit), cfg.symmetricAlpha, _ => numTerms, numTerms), cfg)
    LdaModel(cfg.numTopics, numTerms, fit.alpha,
      fit.beta.iterator.map { case (w, arr) => EmCore.termOf(w) -> arr }.toMap,
      fit.logLikelihood, fit.iterations, fit.llHistory)
  }

  /** Held-out inference (reference D5): frozen model, one map-only E-step,
    * returns per-doc gamma and the held-out log-likelihood. */
  def infer(docs: Dataset[Doc], model: LdaModel, localIterations: Int = 100,
      seed: Long = 42L): (DataFrame, Double) = {
    val betaBc = docs.sparkSession.sparkContext.broadcast(model.beta)
    EmCore.infer(docs, VanillaDocs, model.alpha, Lookup.terms(betaBc), _ => model.numTerms,
      localIterations, seed)
  }
}
