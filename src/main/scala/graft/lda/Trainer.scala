package graft.lda

import graft.lda.EmCore.{Model, PackedBeta, Smoothing}
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

  /** Every topic's initial alpha (reference VariationalInference.java:160). */
  val AlphaInit = 1e-3

  case class Config(
      numTopics: Int,
      maxIterations: Int = 30,
      localIterations: Int = 100,
      convergence: Double = 1e-6,
      symmetricAlpha: Boolean = false,
      /** Re-initialize gamma every iteration instead of warm-starting from
        * the previous iteration's posterior (reference `-randomstart`, which
        * suppresses the gamma side-output so every E-step starts fresh). */
      randomStartGamma: Boolean = false,
      seed: Long = 42L,
      prior: Option[DataFrame] = None,
      /** K×V threshold above which beta is not collected and broadcast:
        * the M-step's reducers finish it and send each corpus partition
        * the rows of its own terms (SURVEY §7.5 scale path). The same EM
        * iteration either way, and a bit-identical model. */
      betaBroadcastMaxEntries: Long = 4L << 20,
      /** Snapshot alpha/beta/gamma to parquet under this dir after every
        * iteration (reference D4). */
      checkpointDir: Option[String] = None,
      /** Resume from `(dir, iteration)` — the reference's `-modelindex`
        * (VariationalInference.java:169-174). */
      resumeFrom: Option[(String, Int)] = None) extends EmCore.Settings

  def train(docs: Dataset[Doc], numTerms: Int, cfg: Config): LdaModel = {
    val fit = EmCore.fit(docs, Model(VanillaDocs, Smoothing.eta(cfg.prior.map(Smoothing.seeds)),
      Array.fill(cfg.numTopics)(AlphaInit), cfg.symmetricAlpha, _ => numTerms, numTerms), cfg)
    LdaModel(cfg.numTopics, numTerms, fit.alpha,
      fit.beta.iterator.map { case (w, arr) => EmCore.termOf(w) -> arr }.toMap,
      fit.logLikelihood, fit.iterations, fit.llHistory)
  }

  /** Held-out inference (reference D5): frozen model, one map-only E-step,
    * returns per-doc (docId, gamma), cached until the caller's
    * `unpersist`, and the held-out log-likelihood. */
  def infer(docs: Dataset[Doc], model: LdaModel, localIterations: Int = 100): (DataFrame, Double) =
    EmCore.infer(docs, VanillaDocs, model.alpha,
      PackedBeta.of(model.beta.iterator.map { case (w, arr) => EmCore.key(0, w) -> arr }, model.numTopics),
      _ => model.numTerms, localIterations)
}
