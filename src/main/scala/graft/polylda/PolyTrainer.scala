package graft.polylda

import graft.lda.{Display, EmCore}
import graft.lda.EmCore.{DocRecord, DocShape, Keys, Model, PackedBeta, Smoothing}
import graft.model.PolyDoc
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Trained polylingual model: shared alpha, one beta matrix per language
  * (reference: cc/mrlda/polylda/VariationalInference.java:359-372 writes
  * `beta_lang<l>-<i>` files). */
case class PolyLdaModel(
    numTopics: Int,
    numTermsPerLang: Map[Int, Int],
    alpha: Array[Double],
    /** lang -> termId -> E[log β] over topics. */
    beta: Map[Int, scala.collection.Map[Int, Array[Double]]],
    logLikelihood: Double,
    iterations: Int,
    llHistory: Seq[Double])

/**
 * One polylingual E-step output row: doc rows carry the tied gamma, phi rows
 * are keyed (lang 0.., termId) and carry the K-length per-topic log-phi
 * array (`logphi(i)` ↔ topic i+1) — the reference's TripleOfInts stream
 * (polylda/DocumentMapper.java:290-296) packed K-per-row.
 */
case class PolyEStepRow(
    isDoc: Boolean,
    docId: Long,
    gamma: Array[Double],
    ll: Double,
    lang: Int,
    termId: Int,
    logphi: Array[Double])

/** Polylingual documents and E-step rows as the EM core sees them: terms
  * keyed (lang, termId), one tied gamma per document. */
private[graft] object PolyDocs extends DocShape[PolyDoc, PolyEStepRow](
    Keys(Seq("lang")), Seq("docId", "counts", "numTokens", "totalTokens", "gamma")) {
  lazy val docEncoder: Encoder[PolyDoc] = Encoders.product[PolyDoc]
  lazy val rowEncoder: Encoder[PolyEStepRow] = Encoders.product[PolyEStepRow]
  /** `meta`: the count maps' languages in iteration order, after their
    * number, then the per-language token totals as (lang, tokens) pairs */
  def record(d: PolyDoc): DocRecord = {
    val (keys, cnt) = EmCore.terms(d.counts.toSeq.sortBy(_._1))
    DocRecord(d.docId, d.totalTokens, keys, cnt, (d.counts.size.toLong +: d.counts.keys.map(_.toLong).toArray) ++
      d.numTokens.iterator.flatMap { case (l, n) => Iterator(l.toLong, n) }, d.gamma.orNull)
  }
  def document(r: DocRecord, gamma: Option[Array[Double]]): PolyDoc = {
    val langs = r.meta.slice(1, 1 + r.meta(0).toInt).map(_.toInt)
    PolyDoc(r.docId, langs.map(l => l -> EmCore.counts(r, l)).toMap,
      r.meta.drop(1 + langs.length).grouped(2).map(p => p(0).toInt -> p(1)).toMap, r.tokens, gamma)
  }
  def docRow(r: DocRecord, gamma: Array[Double], ll: Double): PolyEStepRow =
    PolyEStepRow(isDoc = true, r.docId, gamma, ll, -1, -1, null)
  def phiRow(key: Long, logphi: Array[Double]): PolyEStepRow =
    PolyEStepRow(isDoc = false, -1L, null, 0.0, EmCore.langOf(key), EmCore.termOf(key), logphi)
}

/**
 * Polylingual LDA (reference: cc/mrlda/polylda/VariationalInference.java
 * :330-580): the EM core ([[EmCore.fit]]) with (lang, termId) keys. The
 * differences from vanilla LDA are exactly the reference's: the M-step
 * aggregates per (language, topic, term) with a per-(language, topic)
 * normalizer and NO eta smoothing (polylda/TermReducer.java:84-119 adds no
 * prior), and alpha is initialized randomly (reference unseeded Math.random
 * at polylda/VariationalInference.java:387 — here seeded for
 * reproducibility). Alpha sufficient statistics use ψ(γ_dk) − ψ(Σγ_d) as in
 * the vanilla mapper (the polylda mapper passes its log-space gamma
 * accumulator to digamma at polylda/DocumentMapper.java:301 — a reference
 * quirk we deliberately do not reproduce).
 */
object PolyTrainer {

  case class Config(
      numTopics: Int,
      maxIterations: Int = 30,
      localIterations: Int = 100,
      convergence: Double = 1e-6,
      randomStartGamma: Boolean = false,
      seed: Long = 42L,
      /** Snapshot alpha / per-language beta / gamma'd corpus after every
        * iteration (reference writes alpha-i, beta_lang<l>-i, gamma-i;
        * polylda/VariationalInference.java:359-372). */
      checkpointDir: Option[String] = None,
      /** Resume from `(dir, iteration)` — the polylda driver's resume path
        * (polylda/VariationalInference.java:396-404). */
      resumeFrom: Option[(String, Int)] = None,
      /** Σ_l K×V_l threshold above which per-language beta is not
        * collected and broadcast: the M-step's reducers finish it and send
        * each corpus partition the (lang, term) rows of its own terms. The
        * reference loads every language's beta per mapper — L× the vanilla
        * wall. The same EM iteration either way, and a bit-identical
        * model. */
      betaBroadcastMaxEntries: Long = 4L << 20) extends EmCore.Settings

  /** language → vocabulary size: the random-init scale of unseen terms, per
    * language like the reference's numberOfTerms[languageIndex]. */
  private[graft] def vocab(numTermsPerLang: Map[Int, Int]): Int => Int =
    l => numTermsPerLang.getOrElse(l, 1).max(1)

  /** A lang -> termId -> row model as the E-step's packed lookup. */
  private[graft] def packed(beta: Map[Int, scala.collection.Map[Int, Array[Double]]], k: Int): PackedBeta =
    PackedBeta.of(beta.iterator.flatMap { case (l, m) =>
      m.iterator.map { case (w, arr) => EmCore.key(l, w) -> arr } }, k)

  def train(docs: Dataset[PolyDoc], numTermsPerLang: Map[Int, Int], cfg: Config): PolyLdaModel = {
    val rng = new java.util.Random(cfg.seed)
    val fit = EmCore.fit(docs, Model(PolyDocs, Smoothing.floor,
      Array.fill(cfg.numTopics)(rng.nextDouble()), symmetricAlpha = false,
      vocab(numTermsPerLang), numTermsPerLang.values.map(_.toLong).sum), cfg)
    val beta = fit.beta.iterator.toSeq.groupBy { case (w, _) => EmCore.langOf(w) }.map { case (l, m) =>
      l -> (m.map { case (w, arr) => EmCore.termOf(w) -> arr }.toMap: scala.collection.Map[Int, Array[Double]])
    }
    PolyLdaModel(cfg.numTopics, numTermsPerLang, fit.alpha, beta, fit.logLikelihood,
      fit.iterations, fit.llHistory)
  }

  /** Held-out inference with a frozen polylingual model (map-only,
    * reference: training=false path of polylda/VariationalInference.java):
    * per-doc (docId, gamma), cached until the caller's `unpersist`, and the
    * held-out log-likelihood. */
  def infer(docs: Dataset[PolyDoc], model: PolyLdaModel,
      localIterations: Int = 100): (DataFrame, Double) =
    EmCore.infer(docs, PolyDocs, model.alpha, packed(model.beta, model.numTopics),
      vocab(model.numTermsPerLang), localIterations)

  /** Top-k terms per (language, topic) — the polylingual DisplayTopic
    * (reference surfaces 1-based language ids in file names; we surface the
    * lang column) → a local (lang, topic, rnk, term, score) DataFrame,
    * ordered, scores rounded to 6 dp. */
  def topTermsPerTopic(spark: org.apache.spark.sql.SparkSession, model: PolyLdaModel,
      terms: Dataset[graft.model.PolyTermEntry], k: Int): DataFrame =
    topTerms(model.beta.view.flatMap { case (l, m) =>
      m.view.flatMap { case (w, arr) => arr.indices.map(t => (l, t + 1, w, arr(t))) }
    }, terms, k)

  /** Same over (lang, topic, termId, elogbeta) rows — e.g. a checkpointed
    * beta-<i> snapshot, collected. */
  def topTermsFromRows(beta: DataFrame,
      terms: Dataset[graft.model.PolyTermEntry], k: Int): DataFrame = {
    import beta.sparkSession.implicits._
    topTerms(beta.select($"lang", $"topic", $"termId", $"elogbeta").as[(Int, Int, Int, Double)].collect(),
      terms, k)
  }

  private def topTerms(beta: Iterable[(Int, Int, Int, Double)],
      terms: Dataset[graft.model.PolyTermEntry], k: Int): DataFrame = {
    import terms.sparkSession.implicits._
    Display.rankTerms(beta, terms.toDF(), PolyDocs.keys, k).toDF("lang", "topic", "rnk", "term", "score")
      .withColumn("score", round($"score", 6))
  }
}
