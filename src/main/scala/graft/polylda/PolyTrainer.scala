package graft.polylda

import graft.lda.{EmCore, TermBeta}
import graft.lda.EmCore.{DocShape, Keys, Lookup, Model, Smoothing}
import graft.model.PolyDoc
import org.apache.spark.broadcast.Broadcast
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
    logphi: Array[Double],
    /** doc rows carry the full document (like the reference's gamma side
      * output) so next iteration's corpus needs no rotation join. */
    counts: Map[Int, Map[Int, Int]] = null,
    numTokens: Map[Int, Long] = null,
    totalTokens: Long = 0L)

/** Polylingual documents and E-step rows as the EM core sees them: terms
  * keyed (lang, termId), one tied gamma per document. */
private[graft] object PolyDocs extends DocShape[PolyDoc, PolyEStepRow](
    Keys(Seq("lang")), Seq("docId", "counts", "numTokens", "totalTokens", "gamma"),
    "totalTokens") {
  lazy val docEncoder: Encoder[PolyDoc] = Encoders.product[PolyDoc]
  lazy val rowEncoder: Encoder[PolyEStepRow] = Encoders.product[PolyEStepRow]
  def langCountsColumns(docs: DataFrame): DataFrame =
    docs.select(col("docId"), explode_outer(col("counts")).as(Seq("lang", "langCounts")))
  def langCounts(d: PolyDoc): Iterable[(Int, Map[Int, Int])] = d.counts.toSeq.sortBy(_._1)
  def tokens(d: PolyDoc): Long = d.totalTokens
  def gamma(d: PolyDoc): Option[Array[Double]] = d.gamma
  def fromTerms(docId: Long, tokens: Long, terms: Seq[TermBeta]): PolyDoc = {
    val byLang = terms.groupBy(_.lang)
    PolyDoc(docId,
      byLang.map { case (l, ts) => l -> ts.map(t => t.termId -> t.cnt).toMap },
      byLang.map { case (l, ts) => l -> ts.map(_.cnt.toLong).sum },
      tokens)
  }
  def docRow(d: PolyDoc, gamma: Array[Double], ll: Double): PolyEStepRow =
    PolyEStepRow(isDoc = true, d.docId, gamma, ll, -1, -1, null, d.counts, d.numTokens,
      d.totalTokens)
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
      updateAlpha: Boolean = true,
      seed: Long = 42L,
      /** Snapshot alpha / per-language beta / gamma'd corpus per iteration
        * (reference writes alpha-i, beta_lang<l>-i, gamma-i;
        * polylda/VariationalInference.java:359-372). */
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 1,
      /** Resume from `(dir, iteration)` — the polylda driver's resume path
        * (polylda/VariationalInference.java:396-404). */
      resumeFrom: Option[(String, Int)] = None,
      /** Σ_l K×V_l threshold above which per-language beta is NOT collected
        * and broadcast; the shuffle-join E-step runs instead. The reference
        * loads every language's beta per mapper — L× the vanilla wall. */
      betaBroadcastMaxEntries: Long = 4L << 20) extends EmCore.Settings

  /** language → vocabulary size: the random-init scale of unseen terms, per
    * language like the reference's numberOfTerms[languageIndex]. */
  private[graft] def vocab(numTermsPerLang: Map[Int, Int]): Int => Int =
    l => numTermsPerLang.getOrElse(l, 1).max(1)

  /** A broadcast lang -> termId -> row model as the E-step's lookup. */
  private[graft] def lookup(bc: Broadcast[Map[Int, scala.collection.Map[Int, Array[Double]]]]): Lookup =
    Lookup(w => bc.value.get(EmCore.langOf(w)).flatMap(_.get(EmCore.termOf(w))).orNull)

  def train(docs: Dataset[PolyDoc], numTermsPerLang: Map[Int, Int], cfg: Config): PolyLdaModel = {
    val rng = new java.util.Random(cfg.seed)
    val fit = EmCore.fit(docs, Model(PolyDocs, Smoothing.floor,
      Array.fill(cfg.numTopics)(rng.nextDouble()), symmetricAlpha = false,
      vocab(numTermsPerLang), numTermsPerLang.values.map(_.toLong).sum), cfg)
    val beta = fit.beta.groupBy { case (w, _) => EmCore.langOf(w) }.map { case (l, m) =>
      l -> (m.map { case (w, arr) => EmCore.termOf(w) -> arr }: scala.collection.Map[Int, Array[Double]])
    }
    PolyLdaModel(cfg.numTopics, numTermsPerLang, fit.alpha, beta, fit.logLikelihood,
      fit.iterations, fit.llHistory)
  }

  /** Held-out inference with a frozen polylingual model (map-only,
    * reference: training=false path of polylda/VariationalInference.java). */
  def infer(docs: Dataset[PolyDoc], model: PolyLdaModel, localIterations: Int = 100,
      seed: Long = 42L): (DataFrame, Double) = {
    val betaBc = docs.sparkSession.sparkContext.broadcast(model.beta)
    EmCore.infer(docs, PolyDocs, model.alpha, lookup(betaBc),
      vocab(model.numTermsPerLang), localIterations, seed)
  }

  /** Top-k terms per (language, topic) — the polylingual DisplayTopic
    * (reference surfaces 1-based language ids in file names; we surface the
    * lang column). */
  def topTermsPerTopic(spark: org.apache.spark.sql.SparkSession, model: PolyLdaModel,
      terms: Dataset[graft.model.PolyTermEntry], k: Int): DataFrame = {
    import spark.implicits._
    val rows = model.beta.toSeq.flatMap { case (lang, termMap) =>
      termMap.toSeq.flatMap { case (termId, arr) =>
        arr.zipWithIndex.map { case (v, t) => (lang, t + 1, termId, v) }
      }
    }
    topTermsFromRows(rows.toDF("lang", "topic", "termId", "elogbeta"), terms, k)
  }

  /** Same over (lang, topic, termId, elogbeta) rows — e.g. a checkpointed
    * beta-<i> snapshot. */
  def topTermsFromRows(beta: DataFrame,
      terms: Dataset[graft.model.PolyTermEntry], k: Int): DataFrame = {
    val spark = beta.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang", $"topic").orderBy($"elogbeta".desc, $"termId".asc)
    beta.join(terms.select($"lang", $"termId", $"term"), Seq("lang", "termId"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"lang", $"topic", $"rnk", $"term", round($"elogbeta", 6).as("score"))
  }
}
