package graft.lda

import graft.functions.gfunctions.digamma
import graft.lda.EmCore.Smoothing
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Vanilla M-step: fold the E-step's log-space phi statistics into the new
 * topic–word posterior λ and emit E[log β_kw] = ψ(λ_kw) − ψ(Σ_w λ_kw) — the
 * EM core's keyed helpers with the vanilla key (`termId`) and eta smoothing
 * (InformedPrior.java:172-177 / Settings.java:58: log(1000) for seeded
 * (topic, term) pairs, log(0.001) for the rest when a prior is supplied,
 * log(1e-12) otherwise).
 */
object MStep {

  val DefaultLogEta: Double = math.log(1e-12)
  val InformedLogEta: Double = math.log(1000.0).toFloat.toDouble
  val UninformedLogEta: Double = math.log(0.001).toFloat.toDouble

  private def keys = VanillaDocs.keys

  /** K-array phi rows → scalar (topic, termId, logphi) rows. */
  def explodePhi(estep: DataFrame): DataFrame = EmCore.explodePhi(estep, keys)

  /**
   * The M-step over scalar φ rows ([[EmCore.mstepRows]]): each partition's
   * rows fold into one partial, and the reducers fold λ, smooth it and
   * finish β as the sliced lookup's do.
   *
   * @param phi   (topic, termId, logphi) partition-combined E-step rows
   *              (use [[explodePhi]] to unpack the E-step's K-array rows)
   * @param prior optional informed prior (topic, termId) seed pairs
   * @return      (topic, termId, elogbeta)
   */
  def run(phi: DataFrame, prior: Option[DataFrame] = None): DataFrame =
    EmCore.mstepRows(phi, keys, Smoothing.eta(prior.map(Smoothing.seeds)))

  /** The M-step's λ fold ([[EmCore.reduce]]: one job of
    * per-partition partials, merged by key in partition order) as local rows: tag 0 =
    * (termId, log λ per topic in v); tag 1 = (alpha stats in v, corpus LL
    * in ll). The reduce runs when this is called. */
  def fusedIterationRows(estep: DataFrame): DataFrame = {
    val spark = estep.sparkSession
    import spark.implicits._
    val r = EmCore.reduce(estep, keys)
    val k = r.ss.length
    val lambda = r.keys.indices.map(j =>
      (0, EmCore.termOf(r.keys(j)), r.lambda.slice(j * k, (j + 1) * k), 0.0))
    (lambda :+ ((1, -1, r.ss, r.ll))).toDF("tag", "termId", "v", "ll")
  }

  /** Split `fusedIterationRows` output: (corpus LL, alpha stats,
    * (topic, termId, log λ) rows). */
  def splitFused(rows: Array[Row], numTopics: Int)
      : (Double, Array[Double], Array[(Int, Int, Double)]) = {
    var ss = new Array[Double](numTopics)
    var ll = 0.0
    val lambda = Array.newBuilder[(Int, Int, Double)]
    rows.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Double]]("v")
      if (r.getAs[Int]("tag") == 0) {
        val w = r.getAs[Int]("termId")
        v.indices.foreach(t => lambda += ((t + 1, w, v(t))))
      } else {
        ss = v.toArray
        ll = r.getAs[Double]("ll")
      }
    }
    (ll, ss, lambda.result())
  }

  /**
   * Driver-side tail of the broadcast-mode M-step (see
   * [[EmCore.finishBetaOnDriver]]): returns the E-step's broadcast map and
   * the same values as (topic, termId, elogbeta) rows.
   *
   * @param seeded informed-prior (topic, termId) pairs; None = no prior
   */
  def finishBetaOnDriver(lambda: Array[(Int, Int, Double)], numTopics: Int,
      seeded: Option[Set[(Int, Int)]])
      : (scala.collection.Map[Int, Array[Double]], Seq[(Int, Int, Double)]) = {
    val beta = EmCore.finishBetaOnDriver(
      lambda.map { case (topic, termId, v) => (0, topic, termId, v) }, numTopics,
      Smoothing.eta(seeded))
    (beta.map { case (w, arr) => EmCore.termOf(w) -> arr },
      beta.toSeq.flatMap { case (w, arr) =>
        arr.indices.map(t => (t + 1, EmCore.termOf(w), arr(t))) })
  }

  /** Alpha sufficient statistics ss_k = Σ_d ψ(γ_dk) − ψ(Σ_k γ_dk) from the
    * E-step's gamma rows (reference computes this in-mapper,
    * DocumentMapper.java:256-258; here it is a small declarative agg).
    * Needs only a `gamma` column. */
  def alphaSufficientStatistics(gammaDocs: DataFrame, numTopics: Int): Array[Double] =
    llAndAlphaStats(gammaDocs.withColumn("ll", lit(0.0)), numTopics)._2

  /** The pre-collect aggregation behind `llAndAlphaStats`: one row per
    * topic slot k with (k, ss, llsum). The trainers union it into their
    * per-iteration action instead of running a separate stats job. */
  def llAndAlphaStatsRows(gammaDocs: DataFrame): DataFrame = {
    val spark = gammaDocs.sparkSession
    import spark.implicits._
    gammaDocs
      .select($"ll", posexplode($"gamma").as(Seq("k", "g")),
        aggregate($"gamma", lit(0.0), (acc, x) => acc + x).as("gsum"))
      .groupBy($"k")
      .agg(sum(digamma($"g") - digamma($"gsum")).as("ss"), sum($"ll").as("llsum"))
  }

  /** One job over the E-step doc side producing BOTH the corpus
    * log-likelihood and the per-topic alpha sufficient statistics: the ll
    * column rides the gamma explosion and is summed per topic slot (every
    * doc contributes exactly once per k), so slot 0's sum is the corpus LL. */
  def llAndAlphaStats(gammaDocs: DataFrame, numTopics: Int): (Double, Array[Double]) =
    statsOf(llAndAlphaStatsRows(gammaDocs).select("k", "ss", "llsum").collect(), numTopics)

  /** (k, ss_k, llsum) rows → (corpus LL, alpha stats). */
  private[lda] def statsOf(rows: Array[Row], numTopics: Int): (Double, Array[Double]) = {
    val ss = new Array[Double](numTopics)
    var ll = 0.0
    rows.foreach { r =>
      val k = r.getInt(0)
      ss(k) = r.getDouble(1)
      if (k == 0) ll = r.getDouble(2)
    }
    (ll, ss)
  }
}
