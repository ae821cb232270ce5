package graft.lda

import graft.functions.LogSumExp.logsumexp
import graft.model.Doc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * A PLANTED micro-LDA EM trajectory whose every state handoff is
 * rounding-anchored, so the whole run — E-step variational fixed point,
 * M-step lambda fold + eta smoothing + E[log beta], carried-forward
 * gammas — replays in DuckDB as unrolled CTEs
 * ([[graft.queries.LdaPlantedOracle]]). This gives the reference's CORE
 * computation (cc/mrlda/DocumentMapper.java:204-242 E-step,
 * TermReducer.java:134-238 M-step) an independent-engine CORRECTNESS
 * row next to the golden-pinned + MLlib-witnessed full-scale rows,
 * which stay unanchored (the production 100-sweep path per
 * Settings.java:54 is engine-replay-infeasible — see CATALOG.md).
 *
 * The run IS the broadcast-mode trainer skeleton on real operators:
 * the EM core's E-step (with the fixture-only anchor knobs) for every sweep,
 * the distributed `logsumexp` phi fold, and
 * [[MStep.finishBetaOnDriver]] for the smoothing/normalizer tail —
 * only alpha stays FIXED (the alpha Newton update is a driver-side
 * scalar routine already pinned verbatim against the reference's 8
 * golden cases in AlphaUpdateSpec; a condition-based Newton loop has
 * no bounded SQL unroll).
 *
 * Anchors (HALF_UP, mirroring DuckDB round()): planted E[log beta]
 * init and every M-step output at 8dp, per-sweep gamma handoffs at
 * 8dp, emitted log-phi at 10dp before the partition combiner folds
 * them. The anchors absorb the <=2-ulp libm and fold-order differences
 * between engines; every anchored value is a transcendental, so exact
 * half-boundaries cannot occur.
 */
object PlantedLda {

  case class Cfg(
      k: Int = 2,
      vocab: Int = 20,
      maxDocId: Long = 30,
      emIters: Int = 3,
      sweeps: Int = 3,
      alpha: Double = 0.5,
      gammaDp: Int = 8,
      phiDp: Int = 10,
      betaDp: Int = 8,
      /** supply beta to the E-step as a joined table (the 100 TB
        * beta-as-table path) instead of a broadcast lookup. The
        * anchored trajectory is execution-path-independent, so the
        * SAME DuckDB oracle verifies both — and broadcast ≡ shuffle
        * equality is pinned in PlantedLdaSpec. */
      useShuffle: Boolean = false)

  /** The anchored E-step: localIterations - 1 sweeps (do-while parity
    * with the reference), fixed seed. */
  private def sweeps(cfg: Cfg, learning: Boolean): EmCore.Sweeps =
    EmCore.Sweeps(cfg.sweeps + 1, randomStartGamma = false, learning, seed = 42L,
      anchorGammaDp = cfg.gammaDp, anchorPhiDp = cfg.phiDp)

  private def rnd(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Planted init: E[log beta]_{t,w} = round(-ln V + ((7w+3t) mod 11 - 5)/100, 8)
    * — a deterministic, slightly topic-asymmetric near-uniform start
    * both engines compute from the same closed form (replaces the
    * reference's unseeded Math.random init, which no engine replay
    * could reproduce). */
  private[graft] def initBeta(cfg: Cfg): Map[Int, Array[Double]] =
    (0 until cfg.vocab).map { w =>
      w -> Array.tabulate(cfg.k)(t =>
        rnd(-math.log(cfg.vocab.toDouble) + ((w * 7 + t * 3) % 11 - 5) / 100.0, cfg.betaDp))
    }.toMap

  /** The planted corpus: docs with doc_id < maxDocId, whitespace-split
    * lowercased words, vocabulary = top-`vocab` words by (count desc,
    * word asc) with termId = 0-based rank in that order; documents keep
    * only vocab words and drop if empty. All SQL-expressible. */
  private[graft] def corpus(spark: SparkSession, dir: String, cfg: Cfg): Seq[Doc] = {
    import spark.implicits._
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < cfg.maxDocId)
      .select(col("doc_id").cast("long").as("doc"),
        explode(filter(split(lower(col("text")), " "), w => w =!= "")).as("word"))
    val vocab = words.groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word".asc)
      .limit(cfg.vocab)
      .collect().map(_.getString(0)).zipWithIndex.toMap
    val vocabBc = spark.sparkContext.broadcast(vocab)
    words.as[(Long, String)]
      .flatMap { case (d, w) => vocabBc.value.get(w).map(t => (d, t)) }
      .groupByKey(_._1)
      .mapGroups { (d, it) =>
        val m = scala.collection.mutable.Map.empty[Int, Int]
        it.foreach { case (_, t) => m(t) = m.getOrElse(t, 0) + 1 }
        Doc(d, m.toMap, m.valuesIterator.map(_.toLong).sum)
      }
      .collect().toSeq.sortBy(_.docId)
  }

  /** The shared anchored-EM loop: final (beta, (docId, gamma, docLL)
    * rows from the last E-step). Both the run()/alphaRows()/llRows()
    * surfaces derive from this. */
  private def emState(spark: SparkSession, dir: String, cfg: Cfg)
      : (scala.collection.Map[Int, Array[Double]], Array[(Long, Array[Double], Double)]) = {
    import spark.implicits._
    val alpha = Array.fill(cfg.k)(cfg.alpha)
    val alphaBc = spark.sparkContext.broadcast(alpha)
    var beta: scala.collection.Map[Int, Array[Double]] = initBeta(cfg)
    var docs: Seq[Doc] = corpus(spark, dir, cfg)
    var finalRows: Array[(Long, Array[Double], Double)] = Array.empty

    for (iter <- 1 to cfg.emIters) {
      val betaBc = spark.sparkContext.broadcast(beta)
      // anchor knobs on, production path untouched
      val supply =
        if (cfg.useShuffle) EmCore.Join(beta.toSeq.toDF("termId", "elogbeta"), None)
        else EmCore.Lookup.terms(betaBc)
      val estep = EmCore.estep(docs.toDS(), VanillaDocs, alphaBc, supply, _ => cfg.vocab,
        sweeps(cfg, learning = true)).persist()
      // the real distributed lambda fold, anchored at collect
      val lambda = MStep.explodePhi(estep.toDF())
        .groupBy($"topic", $"termId").agg(logsumexp($"logphi").as("lp"))
        .collect()
        .map(r => (r.getAs[Int]("topic"), r.getAs[Int]("termId"),
          rnd(r.getAs[Double]("lp"), cfg.betaDp)))
      // real M-step tail (eta smoothing + per-topic normalizer +
      // E[log beta]), then anchor the handoff into the next iteration
      val (_, rows) = MStep.finishBetaOnDriver(lambda, cfg.k, seeded = None)
      val rowsR = rows.map { case (t, w, e) => (t, w, rnd(e, cfg.betaDp)) }
      val nextBeta = new scala.collection.mutable.HashMap[Int, Array[Double]]()
      rowsR.foreach { case (t, w, e) =>
        nextBeta.getOrElseUpdate(w, new Array[Double](cfg.k))(t - 1) = e
      }
      beta = nextBeta
      // carry anchored gammas forward (reference semantics: the next
      // iteration's corpus is the gamma side-output)
      val docRows = estep.filter($"isDoc")
        .select($"docId", $"gamma", $"ll")
        .as[(Long, Array[Double], Double)].collect()
      estep.unpersist()
      betaBc.destroy()
      val gmap = docRows.map(r => r._1 -> r._2).toMap
      docs = docs.map(d => d.copy(gamma = Some(gmap(d.docId))))
      if (iter == cfg.emIters) finalRows = docRows.sortBy(_._1)
    }
    (beta, finalRows)
  }

  /** Run the anchored EM and return tidy rows:
    * ('beta', topic 1-based, termId, E[log beta] 8dp) for the final
    * model and ('gamma', k+1, docId, gamma_k 8dp) for the final
    * variational doc-topic state. */
  def run(spark: SparkSession, dir: String, cfg: Cfg = Cfg()): DataFrame = {
    import spark.implicits._
    val (beta, finalRows) = emState(spark, dir, cfg)
    val betaRows = beta.toSeq.flatMap { case (w, arr) =>
      arr.zipWithIndex.map { case (e, t) => ("beta", t + 1, w.toLong, e) }
    }
    val gammaRows = finalRows.toSeq.flatMap { case (d, g, _) =>
      g.zipWithIndex.map { case (v, t) => ("gamma", t + 1, d, v) }
    }
    (betaRows ++ gammaRows)
      .toDF("kind", "topic", "idx", "value")
      .orderBy($"kind", $"topic", $"idx")
  }

  /**
   * Held-out inference (reference D5, `Trainer.infer`'s semantics) on
   * the planted model: the corpus re-enters the E-step with
   * `learning = false` (no phi side-output) and a FRESH gamma init
   * against the FINAL trained beta — the production inference shape,
   * anchored the same way so DuckDB replays it as three more sweep
   * layers over the replayed final model. Rows:
   * ('gamma', k+1, docId, gamma_k 8dp).
   */
  def inferRows(spark: SparkSession, dir: String, cfg: Cfg = Cfg()): DataFrame = {
    import spark.implicits._
    val (beta, _) = emState(spark, dir, cfg)
    val alphaBc = spark.sparkContext.broadcast(Array.fill(cfg.k)(cfg.alpha))
    val betaBc = spark.sparkContext.broadcast(beta)
    val fresh = corpus(spark, dir, cfg) // no carried gamma: fresh init
    val estep = EmCore.estep(fresh.toDS(), VanillaDocs, alphaBc,
      EmCore.Lookup.terms(betaBc), _ => cfg.vocab,
      sweeps(cfg, learning = false))
    val rows = estep.filter($"isDoc")
      .select($"docId", $"gamma").as[(Long, Array[Double])].collect()
      .sortBy(_._1)
      .flatMap { case (d, g) =>
        g.zipWithIndex.map { case (v, t) => ("gamma", t + 1, d, v) }
      }
    rows.toSeq.toDF("kind", "topic", "idx", "value")
      .orderBy($"kind", $"topic", $"idx")
  }

  /**
   * The per-document variational log-likelihood from the planted run's
   * final E-step — the ONE E-step output the EM replay skips, and the
   * kernel that exercises [[graft.functions.GammaFuncs.logGamma]]
   * (Lanczos) end-to-end: docLL = L_alpha + L_gamma + L_phi per
   * reference DocumentMapper.java:244-254. All inputs to the final
   * sweep are anchored, so DuckDB recomputes the same three terms (an
   * inline Lanczos lnGamma in SQL) and the 6dp anchor absorbs
   * fold-order/libm ulps. Rows: (doc_id, ll 6dp).
   */
  def llRows(spark: SparkSession, dir: String, cfg: Cfg = Cfg()): DataFrame = {
    import spark.implicits._
    val (_, finalRows) = emState(spark, dir, cfg)
    finalRows.toSeq.map { case (d, _, ll) => (d, rnd(ll, 6)) }
      .toDF("doc_id", "ll")
      .orderBy($"doc_id")
  }

  /**
   * The alpha-update leg of the planted trajectory (reference D1/D2 —
   * the verbatim Newton ports, cc/mrlda/VariationalInference.java
   * :409-511 / :573-625): alpha sufficient statistics from the planted
   * run's final anchored gammas via the REAL
   * [[MStep.alphaSufficientStatistics]] operator (6dp-anchored), then
   * the REAL [[AlphaUpdate.updateVectorAlpha]] /
   * [[AlphaUpdate.updateScalarAlpha]] — unmodified, condition-based
   * loops, preserved reference quirks and all. Replayable because (a)
   * the vector update's buffer-aliasing quirk makes it perform EXACTLY
   * two clean Newton iterations on any non-singular input (see
   * AlphaUpdate's scaladoc — after the first `alpha = alphaNew` swap
   * the buffers alias and the convergence test reads zero change), and
   * (b) the scalar loop converges in 7 measured iterations and
   * Newton's quadratic contraction makes a fixed-depth unroll past
   * that agree to ~1e-12, far inside the 8dp output anchors. The
   * oracle's guards fail loudly if a fixture change ever leaves the
   * benign path ([[graft.queries.LdaPlantedOracle.alphaSql]]).
   *
   * Rows: ('ss', k+1, ss_k 6dp), ('vec', k+1, alpha_k 8dp),
   * ('scalar', 1, alpha 8dp).
   */
  def alphaRows(spark: SparkSession, dir: String, cfg: Cfg = Cfg()): DataFrame = {
    import spark.implicits._
    val out = run(spark, dir, cfg).collect()
    val gam = out.filter(_.getString(0) == "gamma")
      .groupBy(_.getLong(2))
      .map { case (d, rows) => (d, rows.sortBy(_.getInt(1)).map(_.getDouble(3))) }
      .toSeq.sortBy(_._1)
    val gdf = gam.toDF("docId", "gamma")
    val ss = MStep.alphaSufficientStatistics(gdf, cfg.k).map(rnd(_, 6))
    val numDocs = gam.length.toLong
    val vec = AlphaUpdate.updateVectorAlpha(cfg.k, numDocs,
      Array.fill(cfg.k)(cfg.alpha), ss)
    val scalar = AlphaUpdate.updateScalarAlpha(cfg.k, numDocs, cfg.alpha, ss.sum)
    val rows =
      ss.zipWithIndex.map { case (s, k) => ("ss", k + 1, s) } ++
        vec.zipWithIndex.map { case (a, k) => ("vec", k + 1, rnd(a, 8)) } :+
        (("scalar", 1, rnd(scalar, 8)))
    rows.toSeq.toDF("kind", "topic", "value").orderBy($"kind", $"topic")
  }
}
