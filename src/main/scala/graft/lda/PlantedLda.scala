package graft.lda

import graft.model.{Doc, PolyDoc}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
 * the trainer's own phi fold ([[EmCore.reduce]]: per-partition partials
 * merged in partition order), and [[EmCore.betaOf]] for the per-topic
 * smoothing/normalizer tail —
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
 *
 * The fixture has one shape, the constants below: both replays
 * ([[run]] and [[graft.polylda.PolyPlantedLda.run]]) and their DuckDB
 * oracles read them. The only choice a caller makes is `useShuffle`:
 * supply beta to the E-step as per-partition slices of the rows each
 * partition's terms need (the lookup of a model too large to broadcast)
 * instead of a broadcast lookup. The anchored trajectory is
 * execution-path-independent, so the SAME oracle verifies both — and
 * broadcast ≡ shuffle equality is pinned in PlantedLdaSpec.
 */
object PlantedLda {

  /** topics: the oracle's unrolled replay pivots on exactly two */
  val K = 2
  /** vanilla vocabulary: the corpus's top words */
  val Vocab = 20
  /** polylingual vocabulary: the top words of each of the two languages */
  val VocabPerLang = 10
  /** the corpus: documents with doc_id below this */
  val MaxDocId = 30L
  val EmIters = 3
  /** anchored E-step sweeps per EM iteration */
  val SweepsPerIter = 3
  /** the fixed symmetric alpha */
  val Alpha = 0.5
  /** anchors in decimal places: gamma handoffs, emitted log-phi, beta */
  val GammaDp = 8
  val PhiDp = 10
  val BetaDp = 8

  /** The anchored E-step: localIterations - 1 sweeps (do-while parity
    * with the reference), fixed seed. */
  private[graft] def sweeps(learning: Boolean): EmCore.Sweeps =
    EmCore.Sweeps(SweepsPerIter + 1, randomStartGamma = false, learning, seed = 42L,
      anchorGammaDp = GammaDp, anchorPhiDp = PhiDp)

  private def rnd(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Planted init over packed (lang, termId) keys, V words per language:
    * E[log beta]_{l,t,w} = round(-ln V + ((7w + 3t + 5l) mod 11 - 5)/100, 8)
    * — a deterministic, slightly topic-asymmetric near-uniform start
    * both engines compute from the same closed form (replaces the
    * reference's unseeded Math.random init, which no engine replay
    * could reproduce). Vanilla is the one-language case. */
  private[graft] def initBeta(numLangs: Int, vocabPerLang: Int): EmCore.PackedBeta =
    EmCore.PackedBeta.of((for (l <- 0 until numLangs; w <- 0 until vocabPerLang) yield
      EmCore.key(l, w) -> Array.tabulate(K)(t =>
        rnd(-math.log(vocabPerLang.toDouble) + ((w * 7 + t * 3 + l * 5) % 11 - 5) / 100.0,
          BetaDp))).iterator, K)

  /** The planted corpus: docs with doc_id < MaxDocId, whitespace-split
    * lowercased words, each in the language `lang` gives it; per language,
    * vocabulary = top-`vocabPerLang` words by (count desc, word asc) with
    * termId = 0-based rank in that order; documents keep only vocabulary
    * words and drop if empty. All SQL-expressible. */
  private[graft] def polyCorpus(spark: SparkSession, dir: String, lang: Column,
      vocabPerLang: Int): Seq[PolyDoc] = {
    import spark.implicits._
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < MaxDocId)
      .select(col("doc_id").cast("long").as("doc"),
        explode(filter(split(lower(col("text")), " "), w => w =!= "")).as("word"))
      .withColumn("lang", lang)
    val vocab = words.groupBy($"lang", $"word").agg(count(lit(1)).as("cnt"))
      .withColumn("term",
        row_number().over(Window.partitionBy($"lang").orderBy($"cnt".desc, $"word".asc)) - 1)
      .filter($"term" < vocabPerLang)
      .select($"lang", $"word", $"term").as[(Int, String, Int)].collect()
      .map { case (l, w, t) => (l, w) -> t }.toMap
    val vocabBc = spark.sparkContext.broadcast(vocab)
    words.select($"doc", $"lang", $"word").as[(Long, Int, String)]
      .flatMap { case (d, l, w) => vocabBc.value.get((l, w)).map(t => (d, l, t)) }
      .groupByKey(_._1)
      .mapGroups { (d, it) =>
        val m = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Map[Int, Int]]
        it.foreach { case (_, l, t) =>
          val lm = m.getOrElseUpdate(l, scala.collection.mutable.Map.empty)
          lm(t) = lm.getOrElse(t, 0) + 1
        }
        val counts = m.map { case (l, lm) => l -> lm.toMap }.toMap
        val numTokens = counts.map { case (l, lm) => l -> lm.valuesIterator.map(_.toLong).sum }
        PolyDoc(d, counts, numTokens, numTokens.valuesIterator.sum)
      }
      .collect().toSeq.sortBy(_.docId)
  }

  /** The vanilla planted corpus: the one-language corpus read back as [[Doc]]s. */
  private[graft] def corpus(spark: SparkSession, dir: String): Seq[Doc] =
    polyCorpus(spark, dir, lit(0), Vocab).map(d => Doc(d.docId, d.counts(0), d.totalTokens))

  /**
   * The anchored EM loop both planted replays run, over packed (lang,
   * termId) keys — vanilla is lang 0 with eta smoothing: broadcast or
   * sliced beta → the anchored E-step → the trainer's phi fold
   * ([[EmCore.reduce]]), rounded on the driver → the real M-step tail
   * ([[EmCore.betaOf]]) with the handoff re-anchored → the
   * anchored gammas carried forward (reference semantics: the next
   * iteration's corpus is the gamma side-output; `withGamma` sets one
   * document's). Returns the final beta and the last E-step's
   * (docId, gamma, docLL) rows, docId-sorted.
   */
  private[graft] def anchoredEm[D, R](spark: SparkSession, corpus: Seq[D],
      shape: EmCore.DocShape[D, R], smoothing: EmCore.Smoothing,
      init: EmCore.PackedBeta, vocab: Int => Int,
      withGamma: (D, Map[Long, Array[Double]]) => D, alpha: Array[Double], emIters: Int,
      sweeps: EmCore.Sweeps, betaDp: Int, useShuffle: Boolean)
      : (EmCore.PackedBeta, Array[(Long, Array[Double], Double)]) = {
    import spark.implicits._
    val k = alpha.length
    val keys = shape.keys
    val alphaBc = spark.sparkContext.broadcast(alpha)
    var beta = init
    var docs = corpus
    var finalRows: Array[(Long, Array[Double], Double)] = Array.empty

    for (iter <- 1 to emIters) {
      val betaBc = spark.sparkContext.broadcast(beta)
      val ds = spark.createDataset(docs)(shape.docEncoder)
      val supply =
        if (useShuffle) EmCore.slicesFor(ds, shape, spark.sparkContext.parallelize(beta.iterator.toSeq), k)
        else EmCore.Lookup(betaBc)
      val estep = EmCore.estep(ds, shape, alphaBc, supply, vocab, sweeps).persist()
      val r = EmCore.reduce(estep.toDF(), keys)
      val next = EmCore.betaOf(r.keys, r.lambda.map(rnd(_, betaDp)), k, smoothing)
      beta = next.copy(values = next.values.map(rnd(_, betaDp)))
      val docRows = estep.filter($"isDoc")
        .select($"docId", $"gamma", $"ll")
        .as[(Long, Array[Double], Double)].collect()
      estep.unpersist()
      betaBc.destroy()
      val gmap = docRows.map(r => r._1 -> r._2).toMap
      docs = docs.map(withGamma(_, gmap))
      if (iter == emIters) finalRows = docRows.sortBy(_._1)
    }
    (beta, finalRows)
  }

  /** The vanilla planted run: final (packed-key beta, last E-step rows). */
  private def emState(spark: SparkSession, dir: String, useShuffle: Boolean)
      : (EmCore.PackedBeta, Array[(Long, Array[Double], Double)]) =
    anchoredEm(spark, corpus(spark, dir), VanillaDocs, EmCore.Smoothing.eta(None),
      initBeta(1, Vocab), _ => Vocab,
      (d: Doc, g: Map[Long, Array[Double]]) => d.copy(gamma = Some(g(d.docId))),
      Array.fill(K)(Alpha), EmIters, sweeps(learning = true), BetaDp, useShuffle)

  /** Run the anchored EM and return tidy rows:
    * ('beta', topic 1-based, termId, E[log beta] 8dp) for the final
    * model and ('gamma', k+1, docId, gamma_k 8dp) for the final
    * variational doc-topic state. */
  def run(spark: SparkSession, dir: String, useShuffle: Boolean = false): DataFrame = {
    import spark.implicits._
    val (beta, finalRows) = emState(spark, dir, useShuffle)
    val betaRows = beta.iterator.toSeq.flatMap { case (w, arr) =>
      arr.zipWithIndex.map { case (e, t) => ("beta", t + 1, EmCore.termOf(w).toLong, e) }
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
  def inferRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (beta, _) = emState(spark, dir, useShuffle = false)
    val alphaBc = spark.sparkContext.broadcast(Array.fill(K)(Alpha))
    val betaBc = spark.sparkContext.broadcast(beta)
    val fresh = corpus(spark, dir) // no carried gamma: fresh init
    val estep = EmCore.estep(fresh.toDS(), VanillaDocs, alphaBc,
      EmCore.Lookup(betaBc), _ => Vocab, sweeps(learning = false))
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
  def llRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, finalRows) = emState(spark, dir, useShuffle = false)
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
  def alphaRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = run(spark, dir).collect()
    val gam = out.filter(_.getString(0) == "gamma")
      .groupBy(_.getLong(2))
      .map { case (d, rows) => (d, rows.sortBy(_.getInt(1)).map(_.getDouble(3))) }
      .toSeq.sortBy(_._1)
    val gdf = gam.toDF("docId", "gamma")
    val ss = MStep.alphaSufficientStatistics(gdf, K).map(rnd(_, 6))
    val numDocs = gam.length.toLong
    val vec = AlphaUpdate.updateVectorAlpha(K, numDocs, Array.fill(K)(Alpha), ss)
    val scalar = AlphaUpdate.updateScalarAlpha(K, numDocs, Alpha, ss.sum)
    val rows =
      ss.zipWithIndex.map { case (s, k) => ("ss", k + 1, s) } ++
        vec.zipWithIndex.map { case (a, k) => ("vec", k + 1, rnd(a, 8)) } :+
        (("scalar", 1, rnd(scalar, 8)))
    rows.toSeq.toDF("kind", "topic", "value").orderBy($"kind", $"topic")
  }
}
