package graft.lda

import graft.functions.GammaFuncs.{digamma => dg, logAdd, logGamma}
import graft.functions.LogSumExp.logsumexp
import graft.functions.gfunctions.{digamma, log_add}
import graft.util.Ckpt._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** One joined term of a document on the shuffle path (lang, termId) →
  * its count and E[log β] row (None for a term the model has not seen). */
private[graft] case class TermBeta(lang: Int, termId: Int, cnt: Int, elogbeta: Option[Array[Double]])
/** One document regrouped with its terms' beta rows (shuffle E-step input). */
private[graft] case class DocWithBeta(
    docId: Long, tokens: Long, gamma: Option[Array[Double]], terms: Seq[TermBeta])

/**
 * The variational EM core shared by vanilla and polylingual LDA. Mr.LDA's
 * polylingual mapper is the general case of the vanilla one (it calls the
 * vanilla `updatePhi`, polylda/DocumentMapper.java:245-247), and so is this
 * core: vanilla LDA is polylingual LDA with one language, lang 0. Every term
 * is keyed by a packed (lang, termId) Long.
 *
 * The model-specific parts enter as values, never as branches:
 *  - [[DocShape]]: key columns, document/E-step row types and the gamma-<i>
 *    snapshot columns;
 *  - [[Smoothing]]: eta (vanilla, informed prior) or the -700 floor
 *    (polylingual);
 *  - [[Model]]: the alpha init, symmetric-alpha update and vocabulary sizes.
 *
 * Broadcast vs shuffle is the [[BetaSupply]] — a broadcast map lookup, or
 * the corpus exploded and joined with a distributed beta table — feeding
 * the one `mapPartitions` kernel ([[estep]]).
 */
private[graft] object EmCore {

  def key(lang: Int, termId: Int): Long = (lang.toLong << 32) | (termId.toLong & 0xFFFFFFFFL)
  def langOf(key: Long): Int = (key >>> 32).toInt
  def termOf(key: Long): Int = key.toInt

  /** Partition combiner flush threshold in (topic, term) entries: the
    * reference flushes its in-mapper combiner under memory pressure
    * (DocumentMapper.java:263-313, Settings.java:76); the downstream fold
    * re-combines flush chunks. */
  private val PhiFlushEntries = 1 << 20

  /** The iteration settings both trainers' `Config`s carry. */
  trait Settings {
    def numTopics: Int
    def maxIterations: Int
    def localIterations: Int
    def convergence: Double
    def randomStartGamma: Boolean
    def updateAlpha: Boolean
    def seed: Long
    def betaBroadcastMaxEntries: Long
    def checkpointDir: Option[String]
    def checkpointEvery: Int
    def resumeFrom: Option[(String, Int)]
  }

  /** Key columns of a model's term-keyed rows: `langCols` is empty for
    * vanilla LDA (every term is lang 0) and `lang` for polylingual LDA. */
  final case class Keys(langCols: Seq[String]) {
    def term: Seq[String] = langCols :+ "termId"
    def lambda: Seq[String] = langCols ++ Seq("topic", "termId")
    def norm: Seq[String] = langCols :+ "topic"
    def lang: Column = langCols.headOption.fold(lit(0))(col)
  }

  /** How one model's documents and E-step rows look to the core. */
  abstract class DocShape[D, R](
      val keys: Keys,
      /** gamma-<i> snapshot columns: the full gamma-annotated document */
      val docCols: Seq[String],
      val tokensCol: String) extends Serializable {
    def docEncoder: Encoder[D]
    def rowEncoder: Encoder[R]
    /** (docId, lang, langCounts) rows: the per-language count maps */
    def langCountsColumns(docs: DataFrame): DataFrame
    /** per-language count maps, languages ascending — the sweep order */
    def langCounts(d: D): Iterable[(Int, Map[Int, Int])]
    def tokens(d: D): Long
    def gamma(d: D): Option[Array[Double]]
    /** the document rebuilt from its joined terms (shuffle path) */
    def fromTerms(docId: Long, tokens: Long, terms: Seq[TermBeta]): D
    def docRow(d: D, gamma: Array[Double], ll: Double): R
    def phiRow(key: Long, logphi: Array[Double]): R
  }

  /** How the M-step smooths the folded log λ before normalizing. */
  final case class Smoothing(
      /** (key columns…, lp) rows → the same with `loglambda` */
      column: DataFrame => DataFrame,
      /** (topic, termId, lp) → log λ, on the driver */
      driver: (Int, Int, Double) => Double)

  object Smoothing {
    /** Vanilla LDA: log λ ⊕ eta (InformedPrior.java:172-177,
      * Settings.java:58): log(1000) for seeded (topic, term) pairs and
      * log(0.001) for the rest when a prior is supplied, log(1e-12)
      * otherwise. */
    def eta(prior: Option[DataFrame]): Smoothing = {
      lazy val seeded = prior.map(_.select("topic", "termId").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet)
      Smoothing(
        lambda => (prior match {
          case Some(p) =>
            lambda.join(broadcast(p.select(col("topic"), col("termId"), lit(true).as("seeded"))),
                Seq("topic", "termId"), "left")
              .withColumn("eta", when(col("seeded"), lit(MStep.InformedLogEta))
                .otherwise(lit(MStep.UninformedLogEta)))
          case None => lambda.withColumn("eta", lit(MStep.DefaultLogEta))
        }).withColumn("loglambda", log_add(col("lp"), col("eta"))),
        etaDriver(seeded))
    }

    def etaDriver(seeded: => Option[Set[(Int, Int)]]): (Int, Int, Double) => Double =
      (topic, termId, lp) => logAdd(lp, seeded match {
        case Some(s) => if (s((topic, termId))) MStep.InformedLogEta else MStep.UninformedLogEta
        case None => MStep.DefaultLogEta
      })

    /** Polylingual LDA: no eta (polylda/TermReducer.java:84-119 adds no
      * prior), but log λ is floored at -700. A topic whose phi mass for a
      * term fully underflows would hit digamma(exp(-inf)) = -Inf and poison
      * the next E-step with 0·(−Inf−(−Inf)) = NaN; exp(-700) is the smallest
      * normal-range double whose digamma is still finite. */
    val floor: Smoothing = Smoothing(
      _.withColumn("loglambda", greatest(col("lp"), lit(-700.0))),
      (_, _, lp) => math.max(lp, -700.0))
  }

  /** One E-step's fixed-point settings. `anchorGammaDp` / `anchorPhiDp`
    * (fixture-only, set by the planted replays [[PlantedLda]] and
    * [[graft.polylda.PolyPlantedLda]]): when > 0, round each sweep's gamma
    * handoff / each emitted log-phi value to that many decimals (HALF_UP,
    * DuckDB round()), so a SQL replay reproduces the trajectory. */
  final case class Sweeps(
      localIterations: Int,
      randomStartGamma: Boolean,
      learning: Boolean,
      seed: Long,
      anchorGammaDp: Int = 0,
      anchorPhiDp: Int = 0)

  /** Where each task gets its terms' E[log β] rows. */
  sealed trait BetaSupply
  /** A broadcast model: `get(key)` is the row, null for an unseen term. */
  final case class Lookup(get: Long => Array[Double]) extends BetaSupply
  object Lookup {
    def packed(bc: Broadcast[scala.collection.Map[Long, Array[Double]]]): Lookup =
      Lookup(w => bc.value.getOrElse(w, null))
    /** a vanilla termId map: every term is lang 0 */
    def terms(bc: Broadcast[scala.collection.Map[Int, Array[Double]]]): Lookup =
      Lookup(w => bc.value.getOrElse(termOf(w), null))
  }
  /** Beta stays a distributed (key columns…, elogbeta ARRAY<DOUBLE>[K])
    * table, joined to the exploded corpus (`exploded`, or [[explodeDocs]]
    * of the docs when None) — the scale path for models too large to
    * broadcast: each task holds only the rows its documents reference. */
  final case class Join(table: DataFrame, exploded: Option[DataFrame])
      extends BetaSupply

  /** A document flattened for the fixed point, in sweep order. */
  private final class Flat(
      val keys: Array[Long], val cnt: Array[Int], val elogbeta: Array[Array[Double]],
      val tokens: Long, val gamma: Option[Array[Double]])

  private def flatten(langCounts: Iterable[(Int, Map[Int, Int])], get: Long => Array[Double],
      tokens: Long, gamma: Option[Array[Double]]): Flat = {
    val nnz = langCounts.iterator.map(_._2.size).sum
    val keys = new Array[Long](nnz)
    val cnt = new Array[Int](nnz)
    val lb = new Array[Array[Double]](nnz)
    var j = 0
    langCounts.foreach { case (lang, counts) =>
      counts.foreach { case (t, c) =>
        keys(j) = key(lang, t); cnt(j) = c; lb(j) = get(keys(j)); j += 1
      }
    }
    new Flat(keys, cnt, lb, tokens, gamma)
  }

  /**
   * The per-partition E-step (reference semantics:
   * cc/mrlda/DocumentMapper.java:180-260, polylda/DocumentMapper.java:185-305):
   * per document, the gamma/phi fixed point over every language's terms
   * against that language's beta, the document log-likelihood, and the
   * partition-level phi combiner — (lang, termId) → K-length log-space phi
   * sums (slot i ↔ topic i+1), the reference's in-mapper combiner
   * (DocumentMapper.java:263-339) generalized to whole-partition combining.
   */
  private final class Kernel[R](alpha: Array[Double], sweeps: Sweeps, vocab: Int => Int,
      phiRow: (Long, Array[Double]) => R) {
    import sweeps._
    private val k = alpha.length
    // L_α = lnΓ(Σα) − Σ lnΓ(α_k), added once per document
    // (reference DocumentMapper.java:121-126)
    private val likelihoodAlpha = logGamma(alpha.sum) - alpha.map(logGamma).sum
    // ln α is constant across the whole partition — hoisted out of the
    // per-sweep gamma reset
    private val logAlpha = alpha.map(math.log)
    private val unseen = new java.util.HashMap[Long, Array[Double]]()
    private val phiAcc = new java.util.HashMap[Long, Array[Double]]()

    private def anchor(v: Double, dp: Int): Double =
      if (dp > 0) BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble else v

    /** Random init for a term absent from the model, cached per partition. */
    private def fallback(key: Long): Array[Double] = {
      var v = unseen.get(key)
      if (v == null) {
        val lang = langOf(key)
        v = EStep.randomElogBeta(k, termOf(key), vocab(lang), seed ^ (lang.toLong << 17))
        unseen.put(key, v)
      }
      v
    }

    private def drain(): Vector[R] = {
      val b = Vector.newBuilder[R]
      phiAcc.forEach((key, arr) => b += phiRow(key, arr))
      phiAcc.clear()
      b.result()
    }

    /** Doc rows in input order, each partition's phi rows after them. */
    def run[D](docs: Iterator[(D, Flat)], docRow: (D, Array[Double], Double) => R): Iterator[R] = {
      val docRows = docs.flatMap { case (d, f) =>
        val row = fitDoc(f, docRow(d, _, _))
        if (phiAcc.size.toLong * k > PhiFlushEntries) row +: drain() else Vector(row)
      }
      val phiRows = new Iterator[R] {
        private lazy val inner = drain().iterator
        def hasNext: Boolean = inner.hasNext
        def next(): R = inner.next()
      }
      docRows ++ phiRows
    }

    private def fitDoc(f: Flat, row: (Array[Double], Double) => R): R = {
      val nnz = f.keys.length
      val cnt = f.cnt
      val lb = f.elogbeta
      // ln(count) and each term's E[log β] row are sweep-invariant:
      // resolved once per document
      val logCnt = new Array[Double](nnz)
      var j = 0
      while (j < nnz) {
        if (lb(j) == null) lb(j) = fallback(f.keys(j))
        logCnt(j) = math.log(cnt(j).toDouble)
        j += 1
      }

      val gamma: Array[Double] = f.gamma match {
        case Some(g) if g.length == k && !randomStartGamma => g.clone()
        case _ => Array.tabulate(k)(i => alpha(i) + f.tokens.toDouble / k)
      }
      val updateLogGamma = new Array[Double](k)
      val logPhi = Array.ofDim[Double](nnz, k)
      var likelihoodPhi = 0.0

      // fixed-sweep gamma/phi fixed point; do-while semantics replicate the
      // reference's iteration count exactly (DocumentMapper.java:204-242)
      var sweep = 1
      var continue = true
      while (continue) {
        likelihoodPhi = 0.0
        var i = 0
        while (i < k) {
          gamma(i) = dg(gamma(i))
          updateLogGamma(i) = logAlpha(i)
          i += 1
        }
        var w = 0
        while (w < nnz) {
          likelihoodPhi += EStep.updatePhiTerm(k, cnt(w), logCnt(w), lb(w),
            gamma, logPhi(w), updateLogGamma)
          w += 1
        }
        i = 0
        while (i < k) {
          gamma(i) = anchor(math.exp(updateLogGamma(i)), anchorGammaDp)
          i += 1
        }
        sweep += 1
        continue = sweep < localIterations
      }

      // document log-likelihood L_α + L_γ + L_φ (DocumentMapper.java:244-254)
      var sumGamma = 0.0
      var likelihoodGamma = 0.0
      var i = 0
      while (i < k) { sumGamma += gamma(i); likelihoodGamma += logGamma(gamma(i)); i += 1 }
      likelihoodGamma -= logGamma(sumGamma)
      val docLL = likelihoodAlpha + likelihoodGamma + likelihoodPhi

      // fold this document's phi (from the final sweep, already scaled by
      // log(count)) into the partition combiner: first touch writes the
      // value, later documents logAdd in document order
      if (learning) {
        var w = 0
        while (w < nnz) {
          val lp = logPhi(w)
          val acc = phiAcc.get(f.keys(w))
          if (acc == null) {
            val arr = new Array[Double](k)
            i = 0
            while (i < k) { arr(i) = anchor(lp(i), anchorPhiDp); i += 1 }
            phiAcc.put(f.keys(w), arr)
          } else {
            i = 0
            while (i < k) { acc(i) = logAdd(acc(i), anchor(lp(i), anchorPhiDp)); i += 1 }
          }
          w += 1
        }
      }
      row(gamma, docLL)
    }
  }

  /** The corpus exploded to its beta-join shape (docId, key columns…, cnt),
    * hash-partitioned by the join key. It depends only on the counts, so it
    * is EM-loop-invariant: [[fit]] materializes it once per training run.
    * explode_outer + the -1 sentinel keep documents with no terms (or no
    * language slots) in the pipeline; term ids are 1-based, so -1 is free. */
  def explodeDocs[D, R](docs: DataFrame, shape: DocShape[D, R]): DataFrame =
    shape.langCountsColumns(docs)
      .select(col("docId"), col("lang"), explode_outer(col("langCounts")).as(Seq("termId", "cnt")))
      .select(col("docId"),
        coalesce(col("lang"), lit(-1)).as("lang"),
        coalesce(col("termId"), lit(-1)).as("termId"),
        coalesce(col("cnt"), lit(0)).as("cnt"))
      .select((col("docId") +: shape.keys.term.map(col)) :+ col("cnt"): _*)
      .repartition(shape.keys.term.map(col): _*)

  /** One E-step over `docs`: doc rows (updated gamma, document LL) and,
    * when learning, the partition-combined phi rows. */
  def estep[D, R](docs: Dataset[D], shape: DocShape[D, R], alphaBc: Broadcast[Array[Double]],
      beta: BetaSupply, vocab: Int => Int, sweeps: Sweeps): Dataset[R] = {
    val phiRow = shape.phiRow _
    val docRow = shape.docRow _
    beta match {
      case Lookup(get) =>
        docs.mapPartitions { it =>
          new Kernel(alphaBc.value, sweeps, vocab, phiRow).run(
            it.map(d => (d, flatten(shape.langCounts(d), get, shape.tokens(d), shape.gamma(d)))),
            docRow)
        }(shape.rowEncoder)
      case Join(table, exploded) =>
        val spark = docs.sparkSession
        import spark.implicits._
        val keys = shape.keys
        // Only (docId, key, cnt) rides the term-keyed shuffle; gamma (K
        // doubles) and the token total join back per DOC — on the exploded
        // rows they would multiply the gamma payload by nnz across two
        // shuffles. Left join: unseen terms take the random init.
        val bundles = exploded.getOrElse(explodeDocs(docs.toDF(), shape))
          .join(table.select(keys.term.map(col) :+ $"elogbeta": _*), keys.term, "left")
          .groupBy($"docId")
          .agg(collect_list(struct(keys.lang.as("lang"), $"termId", $"cnt", $"elogbeta")).as("terms"))
        // bundles is already hash-partitioned by docId from the agg, so
        // this join only shuffles the slim (docId, tokens, gamma) side.
        // Documents are swept in docId order within each partition: the
        // partition's phi fold is order-dependent, and the join strategy
        // (and so its output order) is picked by AQE at run time
        val grouped = docs.toDF()
          .select($"docId", col(shape.tokensCol).as("tokens"), $"gamma")
          .join(bundles, Seq("docId"))
          .select($"docId", $"tokens", $"gamma", $"terms")
          .sortWithinPartitions($"docId")
          .as[DocWithBeta]
        grouped.mapPartitions { it =>
          new Kernel(alphaBc.value, sweeps, vocab, phiRow).run(
            it.map { g =>
              // sorted: collect_list order is task-scheduling-dependent and
              // the log-space folds are not FP-associative
              val terms = g.terms.filter(t => t.lang >= 0 && t.termId >= 0)
                .sortBy(t => key(t.lang, t.termId))
              val flat = new Flat(terms.map(t => key(t.lang, t.termId)).toArray,
                terms.map(_.cnt).toArray, terms.map(_.elogbeta.orNull).toArray, g.tokens, g.gamma)
              (shape.fromTerms(g.docId, g.tokens, terms), flat)
            },
            docRow)
        }(shape.rowEncoder)
    }
  }

  // ---- M-step ----

  /** K-array phi rows (one row per key with `logphi(i)` ↔ topic i+1) →
    * scalar (lang…, topic, termId, logphi) rows for the cross-partition
    * fold; the per-key value multiset is unchanged. */
  def explodePhi(estep: DataFrame, keys: Keys): DataFrame =
    estep.filter(!col("isDoc"))
      .select(keys.term.map(col) :+ posexplode(col("logphi")).as(Seq("pos", "lp")): _*)
      .select(keys.langCols.map(col) ++ Seq(
        (col("pos") + 1).cast("int").as("topic"), col("termId"), col("lp").as("logphi")): _*)

  /**
   * Distributed M-step: fold the phi statistics into log λ per
   * (lang…, topic, term), smooth, normalize per (lang…, topic) and emit
   * E[log β] = ψ(λ) − ψ(Σ_w λ). The two-level groupBy replaces the
   * reference's partitioner + sorted streaming reducer
   * (TermReducer.java:134-238, polylda/TermReducer.java:84-119).
   */
  def lambdaToBeta(phi: DataFrame, keys: Keys, smoothing: Smoothing): DataFrame = {
    val lambda = smoothing.column(
      phi.groupBy(keys.lambda.map(col): _*).agg(logsumexp(col("logphi")).as("lp")))
    val norms = lambda.groupBy(keys.norm.map(col): _*)
      .agg(logsumexp(col("loglambda")).as("lognorm"))
    lambda.join(broadcast(norms), keys.norm)
      .select(keys.lambda.map(col) :+
        (digamma(exp(col("loglambda"))) - digamma(exp(col("lognorm")))).as("elogbeta"): _*)
  }

  /** (lang…, topic, termId, elogbeta) rows → (key columns…, elogbeta[K]),
    * the shuffle E-step's beta table. Every observed term carries all K
    * topics, so the packed array is dense. */
  def packBeta(betaRows: DataFrame, keys: Keys): DataFrame =
    betaRows.groupBy(keys.term.map(col): _*)
      .agg(array_sort(collect_list(struct(col("topic"), col("elogbeta")))).as("te"))
      .select(keys.term.map(col) :+ transform(col("te"), _.getField("elogbeta")).as("elogbeta"): _*)

  def emptyBetaTable(spark: SparkSession, keys: Keys): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(
      keys.term.map(StructField(_, IntegerType, nullable = false)) :+
        StructField("elogbeta", ArrayType(DoubleType), nullable = true)))

  /** (lang…, topic, termId, elogbeta) rows → packed key → topic array. */
  private def betaRowsToMap(betaRows: DataFrame, keys: Keys, k: Int)
      : scala.collection.Map[Long, Array[Double]] = {
    val m = new java.util.HashMap[Long, Array[Double]]()
    betaRows.select(keys.lang, col("topic"), col("termId"), col("elogbeta")).collect().foreach { r =>
      val w = key(r.getInt(0), r.getInt(2))
      var arr = m.get(w)
      if (arr == null) { arr = new Array[Double](k); m.put(w, arr) }
      arr(r.getInt(1) - 1) = r.getDouble(3)
    }
    scala.jdk.CollectionConverters.MapHasAsScala(m).asScala
  }

  /**
   * Broadcast-mode fused per-iteration reduce: the phi side's
   * cross-partition fold to (lang, topic, termId, log λ) and the doc side's
   * ll/alpha statistics run as two branches of ONE union — a single action
   * per EM iteration. Smoothing and the per-(lang, topic) normalizer run
   * in [[finishBetaOnDriver]] over the collected (model-sized) rows.
   *
   * Row encoding: tag 0 = (lang, topic, termId, λ in v1); tag 1 =
   * (topic = slot k, ss_k in v1, Σll in v2 — every slot carries the same Σll).
   */
  def fusedIterationRows(estep: DataFrame, keys: Keys): DataFrame = {
    val lambda = explodePhi(estep, keys)
      .groupBy(keys.lambda.map(col): _*)
      .agg(logsumexp(col("logphi")).as("v1"))
      .select(lit(0).as("tag"), keys.lang.as("lang"), col("topic"), col("termId"), col("v1"),
        lit(0.0).as("v2"))
    val stats = MStep.llAndAlphaStatsRows(estep.filter(col("isDoc")))
      .select(lit(1).as("tag"), lit(-1).as("lang"), col("k").as("topic"), lit(-1).as("termId"),
        col("ss").as("v1"), col("llsum").as("v2"))
    lambda.unionByName(stats)
  }

  /** Split [[fusedIterationRows]] output: (corpus LL, alpha stats,
    * (lang, topic, termId, log λ) rows). */
  def splitFused(rows: Array[Row], numTopics: Int)
      : (Double, Array[Double], Array[(Int, Int, Int, Double)]) = {
    val ss = new Array[Double](numTopics)
    var ll = 0.0
    val lambda = Array.newBuilder[(Int, Int, Int, Double)]
    rows.foreach { r =>
      if (r.getAs[Int]("tag") == 0)
        lambda += ((r.getAs[Int]("lang"), r.getAs[Int]("topic"), r.getAs[Int]("termId"),
          r.getAs[Double]("v1")))
      else {
        val k = r.getAs[Int]("topic")
        ss(k) = r.getAs[Double]("v1")
        if (k == 0) ll = r.getAs[Double]("v2")
      }
    }
    (ll, ss, lambda.result())
  }

  /**
   * Driver-side tail of the broadcast-mode M-step: smoothing, per-(lang,
   * topic) log-normalizer, E[log β] = ψ(λ) − ψ(Σ_w λ) — the math
   * [[lambdaToBeta]] evaluates distributed (identical GammaFuncs kernels),
   * done in one pass sorted by termId so the log-space fold order is
   * reproducible. Returns the E-step's lookup map and the
   * (lang, topic, termId, elogbeta) rows for checkpointing.
   */
  def finishBetaOnDriver(lambda: Array[(Int, Int, Int, Double)], numTopics: Int,
      smooth: (Int, Int, Double) => Double)
      : (scala.collection.Map[Long, Array[Double]], Seq[(Int, Int, Int, Double)]) = {
    val betaMap = new java.util.HashMap[Long, Array[Double]]()
    val rows = Seq.newBuilder[(Int, Int, Int, Double)]
    lambda.groupBy(e => (e._1, e._2)).foreach { case ((lang, topic), entries) =>
      val smoothed = entries.sortBy(_._3).map { case (_, _, w, lp) => (w, smooth(topic, w, lp)) }
      var lognorm = Double.NegativeInfinity
      smoothed.foreach { case (_, v) => lognorm = logAdd(lognorm, v) }
      val dgNorm = dg(math.exp(lognorm))
      smoothed.foreach { case (w, v) =>
        val e = dg(math.exp(v)) - dgNorm
        var arr = betaMap.get(key(lang, w))
        if (arr == null) { arr = new Array[Double](numTopics); betaMap.put(key(lang, w), arr) }
        arr(topic - 1) = e
        rows += ((lang, topic, w, e))
      }
    }
    (scala.jdk.CollectionConverters.MapHasAsScala(betaMap).asScala, rows.result())
  }

  // ---- EM loop ----

  /** What tells one topic model apart inside the EM loop. */
  final case class Model[D, R](
      shape: DocShape[D, R],
      smoothing: Smoothing,
      alphaInit: Array[Double],
      symmetricAlpha: Boolean,
      /** language → vocabulary size (the random-init scale of unseen terms) */
      vocab: Int => Int,
      /** Σ_l V_l: K × this above `betaBroadcastMaxEntries` takes the shuffle path */
      totalVocab: Long)

  /** A trained model: beta maps packed (lang, termId) → E[log β] over topics. */
  final case class Fit(
      alpha: Array[Double],
      beta: scala.collection.Map[Long, Array[Double]],
      logLikelihood: Double,
      iterations: Int,
      llHistory: Seq[Double])

  /**
   * EM driver loop (reference: cc/mrlda/VariationalInference.java:181-394,
   * polylda/VariationalInference.java:330-580). One Spark job per iteration
   * instead of one MR job + one merge job + JVM restarts: the corpus stays
   * cached in executor memory across iterations.
   *
   * Scale posture: below `betaBroadcastMaxEntries` beta is collected and
   * broadcast (the reference's DistributedCache path,
   * DocumentMapper.java:116); above it beta stays a distributed table
   * end-to-end and nothing model-sized moves through the driver. With
   * `checkpointDir` set, alpha/beta/gamma snapshot to parquet every
   * `checkpointEvery` iterations (the reference's alpha-i/beta-i/gamma-i
   * rotation) and gamma re-reads from parquet — reliable lineage
   * truncation; without it, `localCheckpoint` (fast, not fault-tolerant).
   * Convergence: |ΔLL/LL| ≤ `convergence` or `maxIterations`
   * (Settings.java:56,43).
   */
  def fit[D, R](docs: Dataset[D], model: Model[D, R], cfg: Settings): Fit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val shape = model.shape
    val keys = shape.keys
    val k = cfg.numTopics
    val useShuffle = k.toLong * model.totalVocab > cfg.betaBroadcastMaxEntries
    def gammaDocs(df: DataFrame): Dataset[D] =
      df.select(shape.docCols.map(col): _*).as[D](shape.docEncoder)

    var alpha = model.alphaInit
    var beta: scala.collection.Map[Long, Array[Double]] = Map.empty
    var betaTable: DataFrame = emptyBetaTable(spark, keys)
    var history = List.empty[Double]
    var startIter = 0
    var corpus = docs.persist(StorageLevel.MEMORY_AND_DISK)

    cfg.resumeFrom.foreach { case (dir, i) =>
      alpha = LdaCheckpoint.loadAlpha(spark, dir, i)
      val betaRows = LdaCheckpoint.loadBeta(spark, dir, i)
      if (useShuffle) betaTable = packBeta(betaRows, keys).persist(StorageLevel.MEMORY_AND_DISK)
      else beta = betaRowsToMap(betaRows, keys, k)
      // gamma-<i> is the full gamma-annotated corpus — resume reads it
      // directly (the reference resumes from the gamma-i document dir)
      corpus = gammaDocs(LdaCheckpoint.loadGamma(spark, dir, i))
        .persist(StorageLevel.MEMORY_AND_DISK)
      history = LdaCheckpoint.loadLlHistory(spark, dir, i).reverse.toList
      startIter = i
    }

    val numDocs = corpus.count()
    // the explode is loop-invariant (gamma rotation never touches counts):
    // materialized once, partitioned by the beta join key, so each
    // iteration's E-step shuffles only the model-sized beta table
    val exploded: Option[DataFrame] =
      if (useShuffle) Some(explodeDocs(corpus.toDF(), shape).persist(StorageLevel.MEMORY_AND_DISK))
      else None
    var lastLL = history.headOption.getOrElse(0.0)
    var iter = startIter
    var converged = false

    while (iter < cfg.maxIterations && !converged) {
      val alphaBc = spark.sparkContext.broadcast(alpha)
      // captured so the (model-sized) beta broadcast can be destroyed at
      // iteration end — otherwise broadcast memory grows linearly with
      // iterations on the driver and every executor
      val betaBc = if (useShuffle) None else Some(spark.sparkContext.broadcast(beta))
      val supply = betaBc match {
        case Some(bc) => Lookup.packed(bc)
        case None => Join(betaTable, exploded)
      }
      val estep = EmCore.estep(corpus, shape, alphaBc, supply, model.vocab,
        Sweeps(cfg.localIterations, cfg.randomStartGamma, learning = true, cfg.seed))
        .persist(StorageLevel.MEMORY_AND_DISK)

      val snapIdx = iter + 1
      val doCheckpoint = cfg.checkpointDir.isDefined &&
        (snapIdx % cfg.checkpointEvery == 0 || snapIdx == cfg.maxIterations)
      val docSide = estep.toDF().filter($"isDoc")

      // M-step + likelihood + alpha sufficient statistics. Broadcast mode:
      // the phi reduce and the doc-side stats are union branches of a
      // single collect, and the smoothing/normalizer tail runs on the
      // driver over the (model-sized) rows. Shuffle mode: TWO
      // localCheckpoints over the shared cached `estep` — (1) the
      // MODEL-sized one here (packed beta + the k-row ll/alpha statistics
      // as union branches), consumed by the stats collect and by every
      // E-step beta join of the next iteration; (2) the CORPUS-sized gamma
      // rotation below. Keeping the doc side out of (1) means the
      // per-iteration beta scans never re-read corpus blocks. Both
      // checkpoints also truncate lineage (a plain persist would nest each
      // iteration's plan inside the next E-step join).
      var betaRowsDriver: Seq[(Int, Int, Int, Double)] = Nil // broadcast mode only
      var fused: Option[DataFrame] = None                    // shuffle mode only
      val prevBetaTable = betaTable
      val (ll, ss) = if (useShuffle) {
        val nullInt = lit(null).cast("int")
        val nullDouble = lit(null).cast("double")
        val packed = packBeta(lambdaToBeta(explodePhi(estep.toDF(), keys), keys, model.smoothing), keys)
        val fusedDf = packed
          .select(((lit(0).as("tag") +: keys.term.map(col)) ++ Seq($"elogbeta",
            nullInt.as("k"), nullDouble.as("ss"), nullDouble.as("llsum"))): _*)
          .unionByName(MStep.llAndAlphaStatsRows(docSide)
            .select(((lit(2).as("tag") +: keys.term.map(nullInt.as(_))) ++ Seq(
              lit(null).cast(ArrayType(DoubleType)).as("elogbeta"), $"k", $"ss", $"llsum")): _*))
          .ckptSer()
        fused = Some(fusedDf)
        betaTable = fusedDf.filter($"tag" === 0).select(keys.term.map(col) :+ $"elogbeta": _*)
        MStep.statsOf(fusedDf.filter($"tag" === 2).select($"k", $"ss", $"llsum").collect(), k)
      } else {
        val (llF, ssF, lambda) = splitFused(fusedIterationRows(estep.toDF(), keys).collect(), k)
        val (betaMap, rows) = finishBetaOnDriver(lambda, k, model.smoothing.driver)
        beta = betaMap
        betaRowsDriver = rows
        (llF, ssF)
      }
      if (cfg.updateAlpha) {
        alpha =
          if (model.symmetricAlpha) {
            val a = AlphaUpdate.updateScalarAlpha(k, numDocs, alpha(0), ss.sum)
            Array.fill(k)(a)
          } else AlphaUpdate.updateVectorAlpha(k, numDocs, alpha, ss)
      }
      history = ll :: history

      // convergence decided HERE so an early-converging run still snapshots
      // its final state (doCheckpoint alone would skip it when
      // checkpointEvery > 1 and the converged iteration isn't a multiple)
      val willConverge = (iter > startIter || cfg.resumeFrom.isDefined) &&
        math.abs((ll - lastLL) / lastLL) <= cfg.convergence
      val doSnapshot = doCheckpoint || (cfg.checkpointDir.isDefined && willConverge)

      // snapshot i+1 after iteration i (the reference's alpha-(i+1)).
      // gamma-<i> holds the FULL gamma-annotated corpus — exactly the
      // reference's layout, where the gamma output dir IS the next
      // iteration's document input (VariationalInference.java:358-379)
      if (doSnapshot) {
        val dir = cfg.checkpointDir.get
        // shuffle mode unpacks the materialized packed table (array
        // position p ↔ topic p+1: packBeta sorts by topic and the E-step
        // emits every topic for each term it touches)
        val snapshotBeta = fused match {
          case Some(f) =>
            f.filter($"tag" === 0)
              .select(keys.term.map(col) :+ posexplode($"elogbeta").as(Seq("pos", "v")): _*)
              .select(($"pos" + 1).as("topic") +: keys.term.map(col) :+ $"v".as("elogbeta"): _*)
          case None => betaRowsDriver.toDF("lang", "topic", "termId", "elogbeta")
        }
        LdaCheckpoint.saveAlpha(spark, dir, snapIdx, alpha)
        LdaCheckpoint.saveBeta(snapshotBeta.select(keys.lambda.map(col) :+ $"elogbeta": _*),
          dir, snapIdx)
        LdaCheckpoint.saveGamma(docSide.select(shape.docCols.map(col): _*), dir, snapIdx)
        LdaCheckpoint.saveState(spark, dir, snapIdx, history.reverse)
      }

      // rotate gamma into the corpus for the next iteration's warm start:
      // the doc side already carries the full document, so the next corpus
      // is a projection of the E-step output — no per-iteration join.
      // Skipped under randomStartGamma (the E-step would ignore the stored
      // gamma; the reference gates the side-output the same way).
      if (!cfg.randomStartGamma) {
        val nextCorpus =
          if (doSnapshot)
            gammaDocs(LdaCheckpoint.loadGamma(spark, cfg.checkpointDir.get, snapIdx))
              .persist(StorageLevel.MEMORY_AND_DISK)
          else gammaDocs(docSide).ckptSer() // shuffle mode: checkpoint (2)
        corpus.unpersist()
        corpus = nextCorpus
      }

      estep.unpersist()
      if (useShuffle) prevBetaTable.unpersist()
      // every action reading these completed above; destroy() is
      // non-blocking in Spark 4, so this adds no per-iteration latency
      alphaBc.destroy()
      betaBc.foreach(_.destroy())

      converged = willConverge
      lastLL = ll
      iter += 1
    }
    exploded.foreach(_.unpersist(blocking = false))

    // shuffle mode materializes the driver-side map once at the end
    // (callers needing beta bigger than driver memory read the
    // checkpointed beta-<i> parquet instead)
    if (useShuffle)
      beta = betaTable.select(keys.lang, $"termId", $"elogbeta").as[(Int, Int, Array[Double])]
        .collect().map { case (l, w, arr) => key(l, w) -> arr }.toMap

    Fit(alpha, beta, lastLL, iter, history.reverse)
  }

  /** Held-out inference (reference D5): frozen model, one map-only E-step;
    * returns per-doc (docId, gamma) and the held-out log-likelihood. */
  def infer[D, R](docs: Dataset[D], shape: DocShape[D, R], alpha: Array[Double],
      beta: BetaSupply, vocab: Int => Int, localIterations: Int, seed: Long): (DataFrame, Double) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val out = estep(docs, shape, spark.sparkContext.broadcast(alpha), beta, vocab,
      Sweeps(localIterations, randomStartGamma = false, learning = false, seed))
      .persist(StorageLevel.MEMORY_AND_DISK)
      .toDF().filter($"isDoc")
    (out.select($"docId", $"gamma"), out.agg(sum($"ll")).as[Double].head())
  }
}
