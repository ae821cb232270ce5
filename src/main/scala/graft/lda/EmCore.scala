package graft.lda

import graft.functions.GammaFuncs.{digamma => dg, logAdd, logGamma}
import graft.functions.{LogSumExpAgg, LseBuf}
import graft.util.Ckpt._
import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

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
 * Broadcast vs shuffle is the [[BetaPath]] that [[fit]] picks once: a
 * broadcast map lookup, or the corpus exploded and joined with a
 * distributed beta table ([[BetaSupply]]), feeding the one `mapPartitions`
 * kernel ([[estep]]); and one per-topic M-step tail ([[normalizeTopic]]),
 * run on the driver ([[betaOf]]) or in a keyed reducer ([[topicTail]]).
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

  /** Shifted exponent below which the E-step's linear sweep takes
    * exp(E[log β_wk] − m_w) or exp(ψ(γ_k) − max ψ(γ)) as exactly 0. Every
    * product of two kept factors is then at least e^-708, a normal double:
    * subnormal operands (idle topics at γ ≈ 1.4e-3, say) made the sweep
    * three to five times slower. */
  private val LogFlush = -354.0

  /** Smallest linear-space normaliser norm_w the E-step sweep divides by;
    * a term below it takes the log-space step. The factors [[LogFlush]]
    * drops sum to under K · e^-354, below 2^-110 · K of any normaliser
    * above 2^-400; the gamma they would feed is under c_w · 2^-110; and
    * c_w / norm_w cannot overflow. */
  private[graft] val NormFloor = java.lang.Math.scalb(1.0, -400)

  /** exp(x) for a max-shifted exponent x ≤ 0, 0 below [[LogFlush]]. */
  private def shiftedExp(x: Double): Double = if (x < LogFlush) 0.0 else math.exp(x)

  /** The iteration settings both trainers' `Config`s carry. */
  trait Settings {
    def numTopics: Int
    def maxIterations: Int
    def localIterations: Int
    def convergence: Double
    def randomStartGamma: Boolean
    def seed: Long
    def betaBroadcastMaxEntries: Long
    def checkpointDir: Option[String]
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
    def docId(d: D): Long
    def tokens(d: D): Long
    def gamma(d: D): Option[Array[Double]]
    /** the document rebuilt from its joined terms (shuffle path) */
    def fromTerms(docId: Long, tokens: Long, terms: Seq[TermBeta]): D
    def docRow(d: D, gamma: Array[Double], ll: Double): R
    def phiRow(key: Long, logphi: Array[Double]): R
  }

  /** How the M-step smooths one folded log λ before normalizing:
    * (topic, termId, log λ) → smoothed log λ. Both beta paths apply it in
    * [[topicTail]]. */
  type Smoothing = (Int, Int, Double) => Double

  object Smoothing {
    /** Vanilla LDA: log λ ⊕ eta (InformedPrior.java:172-177,
      * Settings.java:58): log(1000) for the seeded (topic, term) pairs and
      * log(0.001) for the rest when a prior is supplied, log(1e-12)
      * otherwise. The seeds are a set, like the reference's per-topic seed
      * set: a pair listed twice is seeded once. */
    def eta(seeded: Option[Set[(Int, Int)]]): Smoothing = seeded match {
      case Some(s) => (topic, termId, lp) =>
        logAdd(lp, if (s((topic, termId))) MStep.InformedLogEta else MStep.UninformedLogEta)
      case None => (_, _, lp) => logAdd(lp, MStep.DefaultLogEta)
    }

    /** A prior's (topic, termId) rows, collected to the seed set [[eta]] reads. */
    def seeds(prior: DataFrame): Set[(Int, Int)] =
      prior.select("topic", "termId").collect().map(r => (r.getInt(0), r.getInt(1))).toSet

    /** Polylingual LDA: no eta (polylda/TermReducer.java:84-119 adds no
      * prior), but log λ is floored at -700. A topic whose phi mass for a
      * term fully underflows would hit digamma(exp(-inf)) = -Inf and poison
      * the next E-step with 0·(−Inf−(−Inf)) = NaN; exp(-700) is the smallest
      * normal-range double whose digamma is still finite. */
    val floor: Smoothing = (_, _, lp) => math.max(lp, -700.0)
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
  private[graft] final class Flat(
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
  private[graft] final class Kernel[R](alpha: Array[Double], sweeps: Sweeps, vocab: Int => Int,
      phiRow: (Long, Array[Double]) => R) {
    import sweeps._
    private val k = alpha.length
    // L_α = lnΓ(Σα) − Σ lnΓ(α_k), added once per document
    // (reference DocumentMapper.java:121-126)
    private val likelihoodAlpha = logGamma(alpha.sum) - alpha.map(logGamma).sum
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

    /** Writes exp(b_k − max b) ([[shiftedExp]]) for one term's E[log β]
      * row to `out` from `base`; returns max b. */
    private def shiftRow(b: Array[Double], out: Array[Double], base: Int): Double = {
      var m = b(0)
      var i = 1
      while (i < k) { if (b(i) > m) m = b(i); i += 1 }
      i = 0
      while (i < k) { out(base + i) = shiftedExp(b(i) - m); i += 1 }
      m
    }

    /**
     * One document's gamma/phi fixed point, swept in linear space (the
     * variational update of lda-c and of Hoffman, Blei & Bach 2010; MLlib's
     * `OnlineLDAOptimizer.variationalTopicInference`): the same fixed point
     * as the reference's log-space `updatePhi` (DocumentMapper.java:204-242,
     * 402-429), with no transcendental call per term in a sweep.
     *
     * Once per document each term's row is shifted by its maximum m_w and
     * exponentiated, eb_wk = exp(E[log β_wk] − m_w); each [[sweep]] takes
     * ed_k = exp(ψ(γ_k) − max ψ(γ)), norm_w = Σ_k eb_wk·ed_k and
     * γ_k = α_k + ed_k · Σ_w c_w·eb_wk / norm_w. Logs are taken after the
     * final sweep only, additively — log φ_wk = E[log β_wk] + ψ(γ_k) − (m_w +
     * max ψ(γ) + ln norm_w) — for the likelihood and the log-space phi fold
     * ([[finish]]). A term whose norm_w falls below [[NormFloor]] (γ
     * warm-started on some topics and the term's mass only in topics with
     * ψ(γ) ≈ ψ(α)) takes the log-space step [[EStep.updatePhiTerm]] in that
     * sweep instead, its gamma contribution merged in from log space.
     *
     * The sweep and the row shift are methods of their own, called many
     * times per document, so the JIT compiles them early: as loops inside a
     * once-per-document method they ran two to four times slower.
     */
    private final class DocFit(f: Flat) {
      private val nnz = f.keys.length
      private val cnt = f.cnt
      private val lb = f.elogbeta
      // sweep-invariant, resolved once: each term's E[log β] row, its
      // maximum m_w, ln(count) and eb_wk (term-major, at w·K + k)
      private val rowMax = new Array[Double](nnz)
      private val logCnt = new Array[Double](nnz)
      private val expBeta = new Array[Double](nnz * k)
      locally {
        var j = 0
        while (j < nnz) {
          if (lb(j) == null) lb(j) = fallback(f.keys(j))
          rowMax(j) = shiftRow(lb(j), expBeta, j * k)
          logCnt(j) = math.log(cnt(j).toDouble)
          j += 1
        }
      }

      val gamma: Array[Double] = f.gamma match {
        case Some(g) if g.length == k && !randomStartGamma => g.clone()
        case _ => Array.tabulate(k)(i => alpha(i) + f.tokens.toDouble / k)
      }
      // ψ(γ) of the latest sweep, its maximum and ed_k
      private val dgamma = new Array[Double](k)
      private var maxDg = 0.0
      private val expDg = new Array[Double](k)
      // each term's norm_w in the latest sweep: the final logs read it
      private val norm = new Array[Double](nnz)
      // Σ_w c_w·eb_wk / norm_w over the linear terms, and the log-space
      // gamma sum of the terms the guard sent to the log-space step
      private val acc = new Array[Double](k)
      private val guardLogGamma = new Array[Double](k)
      private val scratch = new Array[Double](k)

      def sweep(): Unit = {
        var i = 0
        maxDg = Double.NegativeInfinity
        while (i < k) { dgamma(i) = dg(gamma(i)); maxDg = math.max(maxDg, dgamma(i)); i += 1 }
        i = 0
        while (i < k) {
          expDg(i) = shiftedExp(dgamma(i) - maxDg)
          acc(i) = 0.0
          guardLogGamma(i) = Double.NegativeInfinity
          i += 1
        }
        var w = 0
        while (w < nnz) {
          val base = w * k
          var s = 0.0
          i = 0
          while (i < k) { s += expBeta(base + i) * expDg(i); i += 1 }
          norm(w) = s
          if (s >= NormFloor) {
            val r = cnt(w) / s
            i = 0
            while (i < k) { acc(i) += r * expBeta(base + i); i += 1 }
          } else
            EStep.updatePhiTerm(k, cnt(w), logCnt(w), lb(w), dgamma, scratch, guardLogGamma)
          w += 1
        }
        i = 0
        while (i < k) {
          gamma(i) = anchor(alpha(i) + expDg(i) * acc(i) + math.exp(guardLogGamma(i)), anchorGammaDp)
          i += 1
        }
      }

      /** The final sweep's log φ (scaled by ln count): returns the likelihood
        * term c·Σ_k φ_k·(E[log β_k] − log φ_k) and, when learning, folds log φ
        * into the partition combiner — first touch writes the value, later
        * documents logAdd in document order. */
      def finish(): Double = {
        var likelihoodPhi = 0.0
        var w = 0
        while (w < nnz) {
          val b = lb(w)
          var i = 0
          if (norm(w) >= NormFloor) {
            val logNorm = rowMax(w) + maxDg + math.log(norm(w))
            val base = w * k
            while (i < k) {
              val lp = b(i) + dgamma(i) - logNorm
              likelihoodPhi += cnt(w) * (expBeta(base + i) * expDg(i) / norm(w)) * (b(i) - lp)
              scratch(i) = lp + logCnt(w)
              i += 1
            }
          } else
            likelihoodPhi += EStep.updatePhiTerm(k, cnt(w), logCnt(w), b, dgamma, scratch,
              new Array[Double](k))
          if (learning) {
            i = 0
            while (i < k) { scratch(i) = anchor(scratch(i), anchorPhiDp); i += 1 }
            val sums = phiAcc.get(f.keys(w))
            if (sums == null) phiAcc.put(f.keys(w), scratch.clone())
            else {
              i = 0
              while (i < k) { sums(i) = logAdd(sums(i), scratch(i)); i += 1 }
            }
          }
          w += 1
        }
        likelihoodPhi
      }
    }

    private def fitDoc(f: Flat, row: (Array[Double], Double) => R): R = {
      val doc = new DocFit(f)
      // fixed-sweep gamma/phi fixed point; do-while semantics replicate the
      // reference's iteration count exactly (DocumentMapper.java:204-242)
      var sweep = 1
      var continue = true
      while (continue) {
        doc.sweep()
        sweep += 1
        continue = sweep < localIterations
      }
      val likelihoodPhi = doc.finish()

      // document log-likelihood L_α + L_γ + L_φ (DocumentMapper.java:244-254)
      val gamma = doc.gamma
      var sumGamma = 0.0
      var likelihoodGamma = 0.0
      var i = 0
      while (i < k) { sumGamma += gamma(i); likelihoodGamma += logGamma(gamma(i)); i += 1 }
      likelihoodGamma -= logGamma(sumGamma)
      row(gamma, likelihoodAlpha + likelihoodGamma + likelihoodPhi)
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
    explodeTopics(estep.filter(!col("isDoc")), keys, "logphi")

  /** (lang…, termId, `values`[K]) rows → one (lang…, topic 1..K, termId,
    * `values`) row per topic, exploded in the plan. */
  def explodeTopics(rows: DataFrame, keys: Keys, values: String): DataFrame =
    rows.select(keys.term.map(col) :+ posexplode(col(values)).as(Seq("pos", "v")): _*)
      .select(keys.langCols.map(col) ++ Seq(
        (col("pos") + 1).cast("int").as("topic"), col("termId"), col("v").as(values)): _*)

  /** (lang, termId, E[log β][K]) rows → (lang…, topic, termId, elogbeta)
    * rows, exploded in the plan. */
  def betaRows(spark: SparkSession, keys: Keys, packed: Seq[(Int, Int, Array[Double])])
      : DataFrame = {
    import spark.implicits._
    explodeTopics(packed.toDF("lang", "termId", "elogbeta"), keys, "elogbeta")
  }

  /**
   * One (lang, topic)'s E[log β] from its smoothed log λ in termId order,
   * in place: E[log β_w] = ψ(λ_w) − ψ(Σ_w λ_w), the normalizer a
   * sequential log-add in that order. This is the reference's reducer
   * (TermReducer.java:134-238), the tail both beta paths run: on the
   * driver for a broadcast model ([[betaOf]]) and in the keyed reducer of
   * a table model ([[topicTail]]).
   */
  private def normalizeTopic(v: Array[Double]): Unit = {
    var lognorm = Double.NegativeInfinity
    var j = 0
    while (j < v.length) { lognorm = logAdd(lognorm, v(j)); j += 1 }
    val dgNorm = dg(math.exp(lognorm))
    j = 0
    while (j < v.length) { v(j) = dg(math.exp(v(j))) - dgNorm; j += 1 }
  }

  /**
   * The table model's per-(lang, topic) tail over (lang, topic, termId,
   * value) rows sorted by (lang, topic, termId): each term's values fold
   * into log λ with [[graft.functions.LogSumExpAgg]]'s arithmetic (a
   * single value passes through unchanged), then [[normalizeTopic]] after
   * the smoothing. Emits (lang, topic, termId, E[log β]) in input order.
   */
  def topicTail(rows: BufferedIterator[(Int, Int, Int, Double)], smoothing: Smoothing)
      : Iterator[(Int, Int, Int, Double)] = {
    val lse = new LogSumExpAgg
    Iterator.continually(rows).takeWhile(_.hasNext).flatMap { _ =>
      val (lang, topic, _, _) = rows.head
      def inTopic = rows.hasNext && rows.head._1 == lang && rows.head._2 == topic
      val terms = Array.newBuilder[Int]
      val smoothed = Array.newBuilder[Double]
      while (inTopic) {
        val w = rows.head._3
        var buf = lse.zero
        while (inTopic && rows.head._3 == w) buf = lse.reduce(buf, rows.next()._4)
        terms += w
        smoothed += smoothing(topic, w, lse.finish(buf))
      }
      val beta = smoothed.result()
      normalizeTopic(beta)
      terms.result().iterator.zip(beta.iterator).map { case (w, e) => (lang, topic, w, e) }
    }
  }

  /**
   * The table model's M-step, shaped like the reference's reducer
   * (TermReducer.java:134-238, polylda/TermReducer.java:84-119): the phi
   * rows take one exchange, partitioned by (lang…, topic) and sorted by
   * termId, then by value, largest first, so the λ fold does not depend on
   * the shuffle's fetch order; [[topicTail]] finishes each (lang, topic).
   *
   * @param phi (lang…, topic, termId, logphi) rows ([[explodePhi]])
   * @return    (lang…, topic, termId, elogbeta)
   */
  def lambdaToBeta(phi: DataFrame, keys: Keys, smoothing: Smoothing): DataFrame = {
    val spark = phi.sparkSession
    import spark.implicits._
    phi.select(keys.lambda.map(col) :+ col("logphi"): _*)
      .repartition(keys.norm.map(col): _*)
      .sortWithinPartitions(keys.lambda.map(col) :+ col("logphi").desc: _*)
      .select(keys.lang, col("topic"), col("termId"), col("logphi"))
      .as[(Int, Int, Int, Double)]
      .mapPartitions(rows => topicTail(rows.buffered, smoothing))
      .toDF("lang", "topic", "termId", "elogbeta")
      .select(keys.lambda.map(col) :+ col("elogbeta"): _*)
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

  /** A packed (key columns…, elogbeta[K]) table → packed key → topic array,
    * on the driver. */
  private def collectPacked(table: DataFrame, keys: Keys)
      : scala.collection.Map[Long, Array[Double]] = {
    val spark = table.sparkSession
    import spark.implicits._
    table.select(keys.lang, col("termId"), col("elogbeta")).as[(Int, Int, Array[Double])]
      .collect().map { case (l, w, arr) => key(l, w) -> arr }.toMap
  }

  /**
   * Per packed key, K [[graft.functions.LogSumExpAgg]] buffers, each
   * reduced in the order its values arrive: the λ fold of a broadcast
   * model. [[reduce]] folds one partition's E-step rows into one (a key
   * the kernel flushed mid-partition arrives in several rows), and a
   * reducer folds the partitions' partials of its keys in partition-index
   * order.
   */
  private[graft] final class LseFold(k: Int) {
    private val lse = new LogSumExpAgg
    private val bufs = new java.util.HashMap[Long, Array[LseBuf]]()

    private def buf(key: Long): Array[LseBuf] = bufs.computeIfAbsent(key, _ => Array.fill(k)(lse.zero))

    /** reduce one (key, topic slot) value */
    def add(key: Long, topic: Int, x: Double): Unit = lse.reduce(buf(key)(topic), x)

    /** reduce a key's K values `xs(from until from + K)` */
    def addRow(key: Long, xs: Array[Double], from: Int): Unit = {
      val b = buf(key)
      for (i <- 0 until k) lse.reduce(b(i), xs(from + i))
    }

    /** Each key with its finished log λ, in no particular order. */
    def entries(): Iterator[(Long, Array[Double])] =
      bufs.entrySet.iterator.asScala.map(e => (e.getKey: Long) -> e.getValue.map(lse.finish))

    /** The keys, sorted as primitive Longs — (lang, termId) order — and
      * their finished log λ, K per key in that order. */
    def result(): (Array[Long], Array[Double]) = {
      val keys = bufs.keySet.asScala.toArray
      java.util.Arrays.sort(keys)
      (keys, keys.flatMap(w => bufs.get(w).map(lse.finish)))
    }
  }

  /** A broadcast model's M-step input, merged: corpus LL, alpha statistics
    * (K = `ss.length`) and log λ for each key, keys ascending. */
  final case class Reduced(ll: Double, ss: Array[Double], keys: Array[Long], lambda: Array[Double])

  /** [[reduce]]'s key of the merged (Σ ll, ss): no packed (lang, termId)
    * key is negative. */
  private val StatsKey = -1L

  /** One map partition's share of [[reduce]] bound for one reducer: the
    * partition's index, its keys that hash to that reducer with their log
    * φ (K per key, `logphi(j·K + i)` ↔ key j), and — on reducer 0 only —
    * its Σ ll followed by ss. */
  private final case class Block(part: Int, keys: Array[Long], logphi: Array[Double], stats: Array[Double])

  /**
   * A broadcast model's M-step reduce over E-step rows, the reference's
   * in-mapper combiner and its reducer (DocumentMapper.java:177, 263-339):
   * one job of two stages, which collects only the model.
   *
   * Each partition folds its rows into one partial: log φ per packed key
   * ([[LseFold]], `logphi(j·K + i)` ↔ key j, topic i+1), Σ ll and ss_k =
   * Σ_d ψ(γ_dk) − ψ(Σ_k γ_dk). It ships the partial as one [[Block]] per
   * reducer, its keys hashed to reducers. A reducer folds its blocks in
   * partition-index order — λ with [[LseFold]], the statistics summed —
   * so the result never depends on which task finished first or on the
   * shuffle's fetch order (Spark's combiners, `RDD.reduce` and
   * `treeAggregate` merge in arrival order), nor on the number of reducers.
   */
  def reduce(estep: DataFrame, keys: Keys): Reduced = {
    val at = estep.schema.fieldIndex _
    val (isDoc, gamma, docLl, termId, logphi) =
      (at("isDoc"), at("gamma"), at("ll"), at("termId"), at("logphi"))
    val lang = keys.langCols.headOption.map(at)
    val input = estep.queryExecution.toRdd
    val reducers = new HashPartitioner(
      math.max(1, math.min(input.getNumPartitions, estep.sparkSession.sparkContext.defaultParallelism)))
    val blocks = input.mapPartitionsWithIndex { (part, rows) =>
      var fold: LseFold = null
      var stats = Array.empty[Double] // Σ ll, then ss
      rows.foreach { row =>
        if (row.getBoolean(isDoc)) {
          val g = row.getArray(gamma).toDoubleArray()
          if (stats.isEmpty) stats = new Array[Double](g.length + 1)
          stats(0) += row.getDouble(docLl)
          val dgSum = dg(g.sum)
          for (i <- g.indices) stats(i + 1) += dg(g(i)) - dgSum
        } else {
          val lp = row.getArray(logphi).toDoubleArray()
          if (fold == null) fold = new LseFold(lp.length)
          fold.addRow(key(lang.fold(0)(row.getInt), row.getInt(termId)), lp, 0)
        }
      }
      val n = reducers.numPartitions
      val (ks, lps) = (Array.fill(n)(Array.newBuilder[Long]), Array.fill(n)(Array.newBuilder[Double]))
      if (fold != null) fold.entries().foreach { case (w, v) =>
        val r = reducers.getPartition(w)
        ks(r) += w
        lps(r) ++= v
      }
      Iterator.tabulate(n)(r => r -> Block(part, ks(r).result(), lps(r).result(), if (r == 0) stats else Array.empty))
    }
    val merged = blocks.partitionBy(reducers).mapPartitions { it =>
      var fold: LseFold = null
      var stats = Array.empty[Double]
      it.map(_._2).toArray.sortBy(_.part).foreach { b =>
        if (b.keys.nonEmpty) {
          val k = b.logphi.length / b.keys.length
          if (fold == null) fold = new LseFold(k)
          for (j <- b.keys.indices) fold.addRow(b.keys(j), b.logphi, j * k)
        }
        if (b.stats.nonEmpty) {
          if (stats.isEmpty) stats = new Array[Double](b.stats.length)
          for (i <- stats.indices) stats(i) += b.stats(i)
        }
      }
      Option(fold).iterator.flatMap(_.entries()) ++ Option.when(stats.nonEmpty)(StatsKey -> stats)
    }.collect()
    val stats = merged.find(_._1 == StatsKey).fold(Array(0.0))(_._2)
    val byKey = new java.util.HashMap[Long, Array[Double]](merged.length * 2)
    merged.foreach { case (w, v) => if (w != StatsKey) byKey.put(w, v) }
    val ks = byKey.keySet.asScala.toArray
    java.util.Arrays.sort(ks)
    Reduced(stats(0), stats.tail, ks, ks.flatMap(byKey.get))
  }

  /** Smoothing and [[normalizeTopic]] over a broadcast model's λ (`keys`
    * ascending, K values each), one (lang, topic) at a time → the packed
    * key → topic-array map the next E-step looks up. */
  private[graft] def betaOf(keys: Array[Long], lambda: Array[Double], k: Int,
      smoothing: Smoothing): scala.collection.Map[Long, Array[Double]] = {
    val beta = Array.fill(keys.length)(new Array[Double](k))
    var a = 0
    while (a < keys.length) {
      val lang = langOf(keys(a))
      var b = a
      while (b < keys.length && langOf(keys(b)) == lang) b += 1
      val v = new Array[Double](b - a)
      for (t <- 0 until k) {
        for (j <- v.indices) v(j) = smoothing(t + 1, termOf(keys(a + j)), lambda((a + j) * k + t))
        normalizeTopic(v)
        for (j <- v.indices) beta(a + j)(t) = v(j)
      }
      a = b
    }
    keys.iterator.zip(beta.iterator).toMap
  }

  /** The broadcast M-step's tail over (lang, topic, termId, log λ) rows:
    * values of one (lang, topic, termId) fold with [[LseFold]], then
    * [[betaOf]]. */
  def finishBetaOnDriver(lambda: Array[(Int, Int, Int, Double)], numTopics: Int,
      smoothing: Smoothing): scala.collection.Map[Long, Array[Double]] = {
    val fold = new LseFold(numTopics)
    lambda.foreach { case (lang, topic, w, v) => fold.add(key(lang, w), topic - 1, v) }
    val (keys, values) = fold.result()
    betaOf(keys, values, numTopics, smoothing)
  }

  /** One iteration's M-step outcome: corpus LL, alpha statistics, and the
    * E-step's doc rows, readable until `release`. */
  private final case class Step(ll: Double, ss: Array[Double], docs: DataFrame, release: () => Unit)

  /**
   * A model's beta between EM iterations, held in the form its path looks
   * it up in, together with everything that depends on that form: the
   * E-step's supply, the M-step, the snapshot rows, the resume load (the
   * constructor's checkpointed rows), the final map and the release.
   * [[fit]] picks the path once; its loop never branches on it.
   */
  private sealed trait BetaPath {
    /** the E-step's supply for the coming iteration; releases what the
      * finished iteration's supply held */
    def supply(): BetaSupply
    /** the M-step over one E-step's rows, replacing beta with the next one */
    def mstep(estep: DataFrame): Step
    /** (lang…, topic, termId, elogbeta) rows: the beta-<i> snapshot */
    def rows: DataFrame
    /** the final packed key → topic-array map; releases the path */
    def finish(): scala.collection.Map[Long, Array[Double]]
  }

  /** Beta collected and broadcast (the reference's DistributedCache path,
    * DocumentMapper.java:116). The iteration is one job: the E-step rows
    * are checkpointed lazily and [[reduce]]'s first stage materializes them
    * while it folds them, so the doc rows the next corpus reads cost no job
    * of their own; the tail runs on the driver. */
  private final class BroadcastBeta(spark: SparkSession, keys: Keys, k: Int,
      smoothing: Smoothing, resumed: Option[DataFrame]) extends BetaPath {
    private var beta = resumed.map(rows => collectPacked(packBeta(rows, keys), keys))
      .getOrElse(Map.empty[Long, Array[Double]])
    // kept so the (model-sized) broadcast is destroyed once its iteration
    // is done — otherwise broadcast memory grows linearly with iterations
    // on the driver and every executor
    private var bc: Option[Broadcast[scala.collection.Map[Long, Array[Double]]]] = None

    // destroy() is non-blocking in Spark 4, so this adds no latency
    private def release(): Unit = bc.foreach(_.destroy())
    def supply(): BetaSupply = {
      release()
      val b = spark.sparkContext.broadcast(beta)
      bc = Some(b)
      Lookup.packed(b)
    }
    def mstep(estep: DataFrame): Step = {
      // lazy is safe here: the reduce's first stage is the only reader
      // until it has materialized the checkpoint
      val out = estep.ckptLazy()
      val r = reduce(out, keys)
      beta = betaOf(r.keys, r.lambda, k, smoothing)
      Step(r.ll, r.ss, out.filter(col("isDoc")), () => out.releaseCkpt())
    }
    def rows: DataFrame =
      betaRows(spark, keys, beta.toSeq.map { case (w, arr) => (langOf(w), termOf(w), arr) })
    def finish(): scala.collection.Map[Long, Array[Double]] = { release(); beta }
  }

  /** Beta kept as a distributed (key columns…, elogbeta[K]) table, joined
    * each iteration to the corpus exploded once per run (`exploded`, owned
    * here): the scale path, where nothing model-sized moves through the
    * driver until [[finish]]. */
  private final class TableBeta(spark: SparkSession, keys: Keys, k: Int,
      smoothing: Smoothing, exploded: DataFrame, resumed: Option[DataFrame]) extends BetaPath {
    private var table: DataFrame = resumed.fold(emptyBetaTable(spark, keys))(
      rows => packBeta(rows, keys).persist(StorageLevel.MEMORY_AND_DISK))
    // drops the blocks `table` reads
    private var releaseTable: () => Unit = { val t = table; () => t.unpersist() }

    def supply(): BetaSupply = Join(table, Some(exploded))
    /** One localCheckpoint holds the packed beta and the k-row ll/alpha
      * statistics as union branches: the stats collect and every E-step
      * join of the next iteration read it, and it truncates the lineage (a
      * plain persist would nest each iteration's plan inside the next
      * E-step join). Keeping the doc side out of it means the per-iteration
      * beta scans never re-read corpus blocks. The doc rows are checkpointed
      * eagerly (the two union branches read the E-step from concurrent
      * stages); after that nothing reads the old beta table. */
    def mstep(estep: DataFrame): Step = {
      val held = estep.persist(StorageLevel.MEMORY_AND_DISK)
      val next = packBeta(lambdaToBeta(explodePhi(held, keys), keys, smoothing), keys)
        .withColumn("tag", lit(0))
        .unionByName(
          MStep.llAndAlphaStatsRows(held.filter(col("isDoc"))).withColumn("tag", lit(1)),
          allowMissingColumns = true)
        .ckptSer()
      val (ll, ss) = MStep.statsOf(next.filter(col("tag") === 1).select("k", "ss", "llsum").collect(), k)
      val docs = held.filter(col("isDoc")).ckptSer()
      held.unpersist()
      releaseTable()
      releaseTable = () => next.releaseCkpt()
      table = next.filter(col("tag") === 0).select(keys.term.map(col) :+ col("elogbeta"): _*)
      Step(ll, ss, docs, () => docs.releaseCkpt())
    }
    def rows: DataFrame = explodeTopics(table, keys, "elogbeta")
    def finish(): scala.collection.Map[Long, Array[Double]] = {
      exploded.unpersist(blocking = false)
      val beta = collectPacked(table, keys)
      releaseTable()
      beta
    }
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

  /** E-step work (φ updates, sweeps and [[FoldSweeps]]) one corpus
    * partition is sized to carry: about 10 ms of one core at the rate
    * measured below. */
  private[graft] val WorkPerTask = 1L << 22
  /** A broadcast iteration's work per (term, topic) outside the sweeps —
    * row decoding, the shifted E[log β] rows, the final logs, the φ
    * combiner and the partial fold, the checkpoint and shuffle writes —
    * counted in sweeps. Measured as the intercept over the slope of one
    * map task's CPU time against the sweep count (1 to 100; 400 documents
    * of 156 distinct terms, K = 20, one core of a 4-core Xeon VM): 180–200
    * ms plus 3.0–3.1 ms per sweep, 58–68 sweeps over three runs of 11
    * repetitions. */
  private[graft] val FoldSweeps = 60

  /**
   * The corpus's partition count: its E-step work, Σ nnz · K · (sweeps +
   * [[FoldSweeps]]), in tasks of [[WorkPerTask]]; at least one, at most one
   * per document. A function of the data and the settings only, never of
   * the host's cores, so the per-partition folds — and the trained model —
   * are the same on every host.
   */
  def partitionsFor(numDocs: Long, nnz: Long, k: Int, sweeps: Int): Int = {
    val tasks = math.ceil(nnz.toDouble * k * (sweeps + FoldSweeps) / WorkPerTask).toLong
    math.max(1L, math.min(math.min(tasks, numDocs), Int.MaxValue)).toInt
  }

  /** (documents, Σ nnz) of a corpus in one job. */
  private def countTerms[D, R](docs: Dataset[D], shape: DocShape[D, R]): (Long, Long) = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions { it =>
      var n = 0L
      var nnz = 0L
      it.foreach { d => n += 1; shape.langCounts(d).foreach(nnz += _._2.size) }
      Iterator((n, nnz))
    }.collect().foldLeft((0L, 0L)) { case ((n, z), (a, b)) => (n + a, z + b) }
  }

  /** `docs` hash-partitioned by docId into `parts` partitions, docId-sorted
    * within each, and persisted; returns it and its release. The first job
    * that reads it runs the exchange: no job of its own. */
  private def byWork[D, R](docs: Dataset[D], shape: DocShape[D, R], parts: Int)
      : (Dataset[D], () => Unit) = {
    implicit val tag: scala.reflect.ClassTag[D] = shape.docEncoder.clsTag
    val rdd = docs.rdd.keyBy(shape.docId)
      .repartitionAndSortWithinPartitions(new HashPartitioner(parts)).values
    rdd.persist(StorageLevel.MEMORY_AND_DISK_SER)
    (docs.sparkSession.createDataset(rdd)(shape.docEncoder), () => rdd.unpersist(blocking = false))
  }

  /**
   * EM driver loop (reference: cc/mrlda/VariationalInference.java:181-394,
   * polylda/VariationalInference.java:330-580). A broadcast model's
   * iteration is one Spark job — the E-step with the per-partition M-step
   * partials, then their keyed merge ([[reduce]]) — instead of one MR job
   * + one merge job + JVM restarts. The corpus it starts from (fresh or
   * resumed) is partitioned once by E-step work ([[partitionsFor]]), hashed
   * by docId and docId-sorted within each partition, and every iteration's
   * doc rows keep that layout, so the folds — and the model — do not depend
   * on the host or on task timing.
   *
   * Scale posture: below `betaBroadcastMaxEntries` beta is collected and
   * broadcast (the reference's DistributedCache path,
   * DocumentMapper.java:116); above it beta stays a distributed table
   * end-to-end and nothing model-sized moves through the driver. With
   * `checkpointDir` set, alpha/beta/gamma snapshot to parquet after every
   * iteration (the reference's alpha-i/beta-i/gamma-i rotation), and a
   * resume re-reads gamma-<i> and partitions it the same way. Between
   * iterations the corpus is the E-step's doc rows, cut from their lineage
   * by a `localCheckpoint` (fast, not fault-tolerant: a lost executor's
   * blocks fail the run, which then resumes from the last snapshot).
   * Alpha takes one Newton update per iteration. Convergence: |ΔLL/LL| ≤
   * `convergence` or `maxIterations` (Settings.java:56,43).
   *
   * The caller's `docs` are read by the count and by the partitioning; if
   * the caller left them uncached, they are cached for those two reads and
   * released after the first iteration.
   */
  def fit[D, R](docs: Dataset[D], model: Model[D, R], cfg: Settings): Fit = {
    val spark = docs.sparkSession
    val shape = model.shape
    val keys = shape.keys
    val k = cfg.numTopics
    def gammaDocs(df: DataFrame): Dataset[D] =
      df.select(shape.docCols.map(col): _*).as[D](shape.docEncoder)

    var alpha = model.alphaInit
    var resumedBeta: Option[DataFrame] = None
    var history = List.empty[Double]
    var startIter = 0
    var source = docs

    cfg.resumeFrom.foreach { case (dir, i) =>
      alpha = LdaCheckpoint.loadAlpha(spark, dir, i)
      // a K mismatch would otherwise surface as an index error in the E-step
      if (alpha.length != k)
        throw new IllegalArgumentException(
          s"cannot resume from $dir iteration $i: the checkpoint has K=${alpha.length} topics, " +
            s"the configuration numTopics=$k")
      resumedBeta = Some(LdaCheckpoint.loadBeta(spark, dir, i))
      // gamma-<i> is the full gamma-annotated corpus — resume reads it
      // directly (the reference resumes from the gamma-i document dir)
      source = gammaDocs(LdaCheckpoint.loadGamma(spark, dir, i))
      history = LdaCheckpoint.loadLlHistory(spark, dir, i).reverse.toList
      startIter = i
    }

    // an uncached source is held until the first iteration has read it
    // into the partitioned corpus: the count and the exchange read it once
    var releaseSource: () => Unit = () => ()
    if (source.storageLevel == StorageLevel.NONE) {
      val held = source.persist(StorageLevel.MEMORY_AND_DISK)
      releaseSource = () => { held.unpersist(blocking = false); releaseSource = () => () }
    }
    val (numDocs, nnz) = countTerms(source, shape)
    // with no document the alpha update divides by zero and training would
    // return NaN alpha and a flat zero likelihood
    if (numDocs == 0)
      throw new IllegalArgumentException("cannot train a topic model on an empty corpus (0 documents)")
    val parts = partitionsFor(numDocs, nnz, k, cfg.localIterations)
    var (corpus, releaseCorpus) = byWork(source, shape, parts)
    // the one place the beta path is chosen. The table path's explode is
    // loop-invariant (gamma rotation never touches counts): materialized
    // once, partitioned by the beta join key, so each iteration's E-step
    // shuffles only the model-sized beta table
    val beta: BetaPath =
      if (k.toLong * model.totalVocab > cfg.betaBroadcastMaxEntries)
        new TableBeta(spark, keys, k, model.smoothing,
          explodeDocs(corpus.toDF(), shape).persist(StorageLevel.MEMORY_AND_DISK), resumedBeta)
      else new BroadcastBeta(spark, keys, k, model.smoothing, resumedBeta)
    var lastLL = history.headOption.getOrElse(0.0)
    var iter = startIter
    var converged = false

    while (iter < cfg.maxIterations && !converged) {
      val alphaBc = spark.sparkContext.broadcast(alpha)
      val estep = EmCore.estep(corpus, shape, alphaBc, beta.supply(), model.vocab,
        Sweeps(cfg.localIterations, cfg.randomStartGamma, learning = true, cfg.seed))

      // M-step + likelihood + alpha sufficient statistics
      val step = beta.mstep(estep.toDF())
      releaseSource()
      val ll = step.ll
      alpha =
        if (model.symmetricAlpha) {
          val a = AlphaUpdate.updateScalarAlpha(k, numDocs, alpha(0), step.ss.sum)
          Array.fill(k)(a)
        } else AlphaUpdate.updateVectorAlpha(k, numDocs, alpha, step.ss)
      history = ll :: history

      // snapshot i+1 after iteration i (the reference's alpha-(i+1)).
      // gamma-<i> holds the FULL gamma-annotated corpus — exactly the
      // reference's layout, where the gamma output dir IS the next
      // iteration's document input (VariationalInference.java:358-379)
      val snapIdx = iter + 1
      cfg.checkpointDir.foreach { dir =>
        LdaCheckpoint.saveAlpha(spark, dir, snapIdx, alpha)
        LdaCheckpoint.saveBeta(beta.rows, dir, snapIdx)
        LdaCheckpoint.saveGamma(step.docs.select(shape.docCols.map(col): _*), dir, snapIdx)
        LdaCheckpoint.saveState(spark, dir, snapIdx, history.reverse)
      }

      // rotate gamma into the corpus for the next iteration's warm start:
      // the doc rows carry the full document, in the corpus's partitions
      // and order, so the next corpus is a projection of them — no
      // per-iteration join or exchange, with or without `checkpointDir`
      // (gamma-<i> holds the same values; only a resume re-reads it).
      // Skipped under randomStartGamma (the E-step would ignore the stored
      // gamma; the reference gates the side-output the same way).
      if (cfg.randomStartGamma) step.release()
      else {
        releaseCorpus()
        corpus = gammaDocs(step.docs)
        releaseCorpus = step.release
      }
      alphaBc.destroy()

      converged = (iter > startIter || cfg.resumeFrom.isDefined) &&
        math.abs((ll - lastLL) / lastLL) <= cfg.convergence
      lastLL = ll
      iter += 1
    }
    // a table model's map is collected once, at the end (callers needing
    // beta bigger than driver memory read the checkpointed beta-<i>
    // parquet instead)
    val betaMap = beta.finish()
    releaseCorpus()
    releaseSource()

    Fit(alpha, betaMap, lastLL, iter, history.reverse)
  }

  /** Seed of held-out inference's random E[log β] for terms the model has
    * never seen. */
  private val InferenceSeed = 42L

  /** Held-out inference (reference D5): frozen model, one map-only E-step;
    * returns per-doc (docId, gamma) and the held-out log-likelihood. */
  def infer[D, R](docs: Dataset[D], shape: DocShape[D, R], alpha: Array[Double],
      beta: BetaSupply, vocab: Int => Int, localIterations: Int): (DataFrame, Double) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val out = estep(docs, shape, spark.sparkContext.broadcast(alpha), beta, vocab,
      Sweeps(localIterations, randomStartGamma = false, learning = false, InferenceSeed))
      .persist(StorageLevel.MEMORY_AND_DISK)
      .toDF().filter($"isDoc")
    (out.select($"docId", $"gamma"), out.agg(sum($"ll")).as[Double].head())
  }
}
