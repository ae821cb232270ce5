package graft.lda

import graft.functions.GammaFuncs.{digamma => dg, logAdd, logGamma}
import graft.functions.{LogSumExpAgg, LseBuf}
import graft.util.Ckpt._
import org.apache.spark.{HashPartitioner, Partitioner, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/**
 * The variational EM core shared by vanilla and polylingual LDA. Mr.LDA's
 * polylingual mapper is the general case of the vanilla one (it calls the
 * vanilla `updatePhi`, polylda/DocumentMapper.java:245-247), and so is this
 * core: vanilla LDA is polylingual LDA with one language, lang 0. Every term
 * is keyed by a packed (lang, termId) Long.
 *
 * The model-specific parts enter as values, never as branches:
 *  - [[DocShape]]: key columns, document/E-step row types, the document as
 *    a primitive [[DocRecord]] and back, and the gamma-<i> snapshot columns;
 *  - [[Smoothing]]: eta (vanilla, informed prior) or the -700 floor
 *    (polylingual);
 *  - [[Model]]: the alpha init, symmetric-alpha update and vocabulary sizes.
 *
 * One EM iteration serves every model size: each corpus [[DocBlock]]'s
 * E-step ([[Kernel.fitBlock]]) against the β rows of its own keys, and one
 * M-step whose reducers fold λ, smooth it and finish β = ψ(λ) − ψ(Σλ)
 * ([[tail]], [[normalizers]], [[finishBeta]]). Broadcast vs shuffle is only how
 * a block looks its rows up ([[BetaSupply]]): a broadcast [[PackedBeta]]
 * for a small model, or, for a large one, a slice per corpus partition
 * routed from the reducers ([[Slices]]; model slicing, Smola &
 * Narayanamurthy, VLDB 2010). [[fit]] picks the lookup once.
 */
private[graft] object EmCore {

  def key(lang: Int, termId: Int): Long = (lang.toLong << 32) | (termId.toLong & 0xFFFFFFFFL)
  def langOf(key: Long): Int = (key >>> 32).toInt
  def termOf(key: Long): Int = key.toInt

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
      val docCols: Seq[String]) extends Serializable {
    def docEncoder: Encoder[D]
    def rowEncoder: Encoder[R]
    /** the document as primitive arrays, its terms in sweep order
      * ([[terms]]) */
    def record(d: D): DocRecord
    /** the document `r` was made from, carrying `gamma` */
    def document(r: DocRecord, gamma: Option[Array[Double]]): D
    /** an E-step doc row of the document `r` holds */
    def docRow(r: DocRecord, gamma: Array[Double], ll: Double): R
    def phiRow(key: Long, logphi: Array[Double]): R
  }

  /** How the M-step smooths one folded log λ before normalizing:
    * (topic, termId, log λ) → smoothed log λ, applied by the M-step's
    * [[tail]]. */
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

  /** Per-language count maps, languages ascending and each map in its
    * iteration order (the sweep order) → packed keys and counts. */
  def terms(langCounts: Iterable[(Int, Map[Int, Int])]): (Array[Long], Array[Int]) =
    langCounts.iterator.flatMap { case (l, m) => m.iterator.map { case (t, c) => (key(l, t), c) } }.toArray.unzip

  /** One language's count map of a record, built in sweep order (so it
    * iterates like the map the record was made from). */
  def counts(r: DocRecord, lang: Int): Map[Int, Int] =
    r.keys.indices.iterator.filter(j => langOf(r.keys(j)) == lang)
      .map(j => termOf(r.keys(j)) -> r.cnt(j)).toMap

  /** A broadcast model's E[log β]: the packed keys ascending and K values
    * per key (`values(i·K + t)` ↔ key i, topic t+1). Primitive arrays, so
    * the broadcast carries n·(8 + 8K) bytes and a lookup is a binary
    * search. */
  final case class PackedBeta(keys: Array[Long], values: Array[Double], k: Int) {
    def indexOf(key: Long): Int = java.util.Arrays.binarySearch(keys, key)
    def row(i: Int): Array[Double] = java.util.Arrays.copyOfRange(values, i * k, (i + 1) * k)
    def apply(key: Long): Array[Double] = row(indexOf(key))
    def iterator: Iterator[(Long, Array[Double])] = keys.indices.iterator.map(i => keys(i) -> row(i))
  }
  object PackedBeta {
    /** (key, K-array) entries with distinct keys, in any order */
    def of(entries: Iterator[(Long, Array[Double])], k: Int): PackedBeta = {
      val (keys, rows) = entries.toArray.unzip
      val sorted = keys.sorted
      val values = new Array[Double](keys.length * k)
      for (i <- keys.indices) System.arraycopy(rows(i), 0, values, java.util.Arrays.binarySearch(sorted, keys(i)) * k, k)
      PackedBeta(sorted, values, k)
    }
  }

  /** Where each corpus partition gets the E[log β] rows of its keys: a
    * term the rows lack takes the seeded random init. */
  sealed trait BetaSupply {
    /** One lookup per partition of a corpus of `parts` partitions, which
      * the E-step zips with it. Zipped, not captured by the E-step's
      * closure: a checkpointed zip drops its parents and its function, so
      * later jobs over its output do not serialize the model. */
    def per(sc: SparkContext, parts: Int): RDD[PackedBeta]
  }
  /** A broadcast model (the reference's DistributedCache lookup,
    * DocumentMapper.java:116): every partition reads the whole model. */
  final case class Lookup(beta: Broadcast[PackedBeta]) extends BetaSupply {
    def per(sc: SparkContext, parts: Int): RDD[PackedBeta] =
      sc.parallelize(0 until parts, parts).map(_ => beta.value)
  }
  /** One slice of the model per partition ([[slicesFor]]), holding the
    * rows of that partition's keys only: the lookup of a model too large
    * to broadcast. */
  final case class Slices(slices: RDD[PackedBeta]) extends BetaSupply {
    def per(sc: SparkContext, parts: Int): RDD[PackedBeta] = {
      require(slices.getNumPartitions == parts, s"${slices.getNumPartitions} slices for $parts partitions")
      slices
    }
  }

  /** One document as primitive arrays: its packed keys and counts in sweep
    * order, its token total, the model's own fields the core does not read
    * (`meta`, [[DocShape.record]]'s encoding) and its gamma (null: none). */
  private[graft] final case class DocRecord(docId: Long, tokens: Long, keys: Array[Long],
      cnt: Array[Int], meta: Array[Long], gamma: Array[Double])

  /**
   * One corpus partition's documents as primitive arrays, in record order,
   * the layout the E-step keeps resident between passes (MLlib's
   * `OnlineLDAOptimizer`; Smola & Narayanamurthy, VLDB 2010). Document d's
   * terms are entries `offsets(d) until offsets(d + 1)` of `cnt` and `slot`;
   * `slot` indexes the partition's distinct keys, ascending, so a model
   * row is resolved once per partition, not once per (document, term).
   * `gamma` is the block's first gamma state, K per document: a record's
   * own gamma, or the kernel's initial one, α_k + tokens / K.
   */
  private[graft] final class DocBlock(val docIds: Array[Long], val tokens: Array[Long],
      val offsets: Array[Int], val cnt: Array[Int], val distinct: Array[Long], val slot: Array[Int],
      val metaOffsets: Array[Int], val meta: Array[Long], val gamma: Array[Double]) extends Serializable {
    def size: Int = docIds.length

    /** Document d's gamma in a block's gamma state `g` (K per document). */
    def gammaOf(g: Array[Double], d: Int): Array[Double] = { val k = g.length / size; g.slice(d * k, (d + 1) * k) }

    def record(d: Int): DocRecord = DocRecord(docIds(d), tokens(d),
      slot.slice(offsets(d), offsets(d + 1)).map(distinct),
      cnt.slice(offsets(d), offsets(d + 1)), meta.slice(metaOffsets(d), metaOffsets(d + 1)), null)
  }

  private[graft] object DocBlock {
    def apply(records: Iterator[DocRecord], alpha: Array[Double]): DocBlock = {
      val (rs, k) = (records.toArray, alpha.length)
      val keys = rs.flatMap(_.keys)
      val distinct = keys.distinct.sorted
      val gamma = rs.flatMap(r =>
        if (r.gamma != null && r.gamma.length == k) r.gamma else alpha.map(_ + r.tokens.toDouble / k))
      new DocBlock(rs.map(_.docId), rs.map(_.tokens), rs.scanLeft(0)(_ + _.keys.length),
        rs.flatMap(_.cnt), distinct, keys.map(java.util.Arrays.binarySearch(distinct, _)),
        rs.scanLeft(0)(_ + _.meta.length), rs.flatMap(_.meta), gamma)
    }
  }

  /** A partition's distinct keys resolved against β for one E-step, once
    * per key rather than once per (document, term): each key's E[log β]
    * row (the model's, or the seeded random init of a term it has not
    * seen), the row's maximum and its shifted exp row (K per key); and,
    * when learning, the partition's log φ combiner (K per key, −∞ until a
    * document adds to it). */
  private[graft] final class Resolved(val rows: Array[Array[Double]], val max: Array[Double],
      val exp: Array[Double], val phi: Array[Double])

  /** A block's document for the fixed point, in sweep order: its counts
    * and each term's `slot` in the partition's [[Resolved]] `table`. */
  private final class Flat(val cnt: Array[Int], val slot: Array[Int], val table: Resolved,
      val tokens: Long, val gamma: Array[Double])

  /** One [[DocBlock]]'s E-step: the new gammas and each document's LL, in
    * block order, and — when learning — the log φ of each distinct key (K
    * per key, in `distinct` order). */
  private[graft] final class BlockFit(val gamma: Array[Double], val ll: Array[Double], val logphi: Array[Double])

  /**
   * The per-partition E-step (reference semantics:
   * cc/mrlda/DocumentMapper.java:180-260, polylda/DocumentMapper.java:185-305):
   * per document, the gamma/phi fixed point over every language's terms
   * against that language's beta, the document log-likelihood, and the
   * partition-level phi combiner — K log-space phi sums per distinct key of
   * the block (slot i ↔ topic i+1), the reference's in-mapper combiner
   * (DocumentMapper.java:263-339) generalized to whole-partition combining.
   */
  private[graft] final class Kernel(alpha: Array[Double], sweeps: Sweeps, vocab: Int => Int) {
    import sweeps._
    private val k = alpha.length
    // L_α = lnΓ(Σα) − Σ lnΓ(α_k), added once per document
    // (reference DocumentMapper.java:121-126)
    private val likelihoodAlpha = logGamma(alpha.sum) - alpha.map(logGamma).sum
    private val unseen = new java.util.HashMap[Long, Array[Double]]()

    private def anchor(v: Double, dp: Int): Double =
      if (dp > 0) BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble else v

    /** Random init for a term absent from the model, cached per partition. */
    private def fallback(key: Long): Array[Double] = unseen.computeIfAbsent(key, w =>
      EStep.randomElogBeta(k, termOf(w), vocab(langOf(w)), seed ^ (langOf(w).toLong << 17)))

    private def resolve(keys: Array[Long], beta: PackedBeta): Resolved = {
      val rows = keys.map { w => val i = beta.indexOf(w); if (i < 0) fallback(w) else beta.row(i) }
      val exp = new Array[Double](keys.length * k)
      new Resolved(rows, Array.tabulate(keys.length)(s => shiftRow(rows(s), exp, s * k)), exp,
        if (learning) Array.fill(keys.length * k)(Double.NegativeInfinity) else null)
    }

    /** The E-step over one block against `beta`, gamma warm-started from
      * the block's gamma state `gamma` ([[DocBlock.gammaOf]]). */
    def fitBlock(b: DocBlock, gamma: Array[Double], beta: PackedBeta): BlockFit = {
      val table = resolve(b.distinct, beta)
      val gammas = new Array[Double](b.size * k)
      val ll = Array.tabulate(b.size) { d =>
        fitDoc(new Flat(b.cnt.slice(b.offsets(d), b.offsets(d + 1)),
          b.slot.slice(b.offsets(d), b.offsets(d + 1)), table, b.tokens(d), b.gammaOf(gamma, d)),
          (g, l) => { System.arraycopy(g, 0, gammas, d * k, k); l })
      }
      new BlockFit(gammas, ll, table.phi)
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
     * once-per-document method they ran two to four times slower. A
     * document copies its shifted rows from the partition's [[Resolved]]
     * table.
     */
    private final class DocFit(f: Flat) {
      private val nnz = f.cnt.length
      private val cnt = f.cnt
      private val lb = f.slot.map(f.table.rows)
      // sweep-invariant, resolved once: each term's maximum m_w, ln(count)
      // and eb_wk (term-major, at w·K + k)
      private val rowMax = new Array[Double](nnz)
      private val logCnt = new Array[Double](nnz)
      private val expBeta = new Array[Double](nnz * k)
      locally {
        var j = 0
        while (j < nnz) {
          rowMax(j) = f.table.max(f.slot(j))
          System.arraycopy(f.table.exp, f.slot(j) * k, expBeta, j * k, k)
          logCnt(j) = math.log(cnt(j).toDouble)
          j += 1
        }
      }

      val gamma: Array[Double] =
        if (randomStartGamma) Array.tabulate(k)(i => alpha(i) + f.tokens.toDouble / k) else f.gamma.clone()
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
        * into the partition combiner in document order: it starts at −∞,
        * and logAdd(−∞, x) = x, so the first document writes its value. */
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
            val sums = f.table.phi
            val base = f.slot(w) * k
            i = 0
            while (i < k) { sums(base + i) = logAdd(sums(base + i), scratch(i)); i += 1 }
          }
          w += 1
        }
        likelihoodPhi
      }
    }

    private def fitDoc[T](f: Flat, row: (Array[Double], Double) => T): T = {
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

  /** One E-step over `docs`, each partition fitted as one [[DocBlock]] in
    * the caller's partitions, against the rows `beta` supplies it: doc rows
    * (updated gamma, document LL) in record order and, when learning, the
    * block's phi rows, one per distinct key, keys ascending. */
  def estep[D, R](docs: Dataset[D], shape: DocShape[D, R], alphaBc: Broadcast[Array[Double]],
      beta: BetaSupply, vocab: Int => Int, sweeps: Sweeps): Dataset[R] = {
    implicit val tag: ClassTag[R] = shape.rowEncoder.clsTag
    val (docRow, phiRow) = (shape.docRow _, shape.phiRow _)
    val records = docs.rdd.map(shape.record)
    val lookups = beta.per(records.sparkContext, records.getNumPartitions)
    docs.sparkSession.createDataset(records.zipPartitions(lookups) { (rs, ls) =>
      val alpha = alphaBc.value
      val k = alpha.length
      val b = DocBlock(rs, alpha)
      val fit = new Kernel(alpha, sweeps, vocab).fitBlock(b, b.gamma, ls.next())
      Iterator.tabulate(b.size)(d => docRow(b.record(d), b.gammaOf(fit.gamma, d), fit.ll(d))) ++
        Option(fit.logphi).iterator.flatMap(lp =>
          b.distinct.indices.iterator.map(s => phiRow(b.distinct(s), lp.slice(s * k, (s + 1) * k))))
    })(shape.rowEncoder)
  }

  // ---- model slicing ----

  /** (key, partition) for each distinct key of each partition, given the
    * keys of its documents: the routing [[Slices]] send β rows by. It
    * depends only on the counts, so [[fit]] builds it once per run. */
  def routing(keys: RDD[Array[Long]]): RDD[(Long, Int)] =
    keys.mapPartitionsWithIndex((p, ks) => ks.flatMap(_.iterator).distinct.map(_ -> p))

  /** One reducer's share of the routing table: its keys ascending, and for
    * key j the corpus partitions `parts(offsets(j) until offsets(j + 1))`
    * that hold it. */
  private final class Route(val keys: Array[Long], val offsets: Array[Int], val parts: Array[Int])
      extends Serializable

  /** The routing hashed to the M-step's reducers: reducer r holds the
    * route of each key it folds. */
  private def routes(routing: RDD[(Long, Int)], reducers: Partitioner): RDD[Route] =
    routing.partitionBy(reducers).mapPartitions { it =>
      val byKey = it.toArray.groupBy(_._1)
      val keys = byKey.keys.toArray
      java.util.Arrays.sort(keys)
      val parts = keys.map(w => byKey(w).map(_._2))
      Iterator(new Route(keys, parts.scanLeft(0)(_ + _.length), parts.flatten))
    }

  /**
   * β held by the reducers — one [[PackedBeta]] run of its keys per
   * reducer, co-partitioned with `route` — sent to the `parts` corpus
   * partitions that hold each key: one slice per partition, the rows of
   * its own keys. A key β lacks is left out, so the E-step takes its
   * random init, as with a broadcast model that lacks it.
   */
  private def sliced(beta: RDD[PackedBeta], route: RDD[Route], parts: Int, k: Int): RDD[PackedBeta] =
    beta.zipPartitions(route) { (bs, rs) =>
      val (b, r) = (bs.next(), rs.next())
      val out = new java.util.HashMap[Int, (mutable.ArrayBuilder[Long], mutable.ArrayBuilder[Double])]()
      for (j <- r.keys.indices; i = b.indexOf(r.keys(j)) if i >= 0; x <- r.offsets(j) until r.offsets(j + 1)) {
        val (ks, vs) = out.computeIfAbsent(r.parts(x), _ => (Array.newBuilder[Long], Array.newBuilder[Double]))
        ks += r.keys(j)
        vs.addAll(b.values, i * k, k)
      }
      out.asScala.iterator.map { case (p, (ks, vs)) => p -> PackedBeta(ks.result(), vs.result(), k) }
    }.partitionBy(new HashPartitioner(parts))
      .mapPartitions(chunks => Iterator(PackedBeta.of(chunks.flatMap(_._2.iterator), k)))

  /** (key, K-array) rows as one [[PackedBeta]] run per reducer. */
  private def runs(beta: RDD[(Long, Array[Double])], reducers: Partitioner, k: Int): RDD[PackedBeta] =
    beta.partitionBy(reducers).mapPartitions(rows => Iterator(PackedBeta.of(rows, k)))

  /** `beta`'s (key, K-array) rows as [[Slices]] for the `parts` partitions
    * that `routing` describes. */
  def slicesFor(routing: RDD[(Long, Int)], parts: Int, beta: RDD[(Long, Array[Double])], k: Int): Slices = {
    val reducers = new HashPartitioner(routing.getNumPartitions)
    Slices(sliced(runs(beta, reducers, k), routes(routing, reducers), parts, k))
  }

  /** `beta` as [[Slices]] for the partitions of `docs` that [[estep]]
    * fits. */
  def slicesFor[D](docs: Dataset[D], shape: DocShape[D, _], beta: RDD[(Long, Array[Double])], k: Int): Slices = {
    val rdd = docs.rdd
    slicesFor(routing(rdd.map(shape.record(_).keys)), rdd.getNumPartitions, beta, k)
  }

  // ---- M-step ----

  /** K-array phi rows (one row per key with `logphi(i)` ↔ topic i+1) →
    * scalar (lang…, topic, termId, logphi) rows; the per-key value
    * multiset is unchanged. */
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

  /** β runs as (lang…, topic, termId, elogbeta) rows: the beta-<i>
    * snapshot. */
  private def rowsOf(spark: SparkSession, beta: RDD[PackedBeta], keys: Keys): DataFrame = {
    import spark.implicits._
    beta.flatMap(b => b.keys.indices.iterator.flatMap { j =>
      (0 until b.k).iterator.map(t => (langOf(b.keys(j)), t + 1, termOf(b.keys(j)), b.values(j * b.k + t)))
    }).toDF("lang", "topic", "termId", "elogbeta").select(keys.lambda.map(col) :+ col("elogbeta"): _*)
  }

  /** Checkpointed (lang…, topic, termId, elogbeta) rows as β runs, one per
    * reducer. */
  private def loadRuns(rows: DataFrame, keys: Keys, reducers: Partitioner, k: Int): RDD[PackedBeta] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(keys.lang, col("topic"), col("termId"), col("elogbeta")).as[(Int, Int, Int, Double)].rdd
      .map { case (l, t, w, e) => (key(l, w), (t, e)) }
      .groupByKey(reducers)
      .mapPartitions(it => Iterator(PackedBeta.of(it.map { case (w, te) =>
        val row = new Array[Double](k)
        te.foreach { case (t, e) => row(t - 1) = e }
        w -> row
      }, k)))
  }

  /**
   * Per packed key, K [[graft.functions.LogSumExpAgg]] buffers, each
   * reduced in the order its values arrive: the λ fold. [[reduce]] folds
   * one partition's E-step rows into one, and a reducer folds the
   * partitions' partials of its keys in partition-index order.
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

    /** The keys, sorted as primitive Longs — (lang, termId) order — and
      * their finished log λ, K per key in that order. */
    def result(): (Array[Long], Array[Double]) = {
      val keys = bufs.keySet.asScala.toArray
      java.util.Arrays.sort(keys)
      (keys, keys.flatMap(w => bufs.get(w).map(lse.finish)))
    }
  }

  /** The M-step input merged on the driver: corpus LL, alpha statistics
    * (K = `ss.length`) and log λ for each key, keys ascending. */
  final case class Reduced(ll: Double, ss: Array[Double], keys: Array[Long], lambda: Array[Double])

  /** One partition's M-step partial: log φ of its keys (ascending, K per
    * key) and its Σ ll followed by ss_k = Σ_d ψ(γ_dk) − ψ(Σ_k γ_dk). */
  private[graft] final case class Partial(keys: Array[Long], logphi: Array[Double], stats: Array[Double])

  /** Adds one document's LL and alpha statistics to a partial's `stats`. */
  private def addStats(stats: Array[Double], g: Array[Double], ll: Double): Unit = {
    stats(0) += ll
    val dgSum = dg(g.sum)
    for (i <- g.indices) stats(i + 1) += dg(g(i)) - dgSum
  }

  /** One map partition's share of [[fold]] bound for one reducer: the
    * partition's index, its keys that hash to that reducer with their log
    * φ (K per key, `logphi(j·K + i)` ↔ key j), and — on reducer 0 only —
    * its Σ ll followed by ss. */
  private final case class Block(part: Int, keys: Array[Long], logphi: Array[Double], stats: Array[Double])

  /**
   * The reducer half of the M-step's λ fold, the reference's reducer
   * behind its in-mapper combiner (DocumentMapper.java:177, 263-339): one
   * [[Partial]] per partition in, per reducer its keys ascending, their
   * log λ (K per key) and — on reducer 0 — Σ ll and ss out.
   *
   * Each partition ships its partial as one [[Block]] per reducer, its
   * keys hashed to reducers. A reducer folds its blocks in partition-index
   * order — λ with [[LseFold]], the statistics summed — so no value
   * depends on which task finished first or on the shuffle's fetch order
   * (Spark's combiners, `RDD.reduce` and `treeAggregate` merge in arrival
   * order). Each key's λ does not depend on the number of reducers either.
   */
  private def fold(partials: RDD[Partial], reducers: Partitioner)
      : RDD[(Array[Long], Array[Double], Array[Double])] = {
    val n = reducers.numPartitions
    partials.mapPartitionsWithIndex { (part, ps) =>
      ps.flatMap { p =>
        val k = if (p.keys.isEmpty) 0 else p.logphi.length / p.keys.length
        val (ks, lps) = (Array.fill(n)(Array.newBuilder[Long]), Array.fill(n)(Array.newBuilder[Double]))
        for (j <- p.keys.indices) {
          val r = reducers.getPartition(p.keys(j))
          ks(r) += p.keys(j)
          lps(r).addAll(p.logphi, j * k, k)
        }
        Iterator.tabulate(n)(r => r -> Block(part, ks(r).result(), lps(r).result(), if (r == 0) p.stats else Array.empty))
      }
    }.partitionBy(reducers).mapPartitions { it =>
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
      val (ks, lambda) = Option(fold).fold((Array.emptyLongArray, Array.emptyDoubleArray))(_.result())
      Iterator((ks, lambda, stats))
    }
  }

  /** The λ fold over E-step rows, merged on the driver: each partition's
    * rows fold into one [[Partial]], then [[fold]] with one reducer per
    * partition. */
  def reduce(estep: DataFrame, keys: Keys): Reduced = {
    val at = estep.schema.fieldIndex _
    val (isDoc, gamma, docLl, termId, logphi) =
      (at("isDoc"), at("gamma"), at("ll"), at("termId"), at("logphi"))
    val lang = keys.langCols.headOption.map(at)
    val partials = estep.queryExecution.toRdd.mapPartitions { rows =>
      var fold: LseFold = null
      var stats = Array.empty[Double] // Σ ll, then ss
      rows.foreach { row =>
        if (row.getBoolean(isDoc)) {
          val g = row.getArray(gamma).toDoubleArray()
          if (stats.isEmpty) stats = new Array[Double](g.length + 1)
          addStats(stats, g, row.getDouble(docLl))
        } else {
          val lp = row.getArray(logphi).toDoubleArray()
          if (fold == null) fold = new LseFold(lp.length)
          fold.addRow(key(lang.fold(0)(row.getInt), row.getInt(termId)), lp, 0)
        }
      }
      val (ks, lps) = Option(fold).fold((Array.emptyLongArray, Array.emptyDoubleArray))(_.result())
      Iterator(Partial(ks, lps, stats))
    }
    val merged = fold(partials, new HashPartitioner(math.max(1, partials.getNumPartitions))).collect()
    val stats = merged.map(_._3).find(_.nonEmpty).getOrElse(Array(0.0))
    val k = stats.length - 1
    val lambda = PackedBeta.of(merged.iterator.flatMap { case (ks, lps, _) =>
      ks.indices.iterator.map(j => ks(j) -> lps.slice(j * k, (j + 1) * k)) }, k)
    Reduced(stats(0), stats.tail, lambda.keys, lambda.values)
  }

  /** One reducer's M-step tail: its keys ascending, ψ(λ_w) of each key's
    * smoothed λ (K per key), for each language among its keys the partial
    * normaliser log Σ_w λ_w per topic over its keys in key order (K per
    * language), and its share of Σ ll and ss. */
  private[graft] final case class Tail(keys: Array[Long], psi: Array[Double], langs: Array[Int],
      lognorm: Array[Double], stats: Array[Double])

  /** Smoothing, ψ and the partial normalisers over one reducer's folded
    * log λ (`keys` ascending, K values each). */
  private[graft] def tail(keys: Array[Long], lambda: Array[Double], k: Int, smoothing: Smoothing,
      stats: Array[Double]): Tail = {
    val psi = new Array[Double](keys.length * k)
    val (langs, norms) = (Array.newBuilder[Int], Array.newBuilder[Double])
    var j = 0
    while (j < keys.length) {
      val lang = langOf(keys(j))
      val norm = Array.fill(k)(Double.NegativeInfinity)
      while (j < keys.length && langOf(keys(j)) == lang) {
        for (t <- 0 until k) {
          val v = smoothing(t + 1, termOf(keys(j)), lambda(j * k + t))
          norm(t) = logAdd(norm(t), v)
          psi(j * k + t) = dg(math.exp(v))
        }
        j += 1
      }
      langs += lang
      norms ++= norm
    }
    Tail(keys, psi, langs.result(), norms.result(), stats)
  }

  /** ψ(Σ_w λ_w) per language and topic from the reducers' partial
    * normalisers, log-added in reducer-index order. With one reducer this
    * is the sequential sum over all keys in key order. */
  private[graft] def normalizers(parts: Iterable[(Array[Int], Array[Double])], k: Int): Map[Int, Array[Double]] = {
    val total = mutable.Map.empty[Int, Array[Double]]
    for ((langs, norms) <- parts; i <- langs.indices) {
      val t = total.getOrElseUpdate(langs(i), Array.fill(k)(Double.NegativeInfinity))
      for (j <- 0 until k) t(j) = logAdd(t(j), norms(i * k + j))
    }
    total.map { case (l, t) => l -> t.map(x => dg(math.exp(x))) }.toMap
  }

  /** The one function that finishes β, E[log β_w] = ψ(λ_w) − ψ(Σ_w λ_w)
    * (the reference's reducer, TermReducer.java:134-238), over one tail's
    * keys: on the driver for a broadcast model, in the reducers for a
    * sliced one. */
  private[graft] def finishBeta(t: Tail, psiNorm: Map[Int, Array[Double]], k: Int): PackedBeta = {
    val beta = new Array[Double](t.keys.length * k)
    for (j <- t.keys.indices) {
      val n = psiNorm(langOf(t.keys(j)))
      for (i <- 0 until k) beta(j * k + i) = t.psi(j * k + i) - n(i)
    }
    PackedBeta(t.keys, beta, k)
  }

  /** The M-step's reducers: [[fold]], then each reducer's [[tail]]. */
  private def tails(partials: RDD[Partial], reducers: Partitioner, k: Int, smoothing: Smoothing): RDD[Tail] =
    fold(partials, reducers).map { case (ks, lambda, stats) => tail(ks, lambda, k, smoothing, stats) }

  /** Σ ll, then ss, from the tails (reducer 0 carries them). */
  private def statsOf(stats: Iterable[Array[Double]], k: Int): Array[Double] =
    stats.find(_.nonEmpty).getOrElse(new Array[Double](k + 1))

  /** The M-step's tail over a broadcast model's λ (`keys` ascending, K
    * values each) on the driver, as one reducer → the model the next
    * E-step looks up. */
  private[graft] def betaOf(keys: Array[Long], lambda: Array[Double], k: Int,
      smoothing: Smoothing): PackedBeta = {
    val t = tail(keys, lambda, k, smoothing, Array.empty)
    finishBeta(t, normalizers(Seq(t.langs -> t.lognorm), k), k)
  }

  /** The M-step's tail over (lang, topic, termId, log λ) rows: values of
    * one (lang, topic, termId) fold with [[LseFold]], then [[betaOf]]. */
  def finishBetaOnDriver(lambda: Array[(Int, Int, Int, Double)], numTopics: Int,
      smoothing: Smoothing): scala.collection.Map[Long, Array[Double]] = {
    val fold = new LseFold(numTopics)
    lambda.foreach { case (lang, topic, w, v) => fold.add(key(lang, w), topic - 1, v) }
    val (keys, values) = fold.result()
    betaOf(keys, values, numTopics, smoothing).iterator.toMap
  }

  /**
   * The M-step over scalar (lang…, topic, termId, logphi) φ rows
   * ([[explodePhi]]): each partition's rows fold into one [[Partial]] in
   * row order, and the reducers ([[reducersFor]] the rows) finish β as a
   * sliced model's do. Returns (lang…, topic, termId, elogbeta) rows.
   */
  def mstepRows(phi: DataFrame, keys: Keys, smoothing: Smoothing): DataFrame = {
    val spark = phi.sparkSession
    import spark.implicits._
    val sizes = phi.agg(max(col("topic")), count(lit(1))).head()
    val k = sizes.getInt(0)
    val partials = phi.select(keys.lang, col("topic"), col("termId"), col("logphi"))
      .as[(Int, Int, Int, Double)].rdd.mapPartitions { rows =>
        val fold = new LseFold(k)
        rows.foreach { case (l, t, w, v) => fold.add(key(l, w), t - 1, v) }
        val (ks, lps) = fold.result()
        Iterator(Partial(ks, lps, Array.empty))
      }
    val ts = tails(partials, new HashPartitioner(reducersFor(sizes.getLong(1), partials.getNumPartitions)), k,
      smoothing)
    val psiNorm = normalizers(ts.map(t => (t.langs, t.lognorm)).collect(), k)
    rowsOf(spark, ts.map(finishBeta(_, psiNorm, k)), keys)
  }

  /**
   * How [[fit]] holds β between iterations for the lookup it picked: the
   * E-step's [[BetaSupply]], the next β from an iteration's M-step tails,
   * the beta-<i> snapshot rows and the final model. An iteration is one
   * job either way: its E-step, then the reducers' [[tails]], whose
   * normalisers (and, for a broadcast model, β) reach the driver.
   */
  private sealed trait BetaLookup {
    def supply(): BetaSupply
    /** β from one iteration's tails, computed here; returns Σ ll, then ss */
    def next(tails: RDD[Tail]): Array[Double]
    /** (lang…, topic, termId, elogbeta) rows: the beta-<i> snapshot */
    def rows: DataFrame
    /** the final model; releases what the lookup holds */
    def finish(): PackedBeta
  }

  /** A small model, collected and broadcast as a [[PackedBeta]] (the
    * reference's DistributedCache path, DocumentMapper.java:116): the
    * tails reach the driver, which adds the normalisers and finishes β. */
  private final class Broadcasted(spark: SparkSession, keys: Keys, k: Int,
      resumed: Option[RDD[PackedBeta]]) extends BetaLookup {
    private var beta = resumed.fold(PackedBeta(Array.emptyLongArray, Array.emptyDoubleArray, k))(
      r => PackedBeta.of(r.collect().iterator.flatMap(_.iterator), k))
    private var bc: Broadcast[PackedBeta] = _

    def supply(): BetaSupply = { bc = spark.sparkContext.broadcast(beta); Lookup(bc) }
    def next(tails: RDD[Tail]): Array[Double] = {
      // the model-sized broadcast is destroyed once its job is done;
      // destroy() is non-blocking in Spark 4, so this adds no latency
      val ts = try tails.collect() finally bc.destroy()
      val psiNorm = normalizers(ts.map(t => (t.langs, t.lognorm)), k)
      beta = PackedBeta.of(ts.iterator.flatMap(finishBeta(_, psiNorm, k).iterator), k)
      statsOf(ts.map(_.stats), k)
    }
    def rows: DataFrame = rowsOf(spark, spark.sparkContext.parallelize(Seq(beta), 1), keys)
    def finish(): PackedBeta = beta
  }

  /** A large model, held by the reducers as one β run each: only the
    * per-(lang, topic) normalisers and the statistics reach the driver;
    * the reducers finish β and send each key's row to the corpus
    * partitions whose blocks hold it (`route`, built once per run), and
    * the next E-step zips each block with its slice. The model reaches the
    * driver once, at [[finish]]. */
  private final class Sliced(spark: SparkSession, keys: Keys, k: Int, parts: Int, route: RDD[Route],
      reducers: Int, resumed: Option[RDD[PackedBeta]]) extends BetaLookup {
    private val sc = spark.sparkContext
    private var beta: RDD[PackedBeta] = resumed.getOrElse(
      sc.parallelize(Seq.fill(reducers)(PackedBeta(Array.emptyLongArray, Array.emptyDoubleArray, k)), reducers))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the tails `beta` is finished from
    private var held: Option[RDD[Tail]] = None

    private def release(): Unit = { beta.unpersist(blocking = false); held.foreach(_.unpersist(blocking = false)) }

    def supply(): BetaSupply = Slices(sliced(beta, route, parts, k))
    def next(tails: RDD[Tail]): Array[Double] = {
      val ts = tails.persist(StorageLevel.MEMORY_AND_DISK)
      val sums = ts.map(t => (t.langs, t.lognorm, t.stats)).collect()
      val psiNorm = normalizers(sums.map(s => (s._1, s._2)), k)
      release()
      held = Some(ts)
      val topics = k
      beta = ts.map(finishBeta(_, psiNorm, topics)).persist(StorageLevel.MEMORY_AND_DISK)
      statsOf(sums.map(_._3), k)
    }
    def rows: DataFrame = rowsOf(spark, beta, keys)
    def finish(): PackedBeta = {
      val model = PackedBeta.of(beta.collect().iterator.flatMap(_.iterator), k)
      release()
      route.unpersist(blocking = false)
      model
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
      /** Σ_l V_l: K × this above `betaBroadcastMaxEntries` takes the sliced lookup */
      totalVocab: Long)

  /** A trained model: E[log β] over topics per packed (lang, termId). */
  final case class Fit(
      alpha: Array[Double],
      beta: PackedBeta,
      logLikelihood: Double,
      iterations: Int,
      llHistory: Seq[Double])

  /** E-step work (φ updates, sweeps and [[FoldSweeps]]) one corpus
    * partition is sized to carry: about 10 ms of one core at the rate
    * measured below. */
  private[graft] val WorkPerTask = 1L << 22
  /** A broadcast iteration's work per (term, topic) outside the sweeps —
    * resolving the partition's keys, the final logs, the φ combiner, the
    * partial and its shuffle write, the gamma checkpoint — counted in
    * sweeps. Measured as the intercept over the slope of one map task's CPU
    * time in the second iteration against the sweep count (1, 10, 25, 50,
    * 75, 100; 400 documents of 156 distinct terms, K = 20, one core of a
    * 4-core Xeon VM; medians of 11 repetitions): 102 ms plus 4.1 ms per
    * sweep, 25 sweeps, 1.6 µs per (document, term); a second run beside a
    * compile gave 28. Rows decoded and checkpointed per document made it
    * 49 sweeps (3.3 µs) in the same window. */
  private[graft] val FoldSweeps = 25

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

  /** (key, topic) entries of the partials one M-step reducer is sized to
    * fold. At 2^17, `ap_dense` (Σ nnz · K = 456,240) runs 4 reducers. The
    * measured `train_s` medians (3 untraced 15-s ldabench runs per side,
    * seeds 1–3, alternated in one window on a 4-core VM) were 0.473 s on
    * `ap_dense` and 0.518 s on `poly_ingest` at 2^17, against 0.490 and
    * 0.505 s at 2^18 and 0.500 and 0.557 s with one reducer per core
    * (4): the same within the runs' spread. */
  private[graft] val FoldPerReducer = 1L << 17

  /**
   * The M-step's reducer count for `entries` (key, topic) partial entries
   * over `parts` partitions ([[fit]] counts Σ nnz · K, an upper bound: a
   * partition's partial holds each of its distinct keys once): one per
   * [[FoldPerReducer]], at least one, at most one per partition. A function
   * of the data and the settings only, never of the host's cores: β's
   * normaliser is log-added per reducer, then over reducers in index order
   * ([[normalizers]]), so the model depends on this count.
   */
  def reducersFor(entries: Long, parts: Int): Int =
    math.max(1L, math.min(parts.toLong, math.ceil(entries.toDouble / FoldPerReducer).toLong)).toInt

  /** The records hash-partitioned by docId into `parts` partitions,
    * docId-ascending within each, as one [[DocBlock]] per partition, and
    * persisted: the first job that reads it runs the exchange. */
  private[graft] def blocksOf(records: RDD[DocRecord], parts: Int, alpha: Array[Double]): RDD[DocBlock] =
    records.keyBy(_.docId).repartitionAndSortWithinPartitions(new HashPartitioner(parts))
      .mapPartitions(rs => Iterator(DocBlock(rs.map(_._2), alpha)))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The blocks' documents carrying the gamma state `gammas`, as the
    * model's Dataset: the gamma-<i> snapshot. */
  private[graft] def documents[D, R](spark: SparkSession, blocks: RDD[DocBlock],
      gammas: RDD[Array[Double]], shape: DocShape[D, R]): Dataset[D] = {
    implicit val tag: ClassTag[D] = shape.docEncoder.clsTag
    spark.createDataset(blocks.zipPartitions(gammas) { (bs, gs) =>
      val (b, g) = (bs.next(), gs.next())
      Iterator.tabulate(b.size)(d => shape.document(b.record(d), Some(b.gammaOf(g, d))))
    })(shape.docEncoder)
  }

  /**
   * EM driver loop (reference: cc/mrlda/VariationalInference.java:181-394,
   * polylda/VariationalInference.java:330-580).
   *
   * The corpus it starts from (fresh, or gamma-<i> on resume) is read once
   * into primitive [[DocRecord]]s, counted, and laid out once by E-step
   * work ([[partitionsFor]]): hashed by docId and docId-sorted within each
   * partition, one persisted [[DocBlock]] per partition. The blocks never
   * change; the loop state is one gamma array per partition, zipped with
   * its block. So the folds — and the model — do not depend on the host or
   * on task timing, and no document row is encoded, checkpointed or
   * decoded inside the loop.
   *
   * Every iteration is the same Spark job — each block's E-step against
   * the β rows its [[BetaSupply]] gives it, emitting its next gammas and
   * its M-step [[Partial]], then the keyed fold and tail of
   * [[reducersFor]] reducers ([[tails]]) — instead of one MR job + one
   * merge job + JVM restarts. Only the lookup differs: up to
   * `betaBroadcastMaxEntries` β is finished on the driver and broadcast as
   * flat arrays (the reference's DistributedCache path,
   * DocumentMapper.java:116); above it the reducers finish β and route
   * each block its slice, and only L·K normalisers per reducer reach the
   * driver. Both lookups give bit-identical models. With `checkpointDir`
   * set, alpha/beta/gamma snapshot to parquet after every iteration (the
   * reference's alpha-i/beta-i/gamma-i rotation; gamma-<i> is the blocks'
   * documents with their gammas), and a resume re-reads gamma-<i> and lays
   * it out the same way. The gamma state is checkpointed locally (fast, not
   * fault-tolerant: a lost executor's blocks fail the run, which then
   * resumes from the last snapshot). Alpha takes one Newton update per
   * iteration. Convergence: |ΔLL/LL| ≤ `convergence` or `maxIterations`
   * (Settings.java:56,43).
   *
   * The caller's `docs` are read once; the records are held until the
   * first iteration has built the blocks from them.
   */
  def fit[D, R](docs: Dataset[D], model: Model[D, R], cfg: Settings): Fit = {
    val spark = docs.sparkSession
    val shape = model.shape
    val k = cfg.numTopics

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
      source = LdaCheckpoint.loadGamma(spark, dir, i).select(shape.docCols.map(col): _*)
        .as[D](shape.docEncoder)
      history = LdaCheckpoint.loadLlHistory(spark, dir, i).reverse.toList
      startIter = i
    }

    val records = source.rdd.map(shape.record).persist(StorageLevel.MEMORY_AND_DISK)
    val (numDocs, nnz) =
      records.map(r => (1L, r.cnt.length.toLong)).fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    // with no document the alpha update divides by zero and training would
    // return NaN alpha and a flat zero likelihood
    if (numDocs == 0) {
      records.unpersist(blocking = false)
      throw new IllegalArgumentException("cannot train a topic model on an empty corpus (0 documents)")
    }
    val parts = partitionsFor(numDocs, nnz, k, cfg.localIterations)
    val reducers = new HashPartitioner(reducersFor(nnz * k, parts))
    val blocks = blocksOf(records, parts, alpha)
    var gammas = blocks.map(_.gamma)
    val resumed = resumedBeta.map(loadRuns(_, shape.keys, reducers, k))
    // the one place the lookup is chosen
    val beta: BetaLookup =
      if (k.toLong * model.totalVocab > cfg.betaBroadcastMaxEntries)
        new Sliced(spark, shape.keys, k, parts,
          routes(routing(blocks.map(_.distinct)), reducers).persist(StorageLevel.MEMORY_AND_DISK),
          reducers.numPartitions, resumed)
      else new Broadcasted(spark, shape.keys, k, resumed)
    // what the finished iteration no longer needs: at first the records,
    // which the first iteration's job reads into the blocks
    var release: () => Unit = () => records.unpersist(blocking = false)
    var lastLL = history.headOption.getOrElse(0.0)
    var iter = startIter
    var converged = false

    while (iter < cfg.maxIterations && !converged) {
      // E-step + M-step + likelihood + alpha sufficient statistics: each
      // block's E-step emits its new gamma state and its partial,
      // checkpointed lazily ([[graft.util.Ckpt.RddCkptOps.ckptLazy]]), and
      // the M-step's first stage materializes them while it ships the
      // partials, so the gammas the next iteration reads cost no job of
      // their own
      val (a, vocab) = (alpha, model.vocab)
      val sweeps = Sweeps(cfg.localIterations, cfg.randomStartGamma, learning = true, cfg.seed)
      val stepped = blocks.zipPartitions(gammas, beta.supply().per(spark.sparkContext, parts)) {
        (bs, gs, ls) =>
          val (b, g) = (bs.next(), gs.next())
          val fit = new Kernel(a, sweeps, vocab).fitBlock(b, g, ls.next())
          val stats = new Array[Double](k + 1)
          for (d <- 0 until b.size) addStats(stats, b.gammaOf(fit.gamma, d), fit.ll(d))
          Iterator((fit.gamma, Partial(b.distinct, fit.logphi, stats)))
      }.ckptLazy()
      val stats = beta.next(tails(stepped.map(_._2), reducers, k, model.smoothing))
      release()
      release = () => stepped.unpersist(blocking = false)
      // the next iteration's warm start (the E-step ignores it under
      // randomStartGamma; gamma-<i> holds it either way)
      gammas = stepped.map(_._1)
      val ll = stats(0)
      alpha =
        if (model.symmetricAlpha) {
          val a = AlphaUpdate.updateScalarAlpha(k, numDocs, alpha(0), stats.tail.sum)
          Array.fill(k)(a)
        } else AlphaUpdate.updateVectorAlpha(k, numDocs, alpha, stats.tail)
      history = ll :: history

      // snapshot i+1 after iteration i (the reference's alpha-(i+1)).
      // gamma-<i> holds the FULL gamma-annotated corpus — exactly the
      // reference's layout, where the gamma output dir IS the next
      // iteration's document input (VariationalInference.java:358-379)
      val snapIdx = iter + 1
      cfg.checkpointDir.foreach { dir =>
        LdaCheckpoint.saveAlpha(spark, dir, snapIdx, alpha)
        LdaCheckpoint.saveBeta(beta.rows, dir, snapIdx)
        LdaCheckpoint.saveGamma(documents(spark, blocks, gammas, shape).toDF()
          .select(shape.docCols.map(col): _*), dir, snapIdx)
        LdaCheckpoint.saveState(spark, dir, snapIdx, history.reverse)
      }

      converged = (iter > startIter || cfg.resumeFrom.isDefined) &&
        math.abs((ll - lastLL) / lastLL) <= cfg.convergence
      lastLL = ll
      iter += 1
    }
    // a sliced model is collected once, at the end (callers needing beta
    // bigger than driver memory read the checkpointed beta-<i> parquet
    // instead)
    val packed = beta.finish()
    release()
    blocks.unpersist(blocking = false)

    Fit(alpha, packed, lastLL, iter, history.reverse)
  }

  /** Seed of held-out inference's random E[log β] for terms the model has
    * never seen. */
  private val InferenceSeed = 42L

  /** Held-out inference (reference D5): frozen model, one map-only E-step
    * over the documents as blocks, in the caller's partitions. Returns the
    * (docId, gamma) rows, cached — the caller drops them with `unpersist` —
    * and the held-out log-likelihood, both from that one pass: each
    * partition's LL is summed in document order, then the partitions in
    * index order. The model's broadcast stays with the rows' lineage. */
  def infer[D, R](docs: Dataset[D], shape: DocShape[D, R], alpha: Array[Double],
      beta: PackedBeta, vocab: Int => Int, localIterations: Int): (DataFrame, Double) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(beta)
    val lls = spark.sparkContext.collectionAccumulator[(Int, Double)]("held-out LL")
    val sweeps = Sweeps(localIterations, randomStartGamma = false, learning = false, InferenceSeed)
    val gamma = docs.rdd.map(shape.record).mapPartitionsWithIndex { (p, rs) =>
      val b = DocBlock(rs, alpha)
      val fit = new Kernel(alpha, sweeps, vocab).fitBlock(b, b.gamma, bc.value)
      lls.add(p -> fit.ll.sum)
      Iterator.tabulate(b.size)(d => (b.docIds(d), b.gammaOf(fit.gamma, d)))
    }.toDF("docId", "gamma").persist(StorageLevel.MEMORY_AND_DISK)
    gamma.count()
    (gamma, lls.value.asScala.sortBy(_._1).map(_._2).sum)
  }
}
