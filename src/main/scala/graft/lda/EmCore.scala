package graft.lda

import graft.functions.GammaFuncs.{digamma => dg, logAdd, logGamma}
import graft.functions.{LogSumExpAgg, LseBuf}
import graft.util.Ckpt._
import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

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
 *  - [[DocShape]]: key columns, document/E-step row types, the document as
 *    a primitive [[DocRecord]] and back, and the gamma-<i> snapshot columns;
 *  - [[Smoothing]]: eta (vanilla, informed prior) or the -700 floor
 *    (polylingual);
 *  - [[Model]]: the alpha init, symmetric-alpha update and vocabulary sizes.
 *
 * Broadcast vs shuffle is the [[BetaPath]] that [[fit]] picks once: a
 * broadcast [[PackedBeta]] resolved once per partition against the
 * corpus's primitive [[DocBlock]]s, or the corpus exploded and joined with
 * a distributed beta table ([[BetaSupply]]), feeding the one kernel; and
 * one per-topic M-step tail ([[normalizeTopic]]), run on the driver
 * ([[betaOf]]) or in a keyed reducer ([[topicTail]]).
 */
private[graft] object EmCore {

  def key(lang: Int, termId: Int): Long = (lang.toLong << 32) | (termId.toLong & 0xFFFFFFFFL)
  def langOf(key: Long): Int = (key >>> 32).toInt
  def termOf(key: Long): Int = key.toInt

  /** Flush threshold in (topic, term) entries of the streamed kernel's
    * partition combiner ([[Kernel.run]], the table path): the reference
    * flushes its in-mapper combiner under memory pressure
    * (DocumentMapper.java:263-313, Settings.java:76); the downstream fold
    * re-combines flush chunks. A [[DocBlock]]'s combiner holds K values per
    * distinct key of the partition, no more than the broadcast model, and
    * never flushes. */
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

  /** Where each task gets its terms' E[log β] rows. */
  sealed trait BetaSupply
  /** A broadcast model; a term it lacks takes the seeded random init. */
  final case class Lookup(beta: Broadcast[PackedBeta]) extends BetaSupply
  /** Beta stays a distributed (key columns…, elogbeta ARRAY<DOUBLE>[K])
    * table, joined to the exploded corpus (`exploded`, or [[explodeDocs]]
    * of the docs when None) — the scale path for models too large to
    * broadcast: each task holds only the rows its documents reference. */
  final case class Join(table: DataFrame, exploded: Option[DataFrame]) extends BetaSupply

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

  /** A document flattened for the fixed point, in sweep order: its keys,
    * counts and E[log β] rows (null for a term the model has not seen). A
    * [[DocBlock]]'s document instead names each term by its `slot` in the
    * partition's [[Resolved]] `table`, and has no keys. */
  private[graft] final class Flat(
      val keys: Array[Long], val cnt: Array[Int], val elogbeta: Array[Array[Double]],
      val tokens: Long, val gamma: Option[Array[Double]],
      val slot: Array[Int] = null, val table: Resolved = null)

  /** One [[DocBlock]]'s E-step: the new gammas and each document's LL, in
    * block order, and — when learning — the log φ of each distinct key (K
    * per key, in `distinct` order). */
  private[graft] final class BlockFit(val gamma: Array[Double], val ll: Array[Double], val logphi: Array[Double])

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
    private def fallback(key: Long): Array[Double] = unseen.computeIfAbsent(key, w =>
      EStep.randomElogBeta(k, termOf(w), vocab(langOf(w)), seed ^ (langOf(w).toLong << 17)))

    private def drain(): Vector[R] = {
      val rows = phiAcc.asScala.iterator.map { case (key, arr) => phiRow(key, arr) }.toVector
      phiAcc.clear()
      rows
    }

    /** Doc rows in input order, each partition's phi rows after them (`++`
      * drains the combiner once the documents are done). */
    def run[D](docs: Iterator[(D, Flat)], docRow: (D, Array[Double], Double) => R): Iterator[R] =
      docs.flatMap { case (d, f) =>
        val row = fitDoc(f, docRow(d, _, _))
        if (phiAcc.size.toLong * k > PhiFlushEntries) row +: drain() else Vector(row)
      } ++ drain()

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
        val slot = b.slot.slice(b.offsets(d), b.offsets(d + 1))
        fitDoc(new Flat(null, b.cnt.slice(b.offsets(d), b.offsets(d + 1)), slot.map(table.rows),
          b.tokens(d), Some(b.gammaOf(gamma, d)), slot, table),
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
     * once-per-document method they ran two to four times slower. A block's
     * document copies its shifted rows from the partition's [[Resolved]]
     * table, which holds the same values.
     */
    private final class DocFit(f: Flat) {
      private val nnz = f.cnt.length
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
          if (f.table != null) {
            rowMax(j) = f.table.max(f.slot(j))
            System.arraycopy(f.table.exp, f.slot(j) * k, expBeta, j * k, k)
          } else {
            if (lb(j) == null) lb(j) = fallback(f.keys(j))
            rowMax(j) = shiftRow(lb(j), expBeta, j * k)
          }
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
            val sums = if (f.table != null) f.table.phi
              else phiAcc.computeIfAbsent(f.keys(w), _ => Array.fill(k)(Double.NegativeInfinity))
            val base = if (f.table != null) f.slot(w) * k else 0
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
      case Lookup(bc) =>
        docs.mapPartitions { it =>
          val alpha = alphaBc.value
          val k = alpha.length
          val b = DocBlock(it.map(shape.record), alpha)
          val fit = new Kernel(alpha, sweeps, vocab, phiRow).fitBlock(b, b.gamma, bc.value)
          Iterator.tabulate(b.size)(d => docRow(b.record(d), b.gammaOf(fit.gamma, d), fit.ll(d))) ++
            Option(fit.logphi).iterator.flatMap(lp =>
              b.distinct.indices.iterator.map(s => phiRow(b.distinct(s), lp.slice(s * k, (s + 1) * k))))
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
              val (keys, cnt) = (terms.map(t => key(t.lang, t.termId)).toArray, terms.map(_.cnt).toArray)
              (DocRecord(g.docId, g.tokens, keys, cnt, Array.emptyLongArray, null),
                new Flat(keys, cnt, terms.map(_.elogbeta.orNull).toArray, g.tokens, g.gamma))
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

  /** A packed (key columns…, elogbeta[K]) table as a [[PackedBeta]], on
    * the driver. */
  private def collectPacked(table: DataFrame, keys: Keys, k: Int): PackedBeta = {
    val spark = table.sparkSession
    import spark.implicits._
    PackedBeta.of(table.select(keys.lang, col("termId"), col("elogbeta")).as[(Int, Int, Array[Double])]
      .collect().iterator.map { case (l, w, arr) => key(l, w) -> arr }, k)
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

  /** One partition's M-step partial: log φ of its keys (ascending, K per
    * key) and its Σ ll followed by ss_k = Σ_d ψ(γ_dk) − ψ(Σ_k γ_dk). */
  private[graft] final case class Partial(keys: Array[Long], logphi: Array[Double], stats: Array[Double])

  /** Adds one document's LL and alpha statistics to a partial's `stats`. */
  private def addStats(stats: Array[Double], g: Array[Double], ll: Double): Unit = {
    stats(0) += ll
    val dgSum = dg(g.sum)
    for (i <- g.indices) stats(i + 1) += dg(g(i)) - dgSum
  }

  /** One map partition's share of [[merge]] bound for one reducer: the
    * partition's index, its keys that hash to that reducer with their log
    * φ (K per key, `logphi(j·K + i)` ↔ key j), and — on reducer 0 only —
    * its Σ ll followed by ss. */
  private final case class Block(part: Int, keys: Array[Long], logphi: Array[Double], stats: Array[Double])

  /**
   * The reducer half of a broadcast model's M-step, the reference's
   * reducer behind its in-mapper combiner (DocumentMapper.java:177,
   * 263-339): one job of two stages over one [[Partial]] per partition,
   * which collects only the model.
   *
   * Each partition ships its partial as one [[Block]] per reducer, its
   * keys hashed to reducers. A reducer folds its blocks in partition-index
   * order — λ with [[LseFold]], the statistics summed — so the result never
   * depends on which task finished first or on the shuffle's fetch order
   * (Spark's combiners, `RDD.reduce` and `treeAggregate` merge in arrival
   * order), nor on the number of reducers. The driver merges the reducers'
   * primitive key runs.
   */
  private def merge(partials: RDD[Partial]): Reduced = {
    val reducers = new HashPartitioner(
      math.max(1, math.min(partials.getNumPartitions, partials.sparkContext.defaultParallelism)))
    val n = reducers.numPartitions
    val merged = partials.mapPartitionsWithIndex { (part, ps) =>
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
    }.collect()
    val stats = merged.map(_._3).find(_.nonEmpty).getOrElse(Array(0.0))
    val k = stats.length - 1
    val lambda = PackedBeta.of(merged.iterator.flatMap { case (ks, lps, _) =>
      ks.indices.iterator.map(j => ks(j) -> lps.slice(j * k, (j + 1) * k)) }, k)
    Reduced(stats(0), stats.tail, lambda.keys, lambda.values)
  }

  /** A broadcast model's M-step reduce over E-step rows: each partition's
    * rows fold into one [[Partial]] (a key the kernel flushed
    * mid-partition arrives in several rows), then [[merge]]. */
  def reduce(estep: DataFrame, keys: Keys): Reduced = {
    val at = estep.schema.fieldIndex _
    val (isDoc, gamma, docLl, termId, logphi) =
      (at("isDoc"), at("gamma"), at("ll"), at("termId"), at("logphi"))
    val lang = keys.langCols.headOption.map(at)
    merge(estep.queryExecution.toRdd.mapPartitions { rows =>
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
    })
  }

  /** Smoothing and [[normalizeTopic]] over a broadcast model's λ (`keys`
    * ascending, K values each), one (lang, topic) at a time → the model
    * the next E-step looks up. */
  private[graft] def betaOf(keys: Array[Long], lambda: Array[Double], k: Int,
      smoothing: Smoothing): PackedBeta = {
    val beta = new Array[Double](keys.length * k)
    var a = 0
    while (a < keys.length) {
      val lang = langOf(keys(a))
      var b = a
      while (b < keys.length && langOf(keys(b)) == lang) b += 1
      val v = new Array[Double](b - a)
      for (t <- 0 until k) {
        for (j <- v.indices) v(j) = smoothing(t + 1, termOf(keys(a + j)), lambda((a + j) * k + t))
        normalizeTopic(v)
        for (j <- v.indices) beta((a + j) * k + t) = v(j)
      }
      a = b
    }
    PackedBeta(keys, beta, k)
  }

  /** The broadcast M-step's tail over (lang, topic, termId, log λ) rows:
    * values of one (lang, topic, termId) fold with [[LseFold]], then
    * [[betaOf]]. */
  def finishBetaOnDriver(lambda: Array[(Int, Int, Int, Double)], numTopics: Int,
      smoothing: Smoothing): scala.collection.Map[Long, Array[Double]] = {
    val fold = new LseFold(numTopics)
    lambda.foreach { case (lang, topic, w, v) => fold.add(key(lang, w), topic - 1, v) }
    val (keys, values) = fold.result()
    betaOf(keys, values, numTopics, smoothing).iterator.toMap
  }

  /** One iteration's M-step outcome: corpus LL, alpha statistics, and the
    * blocks' next gamma state, readable until `release`. */
  private final case class Step(ll: Double, ss: Array[Double], gammas: RDD[Array[Double]], release: () => Unit)

  /**
   * A model's beta between EM iterations, held in the form its path looks
   * it up in, together with everything that depends on that form: the
   * iteration's E-step and M-step, the snapshot rows, the resume load (the
   * constructor's checkpointed rows), the final model and the release.
   * [[fit]] picks the path once; its loop never branches on it.
   */
  private sealed trait BetaPath {
    /** One EM iteration over the corpus blocks, gamma warm-started from
      * their gamma state `gammas`; replaces beta with the next one. */
    def step(blocks: RDD[DocBlock], gammas: RDD[Array[Double]], alpha: Array[Double], sweeps: Sweeps): Step
    /** (lang…, topic, termId, elogbeta) rows: the beta-<i> snapshot */
    def rows: DataFrame
    /** the final model; releases the path */
    def finish(): PackedBeta
  }

  /** Beta collected and broadcast as a [[PackedBeta]] (the reference's
    * DistributedCache path, DocumentMapper.java:116). The iteration is one
    * job: each block's E-step emits its new gamma state and its [[Partial]],
    * checkpointed lazily ([[graft.util.Ckpt.RddCkptOps.ckptLazy]]), and
    * [[merge]]'s first stage materializes them while it ships the partials,
    * so the gammas the next iteration reads cost no job of their own; the
    * tail runs on the driver. */
  private final class BroadcastBeta[D, R](spark: SparkSession, model: Model[D, R], k: Int,
      resumed: Option[DataFrame]) extends BetaPath {
    private val keys = model.shape.keys
    private var beta = resumed.fold(PackedBeta(Array.emptyLongArray, Array.emptyDoubleArray, k))(
      rows => collectPacked(packBeta(rows, keys), keys, k))

    def step(blocks: RDD[DocBlock], gammas: RDD[Array[Double]], alpha: Array[Double], sweeps: Sweeps): Step = {
      // the model-sized broadcast is destroyed once its job is done;
      // destroy() is non-blocking in Spark 4, so this adds no latency
      val bc = spark.sparkContext.broadcast(beta)
      val vocab = model.vocab
      val stepped = blocks.zipPartitions(gammas) { (bs, gs) =>
        val b = bs.next()
        val fit = new Kernel[Unit](alpha, sweeps, vocab, (_, _) => ()).fitBlock(b, gs.next(), bc.value)
        val stats = new Array[Double](alpha.length + 1)
        for (d <- 0 until b.size) addStats(stats, b.gammaOf(fit.gamma, d), fit.ll(d))
        Iterator((fit.gamma, Partial(b.distinct, fit.logphi, stats)))
      }.ckptLazy()
      val r = try merge(stepped.map(_._2)) finally bc.destroy()
      beta = betaOf(r.keys, r.lambda, k, model.smoothing)
      Step(r.ll, r.ss, stepped.map(_._1), () => stepped.unpersist(blocking = false))
    }
    def rows: DataFrame =
      betaRows(spark, keys, beta.iterator.map { case (w, arr) => (langOf(w), termOf(w), arr) }.toSeq)
    def finish(): PackedBeta = beta
  }

  /** Beta kept as a distributed (key columns…, elogbeta[K]) table, joined
    * each iteration to the corpus exploded once per run (`exploded`, owned
    * here): the scale path, where nothing model-sized moves through the
    * driver until [[finish]]. Its E-step reads the blocks' documents as a
    * Dataset ([[documents]]) and hands the gammas back as the blocks' next
    * gamma state ([[gammaBlocks]]). */
  private final class TableBeta[D, R](spark: SparkSession, model: Model[D, R], k: Int, parts: Int,
      docs: Dataset[D], resumed: Option[DataFrame]) extends BetaPath {
    private val keys = model.shape.keys
    private val exploded = explodeDocs(docs.toDF(), model.shape).persist(StorageLevel.MEMORY_AND_DISK)
    private var table: DataFrame = resumed.fold(emptyBetaTable(spark, keys))(
      rows => packBeta(rows, keys).persist(StorageLevel.MEMORY_AND_DISK))
    // drops the blocks `table` reads
    private var releaseTable: () => Unit = { val t = table; () => t.unpersist() }

    /** The packed next beta is one localCheckpoint: every E-step join of
      * the next iteration reads it, and it truncates the lineage (a plain
      * persist would nest each iteration's plan inside the next E-step
      * join). The gammas and the ll/alpha statistics come from the held
      * E-step rows in one eager pass ([[gammaStep]]); after that nothing
      * reads the old beta table. */
    def step(blocks: RDD[DocBlock], gammas: RDD[Array[Double]], alpha: Array[Double], sweeps: Sweeps): Step = {
      val alphaBc = spark.sparkContext.broadcast(alpha)
      val held = estep(documents(spark, blocks, gammas, model.shape), model.shape, alphaBc,
        Join(table, Some(exploded)), model.vocab, sweeps).toDF().persist(StorageLevel.MEMORY_AND_DISK)
      val next = packBeta(lambdaToBeta(explodePhi(held, keys), keys, model.smoothing), keys).ckptSer()
      val step = gammaStep(held, parts, k)
      held.unpersist()
      alphaBc.destroy()
      releaseTable()
      releaseTable = () => next.releaseCkpt()
      table = next
      step
    }
    def rows: DataFrame = explodeTopics(table, keys, "elogbeta")
    def finish(): PackedBeta = {
      exploded.unpersist(blocking = false)
      val beta = collectPacked(table, keys, k)
      releaseTable()
      beta
    }
  }

  /** A table model's iteration outcome from its E-step doc rows: the
    * blocks' next gamma state — hashed by docId into the blocks' `parts`
    * partitions and docId-ascending within each, as [[blocksOf]] lays the
    * documents out — computed here, with the corpus LL and alpha
    * statistics summed in that order, then over partitions in index order. */
  private def gammaStep(estep: DataFrame, parts: Int, k: Int): Step = {
    val spark = estep.sparkSession
    import spark.implicits._
    val g = estep.filter(col("isDoc")).select("docId", "gamma", "ll").as[(Long, Array[Double], Double)].rdd
      .keyBy(_._1).partitionBy(new HashPartitioner(parts))
      .mapPartitions { it =>
        val docs = it.map(_._2).toArray.sortBy(_._1)
        val stats = new Array[Double](k + 1)
        docs.foreach { case (_, gamma, ll) => addStats(stats, gamma, ll) }
        Iterator((docs.flatMap(_._2), stats))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    val stats = g.map(_._2).collect().transpose.map(_.sum)
    Step(stats(0), stats.tail, g.map(_._1), () => g.unpersist(blocking = false))
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

  /** The records hash-partitioned by docId into `parts` partitions,
    * docId-ascending within each, as one [[DocBlock]] per partition, and
    * persisted: the first job that reads it runs the exchange. */
  private[graft] def blocksOf(records: RDD[DocRecord], parts: Int, alpha: Array[Double]): RDD[DocBlock] =
    records.keyBy(_.docId).repartitionAndSortWithinPartitions(new HashPartitioner(parts))
      .mapPartitions(rs => Iterator(DocBlock(rs.map(_._2), alpha)))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The blocks' documents carrying the gamma state `gammas`, as the
    * model's Dataset: the gamma-<i> snapshot and the table path's E-step
    * read it. */
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
   * A broadcast model's iteration is one Spark job — each block's E-step
   * with its M-step partial and next gammas, then the partials' keyed
   * merge ([[merge]]) — instead of one MR job + one merge job + JVM
   * restarts. Scale posture: below `betaBroadcastMaxEntries` beta is
   * collected and broadcast as flat arrays (the reference's
   * DistributedCache path, DocumentMapper.java:116); above it beta stays a
   * distributed table end-to-end and nothing model-sized moves through the
   * driver. With `checkpointDir` set, alpha/beta/gamma snapshot to parquet
   * after every iteration (the reference's alpha-i/beta-i/gamma-i
   * rotation; gamma-<i> is the blocks' documents with their gammas), and a
   * resume re-reads gamma-<i> and lays it out the same way. The gamma
   * state is checkpointed locally (fast, not fault-tolerant: a lost
   * executor's blocks fail the run, which then resumes from the last
   * snapshot). Alpha takes one Newton update per iteration. Convergence:
   * |ΔLL/LL| ≤ `convergence` or `maxIterations` (Settings.java:56,43).
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
    val blocks = blocksOf(records, parts, alpha)
    var gammas = blocks.map(_.gamma)
    // the one place the beta path is chosen
    val beta: BetaPath =
      if (k.toLong * model.totalVocab > cfg.betaBroadcastMaxEntries)
        new TableBeta(spark, model, k, parts, documents(spark, blocks, gammas, shape), resumedBeta)
      else new BroadcastBeta(spark, model, k, resumedBeta)
    // what the finished iteration no longer needs: at first the records,
    // which the first iteration's job reads into the blocks
    var release: () => Unit = () => records.unpersist(blocking = false)
    var lastLL = history.headOption.getOrElse(0.0)
    var iter = startIter
    var converged = false

    while (iter < cfg.maxIterations && !converged) {
      // E-step + M-step + likelihood + alpha sufficient statistics
      val step = beta.step(blocks, gammas, alpha,
        Sweeps(cfg.localIterations, cfg.randomStartGamma, learning = true, cfg.seed))
      release()
      release = step.release
      // the next iteration's warm start (the E-step ignores it under
      // randomStartGamma; gamma-<i> holds it either way)
      gammas = step.gammas
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
        LdaCheckpoint.saveGamma(documents(spark, blocks, gammas, shape).toDF()
          .select(shape.docCols.map(col): _*), dir, snapIdx)
        LdaCheckpoint.saveState(spark, dir, snapIdx, history.reverse)
      }

      converged = (iter > startIter || cfg.resumeFrom.isDefined) &&
        math.abs((ll - lastLL) / lastLL) <= cfg.convergence
      lastLL = ll
      iter += 1
    }
    // a table model is collected once, at the end (callers needing beta
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
      val fit = new Kernel[Unit](alpha, sweeps, vocab, (_, _) => ()).fitBlock(b, b.gamma, bc.value)
      lls.add(p -> fit.ll.sum)
      Iterator.tabulate(b.size)(d => (b.docIds(d), b.gammaOf(fit.gamma, d)))
    }.toDF("docId", "gamma").persist(StorageLevel.MEMORY_AND_DISK)
    gamma.count()
    (gamma, lls.value.asScala.sortBy(_._1).map(_._2).sum)
  }
}
