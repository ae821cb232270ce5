package ldabench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Shape of a generated corpus: one entry per language in `meanLens` and
  * `vocabs`. */
final case class Shape(
    docs: Int,
    meanLens: Seq[Int],
    vocabs: Seq[Int],
    topics: Int,
    /** Every `nullEvery`-th document (by generator index) leaves its
      * second language out, written as the literal `null`; 0 = never. */
    nullEvery: Int = 0) {
  require(meanLens.length == vocabs.length && meanLens.nonEmpty)
  def languages: Int = meanLens.length
  def scaled(docsFactor: Double): Shape = copy(docs = math.max(20, (docs * docsFactor).toInt))
}

/** What the generator wrote: counts the checks and work metrics use. */
final case class CorpusInfo(docs: Int, tokens: Long, heldoutDocs: Int, heldoutTokens: Long)

/**
 * Seeded corpus generator following the LDA generative process. Each
 * planted topic is a Zipf(1) law over its own permutation of the
 * vocabulary, a document's topic mixture is θ ~ Dir(0.1), and its length
 * is uniform in 0.5–1.5× the mean. The lengths are a shuffled, evenly
 * spaced sample of that range, so every seed writes the same number of
 * tokens and timings across seeds differ by content only. Lines use the
 * raw format the corpus parsers read: `title \t text` (one language) or
 * `title \t text0 \t text1`. Titles are `d<index>` zero-padded, so title
 * order is generator order; every 10th document (index % 10 == 0) is
 * held out.
 *
 * Output is byte-identical for one seed: the random stream is
 * SplittableRandom and every transcendental goes through StrictMath.
 */
object Corpora {

  val DirichletConcentration = 0.1
  val HeldoutEvery = 10

  def title(index: Int): String = f"d$index%07d"
  def isHeldout(index: Int): Boolean = index % HeldoutEvery == 0
  def word(lang: Int, id: Int): String = s"${('a' + lang).toChar}${Integer.toString(id, 36)}"

  def write(shape: Shape, seed: Long, file: Path): CorpusInfo = {
    val rng = new SplittableRandom(seed)
    val cdf = shape.vocabs.map(zipfCdf)
    val perms = shape.vocabs.map(v => Array.fill(shape.topics)(permutation(v, rng)))
    val lengths = shape.meanLens.map { mean =>
      permutation(shape.docs, rng).map(j => mean / 2 + (j * (mean + 1L) / shape.docs).toInt)
    }
    var tokens = 0L
    var heldTokens = 0L
    var heldDocs = 0
    Files.createDirectories(file.getParent)
    val out = new BufferedWriter(
      new OutputStreamWriter(Files.newOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try {
      val theta = new Array[Double](shape.topics)
      val sb = new java.lang.StringBuilder(1 << 12)
      var d = 0
      while (d < shape.docs) {
        dirichlet(DirichletConcentration, theta, rng)
        sb.setLength(0)
        sb.append(title(d))
        var lang = 0
        while (lang < shape.languages) {
          sb.append('\t')
          if (lang == 1 && shape.nullEvery > 0 && d % shape.nullEvery == shape.nullEvery - 1)
            sb.append("null")
          else {
            val len = lengths(lang)(d)
            var i = 0
            while (i < len) {
              val z = draw(theta, rng)
              val rank = search(cdf(lang), rng.nextDouble())
              if (i > 0) sb.append(' ')
              sb.append(word(lang, perms(lang)(z)(rank)))
              i += 1
            }
            tokens += len
            if (isHeldout(d)) heldTokens += len
          }
          lang += 1
        }
        if (isHeldout(d)) heldDocs += 1
        sb.append('\n')
        out.append(sb)
        d += 1
      }
    } finally out.close()
    CorpusInfo(shape.docs, tokens, heldDocs, heldTokens)
  }

  private def zipfCdf(v: Int): Array[Double] = {
    val c = new Array[Double](v)
    var acc = 0.0
    var r = 0
    while (r < v) { acc += 1.0 / (r + 1); c(r) = acc; r += 1 }
    r = 0
    while (r < v) { c(r) /= acc; r += 1 }
    c
  }

  /** Smallest index whose cumulative mass exceeds `u`. */
  private def search(cdf: Array[Double], u: Double): Int = {
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) > u) hi = mid else lo = mid + 1
    }
    lo
  }

  private def permutation(n: Int, rng: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  private def draw(p: Array[Double], rng: SplittableRandom): Int = {
    var u = rng.nextDouble()
    var k = 0
    while (k < p.length - 1 && u >= p(k)) { u -= p(k); k += 1 }
    k
  }

  /** Symmetric Dirichlet draw into `out` through normalized gamma draws. */
  private def dirichlet(a: Double, out: Array[Double], rng: SplittableRandom): Unit = {
    var sum = 0.0
    var k = 0
    while (k < out.length) { out(k) = gamma(a, rng); sum += out(k); k += 1 }
    if (sum > 0) { k = 0; while (k < out.length) { out(k) /= sum; k += 1 } }
    else java.util.Arrays.fill(out, 1.0 / out.length)
  }

  /** Marsaglia–Tsang gamma draw; shape < 1 boosts through U^(1/shape). */
  private def gamma(shape: Double, rng: SplittableRandom): Double =
    if (shape < 1) gamma(shape + 1, rng) * StrictMath.pow(rng.nextDouble(), 1.0 / shape)
    else {
      val d = shape - 1.0 / 3
      val c = 1.0 / StrictMath.sqrt(9 * d)
      var result = Double.NaN
      while (result.isNaN) {
        val x = normal(rng)
        val v0 = 1 + c * x
        if (v0 > 0) {
          val v = v0 * v0 * v0
          val u = rng.nextDouble()
          if (StrictMath.log(u) < 0.5 * x * x + d - d * v + d * StrictMath.log(v)) result = d * v
        }
      }
      result
    }

  private def normal(rng: SplittableRandom): Double = {
    val u1 = 1.0 - rng.nextDouble() // (0, 1]
    val u2 = rng.nextDouble()
    StrictMath.sqrt(-2 * StrictMath.log(u1)) * StrictMath.cos(2 * StrictMath.PI * u2)
  }
}
