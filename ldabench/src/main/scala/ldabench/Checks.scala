package ldabench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/**
 * Per-run correctness checks on what the pipeline returned. Each check
 * returns the list of problems found; empty means it passed. There is
 * deliberately no monotone-bound check: iteration 1 is scored against the
 * random-init beta, so the likelihood may fall between iterations 1 and 2.
 */
object Checks {

  val ProportionTolerance = 1e-9

  def model(numTopics: Int, iterations: Int, expectedIterations: Int,
      alpha: Array[Double], elogbeta: Iterator[Array[Double]],
      llHistory: Seq[Double]): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (iterations != expectedIterations)
      out += s"model ran $iterations iterations, configured $expectedIterations"
    if (alpha.length != numTopics) out += s"alpha has ${alpha.length} values, K = $numTopics"
    if (!alpha.forall(a => a > 0 && !a.isInfinite))
      out += s"alpha not finite and > 0: ${alpha.mkString(",")}"
    var rows = 0L
    var bad = 0L
    elogbeta.foreach { arr =>
      rows += 1
      if (arr.length != numTopics || !arr.forall(v => v <= 0 && !v.isInfinite)) bad += 1
    }
    if (rows == 0) out += "beta is empty"
    if (bad > 0) out += s"$bad of $rows beta rows are not K finite values <= 0"
    if (llHistory.length != expectedIterations)
      out += s"ll history has ${llHistory.length} entries, configured $expectedIterations"
    if (!llHistory.forall(v => !v.isNaN && !v.isInfinite))
      out += s"ll history not finite: ${llHistory.mkString(",")}"
    out.result()
  }

  /** (docId, proportion) rows: every document's proportions sum to 1. */
  def proportions(rows: Iterable[(Long, Double)], expectedDocs: Int): Seq[String] = {
    val sums = rows.groupMapReduce(_._1)(_._2)(_ + _)
    val out = Seq.newBuilder[String]
    if (sums.size != expectedDocs) out += s"${sums.size} documents have proportions, expected $expectedDocs"
    val off = sums.filter { case (_, s) => !(math.abs(s - 1.0) <= ProportionTolerance) }
    if (off.nonEmpty) out += s"${off.size} documents' proportions do not sum to 1, e.g. ${off.head}"
    out.result()
  }

  /** Proportions of inferred gamma rows, for callers without a display
    * step of their own. */
  def gammaProportions(rows: Iterable[(Long, Array[Double])]): Iterable[(Long, Double)] =
    rows.flatMap { case (d, g) => val s = g.sum; g.map(x => d -> x / s) }

  def count(what: String, got: Long, expected: Long): Seq[String] =
    if (got == expected) Nil else Seq(s"$what: $got rows, expected $expected")

  def finite(what: String, v: Double): Seq[String] =
    if (v.isNaN || v.isInfinite) Seq(s"$what is not finite: $v") else Nil

  /** Digest of the top terms (scores rounded to 6 places) and the exact
    * likelihood history. Equal across runs of one seed on one tree. */
  def digest(topTerms: Seq[String], llHistory: Seq[Double]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    topTerms.sorted.foreach(t => md.update((t + "\n").getBytes(StandardCharsets.UTF_8)))
    llHistory.foreach(v => md.update((java.lang.Double.toString(v) + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def termLine(fields: Any*): String = fields.map {
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    case x => String.valueOf(x)
  }.mkString("\t")
}
