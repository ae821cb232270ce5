package ldabench

/** Summary statistics of the breakdown line and the metric-name rule of
  * the result line. */
object Stats {

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** A metric name: starts with a letter or digit, at most 64 characters
    * of letters, digits, `_`, `.` and `-`. */
  def validName(name: String): Boolean = NamePattern.matches(name)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p % of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(math.max(rank(p, s.length), 1), s.length) - 1)
  }

  /** 1-based nearest rank of percentile p among n samples; the epsilon
    * keeps 99.9 % of 10000 at rank 9990 despite binary rounding. */
  private def rank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Percentiles a timing may be reported at, highest first. */
  val Reportable: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest reportable percentile that leaves at least ten samples
    * above it, or None when the sample is too small for any. */
  def tailPercentile(n: Int): Option[Double] =
    Reportable.find(p => n - rank(p, n) >= 10)

  /** A timing as the median, the tail percentile the sample supports and
    * the sample count. */
  final case class Summary(median: Double, tail: Option[(Double, Double)], n: Int)

  def summarize(xs: Seq[Double]): Summary =
    Summary(median(xs), tailPercentile(xs.length).map(p => p -> percentile(xs, p)), xs.length)
}
