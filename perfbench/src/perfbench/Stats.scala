package perfbench

/** Sample summaries and the one-line JSON result. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, rank(s.length, p) - 1))
  }

  /** 1-based nearest rank of the p-th percentile of n samples. */
  private def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt)

  /** Samples ranked above the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  private val ladder: Seq[Double] = 99.9 +: (99 to 1 by -1).map(_.toDouble)

  /** The highest percentile with at least ten samples beyond it, if any. */
  def tailPercentile(n: Int): Option[Double] = ladder.find(p => beyond(n, p) >= 10)

  final case class Summary(n: Int, median: Double, tail: Option[(Double, Double)]) {
    def render(digits: Int = 4): String = {
      val t = tail.map { case (p, v) => s"  p${fmtP(p)}=${fmt(v, digits)}" }.getOrElse("  (no percentile with 10 beyond)")
      s"median=${fmt(median, digits)}$t  n=$n"
    }
  }

  def summary(xs: Seq[Double]): Summary =
    Summary(xs.length, median(xs), tailPercentile(xs.length).map(p => (p, percentile(xs, p))))

  private def fmtP(p: Double): String = if (p == p.floor) p.toLong.toString else p.toString
  def fmt(v: Double, digits: Int): String = s"%.${digits}g".format(v)

  /** A metric value with its unit; `n` is the sample count behind it. */
  final case class Metric(value: Double, unit: String, n: Int)

  private def jsonNum(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    v.toString
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  /** The result line: exactly correct, attempted, failed and metrics. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) =>
      s"${jsonString(k)}: {\"value\": ${jsonNum(m.value)}, \"unit\": ${jsonString(m.unit)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
