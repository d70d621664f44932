package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {
  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }

  private val Candidates = Seq(99.9, 99.0, 90.0, 75.0)

  /** The highest of p75/p90/p99/p99.9 that has at least ten samples above
    * it, if any: the tail figure a run of this length can support. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Candidates.find(p => xs.length - math.ceil(p / 100 * xs.length) >= 10)
      .map(p => (p, percentile(xs, p)))

  /** A timing summary: median, supported tail percentile and sample count. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val base = Map[String, Any]("median" -> median(xs), "n" -> xs.length)
    tail(xs).fold(base) { case (p, v) => base ++ Map("tail_p" -> p, "tail" -> v) }
  }
}
