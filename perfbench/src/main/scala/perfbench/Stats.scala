package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Median; requires at least one sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 100), refused unless at least
    * ten samples lie beyond it: a tail figure resting on fewer is one or
    * two outliers, not a percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p < 100, s"percentile $p out of range")
    val n = xs.size
    val rank = math.ceil(p / 100 * n).toInt max 1
    val beyond = n - rank
    require(beyond >= 10,
      s"p$p of $n samples has only $beyond beyond it (need at least 10)")
    xs.sorted.apply(rank - 1)
  }

  /** The highest of the usual tail percentiles with at least ten samples
    * beyond it, as (p, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 50.0).find(p => xs.size - math.ceil(p / 100 * xs.size) >= 10)
      .map(p => p -> percentile(xs, p))
}
