package viewbench

/** Percentiles as the benchmark reports them. */
object Stats {

  /** Nearest-rank `p`-quantile (0 < p < 1) of `xs`. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    require(p > 0 && p < 1, s"quantile $p out of (0, 1)")
    val s = xs.sorted
    s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Distinct values strictly above `q`: copies of one observation count
    * once. */
  def beyond(xs: Seq[Double], q: Double): Int = xs.filter(_ > q).distinct.size

  /** A percentile of a latency is reported only with at least 10 distinct
    * observations beyond it: fewer would make it the reading of one or two
    * outliers, however many copies of them there are. */
  def tail(xs: Seq[Double], p: Double): Double = {
    val q = quantile(xs, p)
    val n = beyond(xs, q)
    require(n >= 10, s"p${p * 100} needs 10 distinct samples beyond it; ${xs.size} samples give $n")
    q
  }
}
