package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentile a sample can support: p90 when at least ten
    * samples lie beyond it, else the highest percentile that still has
    * ten beyond it, and never below the median.
    */
  def tailLevel(n: Int): Double =
    if (n <= 0) 0.5 else math.max(0.5, math.min(0.9, 1.0 - 10.0 / n))

  /** `(level, value)` of [[tailLevel]] over `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = tailLevel(xs.size)
    (q, quantile(xs, q))
  }
}
