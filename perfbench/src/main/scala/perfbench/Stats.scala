package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile that still has at least ten samples beyond
    * it: (value, percentile, sample count). Below 21 samples that point
    * would not lie above the median, so the maximum is reported, at 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 21) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def summary(xs: Seq[Double]): Map[String, Any] = Map(
    "n" -> xs.size, "p50" -> median(xs), "p25" -> quantile(xs, 0.25),
    "p75" -> quantile(xs, 0.75), "min" -> (if (xs.isEmpty) 0.0 else xs.min),
    "max" -> (if (xs.isEmpty) 0.0 else xs.max))
}
