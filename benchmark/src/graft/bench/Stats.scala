package graft.bench

/** Order statistics for the benchmark report. Quantiles interpolate
  * linearly between order statistics (the "type 7" rule most tools use).
  */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Distance between the first and third quartile. */
  def iqr(xs: Seq[Double]): Double = quantile(xs, 0.75) - quantile(xs, 0.25)

  /** The highest whole percentile that leaves at least ten samples beyond
    * it, floored at the median: returns (percentile, value). With fewer
    * than twenty samples the floor applies and fewer than ten lie beyond;
    * the report states n so that case is visible.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = math.max(50, math.min(99, math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt))
    (p, quantile(xs, p / 100.0))
  }
}

/** A sample summarised the way the report prints it. */
final case class Summary(median: Double, iqr: Double, n: Int)

object Summary {
  def of(xs: Seq[Double]): Summary = Summary(Stats.median(xs), Stats.iqr(xs), xs.size)
}
