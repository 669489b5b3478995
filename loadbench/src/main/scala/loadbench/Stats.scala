package loadbench

/** The arithmetic that turns samples into reported numbers. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Percentiles a report may quote, lowest first. */
  val Percentiles: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9)

  /** The highest percentile with at least `beyond` samples above it, if
    * any: n samples support the p-th percentile when n * (1 - p/100) >=
    * beyond. With fewer than 2 * beyond samples not even the median
    * qualifies; the median is still reported, with its sample count.
    */
  def highestSupported(n: Int, beyond: Int = 10): Option[Double] =
    Percentiles.filter(p => n * (1 - p / 100) >= beyond - 1e-9).lastOption

  /** Least-squares slope of ys on xs; 0 when xs do not vary. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    require(xs.size == ys.size && xs.nonEmpty, "slope needs paired samples")
    val mx = xs.sum / xs.size
    val my = ys.sum / ys.size
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0) 0.0
    else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}
