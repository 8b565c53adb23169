package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `p` of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0.0 && p <= 1.0, s"percentile $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Samples strictly beyond the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** The percentile rule: a percentile is reported only when at least ten
    * samples lie beyond it.
    */
  def supported(n: Int, p: Double): Boolean = beyond(n, p) >= 10

  /** The percentiles the benchmark may report as a tail, highest first. */
  val TailChoices: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest of [[TailChoices]] that `n` samples support, if any. */
  def tailPercentile(n: Int): Option[Double] = TailChoices.find(supported(n, _))
}
