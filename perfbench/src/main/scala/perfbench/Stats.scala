package perfbench

/** Summary statistics over measured samples. */
object Stats {

  /** Nearest-rank percentile, `p` in (0, 100]: the smallest sample with at
    * least p% of the samples at or below it. Always a measured value.
    */
  def pct(xs: Iterable[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.toArray.sorted
    s(math.max(math.ceil(p / 100.0 * s.length).toInt, 1) - 1)
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  def ms(nanos: Long): Double = nanos / 1e6
}
