package flowbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 0 && p <= 100)
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Samples the tail percentile must leave above it. */
  private val Beyond = 10

  /** The tail percentile for `n` samples: the highest whole percentile
    * with at least 10 samples above its nearest rank, never below the
    * median (so a short run reports p50 rather than a lower rank). */
  def tailPercentile(n: Int): Int =
    math.max(50, math.floor(100.0 * (n - Beyond) / n).toInt)

  /** (percentile, value) of the tail rule over `xs`. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = tailPercentile(xs.length)
    p -> percentile(xs, p)
  }
}
