package graft.perfbench

/** Order statistics for the latency report. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size, math.max(1, rank(p, s.size))) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples; the slack
    * keeps 99.9 % of 10000 at rank 9990 despite binary rounding.
    */
  private def rank(p: Double, n: Int): Int = math.ceil(p * n / 100.0 - 1e-9).toInt

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail percentile reported for `n` samples: the highest of
    * 50, 75, 90, 95, 99, 99.9 that leaves at least ten samples above it,
    * or None when even the median does not.
    */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n - rank(p, n) >= 10)

  /** (percentile, value) of the tail report, per `tailPercentile`. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    tailPercentile(xs.size).map(p => p -> percentile(xs, p))
}
