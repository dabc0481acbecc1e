package graft.perfbench

/** Summary statistics of per-operation samples. */
object Stats {

  /** Samples that must lie strictly above a reported upper percentile. */
  val MinBeyond = 10

  /** Median (mean of the middle two for an even count). Always reported,
    * with its sample count next to it in the run report.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `q` (0 < q < 1) of `xs`, or None when fewer
    * than [[MinBeyond]] samples lie above that rank: a p90 needs at least
    * 100 samples, a p99 at least 1000. An upper percentile read off a
    * handful of samples is its maximum, and moves with a single outlier.
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"percentile $q not in (0,1)")
    val s = xs.sorted
    val n = s.length
    val rank = math.ceil(q * n).toInt // 1-based
    if (n == 0 || n - rank < MinBeyond) None else Some(s(rank - 1))
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
