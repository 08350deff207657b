package steadybench

/** Order statistics used for the reported latencies. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency and how it was chosen: `value` is the sample at the
    * `pct` percentile (its empirical CDF position), and `beyond`
    * samples lie above it. */
  final case class Tail(value: Double, pct: Double, beyond: Int, n: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it: sorted ascending, that is the sample at index
    * `n - 1 - minBeyond`. Percentiles higher than that rest on fewer
    * than `minBeyond` samples and move from run to run with one slow
    * op, so the rule trades height for steadiness. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.length > minBeyond,
      s"tail needs more than $minBeyond samples, got ${xs.length}")
    val s = xs.sorted
    val n = s.length
    val i = n - 1 - minBeyond
    Tail(s(i), 100.0 * (i + 1) / n, n - 1 - i, n)
  }
}
