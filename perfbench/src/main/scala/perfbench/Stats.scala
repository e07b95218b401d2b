package perfbench

/** Order statistics used by every reported timing. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the highest percentile that still has at least
    * ten samples strictly above it, with that percentile and n.
    */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** The (n - 10)-th smallest sample: exactly ten samples lie above it,
    * so it is the highest percentile backed by ten samples. A tail is at
    * or above the median, so this needs at least 20 samples; with fewer
    * there is no such percentile and the caller reports the maximum.
    */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.size
    if (n < 20) None
    else Some(Tail(xs.sorted.apply(n - 11), 100.0 * (n - 10) / n, n))
  }
}
