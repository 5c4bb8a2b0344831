package perfbench

/** Order statistics for the report: medians, quartiles and the tail
  * percentile rule every `*_tail_*` metric follows. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (Python's `statistics.quantiles`
    * "inclusive" method), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** A tail figure: the sample value, the percentile it sits at, and the
    * sample count it was taken from. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** Samples that must lie strictly beyond a reported tail percentile. */
  val TailBeyond = 10

  /** The highest percentile that has at least [[TailBeyond]] samples
    * beyond it: in ascending order, the sample at rank n − 10 (1-based),
    * which is percentile 100·(n − 10)/n. None when there are fewer than
    * 11 samples, so no tail is ever reported on too few. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    if (n <= TailBeyond) None
    else {
      val s = xs.sorted
      val rank = n - TailBeyond
      Some(Tail(s(rank - 1), 100.0 * rank / n, n))
    }
  }
}
