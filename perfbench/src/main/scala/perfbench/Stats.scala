package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  /** Percentile ladder a tail figure is picked from. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Percentile `p` (0-100), linear between order statistics. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Samples strictly beyond percentile `p` of an `n`-sample run. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(n * p / 100.0 - 1e-9).toInt

  /** The highest ladder percentile with at least `minBeyond` samples
    * beyond it, or None when even the median lacks them.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= minBeyond).lastOption

  /** Union length of closed intervals (start, end), in their unit. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `outer` covered by the union of `inner` intervals
    * (each clipped to `outer` first).
    */
  def coveredWithin(outer: (Long, Long), inner: Seq[(Long, Long)]): Long =
    unionLength(inner.map { case (s, e) =>
      (math.max(s, outer._1), math.min(e, outer._2))
    })
}
