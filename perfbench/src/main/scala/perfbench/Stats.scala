package perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** Percentile ladder the tail percentile is picked from. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest ladder percentile with at least `beyond` samples above it
    * among `n` samples, if any. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.filter(p => n * (1.0 - p / 100.0) >= beyond - 1e-9).lastOption

  /** Nearest-rank percentile of `xs` (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Total length of the union of half-open intervals [start, end). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
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

  /** Length of [lo, hi) not covered by any interval (clipped to [lo, hi)). */
  def uncovered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long =
    (hi - lo) - covered(intervals.map { case (s, e) => (s.max(lo), e.min(hi)) })
}
