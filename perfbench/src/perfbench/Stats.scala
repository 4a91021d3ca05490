package perfbench

/** Order statistics and interval arithmetic used by every report. */
object Stats {

  /** Percentile `p` (0-100) by linear interpolation between closest ranks
    * (the definition numpy and `statistics.quantiles(method="inclusive")`
    * use). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A tail percentile is reported only when at least `min` samples lie
    * beyond its rank; below that it is noise from a handful of points. */
  def supported(n: Int, p: Double, min: Int = 10): Boolean =
    n - math.ceil(n * p / 100.0 - 1e-9).toInt >= min

  /** Total length covered by possibly overlapping [start, end) intervals,
    * each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (curB == Long.MinValue) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (curB != Long.MinValue) total += curB - curA
    total
  }
}
