package perfbench

/** Order statistics and span arithmetic shared by every workload. */
object Stats {

  /** Linear-interpolated quantile (the "R-7" rule numpy and Excel use) of
    * an unsorted sample; NaN for an empty one.
    */
  def quantile(xs: Array[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)

  /** How many samples lie strictly above the q-quantile. */
  def beyond(xs: Array[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }

  /** Total length covered by a set of [start, end) intervals. */
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

  /** A span's self time: its duration minus the part of its own interval
    * that its children cover (children are clipped to the parent).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })
}
