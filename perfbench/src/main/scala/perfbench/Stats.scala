package perfbench

/** The benchmark's summary rules, kept in one place so the tests pin them. */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least a
    * share `q` of all samples are at or below it. `q = 0.5` of an even
    * count is the lower middle sample.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile rank $q outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Length of the union of half-open intervals `[start, end)`: time in
    * which at least one interval was active. Overlaps count once.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Part of `[start, end)` covered by none of `intervals`: for a query
    * span and its Spark jobs, the time the Spark driver worked with no job
    * running.
    */
  def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
