package pipebench

/** Order statistics the benchmark reports. Pure, so the reporting rules
  * are pinned by StatsSpec rather than by eye. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest percentile that still has at least
    * `beyond` samples above it. With n sorted samples that is the value at
    * rank n - beyond (1-based), i.e. the sample with exactly `beyond`
    * samples after it, and its percentile is 100 * (n - beyond) / n.
    * Returns (value, percentile, n); None when n <= beyond. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double, Int)] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some((s(n - beyond - 1), 100.0 * (n - beyond) / n, n))
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its length minus the part of it its children
    * cover (children clipped to the parent, overlaps counted once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
