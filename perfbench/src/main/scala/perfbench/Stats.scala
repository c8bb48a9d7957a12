package perfbench

/** The benchmark's arithmetic, kept pure so the tests pin it. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it: the sample at sorted index n-beyond-1, labelled with the
    * share of samples at or below it. None when there are too few
    * samples to leave `beyond` of them in the tail.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val i = n - beyond - 1
      Some(((i + 1) * 100 / n, xs.sorted.apply(i)))
    }
  }

  /** Length of the part of [from, to] covered by the union of the
    * given intervals (overlaps counted once).
    */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
