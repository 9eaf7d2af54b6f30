package graftbench

/** The benchmark's metric math. Pure functions over plain numbers, so
  * [[SelfCheck]] can pin each one on synthetic inputs before any run
  * trusts it.
  */
object Stats {

  /** Lower median: the middle element, or the lower of the two middle
    * elements for an even count. Always an observed value.
    */
  def lowerMedian(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    s((s.size - 1) / 2)
  }

  /** The tail: the highest percentile that still has at least
    * `beyond` samples above it, i.e. the (n - beyond)-th order
    * statistic. Returns (value, percentile, samples). With too few
    * samples to leave `beyond` above anything, the tail falls back to
    * the lower median (percentile 50) so it never reads below it.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val i = n - 1 - beyond
    val med = (n - 1) / 2
    if (i < med) (s(med), 100.0 * (med + 1) / n, n)
    else (s(i), 100.0 * (i + 1) / n, n)
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    val s = spans.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    s.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of [start, end) not covered by any of `spans` (clipped
    * to the window): the driver-only share when `spans` are Spark jobs.
    */
  def uncovered(start: Long, end: Long, spans: Seq[(Long, Long)]): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
    (end - start) - unionLength(clipped)
  }

  /** Index of the newest source file a trigger has consumed, given the
    * row count of each file in admission order and the trigger's
    * cumulative input rows. -1 when no file is complete yet.
    */
  def newestFile(fileRows: IndexedSeq[Long], cumulativeRows: Long): Int = {
    var acc = 0L
    var i = 0
    while (i < fileRows.size && acc + fileRows(i) <= cumulativeRows) {
      acc += fileRows(i); i += 1
    }
    i - 1
  }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { sp =>
      val cs = kids.getOrElse(sp.id, Nil).map(c => (c.start, c.end))
      sp.id -> Stats.uncovered(sp.start, sp.end, cs)
    }.toMap
  }
}
