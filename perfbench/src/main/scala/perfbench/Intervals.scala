package perfbench

/** Interval arithmetic for stage timelines. Stages of one query overlap
  * (a broadcast build runs beside the stage that consumes it), so the time
  * a query spends with at least one stage active is the length of the
  * union of its stage intervals, not their sum. */
object Intervals {

  /** Length covered by the union of half-open `[start, end)` intervals.
    * Empty or inverted intervals cover nothing. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = 0L
    var curEnd = 0L
    var open = false
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curEnd) {
        if (open) total += curEnd - curStart
        curStart = s; curEnd = e; open = true
      } else if (e > curEnd) curEnd = e
    }
    if (open) total += curEnd - curStart
    total
  }
}
