package perfbench

/** Summary statistics of one op's latency samples. */
object Stats {

  val NamePattern = "[A-Za-z0-9_.-]+"

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail of a sample: the highest percentile p (in whole percent) that
    * still leaves at least ten samples strictly above its rank, read by
    * nearest rank. With fewer than eleven samples no percentile leaves
    * ten beyond it, so the tail is the maximum and p is reported as 100
    * with `tenBeyond = false`. */
  final case class Tail(value: Double, percentile: Int, n: Int,
      tenBeyond: Boolean)

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    // nearest-rank index of percentile p is ceil(p/100 * n) - 1; the
    // samples beyond it number n - 1 - index
    val qualifying = (99 to 1 by -1).find { p =>
      val idx = math.ceil(p / 100.0 * n).toInt - 1
      n - 1 - idx >= 10
    }
    qualifying match {
      case Some(p) =>
        Tail(s(math.ceil(p / 100.0 * n).toInt - 1), p, n, tenBeyond = true)
      case None => Tail(s.last, 100, n, tenBeyond = false)
    }
  }

  /** Total length of the union of [start, end) intervals, clipped to
    * [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Span wall time not covered by any stage-active interval. */
  def driverGap(spanStart: Long, spanEnd: Long,
      stages: Seq[(Long, Long)]): Long =
    (spanEnd - spanStart) - unionLength(stages, spanStart, spanEnd)
}
