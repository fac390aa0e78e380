package graft.perf

/** Summary statistics for the bench records. Pure functions, covered
  * by [[SelfTest]]. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** A latency tail: the `pct`-th percentile (nearest rank), the sample
    * count it came from and how many samples lie beyond it. */
  final case class Tail(pct: Int, value: Double, n: Int, beyond: Int)

  /** The highest whole percentile from p99 down to p50 that leaves at
    * least `minBeyond` samples strictly beyond its nearest-rank
    * position. With too few samples for even p50 the tail is the
    * maximum (pct 100, nothing beyond): the record states which. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.ceil(p * n / 100.0).toInt.max(1)
      (p, rank, n - rank)
    }.find(_._3 >= minBeyond) match {
      case Some((p, rank, beyond)) => Tail(p, s(rank - 1), n, beyond)
      case None => Tail(100, s.last, n, 0)
    }
  }

  /** Total length covered by a set of [start, end) intervals, overlaps
    * counted once. Driver idle time is a window's wall time minus the
    * union of the Spark job intervals inside it. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Clip intervals to a window, for attributing jobs to the time an
    * op was running. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
}
