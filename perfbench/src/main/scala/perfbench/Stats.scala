package perfbench

/** The small pieces of arithmetic every metric rests on, kept pure so
  * the benchmark's own tests can pin them down. */
object Stats {

  /** Nearest-rank percentile `p` in (0, 100]: the smallest sample with
    * at least p% of the samples at or below it. It always returns an
    * observed value, so a workload whose op kinds have well-separated
    * latencies reports the same kind's latency for the same percentile
    * whatever the number of whole blocks a run completed. NaN for an
    * empty sample; failed ops enter as +infinity. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size - 1e-9).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Merge half-open intervals [start, end) into disjoint, sorted ones. */
  def union(intervals: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }

  /** Total length covered by `intervals`, overlaps counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long =
    union(intervals).map { case (a, b) => b - a }.sum

  /** Length of `span` covered by `intervals` (clipped to the span). */
  def covered(span: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    unionLength(intervals.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Children may overlap each other and may spill past
    * the parent; both are handled by clipping and union. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - covered(span, children)
}
