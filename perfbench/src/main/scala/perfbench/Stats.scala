package perfbench

/** Order statistics and interval arithmetic used by every metric. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile (p in (0, 100]): the smallest sample with at
    * least p% of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  /** The percentile rule: a percentile is reportable only when at least
    * [[MinBeyond]] samples lie strictly above its rank, so p90 needs 100
    * samples and p99 needs 1000.
    */
  def supports(n: Int, p: Double): Boolean =
    n - math.ceil(p / 100.0 * n).toInt >= MinBeyond

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Length of `[start, end)` covered by the union of `intervals`. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long =
    unionLength(intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) })

  /** Self time of a span: its duration minus the part of it that its child
    * spans cover. Children that overlap each other are counted once.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)
}
