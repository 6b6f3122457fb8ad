package perfbench

/** Order statistics and timeline arithmetic the metrics are built from. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.length
  }

  /** Samples a tail percentile needs beyond it to be reported. */
  val TailBeyond: Int = 10

  /** The tail sample: the highest percentile that still has at least
    * `beyond` samples above it, i.e. the `(n - beyond)`-th smallest sample.
    * Returns `(value, percentile)`; the percentile is `100 (n - beyond) / n`.
    */
  def tail(xs: Seq[Double], beyond: Int = TailBeyond): (Double, Double) = {
    require(xs.length > beyond, s"a tail needs more than $beyond samples, got ${xs.length}")
    val s = xs.sorted
    val n = s.length
    (s(n - beyond - 1), 100.0 * (n - beyond) / n)
  }

  /** Length of the union of the intervals `[start, end)`, each first clipped
    * to the window `[lo, hi)`.
    */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var runStart = 0L
    var runEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > runEnd) {
        if (runEnd != Long.MinValue) total += runEnd - runStart
        runStart = a
        runEnd = b
      } else runEnd = math.max(runEnd, b)
    }
    if (runEnd != Long.MinValue) total += runEnd - runStart
    total
  }

  /** Time in the window `[lo, hi)` during which no interval is open. */
  def gap(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - covered(intervals, lo, hi)
}
