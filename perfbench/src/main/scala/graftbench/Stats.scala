package graftbench

/** The benchmark's own arithmetic: percentiles, quartiles and the
  * union of job intervals behind every `driver_gap_*` figure. */
object Stats {
  /** Nearest-rank percentile: the smallest sample with at least a share
    * `p` of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1))
  }

  /** The middle sample, or the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole-percent percentile that leaves at least
    * `beyond` samples above its rank; the median when no percentile at
    * or above it does. */
  def tailPercentile(n: Int, beyond: Int = 10): Double = {
    val p = (99 to 50 by -1).find(q => n - math.ceil(q * n / 100.0 - 1e-9) >= beyond)
    p.getOrElse(50) / 100.0
  }

  /** Geometric mean: every sample weighs the same in relative terms. */
  def geoMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** First quartile, median and third quartile. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) =
    (percentile(xs, 0.25), median(xs), percentile(xs, 0.75))

  /** Total length covered by a set of [start, end] intervals, each
    * first clipped to [lo, hi]; overlapping intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time not covered by any job: driver-side planning,
    * scheduling and bookkeeping between and around the jobs. */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(jobs, start, end)
}
