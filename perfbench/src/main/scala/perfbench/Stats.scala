package perfbench

/** Pure summary statistics used by the benchmark's reports. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"bad percentile $p")
    xs.sorted.apply(math.max(0, rank(p, xs.length) - 1))
  }

  /** 1-based nearest rank of percentile `p` among `n` samples (the small
    * slack keeps 99.9% of 10 000 at rank 9 990 despite rounding). */
  private def rank(p: Double, n: Int): Int = math.ceil(p * n / 100 - 1e-6).toInt

  /** Percentiles a tail may be reported at, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 90.0, 75.0)

  /** Samples a tail percentile needs beyond it before it is reported. */
  val TailBeyond = 10

  /** The tail of `xs`: the highest percentile in [[TailPercentiles]] that
    * has at least [[TailBeyond]] samples strictly beyond its rank, as
    * (percentile, value). None when the run holds too few samples for
    * any of them — the caller then reports only the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    TailPercentiles.find { p =>
      n > 0 && n - rank(p, n) >= TailBeyond
    }.map(p => (p, percentile(xs, p)))
  }

  /** Total length covered by the union of `[start, end)` intervals,
    * each first clipped to the window `[lo, hi)`. Overlapping intervals
    * count once, so the result never exceeds the window. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Share of the window `[lo, hi)` not covered by any interval: the
    * driver-side gap of a span whose Spark jobs are `intervals`. In
    * [0, 1] by construction, whatever the overlap between jobs. */
  def gapShare(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double =
    if (hi <= lo) 0.0 else 1.0 - unionLength(intervals, lo, hi) / (hi - lo)
}
