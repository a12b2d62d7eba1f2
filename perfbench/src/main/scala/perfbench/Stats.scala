package perfbench

/** The order statistics behind every number the benchmark reports. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** First and third quartile, computed exactly as Python's
    * `statistics.quantiles(xs, n=4)` (its default "exclusive" method), so
    * the spread the benchmark reports is the spread a reader recomputes.
    */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val s = xs.sorted.toIndexedSeq
    val m = s.length + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), s.length - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(3))
  }

  /** Nearest-rank percentile of an ascending sample: the smallest value
    * with at least `p` percent of the sample at or below it.
    */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(math.max(rank, 1), sorted.length) - 1)
  }

  /** The highest percentile that still has `beyond` samples above it,
    * as (percentile, value). With n samples that is the value of rank
    * n - beyond, at percentile 100 * (n - beyond) / n. None when the
    * sample is too small for any percentile to qualify.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val s = xs.sorted.toIndexedSeq
      val rank = n - beyond
      Some((100.0 * rank / n, s(rank - 1)))
    }
  }
}
