package perfbench

/** Order statistics for the benchmark's timings.
  *
  * Percentiles are nearest-rank. A tail percentile is reported only when at
  * least `MinBeyond` samples lie strictly above its rank: with fewer, the
  * value is one or two samples wide and flips from run to run.
  */
object Stats {

  val MinBeyond = 10

  /** 1-based nearest rank of quantile `q` in a sample of `n`. */
  def rank(n: Int, q: Double): Int =
    math.min(n, math.max(1, math.ceil(q * n - 1e-9).toInt))

  /** Nearest-rank percentile, no tail rule (medians and quartiles). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rank(s.size, q) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly beyond the rank of `q` in a sample of `n`. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** Tail percentile under the ten-beyond rule; None when the sample is too
    * small to support it. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty || beyond(xs.size, q) < MinBeyond) None
    else Some(percentile(xs, q))

  /** Length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
