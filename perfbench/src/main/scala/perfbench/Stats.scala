package perfbench

/** Percentiles as the benchmark reports them: nearest rank over the
  * sorted samples. A tail percentile is reported only when at least
  * [[MinBeyond]] samples lie beyond it, so a short run never claims a
  * p90 it cannot support. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile `q` in (0, 100] of `xs`. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 100, s"percentile $q out of range")
    val s = xs.sorted
    s(math.max(0, rank(s.size, q) - 1))
  }

  /** 1-based nearest rank of percentile `q` among `n` samples; the
    * epsilon keeps q·n/100 = 9990.000000000002 at rank 9990. */
  private def rank(n: Int, q: Double): Int = math.ceil(q / 100 * n - 1e-9).toInt

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the nearest-rank `q` position. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** p90 when `xs` supports it. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (beyond(xs.size, 90) >= MinBeyond) Some(percentile(xs, 90)) else None
}
