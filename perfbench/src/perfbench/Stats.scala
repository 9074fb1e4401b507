package perfbench

/** Percentiles under the benchmark's reporting rule: a percentile is
  * reported only when at least [[MinBeyond]] samples lie beyond it, so
  * a tail figure never rests on a handful of observations. */
object Stats {
  val MinBeyond = 10

  /** 1-based nearest rank of the p-quantile of n samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Samples strictly beyond the p-quantile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The smallest sample count at which the p-quantile is reportable. */
  def samplesNeeded(p: Double): Int =
    Iterator.from(1).find(n => beyond(n, p) >= MinBeyond).get

  /** The nearest-rank p-quantile, or None when fewer than [[MinBeyond]]
    * samples lie beyond it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.isEmpty || beyond(xs.size, p) < MinBeyond) None
    else Some(xs.sorted.apply(rank(xs.size, p) - 1))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
