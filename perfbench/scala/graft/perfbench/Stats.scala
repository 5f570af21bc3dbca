package graft.perfbench

/** Order statistics with the benchmark's sample-count rule: a timing
  * is reported as its median plus the highest percentile that still
  * has at least [[MinBeyond]] samples beyond it. A tail percentile
  * without that many samples above it is not reported at all. */
object Stats {

  val MinBeyond = 10

  /** Linear-interpolation quantile (the "inclusive" method: q = 0 is
    * the min, q = 1 the max). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Whether percentile `p` (0-100) of `n` samples may be reported:
    * the median always (given a sample), a tail percentile only with
    * at least [[MinBeyond]] samples beyond it. */
  def reportable(p: Double, n: Int): Boolean =
    n > 0 && (p <= 50 || n * (100.0 - p) / 100.0 >= MinBeyond - 1e-9)

  /** Percentile `p` of `xs`, or an error naming the shortfall. */
  def percentile(xs: Seq[Double], p: Double): Either[String, Double] =
    if (reportable(p, xs.size)) Right(quantile(xs, p / 100.0))
    else Left(f"p$p%.1f needs ${math.ceil(MinBeyond * 100.0 / (100.0 - p)).toInt} samples, got ${xs.size}")
}
