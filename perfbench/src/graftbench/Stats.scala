package graftbench

/** Percentiles under the benchmark's reporting rule: a percentile is
  * reported only when at least ten samples lie beyond it, so p50 needs 20
  * samples and p90 needs 100. */
object Stats {
  val minBeyond = 10

  /** Samples needed before percentile `p` (0 < p < 100) may be reported. */
  def samplesNeeded(p: Double): Int =
    math.ceil(minBeyond * 100.0 / (100.0 - p) - 1e-9).toInt

  /** Nearest-rank percentile, or None when the rule forbids it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.size < samplesNeeded(p)) None
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt.max(1)
      Some(s(rank - 1))
    }

  /** Median without the rule, for small sets of repeated measurements. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Geometric mean of positive values: a factor k on m of n values moves
    * it by k^(m/n), whatever their size next to the others. */
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Least-squares slope of y over x (0 with fewer than two points). */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val n = pts.size.toDouble
      val mx = pts.map(_._1).sum / n
      val my = pts.map(_._2).sum / n
      val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (sxx == 0) 0.0
      else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
}
