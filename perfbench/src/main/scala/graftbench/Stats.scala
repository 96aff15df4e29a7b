package graftbench

/** Order statistics for the reported timings. */
object Stats {

  /** Samples that must lie strictly beyond a percentile before it is
    * reported: fewer, and one outlier moves the figure.
    */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `p`-quantile, or None when fewer than [[MinBeyond]]
    * samples lie beyond it.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val s = xs.sorted
    val rank = math.ceil(p * s.length).toInt // 1-based
    if (s.isEmpty || s.length - rank < MinBeyond) None else Some(s(rank - 1))
  }
}
