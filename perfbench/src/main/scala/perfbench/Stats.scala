package perfbench

/** Order statistics the benchmark reports. All are observed samples, never
  * interpolations, so a reported time is one that actually happened. */
object Stats {

  /** Lower median (for even sizes, the lower-middle sample). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    s((s.size - 1) / 2)
  }

  /** Samples a tail percentile must leave beyond it to be reported. */
  val TailBeyond = 10

  /** The highest percentile that still has at least [[TailBeyond]] samples
    * strictly beyond it: for n samples that is the (TailBeyond+1)-th largest,
    * at percentile 100·(n − TailBeyond)/n. Returns (percentile, value), or
    * None when there are too few samples for any tail beyond the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    if (n < 2 * TailBeyond + 1) None
    else {
      val s = xs.sorted
      Some((100.0 * (n - TailBeyond) / n, s(n - TailBeyond - 1)))
    }
  }

  /** Least-squares slope of y over x; 0 for fewer than two distinct x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    if (pts.size < 2) return 0.0
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) 0.0 else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}
