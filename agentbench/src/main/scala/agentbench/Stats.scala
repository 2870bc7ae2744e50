package agentbench

/** Summary statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail percentile a sample can support: the highest whole
    * percentile p (at most 99) whose nearest-rank value still has at least
    * ten samples above it. Returns (p, value), or None below 11 samples,
    * where no percentile has ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n < 11) None
    else {
      val p = (99 to 1 by -1).find(p => nearestRank(p, n) <= n - 10).get
      Some(p -> xs.sorted.apply(nearestRank(p, n) - 1))
    }
  }

  /** 1-based nearest-rank index of percentile p among n samples. */
  def nearestRank(p: Int, n: Int): Int =
    math.max(1, math.ceil(p.toDouble * n / 100.0 - 1e-9).toInt)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}
