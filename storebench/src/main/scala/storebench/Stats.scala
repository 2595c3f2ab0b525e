package storebench

/** Summary statistics the report uses. */
object Stats {
  /** Linear-interpolated percentile (p in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail rule: the highest percentile that still has at least
    * `beyond` samples above it, i.e. the value at sorted rank n-1-beyond
    * (0-based), reported with that percentile. None when the sample has
    * no more than `beyond` values.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val rank = s.size - 1 - beyond
      Some((s(rank), 100.0 * rank / (s.size - 1)))
    }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
