package graft.perfbench

object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of a non-empty
    * sample, the definition numpy and Python's `statistics` "inclusive"
    * method share. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The percentiles a tail may be reported at, highest last. */
  val Ladder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest ladder percentile with at least ten samples beyond it,
    * or None when even the median has fewer (fewer than 20 samples). */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => n * (100 - p) / 100.0 >= 10.0 - 1e-9).lastOption
}
