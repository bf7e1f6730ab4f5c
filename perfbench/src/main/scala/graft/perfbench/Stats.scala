package graft.perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Linear-interpolated quantile (the numpy/`statistics` "inclusive"
    * rule), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean: every sample counts, in proportion to its ratio to
    * the others. Steadier than the median when the samples come from a
    * few operations of quite different cost. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** A tail reading: the percentile chosen (per mille), its value and the
    * sample count it rests on. */
  final case class Tail(perMille: Int, value: Double, n: Int) {
    def label: String =
      if (perMille % 10 == 0) s"p${perMille / 10}" else s"p${perMille / 10.0}"
  }

  /** Candidate tail percentiles, highest first, in per mille. */
  val TailCandidates: Seq[Int] = Seq(999, 990, 950, 900, 750, 500)

  /** Samples ranked strictly above the `perMille` position of `n`. */
  def beyond(n: Int, perMille: Int): Int = n - (n * perMille + 999) / 1000

  /** The highest candidate percentile that has at least 10 samples beyond
    * it (the median when there are fewer than 20 samples). */
  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    val pm = TailCandidates.find(beyond(n, _) >= 10).getOrElse(500)
    Tail(pm, quantile(xs, pm / 1000.0), n)
  }
}
