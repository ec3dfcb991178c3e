package graft.perfbench

/** Order statistics used by the harness. */
object Stats {

  /** Samples needed beyond a reported percentile for it to be read as a
    * tail rather than as one or two outliers.
    */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank `p`th percentile's rank. */
  def beyond(n: Int, p: Int): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest of `candidates` that leaves at least [[MinBeyond]]
    * samples beyond it, or None when even the lowest does not.
    */
  def tailPercentile(n: Int, candidates: Seq[Int] = Seq(50, 75, 90, 95, 99)): Option[Int] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= MinBeyond)

  /** Sample count needed before `p` may be reported. */
  def samplesFor(p: Int): Int = Iterator.from(1).find(n => beyond(n, p) >= MinBeyond).get
}
