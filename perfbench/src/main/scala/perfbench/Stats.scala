package perfbench

/** Order statistics used by every workload's report. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the percentile, its value and the sample size. */
  final case class Tail(pct: Double, value: Double, n: Int)

  /** Percentile ladder the tail rule climbs, highest first. */
  val Ladder: Seq[Double] = Seq(99.99, 99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples that must lie beyond a reported tail percentile. */
  val MinBeyond = 10

  /** Nearest-rank percentile: the smallest sample with at least
    * `pct` percent of the sample at or below it. */
  def percentile(sorted: IndexedSeq[Double], pct: Double): Double =
    sorted(rankOf(sorted.length, pct) - 1)

  private def rankOf(n: Int, pct: Double): Int =
    math.max(1, math.ceil(pct / 100.0 * n - 1e-9).toInt)

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * strictly beyond its rank; None when even the median lacks them. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    Ladder.find(p => n - rankOf(n, p) >= MinBeyond)
      .map(p => Tail(p, percentile(s, p), n))
  }
}
