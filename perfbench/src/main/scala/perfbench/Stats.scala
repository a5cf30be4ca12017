package perfbench

/** Order statistics the report uses. Percentiles are nearest-rank:
  * the p-th percentile of n sorted samples is the sample at rank
  * ceil(p/100 * n) (1-based).
  */
object Stats {

  /** Percentiles tried for a tail, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples a tail must leave strictly above it. */
  val MinBeyond = 10

  final case class Tail(pct: Double, value: Double, beyond: Int, n: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** 1-based nearest rank of the p-th percentile among n samples. */
  def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }

  /** The highest ladder percentile that leaves at least [[MinBeyond]]
    * samples beyond it, or None when there are too few samples for any.
    */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.size
    TailLadder.find(p => n - rank(p, n) >= MinBeyond).map { p =>
      Tail(p, percentile(xs, p), n - rank(p, n), n)
    }
  }
}
