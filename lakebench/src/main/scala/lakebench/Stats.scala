package lakebench

/** Summary statistics and metric-name rules for the benchmark's output. */
object Stats {

  /** Median of a non-empty sample (mean of the middle two when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail figure: the value at percentile `pct` of a sample of `n`,
    * with `beyond` samples strictly above that rank. */
  final case class Tail(value: Double, pct: Int, n: Int, beyond: Int)

  /** The highest whole percentile that leaves at least `minBeyond`
    * samples beyond it, read by nearest rank. When that percentile
    * would fall below the median (fewer than 2 * minBeyond + 1
    * samples), the maximum is reported as percentile 100 with 0
    * beyond, so the sample count says how little it rests on. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.size
    // rank r (1-based) leaves n - r samples beyond it; the largest
    // percentile p whose nearest rank ceil(p * n / 100) <= n - minBeyond
    val maxRank = n - minBeyond
    val p = (99 to 50 by -1).find(p => math.ceil(p * n / 100.0).toInt <= maxRank)
    p match {
      case None => Tail(s.last, 100, n, 0)
      case Some(p) =>
        val rank = math.ceil(p * n / 100.0).toInt
        Tail(s(rank - 1), p, n, n - rank)
    }
  }

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric and workload names: a letter or digit first, then at most
    * 63 more letters, digits, `_`, `.` or `-`. */
  def validName(name: String): Boolean = NameRe.matches(name)
}
