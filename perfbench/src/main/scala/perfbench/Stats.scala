package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Percentiles the tail figure may use, highest first. */
  val TailCandidates: Seq[Int] = 99 +: (95 to 50 by -5)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def nearestRank(sorted: IndexedSeq[Double], p: Int): Double = {
    require(sorted.nonEmpty, "no samples")
    sorted(math.max(1, rank(p, sorted.size)) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples, in integer
    * arithmetic (0.9 * 100 is not 90 in floating point). */
  def rank(p: Int, n: Int): Int = (p * n + 99) / 100

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail figure: the highest candidate percentile that has at least
    * `beyond` samples ranked above it. Returns (percentile, value), or
    * None when even the median has fewer than `beyond` samples above. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted.toIndexedSeq
    TailCandidates.find { p =>
      s.nonEmpty && s.size - rank(p, s.size) >= beyond
    }.map(p => p -> nearestRank(s, p))
  }
}
