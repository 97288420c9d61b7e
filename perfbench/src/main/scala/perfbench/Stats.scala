package perfbench

/** The summary rules every reported number goes through. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest value with at least `p`% of
    * the values at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** The highest whole percentile that still has at least `beyond`
    * samples above its nearest rank: p75 of 40 samples, p92 of 140.
    * None when there are too few samples for any tail. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 1 by -1).find { p =>
      val rank = math.ceil(p / 100.0 * n).toInt
      rank >= 1 && n - rank >= beyond
    }

  /** Failed operations over attempted ones; 0 when nothing ran. */
  def failRatio(failed: Int, attempted: Int): Double =
    if (attempted == 0) 0.0 else failed.toDouble / attempted

  /** Names whose observed row count differs from the recorded one, or
    * that have no recorded count, or were never observed. */
  def rowCountMismatches(expected: Map[String, Long],
      observed: Map[String, Long]): Seq[String] =
    (expected.keySet ++ observed.keySet).toSeq.sorted
      .filter(k => expected.get(k).isEmpty || expected.get(k) != observed.get(k))
}
