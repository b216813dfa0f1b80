package perfbench

/** Order statistics for reported timings. Percentiles use the nearest-rank
  * definition; a tail percentile is reported only with at least
  * [[Stats.MinBeyond]] samples above it. */
object Stats {

  /** Samples that must lie above a percentile before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank index (0-based) of the `perMille`-th per-mille of `n` samples. */
  private def rank(n: Int, perMille: Int): Int =
    math.max(0, ((perMille.toLong * n + 999) / 1000).toInt - 1)

  /** The `perMille`-th per-mille (e.g. 990 = p99) by nearest rank. */
  def percentile(xs: Seq[Double], perMille: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(perMille > 0 && perMille <= 1000, s"per-mille out of range: $perMille")
    xs.sorted.apply(rank(xs.length, perMille))
  }

  /** Number of samples strictly above the nearest-rank per-mille. */
  def beyond(n: Int, perMille: Int): Int = n - (rank(n, perMille) + 1)

  /** Fewest samples for which `perMille` has [[MinBeyond]] samples above it. */
  def samplesFor(perMille: Int): Int =
    Iterator.from(1).find(n => beyond(n, perMille) >= MinBeyond).get

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Label such as "p99.9" or "p90" for a per-mille. */
  def label(perMille: Int): String =
    if (perMille % 10 == 0) s"p${perMille / 10}" else s"p${perMille / 10}.${perMille % 10}"
}
