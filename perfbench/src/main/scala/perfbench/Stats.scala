package perfbench

/** Summary statistics the harness reports. Kept free of Spark so the unit
  * tests can pin them directly.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  val TailCandidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** The highest candidate percentile that has at least `beyond` samples
    * strictly above its rank, as (percentile, value); None when even the
    * median has fewer than `beyond` samples beyond it.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    TailCandidates.find { p =>
      val rank = math.ceil(p / 100.0 * xs.length).toInt
      xs.length - rank >= beyond
    }.map(p => (p, percentile(xs, p)))

  /** A span's duration minus the part of it that its children cover.
    * Children may overlap each other and may stick out of the parent;
    * only their union inside [start, end] is subtracted.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}
