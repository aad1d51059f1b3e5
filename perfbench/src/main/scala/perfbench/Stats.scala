package perfbench

/** Order statistics the report uses. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the sample value, the percentile it sits at (nearest
    * rank, in percent) and the number of samples it was taken from.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile that still has at least `beyond` samples
    * above it: the (n - beyond)-th smallest of n samples. None when a run
    * has too few samples for such a percentile to exist.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val i = s.size - 1 - beyond
      Some(Tail(s(i), 100.0 * (i + 1) / s.size, s.size))
    }

  /** Length of [from, to] covered by at least one of `intervals`
    * (overlaps count once, parts outside [from, to] not at all).
    */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        val start = math.max(a, reach)
        if (b > start) { total += b - start; reach = b }
      }
    total
  }
}
