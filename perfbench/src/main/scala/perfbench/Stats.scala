package perfbench

/** Order statistics and interval arithmetic used by the metrics. */
object Stats {

  /** Percentiles a tail may be reported at, highest last. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples that must lie beyond the reported tail percentile. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  /** The highest ladder percentile that leaves at least [[TailBeyond]]
    * samples strictly beyond its nearest rank, with its value. With too few
    * samples for any rung the median is returned.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    val p = TailLadder.filter { q =>
      n - math.ceil(q / 100.0 * n).toInt >= TailBeyond
    }.lastOption.getOrElse(50.0)
    (p, percentile(xs, p))
  }

  final case class Interval(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
    def clip(outer: Interval): Interval =
      Interval(math.max(start, outer.start), math.min(end, outer.end))
  }

  /** Total length covered by the union of the intervals. */
  def unionLength(xs: Iterable[Interval]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    xs.filter(_.length > 0).toSeq.sortBy(_.start).foreach { i =>
      if (curStart.isNaN || i.start > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = i.start; curEnd = i.end
      } else if (i.end > curEnd) curEnd = i.end
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }
}
