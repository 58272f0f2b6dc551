package sinkbench

/** Pure order statistics and interval arithmetic behind the reported
  * metrics. No Spark here, so the self-test can pin them on synthetic
  * inputs. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** `value` is the (beyond+1)-th largest sample: the highest percentile
    * that still has `beyond` samples above it. A run with no more than
    * `beyond` samples has no such percentile and reports its largest.
    * `percentile` is the share of samples at or below `value`, in
    * percent. */
  final case class Tail(value: Double, n: Int, percentile: Double)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val k = if (xs.size > beyond) beyond else 0
    val desc = xs.sorted(Ordering.Double.TotalOrdering.reverse)
    Tail(desc(k), xs.size, 100.0 * (xs.size - k) / xs.size)
  }

  /** Intervals `[start, end]` sorted and merged where they overlap or
    * touch. */
  def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  def unionLength(iv: Seq[(Long, Long)]): Long =
    merge(iv).map { case (a, b) => b - a }.sum

  /** Splits the span `[lo, hi]` among labelled intervals: every instant
    * covered by at least one interval goes in equal shares to the distinct
    * labels covering it; instants no interval covers are the gap. The
    * label shares plus the gap sum to `hi - lo` exactly. */
  def attribute(labelled: Seq[(String, Long, Long)], lo: Long,
                hi: Long): (Map[String, Double], Double) = {
    val ivs = labelled.map { case (l, a, b) => (l, math.max(a, lo), math.min(b, hi)) }
      .filter { case (_, a, b) => b > a }
    val cuts = (Seq(lo, hi) ++ ivs.flatMap { case (_, a, b) => Seq(a, b) })
      .distinct.sorted
    val shares = scala.collection.mutable.Map.empty[String, Double]
    var gap = 0.0
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val owners = ivs.collect { case (l, s, e) if s <= a && e >= b => l }.distinct
      if (owners.isEmpty) gap += (b - a)
      else owners.foreach(l =>
        shares(l) = shares.getOrElse(l, 0.0) + (b - a).toDouble / owners.size)
    }
    (shares.toMap, gap)
  }
}
