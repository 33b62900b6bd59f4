package perfbench

/** Summary statistics and span arithmetic. */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  val TailCandidates: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75)

  /** The highest standard tail percentile that leaves at least ten samples
    * beyond it (nearest rank), or None when `n` is too small for any. */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(p => n - math.ceil(p * n).toInt >= 10)

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Children may overlap each other and may stick out
    * of the parent; only the covered part inside the parent counts. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })
}
