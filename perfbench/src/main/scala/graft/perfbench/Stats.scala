package graft.perfbench

/** Pure helpers behind the benchmark's figures, unit-tested in StatsSpec. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** First, second and third quartile by the same rule as Python's
    * `statistics.quantiles(xs, n=4)` (the default "exclusive" method), so
    * spreads computed here and by a Python reader of the results agree.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val d = xs.sorted.toIndexedSeq
    val ld = d.length
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** Length of the union of `intervals`, each clipped to `[lo, hi]`.
    * Open intervals (end < 0: a job that never reported its end) run to
    * `hi`. A span's driver gap is its wall minus the union of its jobs.
    */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(if (e < 0) hi else e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
