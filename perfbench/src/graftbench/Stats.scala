package graftbench

/** Order statistics and interval arithmetic used by the metrics. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest value with at least p% of
    * the sample at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"bad percentile $p of ${xs.size}")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size / 100.0).toInt - 1))
  }

  /** The highest whole percentile of an n-sample that still has at least
    * `beyond` samples ranked above it (None when n <= beyond). */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 1 by -1).find(p => n - math.ceil(p * n / 100.0).toInt >= beyond)

  /** Length of the union of half-open intervals, clipped to [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children. */
  def selfTimes(spans: Seq[SpanRec]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - unionLength(ch, s.startNs, s.endNs))
    }.toMap
  }
}
