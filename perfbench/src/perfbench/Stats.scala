package perfbench

/** The benchmark's arithmetic, kept free of Spark so `SelfTest` can pin it. */
object Stats {

  /** Percentiles a tail may be reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples that must lie beyond a percentile for it to be reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest candidate percentile with at least [[MinBeyond]]
    * samples strictly beyond its rank; None when there are too few
    * samples for any (fewer than 2 × MinBeyond). */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(p => n - rank(n, p) >= MinBeyond)

  /** Total length covered by `intervals` after clipping each to
    * [lo, hi]; overlapping intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time inside [lo, hi] during which no job ran. */
  def driverGap(jobs: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - unionLength(jobs, lo, hi)

  final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long) {
    def dur: Long = end - start
  }

  /** Each span's self time: its duration minus the part of it that its
    * direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - unionLength(cs, s.start, s.end))
    }.toMap
  }

  /** For each segment (number, due time), the time of the first batch
    * whose committed end offset covers it, given batches as (end offset,
    * commit time) in commit order. Segments no batch covers are absent. */
  def coverTimes(segments: Seq[(Long, Long)], batches: Seq[(Long, Long)]): Map[Long, Long] = {
    val ordered = batches.sortBy(_._2)
    segments.flatMap { case (seg, _) =>
      ordered.find(_._1 >= seg).map(b => seg -> b._2)
    }.toMap
  }

  /** Due-to-commit latency of each covered segment, in segment order. */
  def freshness(segments: Seq[(Long, Long)], batches: Seq[(Long, Long)]): Seq[Long] = {
    val covered = coverTimes(segments, batches)
    segments.sortBy(_._1).flatMap { case (seg, due) => covered.get(seg).map(_ - due) }
  }
}
