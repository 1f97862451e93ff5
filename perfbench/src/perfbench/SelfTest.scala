package perfbench

import Stats.Span

/** Unit tests of the benchmark's own arithmetic:
  * `python3 perfbench/run.py --selftest`. Exits non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def eq[T](what: String, got: T, want: T): Unit =
    if (got != want) { failures += 1; println(s"FAIL $what: got $got, want $want") }
    else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    // tail rule: highest percentile with >= 10 samples strictly beyond
    eq("tail needs 20 samples", Stats.tailPercentile(19), None)
    eq("20 samples -> p50", Stats.tailPercentile(20), Some(50.0))
    eq("40 samples -> p75", Stats.tailPercentile(40), Some(75.0))
    eq("100 samples -> p90", Stats.tailPercentile(100), Some(90.0))
    eq("199 samples -> p90", Stats.tailPercentile(199), Some(90.0))
    eq("200 samples -> p95", Stats.tailPercentile(200), Some(95.0))
    eq("1000 samples -> p99", Stats.tailPercentile(1000), Some(99.0))
    eq("10000 samples -> p99.9", Stats.tailPercentile(10000), Some(99.9))
    val xs = (1 to 100).map(_.toDouble)
    eq("p90 of 1..100 is 90", Stats.percentile(xs, 90), 90.0)
    eq("p75 of 1..100 is 75", Stats.percentile(xs, 75), 75.0)
    eq("p100 is the max", Stats.percentile(Seq(3.0, 1.0, 9.0, 2.0, 4.0), 100), 9.0)
    eq("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)

    // job-interval union and driver gap
    eq("union of overlapping jobs", Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L), 25L)
    eq("union clipped to the op", Stats.unionLength(Seq((-5L, 5L), (95L, 120L)), 0L, 100L), 10L)
    eq("nested jobs count once", Stats.unionLength(Seq((0L, 50L), (10L, 20L)), 0L, 100L), 50L)
    eq("no jobs", Stats.unionLength(Nil, 0L, 100L), 0L)
    eq("driver gap", Stats.driverGap(Seq((10L, 30L), (20L, 40L), (60L, 70L)), 0L, 100L), 60L)

    // self time: a span minus the part its direct children cover
    val spans = Seq(
      Span(1, 0, "op:read", 0, 100),
      Span(2, 1, "loglake.snapshot_read", 10, 60),
      Span(3, 2, "spark.job", 20, 40),
      Span(4, 2, "spark.job", 40, 50),
      Span(5, 1, "loglake.current_version", 60, 70))
    val self = Stats.selfTimes(spans)
    eq("op self time", self(1L), 100L - 60L)
    eq("layer self time", self(2L), 50L - 30L)
    eq("leaf self time", self(3L), 20L)
    eq("nested self times sum to the op", self.values.sum, 100L)

    // matching segments to the batch whose committed end offset covers them
    val segs = Seq((1L, 0L), (2L, 100L), (3L, 200L), (4L, 300L))
    val batches = Seq((2L, 450L), (3L, 900L), (4L, 1400L))
    eq("cover times", Stats.coverTimes(segs, batches), Map(1L -> 450L, 2L -> 450L, 3L -> 900L, 4L -> 1400L))
    eq("freshness", Stats.freshness(segs, batches), Seq(450L, 350L, 700L, 1100L))
    eq("uncovered segment is absent", Stats.freshness(segs :+ ((5L, 400L)), batches).size, 4)
    eq("batches out of order", Stats.coverTimes(Seq((1L, 0L)), Seq((3L, 900L), (1L, 500L))), Map(1L -> 500L))

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
