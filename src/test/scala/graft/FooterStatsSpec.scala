package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.LogLake

/** The r17 footer fast path (per-file stats from staged parquet
  * footers instead of a Spark aggregate job) must be BYTE-IDENTICAL to
  * the aggregate it replaces — the rendered stats feed file skipping
  * AND metadata-only MIN/MAX answers, so any divergence is a
  * correctness bug, not a perf detail. Each case writes the same frame
  * under both paths (the `loglake.stats.footerFastPath=off` system
  * property forces the aggregate) and diffs every file's rendered
  * stats, row count, and the table-level metadata-only answers.
  */
class FooterStatsSpec extends SparkTestBase {
  import spark.implicits._

  private def dir(tag: String): String =
    Files.createTempDirectory(s"graft-footer-$tag").toString + "/t"

  /** stats maps keyed (path-independent) per file, sorted by rows+stats
    * rendering so two writes of the same frame compare positionally */
  private def statsOf(d: String): Seq[(Long, Map[String, (String, String, String, Long)])] =
    LogLake.activeState(d)._1
      .map(a => (a.rows, a.stats.map { case (c, s) =>
        c -> (s.tpe, s.min, s.max, s.nulls) }))
      .sortBy(_.toString)

  /** expectFooter: the first (default-path) write must actually be
    * SERVED by the footer fast path — otherwise the parity assertion
    * is vacuously comparing the aggregate to itself. */
  private def both(tag: String, df: DataFrame,
      statsCols: Seq[String] = Nil,
      expectFooter: Boolean = true): (String, String) = {
    val (d1, d2) = (dir(tag + "-footer"), dir(tag + "-agg"))
    val hits = LogLake.footerStatsHits.get()
    LogLake.create(spark, d1, df, statsCols = statsCols)
    if (expectFooter)
      assert(LogLake.footerStatsHits.get() == hits + 1,
        s"$tag: expected the footer fast path to serve this write")
    System.setProperty("loglake.stats.footerFastPath", "off")
    try LogLake.create(spark, d2, df, statsCols = statsCols)
    finally System.clearProperty("loglake.stats.footerFastPath")
    (d1, d2)
  }

  test("footer stats ≡ aggregate stats on mixed types incl. edges") {
    val df = Seq(
      (1L, Some("alpha"), Some(java.sql.Date.valueOf("2024-02-29")),
        Some(java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456")),
        Some(true), Some(7)),
      (2L, Some(""), Some(java.sql.Date.valueOf("1969-12-31")),
        Some(java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999")),
        Some(false), None),
      (3L, None, None, None, None, Some(-42)),
      (4L, Some("Ω-unicode-✓ and a tail long enough to exceed the " +
        "thirty-two code point prefix cap for string statistics"),
        Some(java.sql.Date.valueOf("2030-01-01")),
        Some(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")),
        Some(true), Some(0))
    ).toDF("k", "s", "d", "ts", "b", "i")
    val (d1, d2) = both("mixed", df)
    assert(statsOf(d1) === statsOf(d2))
  }

  test("footer stats ≡ aggregate on the real tables' write shapes") {
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val (d1, d2) = both("orders", ord)
    assert(statsOf(d1) === statsOf(d2))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (d3, d4) = both("docs", docs)   // multi-KB text → truncated tag
    assert(statsOf(d3) === statsOf(d4))
  }

  test("footer stats ≡ aggregate on double edges: ±Inf, denormals") {
    val df = Seq(
      (1L, Some(Double.NegativeInfinity), Some(1.5f)),
      (2L, Some(Double.PositiveInfinity), Some(-2.5f)),
      (3L, Some(java.lang.Double.MIN_VALUE), Some(Float.PositiveInfinity)),
      (4L, None, None)
    ).toDF("k", "d", "f")
    val (d1, d2) = both("inf", df)
    assert(statsOf(d1) === statsOf(d2))
  }

  test("±0.0 float/double extremes are footer-served as canonical 0.0 with parity") {
    // parquet-mr widens zero bounds per the float sort-order rule (a
    // +0.0 min reads back as -0.0, a -0.0 max as +0.0), so the footer
    // cannot tell a zero extreme's sign — and neither can the
    // aggregate, whose SQL min/max keep the first zero they meet. Both
    // paths store a zero extreme as canonical 0.0, so the footer path
    // serves these writes and the rendered stats stay identical.
    val zeroMin = Seq(
      (1L, Some(0.0d), Some(-0.0f)),   // d: min exactly +0.0
      (2L, Some(3.5d), Some(-0.0f)),   // f: min = max = -0.0
      (3L, None, None)
    ).toDF("k", "d", "f")
    val (d1, d2) = both("zeroext", zeroMin)
    assert(statsOf(d1) === statsOf(d2))
    val zeroMax = Seq(
      (1L, Some(-0.0d), Some(-7.5f)),  // d: max exactly -0.0 (all -0.0)
      (2L, Some(-0.0d), Some(-1.5f)),
      (3L, None, None)
    ).toDF("k", "d", "f")
    val (d3, d4) = both("zeromax", zeroMax)
    assert(statsOf(d3) === statsOf(d4))
    assert((statsOf(d1) ++ statsOf(d3)).flatMap(_._2.values)
      .forall { case (_, mn, mx, _) => mn != "-0.0" && mx != "-0.0" },
      "a zero extreme must render as canonical 0.0")
    // a file with NONZERO float/double extremes that merely CONTAINS
    // zeros keeps its exact extremes (one file, so the zero is
    // interior to ITS extremes)
    val nonzeroExt = Seq(
      (1L, Some(-1.0d), Some(-3.5f)),
      (2L, Some(0.0d), Some(0.0f)),
      (3L, Some(2.0d), Some(4.5f))
    ).toDF("k", "d", "f").coalesce(1)
    val (d5, d6) = both("zeroinside", nonzeroExt)
    assert(statsOf(d5) === statsOf(d6))
  }

  test("NaN columns fall back (parquet omits NaN-tainted stats) with parity") {
    val df = Seq(
      (1L, Some(Double.NaN), Some(Float.NaN)),
      (2L, Some(1.0), Some(2.0f)),
      (3L, None, None)
    ).toDF("k", "d", "f")
    val (d1, d2) = both("nan", df, expectFooter = false)
    assert(statsOf(d1) === statsOf(d2))
  }

  test("footer stats ≡ aggregate on all-null and empty-string columns") {
    val df = Seq.tabulate(6)(i =>
      (i.toLong, Option.empty[String], if (i % 2 == 0) Some("") else None))
      .toDF("k", "allnull", "empties")
    val (d1, d2) = both("nulls", df)
    assert(statsOf(d1) === statsOf(d2))
  }

  test("metadata-only COUNT/MIN/MAX agree across both paths") {
    val df = Seq((5L, "m"), (2L, "z"), (9L, "a")).toDF("k", "s")
    val (d1, d2) = both("meta", df, statsCols = Seq("k", "s"))
    for (d <- Seq(d1, d2)) {
      val a = LogLake.snapshot(spark, d).agg(
        count(lit(1)), min("k"), max("k"), min("s"), max("s")).head()
      assert(a.getLong(0) === 3L && a.getLong(1) === 2L && a.getLong(2) === 9L)
      assert(a.getString(3) === "a" && a.getString(4) === "z")
    }
    assert(statsOf(d1) === statsOf(d2))
  }
}
