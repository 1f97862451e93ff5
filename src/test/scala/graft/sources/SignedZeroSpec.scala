package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Signed-zero float stats. SQL compares `-0.0 = 0.0` as equal, and a
  * stored zero bound does not say which sign the file holds (parquet
  * footers widen zero bounds; both stats paths render canonical `0.0`).
  * So file pruning must treat ±0.0 as equal, or a DELETE/UPDATE whose
  * predicate names the other sign skips the file that matches; and
  * metadata-only MIN/MAX must refuse a zero bound, or it could return
  * the wrong sign. */
class SignedZeroSpec extends graft.SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-szero-$tag").toString + "/t"

  private def rows(xs: (Long, Double)*): DataFrame =
    xs.toDF("k", "x").coalesce(1)

  /** One file of `+0.0` data (min exactly +0.0), one of `-0.0` data
    * (max exactly -0.0), and nonzero fillers until the table holds a
    * checkpoint, so distributed planning can serve it. */
  private def base(distributed: Boolean): String = {
    val d = tmp(s"base-$distributed")
    LogLake.createEmpty(d, rows((0L, 1.0)).schema)
    LogLake.setTableProperties(d, Map(
      "loglake.checkpoint.format" -> "parquet",
      "loglake.planning.distributed" -> distributed.toString))
    LogLake.append(spark, d, rows((1L, 0.0), (2L, 2.5)))
    LogLake.append(spark, d, rows((3L, -2.5), (4L, -0.0)))
    var i = 100L
    while (LogLake.currentVersion(d) < LogLake.CheckpointInterval) {
      LogLake.append(spark, d, rows((i, i.toDouble)))
      i += 1
    }
    LogLake.clearSnapshotCache()
    assert(LogLake.lazyPlanInfo(d, LogLake.currentVersion(d),
      allowDvs = true).isDefined == distributed)
    d
  }

  private def copyOf(src: String, tag: String): String = {
    val dst = tmp(tag)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(src), new java.io.File(dst))
    LogLake.clearSnapshotCache()
    dst
  }

  private def keys(d: String): Set[Long] =
    LogLake.snapshot(spark, d).select("k").as[Long].collect().toSet

  private val all = Set(1L, 2L, 3L, 4L)

  /** (label, condition, keys it matches under SQL semantics) */
  private val cases: Seq[(String, Column, Set[Long])] = Seq(
    ("x = -0.0 over +0.0 data", col("x") === -0.0, Set(1L, 4L)),
    ("x <= -0.0 over +0.0 data", col("x") <= -0.0, Set(1L, 3L, 4L)),
    ("x = 0.0 over -0.0 data", col("x") === 0.0, Set(1L, 4L)))

  for (distributed <- Seq(false, true)) {
    test(s"delete/update with a signed-zero predicate touch every " +
        s"SQL-equal row (distributed=$distributed)") {
      val b = base(distributed)
      for (((label, cond, hit), i) <- cases.zipWithIndex) {
        val d = copyOf(b, s"del$i")
        assert(LogLake.snapshot(spark, d).filter(cond)
          .select("k").as[Long].collect().toSet == hit, label)
        val v0 = LogLake.currentVersion(d)
        assert(LogLake.delete(spark, d, cond) > v0, s"delete $label committed nothing")
        assert(keys(d).filter(all) == all -- hit, s"delete $label")
        assert(LogLake.snapshot(spark, d).filter(cond).count() == 0L, label)

        val u = copyOf(b, s"upd$i")
        val w0 = LogLake.currentVersion(u)
        assert(LogLake.update(spark, u, cond, Map("k" -> (col("k") + 1000L))) > w0,
          s"update $label committed nothing")
        assert(keys(u).filter(k => all(k) || all(k - 1000L)) ==
          (all -- hit) ++ hit.map(_ + 1000L), s"update $label")
      }
    }
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case _: LocalRelation => () }.nonEmpty

  private def bits(v: Any): Long = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case f: Float => java.lang.Float.floatToRawIntBits(f).toLong
  }

  test("metadata-only MIN/MAX refuse zero bounds and match the scan bit for bit") {
    val nz = -0.0
    val layouts: Seq[(String, Seq[Double], Boolean, Boolean)] = Seq(
      // (label, one file's x values, min is zero, max is zero)
      ("min -0.0", Seq(nz, 1.0), true, false),
      ("min +0.0", Seq(0.0, 2.0), true, false),
      ("max -0.0", Seq(-3.0, nz), false, true),
      ("max +0.0", Seq(-4.0, 0.0), false, true),
      ("both signs", Seq(0.0, nz, 0.0, nz), true, true),
      ("zero interior", Seq(-1.5, 0.0, nz, 2.5), false, false))
    for ((label, xs, zeroMin, zeroMax) <- layouts) {
      val d = tmp("meta")
      LogLake.create(spark, d,
        xs.zipWithIndex.map { case (x, i) => (i.toLong, x, x.toFloat) }
          .toDF("k", "x", "f").coalesce(1),
        statsCols = Seq("k", "x", "f"))
      def t = spark.read.format("loglake").load(d)
      val scan = t.filter(col("k") >= 0L)
        .agg(min("x"), max("x"), min("f"), max("f")).head()
      // the data really holds the sign it claims (a writer that
      // normalized -0.0 would make this spec vacuous)
      val signs = xs.filter(_ == 0.0).map(bits).distinct
      if (signs.size == 1) {
        if (zeroMin) assert(bits(scan.get(0)) == signs.head, s"$label: scan min sign")
        if (zeroMax) assert(bits(scan.get(1)) == signs.head, s"$label: scan max sign")
      }
      for ((c, j) <- Seq("x", "f").zipWithIndex) {
        val qMin = t.agg(min(c))
        val qMax = t.agg(max(c))
        assert(isLocal(qMin) == !zeroMin, s"$label: min($c) metadata-only")
        assert(isLocal(qMax) == !zeroMax, s"$label: max($c) metadata-only")
        assert(bits(qMin.head().get(0)) == bits(scan.get(2 * j)), s"$label min($c)")
        assert(bits(qMax.head().get(0)) == bits(scan.get(2 * j + 1)), s"$label max($c)")
        // the null count stays exact whatever the bounds
        assert(isLocal(t.agg(count(col(c)))), s"$label: count($c) metadata-only")
      }
    }
  }
}
