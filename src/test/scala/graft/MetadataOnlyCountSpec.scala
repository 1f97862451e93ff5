package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.sources.LogLake

/** Metadata-only COUNT(*) ([[graft.sources.LogLakeMetadataOnlyCountRule]]):
  * an unfiltered snapshot count answers from the manifest and reads
  * ZERO data bytes — proved with the SparkListener byte pin, not plan
  * shape alone — while filtered/grouped counts keep the real scan. */
class MetadataOnlyCountSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"metacount-$name").toString + "/t"

  private def kv(n: Int): DataFrame =
    spark.range(n).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case _: LocalRelation => () }.nonEmpty

  private def bytesReadDuring(body: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(2000) }
    finally spark.sparkContext.removeSparkListener(listener)
    bytes.get()
  }

  test("unfiltered count over the native path collapses to a LocalRelation, zero bytes") {
    val dir = tmp("native")
    LogLake.create(spark, dir, kv(1000))
    LogLake.append(spark, dir, kv(234))
    val cnt = spark.read.format("loglake").load(dir).groupBy().count()
    assert(isLocal(cnt), s"plan kept a scan:\n${cnt.queryExecution.optimizedPlan}")
    val bytes = bytesReadDuring {
      assert(cnt.as[Long].head() == 1234L)
    }
    assert(bytes == 0L, s"metadata-only count read $bytes bytes")
  }

  test("the DV fallback path subtracts deletion-vector cardinalities") {
    val dir = tmp("dv")
    LogLake.create(spark, dir, kv(100))
    LogLake.delete(spark, dir, col("k") % 10 === 0L, mor = true) // 10 DV'd rows
    val df = spark.read.format("loglake").load(dir).groupBy().count()
    assert(isLocal(df), s"plan kept a scan:\n${df.queryExecution.optimizedPlan}")
    assert(df.as[Long].head() == 90L)
  }

  test("filtered and grouped counts keep the real scan and stay correct") {
    val dir = tmp("neg")
    LogLake.create(spark, dir, kv(100))
    val filtered = spark.read.format("loglake").load(dir)
      .filter(col("k") < 10L).groupBy().count()
    assert(!isLocal(filtered), "a filtered count must scan")
    assert(filtered.as[Long].head() == 10L)
    val grouped = spark.read.format("loglake").load(dir)
      .groupBy(col("k") % 2L).count()
    assert(!isLocal(grouped), "a grouped count must scan")
    assert(grouped.select(sum("count")).as[Long].head() == 100L)
    val distinct = spark.read.format("loglake").load(dir)
      .agg(count_distinct(col("v"))).as[Long]
    assert(distinct.head() == 100L, "distinct count stays correct (scans)")
  }

  test("SQL count(*) and count(1) through the catalog collapse too") {
    val db = "metacount_" + System.nanoTime()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS loglake.$db")
    spark.sql(s"CREATE TABLE loglake.$db.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO loglake.$db.t VALUES (1, 'a'), (2, 'b')")
    val c = spark.sql(s"SELECT count(*), count(1) FROM loglake.$db.t")
    assert(isLocal(c), s"plan kept a scan:\n${c.queryExecution.optimizedPlan}")
    assert(c.as[(Long, Long)].head() == ((2L, 2L)))
  }

  test("GROUP BY partition columns + count(*) answers from the manifest, zero bytes") {
    val dir = tmp("grouped")
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") % 4).cast("string").as("part"))
    LogLake.create(spark, dir, df, partitionBy = Seq("part"))
    val g = spark.read.format("loglake").load(dir)
      .groupBy("part").count()
    assert(isLocal(g), s"plan kept a scan:\n${g.queryExecution.optimizedPlan}")
    val bytes = bytesReadDuring {
      assert(g.as[(String, Long)].collect().toMap ==
        Map("0" -> 25L, "1" -> 25L, "2" -> 25L, "3" -> 25L))
    }
    assert(bytes == 0L, s"metadata-only grouped count read $bytes bytes")
    // SQL shape too, with the typed partition column
    val db = "metagroup_" + System.nanoTime()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS loglake.$db")
    spark.sql(s"CREATE TABLE loglake.$db.t (k BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO loglake.$db.t VALUES (1, 10), (2, 10), (3, 20)")
    val c = spark.sql(s"SELECT p, count(*) AS cnt FROM loglake.$db.t GROUP BY p")
    assert(isLocal(c), s"plan kept a scan:\n${c.queryExecution.optimizedPlan}")
    assert(c.as[(Long, Long)].collect().toMap == Map(10L -> 2L, 20L -> 1L))
  }

  test("a partition-only predicate count answers metadata-only; data predicates scan") {
    val dir = tmp("partpred")
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") % 4).cast("string").as("part"))
    LogLake.create(spark, dir, df, partitionBy = Seq("part"))
    val c = spark.read.format("loglake").load(dir)
      .filter(col("part").isin("1", "2")).groupBy().count()
    assert(isLocal(c), s"plan kept a scan:\n${c.queryExecution.optimizedPlan}")
    val bytes = bytesReadDuring {
      assert(c.as[Long].head() == 50L)
    }
    assert(bytes == 0L, s"partition-predicate count read $bytes bytes")
    // compound partition predicate, still metadata-only
    val c2 = spark.read.format("loglake").load(dir)
      .filter(col("part") =!= "0" && col("part") < "3").groupBy().count()
    assert(isLocal(c2))
    assert(c2.as[Long].head() == 50L)
    // a data-column predicate keeps the scan
    val d = spark.read.format("loglake").load(dir)
      .filter(col("part") === "1" && col("k") < 10L).groupBy().count()
    assert(!isLocal(d), "data predicate must scan")
    assert(d.as[Long].head() == 3L) // k in {1,5,9}
  }

  test("grouping by a NON-partition column keeps the scan") {
    val dir = tmp("nongroup")
    val df = spark.range(10).select(col("id").as("k"),
      (col("id") % 2).cast("string").as("part"))
    LogLake.create(spark, dir, df, partitionBy = Seq("part"))
    val g = spark.read.format("loglake").load(dir).groupBy("k").count()
    assert(!isLocal(g), "non-partition grouping must scan")
    assert(g.count() == 10L)
    // mixed aggregate alongside count must scan too
    val mixed = spark.read.format("loglake").load(dir)
      .groupBy("part").agg(count(lit(1)).as("cnt"), sum("k").as("s"))
    assert(!isLocal(mixed), "a sum cannot come from the manifest")
    assert(mixed.select(sum("s")).head().getLong(0) == 45L)
  }

  test("min/max/count(col) over stats-covered columns answer metadata-only") {
    val dir = tmp("minmax")
    val df = spark.range(100).select(col("id").as("k"),
      concat(lit("v"), format_string("%03d", col("id"))).as("v"),
      (col("id") * lit(0.5)).as("x"),
      when(col("id") % 4 === 0, col("id")).as("sparse"))
    LogLake.create(spark, dir, df, statsCols = Seq("k", "v", "x", "sparse"))
    LogLake.append(spark, dir,
      df.withColumn("k", col("k") + 100L)
        .withColumn("v", concat(lit("w"), col("v"))),
      statsCols = Seq("k", "v", "x", "sparse"))
    val q = spark.read.format("loglake").load(dir).groupBy().agg(
      count(lit(1)).as("cnt"), count(col("sparse")).as("nn"),
      min("k").as("mnk"), max("k").as("mxk"),
      min("v").as("mnv"), max("v").as("mxv"), max("x").as("mxx"))
    assert(isLocal(q), s"plan kept a scan:\n${q.queryExecution.optimizedPlan}")
    val bytes = bytesReadDuring {
      val r = q.head()
      assert(r.getLong(0) == 200L)
      assert(r.getLong(1) == 50L) // 25 non-null per commit
      assert(r.getLong(2) == 0L && r.getLong(3) == 199L)
      assert(r.getString(4) == "v000" && r.getString(5) == "wv099")
      assert(r.getDouble(6) == 49.5)
    }
    assert(bytes == 0L, s"metadata-only min/max read $bytes bytes")
    // x's min is a float ZERO: its stored bound is canonical 0.0 with
    // the sign lost, so MIN(x) keeps the scan (which has the sign)
    val qx = spark.read.format("loglake").load(dir).groupBy().agg(min("x"))
    assert(!isLocal(qx), "a zero float bound must not answer MIN")
    assert(java.lang.Double.doubleToRawLongBits(qx.head().getDouble(0)) == 0L)
    // an all-null stats column yields NULL min/max, still metadata-only
    val dir2 = tmp("allnull")
    LogLake.create(spark, dir2,
      spark.range(10).select(col("id").as("k"), lit(null).cast("string").as("v")),
      statsCols = Seq("v"))
    val q2 = spark.read.format("loglake").load(dir2)
      .groupBy().agg(min("v").as("mn"), count(col("v")).as("nn"))
    assert(isLocal(q2))
    val r2 = q2.head()
    assert(r2.isNullAt(0) && r2.getLong(1) == 0L)
  }

  test("min/max keep the scan without stats coverage or under DVs") {
    val dir = tmp("nostats")
    LogLake.create(spark, dir, kv(50), statsCols = Seq("v")) // k uncovered
    val q = spark.read.format("loglake").load(dir).groupBy().agg(min("k"))
    assert(!isLocal(q), "min without stats must scan")
    assert(q.head().getLong(0) == 0L)
    // default stats (dataSkippingNumIndexedCols) make a plain create
    // metadata-answerable with no statsColumns named at all
    val dirDef = tmp("defstats")
    LogLake.create(spark, dirDef, kv(50))
    val qd = spark.read.format("loglake").load(dirDef)
      .groupBy().agg(min("k").as("mn"), max("v").as("mx"))
    assert(isLocal(qd), s"default stats missing:\n${qd.queryExecution.optimizedPlan}")
    assert(qd.as[(Long, String)].head() == ((0L, "v9")))
    // and the property set to 0 disables collection
    val dirOff = tmp("offstats")
    LogLake.createEmpty(dirOff, kv(1).schema)
    LogLake.setTableProperties(dirOff, Map("loglake.dataSkippingNumIndexedCols" -> "0"))
    LogLake.append(spark, dirOff, kv(50))
    val qo = spark.read.format("loglake").load(dirOff).groupBy().agg(min("k"))
    assert(!isLocal(qo), "property 0 must disable default stats")
    assert(qo.head().getLong(0) == 0L)
    // DVs: count(*) still collapses (rows − dvRows); min/max must scan
    val dir2 = tmp("dvminmax")
    LogLake.create(spark, dir2, kv(100), statsCols = Seq("k"))
    LogLake.delete(spark, dir2, col("k") < 10L, mor = true)
    val cnt = spark.read.format("loglake").load(dir2).groupBy().count()
    assert(isLocal(cnt) && cnt.as[Long].head() == 90L)
    val mn = spark.read.format("loglake").load(dir2).groupBy().agg(min("k"))
    assert(!isLocal(mn), "min under DVs must scan — the masked row could be the min")
    assert(mn.head().getLong(0) == 10L)
  }

  test("min/max over partition columns and under partition filters are metadata-only") {
    val dir = tmp("partminmax")
    val df = spark.range(90).select(col("id").as("k"),
      (col("id") % 3).as("p"))
    LogLake.create(spark, dir, df, statsCols = Seq("k"), partitionBy = Seq("p"))
    // partition column served from the tuple values — no stats needed
    val q = spark.read.format("loglake").load(dir)
      .groupBy().agg(min("p").as("mn"), max("p").as("mx"), count(col("p")).as("nn"))
    assert(isLocal(q), s"plan kept a scan:\n${q.queryExecution.optimizedPlan}")
    assert(q.as[(Long, Long, Long)].head() == ((0L, 2L, 90L)))
    // partition-filtered min over a stats column
    val f = spark.read.format("loglake").load(dir)
      .filter(col("p") === 1L).groupBy().agg(min("k").as("mn"), max("k").as("mx"))
    assert(isLocal(f), s"plan kept a scan:\n${f.queryExecution.optimizedPlan}")
    val bytes = bytesReadDuring {
      assert(f.as[(Long, Long)].head() == ((1L, 88L)))
    }
    assert(bytes == 0L, s"partition-filtered min/max read $bytes bytes")
  }

  test("GROUP BY partition column + min/max/count(col) answers per tuple, zero bytes") {
    val dir = tmp("groupminmax")
    val df = spark.range(120).select(col("id").as("k"),
      (col("id") % 3).cast("string").as("part"),
      when(col("id") % 2 === 0, col("id")).as("even"))
    LogLake.create(spark, dir, df, statsCols = Seq("k", "even"),
      partitionBy = Seq("part"))
    val g = spark.read.format("loglake").load(dir).groupBy("part").agg(
      count(lit(1)).as("cnt"), count(col("even")).as("nn"),
      min("k").as("mn"), max("k").as("mx"))
    assert(isLocal(g), s"plan kept a scan:\n${g.queryExecution.optimizedPlan}")
    val bytes = bytesReadDuring {
      val got = g.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == Map(
        "0" -> ((40L, 20L, 0L, 117L)),
        "1" -> ((40L, 20L, 1L, 118L)),
        "2" -> ((40L, 20L, 2L, 119L))))
    }
    assert(bytes == 0L, s"grouped min/max read $bytes bytes")
    // a partition filter composes with the grouping
    val f = spark.read.format("loglake").load(dir)
      .filter(col("part") =!= "1").groupBy("part").agg(max("k").as("mx"))
    assert(isLocal(f))
    assert(f.as[(String, Long)].collect().toMap == Map("0" -> 117L, "2" -> 119L))
    // a group losing stats coverage bails the WHOLE collapse
    LogLake.append(spark, dir,
      df.withColumn("k", col("k") + 200L), statsCols = Seq("even"))
    val g2 = spark.read.format("loglake").load(dir)
      .groupBy("part").agg(min("k").as("mn"))
    assert(!isLocal(g2), "uncovered group must keep the scan")
    assert(g2.as[(String, Long)].collect().toMap ==
      Map("0" -> 0L, "1" -> 1L, "2" -> 2L))
  }

  test("time travel counts answer from the pinned version's manifest") {
    val dir = tmp("tt")
    LogLake.create(spark, dir, kv(50))
    LogLake.append(spark, dir, kv(25))
    val v1 = spark.read.format("loglake").option("versionAsOf", "1")
      .load(dir).groupBy().count()
    assert(isLocal(v1))
    assert(v1.as[Long].head() == 50L)
  }
}
