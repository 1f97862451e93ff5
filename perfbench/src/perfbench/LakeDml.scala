package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Pipeline
import graft.sources.LogLake

/** `lake_dml`: closed loop, one client, on a loglake sensor table built
  * with `Pipeline.sensorReadings` from a seeded `events` fixture. Reads
  * (filtered aggregates, time travel, change feed) run beside DML (late
  * appends, merge corrections, update recalibrations, retention deletes,
  * periodic optimize); every result is checked against an in-memory
  * model of the same seeded op sequence. */
object LakeDml {

  val BaseSec = 1704067200L // 2024-01-01T00:00:00Z
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  /** Op kinds in a fixed 20-op cycle, so every run has the same mix:
    * reads 3 filtered : 3 time-travel : 4 change-feed, writes 3 append :
    * 2 merge : 2 update : 2 delete : 1 optimize. With this mix the read
    * and write medians and p75s fall inside one op kind's cluster, not on
    * the edge between two. Runs stop on a cycle boundary. */
  val Cycle = Seq(
    "read_filtered", "append", "read_time_travel", "merge", "read_change_feed", "update",
    "read_filtered", "delete", "read_change_feed", "append", "read_time_travel", "merge",
    "read_change_feed", "update", "read_filtered", "delete", "read_time_travel", "append",
    "read_change_feed", "optimize")
  /** One op of each kind, run by every set-up as its warm-up. */
  val WarmUp = Cycle.distinct
  /** Seconds one cycle takes on the reference machine (4 cores). A run
    * does `--seconds` / this cycles, rounded up, so every run on every
    * seed does the same ops, commits and table growth, and reports the
    * same tail percentile. */
  val SecondsPerCycle = 6

  final case class Rec(machine: String, sensor: String, reading: Double, t: Double)

  /** Per-version expectations: snapshot (rows, checksum) and the change
    * feed rows that version adds, by change type. */
  final case class Ver(rows: Long, centi: Long, cdf: Map[String, Long])

  def centi(r: Double): Long = (r * 100).toLong

  /** The seeded `events` fixture, one parquet file, `n` rows with one
    * event per second (so `t_stamp - BaseSec` floors to the event id). */
  def writeEvents(spark: SparkSession, dir: String, n: Int, seed: Long): Unit = {
    val r = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      Row(i.toLong, new java.sql.Timestamp((BaseSec + i) * 1000L + r.nextInt(1000)),
        r.nextInt(150).toLong, EventTypes(r.nextInt(EventTypes.size)),
        r.nextInt(50000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    val schema = StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet.tmp")
    val d = new java.io.File(s"$dir/events.parquet.tmp")
    val part = d.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new java.io.File(s"$dir/events.parquet").toPath)
  }

  def sensorTable(spark: SparkSession, fixtures: String): DataFrame =
    Pipeline.sensorReadings(spark, fixtures)
      .withColumn("id", floor(col("t_stamp") - lit(BaseSec)).cast("long"))

  val Cols = Seq("id", "machine_id", "sensor", "reading", "t_stamp")

  /** The table under test and its in-memory model. `step` runs one op
    * and checks it against the model. */
  final class Lake(run: Run, val table: String, n: Int, r: scala.util.Random) {
    private val spark = run.spark
    import spark.implicits._
    val model = mutable.HashMap[Long, Rec]()
    LogLake.snapshot(spark, table).select(Cols.map(col): _*).collect().foreach { x =>
      model(x.getLong(0)) = Rec(x.getString(1), x.getString(2), x.getDouble(3), x.getDouble(4))
    }
    val firstV = LogLake.currentVersion(table)
    val vers = mutable.LinkedHashMap[Long, Ver]()
    vers(firstV) = snap(Map.empty)
    def latest: Long = vers.keys.last
    var userBytes = 0L
    private val RowBytes = 8 + 2 + 8 + 8 + 8 // id, short strings, reading, t_stamp
    private var nextId = model.keys.max
    private val liveIds = mutable.ArrayBuffer[Long]() ++= model.keys

    private def snap(cdf: Map[String, Long]) =
      Ver(model.size, model.valuesIterator.map(x => centi(x.reading)).sum, cdf)
    private def randomLive(): Long = {
      var id = liveIds(r.nextInt(liveIds.size))
      while (!model.contains(id)) { id = liveIds(r.nextInt(liveIds.size)) }
      id
    }
    private def fresh(t: Double): (Long, Rec) = {
      nextId += 1
      nextId -> Rec(s"M${r.nextInt(3) + 1}", EventTypes(r.nextInt(5)), r.nextInt(50000) / 100.0, t)
    }
    private def rowsDf(rs: Seq[(Long, Rec)]): DataFrame =
      rs.map { case (id, x) => (id, x.machine, x.sensor, x.reading, x.t) }
        .toDF(Cols: _*).repartition(1)
    private def aggOf(df: DataFrame): (Long, Long) = {
      val a = df.agg(count(lit(1)), coalesce(sum((col("reading") * 100).cast("long")), lit(0L)))
        .collect()(0)
      (a.getLong(0), a.getLong(1))
    }

    private def read(kind: String, traced: Boolean)(body: => Boolean): Double =
      run.op(kind, traced)(body)

    /** A write: the commit must land as exactly the next version. */
    private def commit(kind: String, traced: Boolean, cdf: Map[String, Long], rows: Long)
        (write: => Long)(apply: => Unit): Double = {
      val expectV = latest + 1
      val ms = run.op(kind, traced)(run.tracer.span(s"loglake.$kind")(write) == expectV)
      apply
      vers(expectV) = snap(cdf)
      userBytes += rows * RowBytes
      ms
    }

    /** Runs one op of `kind`; returns its milliseconds. */
    def step(kind: String, traced: Boolean): Double = kind match {
      case "read_filtered" =>
        val x = model(randomLive())
        val want = model.valuesIterator.filter(y => y.machine == x.machine && y.sensor == x.sensor)
          .foldLeft((0L, 0L)) { case ((c, t), y) => (c + 1, t + centi(y.reading)) }
        val expectV = latest
        read(kind, traced) {
          run.tracer.span("loglake.current_version")(LogLake.currentVersion(table)) == expectV &&
            run.tracer.span("loglake.snapshot_read") {
              aggOf(LogLake.snapshot(spark, table)
                .filter(col("machine_id") === x.machine && col("sensor") === x.sensor))
            } == want
        }
      case "read_time_travel" =>
        val keys = vers.keys.toIndexedSeq
        val v = keys(r.nextInt(keys.size))
        val want = (vers(v).rows, vers(v).centi)
        read(kind, traced) {
          run.tracer.span("loglake.snapshot_read")(aggOf(LogLake.snapshot(spark, table, Some(v)))) == want
        }
      case "read_change_feed" =>
        // the last three commits' changes, by change type
        val toV = latest
        val fromV = math.max(firstV, toV - 3)
        val want = (fromV + 1 to toV).flatMap(v => vers(v).cdf)
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }.filter(_._2 > 0)
        read(kind, traced) {
          run.tracer.span("loglake.change_feed") {
            LogLake.changeFeed(spark, table, fromV, toV).groupBy("_change_type").count()
              .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
          } == want
        }
      case "append" =>
        // late arrivals: readings stamped up to an hour before the newest
        val maxT = model.valuesIterator.map(_.t).max
        val add = (0 until 200).map(_ => fresh(maxT - r.nextInt(3600) - 0.25))
        val df = rowsDf(add)
        commit(kind, traced, Map("insert" -> 200L), 200) {
          LogLake.append(spark, table, df)
        } { add.foreach { case (id, x) => model(id) = x; liveIds += id } }
      case "merge" =>
        // corrections for 80 existing readings plus 20 new ones
        val fix = Iterator.continually(randomLive()).distinct.take(80).toSeq
          .map(id => id -> model(id).copy(reading = r.nextInt(50000) / 100.0))
        val add = (0 until 20).map(_ => fresh(BaseSec + n + r.nextInt(1000) + 0.5))
        val df = rowsDf(fix ++ add)
        commit(kind, traced,
          Map("update_preimage" -> 80L, "update_postimage" -> 80L, "insert" -> 20L), 100) {
          LogLake.merge(spark, table, df, Seq("id"))
        } { (fix ++ add).foreach { case (id, x) => model(id) = x }; liveIds ++= add.map(_._1) }
      case "update" =>
        // recalibrate one machine's sensor over an id range
        val a = randomLive()
        val x = model(a)
        val hit = model.filter { case (id, y) => id >= a && id < a + 2000 &&
          y.machine == x.machine && y.sensor == x.sensor }.keys.toSeq
        val cond = col("id") >= a && col("id") < a + 2000 &&
          col("machine_id") === x.machine && col("sensor") === x.sensor
        commit(kind, traced,
          Map("update_preimage" -> hit.size.toLong, "update_postimage" -> hit.size.toLong), hit.size) {
          LogLake.update(spark, table, cond, Map("reading" -> (col("reading") + lit(0.5))))
        } { hit.foreach(id => model(id) = model(id).copy(reading = model(id).reading + 0.5)) }
      case "delete" =>
        // retention: drop readings older than the oldest live second + 300
        val cutoff = model.valuesIterator.map(_.t).min + 300
        val gone = model.filter(_._2.t < cutoff).keys.toSeq
        commit(kind, traced, Map("delete" -> gone.size.toLong), gone.size) {
          LogLake.delete(spark, table, col("t_stamp") < cutoff)
        } { gone.foreach(model.remove) }
      case "optimize" =>
        commit(kind, traced, Map.empty, 0)(LogLake.optimize(spark, table, 4))(())
    }

    /** The table equals the model row for row, at the model's version. */
    def verify(): Unit = {
      val got = LogLake.snapshot(spark, table).select(Cols.map(col): _*).collect()
      run.check(got.length == model.size, s"final rows ${got.length} != model ${model.size}")
      val bad = got.count { x =>
        !model.get(x.getLong(0)).contains(Rec(x.getString(1), x.getString(2), x.getDouble(3), x.getDouble(4)))
      }
      run.check(bad == 0, s"$bad final rows differ from the model")
      run.check(LogLake.currentVersion(table) == latest, "final version differs from the model")
    }
  }

  def apply(run: Run): Unit = {
    val spark = run.spark
    val n = if (run.smoke) 2000 else 100000
    val fixtures = run.dir("fixtures")
    writeEvents(spark, fixtures, n, run.seed)
    val r = new scala.util.Random(run.seed * 31 + 7)
    var lake: Lake = null

    // set-up: create the table, then one op of each kind (checked, not
    // timed), so the measured ops start with warm code paths
    val setupS = run.timedSetups(3) { i =>
      val table = run.dir(s"sensor$i")
      LogLake.create(spark, table, sensorTable(spark, fixtures).select(Cols.map(col): _*),
        statsCols = Seq("id", "t_stamp"))
      LogLake.setTableProperties(table, Map("loglake.enableChangeDataFeed" -> "true"))
      lake = new Lake(run, table, n, r)
      WarmUp.foreach(k => lake.step(k, traced = false))
    }
    run.put("setup_s", setupS, "s")
    val bytes0 = TableFiles.count(lake.table).bytes
    val user0 = lake.userBytes
    val v0 = lake.latest

    val reads = mutable.ArrayBuffer[(Double, Boolean)]()
    val writes = mutable.ArrayBuffer[(Double, Boolean)]()
    val cycles = (run.seconds + SecondsPerCycle - 1) / SecondsPerCycle
    val t0 = System.nanoTime()
    var i = 0
    while (i < cycles * Cycle.size) {
      // alternates within reads and within writes, flipping each cycle so
      // every op kind runs both traced and untraced
      val traced = (i / 2 + i / Cycle.size) % 2 == 0
      val kind = Cycle(i % Cycle.size)
      val ms = lake.step(kind, traced)
      (if (kind.startsWith("read")) reads else writes) += ((ms, traced))
      i += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    lake.verify()

    run.latency("read", reads.map(_._1).toSeq, cycles * Cycle.size / 2)
    run.latency("write", writes.map(_._1).toSeq, cycles * Cycle.size / 2)
    run.put("throughput_per_s", i / elapsed, "1/s")
    val files = TableFiles.count(lake.table)
    run.put("stored_bytes_per_row", files.bytes.toDouble / lake.model.size, "B")
    run.notes += s"$i ops: ${reads.size} reads, ${writes.size} writes over ${lake.latest - v0} commits"
    if (run.trace) {
      run.drainListeners()
      run.traceOverhead(reads.toSeq)
      val jobs = run.ledger.get.snapshotJobs
      val ops = Layers.ops(run)
      Layers.emitSchedExec(run, ops.map(o => (o.start, o.end, Layers.jobsOf(run, o, jobs))))
      Layers.emitCatalyst(run, ops)
      Layers.emitSelf(run, ops, jobs)
      Seq("current_version", "append", "merge", "update", "delete", "optimize").foreach { k =>
        run.put(s"loglake.${k}_ms", Layers.meanSpanMs(run, s"loglake.$k"), "ms")
      }
      run.put("loglake.active_state_ms", Stats.median((1 to 5).map { _ =>
        val t = System.nanoTime(); LogLake.activeState(lake.table); (System.nanoTime() - t) / 1e6
      }), "ms")
      LakeCounts.emit(run, Seq(lake.table), files.bytes - bytes0, lake.userBytes - user0)
    }
  }
}
object LakeCounts {
  def emit(run: Run, dirs: Seq[String], bytesWritten: Long, userBytes: Long): Unit = {
    val c = dirs.map(TableFiles.count)
    run.put("loglake.log_files", c.map(_.logFiles).sum, "count")
    run.put("loglake.checkpoints", c.map(_.checkpoints).sum, "count")
    run.put("loglake.data_files", c.map(_.dataFiles).sum, "count")
    run.put("loglake.bytes_written_per_user_byte",
      if (userBytes > 0) bytesWritten.toDouble / userBytes else 0.0, "ratio")
  }
}
