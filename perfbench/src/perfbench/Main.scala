package perfbench

import java.io.{File, PrintWriter}

import graft.Sessions

/** Entry point: `perfbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file> [--smoke]`. Writes one JSON
  * result; `perfbench/run.py` builds, launches and prints it. */
object Main {

  /** End-to-end metrics, reported by every workload with tracing off. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB",
    "read_p50_ms" -> "ms", "read_tail_ms" -> "ms",
    "write_p50_ms" -> "ms", "write_tail_ms" -> "ms",
    "throughput_per_s" -> "1/s", "stored_bytes_per_row" -> "B")

  /** Per-layer metrics of a traced run; a layer a workload does not
    * exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "sched.jobs_per_op" -> "count", "sched.stages_per_op" -> "count",
    "sched.tasks_per_op" -> "count", "sched.job_wall_ms" -> "ms",
    "sched.driver_gap_ms" -> "ms",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.shuffle_read_bytes" -> "B", "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B",
    "stream.latest_offset_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.batches" -> "count",
    "stream.rows_per_batch" -> "count", "stream.busy_ratio" -> "ratio",
    "stream.catchup_rows_per_s" -> "1/s",
    "wirelog.append_ms" -> "ms", "gen.lag_ms" -> "ms", "wire.encode_us_per_row" -> "us",
    "loglake.active_state_ms" -> "ms", "loglake.current_version_ms" -> "ms",
    "loglake.append_ms" -> "ms", "loglake.merge_ms" -> "ms", "loglake.update_ms" -> "ms",
    "loglake.delete_ms" -> "ms", "loglake.optimize_ms" -> "ms",
    "loglake.log_files" -> "count", "loglake.checkpoints" -> "count",
    "loglake.data_files" -> "count", "loglake.bytes_written_per_user_byte" -> "ratio",
    "ann.search_ms" -> "ms", "ann.maintain_ms" -> "ms", "ann.jobs_per_search" -> "count",
    "ann.jobs_per_epoch" -> "count", "ann.recall_at_5" -> "ratio",
    "jvm.gc_ms" -> "ms") ++
    Layers.SelfLayers.map(l => s"self.${l}_ms" -> "ms") ++
    Seq("trace.overhead_pct" -> "%")

  val Workloads: Map[String, Run => Unit] = Map(
    "ingest" -> (Ingest(_)), "lake_dml" -> (LakeDml(_)), "ann" -> (Ann(_)))

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val work = new File(a("work")).getAbsolutePath
    val trace = a("trace") == "1"
    val smoke = args.contains("--smoke")

    val t0 = System.nanoTime()
    val spark = Sessions.builder("local[4]", 4)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.loglake.warehouse", s"$work/loglake-warehouse")
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val gc0 = Layers.jvmGcMs()

    val run = new Run(spark, work, a("seed").toLong, a("seconds").toInt, trace, smoke)
    try body(run)
    catch { case e: Throwable =>
      run.correct = false
      run.failed += 1
      run.attempted += 1
      run.notes += s"workload aborted: $e".take(600)
      e.printStackTrace()
    }
    // set-up includes starting the session, paid once per process
    run.metrics.get("setup_s").foreach { case (v, u) => run.put("setup_s", v + sessionS, u) }
    run.put("peak_rss_mb", peakRssMb(), "MB")
    run.put("jvm.gc_ms", Layers.jvmGcMs() - gc0, "ms")
    spark.stop()

    val wanted = if (trace) PerLayer else EndToEnd
    val metrics = wanted.map { case (k, unit) =>
      val v = run.metrics.get(k).map(_._1).getOrElse {
        if (!trace) { run.correct = false; run.notes += s"metric $k missing" }
        0.0
      }
      s"${q(k)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(unit)}}"
    }
    if (run.attempted == 0) run.attempted = 1
    val json = s"""{"correct": ${run.correct}, "attempted": ${run.attempted}, "failed": ${run.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}, "notes": [${run.notes.map(q).mkString(", ")}]}"""
    val out = new PrintWriter(a("out"))
    try out.println(json) finally out.close()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
