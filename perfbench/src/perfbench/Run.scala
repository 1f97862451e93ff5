package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Stats.Span

/** One benchmark run: its session, inputs' seed, clock budget, and the
  * metrics, notes and check results it accumulates. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Int, val trace: Boolean, val smoke: Boolean) {

  val tracer = new Tracer(trace)
  val ledger: Option[Ledger] = if (trace) Some(Ledger.install(spark)) else None
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  var correct = true
  /** Streaming run ids whose jobs belong to a traced op (ANN maintain). */
  val runIdOp = mutable.HashMap[String, Long]()

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** A correctness check outside any op: a failure marks the run incorrect. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { correct = false; notes += s"CHECK FAILED: $what" }

  /** Runs one counted op; an exception or a false result counts as a
    * failed op. Returns the elapsed milliseconds. */
  def op(name: String, traced: Boolean)(body: => Boolean): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try tracer.op(spark, s"op:$name", traced)(body)
      catch { case e: Throwable =>
        notes += s"op $name threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (!ok) { failed += 1; correct = false; notes += s"op $name failed its check" }
    ms
  }

  /** `<kind>_p50_ms` and `<kind>_tail_ms`, from a run with tracing off
    * (a traced run reports per-layer metrics instead). The tail
    * percentile is fixed per workload by [[Stats.tailPercentile]] at its
    * designed op count, so every run reports the same percentile; a run
    * that fell short of that count says so in its notes. */
  def latency(kind: String, ms: Seq[Double], designedCount: Int): Unit =
    if (!trace) {
      val p = Stats.tailPercentile(designedCount).getOrElse(100.0) // max when too few
      if (ms.isEmpty) check(false, s"no $kind samples")
      else {
        put(s"${kind}_p50_ms", Stats.median(ms), "ms")
        put(s"${kind}_tail_ms", Stats.percentile(ms, p), "ms")
        val short = if (Stats.tailPercentile(ms.size).forall(_ < p)) " (fewer than designed)" else ""
        notes += f"${kind}_tail_ms is p$p%.1f of ${ms.size} samples$short"
      }
    }

  /** Tracing overhead: median of traced over untraced op latencies. */
  def traceOverhead(samples: Seq[(Double, Boolean)]): Unit = {
    val (t, u) = samples.partition(_._2)
    put("trace.overhead_pct",
      if (t.isEmpty || u.isEmpty) 0.0
      else (Stats.median(t.map(_._1)) / Stats.median(u.map(_._1)) - 1) * 100, "%")
  }

  /** Median of `n` timed repetitions of a set-up step, in seconds. The
    * discarded set-ups leave garbage (broadcasts, shuffles, stopped
    * queries) that would otherwise be cleaned up in the middle of the
    * measured phase, so [[settle]] follows the last one, untimed. */
  def timedSetups(n: Int)(body: Int => Unit): Double = {
    val s = Stats.median((1 to n).map { i =>
      val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e9
    })
    settle()
    s
  }

  /** A full GC and a pause, so Spark's ContextCleaner removes the
    * broadcasts and shuffles of finished work before the next phase. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(1000)
  }

  /** Waits until the listener bus has delivered every job's end. */
  def drainListeners(): Unit = ledger.foreach { l =>
    val deadline = System.nanoTime() + 10000000000L
    Thread.sleep(200)
    while (l.snapshotJobs.exists(_.endMs < 0) && System.nanoTime() < deadline) Thread.sleep(50)
  }
}

/** Table-directory facts read straight from the filesystem. */
object TableFiles {
  final case class Counts(logFiles: Int, checkpoints: Int, dataFiles: Int, bytes: Long)

  private val VersionFile = "\\d{20}\\.json".r

  def count(dir: String): Counts = {
    var log, chk, data = 0
    var bytes = 0L
    def walk(f: File, inLog: Boolean): Unit =
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach { c =>
        if (c.isDirectory) walk(c, inLog || c.getName == "_loglake")
        else {
          bytes += c.length()
          if (inLog && c.getParentFile.getName == "_loglake") {
            if (VersionFile.matches(c.getName)) log += 1
            if (c.getName.startsWith("chk-")) chk += 1
          }
          if (!inLog && c.getName.endsWith(".parquet")) data += 1
        }
      }
    walk(new File(dir), inLog = false)
    Counts(log, chk, data, bytes)
  }

  def bytes(dirs: Seq[String]): Long = dirs.map(count(_).bytes).sum
}

/** Per-layer metrics from the spans and listener records of a traced run. */
object Layers {

  /** Top-level op spans of the run (name "op:<kind>"). */
  def ops(run: Run): Seq[Span] = run.tracer.all.filter(s => s.parent == 0 && s.name.startsWith("op:"))

  /** Jobs of each op: tagged with the op's job group, or run by a
    * streaming query the op started. */
  def jobsOf(run: Run, op: Span, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => j.group == s"op-${op.id}" || run.runIdOp.get(j.group).contains(op.id))

  def emitSchedExec(run: Run, perUnit: Seq[(Long, Long, Seq[JobRec])]): Unit = {
    val l = run.ledger.get
    val n = math.max(1, perUnit.size).toDouble
    var jobs, stages = 0L
    var wall, gap = 0.0
    val agg = StageAgg()
    perUnit.foreach { case (s, e, js) =>
      jobs += js.size
      stages += js.map(_.stages.size).sum
      val iv = js.map(j => (run.tracer.msToNs(j.startMs), run.tracer.msToNs(j.endMs)))
      val u = Stats.unionLength(iv, s, e)
      wall += u / 1e6
      gap += Stats.driverGap(iv, s, e) / 1e6
      val a = l.stageAgg(js.flatMap(_.stages))
      agg.tasks += a.tasks; agg.runMs += a.runMs; agg.cpuNs += a.cpuNs; agg.gcMs += a.gcMs
      agg.shuffleRead += a.shuffleRead; agg.shuffleWrite += a.shuffleWrite; agg.spill += a.spill
    }
    run.put("sched.jobs_per_op", jobs / n, "count")
    run.put("sched.stages_per_op", stages / n, "count")
    run.put("sched.tasks_per_op", agg.tasks / n, "count")
    run.put("sched.job_wall_ms", wall / n, "ms")
    run.put("sched.driver_gap_ms", gap / n, "ms")
    run.put("exec.task_run_ms", agg.runMs / n, "ms")
    run.put("exec.task_cpu_ms", agg.cpuNs / 1e6 / n, "ms")
    run.put("exec.gc_ms", agg.gcMs / n, "ms")
    run.put("exec.shuffle_read_bytes", agg.shuffleRead / n, "B")
    run.put("exec.shuffle_write_bytes", agg.shuffleWrite / n, "B")
    run.put("exec.spill_bytes", agg.spill / n, "B")
  }

  def emitCatalyst(run: Run, opSpans: Seq[Span]): Unit = {
    val qes = run.ledger.get.snapshotQes
    val n = math.max(1, opSpans.size).toDouble
    val in = opSpans.flatMap { o =>
      val lo = run.tracer.nsToMs(o.start); val hi = run.tracer.nsToMs(o.end)
      qes.filter(q => q.startMs >= lo && q.startMs <= hi)
    }
    run.put("catalyst.analysis_ms", in.map(_.analysisMs).sum / n, "ms")
    run.put("catalyst.optimization_ms", in.map(_.optimizationMs).sum / n, "ms")
    run.put("catalyst.planning_ms", in.map(_.planningMs).sum / n, "ms")
  }

  val SelfLayers = Seq("op", "loglake", "ann", "wirelog", "wire", "spark")

  /** Self time per layer per op: op spans, their nested layer spans and
    * the op's Spark jobs as children of the innermost span holding them. */
  def emitSelf(run: Run, opSpans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val all = run.tracer.all
    val byParent = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(subtree)
    var nextId = Long.MaxValue / 2
    val tot = mutable.Map[String, Double]().withDefaultValue(0.0)
    opSpans.foreach { o =>
      val tree = subtree(o)
      val jobSpans = jobsOf(run, o, jobs).map { j =>
        val s = run.tracer.msToNs(j.startMs); val e = run.tracer.msToNs(j.endMs)
        val holder = tree.filter(t => t.start <= s && s <= t.end).minByOption(_.dur).getOrElse(o)
        nextId += 1
        Span(nextId, holder.id, "spark.job", math.max(s, holder.start), math.min(e, holder.end))
      }
      val spans = tree ++ jobSpans
      val self = Stats.selfTimes(spans)
      spans.foreach { s =>
        val layer = if (s.name.startsWith("op:")) "op" else s.name.takeWhile(_ != '.')
        tot(layer) += self(s.id) / 1e6
      }
    }
    val n = math.max(1, opSpans.size).toDouble
    SelfLayers.foreach(l => run.put(s"self.${l}_ms", tot(l) / n, "ms"))
  }

  /** Mean duration of the traced spans named `name`, 0 when none ran. */
  def meanSpanMs(run: Run, name: String): Double = {
    val ds = run.tracer.all.filter(_.name == name).map(_.dur / 1e6)
    if (ds.isEmpty) 0.0 else ds.sum / ds.size
  }

  def jvmGcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
}
