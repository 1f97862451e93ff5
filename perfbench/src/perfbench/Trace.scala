package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import Stats.Span

/** In-memory span recorder for the calls the benchmark makes into each
  * layer. Spans are kept only while the calling thread is inside a traced
  * op (see [[Tracer.op]]); everything else runs with no recording. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val parent = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val on = new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }
  private val curOp = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Id of the traced op running on this thread, if any. */
  def currentOp: Option[Long] = Option(curOp.get).filter(_ != 0L)

  /** Clock pairing for converting listener epoch-ms times to nanoTime. */
  val baseNs: Long = System.nanoTime()
  val baseMs: Long = System.currentTimeMillis()
  def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L
  def nsToMs(ns: Long): Long = baseMs + (ns - baseNs) / 1000000L

  /** Runs one top-level op. When `traced`, its span and every nested
    * [[span]] are recorded and its Spark jobs are tagged with the op's
    * id as job group; otherwise the op runs exactly as untraced code. */
  def op[T](spark: SparkSession, name: String, traced: Boolean)(body: => T): T =
    if (!enabled || !traced) body
    else {
      on.set(true)
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      curOp.set(id)
      sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
      try record(id, name, body)
      finally { sc.clearJobGroup(); on.set(false); curOp.set(0L) }
    }

  /** A call into one layer, recorded when inside a traced op. */
  def span[T](name: String)(body: => T): T =
    if (!on.get) body else record(ids.incrementAndGet(), name, body)

  /** A span on the calling thread with no op around it (the ingest
    * generator's own calls). */
  def detached[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      on.set(true)
      try record(ids.incrementAndGet(), name, body) finally on.set(false)
    }

  private def record[T](id: Long, name: String, body: => T): T = {
    val p = parent.get
    parent.set(id)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, p, name, t0, System.nanoTime()))
      parent.set(p)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Per-job and per-query facts from Spark's public listener APIs. */
final case class JobRec(id: Int, group: String, streamBatch: Option[Long],
    startMs: Long, var endMs: Long, stages: Seq[Int])
final case class StageAgg(var tasks: Int = 0, var runMs: Long = 0, var cpuNs: Long = 0,
    var gcMs: Long = 0, var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
    var spill: Long = 0)
final case class QeRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

final class Ledger extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageAgg]()
  val qes = mutable.ArrayBuffer[QeRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("streaming.sql.batchId").flatMap(_.toLongOption), e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stages.getOrElseUpdate(e.stageId, StageAgg())
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    recordQe(qe)

  private def recordQe(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    synchronized { qes += QeRec(start, d("analysis"), d("optimization"), d("planning")) }
  }

  def snapshotJobs: Seq[JobRec] = synchronized(jobs.values.map(_.copy()).toSeq)
  def stageAgg(ids: Seq[Int]): StageAgg = synchronized {
    val t = StageAgg()
    ids.flatMap(stages.get).foreach { a =>
      t.tasks += a.tasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.shuffleRead += a.shuffleRead; t.shuffleWrite += a.shuffleWrite; t.spill += a.spill
    }
    t
  }
  def snapshotQes: Seq[QeRec] = synchronized(qes.toSeq)
}

object Ledger {
  def install(spark: SparkSession): Ledger = {
    val l = new Ledger
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}
