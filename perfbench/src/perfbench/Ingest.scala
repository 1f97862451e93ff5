package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.AvroPlcCodec
import graft.sources.{LogLake, WireLog}
import graft.streaming.Streams

/** `ingest`: open loop. One generator thread publishes a 1,000-row
  * wirelog segment every 100 ms for the first 70% of the run, holds back
  * for the rest (an outage), then publishes the backlog as one segment; a
  * Structured Streaming query on a 1 s trigger decodes them and appends
  * to a loglake table. Freshness is measured from each segment's due
  * time. The utilisation stays near half, where latency tracks the
  * per-batch cost rather than queueing. After the stream stops, every
  * committed version is read back by time travel. */
object Ingest {

  val SegmentMs = 100L
  val TriggerMs = 1000L
  /** Time-travel passes over the committed versions after the stream. */
  val ReadPasses = 2
  /** Versions a 20 s run commits on the reference machine (one per
    * micro-batch), which fixes the reads' tail percentile. */
  val DesignedVersions = 20
  val SteadyShare = 0.7
  val WarmupSegments = 20
  val Machines = Array("M1", "M2", "M3").map(UTF8String.fromString)
  val Sensors = Array("temperature", "pressure", "vibration").map(UTF8String.fromString)

  /** Readings of segment `i` (0-based publication index), in hundredths. */
  def readings(seed: Long, i: Int, rows: Int): Array[Int] = {
    val r = new scala.util.Random(seed * 1000003L + i)
    Array.fill(rows)(r.nextInt(10000))
  }

  def encode(seed: Long, i: Int, centi: Array[Int], dueEpochS: Double): Seq[(String, Array[Byte])] = {
    val r = new scala.util.Random(seed * 7919L + i)
    centi.indices.map { j =>
      val m = Machines(r.nextInt(3))
      (m.toString, AvroPlcCodec.encode(m, Sensors(r.nextInt(3)), centi(j) / 100.0,
        dueEpochS + j * 1e-4, 1))
    }
  }

  /** Checksum the table side computes: Σ trunc(reading × 100). */
  def centiSum(centi: Array[Int]): Long = centi.iterator.map(c => (c / 100.0 * 100).toLong).sum

  final case class Progress(atNs: Long, batchId: Long, endSeg: Long, rows: Long,
      durations: Map[String, Long])

  private val EndSeg = "\"maxSeg\"\\s*:\\s*(\\d+)".r

  final class Stream(run: Run, val wire: String, val table: String) {
    val events = new ConcurrentLinkedQueue[Progress]()
    private val spark = run.spark
    private var q: StreamingQuery = _
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val at = System.nanoTime()
        val p = e.progress
        if (q != null && p.id == q.id && p.sources.nonEmpty) {
          val end = Option(p.sources(0).endOffset).flatMap(o => EndSeg.findFirstMatchIn(o))
            .map(_.group(1).toLong).getOrElse(0L)
          events.add(Progress(at, p.batchId, end, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        }
      }
    }

    def start(): Unit = {
      spark.streams.addListener(listener)
      q = Streams.fromWire(spark.readStream.format("wirelog").load(wire))
        .filter(col("decode_ok")).drop("decode_ok")
        .writeStream.format("loglake").option("path", table)
        .option("checkpointLocation", run.dir(s"${new java.io.File(table).getName}-chk"))
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .start()
    }

    def runId: String = q.runId.toString

    def committed: Long = events.asScala.map(_.endSeg).maxOption.getOrElse(0L)

    def awaitCommitted(seg: Long, timeoutMs: Long): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (committed < seg && System.nanoTime() < deadline) {
        if (q.exception.isDefined) throw q.exception.get
        Thread.sleep(10)
      }
      committed >= seg
    }

    def stop(): Unit = {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  def apply(run: Run): Unit = {
    val spark = run.spark
    val rowsPerSeg = if (run.smoke) 100 else 1000
    val seed = run.seed
    var stream: Stream = null

    // Set-up: fresh topic + table, stream started, warm-up segments at
    // the steady cadence until committed, then time-travel reads of each
    // version. The first batches and reads run several times slower than
    // steady state (planning, codegen, JIT), so they belong here.
    val setupS = run.timedSetups(3) { i =>
      if (stream != null) stream.stop()
      stream = new Stream(run, run.dir(s"wire$i"), run.dir(s"table$i"))
      stream.start()
      (0 until WarmupSegments).foreach { k =>
        val c = readings(seed, k, rowsPerSeg)
        WireLog.append(stream.wire, encode(seed, k, c, System.currentTimeMillis() / 1000.0))
        Thread.sleep(SegmentMs)
      }
      run.check(stream.awaitCommitted(WarmupSegments, 60000), "warm-up segments not committed")
      run.check(aggAt(run, stream.table, LogLake.currentVersion(stream.table)).getLong(0) ==
        WarmupSegments.toLong * rowsPerSeg, "warm-up rows")
      LogLake.history(stream.table).foreach(m => aggAt(run, stream.table, m.version))
    }
    run.put("setup_s", setupS, "s")

    val total = (run.seconds * 1000L / SegmentMs).toInt
    val steadyN = (total * SteadyShare).toInt
    val segs = (0 until total).map(k => readings(seed, WarmupSegments + k, rowsPerSeg))
    // checksums by segment number (1-based): warm-up, steady, then the
    // whole backlog as one segment
    val segSums = (0 until WarmupSegments).map(k => centiSum(readings(seed, k, rowsPerSeg))) ++
      segs.take(steadyN).map(centiSum) :+ segs.drop(steadyN).map(centiSum).sum
    val prefix = segSums.scanLeft(0L)(_ + _)
    val lastSeg = segSums.size

    val dueNs = new Array[Long](total)
    val encNs = new java.util.concurrent.atomic.AtomicLong()
    val appendMs = new ConcurrentLinkedQueue[Double]()
    val lagMs = new ConcurrentLinkedQueue[Double]()
    @volatile var burstAt = 0L
    @volatile var genError: Throwable = null
    val t0 = System.nanoTime() + 200000000L
    val gen = new Thread(() => try {
      var expect = WarmupSegments + 1L
      /** Publishes generation indices `ks` as one segment. */
      def publish(ks: Seq[Int]): Unit = run.tracer.detached("op:publish") {
        val e0 = System.nanoTime()
        val recs = run.tracer.span("wire.encode") {
          ks.flatMap(k => encode(seed, WarmupSegments + k, segs(k), System.currentTimeMillis() / 1000.0))
        }
        val a0 = System.nanoTime()
        encNs.addAndGet(a0 - e0)
        val n = run.tracer.span("wirelog.append")(WireLog.append(stream.wire, recs))
        appendMs.add((System.nanoTime() - a0) / 1e6)
        if (n != expect) throw new IllegalStateException(s"segment $n published, expected $expect")
        expect += 1
      }
      for (k <- 0 until total) {
        dueNs(k) = t0 + k * SegmentMs * 1000000L
        if (k < steadyN) {
          val wait = dueNs(k) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          lagMs.add((System.nanoTime() - dueNs(k)) / 1e6)
          publish(Seq(k))
        }
      }
      // outage over: the buffered backlog goes out at once, as one segment
      val end = t0 + total * SegmentMs * 1000000L
      val wait = end - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      burstAt = System.nanoTime()
      publish(steadyN until total)
    } catch { case e: Throwable => genError = e }, "ingest-generator")
    gen.setDaemon(true)
    gen.start()

    gen.join(60000)
    if (genError != null) throw genError
    run.check(stream.awaitCommitted(lastSeg, 90000), s"segment $lastSeg never committed")
    stream.stop()

    // exactly-once: the table holds every generated row exactly once
    val fin = LogLake.snapshot(spark, stream.table)
      .agg(count(lit(1)), sum((col("reading") * 100).cast("long"))).collect()(0)
    val rows = (WarmupSegments + total).toLong * rowsPerSeg
    run.check(fin.getLong(0) == rows, s"table rows ${fin.getLong(0)} != generated $rows")
    run.check(fin.getLong(1) == prefix.last, s"reading checksum ${fin.getLong(1)} != ${prefix.last}")

    // Reads, once the stream has stopped: time travel to every version the
    // stream committed, in seeded order, ReadPasses times. Each version must
    // hold a whole prefix of the published segments (atomic, ordered,
    // exactly-once commits), and rows never shrink from one version to
    // the next.
    val segRows = Seq.fill(WarmupSegments + steadyN)(rowsPerSeg.toLong) :+
      (total - steadyN).toLong * rowsPerSeg
    val prefixRows = segRows.scanLeft(0L)(_ + _)
    val versions = LogLake.history(stream.table).map(_.version)
    run.settle()
    val order = new scala.util.Random(seed).shuffle(Seq.fill(ReadPasses)(versions).flatten)
    val rowsAt = scala.collection.mutable.Map[Long, Long]()
    val reads = order.zipWithIndex.map { case (v, i) =>
      val traced = i % 2 == 0
      (run.op("read", traced) {
        run.tracer.span("loglake.active_state")(LogLake.activeState(stream.table, Some(v)))
        val a = run.tracer.span("loglake.snapshot_read")(aggAt(run, stream.table, v))
        rowsAt(v) = a.getLong(0)
        val k = prefixRows.indexOf(a.getLong(0))
        val ok = k > 0 && prefix(k) == a.getLong(1)
        if (!ok) run.notes += s"version $v holds ${a.getLong(0)} rows, sum ${a.getLong(1)}: not a segment prefix"
        ok
      }, traced)
    }
    val counts = versions.flatMap(rowsAt.get)
    run.check(counts.zip(counts.drop(1)).forall { case (a, b) => a <= b }, "rows shrank between versions")

    val ev = stream.events.asScala.toSeq
    val batches = ev.map(p => (p.endSeg, p.atNs))
    val steadySegs = (0 until steadyN).map(k => (WarmupSegments + k + 1L, dueNs(k)))
    val fresh = Stats.freshness(steadySegs, batches).map(_ / 1e6)
    run.check(fresh.size == steadyN, s"only ${fresh.size}/$steadyN steady segments matched a batch")
    // catch-up: the batch that admitted the backlog segment, from its
    // start (or the burst, if later) to its commit
    val catchupS = ev.filter(_.endSeg >= lastSeg).sortBy(_.atNs).headOption.map { b =>
      val start = b.atNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L
      (b.atNs - math.max(start, burstAt)) / 1e9
    }.getOrElse(0.0)
    val backlogRows = (total - steadyN).toLong * rowsPerSeg

    run.latency("write", fresh, steadyN)
    run.latency("read", reads.map(_._1), ReadPasses * DesignedVersions)
    // capacity: median over the steady-phase batches of rows per second
    // of batch execution (one slow batch moves a median, not the figure)
    val rates = ev.filter(b => b.endSeg > WarmupSegments && b.endSeg < lastSeg && b.rows > 0)
      .map(b => b.rows * 1e3 / math.max(1L, b.durations.getOrElse("triggerExecution", 0L)))
    run.put("throughput_per_s", if (rates.isEmpty) 0.0 else Stats.median(rates), "1/s")
    val files = TableFiles.count(stream.table)
    run.put("stored_bytes_per_row", files.bytes.toDouble / fin.getLong(0), "B")
    run.notes += s"write = freshness of $steadyN steady segments (due time to commit progress event); " +
      s"throughput = median rows per second of steady batch execution over ${rates.size} batches; " +
      s"catch-up of $backlogRows backlog rows took " +
      f"$catchupS%.3f s"
    val lag = lagMs.asScala.toSeq
    if (lag.nonEmpty && lag.max > 250) run.notes += f"generator ran late: max lag ${lag.max}%.1f ms"

    if (run.trace) {
      run.drainListeners()
      val dataBatches = ev.filter(_.rows > 0)
      def meanDur(k: String) =
        if (dataBatches.isEmpty) 0.0 else dataBatches.map(_.durations.getOrElse(k, 0L)).sum.toDouble / dataBatches.size
      run.put("stream.latest_offset_ms", meanDur("latestOffset"), "ms")
      run.put("stream.query_planning_ms", meanDur("queryPlanning"), "ms")
      run.put("stream.add_batch_ms", meanDur("addBatch"), "ms")
      run.put("stream.wal_commit_ms", meanDur("walCommit"), "ms")
      run.put("stream.commit_offsets_ms", meanDur("commitOffsets"), "ms")
      run.put("stream.batches", dataBatches.size, "count")
      run.put("stream.rows_per_batch",
        if (dataBatches.isEmpty) 0.0 else dataBatches.map(_.rows).sum.toDouble / dataBatches.size, "count")
      val window = (ev.map(_.atNs).max - t0) / 1e6
      run.put("stream.catchup_rows_per_s", if (catchupS > 0) backlogRows / catchupS else 0.0, "1/s")
      run.put("stream.busy_ratio", ev.map(_.durations.getOrElse("triggerExecution", 0L)).sum / window, "ratio")
      run.put("wirelog.append_ms", Stats.median(appendMs.asScala.toSeq), "ms")
      run.put("gen.lag_ms", if (lag.isEmpty) 0.0 else Stats.median(lag), "ms")
      run.put("wire.encode_us_per_row", encNs.get / 1e3 / (total.toLong * rowsPerSeg), "us")
      // scheduler/executor per micro-batch: the stream's jobs by batch id
      val jobs = run.ledger.get.snapshotJobs
      val byBatch = jobs.filter(_.group == stream.runId).groupBy(_.streamBatch)
      val perBatch = dataBatches.flatMap { b =>
        byBatch.get(Some(b.batchId)).map { js =>
          (b.atNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L, b.atNs, js)
        }
      }
      Layers.emitSchedExec(run, perBatch)
      run.traceOverhead(reads.toSeq)
      val ops = Layers.ops(run)
      Layers.emitCatalyst(run, ops.filter(_.name == "op:read"))
      Layers.emitSelf(run, ops, jobs)
      run.put("loglake.active_state_ms", Layers.meanSpanMs(run, "loglake.active_state"), "ms")
      run.put("loglake.append_ms", meanDur("addBatch"), "ms")
      LakeCounts.emit(run, Seq(stream.table), files.bytes, userBytes(seed, rowsPerSeg, WarmupSegments + total))
    }
  }

  /** Row count and Σ trunc(reading × 100) of `table` at version `v`. */
  def aggAt(run: Run, table: String, v: Long): org.apache.spark.sql.Row =
    LogLake.snapshot(run.spark, table, Some(v))
      .agg(count(lit(1)), coalesce(sum((col("reading") * 100).cast("long")), lit(0L)))
      .collect()(0)

  /** Wire-encoded bytes of every published row: the user's data volume. */
  def userBytes(seed: Long, rowsPerSeg: Int, generated: Int): Long =
    (0 until generated).map(k => encode(seed, k, readings(seed, k, rowsPerSeg), 0.0).map(_._2.length.toLong).sum).sum
}
