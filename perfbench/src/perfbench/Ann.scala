package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.AnnLake
import graft.sources.LogLake

/** `ann`: closed loop, one client, over a CDF-enabled loglake corpus of
  * seeded clustered embeddings with a persisted ANN index. Reads are
  * `AnnLake.searchIndex` over fixed-size query batches; every
  * [[WriteEvery]]th op appends new vectors and runs one
  * `AnnLake.maintainStream` epoch. Recall@5 is scored against exact
  * brute-force top-5 over the model corpus. */
object Ann {

  val Dim = 64
  val Clusters = 10
  val QueryBatch = 8
  val AppendBatch = 16
  val WriteEvery = 10
  val MinRecall = 0.75
  /** Searches per second on the reference machine (fixes the tail
    * percentile each run reports). */
  val DesignedSearchesPerSecond = 0.8

  final class Gen(seed: Long) {
    private val r = new scala.util.Random(seed)
    private val centers = Array.fill(Clusters)(unit(Array.fill(Dim)(r.nextGaussian())))
    def vector(): Array[Float] = {
      val c = centers(r.nextInt(Clusters))
      Array.tabulate(Dim)(j => (c(j) + 0.6 * r.nextGaussian() / math.sqrt(Dim)).toFloat)
    }
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  def unitF(v: Array[Float]): Array[Double] = unit(v.map(_.toDouble))

  /** Exact top-k ids by cosine similarity. */
  def exactTopK(q: Array[Double], corpus: collection.Map[Long, Array[Double]], k: Int): Set[Long] =
    corpus.iterator.map { case (id, v) =>
      var s = 0.0; var j = 0
      while (j < Dim) { s += q(j) * v(j); j += 1 }
      (id, s)
    }.toSeq.sortBy(x => (-x._2, x._1)).take(k).map(_._1).toSet

  def apply(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val n = if (run.smoke) 300 else 2000
    val gen = new Gen(run.seed)
    val base = (0 until n).map(i => (i.toLong, gen.vector()))
    def df(rows: Seq[(Long, Array[Float])]): DataFrame = rows.toDF("vec_id", "embedding").repartition(1)

    var corpus, index, chk: String = null
    var fromV = 0L
    /** Appends `rows` to the corpus and folds them into the index with
      * one maintenance epoch. */
    def appendAndMaintain(rows: Seq[(Long, Array[Float])]): Boolean = {
      run.tracer.span("loglake.append")(LogLake.append(spark, corpus, df(rows)))
      run.tracer.span("ann.maintain") {
        val q = AnnLake.maintainStream(spark, corpus, index, chk, fromV, Trigger.AvailableNow())
        run.tracer.currentOp.foreach(id => run.runIdOp(q.runId.toString) = id)
        q.awaitTermination()
        q.exception.isEmpty
      }
    }
    def search(qs: Seq[(Long, Array[Float])]): Map[Long, Seq[Long]] =
      run.tracer.span("ann.search") {
        AnnLake.searchIndex(spark, index, df(qs)).select("q_id", "neighbor_id").collect()
      }.toSeq.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)) }

    val warmGen = new Gen(run.seed + 1)
    val setupS = run.timedSetups(3) { i =>
      corpus = run.dir(s"corpus$i"); index = run.dir(s"index$i"); chk = run.dir(s"maint$i")
      LogLake.create(spark, corpus, df(base))
      LogLake.setTableProperties(corpus, Map("loglake.enableChangeDataFeed" -> "true"))
      fromV = LogLake.currentVersion(corpus)
      AnnLake.buildIndex(spark, index, LogLake.snapshot(spark, corpus))
      search((0 until QueryBatch).map(j => (-1L - j, warmGen.vector())))
      search((0 until QueryBatch).map(j => (-1L - j, warmGen.vector())))
    }
    run.put("setup_s", setupS, "s")

    val model = mutable.LinkedHashMap[Long, Array[Double]]() ++= base.map { case (id, v) => id -> unitF(v) }
    val bytes0 = TableFiles.bytes(Seq(corpus, index))
    var userBytes = 0L
    var nextId = n.toLong
    var nextQ = 1000000000L
    val recalls = mutable.ArrayBuffer[Double]()
    val reads = mutable.ArrayBuffer[(Double, Boolean)]()
    val writes = mutable.ArrayBuffer[(Double, Boolean)]()
    val t0 = System.nanoTime()
    val tEnd = t0 + run.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < tEnd || writes.isEmpty) {
      val traced = (i / 2) % 2 == 0 // alternates within reads and within writes
      if (i % WriteEvery == WriteEvery - 1) {
        val rows = (0 until AppendBatch).map { _ => nextId += 1; (nextId, gen.vector()) }
        writes += ((run.op("append_maintain", traced) {
          appendAndMaintain(rows)
        }, traced))
        rows.foreach { case (id, v) => model(id) = unitF(v) }
        userBytes += rows.size * (8L + 4L * Dim)
      } else {
        val qs = (0 until QueryBatch).map { _ => nextQ += 1; (nextQ, gen.vector()) }
        var got: Map[Long, Seq[Long]] = Map.empty
        reads += ((run.op("search", traced) {
          got = search(qs)
          qs.forall { case (q, _) =>
            got.get(q).exists(ns => ns.size == 5 && ns.distinct.size == 5 && ns.forall(model.contains))
          }
        }, traced))
        qs.foreach { case (q, v) =>
          val exact = exactTopK(unitF(v), model, 5)
          recalls += (exact & got.getOrElse(q, Nil).toSet).size / 5.0
        }
      }
      i += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9

    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    run.check(recall >= MinRecall, f"recall@5 $recall%.3f below $MinRecall")
    val rows = LogLake.snapshot(spark, corpus).count()
    run.check(rows == model.size, s"corpus rows $rows != model ${model.size}")
    val indexed = LogLake.snapshot(spark, s"$index/postings").select("vec_id").distinct().count()
    run.check(indexed == model.size, s"index covers $indexed of ${model.size} vectors")

    val designedReads = (run.seconds * DesignedSearchesPerSecond).toInt
    run.latency("read", reads.map(_._1).toSeq, designedReads)
    run.latency("write", writes.map(_._1).toSeq, designedReads / (WriteEvery - 1))
    run.put("throughput_per_s", i / elapsed, "1/s")
    val bytes = TableFiles.bytes(Seq(corpus, index))
    run.put("stored_bytes_per_row", bytes.toDouble / model.size, "B")
    run.notes += f"$i ops: ${reads.size} searches of $QueryBatch queries, ${writes.size} " +
      f"append+maintain epochs of $AppendBatch vectors; recall@5 $recall%.3f"
    if (run.trace) {
      run.drainListeners()
      run.traceOverhead(reads.toSeq)
      val jobs = run.ledger.get.snapshotJobs
      val ops = Layers.ops(run)
      Layers.emitSchedExec(run, ops.map(o => (o.start, o.end, Layers.jobsOf(run, o, jobs))))
      Layers.emitCatalyst(run, ops)
      Layers.emitSelf(run, ops, jobs)
      def jobsPer(kind: String) = {
        val os = ops.filter(_.name == s"op:$kind")
        if (os.isEmpty) 0.0 else os.map(o => Layers.jobsOf(run, o, jobs).size).sum.toDouble / os.size
      }
      run.put("ann.search_ms", Layers.meanSpanMs(run, "ann.search"), "ms")
      run.put("ann.maintain_ms", Layers.meanSpanMs(run, "ann.maintain"), "ms")
      run.put("ann.jobs_per_search", jobsPer("search"), "count")
      run.put("ann.jobs_per_epoch", jobsPer("append_maintain"), "count")
      run.put("ann.recall_at_5", recall, "ratio")
      run.put("loglake.append_ms", Layers.meanSpanMs(run, "loglake.append"), "ms")
      LakeCounts.emit(run, Seq(corpus, index), bytes - bytes0, userBytes)
    }
  }
}
