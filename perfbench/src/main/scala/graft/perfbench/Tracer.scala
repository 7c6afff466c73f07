package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One micro-batch's progress, as `StreamingQueryListener` reports it. */
final case class Batch(startMs: Double, durations: Map[String, Long], inputRows: Long,
    state: Map[String, Double])

/** Everything the traced run learns about one query call. Listener events
  * are attributed to the query that is current when the bus delivers them;
  * the runner drains the bus at every query boundary, so that is the query
  * that caused them. */
final class QueryRec(val name: String, val module: String, val traceId: Int) {
  var startMs, buildEndMs, endMs = 0.0
  val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val catalyst = ArrayBuffer.empty[(String, Double, Double)]
  val stages = ArrayBuffer.empty[(Int, Double, Double)]
  val batches = ArrayBuffer.empty[Batch]
  var ok = false
  var error: String = _
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Records spans and engine counters around each query call by registering
  * Spark's public listeners: `QueryExecutionListener` (Catalyst phases),
  * `SparkListener` (jobs, stages, tasks, AQE re-plans),
  * `StreamingQueryListener` (micro-batch progress and state-store
  * metrics), plus `CodegenMetrics` and the JVM's GC and memory beans.
  * Nothing in the engine changes. */
final class Tracer(sc: SparkContext) {
  @volatile private var current: QueryRec = _
  private val lock = new Object
  private val stageOwner = mutable.Map.empty[Int, QueryRec]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[(Int, Int), ArrayBuffer[Double]]

  // epoch milliseconds with sub-millisecond resolution, on the same clock
  // as the listeners' millisecond timestamps
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def owner(stageId: Int): QueryRec = stageOwner.getOrElse(stageId, current)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      Option(current).foreach(_.m("exec.jobs") += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      if (current != null) stageOwner(e.stageInfo.stageId) = current
      e.stageInfo.submissionTime.foreach(stageSubmitMs(e.stageInfo.stageId) = _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val q = owner(e.stageId)
      if (q != null) {
        val m = q.m
        val info = e.taskInfo
        m("exec.tasks") += 1
        if (!info.successful) m("exec.failed_tasks") += 1
        stageSubmitMs.get(e.stageId).foreach { s =>
          m("exec.task_wait_s") += math.max(0L, info.launchTime - s) / 1e3
        }
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          info.duration / 1e3
        val tm = e.taskMetrics
        if (tm != null) {
          m("exec.task_run_s") += tm.executorRunTime / 1e3
          m("exec.task_cpu_s") += tm.executorCpuTime / 1e9
          m("exec.task_gc_s") += tm.jvmGCTime / 1e3
          m("exec.peak_exec_mb") = math.max(m("exec.peak_exec_mb"), tm.peakExecutionMemory / 1048576.0)
          m("spill.mem_mb") += tm.memoryBytesSpilled / 1048576.0
          m("spill.disk_mb") += tm.diskBytesSpilled / 1048576.0
          val sw = tm.shuffleWriteMetrics
          m("shuffle.write_mb") += sw.bytesWritten / 1048576.0
          m("shuffle.records") += sw.recordsWritten
          m("shuffle.write_s") += sw.writeTime / 1e9
          val sr = tm.shuffleReadMetrics
          m("shuffle.read_mb") += sr.totalBytesRead / 1048576.0
          m("shuffle.fetch_wait_s") += sr.fetchWaitTime / 1e3
          m("scan.input_mb") += tm.inputMetrics.bytesRead / 1048576.0
          m("scan.input_rows") += tm.inputMetrics.recordsRead
          m("output.write_mb") += tm.outputMetrics.bytesWritten / 1048576.0
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      val q = owner(si.stageId)
      val durs = stageTasks.remove((si.stageId, si.attemptNumber())).getOrElse(ArrayBuffer.empty)
      if (q != null) {
        val m = q.m
        m("exec.stages") += 1
        if (si.attemptNumber() > 0) m("exec.stage_retries") += 1
        for (s <- si.submissionTime; c <- si.completionTime) {
          q.stages += ((si.stageId, s.toDouble, c.toDouble))
          m("exec.stage_wall_s") += (c - s) / 1e3
        }
        if (durs.nonEmpty) {
          val sorted = durs.sorted
          m("exec.straggler_s") += sorted.last - sorted(sorted.size / 2)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => lock.synchronized {
        Option(current).foreach(_.m("catalyst.aqe_replans") += 1)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = lock.synchronized {
      Option(current).foreach { q =>
        q.m("catalyst.executions") += 1
        qe.tracker.phases.foreach { case (phase, p) =>
          q.catalyst += ((phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
          val key = phase match {
            case "analysis" => "catalyst.analysis_s"
            case "optimization" => "catalyst.optimizer_s"
            case _ => "catalyst.planning_s"
          }
          q.m(key) += p.durationMs / 1e3
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        Option(current).foreach { q =>
          val p = e.progress
          val ops = p.stateOperators.toSeq
          def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) = ops.map(f).sum
          val state = Map(
            "commit_ms" -> sum(_.commitTimeMs.toDouble),
            "update_ms" -> sum(_.allUpdatesTimeMs.toDouble),
            "removal_ms" -> sum(_.allRemovalsTimeMs.toDouble),
            "rows_total" -> sum(_.numRowsTotal.toDouble),
            "rows_updated" -> sum(_.numRowsUpdated.toDouble),
            "rows_dropped_by_watermark" -> sum(_.numRowsDroppedByWatermark.toDouble),
            "memory_mb" -> sum(_.memoryUsedBytes / 1048576.0),
            "partitions" -> sum(_.numShufflePartitions.toDouble),
            "rocksdb_sst_mb" -> sum(o => Option(o.customMetrics.get("rocksdbSstFileSize"))
              .map(_.longValue / 1048576.0).getOrElse(0.0)))
          q.batches += Batch(
            java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.numInputRows, state)
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Adds the context-wide listener; Catalyst and streaming listeners
    * belong to a session and are added per session with [[attach]]. */
  def install(): Unit = sc.addSparkListener(sparkListener)

  def uninstall(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
  }

  def attach(session: SparkSession): Unit = {
    session.listenerManager.register(qeListener)
    session.streams.addListener(streamListener)
  }

  def detach(session: SparkSession): Unit = {
    PerfbenchBus.drain(sc)
    session.listenerManager.unregister(qeListener)
    session.streams.removeListener(streamListener)
  }

  /** Opens a query: later events are attributed to `q`. */
  def begin(q: QueryRec): Unit = {
    PerfbenchBus.drain(sc)
    lock.synchronized { current = q }
    q.m("codegen.compiles") = -CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    q.m("codegen.source_kb") = -CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    q.m("jvm.gc_s") = -gcMs() / 1e3
  }

  /** Closes a query after its last action: waits for the bus to deliver
    * the query's events, then stops attributing. */
  def end(q: QueryRec): Unit = {
    PerfbenchBus.drain(sc)
    lock.synchronized {
      current = null
      stageOwner.filterInPlace((_, v) => v ne q)
      stageSubmitMs.clear()
    }
    val compiles = q.m("codegen.compiles") + CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val sources = q.m("codegen.source_kb") + CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    // the histograms keep a sample, not a sum: estimate the query's total
    // as its number of compilations times the sampled mean
    q.m("codegen.compiles") = compiles
    q.m("codegen.compile_s") =
      compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3
    q.m("codegen.source_kb") =
      sources * CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMean / 1024
    q.m("jvm.gc_s") += gcMs() / 1e3
  }
}

object Tracer {
  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)
}
