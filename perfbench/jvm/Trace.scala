package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark's public listeners report while the benchmark's
  * traced passes run. Nothing here reaches into the program under test:
  * every number comes from a `QueryExecutionListener`, a `SparkListener`
  * or a `StreamingQueryListener`, plus the runner's own spans. The raw
  * records are dumped as JSON; run.py builds the span tree and the
  * per-layer metrics from them.
  *
  * All times are epoch milliseconds (doubles), the unit Spark's events
  * carry, so runner spans and listener events share one clock. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = t0EpochMs + (System.nanoTime() - t0Nanos) / 1e6

  private val spans = new ConcurrentLinkedQueue[Rec]()
  private val jobs = new ConcurrentLinkedQueue[Rec]()
  private val qes = new ConcurrentLinkedQueue[Rec]()
  private val batches = new ConcurrentLinkedQueue[Rec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageAgg = mutable.Map.empty[(Int, Int), StageAgg]
  private var nextId = 0L
  @volatile private var on = false

  def enabled: Boolean = on

  /** A runner span: `kind` is workload, pass, op, fn or action. */
  def span(kind: String, name: String, parent: Long, start: Double,
      end: Double, id: Long = newId()): Long = {
    if (on || kind == "workload" || kind == "pass")
      spans.add(Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start" -> start, "end" -> end))
    id
  }
  def newId(): Long = synchronized { nextId += 1; nextId }

  /** The analysis phase a registered fn already ran when it built its
    * DataFrame; later phases are reported by the action's listener. */
  def phasesOf(qe: QueryExecution, op: Long): Unit =
    if (on) qes.add(qeRecord(qe, op, "fn"))

  private def qeRecord(qe: QueryExecution, op: Long, func: String)
      : Rec = {
    val ph = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start" -> p.startTimeMs.toDouble,
        "end" -> p.endTimeMs.toDouble)
    }
    val nodes = if (func == "fn") Seq.empty else planNodes(qe.executedPlan)
    val bcast = nodes.collect { case b: BroadcastExchangeExec => b }
    Map("op" -> op, "func" -> func, "end" -> nowMs(),
      "phases" -> ph,
      "graft_nodes" -> nodes.map(graftCount).sum,
      "broadcasts" -> bcast.size,
      "broadcast_bytes" -> bcast.map(b =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L)).sum,
      "obs_scans" -> nodes.count {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.getName.startsWith("events"))
        case _ => false
      })
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      qes.add(qeRecord(qe, -1L, f))
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = qes.add(qeRecord(qe, -1L, f))
  }

  private val sl = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
      val op = Option(e.properties)
        .flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toLong).getOrElse(-1L)
      jobs.add(Map("job" -> e.jobId, "op" -> op,
        "start" -> e.time.toDouble, "phase" -> "start"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add(Map("job" -> e.jobId, "end" -> e.time.toDouble,
        "phase" -> "end"))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = (e.stageId, e.stageAttemptId)
      stageAgg.synchronized {
        stageAgg.getOrElseUpdate(k, new StageAgg).add(e)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val agg = stageAgg.synchronized {
        stageAgg.remove((s.stageId, s.attemptNumber())).getOrElse(new StageAgg)
      }
      jobs.add(Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "job" -> stageJob.getOrDefault(s.stageId, -1),
        "start" -> s.submissionTime.getOrElse(0L).toDouble,
        "end" -> s.completionTime.getOrElse(0L).toDouble,
        "phase" -> "stage", "failed" -> s.failureReason.isDefined,
        "m" -> agg.record))
    }
  }

  private val sql = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(Map("query" -> p.runId.toString,
        "batch" -> p.batchId, "start" -> start,
        "end" -> (start + p.batchDuration), "input_rows" -> p.numInputRows,
        "addbatch_ms" -> d.getOrElse("addBatch", 0L),
        "planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "commit_ms" -> (d.getOrElse("walCommit", 0L) +
          d.getOrElse("commitOffsets", 0L)),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  /** Listeners on or off; the off passes give the tracing overhead. */
  def set(enable: Boolean): Unit = if (enable != on) {
    drain()
    if (enable) {
      spark.listenerManager.register(qel)
      spark.sparkContext.addSparkListener(sl)
      spark.streams.addListener(sql)
    } else {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
      spark.streams.removeListener(sql)
    }
    on = enable
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def records: Rec = {
    drain()
    def arr(q: ConcurrentLinkedQueue[Rec]) = q.asScala.toSeq
    Map("spans" -> arr(spans), "jobs" -> arr(jobs), "qes" -> arr(qes),
      "batches" -> arr(batches))
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  /** One JSON object of a dump. */
  type Rec = Map[String, Any]

  /** Writes the dumps; Spark ships Jackson and its Scala module. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Local property naming the running op; jobs carry it in their start
    * event, and stream threads inherit it from the thread that starts
    * them. */
  val OpProperty = "perfbench.op"

  def planNodes(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case n => n }

  /** graft-defined physical nodes plus graft-defined expressions. */
  def graftCount(n: SparkPlan): Int = {
    def isGraft(o: AnyRef) = o.getClass.getName.startsWith("graft.")
    (if (isGraft(n)) 1 else 0) +
      n.expressions.map(_.collect { case e if isGraft(e) => 1 }.sum).sum
  }

  /** Per-stage task totals, folded as task-end events arrive. */
  final class StageAgg {
    private val dur = mutable.ArrayBuffer.empty[Long]
    private var runMs, cpuNs, gcMs, inBytes, inRecs, shW, shR, waitMs,
      spill, outBytes, outRecs, retries, failed = 0L
    def add(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      if (i.attemptNumber > 0) retries += 1
      if (i.failed || i.killed) failed += 1
      val m = e.taskMetrics
      if (m != null) {
        dur += m.executorRunTime
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        inBytes += m.inputMetrics.bytesRead
        inRecs += m.inputMetrics.recordsRead
        shW += m.shuffleWriteMetrics.bytesWritten
        shR += m.shuffleReadMetrics.totalBytesRead
        waitMs += m.shuffleReadMetrics.fetchWaitTime
        spill += m.diskBytesSpilled
        outBytes += m.outputMetrics.bytesWritten
        outRecs += m.outputMetrics.recordsWritten
      }
    }
    def record: Rec = {
      val s = dur.sorted
      Map("tasks" -> s.size, "task_ms" -> runMs,
        "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "in_bytes" -> inBytes,
        "in_rows" -> inRecs, "shuffle_write_bytes" -> shW,
        "shuffle_read_bytes" -> shR, "shuffle_wait_ms" -> waitMs,
        "spill_bytes" -> spill, "out_bytes" -> outBytes,
        "out_rows" -> outRecs, "retries" -> retries, "failed" -> failed,
        "task_max_ms" -> s.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (s.isEmpty) 0L else s(s.size / 2)))
    }
  }
}
