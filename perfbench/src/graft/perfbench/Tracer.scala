package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the engine through Spark's public listeners:
  * one record per action (with its `QueryPlanningTracker` phases and the
  * executed plan's shape), per stage (with its tasks' metrics summed), per
  * job start and per streaming micro-batch. Records stay in memory while
  * the traced passes run and are written once at the end ([[toJson]]);
  * `layers.py` assigns them to queries by time, since the client runs one
  * query at a time, and builds the span tree there.
  */
final class Tracer(spark: SparkSession) {

  private val actions = new ConcurrentLinkedQueue[ObjectNode]()
  private val stages = new ConcurrentLinkedQueue[ObjectNode]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val batches = new ConcurrentLinkedQueue[ObjectNode]()
  private val events = new AtomicLong(0)
  private val om = new ObjectMapper()

  /** Task metrics summed per (stage, attempt) until the stage completes. */
  private final class StageSum {
    var tasks, failures, runMs, cpuNs, gcMs, inBytes, inRows, outBytes,
        outRows, shWrite, shRead, fetchWaitMs, spillDisk, spillMem = 0L
  }
  private val open =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageSum]()

  private object plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe, 0L, ok = false)
  }

  private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    events.incrementAndGet()
    val o = om.createObjectNode()
    // the listener runs after the action, on the bus thread: the action is
    // placed in time by its last planning phase, which ran inside it
    val phases = qe.tracker.phases
    val at = if (phases.isEmpty) System.currentTimeMillis()
             else phases.values.map(_.endTimeMs).max
    o.put("start_ms", at); o.put("end_ms", at)
    o.put("duration_s", durationNs / 1e9)
    o.put("ok", ok)
    val ph = o.putObject("phases")
    phases.foreach { case (name, s) =>
      val p = ph.putObject(name)
      p.put("start_ms", s.startTimeMs); p.put("end_ms", s.endTimeMs)
    }
    val plan: SparkPlan =
      try qe.executedPlan catch { case _: Throwable => null }
    if (plan != null) {
      val nodes = plans.collectWithSubqueries(plan) { case p => p }
      o.put("exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]))
      o.put("smj", nodes.count(_.isInstanceOf[SortMergeJoinExec]))
      o.put("write", nodes.exists(n =>
        n.nodeName.contains("Write") || n.nodeName.contains("InsertInto") ||
          n.nodeName.contains("SaveIntoDataSource") ||
          n.getClass.getSimpleName.contains("DataWritingCommand")))
      o.put("files", nodes.flatMap(_.metrics.get("numFiles")).map(_.value).sum)
    }
    actions.add(o)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet(); jobs.add(e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val s = open.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageSum)
      s.synchronized {
        s.tasks += 1
        if (e.reason != org.apache.spark.Success) s.failures += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inBytes += m.inputMetrics.bytesRead; s.inRows += m.inputMetrics.recordsRead
          s.outBytes += m.outputMetrics.bytesWritten
          s.outRows += m.outputMetrics.recordsWritten
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.shRead += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillDisk += m.diskBytesSpilled; s.spillMem += m.memoryBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val i = e.stageInfo
      val s = Option(open.remove((i.stageId, i.attemptNumber()))).getOrElse(new StageSum)
      val o = om.createObjectNode()
      o.put("start_ms", i.submissionTime.getOrElse(0L))
      o.put("end_ms", i.completionTime.getOrElse(0L))
      s.synchronized {
        o.put("tasks", s.tasks); o.put("task_failures", s.failures)
        o.put("run_s", s.runMs / 1e3); o.put("cpu_s", s.cpuNs / 1e9)
        o.put("gc_s", s.gcMs / 1e3)
        o.put("in_bytes", s.inBytes); o.put("in_rows", s.inRows)
        o.put("out_bytes", s.outBytes); o.put("out_rows", s.outRows)
        o.put("shuffle_write", s.shWrite); o.put("shuffle_read", s.shRead)
        o.put("fetch_wait_s", s.fetchWaitMs / 1e3)
        o.put("spill_disk", s.spillDisk); o.put("spill_mem", s.spillMem)
      }
      stages.add(o)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      val o = om.createObjectNode()
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      o.put("start_ms", start); o.put("end_ms", start + p.batchDuration)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      o.put("add_batch_s", d.getOrElse("addBatch", 0L) / 1e3)
      o.put("wal_commit_s",
        (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)) / 1e3)
      o.put("state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      o.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      o.put("input_rows", p.numInputRows)
      o.put("run_id", p.runId.toString)
      batches.add(o)
    }
  }

  def attach(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Stops recording once the listener bus has gone quiet (events are
    * delivered asynchronously, after the action that caused them). */
  def detach(): Unit = {
    var last = -1L
    var waited = 0
    while (events.get() != last && waited < 5000) {
      last = events.get(); Thread.sleep(200); waited += 200
    }
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def toJson(): ObjectNode = {
    val o = om.createObjectNode()
    val a = o.putArray("actions"); actions.asScala.foreach(a.add)
    val s = o.putArray("stages"); stages.asScala.foreach(s.add)
    val j = o.putArray("jobs"); jobs.asScala.foreach(t => j.add(t.longValue))
    val b = o.putArray("batches"); batches.asScala.foreach(b.add)
    o
  }
}
