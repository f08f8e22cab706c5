package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one measurement harness of the graft mains: the session they run
  * in, how a query is timed, how reps are summarized, and the listener pair
  * that records what a measured rep did per stage and per stream batch.
  */
object Measure {

  /** The shared engine profile ([[graft.SessionProfile]]) at
    * SPARK_GRAFT_CPUS cores with `conf` applied on top, logging at WARN:
    * a number taken in one main compares with the same query's number in
    * any other. */
  def session(conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = graft.SessionProfile.local(graft.SessionProfile.toolCpus)
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `[sfDir] [name…]`: the first argument is the data directory when it
    * is a directory; otherwise every argument is a query name and the data
    * directory is `defaultSf`. */
  def sfAndNames(args: Seq[String], defaultSf: String): (String, Seq[String]) =
    args.headOption match {
      case Some(a) if new java.io.File(a).isDirectory => (a, args.tail)
      case _ => (defaultSf, args)
    }

  /** The result of `body` and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds to build the frame and run it into the `noop` sink, so the
    * whole plan executes (a bare `count()` lets Catalyst prune). A failure
    * goes to `onFailure`; the seconds up to it are still returned when
    * `onFailure` does not rethrow. */
  def time(build: => DataFrame,
           onFailure: Throwable => Unit = e => throw e): Double =
    timed {
      try build.write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => onFailure(e) }
    }._2

  /** True median: an even count averages the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** One completed stage. `jobId` is the job that submitted it. `taskMs`
    * is the summed executorRunTime; `deserMs` and `resultSerMs` are the
    * summed task time spent deserializing the task and serializing its
    * result, which executorRunTime leaves out. `fetchMs` sums, over the
    * tasks whose result the driver fetched from a block, the time from the
    * start of that fetch to the task's finish. */
  final case class StageRow(jobId: Int, stageId: Int, name: String,
                            wallMs: Long, taskMs: Long, gcMs: Long, tasks: Int,
                            shufReadMB: Double, shufWriteMB: Double,
                            inputMB: Double, deserMs: Long, resultSerMs: Long,
                            fetchMs: Long)

  /** One stream micro-batch's progress; `durationMs` largest first. */
  final case class BatchRow(stream: String, batchId: Long, rows: Long,
                            sink: String, durationMs: Seq[(String, Long)])

  /** What `body` did: its result, a row per completed stage, the number of
    * stages submitted, a row per stream batch, and the command of every OS
    * process the JVM started meanwhile ([[processStarts]]). */
  final case class Capture[T](result: T, stages: Seq[StageRow],
                              submitted: Int, batches: Seq[BatchRow],
                              processes: Seq[String])

  private val SentinelKey = "graft.measure.sentinel"
  private val FlushTimeoutSec = 60L

  /** Records the stage and stream events of one [[capture]]. Stage events
    * count only between the end of the "open" sentinel job and the start
    * of the "close" one; stream events only for streams started in the
    * body. Anything else still queued is another action's. */
  private final class Recorder {
    val stages = new ConcurrentLinkedQueue[StageRow]()
    val batches = new ConcurrentLinkedQueue[BatchRow]()
    val submitted = new AtomicInteger()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val closed = new CountDownLatch(1)
    val terminated = new ConcurrentHashMap[java.util.UUID, CountDownLatch]()
    // read and written on the listener thread only
    private var openJob = -1
    private var recording = false
    private val fetchMs = scala.collection.mutable.HashMap.empty[Int, Long]

    val jobs: SparkListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(SentinelKey)).orNull match {
          case "open" => openJob = js.jobId
          case "close" => recording = false; closed.countDown()
          case _ if recording =>
            // a reused shuffle's stage is listed again, skipped, by later jobs
            js.stageIds.foreach(sid => stageJob.putIfAbsent(sid, js.jobId))
          case _ => ()
        }

      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == openJob) recording = true

      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (recording) submitted.incrementAndGet()

      // a stage's task-end events all precede its stage-completed event
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val ti = te.taskInfo
        if (recording && ti != null && ti.gettingResultTime > 0)
          fetchMs(te.stageId) = fetchMs.getOrElse(te.stageId, 0L) +
            (ti.finishTime - ti.gettingResultTime)
      }

      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (recording) {
          val si = sc.stageInfo
          val wall = (for { s <- si.submissionTime; e <- si.completionTime }
            yield e - s).getOrElse(-1L)
          val m = si.taskMetrics
          stages.add(StageRow(stageJob.getOrDefault(si.stageId, -1),
            si.stageId, si.name.takeWhile(_ != '\n').take(90), wall,
            m.executorRunTime, m.jvmGCTime, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6, m.executorDeserializeTime,
            m.resultSerializationTime, fetchMs.remove(si.stageId).getOrElse(0L)))
        }
    }

    // the started event reaches listeners synchronously, inside start();
    // progress and terminated events follow on the streams queue, in order
    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        terminated.put(e.runId, new CountDownLatch(1))

      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (terminated.containsKey(p.runId))
          batches.add(BatchRow(Option(p.name).getOrElse("-"), p.batchId,
            p.numInputRows, p.sink.description.takeWhile(_ != '['),
            p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue }
              .sortBy(-_._2)))
      }

      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        Option(terminated.get(e.runId)).foreach(_.countDown())
    }
  }

  /** A one-task job tagged `phase` for the [[Recorder]] to see in order. */
  private def sentinel(sc: org.apache.spark.SparkContext, phase: String): Unit = {
    sc.setLocalProperty(SentinelKey, phase)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
  }

  /** Run `body` under one `SparkListener` + `StreamingQueryListener` pair
    * and return what it did. Nothing is dropped, nothing from another
    * action is added, and nothing waits on a timer. The listener queue is
    * FIFO, so sentinel jobs bracket the body: events queued before the
    * "open" job ends belong to earlier actions, and once the "close" job's
    * start is seen every body event has been. Each stream the body started
    * is flushed by its own terminated event. `body` must leave no stream
    * running. */
  def capture[T](spark: SparkSession)(body: => T): Capture[T] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec.jobs)
    spark.streams.addListener(rec.streams)
    try {
      sentinel(sc, "open")
      val (result, _, processes) = processStarts(body)
      sentinel(sc, "close")
      val flushed = rec.closed.await(FlushTimeoutSec, TimeUnit.SECONDS) &&
        rec.terminated.values.asScala.forall(
          _.await(FlushTimeoutSec, TimeUnit.SECONDS))
      if (!flushed) throw new IllegalStateException(
        s"[graft] Measure.capture: listener events not flushed within " +
          s"${FlushTimeoutSec}s (a stream still running after the body?)")
      Capture(result,
        rec.stages.asScala.toSeq.sortBy(r => (r.jobId, r.stageId)),
        rec.submitted.get, rec.batches.asScala.toSeq, processes)
    } finally {
      sc.removeSparkListener(rec.jobs)
      spark.streams.removeListener(rec.streams)
    }
  }

  /** Committed after the body of [[processStarts]]: the stream delivers a
    * flush's events in commit order, so once it delivers this fence every
    * process start before it has been delivered too. */
  @jdk.jfr.Name("graft.ProcessStartsFence")
  @jdk.jfr.Label("graft process-start fence")
  private[tools] final class ProcessStartsFence extends jdk.jfr.Event {
    @jdk.jfr.Label("id") var id: Long = 0L
  }

  private val fenceIds = new java.util.concurrent.atomic.AtomicLong()

  /** Run `body` under a JFR stream of `jdk.ProcessStart` events and return
    * its result with the number and commands of the OS processes the JVM
    * started meanwhile, from any thread. A stock Hadoop local FS without
    * libhadoop forks a `chmod` per file it creates, which this makes
    * countable. Nothing waits on a timer: the body is closed by a fence
    * event the stream must deliver (within JFR's ~1 s flush period). */
  def processStarts[T](body: => T): (T, Int, Seq[String]) = {
    val commands = new ConcurrentLinkedQueue[String]()
    val id = fenceIds.incrementAndGet()
    val fenced = new CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[ProcessStartsFence])
      rs.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command")))
      rs.onEvent("graft.ProcessStartsFence",
        e => if (e.getLong("id") == id) fenced.countDown())
      rs.startAsync()
      val result = body
      val fence = new ProcessStartsFence
      fence.id = id
      fence.commit()
      if (!fenced.await(FlushTimeoutSec, TimeUnit.SECONDS))
        throw new IllegalStateException(
          s"[graft] Measure.processStarts: JFR fence not delivered within " +
            s"${FlushTimeoutSec}s")
      (result, commands.size, commands.asScala.toSeq)
    } finally rs.close()
  }
}
