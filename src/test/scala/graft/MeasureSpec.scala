package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.tools.Measure
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The shared measurement harness: the median the tools summarize with,
  * and a capture that reports exactly the body's stages and stream batches
  * without waiting on a timer. */
class MeasureSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def twoStage =
    spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()

  private def streamHourly = SparkEntry.queries("q_stream_hourly")(spark, sf)

  /** Runs `body` with listeners, registered ahead of any capture's, that
    * hold every stage-completed and stream-progress event until `release`
    * opens: the listener bus lags the actions by as much as a test needs. */
  private def holding[T](release: CountDownLatch)(body: => T): T = {
    def hold(): Unit = release.await(60, TimeUnit.SECONDS)
    val stageGate = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = hold()
    }
    val streamGate = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = hold()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(stageGate)
    spark.streams.addListener(streamGate)
    try body finally {
      spark.sparkContext.removeSparkListener(stageGate)
      spark.streams.removeListener(streamGate)
    }
  }

  private def checkStages(c: Measure.Capture[_]): Unit = {
    c.stages.size shouldBe c.submitted
    c.stages.map(_.stageId).distinct.size shouldBe c.stages.size
    c.stages.foreach { r =>
      r.jobId should be >= 0 // -1: a job started outside the body
      r.wallMs should be >= 0L
    }
    // the sentinels are count()s; the bodies here only write
    c.stages.exists(_.name.startsWith("count at")) shouldBe false
  }

  test("median: odd, even and one-element inputs; empty is refused") {
    Measure.median(Seq(3.0, 1.0, 2.0)) shouldBe 2.0
    // even counts average the two middle values, never the upper one alone
    Measure.median(Seq(4.0, 1.0, 3.0, 2.0)) shouldBe 2.5
    Measure.median(Seq(7.5)) shouldBe 7.5
    intercept[IllegalArgumentException] { Measure.median(Seq.empty) }
  }

  test("capture: a two-stage aggregate yields one completed row per " +
    "submitted stage, even when the listener bus lags the body") {
    val bodyDone = new CountDownLatch(1)
    val c = holding(bodyDone)(Measure.capture(spark) {
      try Measure.time(twoStage) finally bodyDone.countDown()
    })
    c.result should be > 0.0
    c.submitted should be >= 2
    checkStages(c)
    c.stages.map(_.tasks).sum should be > 1
    c.stages.exists(_.shufWriteMB > 0) shouldBe true
    c.batches shouldBe empty
  }

  test("capture: stage events an earlier action left queued are not the " +
    "body's") {
    val bodyStarted = new CountDownLatch(1)
    val c = holding(bodyStarted) {
      Measure.time(twoStage) // its stage-completed events wait behind the gate
      Measure.capture(spark) { bodyStarted.countDown(); Measure.time(twoStage) }
    }
    c.submitted should be >= 2
    checkStages(c)
  }

  test("capture: q_stream_hourly reports its own micro-batches, with their " +
    "duration breakdown, and none of an earlier run's") {
    val bodyDone = new CountDownLatch(1)
    val c = holding(bodyDone) {
      Measure.time(streamHourly) // its progress events wait behind the gate
      Measure.capture(spark) {
        try Measure.time(streamHourly) finally bodyDone.countDown()
      }
    }
    c.batches should not be empty
    c.batches.map(_.stream).distinct.size shouldBe 1
    c.batches.map(_.batchId).distinct.size shouldBe c.batches.size
    c.batches.exists(_.durationMs.nonEmpty) shouldBe true
    c.batches.map(_.rows).sum should be > 0L
    checkStages(c)
  }
}
