package graft

import graft.engine.Sink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import java.nio.file.{Files, Path}
import java.sql.Timestamp

/** Scaffold laws of the write-then-read-back entries: a rerun returns the
  * same rows and leaves no new temp entry behind, and the stream rigs hand
  * the caller's `spark.sql.shuffle.partitions` back, even on failure. */
class EntryScratchSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body(tmpdir, sfDir)` with `java.io.tmpdir` pointed at a fresh
    * directory and `sfDir` holding a synthetic single-file events table:
    * 600 events, one every 37 minutes from 2024-01-10 (16 days, so the
    * < 01-20 / >= 01-15 deliveries overlap and the last-day cut has days
    * on both sides), 13 users, 5 event types. */
  private def withLocalTmp[T](body: (Path, String) => T): T = {
    val root = Files.createTempDirectory("entry_scratch_")
    val saved = sys.props("java.io.tmpdir")
    try {
      val tmp = Files.createDirectories(root.resolve("tmp"))
      val sf = Files.createDirectories(root.resolve("sf"))
      val t0 = Timestamp.valueOf("2024-01-10 00:00:00").getTime
      val types = Seq("click", "view", "purchase", "error", "signup")
      val staged = root.resolve("staged").toString
      (0 until 600).map(i => (i.toLong, new Timestamp(t0 + i * 37L * 60000),
          (i % 13).toLong, types(i % 5), (i * 7919 % 1000) / 10.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(staged)
      // the streaming entries read events.parquet as ONE file
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, sf.resolve("events.parquet"))
      sys.props("java.io.tmpdir") = tmp.toString
      body(tmp, sf.toString)
    } finally {
      sys.props("java.io.tmpdir") = saved
      Sink.delete(root.toFile)
    }
  }

  private def graftEntries(roots: Seq[Path]): Set[Path] =
    roots.flatMap(r => Option(r.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(_.toPath)).toSet

  test("write-then-read entries return the same rows on a rerun and leave " +
    "no new graft_ temp entry") {
    withLocalTmp { (tmp, sf) =>
      // Files.createTempDirectory resolves its root once per JVM, so a
      // per-call temp dir may land outside the property's current value:
      // watch that root too
      val nioRoot = {
        val probe = Files.createTempDirectory("probe_")
        Files.delete(probe)
        probe.getParent
      }
      val roots = Seq(tmp, nioRoot).distinct
      for (q <- Seq("q_sink_partition_overwrite", "q_sink_upsert",
                    "q_delete_keys", "q_quarantine", "q_stream_sink_upsert")) {
        def run(): Seq[String] =
          SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq.sorted
        val first = run()
        val before = graftEntries(roots)
        val second = run()
        withClue(q) {
          first should not be empty
          second shouldBe first
          (graftEntries(roots) -- before) shouldBe empty
        }
      }
    }
  }

  test("stream rigs restore spark.sql.shuffle.partitions, also when the " +
    "stream fails") {
    withLocalTmp { (tmp, sf) =>
      val key = "spark.sql.shuffle.partitions"
      val saved = spark.conf.get(key)
      spark.conf.set(key, "7") // not the state width
      try {
        for (q <- Seq("q_stream_hourly", "q_stream_restart")) {
          SparkEntry.queries(q)(spark, sf).collect()
          withClue(q)(spark.conf.get(key) shouldBe "7")
        }
        val src = tmp.resolve("failing_src").toString
        Seq(1L, 2L).toDF("x").write.parquet(src)
        val failing = spark.readStream.schema("x BIGINT").parquet(src)
          .select(assert_true(col("x") < 0).as("ok"))
        intercept[StreamingQueryException](
          SparkEntry.runAvailableNow(spark, failing, "failing", sf, identity))
        spark.conf.get(key) shouldBe "7"
      } finally spark.conf.set(key, saved)
    }
  }
}
