package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("hourlySumStream: windowed sums emitted after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.hourlySumStream(
      mem.toDF().toDF("ts", "k", "v"), "ts", col("k"), col("v"))
    val q = out.writeStream.format("memory").queryName("hourly")
      .outputMode(Streams.hourlySumMode).start()
    try {
      mem.addData((t("2024-01-01 10:10:00"), "a", 1.0),
        (t("2024-01-01 10:50:00"), "a", 2.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window (+2h lateness)
      mem.addData((t("2024-01-01 15:00:00"), "a", 9.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM hourly").collect()
      rows.map(r => (r.getTimestamp(0).toString, r.getString(1), r.getDouble(2)))
        .toSet should contain(("2024-01-01 10:00:00.0", "a", 3.0))
    } finally q.stop()
  }

  test("flatlineStream: a run crossing the batch boundary alarms exactly " +
    "once; movement re-arms; nulls are gaps") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Option[Double])]
    val out = Streams.flatlineStream(
      mem.toDF().toDF("ts", "k", "v"), "ts", "k", "v",
      quantCents = 100L, minLen = 3)
    val q = out.writeStream.format("memory").queryName("flatline")
      .outputMode(Streams.hourlySumMode).start()
    def rows() = spark.sql("SELECT * FROM flatline").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    try {
      // batch 1: two ticks in bucket 1 (1.00, 1.50) — run open, no alarm
      mem.addData((t("2024-01-01 00:00:00"), "a", Some(1.00)),
        (t("2024-01-01 00:01:00"), "a", Some(1.50)))
      q.processAllAvailable()
      rows() shouldBe empty
      // batch 2: third tick in bucket 1 -> ONE alarm at that tick; a
      // fourth stuck tick must NOT re-alarm; a null is skipped
      mem.addData((t("2024-01-01 00:02:00"), "a", Some(1.20)),
        (t("2024-01-01 00:02:30"), "a", None),
        (t("2024-01-01 00:03:00"), "a", Some(1.99)))
      q.processAllAvailable()
      rows().toSeq shouldBe Seq(
        ("a", Timestamp.valueOf("2024-01-01 00:02:00").getTime * 1000L,
          1L, 3L))
      // batch 3: movement (bucket 2) re-arms; three stuck ticks alarm again
      mem.addData((t("2024-01-01 00:04:00"), "a", Some(2.00)),
        (t("2024-01-01 00:05:00"), "a", Some(2.10)),
        (t("2024-01-01 00:06:00"), "a", Some(2.20)))
      q.processAllAvailable()
      rows().map(x => (x._1, x._3, x._4)).toSet shouldBe
        Set(("a", 1L, 3L), ("a", 2L, 3L))
    } finally q.stop()
  }

  test("degreeDayDailyStream: closed days emit temp cells (Euclidean-mean " +
    "hdd/cdd) and per-key load cells; open day stays silent") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.degreeDayDailyStream(
      mem.toDF().toDF("ts", "k", "v"), "ts", col("k") === "temp",
      col("k"), col("v"), baseCents = 1000L)
    val q = out.writeStream.format("memory").queryName("degday")
      .outputMode(Streams.hourlySumMode).start()
    def rows() = spark.sql("SELECT * FROM degday").collect()
      .map(r => (r.getDate(0).toString, r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5)))
    try {
      // day 1: temps 7.00, 8.01 (mean floor 750 cents -> hdd 250, cdd 0);
      // meter "a" load 1.00 + 2.50
      mem.addData((t("2024-01-01 06:00:00"), "temp", 7.00),
        (t("2024-01-01 18:00:00"), "temp", 8.01),
        (t("2024-01-01 07:00:00"), "a", 1.00),
        (t("2024-01-01 19:00:00"), "a", 2.50))
      q.processAllAvailable()
      rows() shouldBe empty // day 1 still open
      // day 2 03:00 advances the watermark to 01:00 -> day 1 closes
      mem.addData((t("2024-01-02 03:00:00"), "temp", 30.00))
      q.processAllAvailable()
      rows().toSet shouldBe Set(
        ("2024-01-01", "_temp", None, Some(250L), Some(0L), 2L),
        ("2024-01-01", "a", Some(350L), None, None, 2L))
    } finally q.stop()
  }

  test("demandPeakStream: ratcheting peaks per cycle, open hour silent, " +
    "month reset, negative hours never alarm, batch-boundary safe") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Option[Double])]
    val out = Streams.demandPeakStream(
      mem.toDF().toDF("ts", "k", "v"), "ts", "k", "v")
    val q = out.writeStream.format("memory").queryName("demand")
      .outputMode(Streams.hourlySumMode).start()
    def rows() = spark.sql("SELECT * FROM demand").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3)))
    def hourUs(s: String) = Timestamp.valueOf(s).getTime * 1000L
    try {
      // batch 1: hour 10 sums to 3.00; still OPEN -> silent
      mem.addData((t("2024-01-31 10:00:00"), "a", Some(1.00)),
        (t("2024-01-31 10:30:00"), "a", Some(2.00)))
      q.processAllAvailable()
      rows() shouldBe empty
      // batch 2: hour 11 opens -> hour 10 closes as the cycle's first
      // positive peak (state crossed the batch boundary); a null is a gap
      mem.addData((t("2024-01-31 11:05:00"), "a", None),
        (t("2024-01-31 11:10:00"), "a", Some(1.00)))
      q.processAllAvailable()
      rows().toSeq shouldBe Seq(
        ("a", "2024-01-01", hourUs("2024-01-31 10:00:00"), 300L))
      // batch 3: Feb reading closes hour 11 (1.00 < 3.00 -> NOT a Jan
      // peak) and resets the cycle; then a NEGATIVE Feb hour closes
      // without alarming (peaks must beat max(0, priors)); finally a
      // positive Feb hour closes as Feb's first peak
      mem.addData((t("2024-02-01 00:10:00"), "a", Some(-5.00)),
        (t("2024-02-01 01:10:00"), "a", Some(2.50)),
        (t("2024-02-01 02:10:00"), "a", Some(0.25)))
      q.processAllAvailable()
      rows().toSeq.sortBy(_._3) shouldBe Seq(
        ("a", "2024-01-01", hourUs("2024-01-31 10:00:00"), 300L),
        ("a", "2024-02-01", hourUs("2024-02-01 01:00:00"), 250L))
      // batch 4: a LATE cross-batch reading older than the open hour
      // (even from the previous month) is dropped — it must not close
      // the open hour on a partial sum nor reset the Feb ratchet; a
      // normal later-hour reading then closes hour 02 (0.25 < 2.50, no
      // new peak) and the output is unchanged
      mem.addData((t("2024-01-31 23:55:00"), "a", Some(9.99)),
        (t("2024-02-01 03:10:00"), "a", Some(0.10)))
      q.processAllAvailable()
      rows().toSeq.sortBy(_._3) shouldBe Seq(
        ("a", "2024-01-01", hourUs("2024-01-31 10:00:00"), 300L),
        ("a", "2024-02-01", hourUs("2024-02-01 01:00:00"), 250L))
    } finally q.stop()
  }

  test("touDailyStream: daily TOU cells close with the watermark and are " +
    "bit-identical to the batch band split") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.touDailyStream(
      mem.toDF().toDF("ts", "k", "v"), "ts", col("k"), col("v"))
    val q = out.writeStream.format("memory").queryName("tou")
      .outputMode(Streams.hourlySumMode).start()
    try {
      // Mon 2024-01-15: 10h peak 1.23 + 2.00, 22h off 3.00; Sat 01-13
      // would be off — all on one key
      mem.addData((t("2024-01-15 10:00:00"), "a", 1.23),
        (t("2024-01-15 10:30:00"), "a", 2.00),
        (t("2024-01-15 22:00:00"), "a", 3.00))
      q.processAllAvailable()
      spark.sql("SELECT * FROM tou").count() shouldBe 0L // day still open
      // advance the watermark past Jan 15's end (+2h lateness)
      mem.addData((t("2024-01-16 03:00:00"), "a", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM tou").collect()
        .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2),
          r.getLong(3)))
      // identical to Billing.touEnergyCharges' band arithmetic: peak
      // 123+200, off 300
      rows.toSet shouldBe Set(("2024-01-15", "a", 323L, 300L))
    } finally q.stop()
  }

  test("slidingSumStream: each event in both covering windows; append emits closed windows only") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.slidingSumStream(
      mem.toDF().toDF("ts", "k", "v"), "ts", col("k"), col("v"))
    val q = out.writeStream.format("memory").queryName("slide")
      .outputMode("append").start()
    try {
      mem.addData((t("2024-01-01 10:10:00"), "a", 1.0),
        (t("2024-01-01 10:50:00"), "a", 2.0),
        (t("2024-01-01 11:20:00"), "a", 4.0))
      q.processAllAvailable()
      // watermark → 14:00: windows ending ≤ 14:00 close; the 16:00 event's
      // own windows stay open
      mem.addData((t("2024-01-01 16:00:00"), "a", 9.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM slide").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(2), r.getDouble(3),
          r.getLong(4))).toSet
      rows shouldBe Set(
        ("2024-01-01 09:00:00.0", "a", 3.0, 2L), // 10:10 + 10:50
        ("2024-01-01 10:00:00.0", "a", 7.0, 3L), // all three
        ("2024-01-01 11:00:00.0", "a", 4.0, 1L)) // 11:20 only
    } finally q.stop()
  }

  test("dedupStream drops re-delivered keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.dedupStream(mem.toDF().toDF("ts", "k", "v"), "ts", Seq("k"))
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData((t("2024-01-01 10:00:00"), "a", 1.0))
      q.processAllAvailable()
      mem.addData((t("2024-01-01 10:00:00"), "a", 1.0), // exact re-delivery
        (t("2024-01-01 10:05:00"), "b", 2.0))
      q.processAllAvailable()
      spark.sql("SELECT * FROM dedup").count() shouldBe 2
    } finally q.stop()
  }

  test("histFillStream: the full coalesce chain (present → hist → key → " +
    "global) per batch; a late second-batch row fills identically " +
    "(stateless); lookup-miss falls through, never drops") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Option[Double])]
    val hist = Seq(("a", 1, 1, 0, 5000000L))
      .toDF("grp", "m", "d", "h", "hist_micro")
    val km = Seq(("a", 3000000L), ("b", 7000000L)).toDF("grp", "key_micro")
    val out = Streams.histFillStream(mem.toDF().toDF("ts", "k", "v"), "ts",
      col("k"), col("v"), hist, km, globalMicro = 1000000L)
    val q = out.writeStream.format("memory").queryName("histfill")
      .outputMode(Streams.hourlySumMode).start()
    def rows() = spark.sql("SELECT * FROM histfill").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getLong(3), r.getString(4))).toSet
    try {
      mem.addData(
        (t("2024-01-01 00:10:00"), "a", Some(2.5)), // present, bit-exact
        (t("2024-01-01 00:20:00"), "a", None),      // (1,1,0) hist cell hit
        (t("2024-01-01 05:00:00"), "a", None),      // no hist cell → key
        (t("2024-01-01 05:30:00"), "c", None))      // unknown key → global
      q.processAllAvailable()
      rows() shouldBe Set(
        ("a", "2024-01-01 00:10:00.0", 2500000L, "present"),
        ("a", "2024-01-01 00:20:00.0", 5000000L, "hist"),
        ("a", "2024-01-01 05:00:00.0", 3000000L, "key"),
        ("c", "2024-01-01 05:30:00.0", 1000000L, "global"))
      // a LATE row (earlier ts than everything above) in a later batch
      // fills through the same chain — stateless, no watermark to drop it
      mem.addData((t("2024-01-01 00:05:00"), "a", None))
      q.processAllAvailable()
      rows() should contain(
        ("a", "2024-01-01 00:05:00.0", 5000000L, "hist"))
      rows().size shouldBe 5
    } finally q.stop()
  }

  test("enrichStream: matched events carry dim attrs, unmatched keep NULLs; " +
    "a file dim's snapshot is PINNED at stream start") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val dimDir = tempDir("graft_enrich_dim_").toString + "/dim"
    Seq((1L, "alpha")).toDF("k", "name").write.parquet(dimDir)
    // read the dim through a path so the per-micro-batch re-plan sees a
    // refreshed dim without restarting the stream
    val dim = spark.read.parquet(dimDir)
    val out = Streams.enrichStream(mem.toDF().toDF("ts", "k", "v"), dim,
      Seq("k"))
    val q = out.writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      mem.addData((t("2024-01-01 10:00:00"), 1L, 1.0),
        (t("2024-01-01 10:01:00"), 2L, 2.0))
      q.processAllAvailable()
      // the pinned-snapshot contract: key 2 lands as a NEW part file, with
      // refreshByPath — and the running query still does NOT see it (the
      // file listing froze at stream start). This is the measured Spark
      // behavior enrichStream's Scaladoc documents; an in-place overwrite
      // is worse (batches fail chasing deleted files).
      Seq((2L, "beta")).toDF("k", "name")
        .write.mode("append").parquet(dimDir)
      spark.catalog.refreshByPath(dimDir)
      mem.addData((t("2024-01-01 10:02:00"), 2L, 3.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, v, name FROM enrich").collect()
        .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
        .toSet
      rows shouldBe Set((1L, 1.0, Some("alpha")), (2L, 2.0, None),
        (2L, 3.0, None))
      // a restarted query sees the refreshed dim (the rotation recipe)
      val dim2 = spark.read.parquet(dimDir)
      dim2.count() shouldBe 2
    } finally q.stop()
  }

  test("sessionSumStream: gap-separated sessions close independently") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.sessionSumStream(mem.toDF().toDF("ts", "k", "v"), "ts",
      col("k"), col("v"), gap = "10 minutes")
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // two bursts 30 min apart → two sessions; then advance the watermark
      mem.addData((t("2024-01-01 10:00:00"), "a", 1.0),
        (t("2024-01-01 10:05:00"), "a", 2.0),
        (t("2024-01-01 10:40:00"), "a", 4.0))
      q.processAllAvailable()
      mem.addData((t("2024-01-01 15:00:00"), "a", 0.5))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sessions ORDER BY session_start")
        .collect().map(r => (r.getString(2), r.getDouble(3), r.getLong(4)))
      rows.take(2) shouldBe Array(("a", 3.0, 2L), ("a", 4.0, 1L))
    } finally q.stop()
  }

  test("intervalJoinStreams: right events within tolerance enrich left") {
    implicit val sqlCtx = spark.sqlContext
    val gen = MemoryStream[(Timestamp, String, Double)]
    val wx = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.intervalJoinStreams(
      gen.toDF().toDF("g_ts", "g_plant", "g_mw"), "g_plant", "g_ts",
      wx.toDF().toDF("w_ts", "w_station", "w_temp"), "w_station", "w_ts")
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      wx.addData((t("2024-01-01 09:30:00"), "p1", 21.5))
      gen.addData((t("2024-01-01 10:00:00"), "p1", 5.0))  // within 1h → joins
      gen.addData((t("2024-01-01 12:00:00"), "p1", 6.0))  // no recent weather
      q.processAllAvailable()
      val rows = spark.sql("SELECT g_mw, w_temp FROM enriched").collect()
      rows.map(r => (r.getDouble(0), r.getDouble(1))).toSet shouldBe
        Set((5.0, 21.5))
    } finally q.stop()
  }

  test("checkpointed restart: per-key mapGroupsWithState state survives — " +
    "run 2 over the SAME checkpoint extends run 1's hour mask") {
    val base = tempDir("graft_restart_")
    val src = base.resolve("src"); java.nio.file.Files.createDirectories(src)
    val ckpt = base.resolve("ckpt").toString
    val sink = base.resolve("sink").toString
    val schema = Seq(("", t("2024-01-01 00:00:00"))).toDF("k", "ts").schema
    def runOnce(): Unit = {
      val out = Streams.resumeTracker(
        spark.readStream.schema(schema).parquet(src.toString), "ts", "k")
      // foreachBatch: Update-mode emissions land as parquet appends (a file
      // sink proper rejects Update) while the checkpoint still persists the
      // mapGroupsWithState store across runs
      val q = out.writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[_], _: Long) =>
          df.toDF().write.mode("append").parquet(sink))
        .option("checkpointLocation", ckpt)
        .outputMode(Streams.resumeTrackerMode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: hours 0 and 1 of the day
    Seq(("p1", t("2024-01-01 00:10:00")), ("p1", t("2024-01-01 01:10:00")))
      .toDF("k", "ts").coalesce(1).write.mode("append").parquet(src.toString)
    runOnce()
    // the "next cron tick": a new file, SAME checkpoint — only hour 5
    Seq(("p1", t("2024-01-01 05:10:00")))
      .toDF("k", "ts").coalesce(1).write.mode("append").parquet(src.toString)
    runOnce()
    val last = spark.read.parquet(sink)
      .orderBy(col("lastTs").desc).limit(1).collect()(0)
    // hoursSeen == 3 is the proof: run 2 saw ONLY hour 5, so hours {0, 1}
    // can have come only from state persisted in the checkpoint
    last.getInt(2) shouldBe 3
    last.getTimestamp(1).toString shouldBe "2024-01-01 05:10:00.0"
  }

  test("checkpointed restart depth: THREE AvailableNow ticks over ONE " +
    "checkpoint — each tick's late rows merge into window state opened by " +
    "the PREVIOUS tick, so state survives repeated cron restarts") {
    val base = tempDir("graft_restart3_")
    val src = base.resolve("src"); java.nio.file.Files.createDirectories(src)
    val ckpt = base.resolve("ckpt").toString
    val sink = base.resolve("sink").toString
    val schema = Seq((t("2024-01-01 00:00:00"), "", 0.0))
      .toDF("ts", "k", "v").schema
    def tick(rows: (String, Double)*): Unit = {
      rows.map { case (s, v) => (t(s), "a", v) }.toDF("ts", "k", "v")
        .coalesce(1).write.mode("append").parquet(src.toString)
      val out = Streams.hourlySumStream(
        spark.readStream.schema(schema).parquet(src.toString),
        "ts", col("k"), col("v"))
      val q = out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode(Streams.hourlySumMode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // tick 1: opens 10:00 and 13:00; watermark 11:30 emits only 10:00
    tick("2024-01-01 10:10:00" -> 1.0, "2024-01-01 13:30:00" -> 2.0)
    // tick 2 (restart 1): 13:40 is late but above the CHECKPOINTED 11:30
    // watermark — it must merge into tick 1's open 13:00 state; 17:00
    // advances the watermark to 15:00 and closes 13:00
    tick("2024-01-01 13:40:00" -> 3.0, "2024-01-01 17:00:00" -> 4.0)
    // tick 3 (restart 2): same shape one restart deeper, rolling into the
    // NEXT day — 17:20 merges into tick 2's open 17:00 state; day-2 01:00
    // moves the watermark to 23:00 and closes 17:00
    tick("2024-01-01 17:20:00" -> 5.0, "2024-01-02 01:00:00" -> 6.0)
    val out = spark.read.parquet(sink).collect()
      .map(r => (r.getTimestamp(0).toString, r.getDouble(2))).toSet
    // 13:00 total spans ticks 1+2; 17:00 spans ticks 2+3 — each window
    // emitted EXACTLY once (append-mode, 3 sink rows total)
    out shouldBe Set(("2024-01-01 10:00:00.0", 1.0),
      ("2024-01-01 13:00:00.0", 5.0), ("2024-01-01 17:00:00.0", 9.0))
  }

  test("multi-batch hourly window: a late row in batch 2 merges into " +
    "batch-1 window state; windows emit only when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.hourlySumStream(
      mem.toDF().toDF("ts", "k", "v"), "ts", col("k"), col("v"))
    val q = out.writeStream.format("memory").queryName("mb_hourly")
      .outputMode(Streams.hourlySumMode).start()
    try {
      // batch 1: two rows in the 10:00 window, max ts 11:00 → watermark
      // after the batch = 09:00 → NOTHING emitted yet
      mem.addData((t("2024-01-01 10:10:00"), "a", 1.0),
        (t("2024-01-01 10:50:00"), "a", 2.0),
        (t("2024-01-01 11:00:00"), "a", 9.0))
      q.processAllAvailable()
      spark.sql("SELECT * FROM mb_hourly").count() shouldBe 0
      // batch 2: 10:20 is LATE relative to batch 1 but above the 09:00
      // watermark → it must merge into the 10:00 window's state; 15:00
      // advances the watermark to 13:00, closing 10:00 and 11:00
      mem.addData((t("2024-01-01 10:20:00"), "a", 4.0),
        (t("2024-01-01 15:00:00"), "a", 0.5))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM mb_hourly").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getDouble(2)))
        .toSet
      rows shouldBe Set(("2024-01-01 10:00:00.0", "a", 7.0),
        ("2024-01-01 11:00:00.0", "a", 9.0))
      // batch 3: 10:30 is now BELOW the 13:00 watermark → dropped, the
      // emitted 10:00 window is never revised (append-mode contract the
      // single-batch closed-form oracle relies on)
      mem.addData((t("2024-01-01 10:30:00"), "a", 100.0))
      q.processAllAvailable()
      spark.sql("SELECT * FROM mb_hourly WHERE total = 100.0").count() shouldBe 0
      spark.sql("SELECT * FROM mb_hourly").count() shouldBe 2
    } finally q.stop()
  }

  test("multi-batch interval join: buffered state matches across " +
    "micro-batches in BOTH directions") {
    implicit val sqlCtx = spark.sqlContext
    val gen = MemoryStream[(Timestamp, String, Double)]
    val wx = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.intervalJoinStreams(
      gen.toDF().toDF("g_ts", "g_plant", "g_mw"), "g_plant", "g_ts",
      wx.toDF().toDF("w_ts", "w_station", "w_temp"), "w_station", "w_ts")
    val q = out.writeStream.format("memory").queryName("mb_join")
      .outputMode("append").start()
    try {
      // batch 1: weather only — buffered in join state, no output
      wx.addData((t("2024-01-01 09:30:00"), "p1", 21.5))
      q.processAllAvailable()
      // batch 2: gen 10:00 joins the BUFFERED batch-1 weather (right
      // arrived first); gen 12:00 has no weather yet and waits in state
      gen.addData((t("2024-01-01 10:00:00"), "p1", 5.0),
        (t("2024-01-01 12:00:00"), "p1", 6.0))
      q.processAllAvailable()
      spark.sql("SELECT g_mw, w_temp FROM mb_join").collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).toSet shouldBe
        Set((5.0, 21.5))
      // batch 3: weather 11:30 arrives AFTER the gen row it enriches (left
      // arrived first) — the buffered gen 12:00 must still match it
      wx.addData((t("2024-01-01 11:30:00"), "p1", 22.0))
      q.processAllAvailable()
      spark.sql("SELECT g_mw, w_temp FROM mb_join").collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).toSet shouldBe
        Set((5.0, 21.5), (6.0, 22.0))
    } finally q.stop()
  }

  test("leftOuterIntervalJoinStreams: NULL emission only after the " +
    "watermark proves no match; matched and in-horizon rows never NULL") {
    implicit val sqlCtx = spark.sqlContext
    val gen = MemoryStream[(Timestamp, String, Double)]
    val wx = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.leftOuterIntervalJoinStreams(
      gen.toDF().toDF("g_ts", "g_plant", "g_mw"), "g_plant", "g_ts",
      wx.toDF().toDF("w_ts", "w_station", "w_temp"), "w_station", "w_ts")
    val q = out.writeStream.format("memory").queryName("loj")
      .outputMode("append").start()
    def rows() = spark.sql("SELECT g_mw, w_temp FROM loj").collect()
      .map(r => (r.getDouble(0), Option(r.get(1)))).toSet
    try {
      // 10:00 matches the 09:30 weather (within [09:00, 10:00]); 10:45's
      // admissible window [09:45, 10:45] holds no weather at all
      wx.addData((t("2024-01-01 09:30:00"), "p1", 21.5))
      gen.addData((t("2024-01-01 10:00:00"), "p1", 5.0),
        (t("2024-01-01 10:45:00"), "p1", 7.0))
      q.processAllAvailable()
      // watermark is still at its floor: the unmatched 10:30 must NOT have
      // been NULL-emitted yet — only the inner match is out
      rows() shouldBe Set((5.0, Some(21.5)))
      // push BOTH sides' watermarks to 18:00 (global wm = min of sides −
      // 2 h). The pushers themselves can't match (w@17:00 ∉ [19:00, 20:00])
      // and can't be evicted (20:00 ≥ wm)
      gen.addData((t("2024-01-01 20:00:00"), "zz", 9.0))
      wx.addData((t("2024-01-01 17:00:00"), "zz", 23.0))
      q.processAllAvailable()
      // one more tick so the advanced watermark's eviction pass runs
      wx.addData((t("2024-01-01 17:00:30"), "zz2", 24.0))
      q.processAllAvailable()
      // 10:45 < wm 18:00 and provably unmatchable → exactly one NULL row;
      // the matched 10:00 row is NOT re-emitted as NULL; the zz row at
      // 20:00 is unmatched but still inside the horizon → no NULL row
      rows() shouldBe Set((5.0, Some(21.5)), (7.0, None))
    } finally q.stop()
  }

  test("upsertSink: keyed merge per tick; last-batch marker makes a " +
    "replayed batchId a no-op") {
    val base = tempDir("graft_upsink_")
    val src = base.resolve("src"); java.nio.file.Files.createDirectories(src)
    val ckpt = base.resolve("ckpt").toString
    val tbl = base.resolve("tbl").toString
    val schema = Seq((1L, t("2024-01-01 00:00:00"), 1.0))
      .toDF("k", "ts", "v").schema
    def run(): Unit = Streams.upsertSink(
      spark.readStream.schema(schema).parquet(src.toString),
      tbl, ckpt, Seq("k"), Seq("ts"))
    def table() = spark.read.parquet(tbl).collect()
      .map(r => r.getLong(0) -> ((r.getTimestamp(1).toString, r.getDouble(2))))
      .toMap
    // tick 1: two rows for k1 (in-batch dedup must keep the newer), one k2
    Seq((1L, t("2024-01-01 10:00:00"), 1.0),
      (1L, t("2024-01-01 11:00:00"), 2.0),
      (2L, t("2024-01-01 10:30:00"), 5.0))
      .toDF("k", "ts", "v").coalesce(1)
      .write.mode("append").parquet(src.toString)
    run()
    table() shouldBe Map(
      1L -> (("2024-01-01 11:00:00.0", 2.0)),
      2L -> (("2024-01-01 10:30:00.0", 5.0)))
    // tick 2 (same checkpoint): k1 advances, k3 appears, k2 untouched
    Seq((1L, t("2024-01-02 09:00:00"), 3.0),
      (3L, t("2024-01-02 09:30:00"), 7.0))
      .toDF("k", "ts", "v").coalesce(1)
      .write.mode("append").parquet(src.toString)
    run()
    val after2 = table()
    after2 shouldBe Map(
      1L -> (("2024-01-02 09:00:00.0", 3.0)),
      2L -> (("2024-01-01 10:30:00.0", 5.0)),
      3L -> (("2024-01-02 09:30:00.0", 7.0)))
    // replayed batchId: wipe the checkpoint so batch 0 is re-delivered
    // (now spanning BOTH files, incl. rows that would regress k1) — the
    // marker (last=1) must skip it and leave the table untouched
    import java.nio.file.{Files, Path}
    Files.walk(Path.of(ckpt)).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    run()
    table() shouldBe after2
  }

  test("meltIngestSink: wide daily rows melt per tick into the date-" +
    "partition sink; a corrected re-delivered day REPLACES (not merges) " +
    "its partition, other days untouched; same-content replay idempotent") {
    import graft.engine.{Sink, Unpivot}
    val base = tempDir("graft_meltingest_")
    val src = base.resolve("src"); java.nio.file.Files.createDirectories(src)
    val ckpt = base.resolve("ckpt").toString
    val tbl = base.resolve("tbl").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    val hourCols = Seq("h01", "h02", "h03")
    def transform(b: org.apache.spark.sql.DataFrame) =
      Unpivot.meltHours(b, Seq("ymd", "grp"), hourCols)
        .filter(col("generation").isNotNull)
        .select(col("grp"),
          Unpivot.tsZeroBased(col("ymd"), col("hour_col")).as("ts"),
          col("generation").as("total"))
    val schema = Seq((d("2024-01-01"), "a", Option(1.0), Option(2.0),
      Option.empty[Double])).toDF("ymd", "grp", "h01", "h02", "h03").schema
    def run(): Unit = Streams.meltIngestSink(
      spark.readStream.schema(schema).parquet(src.toString),
      transform, "ts", tbl, ckpt)
    def table() = spark.read.parquet(tbl).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getDouble(2)))
      .toSet
    // tick 1: two days, nulls dropped like the reference's .dropna
    val tick1 = Seq(
      (d("2024-01-01"), "a", Option(1.0), Option(2.0), Option.empty[Double]),
      (d("2024-01-01"), "b", Option(5.0), Option.empty[Double], Option(6.0)),
      (d("2024-01-02"), "a", Option(7.0), Option(8.0), Option(9.0)))
      .toDF("ymd", "grp", "h01", "h02", "h03")
    tick1.coalesce(1).write.mode("append").parquet(src.toString)
    run()
    table() shouldBe Set(
      ("a", "2024-01-01 00:00:00.0", 1.0), ("a", "2024-01-01 01:00:00.0", 2.0),
      ("b", "2024-01-01 00:00:00.0", 5.0), ("b", "2024-01-01 02:00:00.0", 6.0),
      ("a", "2024-01-02 00:00:00.0", 7.0), ("a", "2024-01-02 01:00:00.0", 8.0),
      ("a", "2024-01-02 02:00:00.0", 9.0))
    // tick 2 (same checkpoint — only the new file is processed): day 2
    // re-delivered corrected and SHORTER; its partition must be replaced
    // wholesale (the stale 9.0 row gone), day 1 untouched
    val tick2 = Seq(
      (d("2024-01-02"), "a", Option(70.0), Option(80.0), Option.empty[Double]))
      .toDF("ymd", "grp", "h01", "h02", "h03")
    tick2.coalesce(1).write.mode("append").parquet(src.toString)
    run()
    val after2 = table()
    after2 shouldBe Set(
      ("a", "2024-01-01 00:00:00.0", 1.0), ("a", "2024-01-01 01:00:00.0", 2.0),
      ("b", "2024-01-01 00:00:00.0", 5.0), ("b", "2024-01-01 02:00:00.0", 6.0),
      ("a", "2024-01-02 00:00:00.0", 70.0), ("a", "2024-01-02 01:00:00.0", 80.0))
    // foreachBatch at-least-once: a same-content replay of tick 2's batch
    // rewrites its day to identical rows — the sink needs no batch marker
    Sink.overwriteDatePartitions(transform(tick2), col("ts"), tbl)
    table() shouldBe after2
    // and a no-new-data tick is a clean no-op
    run()
    table() shouldBe after2
  }

  test("alertStream: running-mean state spans batches; minHistory " +
    "suppresses early rows; in-batch order is (ts, cents)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.alertStream(mem.toDF().toDF("ts", "k", "v"),
      "ts", "k", "v", thresholdCents = 1000L, minHistory = 3)
    val q = out.writeStream.format("memory").queryName("alerts")
      .outputMode(Streams.alertStreamMode).start()
    def alerts() = spark.sql(
        "SELECT vCents, nPrior, sumPriorCents FROM alerts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      // batch 1: establishes mean 10.00 over 3 rows; the 4th row (fed out
      // of ts order to prove the in-task sort) deviates by 15 > 10
      mem.addData(
        (t("2024-01-01 10:03:00"), "a", 25.0), // judged LAST in the batch
        (t("2024-01-01 10:00:00"), "a", 10.0),
        (t("2024-01-01 10:01:00"), "a", 10.0),
        (t("2024-01-01 10:02:00"), "a", 10.0))
      q.processAllAvailable()
      // first three rows are under minHistory → no alert for them ever
      alerts() shouldBe Set((2500L, 3L, 3000L))
      // batch 2: state carried — mean is now (30+25)/4 = 13.75; a 12.00
      // reading is fine, a 30.00 reading deviates by 16.25
      mem.addData((t("2024-01-01 10:04:00"), "a", 12.0),
        (t("2024-01-01 10:05:00"), "a", 30.0))
      q.processAllAvailable()
      alerts() shouldBe Set((2500L, 3L, 3000L), (3000L, 5L, 6700L))
      // independent key: its own history, no cross-talk
      mem.addData((t("2024-01-01 10:00:00"), "b", 99.0))
      q.processAllAvailable()
      alerts() shouldBe Set((2500L, 3L, 3000L), (3000L, 5L, 6700L))
    } finally q.stop()
  }

  test("cusumStream: clamped-recursion state spans batches — an elevated " +
    "statistic keeps alarming on normal readings; uncalibrated keys " +
    "silent; down side fires independently") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    // key a: mu=1000c, mad=200c → slack 100c, alarm h = 2*mad = 400c
    val out = Streams.cusumStream(mem.toDF().toDF("ts", "k", "v"),
      "ts", "k", "v", Map("a" -> ((1000L, 200L))), hMult = 2)
    val q = out.writeStream.format("memory").queryName("cusum_alarms")
      .outputMode(Streams.cusumStreamMode).start()
    def alarms() = spark.sql(
        "SELECT vCents, up, down, direction FROM cusum_alarms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    try {
      // batch 1: three nominal 10.00 readings drift su to −300 (slack),
      // then a 20.00 spike lifts up = su − minSu = 900 > 400 → alarm
      mem.addData(
        (t("2024-01-01 10:00:00"), "a", 10.0),
        (t("2024-01-01 10:01:00"), "a", 10.0),
        (t("2024-01-01 10:02:00"), "a", 10.0),
        (t("2024-01-01 10:03:00"), "a", 20.0),
        (t("2024-01-01 10:00:00"), "b", 999.0)) // no calibration → silent
      q.processAllAvailable()
      alarms() shouldBe Set((2000L, 900L, 0L, "up"))
      // batch 2: a NOMINAL 10.00 reading still alarms (up stays 800 —
      // state survived the batch boundary); then a 1.00 reading collapses
      // the up side and fires the down side (down = 1500 − 700 = 800)
      mem.addData(
        (t("2024-01-01 10:04:00"), "a", 10.0),
        (t("2024-01-01 10:05:00"), "a", 1.0),
        (t("2024-01-01 10:06:00"), "b", 999.0))
      q.processAllAvailable()
      alarms() shouldBe Set((2000L, 900L, 0L, "up"),
        (1000L, 800L, 0L, "up"), (100L, 0L, 800L, "down"))
    } finally q.stop()
  }

  test("cusumStream single batch == the batch closed form (prefix sum " +
    "minus clamped running extremum) on a random series") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(3)
    val mu = 5000L
    val mad = 1000L
    val rows = (0 until 60).map { i =>
      (t(f"2024-01-01 ${10 + i / 60}%02d:${i % 60}%02d:00"), "a",
        (mu + (rnd.nextInt(6001) - 3000)).toDouble / 100.0)
    }
    // driver reference: the prefix closed form over quantized cents
    var su = 0L; var minSu = 0L; var sd = 0L; var maxSd = 0L
    val exp = rows.flatMap { case (_, _, v) =>
      val vc = math.floor(v * 100).toLong
      su += vc - mu - mad / 2; sd += vc - mu + mad / 2
      minSu = math.min(minSu, su); maxSd = math.max(maxSd, sd)
      val up = su - minSu; val down = maxSd - sd
      if (up > 3 * mad || down > 3 * mad)
        Some((vc, up, down,
          if (up > 3 * mad && down > 3 * mad) "both"
          else if (up > 3 * mad) "up" else "down"))
      else None
    }.groupBy(identity).view.mapValues(_.size).toMap
    val mem = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.cusumStream(mem.toDF().toDF("ts", "k", "v"),
      "ts", "k", "v", Map("a" -> ((mu, mad))), hMult = 3)
    val q = out.writeStream.format("memory").queryName("cusum_rand")
      .outputMode(Streams.cusumStreamMode).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT vCents, up, down, direction FROM cusum_rand").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq.groupBy(identity).view.mapValues(_.size).toMap
      got shouldBe exp
      exp should not be empty
    } finally q.stop()
  }

  /** One MemoryStream batch of (ts, k, v) readings through `stream`: the
    * memory sink's rows, sorted. */
  private def oneBatch(name: String,
                       rows: Seq[(Timestamp, String, Option[Double])])(
      stream: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Seq[String] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Option[Double])]
    val q = stream(mem.toDF().toDF("ts", "k", "v")).writeStream
      .format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      spark.sql(s"SELECT * FROM $name").collect().map(_.toString).toSeq.sorted
    } finally q.stop()
  }

  private val withNull = Seq(
    (t("2024-01-01 10:00:00"), "a", Some(10.0)),
    (t("2024-01-01 10:01:00"), "a", Some(10.0)),
    (t("2024-01-01 10:01:30"), "a", None), // the gap
    (t("2024-01-01 10:02:00"), "a", Some(10.0)),
    (t("2024-01-01 10:03:00"), "a", Some(25.0)),
    (null, "a", Some(25.0))) // no event time: a gap too

  /** [[withNull]] minus its gaps: the readings the alarm streams keep. */
  private val gapless = withNull.filter(r => r._1 != null && r._3.isDefined)

  test("alertStream: a NULL reading is a gap — the batch emits exactly " +
    "what it emits without it") {
    def run(name: String, rows: Seq[(Timestamp, String, Option[Double])]) =
      oneBatch(name, rows)(Streams.alertStream(_, "ts", "k", "v",
        thresholdCents = 1000L, minHistory = 3))
    val clean = run("alerts_clean", gapless)
    clean should not be empty
    run("alerts_null", withNull) shouldBe clean
  }

  test("cusumStream: a NULL reading is a gap — the batch emits exactly " +
    "what it emits without it") {
    def run(name: String, rows: Seq[(Timestamp, String, Option[Double])]) =
      oneBatch(name, rows)(Streams.cusumStream(_, "ts", "k", "v",
        Map("a" -> ((1000L, 200L))), hMult = 2))
    val clean = run("cusum_clean", gapless)
    clean should not be empty
    run("cusum_null", withNull) shouldBe clean
  }

  test("resumeTracker: per-key watermark + hour coverage, day rollover resets") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val out = Streams.resumeTracker(mem.toDF().toDF("k", "ts"), "ts", "k")
    val q = out.writeStream.format("memory").queryName("resume")
      .outputMode(Streams.resumeTrackerMode).start()
    try {
      mem.addData(("p1", t("2024-01-01 00:00:00")), ("p1", t("2024-01-01 01:00:00")))
      q.processAllAvailable()
      mem.addData(("p1", t("2024-01-02 05:00:00"))) // new day resets coverage
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT * FROM resume WHERE grp='p1' ORDER BY lastTs DESC LIMIT 1")
        .collect()(0)
      last.getTimestamp(1).toString shouldBe "2024-01-02 05:00:00.0"
      last.getInt(2) shouldBe 1          // only hour 5 seen on the new day
      last.getString(3) shouldBe "2024-01-02"
    } finally q.stop()
  }
}
