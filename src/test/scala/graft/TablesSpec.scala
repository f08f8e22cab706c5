package graft

import graft.engine.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Pins the dual physical `ts` generations of `events.parquet`
  * (TIMESTAMP(NANOS) read as legacy long vs native TIMESTAMP(MICROS) /
  * NTZ): both must normalize to identical session-zone timestamps, and
  * BOTH branches of `eventsRange` must reach the parquet scan as pushed
  * filters — at 100 TB that is the difference between scanning a day and
  * scanning the table. The micros fixture is synthesized from the nanos
  * testdata so this holds before any data refresh flips the type.
  *
  * Also pins `Tables.parquet`, the footer-on-the-driver reader every
  * single-file table goes through: its schema equals Spark's inferred one
  * (testdata files and a Spark-written file alike), a directory and a
  * missing path behave as `spark.read.parquet`, and a table read starts no
  * Spark job. */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Micros-generation twin of the sf0.001 events table (NTZ `ts`),
    * written once per JVM. */
  private lazy val microsDir: String = {
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_micros_events_fixture")
    Tables.events(spark, sf)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(new java.io.File(dir, "events.parquet").getAbsolutePath)
    dir.getAbsolutePath
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  private def pushedFilters(df: DataFrame): String =
    scans(df.queryExecution.executedPlan)
      .map(_.metadata.getOrElse("PushedFilters", "")).mkString(";")

  private def collectKeyed(df: DataFrame): Set[(Long, String)] =
    df.select(col("event_id").cast("long"), col("ts").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("events: micros(NTZ) and legacy-nanos generations normalize to " +
    "identical session-zone timestamps") {
    val nanos = Tables.events(spark, sf)
    val micros = Tables.events(spark, microsDir)
    micros.schema("ts").dataType shouldBe nanos.schema("ts").dataType
    collectKeyed(micros) shouldBe collectKeyed(nanos)
  }

  test("eventsRange: both generations return the same rows and PUSH the " +
    "ts bounds into the parquet scan") {
    val from = "2024-01-05"; val to = "2024-01-07"
    val nanos = Tables.eventsRange(spark, sf, from, to)
    val micros = Tables.eventsRange(spark, microsDir, from, to)
    val rows = collectKeyed(nanos)
    rows should not be empty
    collectKeyed(micros) shouldBe rows
    // legacy branch: the compare is on the raw nanos long
    val pfNanos = pushedFilters(nanos)
    pfNanos should include("GreaterThanOrEqual(ts")
    pfNanos should include("LessThan(ts")
    // micros branch: the native NTZ predicate must reach the scan too
    val pfMicros = pushedFilters(micros)
    pfMicros should include("GreaterThanOrEqual(ts")
    pfMicros should include("LessThan(ts")
  }

  test("events access fails loudly in a non-UTC session (the NTZ→LTZ " +
    "normalization is only value-preserving in UTC)") {
    val other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "Asia/Seoul")
    val e = intercept[IllegalArgumentException] {
      Tables.events(other, sf)
    }
    e.getMessage should include("timeZone=UTC")
  }

  /** Legacy-generation events twin: `ts` is TIMESTAMP(NANOS), written
    * with parquet's example writer (Spark cannot write nanos). */
  private lazy val nanosFile: String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val f = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_nanos_events_fixture.parquet")
    f.delete()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,false)); optional double value; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(f.getPath)).withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration()).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 3).foreach(i => w.write(g.newGroup()
      .append("event_id", i.toLong)
      .append("ts", nanos0 + i * 3600000000000L)
      .append("value", i * 1.5)))
    finally w.close()
    f.getPath
  }
  private val nanos0 = 1704067200000000000L // 2024-01-01T00:00:00Z

  test("Tables.parquet: the footer schema equals Spark's inferred schema " +
    "for every sf0.001 table file and a TIMESTAMP(NANOS) events file " +
    "(nanosAsLong: ts is LongType)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val files = new java.io.File(sf).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getPath).sorted
    files.map(new java.io.File(_).getName) should contain allOf(
      "events.parquet", "lineitem.parquet", "documents.parquet",
      "embeddings.parquet")
    for (p <- files :+ nanosFile) withClue(s"$p: ") {
      Tables.parquet(spark, p).schema shouldBe spark.read.parquet(p).schema
    }
    val legacy = Tables.parquet(spark, nanosFile)
    legacy.schema("ts").dataType shouldBe
      org.apache.spark.sql.types.LongType
    legacy.select("ts").collect().map(_.getLong(0)).sorted shouldBe
      (0 until 3).map(i => nanos0 + i * 3600000000000L)
  }

  test("Tables.parquet: a Spark-written single file (row-metadata schema: " +
    "timestamp_ntz, array, struct, short) reads back with the inferred " +
    "schema and the same rows") {
    val dir = tempDir("graft_tables_spark")
    val stage = dir.resolve("stage").toString
    spark.range(5).selectExpr(
        "id",
        "cast(id as short) as s",
        "make_timestamp_ntz(2024, 1, 1, cast(id as int), 0, 0) as ts_ntz",
        "array(id, id * 2) as arr",
        "named_struct('a', id, 'b', cast(id as string), " +
          "'c', array(cast(id as double))) as st")
      .coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val file = dir.resolve("one.parquet")
    java.nio.file.Files.move(part.toPath, file)
    val p = file.toString
    val inferred = spark.read.parquet(p)
    val got = Tables.parquet(spark, p)
    got.schema shouldBe inferred.schema
    got.schema("ts_ntz").dataType shouldBe
      org.apache.spark.sql.types.TimestampNTZType
    got.collect().map(_.toString).sorted shouldBe
      inferred.collect().map(_.toString).sorted
  }

  test("Tables.parquet: a directory (the micros fixture) resolves as " +
    "spark.read.parquet does") {
    val p = s"$microsDir/events.parquet"
    new java.io.File(p).isDirectory shouldBe true
    val got = Tables.parquet(spark, p)
    val plain = spark.read.parquet(p)
    got.schema shouldBe plain.schema
    got.inputFiles.sorted shouldBe plain.inputFiles.sorted
    got.count() shouldBe plain.count()
  }

  test("Tables.parquet: a missing path raises spark.read.parquet's " +
    "AnalysisException error class") {
    val missing = s"$sf/no_such_table.parquet"
    val plain = intercept[AnalysisException](spark.read.parquet(missing))
    val got = intercept[AnalysisException](Tables.parquet(spark, missing))
    got.getCondition shouldBe plain.getCondition
    got.getCondition shouldBe "PATH_NOT_FOUND"
  }

  /** Spark jobs started by `body`, counted by a listener. A sentinel job
    * run afterwards flushes the listener bus: events arrive in order, so
    * once the sentinel's start is seen every earlier start has been. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.tables.sentinel"
    val count = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) != null))
          sentinel.countDown()
        else count.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(key, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      count.get()
    } finally sc.removeSparkListener(listener)
  }

  test("Tables.events and Tables.table start no Spark job (bare " +
    "spark.read.parquet infers its schema with one)") {
    jobsStartedBy(Tables.events(spark, sf)) shouldBe 0
    jobsStartedBy(Tables.table(spark, sf, "lineitem")) shouldBe 0
    // the listener does see the inference job the reader avoids
    jobsStartedBy(spark.read.parquet(s"$sf/lineitem.parquet")) should
      be >= 1
  }
}
