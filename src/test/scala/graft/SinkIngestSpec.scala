package graft

import graft.engine.{Ingest, Sink}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

class SinkIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft_test_").toString

  test("readVersion time travel: every retained version readable, GC'd " +
    "version fails loudly, pointer read tracks current") {
    val path = tmpDir() + "/vt"
    Sink.commitVersioned(Seq((1L, "v1")).toDF("id", "tag"), path, retain = 3)
    Sink.commitVersioned(Seq((1L, "v2")).toDF("id", "tag"), path, retain = 3)
    Sink.commitVersioned(Seq((1L, "v3")).toDF("id", "tag"), path, retain = 3)
    Sink.versions(path) shouldBe Seq(1L, 2L, 3L)
    (1L to 3L).foreach { n =>
      Sink.readVersion(spark, path, n).collect().head.getString(1) shouldBe
        s"v$n"
    }
    Sink.readVersioned(spark, path).collect().head.getString(1) shouldBe "v3"
    // retain=1 on the next commit GCs everything but the newest
    Sink.commitVersioned(Seq((1L, "v4")).toDF("id", "tag"), path, retain = 1)
    Sink.versions(path) shouldBe Seq(4L)
    val e = intercept[IllegalArgumentException] {
      Sink.readVersion(spark, path, 2L)
    }
    e.getMessage should include("_v2 not present")
  }

  test("conformUnion: name-matched, typed-null-filled, extras dropped, " +
    "casts applied, column order independent") {
    import org.apache.spark.sql.types._
    val target = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("v", DoubleType)))
    // gen1: complete but scrambled order + an extra column
    val g1 = Seq((1.5, "junk", "a", 1)).toDF("v", "extra", "name", "id")
    // gen2: missing `name`, `v` arrives as string, id is already long
    val g2 = Seq((2L, "2.25")).toDF("id", "v")
    // gen3: int v widens to double
    val g3 = Seq((3L, "c", 3)).toDF("id", "name", "v")
    val out = Ingest.conformUnion(Seq(g1, g2, g3), target)
    out.schema.fields.map(f => (f.name, f.dataType)) shouldBe Array(
      ("id", LongType), ("name", StringType), ("v", DoubleType))
    out.orderBy("id").collect().map(r =>
      (r.getLong(0), Option(r.get(1)), r.getDouble(2))) shouldBe Array(
      (1L, Some("a"), 1.5), (2L, None, 2.25), (3L, Some("c"), 3.0))
  }

  test("S13 dynamic date-partition overwrite replaces only incoming days") {
    val path = tmpDir() + "/tbl"
    def t(s: String) = Timestamp.valueOf(s)
    val day1 = Seq((1L, t("2024-01-01 05:00:00"), 10.0),
      (2L, t("2024-01-02 06:00:00"), 20.0)).toDF("id", "ts", "v")
    Sink.overwriteDatePartitions(day1, col("ts"), path)
    // re-deliver day 2 with corrected values + a new day 3
    val redo = Seq((2L, t("2024-01-02 06:00:00"), 99.0),
      (3L, t("2024-01-03 07:00:00"), 30.0)).toDF("id", "ts", "v")
    Sink.overwriteDatePartitions(redo, col("ts"), path)
    val out = spark.read.parquet(path).orderBy("id").collect()
    out.map(r => (r.getLong(0), r.getDouble(2))) shouldBe
      Array((1L, 10.0), (2L, 99.0), (3L, 30.0)) // day1 kept, day2 replaced
  }

  test("S14 upsertParquet: creates, then merges with incoming winning") {
    val path = tmpDir() + "/keyed"
    Sink.upsertParquet(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path,
      Seq("id"), Seq(col("id")))
    Sink.upsertParquet(spark, Seq((2L, "B"), (3L, "C")).toDF("id", "v"), path,
      Seq("id"), Seq(col("id")))
    val out = spark.read.parquet(path).orderBy("id").collect()
    out.map(r => (r.getLong(0), r.getString(1))) shouldBe
      Array((1L, "a"), (2L, "B"), (3L, "C"))
  }

  test("swapStaged failure paths never lose the table") {
    val path = tmpDir() + "/swap"
    Sink.upsertParquet(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path,
      Seq("id"), Seq(col("id")))
    val before = spark.read.parquet(path).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // swap-in fails (staged dir doesn't exist) AFTER the table was staged
    // aside -> the backup must be restored before the error propagates
    intercept[java.io.IOException] {
      Sink.swapStaged(new java.io.File(path + "._staged_missing"),
        new java.io.File(path))
    }
    new java.io.File(path + "._old").exists() shouldBe false // restored back
    spark.read.parquet(path).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))) shouldBe before
    // stage-aside fails -> error BEFORE touching target. Tests run as root,
    // so permission bits can't force the failure; instead give the target a
    // name near NAME_MAX so `<target>._old` exceeds 255 bytes and the
    // stage-aside rename itself fails (ENAMETOOLONG).
    val parent = Files.createTempDirectory("graft_long_")
    val longTbl = parent.resolve("t" * 252)
    Seq((9L, "z")).toDF("id", "v").write.parquet(longTbl.toString)
    val staged = Files.createTempDirectory("graft_staged_").toString
    intercept[java.io.IOException] {
      Sink.swapStaged(new java.io.File(staged), longTbl.toFile)
    }
    spark.read.parquet(longTbl.toString).head().getLong(0) shouldBe 9L
  }

  test("pointer commit: versions, atomic flip, retention GC") {
    val path = tmpDir() + "/vtbl"
    Sink.commitVersioned(Seq((1L, "a")).toDF("id", "v"), path)
    Sink.currentVersion(path) shouldBe Some("_v1")
    Sink.readVersioned(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))) shouldBe Array((1L, "a"))
    Sink.commitVersioned(Seq((1L, "b")).toDF("id", "v"), path)
    Sink.currentVersion(path) shouldBe Some("_v2")
    // retain=2: the stale version stays readable for one more commit
    new java.io.File(path, "_v1").exists() shouldBe true
    Sink.commitVersioned(Seq((1L, "c")).toDF("id", "v"), path)
    Sink.currentVersion(path) shouldBe Some("_v3")
    new java.io.File(path, "_v1").exists() shouldBe false // GC'd
    new java.io.File(path, "_v2").exists() shouldBe true
    Sink.readVersioned(spark, path).head().getString(1) shouldBe "c"
  }

  test("pointer commit: crash between version write and pointer flip is " +
    "invisible to readers; the orphan's number is never reused") {
    val path = tmpDir() + "/vcrash"
    Sink.commitVersioned(Seq((1L, "a")).toDF("id", "v"), path)
    // simulate the crash: a fully-written version dir that was never
    // published (the writer died before the pointer flip)
    Seq((1L, "ORPHAN")).toDF("id", "v")
      .write.parquet(new java.io.File(path, "_v2").getPath)
    // readers still resolve the last published version
    Sink.currentVersion(path) shouldBe Some("_v1")
    Sink.readVersioned(spark, path).head().getString(1) shouldBe "a"
    // the next commit numbers ABOVE the orphan (never adopts or reuses it),
    // publishes atomically, and retention GC sweeps the orphan away
    Sink.commitVersioned(Seq((1L, "b")).toDF("id", "v"), path, retain = 1)
    Sink.currentVersion(path) shouldBe Some("_v3")
    Sink.readVersioned(spark, path).head().getString(1) shouldBe "b"
    new java.io.File(path, "_v2").exists() shouldBe false
  }

  test("writeShards: row cap honored per shard, manifest accounts for " +
    "every row and every token") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft_shards_").toString + "/corpus"
    val m = Sink.writeShards(docs.repartition(2, col("doc_id")), dir, 20,
      graft.engine.TextOps.tokenCount(col("text")))
    val rows = m.collect()
    all(rows.map(_.getLong(1))) should be <= 20L
    rows.map(_.getLong(1)).sum shouldBe docs.count()
    rows.length.toLong should be >= (docs.count() + 19) / 20 // ceil(n/cap)
    val totTokens = docs
      .agg(sum(graft.engine.TextOps.tokenCount(col("text")))).head.getLong(0)
    rows.map(_.getLong(2)).sum shouldBe totTokens
    // the manifest is persisted next to the data for the trainer
    spark.read.parquet(dir + "._manifest").count() shouldBe rows.length.toLong
    // the shards ARE the corpus: reading them back loses nothing
    spark.read.parquet(dir).count() shouldBe docs.count()
  }

  test("S14 upsertParquet with PointerCommit merges across versions") {
    val path = tmpDir() + "/vkeyed"
    Sink.upsertParquet(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path,
      Seq("id"), Seq(col("id")), Sink.PointerCommit)
    Sink.upsertParquet(spark, Seq((2L, "B"), (3L, "C")).toDF("id", "v"), path,
      Seq("id"), Seq(col("id")), Sink.PointerCommit)
    Sink.readVersioned(spark, path).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))) shouldBe
      Array((1L, "a"), (2L, "B"), (3L, "C"))
    // the merge read v1 while writing v2 — both exist, pointer names v2
    Sink.currentVersion(path) shouldBe Some("_v2")
    new java.io.File(path, "_v1").exists() shouldBe true
  }

  test("compact with PointerCommit defragments into a new version") {
    val path = tmpDir() + "/vfrag"
    val df = (1 to 500).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
    Sink.commitVersioned(df.repartition(50), path)
    Sink.compact(spark, path, commit = Sink.PointerCommit)
    val vdir = Sink.resolveVersioned(path).get
    new java.io.File(vdir).listFiles()
      .count(_.getName.endsWith(".parquet")) shouldBe 1
    Sink.readVersioned(spark, path).agg(sum("v")).head().getDouble(0) shouldBe
      (1 to 500).map(_ * 1.5).sum
  }

  test("bucketed co-located join plans with NO shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, s"s$i")).toDF("k", "vb")
      Sink.writeBucketed(a, "graft_bkt_a", Seq("k"), 4)
      Sink.writeBucketed(b, "graft_bkt_b", Seq("k"), 4)
      val joined = spark.table("graft_bkt_a")
        .join(spark.table("graft_bkt_b"), "k")
      joined.count() shouldBe 1000
      val plan = joined.queryExecution.executedPlan.toString
      plan should not include "ShuffleExchange"
      plan should not include "Exchange hashpartitioning"
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  test("compact rewrites a fragmented table preserving content") {
    val path = tmpDir() + "/frag"
    val df = (1 to 500).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
    df.repartition(50).write.parquet(path) // 50 tiny files
    Sink.compact(spark, path)
    val files = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    files shouldBe 1 // tiny table → single target-size file
    spark.read.parquet(path).agg(sum("v")).head().getDouble(0) shouldBe
      (1 to 500).map(_ * 1.5).sum
  }

  test("S1 charset fallback: cp949 file decodes, utf-8 preferred when valid") {
    val dir = tmpDir()
    val cp949 = Paths.get(dir, "kr.csv")
    // '발전소명' (plant name) is not valid UTF-8 in cp949 bytes
    Files.write(cp949, "발전소명,호기\n남부발전,1\n".getBytes("x-windows-949"))
    Ingest.detectCharset(cp949.toString, Ingest.defaultCharsets) shouldBe "x-windows-949"
    val df = Ingest.csvWithCharsetFallback(spark, cp949.toString)
    df.columns shouldBe Array("발전소명", "호기")
    df.head().getString(0) shouldBe "남부발전"

    val utf8 = Paths.get(dir, "ok.csv")
    Files.write(utf8, "a,b\n1,2\n".getBytes("UTF-8"))
    Ingest.detectCharset(utf8.toString, Ingest.defaultCharsets) shouldBe "UTF-8"
  }

  test("S1 header normalization collapses embedded whitespace") {
    val dir = tmpDir()
    val f = Paths.get(dir, "h.csv")
    Files.write(f, "col  one,col\ttwo\n1,2\n".getBytes("UTF-8"))
    Ingest.csvWithCharsetFallback(spark, f.toString).columns shouldBe
      Array("col one", "col two")
  }

  test("deleteKeys: rewrites only partitions containing target keys; " +
    "emptied partitions vanish") {
    val path = tmpDir() + "/gdpr"
    val rows = for {
      day <- 1 to 5; i <- 0 until 20
    } yield (s"u${day}_$i", Timestamp.valueOf(f"2024-03-0$day 10:00:00"),
      day * 100 + i)
    Sink.overwriteDatePartitions(rows.toDF("uid", "ts", "v"), col("ts"), path)
    def files(day: Int): Set[(String, Long)] = {
      val dir = new java.io.File(s"$path/p_date=2024-03-0$day")
      if (!dir.exists()) Set.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before = (1 to 5).map(files)
    // delete two keys from day 2, ALL keys from day 4
    val victims = (Seq("u2_3", "u2_7") ++ (0 until 20).map(i => s"u4_$i"))
      .toDF("uid")
    val affected = Sink.deleteKeys(spark, path, "uid", victims)
    affected.map(_.toString) shouldBe Seq("2024-03-02", "2024-03-04")
    val after = (1 to 5).map(files)
    // untouched partitions: identical files, same mtimes (no rewrite)
    after(0) shouldBe before(0)
    after(2) shouldBe before(2)
    after(4) shouldBe before(4)
    after(1) should not be before(1) // day 2 rewritten
    after(3) shouldBe empty          // day 4 fully deleted
    val left = spark.read.parquet(path).select("uid").as[String]
      .collect().toSet
    left should have size 78 // 100 - 2 - 20
    left should contain noneOf ("u2_3", "u2_7", "u4_0")
    left should contain allOf ("u2_0", "u1_0", "u5_19")
    // idempotent: re-deleting the same keys touches nothing
    Sink.deleteKeys(spark, path, "uid", victims) shouldBe empty
  }

  for (mode <- Seq(None, Some("static")))
    test("overwriteDatePartitions + deleteKeys leave the session's " +
      s"partitionOverwriteMode as found (${mode.getOrElse("unset")})") {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val saved = spark.conf.getAll.get(key)
      mode.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      // getOption reports the default of an unset key; getAll holds only
      // the explicitly set ones, so together they tell unset from static
      def conf = (spark.conf.getOption(key), spark.conf.getAll.get(key))
      val asFound = conf
      try {
        asFound._2 shouldBe mode
        val path = tmpDir() + "/conf"
        def t(s: String) = Timestamp.valueOf(s)
        def days(): Map[String, Set[Long]] =
          spark.read.parquet(path)
            .select(col("p_date").cast("string"), col("id")).as[(String, Long)]
            .collect().groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSet }
        Sink.overwriteDatePartitions(Seq(
          (1L, t("2024-01-01 05:00:00"), 10), (2L, t("2024-01-02 06:00:00"), 20),
          (3L, t("2024-01-03 07:00:00"), 30)).toDF("id", "ts", "v"),
          col("ts"), path)
        conf shouldBe asFound
        // the redo carries days 2 and 4 only: day 2 is replaced, day 4
        // added, days 1 and 3 untouched (a static overwrite would drop them)
        Sink.overwriteDatePartitions(Seq(
          (4L, t("2024-01-02 08:00:00"), 40), (5L, t("2024-01-04 09:00:00"), 50),
          (6L, t("2024-01-04 10:00:00"), 60)).toDF("id", "ts", "v"),
          col("ts"), path)
        conf shouldBe asFound
        days() shouldBe Map(
          "2024-01-01" -> Set(1L), "2024-01-02" -> Set(4L),
          "2024-01-03" -> Set(3L), "2024-01-04" -> Set(5L, 6L))
        // deleting day 3's only key removes day 3's directory and rewrites
        // day 4 without key 5; days 1 and 2 stay
        Sink.deleteKeys(spark, path, "id", Seq(3L, 5L).toDF("id"))
          .map(_.toString) shouldBe Seq("2024-01-03", "2024-01-04")
        conf shouldBe asFound
        new java.io.File(s"$path/p_date=2024-01-03").exists() shouldBe false
        days() shouldBe Map(
          "2024-01-01" -> Set(1L), "2024-01-02" -> Set(4L),
          "2024-01-04" -> Set(6L))
      } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  test("csvFlagQuarantine: bad rows keep raw text, good rows parse typed") {
    val dir = tmpDir()
    val f = Paths.get(dir, "q.csv")
    Files.write(f,
      ("id,qty\n" +
        "1,10\n" +
        "2,notanumber\n" +
        "3,30\n").getBytes("UTF-8"))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType)))
    val out = Ingest.csvFlagQuarantine(spark, f.toString, schema)
    val good = out.filter(!col("is_quarantined"))
      .select("id", "qty").as[(Long, Long)].collect().sorted
    good shouldBe Array((1L, 10L), (3L, 30L))
    // a data column must ride along: a corrupt-only projection is rejected
    // by the CSV source (see csvFlagQuarantine Scaladoc)
    val bad = out.filter(col("is_quarantined"))
      .select("id", "_corrupt_record").as[(Option[Long], String)].collect()
    bad.map(_._2) shouldBe Array("2,notanumber")
    // one-pass split: partitioned write routes rows by the flag
    val split = dir + "/split"
    out.write.partitionBy("is_quarantined").parquet(split)
    // the flag reads back as a STRING partition value (partition-type
    // inference has no boolean)
    spark.read.parquet(split)
      .filter(col("is_quarantined") === "true").count() shouldBe 1L
    spark.read.parquet(split)
      .filter(col("is_quarantined") === "false").count() shouldBe 2L
  }

  test("writeWithBloom: row groups carry a working bloom filter for the key") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.column.values.bloomfilter.BloomFilter
    import org.apache.parquet.io.api.Binary
    import scala.jdk.CollectionConverters._
    val path = tmpDir() + "/bloomed"
    val present = (0 until 2000).map(i => s"doc_${i * 7}")
    Sink.writeWithBloom(present.toDF("doc_key").repartition(2), path,
      Seq("doc_key"), ndv = 2000)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    files should not be empty
    var checkedGroups = 0
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), new Configuration()))
      try {
        val presentHere = spark.read.parquet(f.getAbsolutePath)
          .collect().map(_.getString(0))
        reader.getFooter.getBlocks.forEach { block =>
          val chunk = block.getColumns.asScala
            .find(_.getPath.toDotString == "doc_key").get
          val bf: BloomFilter = reader.getBloomFilterDataReader(block)
            .readBloomFilter(chunk)
          bf should not be null
          // every present value answers "maybe" — no false negatives
          presentHere.foreach { v =>
            bf.findHash(bf.hash(Binary.fromString(v))) shouldBe true
          }
          // absent values answer "no" almost always (FPP ~1% at this ndv)
          val absentHits = (0 until 1000)
            .count(i => bf.findHash(bf.hash(Binary.fromString(s"missing_$i"))))
          absentHits should be < 100
          checkedGroups += 1
        }
      } finally reader.close()
    }
    checkedGroups should be >= 2
  }

  test("writeZOrdered: per-file envelopes prune the non-leading column; " +
    "linear sort does not") {
    import graft.engine.Order
    // Two independent uniform dims — the adversarial case for a linear
    // sort (second column spans its full range inside every file).
    val rows = (0 until 4096).map { i =>
      val a = (i * 2654435761L) % 1024      // pseudo-random, deterministic
      val b = (i * 40503L + 7) % 1024
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b").repartition(8)
    val ranges = Seq((0L, 1023L), (0L, 1023L))
    val zPath = tmpDir() + "/ztbl"
    val linPath = tmpDir() + "/lintbl"
    Sink.writeZOrdered(df, Seq("a", "b"), ranges, zPath, numFiles = 16)
    df.repartitionByRange(16, col("a")).sortWithinPartitions(col("a"))
      .write.parquet(linPath)

    def hitFraction(path: String): Double = {
      val envs = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("b").as("lo"), max("b").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      envs.length shouldBe 16
      // fraction of files a point predicate b = 512 must read
      envs.count { case (lo, hi) => lo <= 512L && 512L <= hi } /
        envs.length.toDouble
    }
    val zHit = hitFraction(zPath)
    val linHit = hitFraction(linPath)
    linHit shouldBe 1.0 // every linear file spans the full b range
    zHit should be <= 0.5 // z-order: only files whose b-envelope covers 512
    // identical data, different layout
    spark.read.parquet(zPath).collect().map(_.getLong(0)).sorted shouldBe
      spark.read.parquet(linPath).collect().map(_.getLong(0)).sorted
  }
}
