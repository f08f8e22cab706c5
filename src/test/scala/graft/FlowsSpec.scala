package graft

import graft.engine.{Flows, Impute}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** End-to-end flow composition (SURVEY §3 E1–E3). */
class FlowsSpec extends SparkSpec {
  import spark.implicits._

  test("E1 dailyPvFlow: wide payload lands as hourly partitioned rows, idempotent") {
    val sink = tempDir("graft_e1_").toString + "/pv"
    val wide = Seq(("2024-03-10", "plantA", 5.0, null.asInstanceOf[Any]),
      ("2024-03-11", "plantA", 7.0, 3.0))
      .map { case (d, p, a, b) => (d, p, a, Option(b).map(_.toString.toDouble)) }
      .toDF("ymd", "plant", "h01", "h02")
    val out = Flows.dailyPvFlow(wide, "ymd", "plant", Seq("h01", "h02"), sink)
    out.count() shouldBe 4 // nulls coerced to 0.0, not dropped
    val read = spark.read.parquet(sink)
    read.count() shouldBe 4
    read.filter(col("ts") === Timestamp.valueOf("2024-03-10 00:00:00"))
      .head().getAs[Double]("generation") shouldBe 5.0
    read.filter(col("ts") === Timestamp.valueOf("2024-03-10 01:00:00"))
      .head().getAs[Double]("generation") shouldBe 0.0 // null→0 (generation only)
    // idempotent re-run: same content
    Flows.dailyPvFlow(wide, "ymd", "plant", Seq("h01", "h02"), sink)
    spark.read.parquet(sink).count() shouldBe 4
  }

  test("E2 weatherFlow: imputes gaps then merges into history keyed (grp, ts)") {
    val hist = tempDir("graft_e2_").toString + "/weather"
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val batch1 = Seq(("st1", t(0), 0L, Some(10.0)), ("st1", t(1), 1L, Some(12.0)))
      .toDF("grp", "ts", "id", "v")
    Flows.weatherFlow(spark, batch1, hist).count() shouldBe 2
    // batch 2 overlaps t(1) (revised) and adds a gap at t(2) + value at t(3)
    val batch2 = Seq(("st1", t(1), 2L, Some(99.0)), ("st1", t(2), 3L, None),
      ("st1", t(3), 4L, Some(20.0))).toDF("grp", "ts", "id", "v")
    val merged = Flows.weatherFlow(spark, batch2, hist)
      .orderBy("ts").collect()
    merged.length shouldBe 4
    merged(1).getDouble(3) shouldBe 99.0 // revised value won the upsert
    merged(2).getDouble(3) should (be >= 20.0 or be <= 99.0) // gap was filled
    merged.forall(r => !r.isNullAt(3)) shouldBe true
  }

  test("E3 backfillTargets: missing ∪ incomplete days") {
    def t(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // day 1 complete (2 hours when requiredHours=2), day 2 incomplete,
    // day 3 absent entirely
    val df = Seq(t(1, 0), t(1, 1), t(2, 5)).map(Tuple1(_)).toDF("ts")
    // note: the calendar range is INCLUSIVE of `to` (reference date_range
    // semantics) — window covers days 1..3
    val targets = Flows.backfillTargets(df, col("ts"), "2024-01-01",
        "2024-01-03", requiredHours = 2)
      .orderBy("day").collect().map(_.getDate(0).toString)
    targets shouldBe Array("2024-01-02", "2024-01-03")
  }

  test("E3 resolveBackfillRange: explicit start wins; else high-watermark " +
    "+ 1 day; else the default (NEW r11)") {
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    val df = Seq(t(3), t(15), t(9)).map(Tuple1(_)).toDF("ts")
    Flows.resolveBackfillRange(df, col("ts"), Some("2024-01-02"),
      "2024-02-01", "2023-06-01") shouldBe ("2024-01-02", "2024-02-01")
    Flows.resolveBackfillRange(df, col("ts"), None,
      "2024-02-01", "2023-06-01") shouldBe ("2024-01-16", "2024-02-01")
    val empty = df.filter(lit(false))
    Flows.resolveBackfillRange(empty, col("ts"), None,
      "2024-02-01", "2023-06-01") shouldBe ("2023-06-01", "2024-02-01")
  }

  test("E3 monthlyBackfillTargets: fetch-target days carry their " +
    "split_by_month chunk, clipped to the window at both ends (NEW r11)") {
    def t(d: String, h: Int) = Timestamp.valueOf(f"$d $h%02d:00:00")
    // Jan 30 complete (2 h), Jan 31 incomplete (1 h), Feb+Mar absent
    val df = Seq(t("2024-01-30", 0), t("2024-01-30", 1), t("2024-01-31", 5))
      .map(Tuple1(_)).toDF("ts")
    val rows = Flows.monthlyBackfillTargets(df, col("ts"),
        "2024-01-30", "2024-03-02", requiredHours = 2)
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getDate(1).toString,
        r.getDate(2).toString))
    // 1 incomplete Jan day + 29 missing Feb days (leap year) + 2 Mar days
    rows.length shouldBe 32
    // Jan chunk clips its START to the window's `from`
    rows.head shouldBe (("2024-01-31", "2024-01-30", "2024-01-31"))
    // a full interior month is its own calendar chunk
    rows(1) shouldBe (("2024-02-01", "2024-02-01", "2024-02-29"))
    rows(15) shouldBe (("2024-02-15", "2024-02-01", "2024-02-29"))
    // the final chunk clips its END to the window's `to`
    rows.last shouldBe (("2024-03-02", "2024-03-01", "2024-03-02"))
    rows(30) shouldBe (("2024-03-01", "2024-03-01", "2024-03-02"))
  }

  test("E3 monthlyBackfillFlow: refetches exactly the month chunks, lands " +
    "through melt + S13, re-run is idempotent, up-to-date table no-ops") {
    val sink = tempDir("graft_e3_").toString + "/pv"
    def t(d: String, h: Int) = Timestamp.valueOf(f"$d $h%02d:00:00")
    // existing: only Jan 30 complete — window Jan 30 .. Feb 2 with 2
    // required hours ⇒ targets Jan 31 (chunk Jan 30–31), Feb 1–2
    val existing = Seq(t("2024-01-30", 0), t("2024-01-30", 1))
      .map(Tuple1(_)).toDF("ts")
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def refetch(s: String, e: String) = {
      calls += ((s, e))
      val days = Iterator.iterate(java.time.LocalDate.parse(s))(_.plusDays(1))
        .takeWhile(!_.isAfter(java.time.LocalDate.parse(e))).toSeq
      days.map(d => (d.toString, "plantA", 1.0, 2.0))
        .toDF("ymd", "plant", "h01", "h02")
    }
    val out = Flows.monthlyBackfillFlow(existing, col("ts"),
      "2024-01-30", "2024-02-02", refetch, "ymd", "plant",
      Seq("h01", "h02"), sink, requiredHours = 2)
    calls.toSeq shouldBe Seq(("2024-01-30", "2024-01-31"),
      ("2024-02-01", "2024-02-02"))
    out.count() shouldBe 8 // (2 + 2 days) × 2 hours
    spark.read.parquet(sink).count() shouldBe 8
    // idempotent: the same backfill twice overwrites the same date
    // partitions — content identical, no duplication
    calls.clear()
    Flows.monthlyBackfillFlow(existing, col("ts"), "2024-01-30",
      "2024-02-02", refetch, "ymd", "plant", Seq("h01", "h02"), sink,
      requiredHours = 2)
    calls.size shouldBe 2
    val read = spark.read.parquet(sink)
    read.count() shouldBe 8
    read.agg(sum(col("generation"))).head().getDouble(0) shouldBe 12.0
    // an up-to-date window refetches nothing and returns the empty E1
    // schema (plant, ts, generation)
    calls.clear()
    val none = Flows.monthlyBackfillFlow(existing, col("ts"),
      "2024-01-30", "2024-01-30", refetch, "ymd", "plant",
      Seq("h01", "h02"), sink, requiredHours = 2)
    calls shouldBe empty
    none.count() shouldBe 0L
    none.columns.toSeq shouldBe Seq("plant", "ts", "generation")
  }

  test("imputeAll routes short gaps to spline, long gaps to historical") {
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val df = (Seq(Some(1.0), Some(2.0), None, Some(4.0), Some(5.0)) ++ // short gap
      Seq(None, None, None, None) ++ Seq(Some(10.0))) // long run (4)
      .zipWithIndex.map { case (v, i) => ("g", t(i), i.toLong, v) }
      .toDF("g", "t", "id", "v")
    val out = Impute.imputeAll(df, col("g"), col("t"), col("id"), col("v"))
      .orderBy("ts").collect()
    out.map(_.getString(5)) shouldBe Array("present", "present", "spline",
      "present", "present", "hist", "hist", "hist", "hist", "present")
    out(2).getDouble(4) shouldBe (3.0 +- 0.5) // spline ≈ linear trend
    out.forall(r => !r.isNullAt(4)) shouldBe true
    out.count(_.getString(5) == "present") shouldBe 5
  }

  test("corpusClean: exact dup, near-dup cluster, then quality floor") {
    import graft.engine.{NearDup, TextOps}
    val en = TextOps.langMarkers.toMap.apply("en")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat near the river bank"), // near-dup of 1
      (4L, "completely different words about spark catalyst optimizer plans here today"),
      (5L, "zzz qqq xxx vvv kkk mmm nnn ppp rrr ttt") // no stopwords → low quality
    ).toDF("doc_id", "text")
    // exact posting-list blocking: deterministic on a 5-doc fixture
    // (minhash band collisions are probabilistic at jaccard ≈ 0.45)
    val cleaned = Flows.corpusClean(docs, col("doc_id"), col("text"), en,
      tau = 0.3, minQuality = Long.MinValue,
      block = NearDup.ShingleBlock.Postings())
    val q = cleaned.select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2 fell to exact dedup, 3 to 1's near-dup cluster (canonical = min id)
    q.keySet shouldBe Set(1L, 4L, 5L)

    // the quality floor drops the stopword-free doc but keeps real prose
    val floor = q(5L) + 1
    val expected = Set(1L, 4L).filter(i => q(i) >= floor)
    expected should not be empty // the score separates prose from junk
    val floored = Flows.corpusClean(docs, col("doc_id"), col("text"), en,
        tau = 0.3, minQuality = floor,
        block = NearDup.ShingleBlock.Postings())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    floored shouldBe expected
  }

  test("qualityMix: rate-1 bucket keeps all, rate-0 tail drops all, " +
    "keep decision is monotone in the rate") {
    import graft.engine.Flows
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    // one bucket swallowing everything at rate 1.0 → identity
    Flows.qualityMix(docs, col("doc_id"), col("text"),
      Seq((Long.MaxValue, 1.0)), 0.0).count() shouldBe n
    // tail-only at rate 0 → empty
    Flows.qualityMix(docs, col("doc_id"), col("text"),
      Seq((0L, 1.0)), 0.0).count() shouldBe 0L
    // monotone: the docs kept at a lower tail rate are a subset of those
    // kept at a higher one (the md5-uniform is fixed per doc)
    def kept(r: Double) = Flows.qualityMix(docs, col("doc_id"), col("text"),
      Seq((0L, 1.0)), r).select("doc_id").collect().map(_.getLong(0)).toSet
    val lo = kept(0.2); val hi = kept(0.6)
    lo.subsetOf(hi) shouldBe true
    assert(lo.nonEmpty && hi.size < n)
  }

  test("dailyCorpusIncrement: exact-vs-corpus, cluster-wide drop on " +
    "existing contact, within-batch canonical keep, quality floor") {
    import graft.engine.TextOps
    val en = TextOps.langMarkers.toMap.apply("en")
    val prose = "the quick brown fox jumps over the lazy dog near the river bank"
    val existing = Seq(
      (1L, prose),
      (2L, "a measured essay about the craft of writing is presented here today")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, prose),                                                       // exact dup of corpus → dropped
      (11L, prose.replace("dog", "cat")),                                 // near-dup of corpus doc 1 → dropped
      (12L, prose.replace("dog", "cat").replace("quick", "swift")),       // near-dup of 11 → same cluster, dropped WITH it
      (13L, "a completely fresh report about spark catalyst and the optimizer is here"),
      (14L, "a completely fresh report about spark catalyst and the planner is here"), // near-dup of 13, batch-internal
      (15L, "zzz qqq xxx vvv kkk mmm nnn ppp rrr ttt")                    // junk → quality floor
    ).toDF("doc_id", "text")
    val admitted = Flows.dailyCorpusIncrement(existing, incoming,
        col("doc_id"), col("text"), en, tau = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 10 exact-dropped; 11 pairs with corpus → its cluster {11,12} dropped
    // whole; {13,14} is a clean batch cluster → canonical 13 kept; 15
    // fails the quality floor
    admitted shouldBe Set(13L)
    // idempotence: re-offering the same batch against the grown corpus
    // admits nothing new
    val corpus2 = existing.unionByName(
      incoming.filter(col("doc_id") === 13L))
    Flows.dailyCorpusIncrement(corpus2, incoming, col("doc_id"), col("text"),
      en, tau = 0.3).count() shouldBe 0L
  }

  test("daily increment → versioned sink: day N arrives, the corpus pointer " +
    "advances; a re-offered batch is a no-op commit") {
    import graft.engine.{Sink, TextOps}
    val en = TextOps.langMarkers.toMap.apply("en")
    val corpusPath = tempDir("graft_vcorpus_").toString +
      "/corpus"
    val prose = "the quick brown fox jumps over the lazy dog near the river bank"
    // day 0: the initial corpus is version 1
    Sink.commitVersioned(Seq(
      (1L, prose),
      (2L, "a measured essay about the craft of writing is presented here today")
    ).toDF("doc_id", "text"), corpusPath)
    val v1 = Sink.readVersioned(spark, corpusPath)
    v1.count() shouldBe 2
    // day 1 arrives: one exact dup of the corpus, one genuinely new doc
    val day1 = Seq(
      (10L, prose), // exact dup of doc 1 → dropped
      (13L, "a completely fresh report about spark catalyst and the optimizer is here")
    ).toDF("doc_id", "text")
    val admitted = Flows.dailyCorpusIncrement(v1, day1,
      col("doc_id"), col("text"), en, tau = 0.3)
    admitted.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(13L)
    // pointer flip: corpus ∪ increment becomes version 2 atomically —
    // readers resolving the pointer mid-commit still see a complete v1
    Sink.commitVersioned(
      v1.unionByName(admitted.select("doc_id", "text")), corpusPath)
    Sink.currentVersion(corpusPath) shouldBe Some("_v2")
    val v2 = Sink.readVersioned(spark, corpusPath)
    v2.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(1L, 2L, 13L)
    // idempotent re-offer: the SAME day-1 batch against the advanced
    // pointer admits nothing — a crashed-and-retried cron tick cannot
    // duplicate corpus content
    Flows.dailyCorpusIncrement(v2, day1, col("doc_id"), col("text"),
      en, tau = 0.3).count() shouldBe 0L
  }

  test("corpusRelease == the hand-composed stage chain, bit-exact; release invariants hold") {
    import graft.engine.{NearDup, Order, Sampling, TextOps}
    val allDocs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = allDocs.filter(col("source") =!= "src0")
    val bench = allDocs.filter(col("source") === "src0")
    val en = TextOps.langMarkers.toMap.apply("en")
    val splits = Seq(("train", 0.9), ("val", 0.05), ("test", 0.05))
    def run() = Flows.corpusRelease(docs, col("doc_id"), col("text"), bench,
        col("doc_id"), col("text"), en, splits, seed = 42L, numShards = 4,
        contamTau = 0.5)
      .select(col("doc_id"), col("split"), col("pos"), col("shard"))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val got = run()
    got shouldBe run() // deterministic re-release

    // hand-composed chain from the individually-oracled stages
    val cleaned = Flows.corpusClean(docs, col("doc_id"), col("text"), en)
    val dirty = NearDup.contaminationPairs(cleaned, col("doc_id"),
        col("text"), bench, col("doc_id"), col("text"), 0.5, n = 13,
        prefilter = Some(NearDup.benchShingleBloom(bench, col("doc_id"),
          col("text"))))
      .select(col("corpus_id")).distinct()
    val assigned = Sampling.assignSplit(
      cleaned.join(dirty, col("doc_id") === col("corpus_id"), "left_anti"),
      col("doc_id"), splits)
    val expect = splits.map { case (nm, _) =>
      Order.seededShuffle(assigned.filter(col("split") === nm),
        col("doc_id"), 42L, 4, 32)
    }.reduce(_ unionByName _)
      .select(col("doc_id"), col("split"), col("pos"), col("shard"))
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    got shouldBe expect

    // invariants: no contaminated doc ships; per-split pos is a permutation;
    // shards balanced within 1
    val dirtyIds = dirty.as[Long].collect().toSet
    got.map(_._1).toSet.intersect(dirtyIds) shouldBe empty
    got.groupBy(_._2).foreach { case (_, rows) =>
      rows.map(_._3).sorted.toSeq shouldBe rows.indices.map(_.toLong)
      val byShard = rows.groupBy(_._4).values.map(_.size)
      all(rows.map(_._4)) should (be >= 0L and be < 4L)
      (byShard.max - byShard.min) should be <= 1
    }
  }
}
