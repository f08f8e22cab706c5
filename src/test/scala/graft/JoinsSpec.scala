package graft

import graft.engine.{Joins, Normalize, Watermark}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  test("blockedLinkage: dictionary collapse, block confinement, length " +
    "band, distance cut") {
    val recs = Seq(
      (1L, "red gear"), (5L, "red gear"), // exact dupes → one dict entry, id 1
      (2L, "red gea"),                    // dist 1 from "red gear"
      (3L, "red gearbox"),                // len band |8-11| = 3 > 2 → out
      (4L, "blue gear"),                  // other block — never compared
      (6L, "red bear")                    // dist 1 from gear, 2 from gea
    ).toDF("id", "nm")
    val out = Joins.blockedLinkage(recs, col("id"), col("nm"),
        n => split(n, " ").getItem(0), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    out shouldBe Set((1L, 2L, 1L), (1L, 6L, 1L), (2L, 6L, 2L))
  }

  test("bloomPrefilteredJoin: bit-equal to the plain join, probe sits on " +
    "the fact side before the shuffle, empty dim short-circuits") {
    val fact = (1L to 500L).map(i => (i, i % 50)).toDF("oid", "fk")
    val dim = Seq((3L, "a"), (7L, "b"), (999L, "zz")).toDF("dk", "attr")
    // even at a punishing fpp the result is exact — FPs die in the join
    val out = Joins.bloomPrefilteredJoin(fact, col("fk"), dim, col("dk"),
      expectedDistinct = 3, fpp = 0.4)
    val plain = fact.join(dim, col("fk") === col("dk"))
    out.collect().map(_.toSeq).toSet shouldBe plain.collect().map(_.toSeq).toSet
    out.count() shouldBe 20 // fk ∈ {3, 7} → 10 each
    // the might-contain probe is a Filter on the fact branch, upstream of
    // any exchange: assert on a FILE-backed fact (a local relation would
    // let ConvertToLocalRelation evaluate the probe at plan time and the
    // operator vanishes from the physical plan), and the prefilter must
    // actually prune (with fpp=0.01 the survivors are the matching sliver
    // plus FPs, well under the full fact)
    val factPath = tempDir("graft_bloom_fact_").toString + "/fact"
    fact.write.parquet(factPath)
    val factFile = spark.read.parquet(factPath)
    val tight = Joins.bloomPrefilteredJoin(factFile, col("fk"), dim,
      col("dk"), expectedDistinct = 3, fpp = 0.01)
    tight.queryExecution.executedPlan.toString should include(
      "graft_bloom_might_contain")
    tight.collect().map(_.toSeq).toSet shouldBe
      plain.collect().map(_.toSeq).toSet
    val survivors = fact.filter(
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.engine.expressions.BloomMightContain(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            col("fk").cast("long")),
          {
            val b = dim.select(col("dk").cast("long").as("_bk"))
              .stat.bloomFilter("_bk", 3, 0.01)
            val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos)
            bos.toByteArray
          }))).count()
    survivors should be >= 20L
    survivors should be < 500L
    // empty dim → empty result
    Joins.bloomPrefilteredJoin(fact, col("fk"), dim.limit(0), col("dk"),
      expectedDistinct = 3).count() shouldBe 0L
  }

  test("fuzzyLookup: exact beats containment beats default; longest key wins") {
    val fact = Seq("Brand#45", "Brand#451", "NoMatch").toDF("k")
    val dim = Seq(("Brand#45", "exact45"), ("Brand#4", "four"))
      .toDF("dk", "dv")
    val out = Joins.fuzzyLookup(fact, col("k"), col("k"), dim, col("dk"),
        col("dv"), "DEFAULT")
      .orderBy("k").collect()
    out.map(r => (r.getString(0), r.getString(1))) shouldBe Array(
      ("Brand#45", "exact45"),   // exact match beats 'Brand#4' containment
      ("Brand#451", "exact45"),  // containment: longest dim key 'Brand#45'
      ("NoMatch", "DEFAULT"))
  }

  test("normalizedKeyJoin matches through case/space noise") {
    val left = Seq((1, "  PLANT A ")).toDF("id", "name")
    val right = Seq(("plant a", 99)).toDF("name2", "meta")
    val out = Joins.normalizedKeyJoin(left, col("name"), right, col("name2"),
      Seq.empty)
    out.select("meta").head().getInt(0) shouldBe 99
  }

  test("normalizeName strips patterns then whitespace then lowers") {
    val df = Seq("Solar PV #3 Plant").toDF("s")
    df.select(Normalize.normalizeName(col("s"), Seq("#\\d+", "Plant")).as("n"))
      .head().getString(0) shouldBe "solarpv"
  }

  test("asofJoin: latest right row at-or-before each left ts, per key") {
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val quotes = Seq(("a", t(1), 100.0), ("a", t(5), 105.0), ("b", t(2), 50.0))
      .toDF("q_sym", "q_ts", "px")
    val trades = Seq(("a", t(0), 1L), ("a", t(3), 2L), ("a", t(5), 3L),
      ("b", t(10), 4L)).toDF("sym", "ts", "trade_id")
    val out = Joins.asofJoin(trades, col("sym"), col("ts"), quotes,
        col("q_sym"), col("q_ts"), Seq("px"))
      .orderBy("trade_id").collect()
    out(0).isNullAt(out(0).fieldIndex("asof_px")) shouldBe true // before any quote
    out(1).getDouble(out(1).fieldIndex("asof_px")) shouldBe 100.0
    out(2).getDouble(out(2).fieldIndex("asof_px")) shouldBe 105.0 // equal-ts quote visible
    out(3).getDouble(out(3).fieldIndex("asof_px")) shouldBe 50.0  // per-key isolation
  }

  test("pointInTimeJoin: per-feature latest-as-of rows, one window pass") {
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val f1 = Seq(("u", t(1), 10.0, Some(1L)), ("u", t(5), 50.0, None))
      .toDF("k", "fts", "sc", "cnt") // ts=5 row has a GENUINE null field
    val f2 = Seq(("u", t(3), "x"), ("v", t(0), "y")).toDF("k", "fts", "tag")
    val fact = Seq(("u", t(0), 1L), ("u", t(1), 2L), ("u", t(4), 3L),
      ("u", t(6), 4L), ("v", t(2), 5L)).toDF("k", "ts", "fid")
    val out = Joins.pointInTimeJoin(fact, col("k"), col("ts"),
        Seq(("a", f1, col("k"), col("fts"), Seq("sc", "cnt")),
          ("b", f2, col("k"), col("fts"), Seq("tag"))))
      .orderBy("fid").collect()
    def g(i: Int, c: String): AnyRef = {
      val r = out(i); val j = r.fieldIndex(c)
      if (r.isNullAt(j)) null else r.get(j).asInstanceOf[AnyRef]
    }
    g(0, "a_sc") shouldBe null            // before any feature row
    g(1, "a_sc") shouldBe 10.0            // equal-ts feature visible
    g(1, "a_cnt") shouldBe 1L
    g(1, "b_tag") shouldBe null           // other table not yet published
    g(2, "a_sc") shouldBe 10.0
    g(2, "b_tag") shouldBe "x"
    g(3, "a_sc") shouldBe 50.0            // newer feature row wins...
    g(3, "a_cnt") shouldBe null           // ...with its OWN null, not stitched
    g(4, "a_sc") shouldBe null            // per-key isolation
    g(4, "b_tag") shouldBe "y"
    // one window pass: exactly one Window operator in the physical plan
    val plan = Joins.pointInTimeJoin(fact, col("k"), col("ts"),
      Seq(("a", f1, col("k"), col("fts"), Seq("sc")),
        ("b", f2, col("k"), col("fts"), Seq("tag"))))
      .queryExecution.executedPlan.toString
    "Window \\[".r.findAllIn(plan).size shouldBe 1
  }

  test("pointInTimeJoin == folded asofJoin on the same inputs") {
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val rnd = new scala.util.Random(5)
    // (k, ts) pairs unique BY CONSTRUCTION (values derived from the pair) —
    // the per-table uniqueness contract, without nondeterministic dedup
    val f1 = (0 until 30).map(i => (s"u${rnd.nextInt(4)}", rnd.nextInt(50)))
      .distinct.map { case (k, m) => (k, t(m), (k.hashCode % 97 + m).toDouble) }
      .toDF("k", "fts", "sc")
    val f2 = (0 until 20).map(i => (s"u${rnd.nextInt(4)}", rnd.nextInt(50)))
      .distinct.map { case (k, m) => (k, t(m), s"v$k$m") }
      .toDF("k", "fts", "tag")
    val fact = (0 until 40).map(i => (s"u${rnd.nextInt(4)}", t(rnd.nextInt(50)), i.toLong))
      .toDF("k", "ts", "fid")
    val pit = Joins.pointInTimeJoin(fact, col("k"), col("ts"),
        Seq(("x", f1, col("k"), col("fts"), Seq("sc")),
          ("y", f2, col("k"), col("fts"), Seq("tag"))))
      .select("fid", "x_sc", "y_tag").collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
    val folded = Joins.asofJoin(
        Joins.asofJoin(fact, col("k"), col("ts"), f1, col("k"), col("fts"),
          Seq("sc")).withColumnRenamed("asof_sc", "x_sc"),
        col("k"), col("ts"), f2, col("k"), col("fts"), Seq("tag"))
      .withColumnRenamed("asof_tag", "y_tag")
      .select("fid", "x_sc", "y_tag").collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2))).toSet
    pit shouldBe folded
  }

  test("saltedJoin == plain join on skewed data") {
    // 90% of fact rows share one key — the classic hot-key shape
    val fact = (1 to 200).map(i =>
      (if (i <= 180) "hot" else s"k$i", i.toLong)).toDF("k", "id")
    val dim = Seq(("hot", "H"), ("k190", "A"), ("k200", "B")).toDF("dk", "dv")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("id", "dv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Joins.saltedJoin(fact, col("k"), col("id"), dim, col("dk"), 8)
      .select("id", "dv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    salted shouldBe plain
    // left-outer variant keeps unmatched fact rows exactly once
    val lo = Joins.saltedJoin(fact, col("k"), col("id"), dim, col("dk"), 8,
      "left").count()
    lo shouldBe 200
  }

  test("AQE skew-join: the hot-key shuffle partition is SPLIT at runtime " +
    "(MEASURED — the SCALE.md skew-first claim, not assumed)") {
    // file-backed skewed fact: one key carries 95% of rows with
    // incompressible-ish varied payloads (a constant pad would compress
    // away the skew in the map-output sizes AQE reads); dim keys distinct
    // so the join is 1:1 and the row count is exact
    val dir = tempDir("graft_skew_").toString
    (1 to 20000).map { i =>
      val k = if (i <= 19000) "hot" else s"k${i % 37}"
      (k, i.toLong, java.lang.Long.toHexString(i * 0x9e3779b97f4a7c15L) * 12)
    }.toDF("k", "id", "pad").write.parquet(dir + "/fact")
    val fact = spark.read.parquet(dir + "/fact")
    val dim = ("hot" +: (0 until 37).map(i => s"k$i"))
      .map(k => (k, s"v_$k")).toDF("dk", "dv")
    val confs = Seq(
      // keep the join sort-merge: broadcast off on both planner and AQE
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // local-scale thresholds so the ~2 MB hot partition counts as skewed
      // and splits into ~64 KB sub-partitions
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")
    val saved = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = fact.join(dim, col("k") === col("dk"))
      // collect() (not count()) so THIS QueryExecution runs — count()
      // builds its own and the inspected adaptive plan would never finalize
      joined.collect().length shouldBe 20000 // every fact row matches once
      val plan = joined.queryExecution.executedPlan.toString
      plan should include("isFinalPlan=true")
      plan should include("skew=true") // SMJ really took the skew path
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("intervalOverlapJoin: hand fixture — overlap, touch, disjoint, cross-cell") {
    def t(s: String) = Timestamp.valueOf(s)
    // grid = 60 s; intervals chosen to cover: same-cell overlap, endpoint
    // touch (overlap_us = 0), disjoint in the same cell, and a pair whose
    // overlap START sits in the second covered cell (dedup-cell rule)
    val l = Seq(
      (1L, t("2024-01-01 00:00:10"), t("2024-01-01 00:00:50")),
      (2L, t("2024-01-01 00:02:00"), t("2024-01-01 00:03:30"))
    ).toDF("l_id", "l_s", "l_e")
    val r = Seq(
      (10L, t("2024-01-01 00:00:40"), t("2024-01-01 00:01:10")), // overlaps 1 (10 s)
      (11L, t("2024-01-01 00:00:50"), t("2024-01-01 00:00:55")), // touches 1 at 00:50
      (12L, t("2024-01-01 00:00:55"), t("2024-01-01 00:00:59")), // disjoint from 1
      (13L, t("2024-01-01 00:03:00"), t("2024-01-01 00:04:00"))  // overlap of 2 starts in cell 3
    ).toDF("r_id", "r_s", "r_e")
    val got = Joins.intervalOverlapJoin(l, col("l_s"), col("l_e"),
        r, col("r_s"), col("r_e"), gridSeconds = 60)
      .select("l_id", "r_id", "overlap_us")
      .as[(Long, Long, Long)].collect().sortBy(x => (x._1, x._2))
    got shouldBe Array(
      (1L, 10L, 10000000L),
      (1L, 11L, 0L),
      (2L, 13L, 30000000L))
  }

  test("intervalOverlapJoin == naive theta join, emitted exactly once, and plans NO nested loop") {
    def t(base: Long) = new Timestamp(1704067200000L + base * 1000L)
    val l = (0 until 120).map(i => (i.toLong, t(i * 37L), t(i * 37L + 55)))
      .toDF("l_id", "l_s", "l_e")
    val r = (0 until 150).map(i => (i.toLong, t(i * 29L + 11), t(i * 29L + 11 + 40)))
      .toDF("r_id", "r_s", "r_e")
    val fast = Joins.intervalOverlapJoin(l, col("l_s"), col("l_e"),
      r, col("r_s"), col("r_e"), gridSeconds = 50)
    val naive = l.join(r, col("l_s") <= col("r_e") && col("r_s") <= col("l_e"))
      .select(col("l_id"), col("r_id"),
        unix_micros(least(col("l_e"), col("r_e"))) -
          unix_micros(greatest(col("l_s"), col("r_s"))) as "overlap_us")
    val a = fast.select("l_id", "r_id", "overlap_us")
      .as[(Long, Long, Long)].collect().sorted
    val b = naive.as[(Long, Long, Long)].collect().sorted
    a shouldBe b
    a.distinct.length shouldBe a.length // exactly-once, no duplicate pairs
    val physical = fast.queryExecution.executedPlan.toString
    physical should not include "BroadcastNestedLoopJoin"
    physical should not include "CartesianProduct"
  }

  test("resumePoints: incomplete last day resumes same day, complete next day") {
    def t(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // k1's last day (Jan 2) has only 2 distinct hours → resume same day;
    // k2's last day has all required (requiredHours=2 here) → next day
    val df = (Seq(("k1", t(1, 0)), ("k1", t(1, 1)), ("k1", t(2, 5))) ++
      Seq(("k2", t(3, 1)), ("k2", t(3, 2)))).toDF("k", "ts")
    val out = Watermark.resumePoints(df, col("k"), col("ts"), requiredHours = 2)
      .orderBy("grp").collect()
    out(0).getDate(2).toString shouldBe "2024-01-02" // k1: incomplete → same day
    out(1).getDate(2).toString shouldBe "2024-01-04" // k2: complete → next day
  }
}
