package graft

import graft.engine.{NearDup, Similarity, TextOps}
import graft.engine.NearDup.{HashFamily, ShingleBlock}
import org.apache.spark.sql.functions._

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy cat near the river bank"), // near-dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (4L, "completely different words about spark catalyst optimizer plans here today")
  ).toDF("doc_id", "text")

  test("shingles: n-2 windows, distinct, short text yields none") {
    val sh = TextOps.shingles(Seq((1L, "a b c d")).toDF("id", "t"),
      col("id"), col("t"))
    sh.collect().map(_.getString(1)).sorted shouldBe Array("a b c", "b c d")
    TextOps.shingles(Seq((1L, "a b")).toDF("id", "t"), col("id"), col("t"))
      .count() shouldBe 0
  }

  test("ShingleStrings kernel == the declarative HOF formulation " +
    "bit-for-bit (dedup and non-dedup, edge cases, real docs)") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // the HOF reference this kernel replaced (evaluation cost only — the
    // outputs must stay identical): array_distinct ∘ transform ∘ filtered
    // index ramp, re-splitting per element_at
    def hofShingles(text: org.apache.spark.sql.Column, n: Int,
                    dedup: Boolean): org.apache.spark.sql.Column = {
      val toks = split(text, " ")
      val count = org.apache.spark.sql.functions.size(toks)
      val idxs = org.apache.spark.sql.functions.filter(
        sequence(lit(1), count), i => i <= count - lit(n - 1))
      val wins = transform(idxs, i =>
        concat_ws(" ", (0 until n).map(o => element_at(toks, i + lit(o))): _*))
      if (dedup) array_distinct(wins) else wins
    }
    def native(text: org.apache.spark.sql.Column, n: Int,
               dedup: Boolean): org.apache.spark.sql.Column =
      ColumnBridge.column(graft.engine.expressions.ShingleStrings(
        ColumnBridge.expression(split(text, " ")), n, dedup))
    val fixtures = Seq(
      "a b c d", "a b", "", "x", "a a a a a", // short/empty/all-dup
      "the quick brown fox jumps over the lazy dog the quick brown fox")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val real = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), col("text").as("t"))
    for (df <- Seq(fixtures, real); n <- Seq(1, 2, 3, 13);
         dedup <- Seq(true, false)) {
      val diff = df.select(native(col("t"), n, dedup).as("a"),
          hofShingles(col("t"), n, dedup).as("b"))
        .filter(!(col("a") <=> col("b"))).count()
      withClue(s"n=$n dedup=$dedup: ") { diff shouldBe 0L }
    }
  }

  test("dedupLines: frequent lines dropped, order kept, within-doc repeats " +
    "count one doc, all-boilerplate doc survives empty") {
    val docs = Seq(
      (1L, "a\nCOMMON\nb"),
      (2L, "COMMON\nc"),
      (3L, "d\ne"),
      (4L, "COMMON"), // every line boilerplate → kept with n_kept = 0
      (5L, "x\nx") // repeated in ONE doc only: df = 1 → both copies kept
    ).toDF("doc_id", "text")
    val out = NearDup.dedupLines(docs, col("doc_id"), col("text"), minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((3L, 2L, "a\nb"))
    out(2L) shouldBe ((2L, 1L, "c"))
    out(3L) shouldBe ((2L, 2L, "d\ne"))
    out(4L) shouldBe ((1L, 0L, ""))
    out(5L) shouldBe ((2L, 2L, "x\nx"))
    out.size shouldBe 5
  }

  test("removeRepeatedSpans: cross-doc spans cut everywhere, within-doc " +
    "repeats count, short docs untouched, overlap unions") {
    val docs = Seq(
      (1L, "x a b c y"), // shares "a b c" with doc 2 → both cut
      (2L, "z a b c w"),
      (3L, "q r s q r s"), // within-doc repeat of "q r s" → fully covered
      (4L, "u v"), // shorter than n → no windows, untouched
      (5L, "m n o p") // unique spans → untouched
    ).toDF("doc_id", "text")
    val out = NearDup.removeRepeatedSpans(docs, col("doc_id"), col("text"),
      n = 3, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out(1L) shouldBe ((5L, 2L, "x y"))
    out(2L) shouldBe ((5L, 2L, "z w"))
    out(3L) shouldBe ((6L, 0L, "")) // covered [0,2] ∪ [3,5] = everything
    out(4L) shouldBe ((2L, 2L, "u v"))
    out(5L) shouldBe ((4L, 4L, "m n o p"))
  }

  test("dedupLines identity law: minDf above corpus size keeps every doc " +
    "bit-identical") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), regexp_replace(col("text"), " ", "\n").as("text"))
    val out = NearDup.dedupLines(docs, col("doc_id"), col("text"),
      minDf = 1000000)
    out.filter(col("n_kept") =!= col("n_lines")).count() shouldBe 0L
    out.join(docs, "doc_id")
      .filter(col("text_clean") =!= col("text")).count() shouldBe 0L
    out.count() shouldBe docs.count()
  }

  test("exact dedup groups identical texts, keeper = min id") {
    val out = NearDup.exactDuplicates(docs, col("doc_id"), col("text"))
      .orderBy("keeper").collect()
    out.length shouldBe 3
    out(0).getLong(1) shouldBe 1L
    out(0).getLong(2) shouldBe 2L // docs 1 and 3
  }

  test("contaminationPairs: benchmark-side containment, not Jaccard") {
    // eval item 100 is quoted VERBATIM inside long corpus doc 1: Jaccard is
    // diluted by the doc's extra text, containment is exactly 1.0
    val corpus = Seq(
      (1L, "intro words then the secret eval question appears here verbatim " +
        "followed by lots of other unrelated padding text going on and on"),
      (2L, "completely different corpus document about spark plans today")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the secret eval question appears here verbatim"),
      (101L, "an uncontaminated eval question nothing shares")
    ).toDF("doc_id", "text")
    val out = NearDup.contaminationPairs(
        corpus, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"), 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    out.keySet shouldBe Set((1L, 100L))
    out((1L, 100L)) shouldBe 1.0
    // sanity: symmetric jaccard on the same pair is far below the tau that
    // containment clears — the dilution this metric exists to avoid
    val jac = NearDup.jaccardPairs(
        corpus.unionByName(bench), col("doc_id"), col("text"), 0.01)
      .filter(col("id1") === 1L && col("id2") === 100L)
      .collect()
    jac.length shouldBe 1
    jac.head.getDouble(2) should be < 0.5
  }

  test("contaminationPairs: hot corpus shingles are df-capped out") {
    // every corpus doc shares the same boilerplate shingle; with maxDf=2 the
    // posting list (df=3) is dropped, so boilerplate alone contaminates
    // nothing — only the genuine quote survives
    val corpus = Seq(
      (1L, "common boiler plate prefix real signal content here"),
      (2L, "common boiler plate prefix other words entirely now"),
      (3L, "common boiler plate prefix third variation of text")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "real signal content here")).toDF("doc_id", "text")
    val out = NearDup.contaminationPairs(
        corpus, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"), 0.5, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out shouldBe Array((1L, 100L))
  }

  test("bloomContaminationPairs: bit-identical to the exact scan on " +
    "testdata; prefilter actually prunes; clean-corpus fast path is empty") {
    // bit-parity on real data — the prefilter is plan surgery, not a result
    // change (no false negatives by Bloom construction; false positives die
    // in the exact containment join)
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // short n (collision-heavy: the prefilter keeps nearly everything) AND
    // long n (the deployed 13-gram recipe: it keeps almost nothing) — the
    // result must be bit-identical to the unfiltered scan in both regimes
    for (n <- Seq(3, 13)) {
      val exact = key(NearDup.contaminationPairs(corpus, col("doc_id"),
        col("text"), bench, col("doc_id"), col("text"), 0.5, n = n))
      val bloomed = key(NearDup.contaminationPairs(corpus, col("doc_id"),
        col("text"), bench, col("doc_id"), col("text"), 0.5, n = n,
        prefilter = Some(NearDup.benchShingleBloom(bench, col("doc_id"),
          col("text"), n))))
      bloomed shouldBe exact
      exact should not be empty // the parity assertion must bite
    }

    // pruning: with a disjoint-vocabulary corpus the prefilter drops
    // (fpp-modulo) everything before any shuffle — survivors ≈ 0
    val clean = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu nu xi omicron pi rho sigma")
    ).toDF("doc_id", "text")
    val b2 = Seq((100L, "totally different benchmark question text here"))
      .toDF("doc_id", "text")
    val b2Bloom = Some(NearDup.benchShingleBloom(b2, col("doc_id"),
      col("text"), 3))
    NearDup.contaminationPairs(clean, col("doc_id"), col("text"),
      b2, col("doc_id"), col("text"), 0.1, n = 3, prefilter = b2Bloom)
      .collect() shouldBe empty

    // planted quote: the one contaminated doc survives the prefilter and
    // scores containment 1.0 — no false negative
    val planted = clean.unionByName(Seq(
      (3L, "padding words totally different benchmark question text here " +
        "and trailing filler")).toDF("doc_id", "text"))
    val out = NearDup.contaminationPairs(planted, col("doc_id"),
        col("text"), b2, col("doc_id"), col("text"), 0.5, n = 3,
        prefilter = b2Bloom)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    out.keySet shouldBe Set((3L, 100L))
    out((3L, 100L)) shouldBe 1.0
  }

  test("contaminationPairs refuses a Bloom prefilter built over another n") {
    val bench = Seq((100L, "totally different benchmark question text here"))
      .toDF("doc_id", "text")
    val corpus = Seq((3L, "padding words totally different benchmark " +
      "question text here and trailing filler")).toDF("doc_id", "text")
    // the 6-token bench has no 13-token window: an empty filter, no error
    val bloom13 = NearDup.benchShingleBloom(bench, col("doc_id"), col("text"))
    bloom13.n shouldBe 13
    NearDup.contaminationPairs(corpus, col("doc_id"), col("text"), bench,
        col("doc_id"), col("text"), 0.5, n = 13, prefilter = Some(bloom13))
      .collect() shouldBe empty
    // raised while the plan is built, before any job: a 13-gram filter
    // probed with 3-token windows would drop the planted quote silently
    val e = intercept[IllegalArgumentException] {
      NearDup.contaminationPairs(corpus, col("doc_id"), col("text"), bench,
        col("doc_id"), col("text"), 0.5, n = 3, prefilter = Some(bloom13))
    }
    e.getMessage should include("[graft] contaminationPairs")
    e.getMessage should include("13-token windows")
    e.getMessage should include("n = 3")
    // the matching n finds the quote
    NearDup.contaminationPairs(corpus, col("doc_id"), col("text"), bench,
        col("doc_id"), col("text"), 0.5, n = 3,
        prefilter = Some(NearDup.benchShingleBloom(bench, col("doc_id"),
          col("text"), 3)))
      .collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((3L, 100L))
  }

  test("jaccardPairs finds exact and near dups with correct similarity") {
    val pairs = NearDup.jaccardPairs(docs, col("doc_id"), col("text"), 0.1)
      .orderBy("id1", "id2").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs((1L, 3L)) shouldBe 1.0 // exact dup
    // 1 vs 2: one word differs mid-text → 3 of 11 shingles differ per side
    pairs((1L, 2L)) should be > 0.4
    pairs.keySet should not contain ((1L, 4L))
  }

  test("jaccardPairsIncremental == full pairs restricted to the batch; " +
    "no existing-existing pairs ever form") {
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.01")
    val existing = d.filter(col("doc_id") % 10 =!= 0)
    val incoming = d.filter(col("doc_id") % 10 === 0)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val inc = asMap(NearDup.jaccardPairsIncremental(existing, incoming,
      col("doc_id"), col("text"), 0.1))
    val full = asMap(NearDup.jaccardPairs(d, col("doc_id"), col("text"), 0.1))
    val restricted = full.filter { case ((a, b), _) =>
      a % 10 == 0 || b % 10 == 0 }
    inc shouldBe restricted // same pairs, bit-identical similarities
    inc.keys.foreach { case (a, b) =>
      (a % 10 == 0 || b % 10 == 0) shouldBe true
    }
  }

  test("minhashLshPairsIncremental == full minhash run restricted to the " +
    "batch (signatures are split-independent)") {
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.01")
    val existing = d.filter(col("doc_id") % 10 =!= 0)
    val incoming = d.filter(col("doc_id") % 10 === 0)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val inc = asMap(NearDup.jaccardPairsIncremental(existing, incoming,
      col("doc_id"), col("text"), 0.1, block = ShingleBlock.MinhashLsh()))
    val full = asMap(NearDup.jaccardPairs(d, col("doc_id"), col("text"),
      0.1, block = ShingleBlock.MinhashLsh()))
    inc shouldBe full.filter { case ((a, b), _) =>
      a % 10 == 0 || b % 10 == 0 }
  }

  test("an empty incoming batch yields no pairs from every incremental " +
    "entry (both ShingleBlocks, both incremental SRP entries)") {
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val none = d.limit(0)
    for (block <- Seq(ShingleBlock.Postings(), ShingleBlock.MinhashLsh(),
        ShingleBlock.MinhashLsh(family = HashFamily.Md5)))
      withClue(block) {
        NearDup.jaccardPairsIncremental(d, none, col("doc_id"), col("text"),
          0.1, block = block).count() shouldBe 0L
      }
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.lshCosinePairsIncremental(emb, emb.limit(0), col("vec_id"),
      col("embedding"), 0.4).count() shouldBe 0L
    val sigs = Similarity.srpSignatureTable(emb, col("vec_id"),
      col("embedding"), bits = 256)
    Similarity.lshCosinePairsIncrementalPresigned(sigs, 256, emb,
      emb.limit(0), col("vec_id"), col("embedding"), 0.4)
      .count() shouldBe 0L
  }

  test("minhash LSH pairs: no false positives; finds planted dups (recall)") {
    val exact = NearDup.jaccardPairs(docs, col("doc_id"), col("text"), 0.1)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 16 bands × 2 rows: a 0.57-jaccard pair misses with prob (1-0.57²)^16
    // ≈ 0.2% — parameter-appropriate for asserting it IS found (8×4 banding
    // only catches such a pair ~59% of the time; whether it does is hash-
    // family luck, which is what corpus-level recall floors are for)
    val lsh = NearDup.jaccardPairs(docs, col("doc_id"), col("text"), 0.1,
        block = ShingleBlock.MinhashLsh(bands = 16, rowsPerBand = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh.subsetOf(exact) shouldBe true // verification step kills false positives
    lsh should contain((1L, 3L))      // identical sigs always collide
    lsh should contain((1L, 2L))      // 0.57-jaccard pair
  }

  test("minhash recall == 1.0 on testdata sf0.001 at tau 0.1") {
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = NearDup.jaccardPairs(d, col("doc_id"), col("text"), 0.1)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = NearDup.jaccardPairs(d, col("doc_id"), col("text"), 0.1,
        block = ShingleBlock.MinhashLsh())
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh shouldBe exact
  }

  test("md5-family minhash twin == exact jaccard == production xxhash64 " +
    "LSH at sf0.001 (the cross-engine mechanism oracle's local mirror)") {
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(NearDup.jaccardPairs(d, col("doc_id"), col("text"), 0.1))
    val md5Twin = pairs(NearDup.jaccardPairs(d, col("doc_id"),
      col("text"), 0.1,
      block = ShingleBlock.MinhashLsh(family = HashFamily.Md5)))
    val prod = pairs(NearDup.jaccardPairs(d, col("doc_id"), col("text"),
      0.1, block = ShingleBlock.MinhashLsh()))
    exact should not be empty
    md5Twin shouldBe exact // precision 1.0 by exact verify; recall 1.0 here
    md5Twin shouldBe prod  // both families catch the full planted-dup set
  }

  test("md5 minhash twin: precision 1.0, recall >= 0.95 vs exact at sf0.01; " +
    "incremental == full twin restricted to the batch") {
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = NearDup.jaccardPairs(d, col("doc_id"), col("text"), 0.1)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = asMap(NearDup.jaccardPairs(d, col("doc_id"),
      col("text"), 0.1,
      block = ShingleBlock.MinhashLsh(family = HashFamily.Md5)))
    full.keySet.subsetOf(exact) shouldBe true // precision == 1.0
    full.size.toDouble / exact.size should be >= 0.95
    val inc = asMap(NearDup.jaccardPairsIncremental(
      d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
      col("doc_id"), col("text"), 0.1,
      block = ShingleBlock.MinhashLsh(family = HashFamily.Md5)))
    inc shouldBe full.filter { case ((a, b), _) =>
      a % 10 == 0 || b % 10 == 0 }
  }

  test("minhash precision 1.0 and recall >= 0.95 vs exact at sf0.01") {
    // hardens the one rows-only dedup path at the correctness-gate SF:
    // every LSH pair must be verified-exact (precision 1.0 by construction
    // of the verify step — assert it anyway), recall floor locks the tuning
    val d = graft.engine.Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = NearDup.jaccardPairs(d, col("doc_id"), col("text"), 0.1)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = NearDup.jaccardPairs(d, col("doc_id"), col("text"), 0.1,
        block = ShingleBlock.MinhashLsh())
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact should not be empty
    lsh.subsetOf(exact) shouldBe true // precision == 1.0
    lsh.size.toDouble / exact.size should be >= 0.95
  }

  test("dedupClusters: transitive chains collapse to one component") {
    val ids = (1L to 6L).map(Tuple1(_)).toDF("doc_id")
    // chain 1-2, 2-3 plus pair 5-6; 4 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val clusters = NearDup.dedupClusters(pairs, ids, col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L)
    NearDup.canonicalByCluster(
        NearDup.dedupClusters(pairs, ids, col("doc_id")))
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 4L, 5L)
  }

  test("dedupClusters: reliable-checkpoint path yields identical clusters") {
    val ckptDir = tempDir("graft_ckpt_")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    val ids = (1L to 6L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val local = NearDup.dedupClusters(pairs, ids, col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = NearDup.dedupClusters(pairs, ids, col("doc_id"),
        reliableCheckpoint = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    reliable shouldBe local
    // the fault-tolerant path really wrote to the cluster FS, not exec blocks
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(ckptDir).iterator().asScala
      .count(java.nio.file.Files.isRegularFile(_)) should be > 0
  }

  test("dedupClusters releases every checkpoint block except its result") {
    val sc = spark.sparkContext
    val ids = (1L to 6L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val before = sc.getPersistentRDDs.keySet
    val out = NearDup.dedupClusters(pairs, ids, col("doc_id"))
    out.count() shouldBe 6
    // edges + every superseded label round must be unpersisted by now; only
    // the checkpoint backing the RETURNED frame may remain
    (sc.getPersistentRDDs.keySet -- before).size should be <= 1
    NearDup.releaseCheckpoint(out)
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("dedupClusters strict (default): a diameter-21 chain fails LOUDLY " +
    "at maxIters=20; strict=false returns split labels; raised maxIters " +
    "converges") {
    // VERDICT r8 wrong #1: non-convergence used to return split labels
    // behind a stderr warning — downstream keep-rules would then keep
    // multiple "canonicals" per true cluster. Now the house loud-failure
    // contract.
    val n = 22L
    val ids = (0L until n).map(Tuple1(_)).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id1", "id2")
    val ex = intercept[IllegalStateException] {
      NearDup.dedupClusters(pairs, ids, col("doc_id"))
    }
    ex.getMessage should include("NOT converged")
    ex.getMessage should include("raise maxIters")
    ex.getMessage should include("dedupClustersStar")
    // explicit opt-out still returns (with the warning): labels are split
    NearDup.dedupClusters(pairs, ids, col("doc_id"), strict = false)
      .collect().map(_.getLong(1)).toSet.size should be > 1
    // and the remediation works: 21 propagation hops + 1 detection round
    NearDup.dedupClusters(pairs, ids, col("doc_id"), maxIters = 25)
      .collect().map(_.getLong(1)).toSet shouldBe Set(0L)
  }

  test("dedupClustersStar: diameter-63 chain converges in <= 2·log₂(64)+2 " +
    "alternation rounds; bit-parity with dedupClusters on random graphs") {
    val n = 64L
    val ids = (0L until n).map(Tuple1(_)).toDF("doc_id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id1", "id2")
    // strict default throws if 14 rounds don't suffice — the assertion IS
    // the run (simulation: log₂(n)+1 = 7 rounds; propagation needs 63)
    val star = NearDup.dedupClustersStar(chain, ids, col("doc_id"),
        maxIters = 14)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    star shouldBe (0L until n).map(_ -> 0L).toMap
    // seeded random multigraphs (self-loops and dup edges included):
    // label-for-label parity with the propagation variant
    val rnd = new scala.util.Random(42)
    val rids = (0L until 200L).map(Tuple1(_)).toDF("doc_id")
    (0 until 3).foreach { _ =>
      val redges = Seq.fill(120)((rnd.nextInt(200).toLong,
        rnd.nextInt(200).toLong)).toDF("id1", "id2")
      val prop = NearDup.dedupClusters(redges, rids, col("doc_id"),
          maxIters = 200)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val alt = NearDup.dedupClustersStar(redges, rids, col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      alt shouldBe prop
    }
  }

  test("dedupClustersStar strict=false: a NON-converged edge set still " +
    "yields exactly ONE (split) label per doc — never duplicated doc rows") {
    // {(3,5),(1,5),(3,6),(2,6)} after one alternation holds hi=3 under TWO
    // hubs ((3,1) and (3,2)) — an un-collapsed label join would emit doc 3
    // twice and a downstream keep-rule would double-count it (r9 review)
    val ids = Seq(1L, 2L, 3L, 5L, 6L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((3L, 5L), (1L, 5L), (3L, 6L), (2L, 6L))
      .toDF("id1", "id2")
    intercept[IllegalStateException] { // strict default still throws
      NearDup.dedupClustersStar(pairs, ids, col("doc_id"), maxIters = 1)
    }.getMessage should include("NOT converged")
    val rows = NearDup.dedupClustersStar(pairs, ids, col("doc_id"),
        maxIters = 1, strict = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    rows.length shouldBe 5 // one row per doc, even on the split path
    rows.toMap.keySet shouldBe Set(1L, 2L, 3L, 5L, 6L)
    rows.toMap.apply(3L) shouldBe 1L // min of the split labels {1, 2}
    // converged run on the same component: all one cluster
    NearDup.dedupClustersStar(pairs, ids, col("doc_id"))
      .collect().map(_.getLong(1)).toSet shouldBe Set(1L)
  }

  test("dedupClustersStar releases every checkpoint block except its result") {
    val sc = spark.sparkContext
    val ids = (1L to 6L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val before = sc.getPersistentRDDs.keySet
    val out = NearDup.dedupClustersStar(pairs, ids, col("doc_id"))
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L)
    (sc.getPersistentRDDs.keySet -- before).size should be <= 1
    NearDup.releaseCheckpoint(out)
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("simhash: identical texts → identical signature; near-dups → small hamming") {
    val sigs = NearDup.simhashSignatures(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs(1L) shouldBe sigs(3L)
    java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) should be <= 16
    java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)) should be > 16
    val pairs = NearDup.simhashPairs(docs, col("doc_id"), col("text"), 16)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 3L))
    pairs should contain((1L, 2L))
  }

  test("md5 simhash twin: identical texts -> hamming 0; near-dup small, " +
    "disjoint large; 32-bit signature") {
    val sigs = NearDup.simhashSignatures(docs, col("doc_id"), col("text"),
        NearDup.HashFamily.Md5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs.values.foreach(s => (s >= 0L && s < (1L << 32)) shouldBe true)
    sigs(1L) shouldBe sigs(3L)
    java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) should be <= 8
    java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)) should be > 8
    val pairs = NearDup.simhashPairs(docs, col("doc_id"), col("text"), 8,
        NearDup.HashFamily.Md5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // identical signatures always collide in every band; candidacy for
    // merely-close pairs needs an EXACT 8-bit chunk match (the LSH
    // contract — a Hamming-8 pair spread across chunks may legitimately
    // miss), so assert the guarantee, not hash luck
    pairs((1L, 3L)) shouldBe 0L
    pairs.values.foreach(h => h should be <= 8L)
    pairs.keySet.exists { case (a, b) => a == 4L || b == 4L } shouldBe false
  }

  test("md5 winnow twin: MOSS guarantee (shared >= k+w-1 substring yields " +
    "a shared fingerprint), short docs emit none, exact dups share all") {
    val k = 24; val w = 8
    val passage = "abcdefghijklmnopqrstuvwxyz01234" // 31 chars = k + w - 1
    val wdocs = Seq(
      (1L, s"prefix one $passage suffix xxxxxxxxxx"),
      (2L, s"another start here $passage other tail yyyy"),
      (3L, s"prefix one $passage suffix xxxxxxxxxx"), // exact dup of 1
      (4L, "entirely unrelated content with no common passage at all zzzz"),
      (5L, "short doc") // < k + w - 1 chars: no full window
    ).toDF("doc_id", "text")
    val fps = NearDup.winnowFingerprintsMd5(wdocs, col("doc_id"),
        col("text"), k, w)
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    fps.contains(5L) shouldBe false
    (fps(1L) intersect fps(2L)).nonEmpty shouldBe true // shared passage
    fps(1L) shouldBe fps(3L)                           // exact dup
    (fps(1L) intersect fps(4L)).isEmpty shouldBe true
    val pairs = NearDup.winnowPairs(wdocs, col("doc_id"), col("text"),
        minShared = 1, k, w, NearDup.HashFamily.Md5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs((1L, 3L)) shouldBe fps(1L).size.toLong
    pairs.keySet should contain((1L, 2L))
    pairs.keySet.exists { case (a, b) => a == 4L || b == 4L } shouldBe false
  }

  test("WinnowMd5Fingerprints kernel == the SQL-window formulation " +
    "bit-for-bit (r14 native replacement; one-window and multi-byte docs)") {
    import org.apache.spark.sql.expressions.Window
    val k = 24; val w = 8
    val passage = "abcdefghijklmnopqrstuvwxyz01234"
    val wdocs = Seq(
      (1L, s"prefix one $passage suffix xxxxxxxxxx"),
      (2L, s"another start here $passage other tail yyyy"),
      (3L, s"prefix one $passage suffix xxxxxxxxxx"),
      (4L, "entirely unrelated content with no common passage at all zzzz"),
      (5L, "short doc"), // < k + w - 1: emits nothing
      (6L, "exactly thirty-one characters!!"), // == k + w - 1: one window
      (7L, "répétition über naïve — multi-byte chars pad this doc out " +
        "to a comfortable length"),
      // a long CJK doc (3-byte code points throughout) and an emoji doc
      // (4-byte code points: UTF-16 surrogate pairs) — grams must cut at
      // code points, as Spark's substr does
      (8L, (0 until 600).map(i => (0x4e00 + (i * 7919) % 2000).toChar)
        .mkString),
      (9L, (0 until 80).map(i =>
          new String(Character.toChars(0x1f600 + (i * 13) % 40)) +
            (if (i % 3 == 0) " ok " else ""))
        .mkString)
    ).toDF("doc_id", "text")
    // the SQL-window reference the kernel replaced (evaluation cost only —
    // outputs must stay identical)
    def reference(docs: org.apache.spark.sql.DataFrame) = {
      val d = docs.filter(org.apache.spark.sql.functions.length(col("text")) >= k + w - 1)
        .select(col("doc_id"), col("text").as("_t"))
      val pos = d.select(col("doc_id"), col("_t"),
        explode(sequence(lit(1),
        org.apache.spark.sql.functions.length(col("_t")) - lit(k - 1))).as("p"))
      val grams = pos.select(col("doc_id"), col("p"),
        md5(col("_t").substr(col("p"), lit(k))).as("g"),
        (org.apache.spark.sql.functions.length(col("_t")) - lit(k + w - 2)).as("_pmax"))
      val ww = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        .rowsBetween(0, w - 1)
      grams.withColumn("fp", min(col("g")).over(ww))
        .filter(col("p") <= col("_pmax"))
        .select(col("doc_id"), col("fp")).distinct()
    }
    val ref = reference(wdocs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val got = NearDup.winnowFingerprintsMd5(wdocs, col("doc_id"),
        col("text"), k, w)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    got shouldBe ref
    ref.map(_._1) should contain(6L) // the single-window doc emitted
    ref.map(_._1) should contain(7L) // the multi-byte doc emitted
    ref.map(_._1) should contain(8L)
    ref.map(_._1) should contain(9L)
  }

  test("Md5MinHashSignature kernel == the per-seed array_min(transform) " +
    "formulation bit-for-bit (r14 native replacement)") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val h = 32
    val base = docs.filter(org.apache.spark.sql.functions.size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), TextOps.shingleArray(col("text"), 3).as("_sh"))
    val ref = base.select(col("doc_id") +:
      (0 until h).map(i => array_min(transform(col("_sh"),
        s => md5(concat(s, lit(":" + i))))).as(s"_m$i")): _*)
      .collect().map(r => r.getLong(0) -> (1 to h).map(r.getString)).toMap
    val got = base.select(col("doc_id"),
      ColumnBridge.column(graft.engine.expressions.Md5MinHashSignature(
        ColumnBridge.expression(col("_sh")), h)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    got.keySet shouldBe ref.keySet
    got.foreach { case (d, sig) => sig shouldBe ref(d) }
  }

  test("SimhashSignature kernel == the explode + bit-sum aggregate " +
    "formulation bit-for-bit (r14 native replacement; both hash families)") {
    val real = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    for (df <- Seq(docs, real); md5fam <- Seq(false, true)) {
      val bits = if (md5fam) 32 else 64
      // the aggregate reference the kernel replaced (evaluation cost only)
      val toks = df.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
        .withColumn("h",
          if (md5fam) conv(substring(md5(col("tok")), 1, 8), 16, 10)
            .cast("long")
          else xxhash64(col("tok")))
      val bitSums = (0 until bits).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
          .otherwise(-1)).as(s"b$b"))
      val agg = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      val sig = (0 until bits).map(b =>
          when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
        .reduce((x, y) => x.bitwiseOR(y))
      val ref = agg.select(col("doc_id"), sig.as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotDf = NearDup.simhashSignatures(df, col("doc_id"), col("text"),
        if (md5fam) NearDup.HashFamily.Md5
        else NearDup.HashFamily.Production)
      val got = gotDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"md5fam=$md5fam: ") { got shouldBe ref }
    }
  }

  test("simhash signatures (both families) drop a NULL-text doc, as the " +
    "explode + aggregate form did, and sign the other docs unchanged") {
    val withNull = Seq((1L, Some("the quick brown fox jumps")), (2L, None))
      .toDF("doc_id", "text")
    val alone = withNull.filter(col("doc_id") === 1L)
    for (md5fam <- Seq(false, true)) withClue(s"md5fam=$md5fam: ") {
      def sigs(df: org.apache.spark.sql.DataFrame) =
        NearDup.simhashSignatures(df, col("doc_id"), col("text"),
          if (md5fam) NearDup.HashFamily.Md5
          else NearDup.HashFamily.Production)
          .collect().map(r => r.getLong(0) -> r.getAs[java.lang.Long](1)).toMap
      val got = sigs(withNull)
      got.keySet shouldBe Set(1L)
      got(1L) should not be null
      got shouldBe sigs(alone)
    }
  }

  test("PairEmit: a posting list past Int.MaxValue pairs fails with a " +
    "[graft] error naming n, o and maxDf, before allocating") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val ids = new GenericArrayData(Array.tabulate[Any](65600)(_.toLong))
    val none = new GenericArrayData(Array.empty[Any])
    val t = ArrayType(LongType, containsNull = false)
    val pe = graft.engine.expressions.PairEmit(Literal(ids, t),
      Literal(none, t))
    // 65600 * 65599 / 2 = 2,151,647,200 self pairs > Int.MaxValue
    val e = intercept[IllegalArgumentException](pe.compute(ids, none))
    e.getMessage should startWith("[graft] graft_pair_emit")
    e.getMessage should include("n=65600")
    e.getMessage should include("o=0")
    e.getMessage should include("maxDf")
  }

  test("PairEmit kernel == the HOF concat-of-transforms emission " +
    "bit-for-bit (r14 native replacement; self, cross, empty, string ids)") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def native = ColumnBridge.column(graft.engine.expressions.PairEmit(
      ColumnBridge.expression(col("nids")),
      ColumnBridge.expression(col("oids"))))
    def hof = concat(
      flatten(transform(col("nids"), (x, i) =>
        transform(slice(col("nids"), i + lit(2),
            org.apache.spark.sql.functions.size(col("nids"))),
          y => struct(x.as("id1"), y.as("id2"))))),
      flatten(transform(col("nids"), x =>
        transform(col("oids"), y =>
          struct(least(x, y).as("id1"), greatest(x, y).as("id2"))))))
    val longs = Seq(
      (Seq(1L, 5L, 9L), Seq(2L, 7L)),
      (Seq(3L), Seq(4L, 8L, 11L)),
      (Seq(1L, 2L, 3L, 4L), Seq.empty[Long]),
      (Seq.empty[Long], Seq(6L)),
      (Seq.empty[Long], Seq.empty[Long])
    ).toDF("nids", "oids")
    val strs = Seq((Seq("a", "c", "x"), Seq("b", "z")))
      .toDF("nids", "oids")
    for (df <- Seq(longs, strs)) {
      df.select(native.as("a"), hof.as("b"))
        .filter(!(col("a") <=> col("b"))).count() shouldBe 0L
    }
    // order and values spot-check on the mixed row
    val first = longs.limit(1).select(native.as("p")).collect().head
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    first shouldBe Seq((1L, 5L), (1L, 9L), (5L, 9L), // self i<j
      (1L, 2L), (1L, 7L), (2L, 5L), (5L, 7L), (2L, 9L), (7L, 9L))
  }

  test("canonicalByQuality: best-scoring member wins, min-id on ties, " +
    "singleton keeps itself") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("doc_id", "cluster")
    val quality = Seq((1L, 10L), (2L, 99L), (3L, 7L), (4L, 7L), (5L, 1L))
      .toDF("id", "q")
    val out = NearDup.canonicalByQuality(labels, quality, col("id"),
        col("q"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    out(1L) shouldBe ((1L, 2L, false)) // 2 outranks 1 on quality
    out(2L) shouldBe ((1L, 2L, true))
    out(3L) shouldBe ((3L, 3L, true))  // 7 == 7 -> min id wins
    out(4L) shouldBe ((3L, 3L, false))
    out(5L) shouldBe ((5L, 5L, true))  // singleton
  }

  test("canonicalByQuality: STRING ids tie-break deterministically " +
    "(min_by ordering struct, not numeric negation — ADVICE r8)") {
    // the old max(struct(q, -id)) cast a string id to double -> NULL and
    // the tie-break went nondeterministic; min_by over (-q, id) orders
    // the id in its native (string) collation
    val labels = Seq(("docB", "c1"), ("docA", "c1"), ("docC", "c1"),
      ("solo", "c2")).toDF("doc_id", "cluster")
    val quality = Seq(("docA", 7L), ("docB", 7L), ("docC", 3L),
      ("solo", 1L)).toDF("id", "q")
    val out = NearDup.canonicalByQuality(labels, quality, col("id"),
        col("q"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getBoolean(3)))).toMap
    out("docA") shouldBe (("docA", true)) // 7 == 7 -> min STRING id wins
    out("docB") shouldBe (("docA", false))
    out("docC") shouldBe (("docA", false))
    out("solo") shouldBe (("solo", true))
  }
}
