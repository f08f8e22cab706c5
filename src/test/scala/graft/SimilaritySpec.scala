package graft

import graft.engine.{Similarity, Tables}
import graft.engine.Similarity.{AnnProbe, AnnScore, PairBlock}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("annTopK(Exact, All): exact ranking on a known tiny corpus") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)), // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)), // orthogonal to 0
      (3L, Array(0.5f, 0.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = exactTopK(vecs, Seq(0L), 2).orderBy("rn").collect()
    top.map(_.getLong(1)) shouldBe Array(1L, 3L)
    top(0).getDouble(2) should be > 0.99
  }

  test("LSH ANN: recall vs brute force on testdata sf0.001") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = Seq(0L, 1L, 2L)
    val exact = exactTopK(emb, qs, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshCosineTopK(emb, col("vec_id"), col("embedding"), qs, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // deterministic planes + data → deterministic recall; pin a floor
    recall should be >= 0.9
    approx.size should be <= exact.size // never returns more than k per query
  }

  /** Deterministic clusterable corpus: 20 well-separated ±1 direction
    * centers in 32-dim, 50 points each, every point = its center with 3 of
    * 32 signs flipped (in-cluster cos = 1−2·3/32 ≈ 0.81; cross-cluster
    * cos ≈ 0 ± 0.18) — the regime IVF's coarse quantizer assumes. */
  private def clusteredCorpus = {
    import scala.util.hashing.MurmurHash3
    val centers = Similarity.hyperplanes(20, 32)
    val rows = for {
      c <- 0 until 20; i <- 0 until 50
    } yield {
      val flips = (0 until 32)
        .sortBy(j => MurmurHash3.productHash((c, i, j))).take(3).toSet
      val v = Array.tabulate(32) { j =>
        (if (flips(j)) -centers(c)(j) else centers(c)(j)).toFloat
      }
      ((c * 50 + i).toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** Query batch (qid, qv) read from an IVF index's own `cv` column. */
  private def indexQueries(indexed: DataFrame, qs: Seq[Long]) =
    indexed.filter(col("cid").isin(qs: _*))
      .select(col("cid").as("qid"), col("cv").as("qv"))

  /** Query batch (qid, qv: array<double>) from the raw embeddings. */
  private def embQueries(emb: DataFrame, qs: Seq[Long]) =
    emb.select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
      .filter(col("qid").isin(qs: _*))

  /** Brute-force exact top-k: every raw embedding scored against `qs`. */
  private def exactTopK(emb: DataFrame, qs: Seq[Long], k: Int): DataFrame =
    Similarity.annTopK(emb.select(col("vec_id").as("cid"),
        Similarity.asDouble(col("embedding")).as("cv")),
      embQueries(emb, qs), k, AnnScore.Exact, AnnProbe.All)

  /** Train the IVF quantizer, assign the corpus, search it exactly. */
  private def ivfSearch(emb: DataFrame, qs: Seq[Long], k: Int,
                        nprobe: Int = 4): DataFrame = {
    val cents = Similarity.ivfTrainCentroids(emb, col("vec_id"),
      col("embedding"))
    val indexed = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"),
      cents)
    Similarity.annTopK(indexed, indexQueries(indexed, qs), k,
      AnnScore.Exact, AnnProbe.Ivf(cents, nprobe))
  }

  /** Train the IVF quantizer, assign the corpus, semantic-dedup it. */
  private def semDedupOf(emb: DataFrame, tau: Double): DataFrame =
    Similarity.semDedup(Similarity.ivfAssign(emb, col("vec_id"),
      col("embedding"), Similarity.ivfTrainCentroids(emb, col("vec_id"),
        col("embedding"))), tau)

  /** Flat PQ over codebooks `cb`: encode the corpus, ADC-search it. */
  private def pqSearch(emb: DataFrame, qs: Seq[Long], k: Int,
                       cb: Array[Array[Array[Double]]]): DataFrame =
    Similarity.annTopK(
      Similarity.pqEncode(emb, col("vec_id"), col("embedding"), cb),
      embQueries(emb, qs), k, AnnScore.Adc(cb), AnnProbe.All)

  /** The parquet scans of a (possibly adaptive) physical plan. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  test("IVF ANN: recall >= 0.9 on a clusterable corpus at defaults") {
    val emb = clusteredCorpus
    val qs = Seq(0L, 101L, 202L, 303L, 404L) // one per first five clusters
    val exact = exactTopK(emb, qs, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = ivfSearch(emb, qs, 5).select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // deterministic seeds + deterministic ties → deterministic model, so
    // this floor is stable run-to-run (measured: 1.0)
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.9
    approx.size should be <= exact.size
  }

  test("IVF ANN: isotropic corpus recall tracks the scanned fraction; " +
    "index determinism; reuse path") {
    // testdata embeddings are ISOTROPIC (near-dup pairs planted in random
    // directions — label is not a geometric cluster): top-k reaches into
    // background distances, where IVF recall cannot beat the scanned
    // fraction ≈ nprobe/nlist. This pins the documented behavior: recall
    // comfortably above the scanned fraction, not near 1.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = exactTopK(emb, qs, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = ivfSearch(emb, qs, 5, nprobe = 8)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.6 // scanned fraction 8/16 = 0.5; measured 0.88

    // determinism + reuse: a second training run reproduces the model
    // bit-for-bit, and search-with-prebuilt-index matches the one-shot path
    val c1 = Similarity.ivfTrainCentroids(emb, col("vec_id"), col("embedding"))
    val c2 = Similarity.ivfTrainCentroids(emb, col("vec_id"), col("embedding"))
    c1.flatten.toSeq shouldBe c2.flatten.toSeq
    val indexed = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), c1)
    val reused = Similarity.annTopK(indexed, indexQueries(indexed, qs), 5,
        AnnScore.Exact, AnnProbe.Ivf(c1, nprobe = 8))
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    reused shouldBe approx
  }

  test("semDedup: twin collapse, min-id keep rule, zero-norm safety, " +
    "determinism") {
    // clusterable corpus + planted twins: 2000 duplicates vector 0 exactly,
    // 2001 duplicates vector 101 exactly; 3000 is a zero vector
    val base = clusteredCorpus
    val twins = Seq(
      (2000L, 0L), (2001L, 101L)
    ).toDF("tid", "src")
    val planted = base.join(twins, col("vec_id") === col("src"))
      .select(col("tid").as("vec_id"), col("embedding"))
    val zero = Seq((3000L, Array.fill(32)(0.0f))).toDF("vec_id", "embedding")
    val emb = base.unionByName(planted).unionByName(zero)
    val kept = semDedupOf(emb, tau = 0.99).select("cid").collect()
      .map(_.getLong(0)).toSet
    // exact twins collapse to the LOWER id; in-cluster cos ≈ 0.81 < 0.99 so
    // nothing else pairs; the zero vector has NULL cosine → always kept
    kept should contain(0L)
    kept should contain(101L)
    (kept should not).contain(2000L)
    (kept should not).contain(2001L)
    kept should contain(3000L)
    // the fixture itself contains accidental exact twins (two points in a
    // cluster can draw identical flip sets — birthday over C(32,3)); the
    // expected survivor count is distinct flip-sets per cluster + the zero
    // vector, computed from the same deterministic construction
    val expected = (0 until 20).map { c =>
      (0 until 50).map { i =>
        (0 until 32)
          .sortBy(j => scala.util.hashing.MurmurHash3.productHash((c, i, j)))
          .take(3).toSet
      }.distinct.size
    }.sum + 1
    kept.size shouldBe expected
    // determinism: deterministic seeds + ties → identical second run
    val kept2 = semDedupOf(emb, tau = 0.99).select("cid").collect()
      .map(_.getLong(0)).toSet
    kept2 shouldBe kept
    // identity law: tau above 1 (cosine's max) keeps the whole corpus
    semDedupOf(emb, tau = 1.1).count() shouldBe emb.count()
  }

  test("boundedTopK aggregate: ordering, ties, null skip, cross-partition merge") {
    val rows = Seq(
      (1L, 10L, Option(0.5)), (1L, 12L, Option(0.9)), (1L, 11L, Option(0.9)),
      (1L, 13L, Option(0.1)), (1L, 14L, Option.empty[Double]),
      (2L, 20L, Option(0.3)), (2L, 21L, Option(0.2))
    ).toDF("qid", "cid", "cos").repartition(8) // force partial buffers + merge
    val out = rows.groupBy(col("qid"))
      .agg(Similarity.boundedTopK(col("cos"), col("cid"), 3).as("tk"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getLong(0), s.getDouble(1)))).toMap
    // score desc, tie 0.9 breaks to LOWER cid; null score skipped; k caps
    out(1L) shouldBe Seq((11L, 0.9), (12L, 0.9), (10L, 0.5))
    out(2L) shouldBe Seq((20L, 0.3), (21L, 0.2)) // fewer than k → all, sorted
  }

  test("bounded top-k rerank: bit-exact vs row_number window at sf0.1; " +
    "partial aggregation plan, no window sort") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val qs = Seq(0L, 1L, 2L)
    val res = exactTopK(emb, qs, 5)
    // the window formulation this rerank replaced, over the same candidates
    val corpus = emb.select(col("vec_id").as("cid"),
      Similarity.asDouble(col("embedding")).as("cv"))
    val queries = corpus.filter(col("cid").isin(qs: _*))
      .select(col("cid").as("qid"), col("cv").as("qv"))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(Similarity.cosine(col("cv"), col("qv")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    val ref = scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    asSet(res) shouldBe asSet(ref)
    // plan shape: partial-then-final typed aggregate instead of a window sort
    val plan = res.queryExecution.executedPlan.toString
    plan should include("graft_bounded_topk")
    (plan should not).include("Window")
  }

  test("fixed-codebook assignment (q_centroid_assign): map-only plan with " +
    "ZERO shuffle; argmax matches a driver-side brute force") {
    val sf = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q_centroid_assign")(spark, sf)
    // the corpus-scale half of IVF/k-means must never shuffle the corpus
    (df.queryExecution.executedPlan.toString should not).include("Exchange")
    val rows = Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("long"), Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val cents = rows.filter(_._1 < 8).sortBy(_._1).map { case (_, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val expected = rows.map { case (id, v) =>
      val dots = cents.map(c => c.indices.map(i => c(i) * v(i)).sum)
      id -> dots.indexOf(dots.max).toLong
    }.toMap
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
  }

  test("IVF partitioned index: list pruning IS partition pruning; " +
    "results match the in-memory path") {
    val emb = clusteredCorpus
    val cents = Similarity.ivfTrainCentroids(emb, col("vec_id"), col("embedding"))
    val indexed = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), cents)
    val dir = tempDir("graft_ivf_idx_").toString + "/idx"
    indexed.write.partitionBy("cl").parquet(dir)
    val qs = Seq(0L, 101L, 202L)
    val queries = indexed.filter(col("cid").isin(qs: _*))
      .select("cid", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val res = Similarity.annTopKPartitioned(spark, dir, queries, 5,
      AnnScore.Exact, AnnProbe.Ivf(cents))
    def asSet(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    asSet(res.collect()) shouldBe
      asSet(Similarity.annTopK(indexed, indexQueries(indexed, qs), 5,
        AnnScore.Exact, AnnProbe.Ivf(cents)).collect())
    // the scan plans ONLY the probed lists' partitions — a literal
    // partition filter, visible before any file is read
    val probedLists = queries.flatMap(q =>
      Similarity.probeLists(cents, q._2, 4)).distinct
    val scan = scans(res.queryExecution.executedPlan).head
    scan.partitionFilters should not be empty
    scan.selectedPartitions.partitionCount shouldBe probedLists.size
  }

  test("IVF-PQ partitioned index: list pruning IS partition pruning; " +
    "results match the in-memory IVF-PQ path") {
    val emb = clusteredCorpus
    val cents = Similarity.ivfTrainCentroids(emb, col("vec_id"), col("embedding"))
    val cb = Similarity.pqTrain(emb, col("vec_id"), col("embedding"),
      m = 4, k = 16)
    val indexed = Similarity.ivfPqIndex(emb, col("vec_id"), col("embedding"),
      cents, cb)
    val dir = tempDir("graft_ivfpq_idx_").toString + "/idx"
    indexed.write.partitionBy("cl").parquet(dir)
    val qs = Seq(0L, 101L, 202L)
    val queries = emb.filter(col("vec_id").isin(qs: _*))
      .select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val res = Similarity.annTopKPartitioned(spark, dir, queries, 5,
      AnnScore.Adc(cb), AnnProbe.Ivf(cents))
    def asSet(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    asSet(res.collect()) shouldBe
      asSet(Similarity.annTopK(indexed, embQueries(emb, qs), 5,
        AnnScore.Adc(cb), AnnProbe.Ivf(cents)).collect())
    // the scan plans ONLY the probed lists' partitions — a literal
    // partition filter, visible before any file is read
    val probedLists = queries.flatMap(q =>
      Similarity.probeLists(cents, q._2, 4)).distinct
    val scan = scans(res.queryExecution.executedPlan).head
    scan.partitionFilters should not be empty
    scan.selectedPartitions.partitionCount shouldBe probedLists.size
  }

  test("NearestCentroids expression: ordering, ties, nulls, strict width") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    def probe(v: Option[Seq[Double]], nprobe: Int) =
      Seq(Tuple1(v)).toDF("v")
        .select(Similarity.nearestCentroids(col("v"), cents, nprobe).as("p"))
        .head()
    // best-first by dot; tie between centroids 0 and 2 breaks to the LOWER
    // index (deterministic cluster-wide)
    probe(Some(Seq(2.0, 1.0)), 3).getSeq[Int](0) shouldBe Seq(0, 2, 1)
    // null vector → null result
    probe(None, 2).isNullAt(0) shouldBe true
    // null ELEMENT → null result (HOF propagation)
    Seq(Tuple1(Seq(Option(1.0), Option.empty[Double]))).toDF("v")
      .select(Similarity.nearestCentroids(col("v"), cents, 1).as("p"))
      .head().isNullAt(0) shouldBe true
    // width mismatch (both directions) fails loudly, not a prefix dot
    val e = intercept[Exception] { probe(Some(Seq(1.0)), 1) }
    e.getMessage should include("dims")
    intercept[Exception] { probe(Some(Seq(1.0, 2.0, 3.0)), 1) }
      .getMessage should include("dims")
  }

  test("IVF assignment: every vector lands in its dot-argmax list") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.ivfTrainCentroids(emb, col("vec_id"),
      col("embedding"), nlist = 8, iters = 3)
    val rows = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"), cents)
      .select("cv", "cl").collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0).toArray
      val dots = cents.map(c => c.zip(v).map { case (a, b) => a * b }.sum)
      r.getInt(1) shouldBe dots.indexOf(dots.max)
    }
  }

  test("LSH pairs: recall >= 0.9 and precision 1.0 vs exact at sf0.1") {
    // the tuning lock (bits=256, 24×4 bands, z=2.5 Hamming cut): tau=0.4 is
    // adversarial for SRP (true pairs at ~66°, background continuum to
    // 0.3999) — this floor is what forces the parameterization to stay honest
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.4))
    val lsh = pairs(
      Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.4,
        PairBlock.Srp()))
    val recall = (exact intersect lsh).size.toDouble / exact.size
    recall should be >= 0.9
    // exact-cosine rerank means NO false positives, ever
    (lsh diff exact) shouldBe empty
  }

  test("int8 quantization: codes in range, zero-vector safe, dequantized " +
    "cosine within quantization error") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val (codes, scale) = Similarity.quantizeInt8(col("embedding"))
    val q = emb.select(col("vec_id"), codes.as("q"), scale.as("s"),
      Similarity.asDouble(col("embedding")).as("v"))
    val rows = q.collect()
    rows.foreach { r =>
      val cs = r.getSeq[Int](1)
      cs.foreach { c => c should be >= -127; c should be <= 127 }
    }
    // dequantized vectors preserve cosine to within the int8 error budget
    val deq = q.select(col("vec_id"),
      Similarity.cosine(Similarity.dequantizeInt8(col("q"), col("s")),
        col("v")).as("cos"))
    deq.collect().foreach(_.getDouble(1) should be > 0.999)
    // zero vector → all-zero codes, scale 0 (no div-by-zero, no NaN)
    import spark.implicits._
    val z = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val (zc, zs) = Similarity.quantizeInt8(col("embedding"))
    val zr = z.select(zc.as("q"), zs.as("s")).head()
    zr.getSeq[Int](0) shouldBe Seq(0, 0)
    zr.getDouble(1) shouldBe 0.0
  }

  test("crossCosinePairs: bench vectors matched against a disjoint corpus") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (1L, Array(0.9f, 0.1f)), (2L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.crossCosinePairs(
        corpus, col("vec_id"), col("embedding"),
        bench, col("vec_id"), col("embedding"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out shouldBe Array((10L, 1L)) // only the near-parallel pair clears tau
  }

  test("hammingCut: tracks the expected fraction with slack") {
    // tau=0.4, 256 bits: E[ham] ≈ 94.5, std ≈ 7.7 → cut ≈ 114
    val cut = Similarity.hammingCut(0.4, 256)
    cut should be >= 110
    cut should be <= 120
    Similarity.hammingCut(0.9, 256) should be < cut // tighter tau, tighter cut
  }

  test("q_srp_fixed parity: the 64-bit signature IS word 0 of the " +
    "production 256-bit signature (same plane family), and an " +
    "independent driver fold replays every bit") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dbl = Similarity.asDouble(col("embedding"))
    val rows = emb.select(col("vec_id"),
        Similarity.srpSignature(dbl, 64, 64).as("s64"),
        Similarity.srpSignature(dbl, 256, 64).as("s256"),
        col("embedding"))
      .collect()
    rows.length should be > 0
    val planes = Similarity.hyperplanes(64, 64)
    rows.foreach { r =>
      val s64 = r.getSeq[Long](1)
      s64.length shouldBe 1
      // bit-parity across widths: hyperplanes tabulate by (bit, dim), so
      // rows 0..63 coincide — the oracled 64-bit twin transitively pins
      // the production kernel's first word
      withClue(s"vec ${r.getLong(0)} word-0 parity: ") {
        s64.head shouldBe r.getSeq[Long](2).head
      }
      // independent replay: plain Scala fold in the kernel's exact order
      val v = r.getSeq[Float](3).map(_.toDouble).toArray
      var word = 0L
      var j = 0
      while (j < 64) {
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += planes(j)(i) * v(i); i += 1 }
        if (dot >= 0) word |= (1L << j)
        j += 1
      }
      withClue(s"vec ${r.getLong(0)} replay: ") { s64.head shouldBe word }
    }
  }

  test("signature determinism: hyperplanes are JVM-independent constants") {
    val p1 = Similarity.hyperplanes(4, 8)
    val p2 = Similarity.hyperplanes(4, 8)
    p1.flatten.toSeq shouldBe p2.flatten.toSeq
    p1.flatten.toSet shouldBe Set(1.0, -1.0)
  }

  test("PQ: model shape, determinism, codes in range, ADC = subspace-ordered " +
    "reconstruction dot to 1e-12, strict width, zero-vector safety") {
    val emb = clusteredCorpus // 1000 × 32-dim
    val cb = Similarity.pqTrain(emb, col("vec_id"), col("embedding"),
      m = 4, k = 16)
    cb.length shouldBe 4
    cb.foreach(_.length shouldBe 16)
    cb.foreach(_.foreach(_.length shouldBe 8))
    // deterministic seeds + deterministic argmin ties → bit-identical model
    val cb2 = Similarity.pqTrain(emb, col("vec_id"), col("embedding"),
      m = 4, k = 16)
    cb.flatten.flatten.toSeq shouldBe cb2.flatten.flatten.toSeq

    val encoded = Similarity.pqEncode(emb, col("vec_id"), col("embedding"), cb)
    val codes = encoded.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    codes.size shouldBe 1000
    codes.values.foreach { cs =>
      cs.length shouldBe 4
      cs.foreach(c => assert(c >= 0 && c < 16))
    }

    // ADC exactness: every (query, candidate) adc from the search equals the
    // per-subspace dot of the normalized query against the candidate's
    // reconstruction, summed in subspace order (the expression's contract)
    val qs = Seq(0L, 101L, 202L)
    val out = Similarity.annTopK(encoded, embQueries(emb, qs), 5,
      AnnScore.Adc(cb), AnnProbe.All).collect()
    out.length shouldBe 15
    val vecs = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    out.foreach { r =>
      val (qid, cid, adc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val q = vecs(qid)
      val n = math.sqrt(q.map(x => x * x).sum)
      val qn = q.map(_ / n)
      var sum = 0.0
      for (s <- 0 until 4) {
        val cw = cb(s)(codes(cid)(s))
        var dot = 0.0
        for (i <- 0 until 8) dot += qn(s * 8 + i) * cw(i)
        sum += dot
      }
      val expected = BigDecimal(sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.abs(adc - expected) should be <= 1e-12
    }

    // strict width: a narrower vector fails loudly, never a prefix encode
    val narrow = Seq((0L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.pqEncode(narrow, col("vec_id"), col("embedding"), cb).collect()
    }
    e.getMessage should include("dims")

    // zero vector: passes through normalization unchanged, encodes
    // deterministically, and ADC-scores 0 as a query (zero table)
    val withZero = Seq((0L, Array.fill(32)(0.0f)),
      (1L, Array.tabulate(32)(i => (i + 1).toFloat))).toDF("vec_id", "embedding")
    val zc = Similarity.pqEncode(withZero, col("vec_id"), col("embedding"), cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    zc(0L).foreach(c => assert(c >= 0 && c < 16))
    val zq = pqSearch(withZero, Seq(0L), 1, cb).collect()
    zq.length shouldBe 1
    zq.head.getDouble(2) shouldBe 0.0
  }

  test("PQ ANN: recall vs exact on the clusterable corpus; reconstruction " +
    "error shrinks as k grows; reuse path = one-shot path") {
    val emb = clusteredCorpus
    val qs = Seq(0L, 101L, 202L, 303L, 404L)
    val exact = exactTopK(emb, qs, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // m=8 → 4-dim subspaces: the fixture's ±1/√32 subvectors take only
    // 2⁴ = 16 sign patterns, so k=16 codewords nearly resolve the corpus
    // (measured recall 0.84; limited by patterns absent from the seed pool)
    // — the "enough subspaces" regime PQ is deployed in. At m=4 the 8-dim
    // subspaces have 256 patterns per 16 codewords and recall decays to
    // ~0.2: subspace count, not corpus size, sets PQ's resolution.
    val approx = pqSearch(emb, qs, 5, Similarity.pqTrain(emb, col("vec_id"),
        col("embedding"), m = 8)).select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // deterministic model → stable floor (measured: see assertion)
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.6
    approx.size should be <= exact.size

    // more codewords per subspace → lower quantization distortion (global
    // Lloyd's argument doesn't guarantee it per-run, but the deterministic
    // seeds on this fixture do — pinned so a training regression shows up)
    def reconErr(k: Int): Double = {
      val cbk = Similarity.pqTrain(emb, col("vec_id"), col("embedding"),
        m = 4, k = k)
      val enc = Similarity.pqEncode(emb, col("vec_id"), col("embedding"), cbk)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
      val vecs = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding"))).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      vecs.map { case (id, v) =>
        val n = math.sqrt(v.map(x => x * x).sum)
        val nv = v.map(_ / n)
        (0 until 4).map { s =>
          val cw = cbk(s)(enc(id)(s))
          (0 until 8).map(i => math.pow(nv(s * 8 + i) - cw(i), 2)).sum
        }.sum
      }.sum / vecs.size
    }
    val e2 = reconErr(2)
    val e8 = reconErr(8)
    e8 should be < e2

    // prebuilt-index search matches the one-shot convenience path
    val cb = Similarity.pqTrain(emb, col("vec_id"), col("embedding"), m = 8)
    val reused = pqSearch(emb, qs, 5, cb).select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    reused shouldBe approx
  }

  test("IVF-PQ: probed-list containment, recall floor on the clusterable " +
    "corpus, ADC values match the flat-PQ scores for surviving pairs") {
    val emb = clusteredCorpus
    val qs = Seq(0L, 101L, 202L, 303L, 404L)
    val cents = Similarity.ivfTrainCentroids(emb, col("vec_id"), col("embedding"))
    val cb = Similarity.pqTrain(emb, col("vec_id"), col("embedding"), m = 8)
    val indexed = Similarity.ivfPqIndex(emb, col("vec_id"), col("embedding"),
      cents, cb)
    val out = Similarity.annTopK(indexed, embQueries(emb, qs), 5,
      AnnScore.Adc(cb), AnnProbe.Ivf(cents)).collect()

    // recall vs exact: on a clusterable corpus the coarse quantizer routes
    // each query to its own cluster's list, so IVF pruning costs nothing on
    // top of PQ quantization (flat-PQ measured 0.84 here)
    val exact = exactTopK(emb, qs, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    recall should be >= 0.6

    // every returned candidate sits in one of its query's probed lists —
    // the driver-side probeLists helper and the in-plan NearestCentroids
    // expression must agree (same scoring, same tie-break)
    val vecs = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val lists = indexed.select(col("cid"), col("cl")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val probed = Similarity.probeLists(cents, vecs(r.getLong(0)), 4).toSet
      assert(probed.contains(lists(r.getLong(1))),
        s"cid ${r.getLong(1)} (list ${lists(r.getLong(1))}) outside " +
          s"qid ${r.getLong(0)}'s probes $probed")
    }

    // ADC is the same number flat PQ computes — IVF only prunes candidates,
    // it never changes a surviving pair's score
    val flat = pqSearch(emb, qs, 5, cb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r =>
      flat.get((r.getLong(0), r.getLong(1))).foreach { s =>
        r.getDouble(2) shouldBe s
      }
    }
  }

  test("annTopK law: Ivf(nprobe = nlist) equals All") {
    // probing every inverted list loses no candidate, under Exact and Adc
    val emb = clusteredCorpus
    val qs = Seq(0L, 101L, 202L, 303L, 404L)
    // k above the 50-point cluster size: every query's top-k reaches into
    // other clusters' lists, which a partial probe can miss
    val k = 60
    val nlist = 16
    val cents = Similarity.ivfTrainCentroids(emb, col("vec_id"),
      col("embedding"), nlist)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val indexed = Similarity.ivfAssign(emb, col("vec_id"), col("embedding"),
      cents)
    def ivfExact(nprobe: Int) = rows(Similarity.annTopK(indexed,
      indexQueries(indexed, qs), k, AnnScore.Exact, AnnProbe.Ivf(cents, nprobe)))
    val exact = rows(exactTopK(emb, qs, k))
    exact.size shouldBe qs.size * k
    ivfExact(nlist) shouldBe exact
    // the law has teeth: one probed list does lose candidates here
    ivfExact(1) should not be exact

    val cb = Similarity.pqTrain(emb, col("vec_id"), col("embedding"), m = 8)
    val ivfPq = Similarity.ivfPqIndex(emb, col("vec_id"), col("embedding"),
      cents, cb)
    rows(Similarity.annTopK(ivfPq, embQueries(emb, qs), k, AnnScore.Adc(cb),
      AnnProbe.Ivf(cents, nprobe = nlist))) shouldBe rows(pqSearch(emb, qs, k, cb))
  }

  test("srpGeometry: the measured scale rule, pinned") {
    // sf0.1 regime (n=2000): 4 rows/band (16 buckets >= 2000/128), 16
    // band-OR draws reach 0.92 at tau 0.4 (p^4 = 0.1585), bits floored at
    // 256 for the Hamming prefilter
    Similarity.srpGeometry(2000, 0.4) shouldBe
      Similarity.SrpGeometry(256, 16, 4)
    // the 10x step ScaleCurve measures (n=20000): rows/band grows with
    // log n (2^8 buckets), bands absorb the p^r recall cost (the n^rho
    // term), bits = bands*r rounded to a word
    Similarity.srpGeometry(20000, 0.4) shouldBe
      Similarity.SrpGeometry(832, 101, 8)
    // monotone in n: bucket count tracks corpus size; occupancy bounded
    var lastR = 0
    for (n <- Seq(100L, 1000L, 10000L, 100000L, 1000000L)) {
      val g = Similarity.srpGeometry(n, 0.4)
      g.rowsPerBand should be >= lastR
      lastR = g.rowsPerBand
      // bucket count tracks n: expected occupancy stays <= 128 rows/bucket
      // (the floor r=4 only ever applies below 16*128 rows)
      assert((1L << g.rowsPerBand) * 128 >= n,
        s"occupancy rule violated at n=$n: $g")
      g.bits should be >= g.bands * g.rowsPerBand
    }
    // beyond the SRP-viable regime at tau 0.4 the derivation fails loudly
    // (bands > 4096) instead of silently exploding the banded shuffle
    val e = intercept[IllegalArgumentException] {
      Similarity.srpGeometry(100000000L, 0.4)
    }
    e.getMessage should include("IVF/PQ")
  }

  test("fixed-geometry LSH guard fails loudly beyond its declared regime") {
    // a corpus whose stats-estimated size exceeds 2^4 * 1024 rows under the
    // default 4-rows-per-band geometry — the silent n^2 cliff ScaleCurve
    // measured (exp 1.21 at 10x) must now refuse with a pointer to the
    // derived-geometry path; nothing executes (the guard is plan-time)
    val emb = spark.range(200000).select(col("id").as("vec_id"),
      array(lit(1.0f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.4,
        PairBlock.Srp(dim = 1))
    }
    e.getMessage should include("srpGeometry")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.lshCosineTopK(emb, col("vec_id"), col("embedding"),
        Seq(0L), 5, dim = 1)
    }
    e2.getMessage should include("srpGeometry")
    // raising the cap deliberately (the maxDays pattern) is the escape
    noException should be thrownBy Similarity.cosinePairs(emb,
      col("vec_id"), col("embedding"), 0.4,
      PairBlock.Srp(dim = 1, maxRowsPerBucket = Int.MaxValue))
    // the same guard runs for a DERIVED geometry: every SRP entry refuses
    // an understated corpus size (srpGeometry(2000): 16 buckets/band, cap
    // 16k rows) and accepts the true one (2048 buckets/band, cap 2M)
    val sigs = Similarity.srpSignatureTable(emb, col("vec_id"),
      col("embedding"), bits = 256, dim = 1)
    def entries(g: Similarity.SrpGeometry): Seq[() => Any] = Seq(
      () => Similarity.cosinePairs(emb, col("vec_id"), col("embedding"),
        0.4, PairBlock.Srp(g, dim = 1)),
      () => Similarity.lshCosinePairsIncremental(emb, emb.limit(1),
        col("vec_id"), col("embedding"), 0.4, g, dim = 1),
      () => Similarity.lshCosineTopK(emb, col("vec_id"), col("embedding"),
        Seq(0L), 5, g, dim = 1),
      () => Similarity.lshCosinePairsIncrementalPresigned(sigs, 256, emb,
        emb.limit(1), col("vec_id"), col("embedding"), 0.4, g, dim = 1))
    entries(Similarity.srpGeometry(2000, 0.4)).foreach { run =>
      val e3 = intercept[IllegalArgumentException](run())
      e3.getMessage should include("rows/bucket")
      e3.getMessage should include("srpGeometry")
    }
    // the true geometry is wider than the 256-bit table, so only the three
    // freshly-signing entries run it
    val truth = Similarity.srpGeometry(200000, 0.4)
    truth.bits should be > 256
    entries(truth).take(3).foreach(run => noException should be thrownBy run())
  }

  test("band chunks straddling word boundaries match a driver-side " +
    "re-extraction (rowsPerBand not dividing 64)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (bits, bands, rpb) = (128, 21, 6) // bands 10.. straddle bit 60..66
    val rows = Similarity.bandedSignatures(emb, col("vec_id"),
        col("embedding"), bits, bands, rpb, dim = 64)._2
      .select("cid", "sig", "band", "chunk").collect()
    rows.nonEmpty shouldBe true
    val mask = (1L << rpb) - 1
    rows.foreach { r =>
      val sig = r.getSeq[Long](1)
      val j = r.getInt(2)
      val (word, off) = ((j * rpb) / 64, (j * rpb) % 64)
      val lo = sig(word) >>> off
      val expect =
        (if (off + rpb <= 64) lo
         else lo | (sig(word + 1) << (64 - off))) & mask
      r.getLong(3) shouldBe expect
    }
  }

  test("derived-geometry LSH pairs: recall >= 0.9 and precision 1.0 vs " +
    "exact at sf0.1 (tau 0.4)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(
      Similarity.cosinePairs(emb, col("vec_id"), col("embedding"), 0.4))
    val auto = pairs(Similarity.cosinePairs(emb, col("vec_id"),
      col("embedding"), 0.4, PairBlock.Srp(Similarity.srpGeometry(2000, 0.4))))
    val recall = (exact intersect auto).size.toDouble / exact.size
    recall should be >= 0.9
    (auto diff exact) shouldBe empty // exact rerank: no false positives
  }

  test("incremental SRP pairs == full run restricted to batch-touching " +
    "pairs, at both fixed and derived geometry") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val incoming = emb.filter(col("vec_id") % 5 === 0)
    val existing = emb.filter(col("vec_id") % 5 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    // fixed 64-bit geometry — the oracle twin's exact layout
    val full64 = rows(Similarity.cosinePairs(emb, col("vec_id"),
        col("embedding"), 0.4, PairBlock.Srp(Similarity.SrpGeometry(64, 8, 8))))
      .filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    val incr64 = rows(Similarity.lshCosinePairsIncremental(existing,
      incoming, col("vec_id"), col("embedding"), 0.4,
      Similarity.SrpGeometry(64, 8, 8)))
    incr64 shouldBe full64
    full64 should not be empty // the law must not hold vacuously
    // derived geometry — the at-scale daily-batch entry point
    val g = Similarity.srpGeometry(emb.count(), 0.4)
    val fullAuto = rows(Similarity.cosinePairs(emb, col("vec_id"),
        col("embedding"), 0.4, PairBlock.Srp(g)))
      .filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    val incrAuto = rows(Similarity.lshCosinePairsIncremental(existing,
      incoming, col("vec_id"), col("embedding"), 0.4, g))
    incrAuto shouldBe fullAuto
    // an empty batch probes nothing and yields nothing
    Similarity.lshCosinePairsIncremental(existing,
      incoming.limit(0), col("vec_id"), col("embedding"), 0.4,
      g).count() shouldBe 0L
  }

  test("presigned incremental SRP == direct incremental bit-identical " +
    "(wider stored signatures; prefix stability), too-narrow table " +
    "refuses driver-side") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val incoming = emb.filter(col("vec_id") % 5 === 0)
    val existing = emb.filter(col("vec_id") % 5 =!= 0)
    val g = Similarity.srpGeometry(emb.count(), 0.4)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    val direct = rows(Similarity.lshCosinePairsIncremental(existing,
      incoming, col("vec_id"), col("embedding"), 0.4, g))
    // sign the corpus WIDER than the geometry needs — the headroom
    // pattern; signatures are prefix-stable so results must not move
    val sigs = Similarity.srpSignatureTable(existing, col("vec_id"),
      col("embedding"), bits = 832)
    val pres = rows(Similarity.lshCosinePairsIncrementalPresigned(sigs, 832,
      existing, incoming, col("vec_id"), col("embedding"), 0.4, g))
    pres shouldBe direct
    direct should not be empty
    // a table signed too narrow for the (larger-corpus) geometry refuses
    // before any job, naming the re-sign width
    val e = intercept[IllegalArgumentException] {
      Similarity.lshCosinePairsIncrementalPresigned(sigs, 64, existing,
        incoming, col("vec_id"), col("embedding"), 0.4,
        Similarity.srpGeometry(1000000L, 0.4))
    }
    e.getMessage should include("re-sign")
  }

  test("BandChunks native loop == unrolled bit extraction, including " +
    "word-straddling chunks; too-narrow signature refuses loudly") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val sig = Array(0x123456789abcdef0L, 0x0fedcba987654321L,
      0x5555aaaa3333ccccL)
    val bands = 17
    val r = 11 // 187 bits over 3 words — chunks straddle word boundaries
    def unrolled(j: Int): Long = {
      val bit = j * r
      val word = bit / 64
      val off = bit % 64
      val lo = sig(word) >>> off
      val v = if (off + r <= 64) lo
              else lo | (sig(word + 1) << (64 - off))
      v & ((1L << r) - 1)
    }
    val e = graft.engine.expressions.BandChunks(
      org.apache.spark.sql.catalyst.expressions.Literal(1L), bands, r)
    val got = e.compute(new GenericArrayData(sig))
    got.numElements() shouldBe bands
    (0 until bands).foreach { j =>
      withClue(s"band $j: ") { got.getLong(j) shouldBe unrolled(j) }
    }
    intercept[IllegalArgumentException] {
      e.compute(new GenericArrayData(sig.take(2)))
    }.getMessage should include("signed too narrow")
  }

  test("incremental SRP fixed-geometry guard fails loudly and names the " +
    "Auto escape hatch") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val e = intercept[IllegalArgumentException] {
      Similarity.lshCosinePairsIncremental(
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0),
        col("vec_id"), col("embedding"), 0.4, maxRowsPerBucket = 0)
    }
    e.getMessage should include("srpGeometry")
  }
}
