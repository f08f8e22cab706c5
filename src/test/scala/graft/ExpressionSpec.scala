package graft

import graft.engine.{Similarity, Tables}
import org.apache.spark.sql.functions._

class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("native graft_cosine == HOF cosine on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val q = emb.limit(1).select(col("v").as("qv"))
    val both = emb.crossJoin(q)
      .select(
        Similarity.cosine(col("v"), col("qv")).as("native"),
        Similarity.cosineHof(col("v"), col("qv")).as("hof"))
      .collect()
    both.foreach { r =>
      r.getDouble(0) shouldBe (r.getDouble(1) +- 1e-12)
    }
  }

  test("null / zero-vector semantics match") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(1.0, 2.0))),
      (None: Option[Array[Double]], Some(Array(1.0, 2.0))),
      (Some(Array(0.0, 0.0)), Some(Array(1.0, 2.0)))
    ).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b")).as("c")).collect()
    out(0).getDouble(0) shouldBe (1.0 +- 1e-12)
    out(1).isNullAt(0) shouldBe true
    // a zero norm is NULL here, the HOF path's legacy-mode result (under
    // ANSI it raises DIVIDE_BY_ZERO, as the RewriteHofCosine test below pins)
    out(2).isNullAt(0) shouldBe true
  }

  test("null ELEMENT nulls the result (matches HOF propagation)") {
    val df = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))
      .toDF("a", "b")
    df.select(Similarity.cosine(col("a"), col("b")).as("native"),
        Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .head() match {
      case r =>
        r.isNullAt(0) shouldBe true
        r.isNullAt(1) shouldBe true
    }
  }

  test("graft_cosine is callable from SQL after registration") {
    GraftExtensions.registerOn(spark)
    spark.sql("SELECT graft_cosine(array(0.0d, 3.0d), array(0.0d, 6.0d)) AS c")
      .head().getDouble(0) shouldBe (1.0 +- 1e-12)
  }

  test("graft_dot / graft_norm_sq callable from SQL; HOF-parity edge cases") {
    GraftExtensions.registerOn(spark)
    spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0) shouldBe 11.0
    spark.sql("SELECT graft_norm_sq(array(3.0d, 4.0d)) AS n")
      .head().getDouble(0) shouldBe 25.0
    // mismatched lengths → null (zip_with padding semantics)
    spark.sql("SELECT graft_dot(array(1.0d), array(1.0d, 2.0d)) AS d")
      .head().isNullAt(0) shouldBe true
    // empty arrays → 0.0 (aggregate over empty with 0.0 seed)
    spark.sql("SELECT graft_dot(cast(array() as array<double>), " +
        "cast(array() as array<double>)) AS d")
      .head().getDouble(0) shouldBe 0.0
  }

  test("RewriteHofCosine: HOF formulation optimizes to graft_cosine, " +
    "bit-equal results, null/mismatch semantics preserved") {
    import graft.engine.rules.RewriteHofCosine
    // QueryExecution caches the optimized plan on first access, and earlier
    // tests may have injected the rule session-wide via registerOn — so the
    // frames are built FRESH under each explicit rule configuration, and
    // the baseline asserts it really is the un-rewritten plan (otherwise
    // the bit-equality check would compare the rewrite to itself)
    def build() = {
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      val q = emb.limit(1).select(col("v").as("qv"))
      emb.crossJoin(q)
        .select(col("vec_id"), Similarity.cosineHof(col("v"), col("qv")).as("c"))
    }
    val prev = spark.experimental.extraOptimizations
    val without = prev.filterNot(_ == RewriteHofCosine)
    try {
      spark.experimental.extraOptimizations = without
      val baselineDf = build()
      baselineDf.queryExecution.optimizedPlan.toString should
        not include "graft_dot" // guard: baseline must be the interpreted plan
      val baseline = baselineDf.collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap

      spark.experimental.extraOptimizations = without :+ RewriteHofCosine
      val hof = build()
      // the optimized plan carries the fused kernels, not the HOF tree —
      // and KEEPS the original division (zero-divisor semantics intact)
      val planStr = hof.queryExecution.optimizedPlan.toString
      planStr should include("graft_dot")
      planStr should include("graft_norm_sq")
      planStr should not include "aggregate(zip_with"
      // bit-equal: same accumulation order in both formulations
      hof.collect().foreach { r =>
        r.getDouble(1) shouldBe baseline(r.getLong(0))
      }

      // mismatched lengths: HOF yields null (zip_with pads with null);
      // ArrayDot reproduces that exactly — no size guard needed
      val mixed = Seq(
        (Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0))),
        (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(1.0, 2.0))),
        (None: Option[Seq[Double]], Some(Seq(1.0, 2.0)))
      ).toDF("a", "b")
      val out = mixed
        .select(Similarity.cosineHof(col("a"), col("b")).as("c")).collect()
      out(0).getDouble(0) shouldBe (1.0 +- 1e-12)
      out(1).isNullAt(0) shouldBe true
      out(2).isNullAt(0) shouldBe true

      // ZERO-NORM parity — the case the fused graft_cosine answers NULL in
      // both modes. Rewritten form must match the HOF form in BOTH modes:
      // ANSI (session default) raises DIVIDE_BY_ZERO...
      def zeroCase = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
        .select(Similarity.cosineHof(col("a"), col("b")).as("c"))
      val ansiErr = intercept[Exception] { zeroCase.collect() }
      ansiErr.getMessage should include("DIVIDE_BY_ZERO")
      // ...and legacy mode yields null, not NaN
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try zeroCase.collect()(0).isNullAt(0) shouldBe true
      finally spark.conf.set("spark.sql.ansi.enabled", "true")

      // a bare dot product (no norm denominator) is NOT rewritten
      val dotOnly = mixed.select(Similarity.dot(col("a"), col("b")).as("d"))
      dotOnly.queryExecution.optimizedPlan.toString should not
        .include("graft_dot")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("graft_srp_signature: sign bits match per-plane HOF dot products") {
    val bits = 64
    val dim = 8
    val planes = Similarity.hyperplanes(bits, dim)
    val df = Seq(
      Tuple1(Array(0.3, -1.2, 4.0, 0.01, -2.5, 0.0, 7.1, -0.4)),
      Tuple1(Array(-9.0, 2.0, 0.5, 0.5, 1.0, -1.0, 3.0, 2.2))
    ).toDF("v")
    val sigs = df.select(Similarity.srpSignature(col("v"), bits, dim).as("s"))
      .collect().map(_.getSeq[Long](0))
    val vecs = df.collect().map(_.getSeq[Double](0))
    for ((v, sig) <- vecs.zip(sigs); j <- 0 until bits) {
      val dot = planes(j).zip(v).map { case (p, x) => p * x }.sum
      val bit = (sig(j >> 6) >> (j & 63)) & 1L
      withClue(s"bit $j (dot=$dot): ") { bit shouldBe (if (dot >= 0) 1L else 0L) }
    }
  }

  test("graft_srp_signature: null vector and null element -> null") {
    val df = Seq(
      (1L, Some(Seq(Some(1.0), Some(2.0)))),
      (2L, None: Option[Seq[Option[Double]]]),
      (3L, Some(Seq(Some(1.0), None)))
    ).toDF("id", "v")
    val out = df.select(col("id"),
        Similarity.srpSignature(col("v"), 64, 2).as("s"))
      .orderBy("id").collect()
    out(0).isNullAt(1) shouldBe false
    out(1).isNullAt(1) shouldBe true
    out(2).isNullAt(1) shouldBe true
  }

  test("graft_hamming: known distances on packed words") {
    val df = Seq(
      (Array(0L, 0L), Array(0L, 0L), 0),
      (Array(-1L, 0L), Array(0L, 0L), 64),
      (Array(5L, 3L), Array(6L, 3L), 2), // 101 vs 110
      (Array(7L), Array(7L, 255L), 8)    // shorter side zero-extends
    ).toDF("a", "b", "want")
    df.select(Similarity.hamming(col("a"), col("b")).as("got"), col("want"))
      .collect().foreach(r => r.getInt(0) shouldBe r.getInt(1))
  }

  test("graft_hamming ~ bits * angle/pi on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("sig", Similarity.srpSignature(col("v"), 256, 64))
    val a = emb.select(col("vec_id").as("i"), col("v").as("va"), col("sig").as("sa"))
    val b = emb.select(col("vec_id").as("j"), col("v").as("vb"), col("sig").as("sb"))
    val rows = a.join(b, col("i") < col("j"))
      .select(Similarity.cosine(col("va"), col("vb")).as("cos"),
        Similarity.hamming(col("sa"), col("sb")).as("ham"))
      .collect()
    // SRP guarantee: E[ham/bits] = acos(cos)/pi; check mean abs deviation
    val devs = rows.map { r =>
      math.abs(r.getInt(1) / 256.0 - math.acos(r.getDouble(0)) / math.Pi)
    }
    (devs.sum / devs.length) should be < 0.05
  }

  test("graft_minhash: set semantics, determinism, empty -> null") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def mh(c: org.apache.spark.sql.Column, k: Int) =
      ColumnBridge.column(graft.engine.expressions.MinHashSignature(
        ColumnBridge.expression(c), k))
    val df = Seq(
      (1L, Seq(10L, 20L, 30L)),
      (2L, Seq(30L, 10L, 20L, 20L)), // same set, different order + dup
      (3L, Seq(10L, 20L, 99L)),      // 2-of-3 overlap
      (4L, Seq.empty[Long])
    ).toDF("id", "hs")
    val sigs = df.select(col("id"), mh(col("hs"), 32).as("sig"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    sigs(1L) shouldBe sigs(2L)          // min over the SET: order/dup invariant
    sigs(4L) shouldBe null              // no shingles -> no signature
    sigs(1L).length shouldBe 32
    // overlapping sets agree on some but not all hash slots
    val agree = sigs(1L).zip(sigs(3L)).count { case (x, y) => x == y }
    agree should be > 0
    agree should be < 32
  }

  test("graft_marker_counts == per-marker HOF occurrence counts on real docs") {
    import graft.engine.TextOps
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val groups = TextOps.langMarkers.map(_._2)
    val fused = d.select(col("doc_id"),
      TextOps.markerCounts(col("text"), groups).as("c"))
    val hof = d.select(col("doc_id") +: groups.zipWithIndex.map { case (ms, i) =>
      ms.map(TextOps.tokenOccurrences(col("text"), _)).reduce(_ + _).as(s"g$i")
    }: _*)
    fused.join(hof, "doc_id").collect().foreach { r =>
      val c = r.getSeq[Long](1)
      for (i <- groups.indices)
        withClue(s"doc ${r.getLong(0)} group $i: ") {
          c(i) shouldBe r.getLong(2 + i)
        }
    }
  }

  test("graft_marker_counts: multiplicity, multi-group markers, edge cases") {
    import graft.engine.TextOps
    val groups = Seq(Seq("the", "a"), Seq("a", "und"))
    val df = Seq(
      (1L, Some("the a the  a")), // double space -> empty token, no match
      (2L, Some("")),
      (3L, None: Option[String]),
      (4L, Some("thea a und"))    // no substring matches
    ).toDF("id", "t")
    val out = df.select(col("id"),
        TextOps.markerCounts(col("t"), groups).as("c"))
      .orderBy("id").collect()
    out(0).getSeq[Long](1) shouldBe Seq(4L, 2L) // 'a' counts toward BOTH groups
    out(1).getSeq[Long](1) shouldBe Seq(0L, 0L)
    out(2).isNullAt(1) shouldBe true
    out(3).getSeq[Long](1) shouldBe Seq(1L, 2L)
  }

  test("graft_minhash match fraction estimates jaccard on real docs") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = graft.engine.NearDup.jaccardPairs(
        d, col("doc_id"), col("text"), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sigs = graft.engine.NearDup.minhashSignatures(
        d, col("doc_id"), col("text"), 128)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    exact.foreach { case ((i, j), jac) =>
      val est = sigs(i).zip(sigs(j)).count { case (x, y) => x == y } / 128.0
      est shouldBe (jac +- 0.2) // 128 hashes: se ~ sqrt(j(1-j)/128) < 0.05
    }
  }

  test("Bloom expressions: no false negatives, fpp in range, window-fold " +
    "parity between build (WindowHashes) and probe (BloomAnyWindow) sides") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.engine.expressions.{BloomAnyWindow, BloomMightContain, WindowHashes}
    // build a filter over known longs via the sketch API the engine uses
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (0L until 500L).foreach(i => bf.putLong(i * 7L))
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b)
      b.toByteArray }
    def might(c: org.apache.spark.sql.Column) = ColumnBridge.column(
      BloomMightContain(ColumnBridge.expression(c), bytes))
    val probes = (0L until 1000L).map(i => Tuple1(i * 7L)).toDF("v")
      .select(col("v"), might(col("v")).as("hit")).collect()
    // every inserted key hits (no false negatives)…
    probes.filter(_.getLong(0) < 500L * 7L).forall(_.getBoolean(1)) shouldBe true
    // …and non-members false-positive at ~fpp (generous ceiling)
    val fp = probes.count(r => r.getLong(0) >= 500L * 7L && r.getBoolean(1))
    fp should be <= 25

    // window-fold parity: a filter built from WindowHashes finds every
    // document window via BloomAnyWindow — same fold on both sides
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l"),
      (3L, "z z")).toDF("id", "t")
    val th = transform(split(col("t"), " "), w => xxhash64(w))
    val wh = ColumnBridge.column(WindowHashes(ColumnBridge.expression(th), 3))
    val built = docs.filter(col("id") === 1L).select(explode(wh).as("w"))
    val filt = built.stat.bloomFilter("w", 100, 0.01)
    val fb = { val b = new java.io.ByteArrayOutputStream(); filt.writeTo(b)
      b.toByteArray }
    val any = ColumnBridge.column(BloomAnyWindow(
      ColumnBridge.expression(th), 3, fb))
    val hits = docs.select(col("id"), any.as("h")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    hits(1L) shouldBe true  // its own windows are in the filter
    hits(2L) shouldBe false // disjoint vocabulary (fp chance ~1% per window)
    // shorter than the window → zero windows → false, not an error
    hits(3L) shouldBe false
    // WindowHashes edge: len < n yields an empty array, not null
    docs.filter(col("id") === 3L)
      .select(org.apache.spark.sql.functions.size(wh))
      .head.getInt(0) shouldBe 0
  }

  test("property: PqEncode argmin == driver brute force; PqAdcScore == " +
    "driver table walk; encode ties break to the lower code; loud failures") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val m = 3; val k = 5; val dsub = 4
    val dGen = Gen.choose(-2.0, 2.0)
    def vecGen(n: Int) = Gen.listOfN(n, dGen).map(_.toArray)
    def pick[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (1 to 20).foreach { i =>
      val cb = Array.tabulate(m, k)((s, j) =>
        pick(vecGen(dsub), 9000L * i + 100L * s + j))
      val vs = (1 to 8).map(r => pick(vecGen(m * dsub), 31L * i + r))
      val df = vs.zipWithIndex.map { case (v, id) => (id.toLong, v) }
        .toDF("vec_id", "v")
        .select(col("vec_id"), Similarity.pqEncodeCol(col("v"), cb).as("codes"),
          Similarity.pqAdcTableCol(col("v"), cb).as("tbl"))
      val got = df.select(col("vec_id"), col("codes"),
          Similarity.pqAdcScoreCol(col("codes"), col("tbl")).as("adc"))
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toArray,
          r.getDouble(2))).sortBy(_._1)
      got.zip(vs).foreach { case ((_, codes, adc), v) =>
        // brute-force argmin per subspace, ties to the lower code
        val expCodes = (0 until m).map { s =>
          val d2 = (0 until k).map(j => (0 until dsub)
            .map(t => math.pow(v(s * dsub + t) - cb(s)(j)(t), 2)).sum)
          d2.indexOf(d2.min)
        }
        codes.toSeq shouldBe expCodes
        // ADC = sum over subspaces of <v_s, codeword> in subspace order
        val expAdc = (0 until m).map { s =>
          (0 until dsub).map(t => v(s * dsub + t) * cb(s)(codes(s))(t)).sum
        }.sum
        math.abs(adc - expAdc) should be <= 1e-12
      }
    }
    // duplicated codebook rows: the argmin tie must pick the LOWER index
    val dup = Array.fill(2, 3)(Array(1.0, 1.0))
    val tied = Seq((0L, Array(1.0, 1.0, 1.0, 1.0))).toDF("vec_id", "v")
      .select(Similarity.pqEncodeCol(col("v"), dup).as("codes"))
      .collect().head.getSeq[Int](0)
    tied shouldBe Seq(0, 0)
    // mismatched models fail loudly, never a silent wrong score
    val bad = Seq((0L, Array(0, 1), Array(0.5, 0.5, 0.5)))
      .toDF("id", "codes", "tbl")
    val e = intercept[Exception] {
      bad.select(Similarity.pqAdcScoreCol(col("codes"), col("tbl"))).collect()
    }
    e.getMessage should include("different models")
    val oob = Seq((0L, Array(7, 0), Array.fill(10)(0.1)))
      .toDF("id", "codes", "tbl")
    val e2 = intercept[Exception] {
      oob.select(Similarity.pqAdcScoreCol(col("codes"), col("tbl"))).collect()
    }
    e2.getMessage should include("out of range")
  }
}
