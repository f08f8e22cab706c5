package graft.tools

import graft.engine.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-shot scaling-curve measurement for the dedup/ANN tier (VERDICT r10
  * #8): turn the 100 TB scaling ARGUMENTS (plan shape, banded shuffles,
  * no all-pairs) into one measured curve by timing representative queries
  * at sf0.01 → sf0.1 → a synthesized 10× "sf1".
  *
  * Synthesis (deterministic, structure-preserving): `factor` copies of
  * sf0.1's documents with doc_id shifted per copy and every copy's words
  * bijectively remapped through md5(word‖k) at preserved length — copies
  * are NOT near-dups of each other (shingle sets are disjoint across
  * copies), while each copy reproduces the base's INTERNAL duplicate/
  * near-dup structure, so pair density and cluster sizes scale linearly —
  * the realistic growth regime. (A naive k-fold copy would make every doc
  * a k-way near-dup cluster and pair counts quadratic in k — measuring a
  * pathology, not scale.) Embeddings: per-copy cyclic rotation of the
  * float vector — norms and WITHIN-copy pairwise cosines are exactly
  * preserved (pair structure replicates); cross-copy rotations of these
  * vectors are near-orthogonal in expectation.
  *
  * Usage: runMain graft.tools.ScaleCurve [factor]
  * Prints one line per (query, scale) with the median-of-3 steady-state
  * and a final exponent table: b in t ∝ n^b fitted on sf0.1→sf1 (the
  * sf0.01→sf0.1 step is fixed-cost-dominated at these sizes).
  */
object ScaleCurve {

  private val QueryNames = Seq("q_doc_exact_dedup", "q_minhash_pairs",
    "q_simhash_pairs", "q_dedup_clusters_star", "q_embed_dedup_lsh",
    "q_embed_dedup_lsh_auto", "q_centroid_assign",
    // r12 (VERDICT r11 stretch #7): one measured row each for the text,
    // graph, and streaming tiers — the families whose 100 TB stories were
    // plan-shape arguments only
    "q_bloom_contamination", "q_repetition_filter", "q_pagerank",
    "q_stream_hourly",
    // r13 (VERDICT r12 stretch #7 + missing #3): the media tier — per-row
    // decode kernels whose exponent should be ~1 by construction
    // (executor-width-bound map passes; payload count rides the
    // synthesized documents table) — and the incremental SRP daily-batch
    // path (batch probes union buckets; exponent reflects batch x
    // occupancy growth, both 10x here)
    "q_media_jpeg", "q_media_quarantine", "q_embed_dedup_incr",
    // r14 (VERDICT r13 stretch #9 + #10): the end-to-end corpus-release
    // composition (its per-job checkpoint-barrier overhead is claimed to
    // amortize at scale — this row measures it) and the bigram LM after
    // the vocab fold (both remaining passes are corpus-sized; exponent
    // should be ~1)
    "q_corpus_release", "q_bigram_lm")

  def synthesize(spark: SparkSession, baseDir: String, outDir: String,
                 factor: Int): Unit = {
    val docs = Tables.documents(spark, baseDir)
    val idSpan = docs.agg(max("doc_id")).head().getLong(0) + 1
    (0 until factor).map { k =>
      val shifted = docs.withColumn("doc_id",
        col("doc_id") + lit(k.toLong * idSpan))
      // bijective remap at preserved length for words up to 64 chars (two
      // chained md5 hexes; longer tokens — none in this corpus — would
      // truncate to 64): copies keep the base's internal shingle structure
      // while sharing no shingles across copies
      if (k == 0) shifted
      else shifted.withColumn("text",
        array_join(transform(split(col("text"), " "),
          w => substring(concat(md5(concat(w, lit(k))),
            md5(concat(w, lit(k), lit("~")))), lit(1),
            greatest(lit(1), length(w)))), " "))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = Tables.embeddings(spark, baseDir)
    val vecSpan = emb.agg(max("vec_id")).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until factor).map { k =>
      val shifted = emb.withColumn("vec_id",
        col("vec_id") + lit(k.toLong * vecSpan))
      if (k == 0) shifted
      else shifted.withColumn("embedding",
        concat(slice(col("embedding"), k % dim + 1, dim - k % dim),
          slice(col("embedding"), 1, k % dim)))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // events (streaming tier): per-copy id/user shifts at UNCHANGED
    // timestamps — ingest-rate growth, the realistic regime (watermarks,
    // windows and state sizes see x-factor denser hours, not a longer
    // history). ts is already normalized micros via Tables.events.
    val ev = Tables.events(spark, baseDir)
    val evSpan = ev.agg(max("event_id")).head().getLong(0) + 1
    val userSpan = ev.agg(max("user_id")).head().getLong(0) + 1
    // a SINGLE FILE like the driver's testdata (the streaming file source
    // lists files, it does not recurse into a directory-shaped table —
    // a part-file dir here reads as zero input for the streaming row)
    val evStage = s"$outDir/_events_stage"
    (0 until factor).map { k =>
      ev.withColumn("event_id", col("event_id") + lit(k.toLong * evSpan))
        .withColumn("user_id", col("user_id") + lit(k.toLong * userSpan))
    }.reduce(_ unionByName _)
      .coalesce(1).write.mode("overwrite").parquet(evStage)
    val part = new java.io.File(evStage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    def rmRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRec))
      f.delete()
    }
    rmRec(new java.io.File(s"$outDir/events.parquet"))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$outDir/events.parquet"))
    new java.io.File(evStage).listFiles().foreach(_.delete())
    new java.io.File(evStage).delete()
    // TPC-H tier for the graph row: orders/lineitem/customer copies with
    // FK-consistent key shifts (order and customer key spaces replicate;
    // suppliers and nations stay shared — hub degree grows with the
    // corpus, the realistic regime for a supplier-customer graph).
    // Remaining small dims copy verbatim.
    val cust = Tables.customer(spark, baseDir)
    val custSpan = cust.agg(max("c_custkey")).head().getLong(0) + 1
    (0 until factor).map(k =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * custSpan)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    val ord = Tables.orders(spark, baseDir)
    val ordSpan = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    (0 until factor).map(k =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(k.toLong * ordSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(k.toLong * custSpan)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    val li = Tables.lineitem(spark, baseDir)
    (0 until factor).map(k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * ordSpan)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    Seq("region", "nation", "supplier", "part").foreach { t =>
      Tables.table(spark, baseDir, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    // shared engine profile, like the other measurement tools
    val spark = graft.SessionProfile.local(graft.SessionProfile.toolCpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val synthDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_scale_sf1_x$factor").toString
    println(s"[scale] synthesizing ${factor}x of sf0.1 into $synthDir")
    synthesize(spark, "/root/testdata/sf0.1", synthDir, factor)
    val scales = Seq("sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1", s"sf1(x$factor)" -> synthDir)
    def run(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        once() // codegen/JIT warm-up, discarded
        Seq(once(), once(), once()).sorted.apply(1)
      } catch {
        // a fixed-geometry query refused by the rows/bucket guard at a
        // scale beyond its declared regime is the guard WORKING — record
        // it as such rather than aborting the curve
        case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("rows/bucket") =>
          println(s"[scale] $name $dir refused by the fixed-geometry " +
            "guard (expected beyond the declared regime)")
          Double.NaN
      }
    }
    val rows = QueryNames.map { q =>
      val ts = scales.map { case (label, dir) =>
        val t = run(q, dir)
        println(f"[scale] $q%-24s $label%-10s ${t}%8.3f s")
        t
      }
      (q, ts)
    }
    println(f"[scale] ${"query"}%-24s ${"sf0.01"}%9s ${"sf0.1"}%9s ${"sf1"}%9s  exp(0.1->1)")
    rows.foreach { case (q, ts) =>
      val b = math.log(ts(2) / ts(1)) / math.log(factor.toDouble)
      println(f"[scale] $q%-24s ${ts(0)}%8.3f s ${ts(1)}%7.3f s ${ts(2)}%7.3f s  $b%5.2f")
    }
    // The superlinear entry at FIXED parameters is SRP-LSH — expected:
    // with a fixed band/row geometry, per-bucket occupancy grows with n and
    // candidate pairs with n². Since r12 the engine closes this itself:
    // srpGeometry(n, tau) derives the banding (rows-per-band ~ log n) and
    // lshCosinePairsAuto threads it — the q_embed_dedup_lsh_auto row above
    // measures that path across scales. Keep the fixed-geometry A/B here
    // (maxRowsPerBucket raised DELIBERATELY to measure the cliff the guard
    // now fails loudly on).
    def lshOnce(dir: String, run: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Double = {
      val emb = Tables.embeddings(spark, dir)
      def once(): Double = {
        val t0 = System.nanoTime()
        run(emb).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      Seq(once(), once(), once()).sorted.apply(1)
    }
    val nSf1 = Tables.embeddings(spark, synthDir).count()
    val g = graft.engine.Similarity.srpGeometry(nSf1, 0.4)
    val fixed = lshOnce(synthDir, emb =>
      graft.engine.Similarity.lshCosinePairs(emb, col("vec_id"),
        col("embedding"), 0.4, maxRowsPerBucket = Int.MaxValue))
    val derived = lshOnce(synthDir, emb =>
      graft.engine.Similarity.lshCosinePairsAuto(emb, col("vec_id"),
        col("embedding"), 0.4, corpusSize = nSf1))
    println(f"[scale] q_embed_dedup_lsh at sf1 (n=$nSf1): fixed geometry " +
      f"(24x4/256) $fixed%.3f s vs derived (${g.bands}x${g.rowsPerBand}/" +
      f"${g.bits}) $derived%.3f s")
    // the REALISTIC daily-batch regime: the batch stays base-sized while
    // the corpus grows 10x — the q_embed_dedup_incr row above scales the
    // batch WITH the corpus (both 10x), which conflates the two growth
    // axes; this A/B isolates corpus growth at fixed batch, the claim the
    // incremental path exists for
    val incrFixedBatch = lshOnce(synthDir, emb =>
      graft.engine.Similarity.lshCosinePairsIncrementalAuto(
        emb.filter(col("vec_id") % (5L * factor) =!= 0),
        emb.filter(col("vec_id") % (5L * factor) === 0),
        col("vec_id"), col("embedding"), 0.4, corpusSize = nSf1))
    val incrBaseBatch = lshOnce("/root/testdata/sf0.1", emb =>
      graft.engine.Similarity.lshCosinePairsIncrementalAuto(
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0),
        col("vec_id"), col("embedding"), 0.4, corpusSize = nSf1 / factor))
    println(f"[scale] incremental SRP, SAME-SIZED batch: sf0.1 corpus " +
      f"$incrBaseBatch%.3f s vs 10x corpus $incrFixedBatch%.3f s " +
      "(exponent of corpus growth at fixed batch: " +
      f"${math.log(incrFixedBatch / incrBaseBatch) / math.log(factor.toDouble)}%.2f)")
    spark.stop()
  }
}
