package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §3 — the reference's three top-level flows composed end-to-end from the
  * operator library. The upstream HTTP fetch is out-of-engine (SURVEY §2.1
  * S6–S9); each flow takes the fetched frame and performs everything the
  * reference does after the network boundary, through to the idempotent sink.
  */
object Flows {

  /** E1 — daily PV collection (daily_pv_automation.py:146-229): wide API
    * payload → melt (W1) → 0-based hour parse (W2a) → numeric coercion with
    * null→0 for generation only (§7.4) → dropna (P5) → idempotent
    * date-partition overwrite (S13). Returns the frame written. */
  def dailyPvFlow(wide: DataFrame, ymd: String, key: String,
                  hourCols: Seq[String], sinkPath: String): DataFrame = {
    val long = Unpivot.meltHours(wide, Seq(ymd, key), hourCols)
      .withColumn("ts", Unpivot.tsZeroBased(col(ymd), col("hour_col")))
      .withColumn("generation",
        coalesce(col("generation").cast("double"), lit(0.0)))
      .na.drop(Seq("ts"))
      .select(col(key).as("plant"), col("ts"), col("generation"))
    Sink.overwriteDatePartitions(long, col("ts"), sinkPath)
    long
  }

  /** E2 — weather collection (prefect_pipeline.py:115-164 →
    * impute_missing.py → merge_to_all.py): full imputation dispatch
    * (W3→W4/W5) → upsert-merge into history keyed by (grp, ts) with the new
    * batch winning (U2/S14). Returns the merged history. Input columns:
    * grp, ts, id, v. */
  def weatherFlow(spark: SparkSession, incoming: DataFrame,
                  historyPath: String): DataFrame = {
    val imputed = Impute.imputeAll(incoming, col("grp"), col("ts"), col("id"),
        col("v"))
      .select(col("grp"), col("ts"), col("id"), col("v_filled").as("v"))
    Sink.upsertParquet(spark, imputed, historyPath, Seq("grp", "ts"),
      Seq(col("id")))
    spark.read.parquet(historyPath)
  }

  /** E3 — monthly backfill (namdong_collect_pv.py / nambu_backfill.py):
    * compute the incomplete/missing days a fetcher must re-request —
    * missing dates in the window (J7) ∪ present-but-incomplete days (A5). */
  def backfillTargets(existing: DataFrame, ts: Column, from: String,
                      to: String, requiredHours: Int = 24): DataFrame = {
    // day-granularity window, INCLUSIVE of `to` (reference date_range
    // semantics) — row filters use the exclusive next-day bound so a
    // partially-present `to` day is still probed
    val endExcl = java.time.LocalDate.parse(to).plusDays(1).toString
    val missing = Analytics.missingDates(
        existing.filter(ts >= lit(from).cast("timestamp") &&
          ts < lit(endExcl).cast("timestamp")),
        ts, from, to)
    val incomplete = Watermark.incompleteDays(existing, ts, from, endExcl,
      requiredHours).select(col("day"))
    missing.unionByName(incomplete).distinct()
  }

  /** E3 — resolve_backfill_range (namdong_collect_pv.py:154-175): start =
    * explicit target, else the day AFTER the existing data's high-watermark
    * (the reference's get_latest_collected_date + 1), else `defaultStart`;
    * end = explicit (the cron caller passes its own "yesterday" — wall-
    * clock stays out of the engine so runs are replayable). The watermark
    * read is a one-row aggregate collect — model-sized by construction. */
  def resolveBackfillRange(existing: DataFrame, ts: Column,
                           targetStart: Option[String], targetEnd: String,
                           defaultStart: String): (String, String) = {
    val start = targetStart.getOrElse {
      val row = existing.select(max(to_date(ts)).as("d")).first()
      if (row.isNullAt(0)) defaultStart
      else row.getDate(0).toLocalDate.plusDays(1).toString
    }
    (start, targetEnd)
  }

  /** E3 — the monthly-chunked backfill work list: every fetch-target day
    * ([[backfillTargets]] — missing ∪ incomplete) tagged with its calendar-
    * month chunk CLIPPED to the window — exactly the (date_s, date_e)
    * pairs the reference's split_by_month hands its fetcher
    * (namdong_collect_pv.py:75-88), derived per-row in one declarative
    * pass instead of a driver-side month loop (the chunk for day d is
    * [max(month_start(d), from), min(month_end(d), to)] — what the loop
    * computes, without the loop). Output: (day, chunk_start, chunk_end). */
  def monthlyBackfillTargets(existing: DataFrame, ts: Column, from: String,
                             to: String,
                             requiredHours: Int = 24): DataFrame =
    backfillTargets(existing, ts, from, to, requiredHours)
      .select(col("day"),
        greatest(trunc(col("day"), "MM"), lit(from).cast("date"))
          .as("chunk_start"),
        least(last_day(col("day")), lit(to).cast("date")).as("chunk_end"))

  /** E3 end-to-end — the monthly backfill FLOW: month-chunk the window's
    * fetch targets, re-request each chunk through the out-of-engine
    * `refetch` callback (SURVEY maps the HTTP fetch itself out of scope),
    * and run each returned wide frame through the E1 tail (melt → ts →
    * coerce → idempotent date-partition overwrite, [[dailyPvFlow]]).
    * The chunk loop is driver-side over MONTHS of the requested window —
    * the reference's own iteration unit — bounded by the window length,
    * never by data volume. Because S13 overwrites exactly the touched
    * date partitions, re-running the whole flow is idempotent (FlowsSpec
    * pins this). Returns the union of written long frames (empty with the
    * E1 output schema when the table is already complete). */
  def monthlyBackfillFlow(existing: DataFrame, ts: Column, from: String,
                          to: String,
                          refetch: (String, String) => DataFrame,
                          ymd: String, key: String, hourCols: Seq[String],
                          sinkPath: String,
                          requiredHours: Int = 24): DataFrame = {
    val spark = existing.sparkSession
    val chunks = monthlyBackfillTargets(existing, ts, from, to, requiredHours)
      .select(col("chunk_start").cast("string"),
        col("chunk_end").cast("string"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    val written = chunks.toSeq.map { case (s, e) =>
      dailyPvFlow(refetch(s, e), ymd, key, hourCols, sinkPath)
    }
    written.reduceOption(_ unionByName _).getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("plant", StringType),
          StructField("ts", TimestampType),
          StructField("generation", DoubleType))))
    }
  }

  /** Daily corpus increment — the steady-state production composition: admit
    * an incoming batch against an existing corpus WITHOUT re-processing
    * existing↔existing pairs (a naive full [[corpusClean]] re-run re-pairs
    * the whole corpus every day while producing nothing new).
    *
    *  1. EXACT: drop incoming docs whose content hash already exists in the
    *     corpus; within the batch, keep the min-id copy per hash.
    *  2. NEAR-DUP: [[NearDup.jaccardPairsIncremental]] pairs touching the
    *     batch only; batch↔batch pairs are clustered, every cluster touching
    *     an existing doc is dropped whole (the same outcome full-corpus
    *     clustering reaches — the existing member would be the canonical),
    *     and surviving clusters keep their min-id member.
    *  3. QUALITY floor on the admitted docs.
    *
    * Returns admitted rows of `incoming` with `quality` attached. The sink
    * is the caller's choice: `overwriteDatePartitions` for a
    * date-partitioned corpus (the 100 TB layout — an increment writes one
    * partition) or [[Sink.commitVersioned]] for a pointer-flip versioned
    * table. Scale shape: every stage shuffles ids/hashes only; batch-sized
    * id sets ride broadcast semi-joins; nothing is quadratic in the corpus.
    * The exact-surviving batch and its pair set are CHECKPOINTED — five
    * downstream consumers would otherwise re-run corpus hashing / the whole
    * pair pipeline each (measured 7.3 s → 2.6 s at sf0.1); both are
    * increment-scale, and like [[corpusClean]] the returned frame is backed
    * by them — call [[NearDup.releaseCheckpoint]] on it once materialized
    * in a long-lived session. */
  def dailyCorpusIncrement(existing: DataFrame, incoming: DataFrame,
                           id: Column, text: Column, stopwords: Seq[String],
                           tau: Double = 0.1,
                           minQuality: Long = 300L): DataFrame = {
    val exHashes = existing.select(md5(text).as("_h")).distinct()
    val keepExact = NearDup.exactDuplicates(incoming, id, text)
      .withColumnRenamed("content_hash", "_h")
      .join(exHashes, Seq("_h"), "left_anti")
      .select(col("keeper").as("_kid"))
    val batch = incoming.join(keepExact, id === col("_kid"), "left_semi")
      .localCheckpoint(true)
    val pairs = NearDup
      .jaccardPairsIncremental(existing, batch, id, text, tau)
      .localCheckpoint(true)
    val bIds = batch.select(id.as("_bid"))
    def inBatch(df: DataFrame, c: String, keep: Boolean): DataFrame =
      df.join(bIds, col(c) === col("_bid"),
        if (keep) "left_semi" else "left_anti")
    val bothNew = inBatch(inBatch(pairs, "id1", keep = true), "id2", keep = true)
    val mixedDrop = inBatch(inBatch(pairs, "id1", keep = true), "id2",
        keep = false).select(col("id1").as("_drop"))
      .unionByName(inBatch(inBatch(pairs, "id2", keep = true), "id1",
        keep = false).select(col("id2").as("_drop")))
      .distinct()
    val clusters = NearDup.dedupClusters(bothNew, batch, id)
    val badClusters = clusters
      .join(mixedDrop, col("doc_id") === col("_drop"), "left_semi")
      .select(col("cluster").as("_bad")).distinct()
    val keep = clusters
      .join(badClusters, col("cluster") === col("_bad"), "left_anti")
      .filter(col("doc_id") === col("cluster")) // cluster canonical
      .select(col("doc_id").as("_cid"))
    batch.join(keep, id === col("_cid"), "left_semi")
      .withColumn("quality", TextOps.qualityScore(text, stopwords))
      .filter(col("quality") >= minQuality)
  }

  /** LLM corpus cleaning, end to end — the composition the training-data
    * operators exist for:
    *
    *  1. EXACT dedup: one shuffle on the content hash, keeper = min id.
    *  2. NEAR-dup: [[NearDup.jaccardPairs]] at `tau` under `block`
    *     ([[NearDup.ShingleBlock.MinhashLsh]] by default, the scale path;
    *     [[NearDup.ShingleBlock.Postings]] for the exact small-scale
    *     variant) → connected components → keep each cluster's canonical
    *     member.
    *  3. QUALITY floor: integer [[TextOps.qualityScore]] >= `minQuality`.
    *
    * Returns surviving rows of `docs` with `quality` attached. The result is
    * backed by the clustering's checkpoint blocks — in a long-lived session
    * call [[NearDup.releaseCheckpoint]] on the RETURNED frame once it is
    * materialized (it finds the checkpoint leaf through the joins).
    *
    * Scale shape: stages 1–2 shuffle ids/hashes only (the text rides a
    * left-semi join back in, never through the pair pipeline); stage 3 is a
    * map-side filter. No stage is quadratic in the corpus. */
  def corpusClean(docs: DataFrame, id: Column, text: Column,
                  stopwords: Seq[String], tau: Double = 0.1,
                  minQuality: Long = 300L,
                  block: NearDup.ShingleBlock =
                    NearDup.ShingleBlock.MinhashLsh()): DataFrame = {
    val exactKeep = NearDup.exactDuplicates(docs, id, text)
      .select(col("keeper").as("_keep_id"))
    val exact = docs.join(exactKeep, id === col("_keep_id"), "left_semi")
    val pairs = NearDup.jaccardPairs(exact, id, text, tau, block = block)
    val canon = NearDup.canonicalByCluster(NearDup.dedupClusters(pairs, exact, id))
      .select(col("doc_id").as("_canon_id"))
    exact.join(canon, id === col("_canon_id"), "left_semi")
      .withColumn("quality", TextOps.qualityScore(text, stopwords))
      .filter(col("quality") >= minQuality)
  }

  /** End-to-end corpus RELEASE — the delivery pipeline a pretraining run
    * consumes, composed from this engine's individually-oracled stages:
    * [[corpusClean]] (exact dedup → near-dup cluster canonicals → quality
    * floor) → Bloom-prefiltered long-n-gram benchmark decontamination
    * ([[NearDup.contaminationPairs]] behind its `prefilter`, the
    * GPT-3/Llama 13-gram recipe) → [[Sampling.assignSplit]] → per-split
    * [[Order.seededShuffle]] (train-order position + round-robin shard,
    * contiguous within each split so every split ships as its own shard
    * set). Every stage is a deterministic pure function of (content, ids,
    * seed): re-releasing the same inputs is bit-identical — FlowsSpec pins
    * exact parity with the hand-composed stage chain plus the release
    * invariants. The caller sinks each split via [[Sink.writeShards]] for
    * size-bounded shard files + manifest.
    *
    * Scale: linear composition — no stage adds shuffles beyond its own
    * documented ones, and the shuffle/shard sort runs on the already-
    * reduced release set. Output: the released docs' columns + `quality`,
    * `split`, `pos` (0-based within split), `shard`. */
  def corpusRelease(docs: DataFrame, id: Column, text: Column,
                    bench: DataFrame, benchId: Column, benchText: Column,
                    stopwords: Seq[String], splits: Seq[(String, Double)],
                    seed: Long, numShards: Int, numParts: Int = 32,
                    tau: Double = 0.1, minQuality: Long = 300L,
                    contamTau: Double = 0.8, contamN: Int = 13,
                    block: NearDup.ShingleBlock =
                      NearDup.ShingleBlock.MinhashLsh(),
                    benchBloom: Option[NearDup.ShingleBloom] = None)
      : DataFrame = {
    // each checkpoint materializes a reused stage once: `cleaned` feeds the
    // Bloom probe, the exact-verify pairs AND the anti-join (3 consumers),
    // `released` feeds one sort per split — without them every consumer
    // re-runs the whole upstream chain (measured 9.1 → 3.6 s at sf0.1)
    val cleaned = corpusClean(docs, id, text, stopwords, tau, minQuality,
      block).localCheckpoint()
    // the bench bloom is a pure function of the bench suite — callers
    // releasing repeatedly against one suite pass it prebuilt
    // (benchShingleBloom's build-once contract) instead of re-aggregating
    // the bench shingles every release
    val bloom = benchBloom.getOrElse(
      NearDup.benchShingleBloom(bench, benchId, benchText, contamN))
    val dirty = NearDup.contaminationPairs(cleaned, id, text, bench,
        benchId, benchText, contamTau, contamN, prefilter = Some(bloom))
      .select(col("corpus_id")).distinct()
    val released = Sampling.assignSplit(
      cleaned.join(dirty, id === col("corpus_id"), "left_anti"), id, splits)
      .localCheckpoint()
    splits.map { case (name, _) =>
      Order.seededShuffle(released.filter(col("split") === name), id, seed,
        numShards, numParts)
    }.reduce(_ unionByName _)
  }

  /** Quality-weighted corpus mixing — the curation end-game: score every
    * document with the corpus-trained unigram LM
    * ([[TextOps.lmQualityScore]]), bucket by ascending NLL thresholds
    * (lower NLL = more fluent), and keep each document with its bucket's
    * sampling rate. The keep decision is the deterministic md5-uniform of
    * the doc id — stable across runs, partitionings and engines, and
    * MONOTONE in the rate (raising a bucket's rate only ever adds
    * documents; same contract as [[Sampling.assignSplit]]). Buckets are
    * named q0..qN in threshold order, `tail` above the last cut.
    *
    * Shape at scale: one LM-scoring pass (two shuffles, see
    * lmQualityScore) + a map-only bucket/keep filter — sampling never
    * shuffles, never counts, never collects.
    * Output: (doc_id, bucket, n_tokens) for kept docs. */
  def qualityMix(docs: DataFrame, id: Column, text: Column,
                 cuts: Seq[(Long, Double)],
                 tailRate: Double): DataFrame = {
    require(cuts.nonEmpty, "need at least one (threshold, rate) cut")
    require(cuts.map(_._1) == cuts.map(_._1).sorted,
      s"thresholds must ascend: ${cuts.map(_._1)}")
    require((cuts.map(_._2) :+ tailRate).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    val scored = TextOps.lmQualityScore(docs, id, text)
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    val (bucket, rate) = cuts.zipWithIndex.foldRight(
      (lit("tail"): Column, lit(tailRate): Column)) {
      case (((thr, r), i), (nAcc, rAcc)) =>
        (when(col("mean_nll_micro") < thr, lit(s"q$i")).otherwise(nAcc),
          when(col("mean_nll_micro") < thr, lit(r)).otherwise(rAcc))
    }
    scored.withColumn("bucket", bucket)
      .filter(u < rate)
      .select(col("doc_id"), col("bucket"), col("n_tokens"))
  }
}
