package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.registry.QueryDef
import graft.registry.QueryDef._

/** The query registry (SURVEY.md §7) and the fixtures its queries share.
  *
  * Each query realizes one operator from SURVEY.md §2 (ID in its comment),
  * re-expressed over the TPC-H-ish testdata tables, and is defined once as a
  * [[QueryDef]] in its tier file under `graft/registry`. `queries` and
  * `oracleSql` are derived from those definitions. `oracleSql` carries the
  * DuckDB-equivalent SQL; aggregate/computed columns are aliased identically
  * on both sides (the correctness check sorts columns by name before
  * hashing). Aggregated doubles are rounded on both sides so that
  * accumulation-order FP noise cannot flip the hash.
  */
object SparkEntry {

  /** Memory-sink names must be unique per streaming run within a session. */
  private val streamRunCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Last checkpointed result per (tag, sfDir) stream rig — released on the
    * next run of the same rig so repeated bench/verify invocations don't
    * accumulate checkpoint blocks for the session lifetime (the block twin
    * of the memory-sink leak runAvailableNow already guards against). */
  private val streamLastResult =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()

  /** IVF index (quantizer model + persisted list assignment), built ONCE per
    * dataset dir: the IVF contract is train-once/search-many, so repeated
    * executions of `q_ann_ivf_topk` must time steady-state SEARCH — the
    * operation users repeat — not 5 Lloyd's training jobs per run. The
    * persisted assignment is model-scale for this table (corpus rows × (id,
    * vec, cl)); at 100 TB you sink it `partitionBy("cl")` instead
    * (Similarity.ivfAssign docs) and probing becomes partition pruning.
    * Training cost is measured separately by `tools.TrainBench`. */
  private val ivfIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], DataFrame)]()

  private[graft] def ivfIndex(s: SparkSession, d: String): (Array[Array[Double]], DataFrame) =
    ivfIndexes.computeIfAbsent(d, dir => {
      val cents = Similarity.ivfTrainCentroids(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"))
      val assigned = Similarity.ivfAssign(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"), cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (cents, assigned)
    })

  /** Fixed codebook for the ORACLED assignment query: the (L2-normalized)
    * embeddings of vec_id 0..7, in vec_id order. Unlike the trained
    * quantizer ([[ivfIndex]]), this codebook is SQL-expressible, so the
    * zero-shuffle argmax assignment itself — the data-scale half of every
    * IVF/k-means pipeline — gets a hash-green DuckDB oracle. Argmax is
    * FP-robust here: min top1−top2 dot gap across the testdata SFs is
    * ≥ 4.7e-5, ~10 orders above any summation-order noise. */
  private[graft] def fixedCodebook(s: SparkSession, d: String): Array[Array[Double]] =
    Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long"), Similarity.asDouble(col("embedding")))
      .collect().sortBy(_.getLong(0))
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        var ss = 0.0; var i = 0
        while (i < v.length) { ss += v(i) * v(i); i += 1 }
        val n = math.sqrt(ss)
        v.map(_ / n)
      }

  /** PQ index (codebooks + encoded corpus), built once per dataset dir —
    * train-once/search-many, the [[ivfIndexes]] contract. The encoded frame
    * is m ints per row (the whole point: search state is ~dim·8/m× smaller
    * than the vectors). */
  private val pqIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Array[Double]]], DataFrame)]()

  private[graft] def pqIndex(s: SparkSession, d: String)
      : (Array[Array[Array[Double]]], DataFrame) =
    pqIndexes.computeIfAbsent(d, dir => {
      val cb = Similarity.pqTrain(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"))
      val encoded = Similarity.pqEncode(
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"), cb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (cb, encoded)
    })

  /** Fixed product-quantizer codebook for the ORACLED encode query: the RAW
    * (unnormalized) embeddings of vec_id 0..3, each sliced into 4 subvectors
    * of 16 dims — m=4 subspaces × k=4 codewords. Like [[fixedCodebook]],
    * fixing the model makes the data-scale half of the pipeline — the
    * zero-shuffle argmin-L2 encode pass over the whole corpus — replayable
    * in SQL (list_slice + list_distance + argmin), so the same executor
    * kernel the trained path uses ([[graft.engine.expressions.PqEncode]])
    * gets a hash-green DuckDB oracle. Argmin is FP-robust here: the min
    * best-vs-runner-up squared-distance gap across all testdata SFs is
    * 9.3e-7 (measured, sf0.01), ~9 orders above summation-order noise. */
  private[graft] def fixedPqCodebook(s: SparkSession, d: String)
      : Array[Array[Array[Double]]] = {
    val rows = Tables.embeddings(s, d).filter(col("vec_id") < 4)
      .select(col("vec_id").cast("long"), Similarity.asDouble(col("embedding")))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    Array.tabulate(4, 4)((sub, j) => rows(j).slice(sub * 16, (sub + 1) * 16))
  }

  /** Composed IVF-PQ index (cid, cl, codes), built once per dataset dir
    * from the memoized IVF centroids + PQ codebooks. */
  private[graft] val ivfPqIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Bench-side Bloom filters, built once per dataset dir — the bench
    * suite is fixed state like the IVF centroids; only the corpus-side
    * prefilter+verify runs per query. */
  private[graft] val benchBlooms =
    new java.util.concurrent.ConcurrentHashMap[String, NearDup.ShingleBloom]()

  /** Fixed 4-dim Mahalanobis model for `q_mahalanobis` — the fixed-model
    * oracle pattern (literal constants on both engine and SQL sides; a
    * fitted model's doubles would not survive literal round-tripping).
    * The precision matrix is symmetric and strictly diagonally dominant
    * with a positive diagonal ⇒ positive-definite, so scores are ≥ 0. */
  private[graft] val mahaMean: Seq[Double] = Seq(0.1, -0.05, 0.2, 0.0)
  private[graft] val mahaPrecision: Seq[Seq[Double]] = Seq(
    Seq(4.0, 1.0, 0.0, 0.5),
    Seq(1.0, 3.0, 0.5, 0.0),
    Seq(0.0, 0.5, 2.0, 0.25),
    Seq(0.5, 0.0, 0.25, 1.5))

  /** Trained quality-classifier weights (raw-feature space), one per
    * dataset dir — train-once/score-many; the model is d doubles. */
  private[graft] val lrModels =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  /** BPE merge tables, trained once per dataset dir (train-once/segment-many
    * — same contract as [[ivfIndexes]]; the merge list is model-scale). */
  private[graft] val bpeModels =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  /** Fixed BPE merge table for `q_bpe_segment_fixed` (rank order — the
    * fixed-model oracle pattern): literal merges over the corpus
    * vocabulary, including a CASCADE ((a,n) → (s,c) → (sc,an) builds the
    * whole word "scan") so rank re-selection after merged-symbol creation
    * is exercised. The table is PREFIX-CLOSED (every merged-symbol pair
    * ranks above its constituents — true of any trained table by
    * construction), which is what makes the DuckDB one-replace-per-step
    * recursion equivalent to the kernel's all-occurrences-per-step loop:
    * a partially-merged pair is still the min rank present, so the
    * recursion finishes it before touching the next rank. */
  private[graft] val fixedBpeMerges: Seq[(String, String)] = Seq(
    ("a", "n"), ("s", "c"), ("sc", "an"), ("e", "r"),
    ("o", "r"), ("t", "h"), ("r", "o"), ("l", "l"))

  /** PCA models, fitted once per dataset dir (fit-once/project-many — the
    * IVF train/search lesson; the model is dim²-scale, driver-resident). */
  private[graft] val pcaModels =
    new java.util.concurrent.ConcurrentHashMap[String, Pca.Model]()

  /** Fixed orthonormal 4×64 basis for `q_pca_project_fixed` — the
    * q_mahalanobis fixed-model pattern. Components are Sylvester-Hadamard
    * rows scaled to unit norm: entry = ±0.125 = ±1/√64 (a power of two,
    * so every product in the projection fold is an EXACT scaling and the
    * SQL replay is bit-identical); row b flips sign where bit b of the
    * axis index is set — pairwise dots cancel exactly (orthonormal, spec'd
    * in PcaSpec). Mean is a constant 0.05 per axis so centering is
    * exercised. Eigenvalues are placeholders (projection ignores them). */
  private[graft] val fixedPcaModel: Pca.Model = Pca.Model(
    mean = Array.fill(64)(0.05),
    components = Array.tabulate(4, 64)((b, k) =>
      if (((k >> b) & 1) == 1) -0.125 else 0.125),
    eigenvalues = Array(1.0, 1.0, 1.0, 1.0))

  /** Streaming events source for the §2.8 entries. The streaming file source
    * wants a directory: symlink the single parquet file into a STABLE
    * per-sfDir temp dir (zero-copy; a fresh temp dir per run would
    * accumulate dirs in /tmp for every bench/verify run — the disk twin of
    * the memory-sink leak handled in [[runAvailableNow]]). */
  private[graft] def streamingEvents(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_stream_src_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
    java.nio.file.Files.createDirectories(dir)
    val link = dir.resolve("events.parquet")
    // repair a dangling link (target moved since a previous session);
    // a concurrent repairer may win the delete — that's fine
    if (java.nio.file.Files.exists(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
        !java.nio.file.Files.exists(link))
      java.nio.file.Files.deleteIfExists(link)
    if (!java.nio.file.Files.exists(link,
        java.nio.file.LinkOption.NOFOLLOW_LINKS))
      try java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$d/events.parquet"))
      catch { // concurrent Bench/Verify both saw it absent — loser is fine
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    // the batch reader's schema, conf and UTC check; same ts normalization
    // as Tables.events: legacy nanos-as-long files floor-divide to micros,
    // micros files cast NTZ → session-zone TIMESTAMP
    val schema = Tables.eventsRawTyped(s, d).schema
    graft.engine.Tables.normalizeTs(
      s.readStream.schema(schema).parquet(dir.toString))
  }

  /** Container-variant synthetic-PNG media frame shared by the PNG queries
    * (q_media_png / q_media_png_resize): one valid PNG per doc — ids
    * cycling grayscale/RGB/RGBA (each exercising all five filter
    * predictors) and, every 4th id, a PALETTE (color-type-3) payload with
    * a seeded 16-color table, half of those carrying a tRNS alpha chunk —
    * the full decode matrix through the production rows-only path. Since
    * r12 the mix also cycles the two new decode classes: 16-BIT samples
    * (plain grayscale at id%8==4; RGBA sixteen-bit AND Adam7-interlaced
    * at id%8==6) and Adam7 INTERLACE (8-bit RGB at id%8==5; every other
    * palette payload). */
  private[graft] def pngMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
      def seeded16(n: Int): Array[Int] = Array.tabulate(n)(i =>
        ((java.lang.Long.rotateLeft(id * 0x9e3779b97f4a7c15L + 11,
          i % 57) >>> (i % 13)) & 0xffff).toInt)
      val payload = (id % 4) match {
        case 0 =>
          if (id % 8 == 4)
            Multimodal.Decoders.png16FromSamples(6, 5, 1, seeded16(30))
          else Multimodal.Decoders.syntheticPng(id, channels = 1)
        case 1 =>
          if (id % 8 == 5)
            Multimodal.Decoders.pngFromPixels(6, 5, 3,
              Array.tabulate(90)(i => (java.lang.Long.rotateLeft(
                id * 0x9e3779b97f4a7c15L, i % 61) >>> (i % 7)).toByte),
              interlaced = true)
          else Multimodal.Decoders.syntheticPng(id, channels = 3)
        case 2 =>
          if (id % 8 == 6)
            Multimodal.Decoders.png16FromSamples(6, 5, 4, seeded16(120),
              interlaced = true)
          else Multimodal.Decoders.syntheticPng(id, channels = 4)
        case _ =>
          val pal = Array.tabulate(48)(j => (java.lang.Long.rotateLeft(
            id * 0x9e3779b97f4a7c15L, j % 61) >>> (j % 7)).toByte)
          val idx = Array.tabulate(30)(i => ((java.lang.Long.rotateLeft(
            id * 0x9e3779b97f4a7c15L + 7, i % 59) >>> (i % 11)) & 15).toByte)
          val alpha = if (id % 8 == 3)
            Some(Array.tabulate(9)(a => (a * 28 + 3).toByte)) else None
          Multimodal.Decoders.palettePng(6, 5, pal, idx, alpha,
            bitDepth = if (id % 8 == 7) 4 else 8,
            interlaced = id % 16 >= 8)
      }
      Multimodal.MediaRecord(id, "image", payload)
    }.toDF()
  }

  /** Law-pixel PNG media shared by the fixed-model PNG twins
    * (q_png_fixed / q_png_resize_fixed): one valid 8×4 filter-0 PNG per
    * doc, channels cycling 1/3/4, every sample a pure SQL-expressible
    * integer function of (doc_id, interleaved index). Every 5th id lays
    * the SAME samples out as the seven Adam7 passes (NEW r12) — decoded
    * pixels are identical by law, so the one oracle pins the interlaced
    * deinterlace with zero oracle churn (the r11 depth-4 trick). */
  private[graft] def pngLawMedia(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
      val ch = (id % 3) match {
        case 0 => 1
        case 1 => 3
        case _ => 4
      }
      val n = 8 * 4 * ch.toInt
      Multimodal.MediaRecord(id, "image",
        Multimodal.Decoders.pngFromPixels(8, 4, ch.toInt,
          Array.tabulate(n)(i =>
            (((id * 2654435761L + i * 2246822519L) / 8) % 256).toByte),
          interlaced = id % 5 == 0))
    }.toDF()
  }

  /** Project the [w, h, channels, per-channel means…] image feature vector
    * into flat scalar columns (the rows-only comparator needs sortable
    * scalars); channels a payload lacks come back NULL. */
  private[graft] def imageFeatureCols(df: DataFrame): DataFrame =
    df.select(col("media_id"), col("n_bytes"),
      element_at(col("feature"), 1).as("width"),
      element_at(col("feature"), 2).as("height"),
      element_at(col("feature"), 3).as("channels"),
      element_at(col("feature"), 4).as("mean_c1"),
      // size guards keep ANSI element_at off the out-of-bounds path
      when(size(col("feature")) >= 5, element_at(col("feature"), 5))
        .as("mean_c2"),
      when(size(col("feature")) >= 6, element_at(col("feature"), 6))
        .as("mean_c3"),
      // RGBA payloads carry a 4th (alpha) channel mean — surface it too
      // so no computed feature element is silently dropped (ADVICE r9)
      when(size(col("feature")) >= 7, element_at(col("feature"), 7))
        .as("mean_c4"))

  /** Stable scratch directory of one write-then-read-back entry:
    * `tmpdir/graft_<tag>/<sfDir>`, wiped at the start of every call. A rerun
    * starts from an empty table and leaves at most one copy behind; a fresh
    * temp dir per call would grow the temp dir with every bench/verify
    * pass. Result frames read from this directory, so collect one before
    * the same entry runs again. */
  private[graft] def scratch(tag: String, d: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_" + tag, d.replaceAll("[^a-zA-Z0-9]", "_"))
    Sink.delete(dir.toFile)
    java.nio.file.Files.createDirectories(dir)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` at the state width of
    * every stream the engine starts, restoring the caller's value after.
    * State-store partitioning is fixed at stream START from the session's
    * shuffle partitions; 32 stores for these streams' few-KB state means
    * 32× the per-batch commit/snapshot file churn, so the width is 4 — a
    * per-stream knob on a real cluster. MEASURED r14: widening the
    * stream-stream JOIN rigs to 16 (their eviction batches burn ~1-2.4 s
    * of addBatch with 32 cores idle, so parallelism looked attractive)
    * regressed 2.7x (q_stream_interval_join 4.5->10.3 s steady). The cost
    * was per FILE, not per fsync: each store writes a delta (and now and
    * then a snapshot) with its `.crc` per batch, and the stock local FS
    * forked a `chmod` for every one (and the FileContext checkpoint
    * manager two `readlink`s per rename). [[SessionProfile]]'s no-fork
    * `file:` FS removed those forks; the width stays 4 until 4→16 is
    * re-measured without them. `body` must await termination: the stream
    * thread reads the conf when it plans batch 0, which happens after
    * start() returns. */
  private[graft] def atStateWidth[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run a streaming frame to completion under AvailableNow (append mode)
    * through a memory sink, keep the result, DROP the sink table, and
    * return the kept frame. Memory sinks hold every output row on the
    * driver for the session lifetime — a long-lived session (or the bench
    * JVM) would accumulate one resident table per run; the result must
    * outlive the sink, not pin it. */
  private[graft] def runAvailableNow(
      s: SparkSession, out: DataFrame, tag: String, d: String,
      project: DataFrame => DataFrame,
      mode: org.apache.spark.sql.streaming.OutputMode =
        graft.streaming.Streams.hourlySumMode): DataFrame = {
    val qname = s"graft_stream_${tag}_${streamRunCounter.incrementAndGet()}"
    atStateWidth(s) {
      out.writeStream.format("memory").queryName(qname)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    // result must outlive the dropped sink table: an EAGER localCheckpoint
    // moves the rows into executor blocks in one job (r13 — the previous
    // parquet spill + re-read paid a write job, a directory listing and a
    // fresh scan per streaming query for the same few-KB result); the
    // previous run's blocks are released so repeated runs don't leak
    val result = project(s.table(qname)).localCheckpoint(true)
    s.catalog.dropTempView(qname)
    val key = tag + "_" + d
    val prev = streamLastResult.put(key, result)
    if (prev != null) graft.engine.NearDup.releaseCheckpoint(prev)
    result
  }

  /** `ev` split at the start of its last day: (every earlier day, last day). */
  private[graft] def splitLastDay(ev: DataFrame): (DataFrame, DataFrame) = {
    val cut = ev.agg(date_trunc("day", max(col("ts")))).head.getTimestamp(0)
    (ev.filter(col("ts") < lit(cut)), ev.filter(col("ts") >= lit(cut)))
  }

  /** Two cron ticks against one persisted checkpoint — the scaffold of
    * every restart rig (daily_pv_automation.py:74-126: each run resumes
    * from persisted state and processes only NEW data). In the rig's
    * [[scratch]] dir, each tick appends its delivery as one parquet file to
    * the `src` file source, then runs `tick(newStream, ckpt, out)` at
    * [[atStateWidth]]: `newStream()` is a fresh stream over `src` (the
    * schema of `first`), `ckpt` the shared checkpoint, `out` the rig's
    * sink. Tick 2 resumes from tick 1's checkpoint and reads ONLY the new
    * file. `betweenTicks(out)` runs after tick 1. Returns `out`. */
  private[graft] def twoTicks(s: SparkSession, tag: String, d: String,
                       first: DataFrame, second: DataFrame,
                       betweenTicks: String => Unit = _ => ())(
                       tick: (() => DataFrame, String, String) => Unit): String = {
    val dir = scratch(tag, d)
    def at(name: String): String = dir.resolve(name).toString
    def run(delivery: DataFrame): Unit = {
      delivery.coalesce(1).write.mode("append").parquet(at("src"))
      atStateWidth(s)(tick(
        () => s.readStream.schema(first.schema).parquet(at("src")),
        at("ckpt"), at("out")))
    }
    run(first)
    betweenTicks(at("out"))
    run(second)
    at("out")
  }

  /** Drain a restart rig's stream into the parquet sink `path` (append
    * mode) under checkpoint `ckpt`. */
  private[graft] def drainToParquet(out: DataFrame, ckpt: String, path: String): Unit =
    out.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", ckpt)
      .outputMode(graft.streaming.Streams.hourlySumMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()

  /** Two-run checkpointed streaming restart — the reference's actual
    * cron-incremental contract (daily_pv_automation.py:74-126: each run
    * resumes from persisted state and processes only NEW data;
    * nambu_backfill.py:161-182 late-day refetch). Run 1 streams every day
    * BEFORE the last through [[graft.streaming.Streams.hourlySumStream]]
    * into a parquet file sink with a persistent checkpoint; run 2 — the
    * "next cron tick", against the SAME checkpoint — sees only the appended
    * final-day file and must emit exactly the windows newly closed by the
    * advanced watermark, with boundary-window totals carrying run-1 state
    * (windows in the last 2 h before the day cut were in-flight at run-1
    * end; their sums span both runs). Returns run 2's emissions only:
    * append mode never re-emits a window, so (sink after run 2) anti-join
    * (sink after run 1) IS batch 2's output. Closed-form oracle = the batch
    * hourly rollup over ALL events restricted to windows with
    * `end ∈ (max_ts_before_cut − 2h, max_ts − 2h]`. */
  private[graft] def runRestart(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("ts"), col("event_type"), col("value"))
    val (before, lastDay) = splitLastDay(ev)
    // snapshot of run-1 emissions (empty-safe: a <2-day corpus emits none)
    def snapshot(sink: String): Unit =
      scala.util.Try(s.read.parquet(sink).select("bucket", "grp")).toOption
        .getOrElse(ev.select(col("ts").as("bucket"),
          col("event_type").as("grp")).limit(0))
        .write.mode("overwrite").parquet(sink + "._snap")
    val out = twoTicks(s, "stream_restart", d, before, lastDay, snapshot) {
      (stream, ckpt, sink) => drainToParquet(
        graft.streaming.Streams.hourlySumStream(stream(), "ts",
            col("event_type"), col("value"))
          .select(col("bucket"), col("grp"), round(col("total"), 2).as("total")),
        ckpt, sink)
    }
    s.read.parquet(out)
      .join(s.read.parquet(out + "._snap"), Seq("bucket", "grp"), "left_anti")
  }

  /** Two-run checkpointed LEFT OUTER stream-stream interval join — outer
    * (NULL-padded) rows can only be emitted by a batch whose watermark
    * proves no match will arrive, which is necessarily a batch AFTER the
    * left row's own. Run 1 streams every day before the last; run 2, on
    * the SAME checkpoint, sees only the appended final day — so inner
    * matches spanning the runs exercise checkpointed join state, and the
    * NULL emissions exercise watermark eviction across a restart. The
    * effective eviction threshold is the FINAL watermark: each AvailableNow
    * execution appends a trailing no-data batch after its last data batch
    * (spark.sql.streaming.noDataMicroBatches, default on), in which the
    * just-advanced watermark `wm = min(max l_ts, max r_ts) − lateness`
    * evicts-and-NULL-emits every unmatched left row with `l_ts < wm` (all
    * admissible right times `≤ l_ts` are then below the watermark; global
    * wm is the MIN across the two sides' watermarks). Closed-form oracle =
    * full inner interval join ∪ unmatched left rows below that final wm.
    * Boundary robustness is empirical, like the ANN argmax oracles: the
    * nearest unmatched click sits ≥ 67 s from wm at every testdata SF
    * (measured: 6281/647/68 s at sf0.001/0.01/0.1), so the engine's ±1 ms
    * state-watermark adjustment cannot flip a row. Cross-run matches (run-2 left ⋈ run-1 right state) are
    * covered: right state above run-1's watermark survives run 1. */
  private[graft] def runLeftJoinRestart(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("ts"), col("event_type"), col("user_id"), col("event_id"))
    val (before, lastDay) = splitLastDay(ev)
    s.read.parquet(twoTicks(s, "stream_loj", d, before, lastDay) {
      (stream, ckpt, sink) =>
        val left = stream().filter(col("event_type") === "click")
          .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
            col("event_id").as("l_id"))
        val right = stream().filter(col("event_type") === "view")
          .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
            col("event_id").as("r_id"))
        drainToParquet(graft.streaming.Streams.leftOuterIntervalJoinStreams(
            left, "l_user", "l_ts", right, "r_user", "r_ts")
          .select(col("l_id"), col("r_id")), ckpt, sink)
    })
  }

  /** Two-tick cron rig for the foreachBatch upsert sink
    * ([[graft.streaming.Streams.upsertSink]]): tick 1 streams every day
    * before the last into the keyed table, tick 2 (same checkpoint) merges
    * only the final day. Day-split ordering makes the fold equal the
    * global keep-last per key under (ts, event_id) — the closed form. */
  private[graft] def runStreamUpsert(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id").as("k"), col("ts"),
      col("event_id"), round(col("value"), 2).as("v"))
    val (before, lastDay) = splitLastDay(ev)
    s.read.parquet(twoTicks(s, "stream_upsert", d, before, lastDay) {
      (stream, ckpt, tbl) => graft.streaming.Streams.upsertSink(
        stream(), tbl, ckpt, Seq("k"), Seq("ts", "event_id"))
    }).select(col("k"), col("event_id"), col("v"))
  }

  /** E1 streaming ingestion rig (VERDICT r9 missing #3): two cron ticks of
    * wide daily-PV deliveries through [[graft.streaming.Streams
    * .meltIngestSink]]. Tick 1 delivers every day < 2024-01-20 plain;
    * tick 2 re-delivers days >= 2024-01-15 CORRECTED (values doubled) —
    * the overlap exercises the idempotent day overwrite and the second run
    * exercises checkpoint restart (only the new file is melted). Each
    * delivered file carries complete days, honoring the sink's
    * day-complete contract. The transform is stateless, so the final table
    * equals the batch closed form: per-hour sums, doubled from Jan 15 on —
    * the oracle. */
  private[graft] def runStreamMeltIngest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def wide(f: DataFrame): DataFrame =
      Unpivot.pivotByHour(f, col("ts"), col("event_type"), col("value"))
    val out = twoTicks(s, "stream_melt", d,
      wide(ev.filter(to_date(col("ts")) < lit("2024-01-20"))),
      wide(ev.filter(to_date(col("ts")) >= lit("2024-01-15"))
        .withColumn("value", col("value") * 2))) {
      (stream, ckpt, tbl) => graft.streaming.Streams.meltIngestSink(stream(),
        b => Unpivot.meltHours(b, Seq("ymd", "grp"), Unpivot.hourNames)
          .filter(col("generation").isNotNull) // P5 dropna, as the reference
          .select(col("grp"),
            Unpivot.tsZeroBased(col("ymd"), col("hour_col")).as("ts"),
            round(col("generation"), 2).as("total")),
        "ts", tbl, ckpt)
    }
    s.read.parquet(out).select(col("grp"), col("ts"), col("total"))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A9 top-K revenue (piechart panel, pv_dashboard.json). */
  def entry(spark: SparkSession): DataFrame =
    Analytics.topKByGroup(
      Tables.lineitem(spark, "/root/testdata/sf0.001"),
      col("l_suppkey"), col("l_extendedprice") * (lit(1) - col("l_discount")), 10)

  /** Every query, defined once in its tier file under `graft/registry`. */
  private[graft] lazy val defs: Seq[QueryDef] =
    registry.AnalyticsQueries.defs ++ registry.RelationalQueries.defs ++
      registry.SqlSurfaceQueries.defs ++ registry.TextQueries.defs ++
      registry.NearDupQueries.defs ++ registry.SimilarityQueries.defs ++
      registry.MediaQueries.defs ++ registry.SinkQueries.defs ++
      registry.StreamQueries.defs

  /** name → plan, built once per JVM. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.run).toMap

  /** name → DuckDB SQL over the same parquet tables (see Verify): an
    * `Oracle`'s own text, a `SameAs` its twin's text verbatim; `RowsOnly`
    * queries have none. Built once per JVM. */
  lazy val oracleSql: Map[String, String] = {
    val own = defs.collect { case QueryDef(name, _, Oracle(sql)) => name -> sql }
      .toMap
    own ++ defs.collect { case QueryDef(name, _, SameAs(twin)) =>
      name -> own.getOrElse(twin, throw new IllegalStateException(
        s"[graft] $name is SameAs($twin), but $twin holds no Oracle"))
    }
  }
}
