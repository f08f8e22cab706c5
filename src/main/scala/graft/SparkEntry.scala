package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` realizes one operator from SURVEY.md §2 (ID in the
  * name's comment), re-expressed over the TPC-H-ish testdata tables.
  * `oracleSql` carries the DuckDB-equivalent SQL; aggregate/computed columns
  * are aliased identically on both sides (the driver sorts columns by name
  * before hashing). Aggregated doubles are rounded on both sides so that
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
    * Training cost is measured separately by `tools.IvfTrainBench`. */
  private val ivfIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], DataFrame)]()

  private def ivfIndex(s: SparkSession, d: String): (Array[Array[Double]], DataFrame) =
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
  private def fixedCodebook(s: SparkSession, d: String): Array[Array[Double]] =
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

  private def pqIndex(s: SparkSession, d: String)
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
  private def fixedPqCodebook(s: SparkSession, d: String)
      : Array[Array[Array[Double]]] = {
    val rows = Tables.embeddings(s, d).filter(col("vec_id") < 4)
      .select(col("vec_id").cast("long"), Similarity.asDouble(col("embedding")))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    Array.tabulate(4, 4)((sub, j) => rows(j).slice(sub * 16, (sub + 1) * 16))
  }

  /** Composed IVF-PQ index (cid, cl, codes), built once per dataset dir
    * from the memoized IVF centroids + PQ codebooks. */
  private val ivfPqIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Bench-side Bloom filters (serialized sketch bytes), built once per
    * dataset dir — the bench suite is fixed state like the IVF centroids;
    * only the corpus-side prefilter+verify runs per query. */
  private val benchBlooms =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  /** Fixed 4-dim Mahalanobis model for `q_mahalanobis` — the fixed-model
    * oracle pattern (literal constants on both engine and SQL sides; a
    * fitted model's doubles would not survive literal round-tripping).
    * The precision matrix is symmetric and strictly diagonally dominant
    * with a positive diagonal ⇒ positive-definite, so scores are ≥ 0. */
  private val mahaMean: Seq[Double] = Seq(0.1, -0.05, 0.2, 0.0)
  private val mahaPrecision: Seq[Seq[Double]] = Seq(
    Seq(4.0, 1.0, 0.0, 0.5),
    Seq(1.0, 3.0, 0.5, 0.0),
    Seq(0.0, 0.5, 2.0, 0.25),
    Seq(0.5, 0.0, 0.25, 1.5))

  /** Trained quality-classifier weights (raw-feature space), one per
    * dataset dir — train-once/score-many; the model is d doubles. */
  private val lrModels =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  /** BPE merge tables, trained once per dataset dir (train-once/segment-many
    * — same contract as [[ivfIndexes]]; the merge list is model-scale). */
  private val bpeModels =
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
  private val fixedBpeMerges: Seq[(String, String)] = Seq(
    ("a", "n"), ("s", "c"), ("sc", "an"), ("e", "r"),
    ("o", "r"), ("t", "h"), ("r", "o"), ("l", "l"))

  /** PCA models, fitted once per dataset dir (fit-once/project-many — the
    * IVF train/search lesson; the model is dim²-scale, driver-resident). */
  private val pcaModels =
    new java.util.concurrent.ConcurrentHashMap[String, Pca.Model]()

  /** Fixed orthonormal 4×64 basis for `q_pca_project_fixed` — the
    * q_mahalanobis fixed-model pattern. Components are Sylvester-Hadamard
    * rows scaled to unit norm: entry = ±0.125 = ±1/√64 (a power of two,
    * so every product in the projection fold is an EXACT scaling and the
    * SQL replay is bit-identical); row b flips sign where bit b of the
    * axis index is set — pairwise dots cancel exactly (orthonormal, spec'd
    * in PcaSpec). Mean is a constant 0.05 per axis so centering is
    * exercised. Eigenvalues are placeholders (projection ignores them). */
  private val fixedPcaModel: Pca.Model = Pca.Model(
    mean = Array.fill(64)(0.05),
    components = Array.tabulate(4, 64)((b, k) =>
      if (((k >> b) & 1) == 1) -0.125 else 0.125),
    eigenvalues = Array(1.0, 1.0, 1.0, 1.0))

  /** Streaming events source for the §2.8 entries. The streaming file source
    * wants a directory: symlink the single parquet file into a STABLE
    * per-sfDir temp dir (zero-copy; a fresh temp dir per run would
    * accumulate dirs in /tmp for every bench/verify run — the disk twin of
    * the memory-sink leak handled in [[runAvailableNow]]). */
  private def streamingEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
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
    val schema = Tables.parquet(s, s"$d/events.parquet").schema
    // same ts normalization as Tables.events: legacy nanos-as-long files
    // floor-divide to micros; micros files cast NTZ → session-zone TIMESTAMP
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
  private def pngMedia(s: SparkSession, d: String): DataFrame = {
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
  private def pngLawMedia(s: SparkSession, d: String): DataFrame = {
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
  private def imageFeatureCols(df: DataFrame): DataFrame =
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
  private def scratch(tag: String, d: String): java.nio.file.Path = {
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
    * regressed 2.7x (q_stream_interval_join 4.5->10.3 s steady) — the
    * HDFS-backed store pays per-store-per-batch snapshot/commit fsyncs
    * that swamp the gained parallelism at local-disk latencies. `body`
    * must await termination: the stream thread reads the conf when it
    * plans batch 0, which happens after start() returns. */
  private def atStateWidth[T](s: SparkSession)(body: => T): T = {
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
  private def splitLastDay(ev: DataFrame): (DataFrame, DataFrame) = {
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
  private def twoTicks(s: SparkSession, tag: String, d: String,
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
  private def drainToParquet(out: DataFrame, ckpt: String, path: String): Unit =
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
  private def runRestart(s: SparkSession, d: String): DataFrame = {
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
  private def runLeftJoinRestart(s: SparkSession, d: String): DataFrame = {
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
  private def runStreamUpsert(s: SparkSession, d: String): DataFrame = {
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
  private def runStreamMeltIngest(s: SparkSession, d: String): DataFrame = {
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

  import Tables._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Aggregations (SURVEY §2.4) ----
    // A9 top-K by aggregate (Grafana piechart: GROUP BY plant ORDER BY SUM DESC LIMIT 10)
    "q_topk_revenue" -> ((s, d) =>
      Analytics.topKByGroup(lineitem(s, d), col("l_suppkey"),
        col("l_extendedprice") * (lit(1) - col("l_discount")), 10)),
    // Exact heavy hitters via Misra-Gries sketch + candidate recount: the
    // derived key is two populations — 20 hot keys holding most of the mass
    // and a ~7919-key uniform cold tail — so the sketch (capacity 667 for
    // share=3000ppm) MUST evict constantly, and the MG superset guarantee is
    // what makes the exact recount complete. Oracle is the plain
    // GROUP BY ... HAVING over the same derived key: the sketch is plan
    // surgery, the answer is exact.
    "q_heavy_hitters" -> ((s, d) =>
      Analytics.heavyHitters(
        lineitem(s, d).select(
          when(col("l_linenumber") <= 3,
            concat(lit("hot_"), col("l_orderkey") % 20))
            .otherwise(concat(lit("cold_"), col("l_orderkey") % 7919))
            .as("k")),
        col("k"), 3000L)),
    // A6 sum by group + hourly time bucket (Grafana timeseries panel)
    "q_hourly_by_type" -> ((s, d) =>
      Analytics.sumByTimeBucket(events(s, d), col("ts"), col("event_type"),
        col("value"))),
    // A6 in KST — every reference dashboard panel buckets AT TIME ZONE
    // 'Asia/Seoul' (pv_dashboard.json); session TZ stays UTC throughout
    "q_hourly_kst" -> ((s, d) =>
      Analytics.sumByTimeBucketTz(events(s, d), col("ts"), col("event_type"),
        col("value"), "hour", "Asia/Seoul", "UTC")),
    // A4 per-key high-watermark (daily_pv_automation.py:79-87)
    "q_watermark" -> ((s, d) =>
      Analytics.highWatermark(events(s, d), Seq(col("user_id").as("grp")),
        col("ts"), col("event_type"))),
    // A5 day-completeness probe (daily_pv_automation.py:52-71)
    "q_day_completeness" -> ((s, d) =>
      Analytics.dayCompleteness(events(s, d), col("ts"), 24)),
    // A1 historical mean on (month,day,hour) (impute_missing.py:101-129)
    "q_hist_mean_mdh" -> ((s, d) =>
      Analytics.historicalMeanByMDH(events(s, d), col("event_type"),
        col("ts"), col("value"))),
    // A2 global stats: mean/stddev/null-count (impute_missing.py:240-257)
    "q_global_stats" -> ((s, d) =>
      events(s, d).agg(
        round(avg("value"), 6).as("mean_v"),
        round(stddev_samp("value"), 6).as("std_v"),
        sum(when(col("value").isNull, 1).otherwise(0)).as("n_null"),
        count(lit(1)).as("n_rows"))),
    // A3 group-by count-distinct (namdong_merge_pv_data.py:95-96)
    "q_countdistinct_by_group" -> ((s, d) =>
      events(s, d).groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).as("n_users"))),
    // A7/P7 global sum over a timestamp range (Grafana stat panel) —
    // range-pruned at the scan via eventsRange (raw-long pushdown)
    "q_sum_over_range" -> ((s, d) =>
      Tables.eventsRange(s, d, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
        .agg(round(sum("value"), 2).as("total"), count(lit(1)).as("n"))),
    // A8/A11 global count-distinct + distinct values
    "q_distinct_types" -> ((s, d) =>
      events(s, d).select(col("event_type").as("t")).distinct()),
    // A10-family: exact per-group percentiles (dashboard latency panels);
    // the mergeable-sketch twin is spec'd vs this exact form (oracled)
    "q_percentiles" -> ((s, d) =>
      Analytics.percentilesByGroup(events(s, d), col("event_type"),
        col("value"))),
    // ordered funnel: view → click → purchase per user, stage i+1 counted
    // only at-or-after the user's stage-i time; integer-ppm conversions
    "q_funnel" -> ((s, d) =>
      Analytics.funnel(events(s, d), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase"))),
    // retention cohorts: first-activity-day cohorts × whole-week offsets —
    // integer day-diff//7, no calendar-week-convention ambiguity
    "q_retention" -> ((s, d) =>
      Analytics.retentionCohorts(events(s, d), col("user_id"), col("ts"))),
    // winsorization: clamp values at per-group exact p05/p95 — integer-cent
    // compares, so no float boundary on the clamp (oracled)
    "q_winsorize" -> ((s, d) =>
      Analytics.winsorizeByGroup(
          events(s, d).select(col("event_id").as("id"),
            col("event_type").as("grp"), col("value")),
          col("grp"), col("value"), 0.05, 0.95)
        .select(col("id"), col("grp"), col("v_cents"))),
    // Fixed-iteration damped PageRank over the supplier→customer→nation
    // link graph (crawl-authority ranking for corpus curation, made
    // deterministic: ppb ranks, BIGINT floor arithmetic, 3 rounds —
    // replayed CTE-for-CTE in DuckDB)
    "q_pagerank" -> ((s, d) => {
      val sc = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("c"), col("o_custkey")).as("dst"))
      val cn = customer(s, d)
        .select(concat(lit("c"), col("c_custkey")).as("src"),
          concat(lit("n"), col("c_nationkey")).as("dst"))
      Graph.pageRank(sc.unionByName(cn), col("src"), col("dst"))
    }),
    // dangling-mass-redistribution PageRank (the textbook variant): each
    // round the rank mass on no-out-edge nodes floor-splits across all
    // nodes and joins the contribution term — still all-BIGINT, replayed
    // CTE-for-CTE at iters=2 (the dangling sum is a one-row aggregate)
    "q_pagerank_dangling" -> ((s, d) => {
      val sc = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("c"), col("o_custkey")).as("dst"))
      val cn = customer(s, d)
        .select(concat(lit("c"), col("c_custkey")).as("src"),
          concat(lit("n"), col("c_nationkey")).as("dst"))
      Graph.pageRank(sc.unionByName(cn), col("src"), col("dst"), iters = 2,
        redistributeDangling = true)
    }),
    // HITS hubs & authorities over the same link graph — the second
    // classic crawl-authority signal (Kleinberg 1999): fixed 2 iterations,
    // ppb integer scores, max-rescale per half-step — all BIGINT floor
    // arithmetic, replayed CTE-for-CTE in DuckDB
    "q_hits" -> ((s, d) => {
      val sc = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("c"), col("o_custkey")).as("dst"))
      val cn = customer(s, d)
        .select(concat(lit("c"), col("c_custkey")).as("src"),
          concat(lit("n"), col("c_nationkey")).as("dst"))
      Graph.hits(sc.unionByName(cn), col("src"), col("dst"), iters = 2)
    }),
    // Incremental MV maintenance: prior rollup STATE + the new days' delta
    // merge into exactly the state a full rebuild produces — the corpus is
    // never re-read (both inputs are range-PRUNED scans via eventsRange).
    // Integer micro-unit state, exact floor mean derived at read time.
    "q_incr_state" -> ((s, d) => {
      def keys = Seq(to_date(col("ts")).as("day"), col("event_type").as("grp"))
      val prev = MatView.aggState(
        Tables.eventsRange(s, d, "2024-01-01 00:00:00", "2024-01-25 00:00:00"),
        keys, col("value"))
      val delta = MatView.aggState(
        Tables.eventsRange(s, d, "2024-01-25 00:00:00", "2030-01-01 00:00:00"),
        keys, col("value"))
      MatView.withMean(MatView.mergeStates(Seq(prev, delta), Seq("day", "grp")))
    }),
    // Incrementally-maintained percentiles: day-sliced histogram STATES
    // (range-pruned scans) merge into the month, then the quantile read
    // boundary — p25/p50/p90/p99 per event type, exact to one bucket
    // width, all integer. The slicing is invisible in the result (merge
    // law), so the oracle replays the one-shot math (oracled)
    "q_quantile_state" -> ((s, d) => {
      def keys = Seq(col("event_type").as("grp"))
      val a = MatView.histState(
        Tables.eventsRange(s, d, "2024-01-01 00:00:00", "2024-01-16 00:00:00"),
        keys, col("value"), 0L, 100000L, 1000)
      val b = MatView.histState(
        Tables.eventsRange(s, d, "2024-01-16 00:00:00", "2030-01-01 00:00:00"),
        keys, col("value"), 0L, 100000L, 1000)
      MatView.quantilesFromHistState(
        MatView.mergeHistStates(Seq(a, b), Seq("grp")), Seq("grp"),
        Seq(250000L, 500000L, 900000L, 990000L), 0L, 100000L, 1000)
    }),
    // Data-quality expectation suite: all row rules ride ONE full-scan
    // aggregate; each uniqueness rule is one keyed shuffle (count-surplus).
    // The composite-key rule fails by design (32 surplus rows at sf0.01) —
    // a gate that can't fail verifies nothing.
    "q_expectations" -> ((s, d) =>
      Expectations.check(orders(s, d),
        rowRules = Seq(
          "not_null:o_custkey" -> col("o_custkey").isNull,
          "in_set:o_orderstatus" -> !col("o_orderstatus").isin("O", "F", "P"),
          "range:o_totalprice" ->
            (col("o_totalprice") < 0 || col("o_totalprice") > 450000)),
        uniqueRules = Seq(
          "unique:o_orderkey" -> Seq("o_orderkey"),
          "unique:o_custkey,o_orderdate" -> Seq("o_custkey", "o_orderdate")))),
    // Blocked fuzzy record linkage over the part-name dictionary: distinct
    // names first (exact dupes are Dedup's job — raw pairing squares the
    // output), first-token blocking, length band, Levenshtein ≤ 4 (the
    // noun vocabulary's nearest in-block neighbors sit at distance 3)
    "q_record_linkage" -> ((s, d) =>
      Joins.blockedLinkage(part(s, d), col("p_partkey"), col("p_name"),
        n => split(n, " ").getItem(0), 4)),
    // Rolling 7-day MEDIAN baseline per type at the daily grain (twice the
    // median so the even-window .5 stays integer); RANGE frame over the
    // day index — calendar gaps shrink the window, never widen it
    "q_rolling_median" -> ((s, d) =>
      Analytics.rollingMedianDaily(events(s, d), col("event_type"),
        col("ts"), col("value"), 7)),
    // Per-group feature scaling: percent-rank (rank(), ties shared) and
    // min-max, both integer ppm over cents — the ML-prep normalization pair
    "q_feature_scaling" -> ((s, d) =>
      Analytics.featureScaling(events(s, d), col("event_id"),
        col("event_type"), col("value"))),
    // Generic per-group top-N rows via the BoundedTopK partial aggregate —
    // the window-rerank idiom without its per-group sort (bit-exact ties)
    "q_topn_per_group" -> ((s, d) =>
      Analytics.topNRowsPerGroup(events(s, d), col("event_type"),
        col("value"), col("event_id"), 5)),
    // Additive seasonal decomposition y = trend + seasonal + residual at
    // the hourly grain: ±12 h RANGE-frame trend, per-(type, hour-of-day)
    // seasonal profile, Euclidean floor means — all integer micro-units
    "q_seasonal_decompose" -> ((s, d) =>
      Forecast.seasonalDecompose(events(s, d), col("event_type"), col("ts"),
        col("value"))),
    // Daily-series autocorrelation at lags 1/2/7 per event type: the
    // persistence/weekly-cycle probe for lag-feature selection. Integer
    // ppm via n-scaled centering; DECIMAL stays internal (oracled)
    "q_acf" -> ((s, d) =>
      Forecast.acfByKey(events(s, d), col("event_type"), col("ts"),
        col("value"), Seq(1, 2, 7))),
    // CUSUM level-shift monitor: prefix-sum-minus-running-min closed form
    // of the textbook clamped recursion, slack/alarm self-scaled in the
    // series' own mean absolute deviation — all BIGINT cents (oracled)
    "q_cusum" -> ((s, d) =>
      Forecast.cusumChangepoints(events(s, d), col("event_type"), col("ts"),
        col("value"), hMult = 3)),
    // Integer OLS trend per event type: micro-cents/day slope, per-key
    // centered day index, DECIMAL-internal moments → BIGINT out (oracled)
    "q_trend_slope" -> ((s, d) =>
      Forecast.trendSlopeByKey(events(s, d), col("event_type"), col("ts"),
        col("value"))),
    // Calendar-correct lag-feature export: day−1/day−7 RANGE-frame lags
    // (gaps yield NULL, never a misaligned row), exact trailing-week
    // (sum, n), ISO day-of-week — the forecaster training table (oracled)
    "q_lag_features" -> ((s, d) =>
      Forecast.lagFeatures(events(s, d), col("event_type"), col("ts"),
        col("value"))),
    // Theil–Sen robust trend: median of pairwise slopes (micro-cents/day,
    // sign-split integer quantization, twice-median so even-count
    // interpolation stays integer) — outlier-resistant OLS twin (oracled)
    "q_theil_sen" -> ((s, d) =>
      Forecast.theilSenSlopeByKey(events(s, d), col("event_type"),
        col("ts"), col("value"))),
    // Bounded forward fill at the per-user daily grain: dense calendar
    // spine per user, carry ≤ 3 days — silent-beyond-horizon days stay
    // NULL; ROWS frame == calendar horizon because the spine is dense
    "q_locf" -> ((s, d) =>
      Impute.locfBounded(events(s, d), col("user_id"), col("ts"),
        col("value"), horizonDays = 3)),
    // Demand-response 10-in-10 baseline: per (type, hour), mean of the
    // previous 10 same-hour WEEKDAY observations (ROWS frame — holidays
    // reach back, never shrink the sample); actual/baseline ppm (oracled)
    "q_dr_baseline" -> ((s, d) =>
      Forecast.drBaseline(events(s, d), col("event_type"), col("ts"),
        col("value"), nDays = 10)),
    // Pairwise Spearman rank correlation of the type-level daily series:
    // all-integer rank statistic (doubled average ranks — no sqrt, no
    // float boundary), pairs aligned on common days only (oracled)
    "q_spearman" -> ((s, d) =>
      Forecast.spearmanCrossCorr(events(s, d), col("event_type"),
        col("ts"), col("value"))),
    // degree-day weather sensitivity (IPMVP Option C simple regression):
    // daily load cents per type vs the 'view' series as the DECLARED
    // temperature proxy, hdd/cdd split at 150.00 units; integer OLS
    // slopes — decimal moments internal, sign-split division (the
    // trendSlope contract; oracled)
    "q_degree_day" -> ((s, d) => {
      val ev = events(s, d)
      Forecast.degreeDaySensitivity(
        ev.filter(col("event_type") =!= "view"), col("event_type"),
        col("ts"), col("value"),
        ev.filter(col("event_type") === "view"), col("ts"), col("value"),
        baseCents = 15000L)
    }),
    // Per-user load-factor / peak-coincidence scorecard: mean/peak ppm +
    // share of own peak drawn on the system peak day (deterministic
    // struct-max argmax, min-day tiebreak) — all integer (oracled)
    "q_load_factors" -> ((s, d) =>
      Analytics.loadFactors(events(s, d), col("user_id"), col("ts"),
        col("value"))),
    // Mix-diversity monitor: Shannon entropy (ppm shares, micro-nat ln)
    // of each day's event-type mix — collapse of a day's diversity is the
    // corpus-mix alarm
    "q_mix_entropy" -> ((s, d) =>
      Analytics.mixEntropy(
        events(s, d).select(to_date(col("ts")).as("day"), col("event_type")),
        col("day"), col("event_type"))),
    // Markov transition matrix: which event type follows which, per-user
    // ordered streams under the (ts, event_id) total order — state²-sized
    // output from one window shuffle
    "q_transitions" -> ((s, d) =>
      Analytics.transitionCounts(events(s, d), col("user_id"), col("ts"),
        col("event_id"), col("event_type"))),
    // Distribution-drift monitor (PSI): value distribution of the first
    // half of January vs the second, per type, over the histogram's
    // declared buckets — ppm shares with a 1-ppm floor, micro-nat ln terms
    "q_drift_psi" -> ((s, d) =>
      Analytics.psiByGroup(
        Tables.eventsRange(s, d, "2024-01-01 00:00:00", "2024-01-16 00:00:00"),
        Tables.eventsRange(s, d, "2024-01-16 00:00:00", "2030-01-01 00:00:00"),
        col("event_type"), col("value"), 0L, 20000L, 20)),
    // Hashing-trick featurization: fixed 64-slot space, no vocabulary pass,
    // cross-engine md5 slots — sparse (doc, slot, cnt) long form
    "q_hash_features" -> ((s, d) =>
      TextOps.hashFeatures(documents(s, d), col("doc_id"), col("text"), 64)),
    // Equi-width histogram over a declared [0, 200.00) cent range, 20
    // buckets — one partial-agg pass, clamped integer bucket arithmetic
    "q_histogram" -> ((s, d) =>
      Analytics.histogram(events(s, d), col("event_type"), col("value"),
        0L, 20000L, 20)),
    // Equi-depth bins (per-group ntile under the (value, id) total order) —
    // the ML feature-binning twin: equal counts per bin, group-bounded sort
    "q_equidepth_bins" -> ((s, d) =>
      Analytics.equiDepthBins(events(s, d), col("event_type"), col("value"),
        col("event_id"), 10)),
    // Runtime-filter selective join: the nation-3 customer sliver condenses
    // to a Bloom filter; the codegen'd might-contain probe prefilters the
    // orders scan map-side so only the sliver enters the join shuffle.
    // Exact: FPs die in the join — the oracle is the plain join.
    "q_bloom_join" -> ((s, d) => {
      val dim = customer(s, d).filter(col("c_nationkey") === 3)
        .select(col("c_custkey"), col("c_nationkey"))
      Joins.bloomPrefilteredJoin(
        orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("o_custkey"), dim, col("c_custkey"),
        expectedDistinct = 10000L)
        .select(col("o_orderkey"), col("c_custkey"))
    }),
    // Multi-generation schema-drift ingest: two simulated feed generations
    // (one missing event_type + carrying an extra column, one with value
    // serialized as string) conform BY NAME to one target schema — typed
    // NULLs for missing columns, extras dropped, casts per field; map-only
    // per input, then union.
    "q_conform_union" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val target = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val genA = events(s, d).filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("value"), col("props"))
      val genB = events(s, d).filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("event_type"),
          col("value").cast("string").as("value"))
      Ingest.conformUnion(Seq(genA, genB), target)
    }),
    // Gap-filled 15-minute resample: corpus → (type, bucket) grain in one
    // partial-agg pass; the dense grid (keys × sequence) is grid-sized and
    // left-joins the grain with zero fill — missing intervals become
    // explicit (0.0, 0) rows, the dense-series contract downstream
    // imputers/models need.
    "q_resample_fill" -> ((s, d) =>
      Analytics.resampleFill(events(s, d), col("event_type"), col("ts"),
        col("value"), 900L, "2024-01-01 00:00:00", "2024-01-30 23:45:00")),
    // Referential-integrity gate rows (dbt relationships): the orderkey FK
    // holds; the supplier FK is checked against a RESTRICTED dim so it
    // fails by design — one key join + one-row aggregate per rule
    "q_expectations_fk" -> ((s, d) =>
      Expectations.checkFk(lineitem(s, d), col("l_orderkey"), orders(s, d),
          col("o_orderkey"), "fk:l_orderkey->orders")
        .unionByName(Expectations.checkFk(lineitem(s, d), col("l_suppkey"),
          supplier(s, d).filter(col("s_nationkey") < 20), col("s_suppkey"),
          "fk:l_suppkey->supplier[nation<20]"))),
    // Backtest of the reference's historical-mean forecaster: per (type,
    // day, hour) cell, the prediction is the expanding mean over STRICTLY
    // earlier days (no leakage); exact integer micro-units throughout. The
    // corpus collapses to the grain in one partial-agg pass; the window
    // runs over grain-sized data only.
    "q_forecast_backtest" -> ((s, d) =>
      Forecast.backtestHistMean(events(s, d), col("event_type"), col("ts"),
        col("value"))),
    // per-key scorecard over the backtest: cells scored + floor MAE
    "q_forecast_mae" -> ((s, d) =>
      Forecast.maeByKey(Forecast.backtestHistMean(events(s, d),
        col("event_type"), col("ts"), col("value")))),
    // Mergeable distinct-count rollup: daily HLL sketch STATE per type,
    // merged to the whole range and estimated only at the read boundary —
    // the non-additive MV pattern (daily sketch tables make COUNT DISTINCT
    // maintainable without corpus re-reads). Rows-only: Datasketches
    // registers aren't SQL-replayable; merge laws are spec'd (MatViewSpec).
    "q_sketch_rollup" -> ((s, d) => {
      val daily = MatView.distinctSketchState(events(s, d),
        Seq(col("event_type").as("grp"), to_date(col("ts")).as("day")),
        col("user_id"))
      MatView.sketchEstimate(
        MatView.mergeDistinctSketches(Seq(daily), Seq("grp")))
    }),

    // Semi-structured JSON extraction: events.props is a JSON payload
    // column; parse with an EXPLICIT schema (map-only codegen'd from_json —
    // inference is sample-bounded via Ingest.inferJsonSchema, never a
    // full-corpus scan) and aggregate on the extracted typed field.
    "q_json_extract" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      Ingest.withJsonFields(
        events(s, d).select(col("event_id"), col("value"), col("props")),
        "props", StructType(Seq(StructField("k", LongType))))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total"))
    }),

    // One-pass per-column dataset profile (row/null/distinct counts, numeric
    // min/max) — exact distincts here as the oracle twin; profileApprox
    // (HLL++, no Expand) is the corpus-scale default, spec'd against this.
    "q_profile" -> ((s, d) =>
      Analytics.profile(events(s, d),
        numericCols = Seq("event_id", "user_id", "value"),
        otherCols = Seq("event_type", "props"))),

    // Z-order (Morton) layout key over (user_id, micro-quantized value):
    // the multi-dimensional clustering index behind Sink.writeZOrdered's
    // file-skipping layout. All-integer shift/interleave math with FIXED
    // caller-declared pow-2 ranges (stable across appends) — bit-exact in
    // SQL. Prunability of the written layout is measured in SinkIngestSpec;
    // this oracles the index math itself row by row.
    "q_zorder" -> ((s, d) =>
      events(s, d).select(col("event_id"),
        Order.zValue(
          Seq(col("user_id"), floor(col("value") * 1e6).cast("long")),
          Seq((0L, 2047L), (0L, (1L << 30) - 1)), bits = 8).as("z"))),

    // ---- Filter/predicate suite (SURVEY §2.2: P5, P8, P9, P10) ----
    "q_filter_suite" -> ((s, d) =>
      orders(s, d)
        .na.drop(Seq("o_orderdate"))                                // P5
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))  // P8 isin
        .filter(!col("o_orderstatus").isin("X"))                    // P8 exclude
        .filter(Normalize.stripSeparators(                          // P9 strip-compare
          date_format(col("o_orderdate"), "yyyy-MM-dd")).startsWith("1996"))
        .filter(col("o_totalprice").isNotNull)                      // P10
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))),
    // P6 predicate on a group-agg result: keys active since a cutoff
    "q_active_keys" -> ((s, d) =>
      Analytics.highWatermark(events(s, d), Seq(col("user_id").as("grp")),
          col("ts"), col("event_type"))
        .filter(col("last_ts") >= lit("2024-01-25"))),

    // ---- Joins (SURVEY §2.3) ----
    // J5 left join with range condition in ON + COALESCE(SUM,0) (geomap panel)
    "q_dim_activity_range" -> ((s, d) => {
      val li = lineitem(s, d)
      Analytics.dimWithRangeActivity(
        supplier(s, d), col("s_suppkey"), li, col("l_suppkey"),
        col("l_shipdate"), col("l_extendedprice"),
        lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
    }),
    // J5 full geomap shape: dim attrs (lat/lon stand-ins) carried through the
    // agg, IS NOT NULL on a dim attr (pv_dashboard.json geomap panel)
    "q_geomap_activity" -> ((s, d) => {
      val li = lineitem(s, d)
      Analytics.dimWithRangeActivityAttrs(
        supplier(s, d), col("s_suppkey"), li, col("l_suppkey"),
        col("l_shipdate"), col("l_extendedprice"),
        lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"),
        Seq(col("s_name").as("name"), col("s_acctbal").as("acctbal")),
        Some(col("s_acctbal")))
    }),
    // J7 anti-join on generated calendar → missing dates (nambu_bulk_sync.py:24-40)
    "q_missing_dates" -> ((s, d) =>
      Analytics.missingDates(orders(s, d), col("o_orderdate"),
        "2001-06-01", "2001-12-31")),

    // ---- Reshape W1/W2 (SURVEY §2.5) ----
    // W1 melt + W2(a) 0-based hour parse: wide 24-hour-column rows (built by
    // pivot, the upstream API's shape) melted back to hourly rows. The
    // roundtrip equals a direct hourly aggregation — that's the oracle.
    "q_melt_roundtrip" -> ((s, d) => {
      val wide = Unpivot.pivotByHour(events(s, d), col("ts"), col("event_type"),
        col("value"))
      Unpivot.meltHours(wide, Seq("ymd", "grp"), Unpivot.hourNames)
        .filter(col("generation").isNotNull) // P5 dropna, as the reference does
        .select(col("grp"),
          Unpivot.tsZeroBased(col("ymd"), col("hour_col")).as("ts"),
          round(col("generation"), 2).as("total"))
    }),
    // W2(b) 1-based hour parse with the 24→next-day-00:00 rollover
    "q_melt_rollover" -> ((s, d) => {
      val wide = Unpivot.pivotByHour(events(s, d), col("ts"), col("event_type"),
        col("value"))
      Unpivot.meltHours(wide, Seq("ymd", "grp"), Unpivot.hourNames)
        .filter(col("generation").isNotNull)
        .select(col("grp"),
          Unpivot.tsOneBased(col("ymd"), col("hour_col")).as("ts"),
          round(col("generation"), 2).as("total"))
    }),

    // ---- Dedup / upsert (SURVEY §2.6, S14) ----
    // U2 keep-last on key with explicit deterministic order
    "q_dedup_keep_last" -> ((s, d) =>
      Dedup.keepLast(events(s, d).withColumn("day", to_date(col("ts"))),
          Seq(col("user_id"), col("event_type"), col("day")),
          Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("day"), col("ts"),
          col("value"))),
    // S14 keyed upsert as union + keep-last (new side wins on overlap)
    "q_upsert" -> ((s, d) => {
      val ev = events(s, d)
      val existing = ev.filter(col("ts") < lit("2024-01-20"))
        .select(col("event_id"), round(col("value"), 2).as("value"))
      val incoming = ev.filter(col("ts") >= lit("2024-01-15"))
        .select(col("event_id"), round(col("value") * 2, 2).as("value"))
      Dedup.upsert(existing, incoming, Seq("event_id"), Seq(col("event_id")))
    }),

    // ---- Imputation W3/W5/W4 (SURVEY §2.5) ----
    // W3 consecutive-missing run detection (gap-and-islands)
    "q_missing_runs" -> ((s, d) => {
      val ev = events(s, d)
        .withColumn("v", Impute.withMissing(col("value"), col("event_id")))
      Impute.missingRuns(ev, col("event_type"),
        Seq(col("ts"), col("event_id")), col("v"))
    }),
    // W5 historical-average fill with key-mean/global-mean fallback chain
    "q_hist_fill" -> ((s, d) => {
      val ev = events(s, d)
        .withColumn("v", Impute.withMissing(col("value"), col("event_id")))
      Impute.historicalFill(ev, col("event_type"), col("ts"), col("v"))
    }),
    // full imputation dispatcher: run detection → spline (≤3) / historical
    // (≥4) routing, the reference's impute_missing_values end-to-end
    // (spline component → rows-only; routing/fills specced in FlowsSpec)
    "q_impute_all" -> ((s, d) => {
      val ev = events(s, d)
        .withColumn("v", Impute.withMissing(col("value"), col("event_id")))
      Impute.imputeAll(ev, col("event_type"), col("ts"), col("event_id"),
        col("v"))
    }),
    // SQL surface parity: the A9 top-K via spark.sql over a temp view
    "q_sql_topk" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_suppkey AS grp,
               round(SUM(l_extendedprice * (1 - l_discount)), 2) AS total
               FROM lineitem_v GROUP BY 1 ORDER BY total DESC, grp LIMIT 10""")
    }),
    // ---- SQL surface family (r7): the same proven result contracts
    // through the spark.sql entry path — temp views for the tables and the
    // GraftExtensions function registry for the native expressions. Each
    // mirror reuses its DataFrame twin's DuckDB oracle VERBATIM (see
    // oracleSql), and SqlSurfaceSpec asserts the SQL plan returns
    // bit-identical rows to the DataFrame path on the same session. ----
    // A6 hourly rollup through SQL (twin: q_hourly_by_type)
    "q_sql_hourly" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("events_v")
      s.sql("""SELECT date_trunc('hour', ts) AS bucket, event_type AS grp,
               round(SUM(value), 2) AS total
               FROM events_v GROUP BY 1, 2""")
    }),
    // U2 keep-last dedup through SQL (twin: q_dedup_keep_last) — the same
    // explicit (ts, event_id) total order, window partitioned by the key
    "q_sql_dedup_last" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("events_v")
      s.sql("""SELECT user_id, event_type, day, ts, value FROM (
                 SELECT user_id, event_type, to_date(ts) AS day, ts, value,
                   row_number() OVER (
                     PARTITION BY user_id, event_type, to_date(ts)
                     ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events_v) WHERE rn = 1""")
    }),
    // brute-force cosine top-k through SQL via the registered native
    // graft_cosine expression (twin: q_ann_cosine_topk) — same broadcast
    // query side, same round(.,6), same (cos DESC, cid) tie-break
    "q_sql_cosine_topk" -> ((s, d) => {
      GraftExtensions.registerOn(s)
      embeddings(s, d).createOrReplaceTempView("embeddings_v")
      s.sql("""WITH e AS (SELECT vec_id,
                            transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                          FROM embeddings_v),
               q AS (SELECT vec_id AS qid, v AS qv FROM e
                     WHERE vec_id IN (0, 1, 2)),
               sc AS (SELECT /*+ BROADCAST(q) */ q.qid, e.vec_id AS cid,
                        round(graft_cosine(e.v, q.qv), 6) AS cos
                      FROM e JOIN q ON e.vec_id != q.qid)
               SELECT qid, cid, cos, rn FROM (
                 SELECT qid, cid, cos,
                   CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY cos DESC, cid) AS BIGINT) AS rn
                 FROM sc) WHERE rn <= 5""")
    }),
    // A7 range-sum through SQL (twin: q_sum_over_range): the view wraps
    // Tables.eventsRange — the documented pushdown entry point for range
    // predicates on the nanos-physical events table (CLAUDE.md) — and
    // the SQL restates the same half-open predicate (a residual filter
    // over the already-pruned scan, keeping the statement self-contained)
    "q_sql_sum_range" -> ((s, d) => {
      Tables.eventsRange(s, d, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
        .createOrReplaceTempView("events_range_v")
      s.sql("""SELECT round(SUM(value), 2) AS total, COUNT(*) AS n
               FROM events_range_v
               WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                 AND ts <  TIMESTAMP '2024-01-20 00:00:00'""")
    }),
    // J5 dim-activity through SQL (twin: q_dim_activity_range): the same
    // left join with the range condition IN the ON clause (an unmatched
    // or out-of-range supplier keeps its zero row) and COALESCE(SUM,0)
    "q_sql_dim_activity" -> ((s, d) => {
      supplier(s, d).createOrReplaceTempView("supplier_v")
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT s.s_suppkey AS grp,
                 round(COALESCE(SUM(l.l_extendedprice), 0), 2) AS total
               FROM supplier_v s LEFT JOIN lineitem_v l
                 ON s.s_suppkey = l.l_suppkey
                AND l.l_shipdate >= TIMESTAMP '1996-01-01'
                AND l.l_shipdate <= TIMESTAMP '1996-12-31'
               GROUP BY 1""")
    }),
    // A4 per-key high-watermark through SQL (twin: q_watermark) — the
    // reference's live resume probe (daily_pv_automation.py:79-87) reaches
    // the engine through both APIs
    "q_sql_watermark" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("events_v")
      s.sql("""SELECT user_id AS grp, max(ts) AS last_ts,
               max(event_type) AS carry
               FROM events_v GROUP BY 1""")
    }),
    // A5 backfill probe through SQL (twin: q_incomplete_days): the view
    // wraps Tables.eventsRange — the pushdown entry point for the
    // nanos-physical events table — and the SQL restates the half-open
    // range as a residual predicate (the q_sql_sum_range pattern)
    "q_sql_incomplete_days" -> ((s, d) => {
      Tables.eventsRange(s, d, "2024-01-05", "2024-01-12")
        .createOrReplaceTempView("events_backfill_v")
      s.sql("""SELECT to_date(ts) AS day,
                 COUNT(DISTINCT hour(ts)) AS n_hours
               FROM events_backfill_v
               WHERE event_type = 'error'
                 AND ts >= TIMESTAMP '2024-01-05 00:00:00'
                 AND ts <  TIMESTAMP '2024-01-12 00:00:00'
               GROUP BY 1
               HAVING COUNT(DISTINCT hour(ts)) < 24""")
    }),
    // P11 rolling recency panel through SQL (twin: q_rolling_window):
    // same daily pre-aggregate, same RANGE frame over the TZ-safe
    // datediff day index (see Analytics.rollingByKey's DST note)
    "q_sql_rolling" -> ((s, d) => {
      events(s, d).createOrReplaceTempView("events_v")
      s.sql("""WITH daily AS (
                 SELECT event_type AS grp, to_date(ts) AS day,
                   SUM(value) AS dv, COUNT(*) AS dn
                 FROM events_v GROUP BY 1, 2)
               SELECT grp, day,
                 round(SUM(dv) OVER w, 2) AS rolling_total,
                 SUM(dn) OVER w AS rolling_n
               FROM daily
               WINDOW w AS (PARTITION BY grp
                 ORDER BY CAST(datediff(day, DATE '1970-01-01') AS BIGINT)
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""")
    }),
    // per-vector squared L2 norm through SQL via the registered native
    // graft_norm_sq expression — map-only scan, DuckDB replays the same
    // sequential sum of squares with list_inner_product(v, v)
    "q_sql_embed_norm" -> ((s, d) => {
      GraftExtensions.registerOn(s)
      embeddings(s, d).createOrReplaceTempView("embeddings_v")
      s.sql("""SELECT vec_id,
                 round(graft_norm_sq(
                   transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS norm_sq
               FROM embeddings_v""")
    }),
    // W4 cubic-spline fill (non-SQL kernel → rows-only check + ScalaTest)
    "q_spline_impute" -> ((s, d) => {
      val ev = events(s, d)
        .withColumn("v", Impute.withMissing(col("value"), col("event_id")))
      Impute.splineImpute(ev, col("event_type"), col("ts"), col("event_id"),
        col("v"))
    }),

    // ---- Incremental watermarks (SURVEY §2.8) ----
    // A4+A5+P6 composite: per-key resume point
    "q_resume_points" -> ((s, d) =>
      Watermark.resumePoints(events(s, d), col("event_type"), col("ts"))),
    // A5 backfill probe: incomplete days in a range (range-pruned scan)
    "q_incomplete_days" -> ((s, d) =>
      Watermark.incompleteDays(
        Tables.eventsRange(s, d, "2024-01-05", "2024-01-12")
          .filter(col("event_type") === "error"),
        col("ts"), "2024-01-05", "2024-01-12")),

    // ---- Scalar functions (SURVEY §2.7) ----
    "q_normalize_scalars" -> ((s, d) =>
      part(s, d).select(col("p_partkey"),
        Normalize.normalizeName(col("p_type"),
          Seq("STANDARD\\s*", "POLISHED\\s*")).as("norm_type"),
        Normalize.cleanSpec(concat(col("p_brand"), lit(" x"), col("p_size")))
          .as("spec_num"),
        Normalize.zeroPad2(col("p_size") % 24).as("padded"),
        Normalize.extractDigits(col("p_brand")).as("brand_digits"),
        Normalize.extractCity(col("p_type"),
          Seq("BRASS", "COPPER", "NICKEL", "STEEL", "TIN")).as("city_like"),
        Normalize.sanitizeFilename(concat(col("p_name"), lit("/:*?"),
          col("p_brand"))).as("safe_name"))),
    "q_prev_month_range" -> ((s, d) =>
      orders(s, d).select(
        Normalize.prevMonthStart(col("o_orderdate")).as("m_start"),
        Normalize.prevMonthEnd(col("o_orderdate")).as("m_end")).distinct()),

    // ---- More joins (SURVEY §2.3) ----
    // J1 equi-join on regex-normalized key
    "q_join_normalized_key" -> ((s, d) => {
      val p = part(s, d)
      val noisy = p.select(col("p_partkey"),
        concat(lit("  "), upper(col("p_brand")), lit(" ")).as("noisy_brand"))
      val dim = p.groupBy(col("p_brand"))
        .agg(round(avg(col("p_retailprice")), 2).as("brand_avg"))
      Joins.normalizedKeyJoin(noisy, col("noisy_brand"), dim, col("p_brand"),
          Seq.empty)
        .select(col("p_partkey"), col("brand_avg"))
    }),
    // J2/J3 broadcast lookup with default
    "q_lookup_default" -> ((s, d) =>
      Joins.lookupWithDefault(supplier(s, d), col("s_nationkey"), nation(s, d),
          col("n_nationkey"), col("n_name"), lit("UNKNOWN"))
        .select(col("s_suppkey"), col("looked_up"))),
    // J4 fuzzy lookup: exact else containment else default
    "q_fuzzy_lookup" -> ((s, d) => {
      val brands = part(s, d).select(col("p_brand")).distinct()
      val dim = s.createDataFrame(Seq(
        ("Brand#1", "A"), ("Brand#2", "B"), ("Brand#3", "C"),
        ("Brand#45", "D"), ("ZZZ", "E"))).toDF("k", "v")
      Joins.fuzzyLookup(brands, col("p_brand"), col("p_brand"), dim, col("k"),
          col("v"), "DEFAULT")
        .select(col("p_brand"), col("matched"))
    }),
    // AS-OF join: each 'view' event enriched with the user's latest
    // preceding 'click' (merge-style union+window — no range-join blowup);
    // oracled against DuckDB's native ASOF JOIN
    "q_asof_join" -> ((s, d) => {
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value"), 2).as("v"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
          round(col("value"), 2).as("c_val"))
      Joins.asofJoin(views, col("user_id"), col("ts"), clicks, col("c_uid"),
          col("c_ts"), Seq("c_ts", "c_val"))
        .select(col("event_id"), col("user_id"), col("ts"), col("v"),
          col("asof_c_ts"), col("asof_c_val"))
    }),
    // Point-in-time feature join: every event enriched with the user's
    // latest CLOSED hourly and daily rollups (published at window end — no
    // future leakage). ONE union + window pass serves both feature tables
    // (a fold of as-of joins would shuffle the fact once per table);
    // oracled against DuckDB's chained native ASOF JOINs.
    "q_pit_join" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val hourly = ev
        .groupBy(col("user_id"),
          (date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR"))
            .as("avail_ts"))
        .agg(round(sum(col("value")), 2).as("sum_v"),
          count(lit(1)).as("n"))
      val daily = ev
        .groupBy(col("user_id"),
          (date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY"))
            .as("avail_ts"))
        .agg(round(sum(col("value")), 2).as("sum_v"))
      Joins.pointInTimeJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        col("user_id"), col("ts"),
        Seq(("hr", hourly, col("user_id"), col("avail_ts"), Seq("sum_v", "n")),
          ("day", daily, col("user_id"), col("avail_ts"), Seq("sum_v"))))
        .select(col("event_id"), col("user_id"), col("hr_sum_v"),
          col("hr_n"), col("day_sum_v"))
    }),
    // Interval-overlap join via time-grid bucketing: the theta join
    // (ls <= re AND rs <= le) made EQUI — each interval explodes onto
    // ≤2 grid cells, pairs hash-join on the cell, and each pair survives
    // only in the cell of its overlap start (exactly-once, no distinct).
    // Intervals: view/click events open a (event_id % 7 + 1)-minute window;
    // overlap measured exactly in epoch micros. Oracle is the plain
    // theta join — the grid is plan surgery, not semantics.
    "q_interval_overlap" -> ((s, d) => {
      val ev = events(s, d)
      def side(t: String, p: String) = ev.filter(col("event_type") === t)
        .select(col("event_id").as(s"${p}_id"), col("ts").as(s"${p}_s"),
          timestamp_micros(unix_micros(col("ts")) +
            (col("event_id") % 7 + 1) * lit(60000000L)).as(s"${p}_e"))
      Joins.intervalOverlapJoin(
          side("view", "l"), col("l_s"), col("l_e"),
          side("click", "r"), col("r_s"), col("r_e"), gridSeconds = 480)
        .select(col("l_id"), col("r_id"), col("overlap_us"))
    }),
    // Keyed snapshot diff (CDC between two table versions): full-outer on
    // the key, null-safe compare, unchanged keys dropped — delta-sized
    // output. Snapshots derived deterministically from orders (A drops
    // key%10==0, B drops key%7==0 and re-grades key%3==0).
    "q_snapshot_diff" -> ((s, d) => {
      val o = orders(s, d)
      val snapA = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      val snapB = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, lit("RE-GRADED"))
            .otherwise(col("o_orderpriority")).as("o_orderpriority"))
      Cdc.snapshotDiff(snapA, snapB, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_orderpriority"))
    }),
    // CDC MERGE round trip: applyDelta(A, snapshotDiff(A, B)) must BE B —
    // the algebraic law that makes delta-shipped replication sound. The
    // oracle is simply snapshot B itself.
    "q_apply_delta" -> ((s, d) => {
      val o = orders(s, d)
      val snapA = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      val snapB = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, lit("RE-GRADED"))
            .otherwise(col("o_orderpriority")).as("o_orderpriority"))
      Cdc.applyDelta(snapA,
        Cdc.snapshotDiff(snapA, snapB, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_orderpriority")),
        Seq("o_orderkey"), Seq("o_orderstatus", "o_orderpriority"))
    }),
    // SCD Type-2 build from a change log: consecutive same-state rows per
    // user collapse into versions carrying valid_from/valid_to/is_current —
    // the dimension shape q_pit_join/q_asof_join consume. Total order is
    // (ts, event_id) per the order-sensitivity rule.
    "q_scd2" -> ((s, d) =>
      Cdc.scd2(
          events(s, d).select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
          col("user_id"), col("ts"), col("event_id"), Seq("event_type"))
        .select(col("user_id"), col("event_type").as("attr"),
          col("valid_from"), col("valid_to"), col("is_current"))),
    // Multi-level rollup report: all grouping prefixes in ONE Expand +
    // single-shuffle aggregate (vs one groupBy per level). Revenue summed
    // as exact integer cents — cross-engine bit-exact, no float-boundary
    // exposure on the grand total.
    "q_rollup_report" -> ((s, d) =>
      Analytics.rollupReport(orders(s, d),
        Seq((col("o_orderpriority"), "priority"),
          (col("o_orderstatus"), "status")), "ALL",
        Seq(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("revenue_cents")))),
    // J6 anti-join: dimension rows absent from a fact subset (customers with
    // no urgent orders — nonempty, unlike the unrestricted variant)
    "q_customers_no_orders" -> ((s, d) =>
      customer(s, d).join(
          orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))),

    // ---- Training-data pipeline: text analysis (builder prompt) ----
    // token counting (whitespace + regex + BPE estimate), quality scoring
    "q_doc_stats" -> ((s, d) => {
      val en = TextOps.langMarkers.toMap.apply("en")
      documents(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.wordTokenCount(col("text")).as("n_word_tokens"),
        TextOps.bpeTokenEstimate(col("text")).as("n_bpe_est"),
        TextOps.meanTokenLength(col("text")).as("mean_tok_len"),
        TextOps.stopwordRatio(col("text"), en).as("stop_ratio"),
        TextOps.qualityScore(col("text"), en).as("quality"))
    }),
    // quality-classifier margin with a FIXED integer model: the map-only
    // scoring pass every trained-filter pipeline runs at corpus scale,
    // exact BIGINT arithmetic end to end → hash-green oracled (the trained
    // variant is q_lr_quality, rows-only — GD isn't SQL-expressible)
    "q_lr_margin" -> ((s, d) => {
      val en = TextOps.langMarkers.toMap.apply("en")
      // intMarginOf, not intMargin(docFeatures(...)): each feature subtree
      // must appear exactly ONCE in the plan — array indexing per weight
      // (even bound through a projection, which CollapseProject undoes)
      // trips a Janino codegen bug under subexpression elimination and the
      // scoring pass silently drops to interpreted
      documents(s, d).select(col("doc_id"),
        Classifier.intMarginOf(col("text"), en,
          Seq(-400L, 7L, -1L, 120L, -3L, 5L)).as("margin"))
    }),
    // TRAINED curated-vs-crawl logistic regression (label: source == src0),
    // trained once per dir via distributed full-batch GD (driver holds only
    // the weight vector); per-doc keep decision + micro-unit margin
    // (rows-only; convergence/separation laws in ClassifierSpec)
    "q_lr_quality" -> ((s, d) => {
      val en = TextOps.langMarkers.toMap.apply("en")
      val w = lrModels.computeIfAbsent(d, dir =>
        Classifier.trainLogReg(
          documents(s, dir)
            .withColumn("label", (col("source") === "src0").cast("int")),
          Classifier.docFeatures(col("text"), en), col("label"),
          iters = 15)._1)
      // marginOf (single-use feature subtrees) bound once; the two
      // consumers reference the alias — CollapseProject keeps multi-use
      // non-cheap aliases bound, so nothing replicates
      documents(s, d)
        .select(col("doc_id"),
          Classifier.marginOf(col("text"), en, w).as("_m"))
        .select(col("doc_id"),
          floor(col("_m") * 1e6).cast("long").as("margin_micro"),
          (col("_m") >= 0).as("keep"))
    }),
    // filter-calibration sweep: per candidate threshold, how many docs the
    // fixed-model gate keeps and how many of those are curated (src0) —
    // the precision/recall table every deployed quality filter is tuned
    // from; all-integer counts → hash-green oracle
    "q_lr_sweep" -> ((s, d) => {
      import s.implicits._
      val en = TextOps.langMarkers.toMap.apply("en")
      val scored = documents(s, d)
        .select(col("source"),
          Classifier.intMarginOf(col("text"), en,
            Seq(-400L, 7L, -1L, 120L, -3L, 5L)).as("margin"))
      scored
        .crossJoin(broadcast(
          Seq(-500L, -250L, 0L, 250L, 500L).toDF("threshold")))
        .filter(col("margin") >= col("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_kept"),
          sum(when(col("source") === "src0", 1L).otherwise(0L))
            .as("n_curated"))
    }),
    // language-ID (marker-token heuristic)
    "q_lang_id" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"))),
    // document fingerprinting
    "q_doc_fingerprint" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))),
    // Gopher-rule quality filter: symbol tokens synthesized from doc_id on
    // BOTH sides (the q_redact_pii precedent) so the symbol rule actually
    // fires instead of passing trivially on symbol-free synthetic text
    "q_gopher_filter" -> ((s, d) => {
      val mod = (col("doc_id") % 40).cast("int")
      val withSym = concat(col("text"),
        array_join(array_repeat(lit(" #"), mod), ""))
      TextOps.gopherFilter(
        documents(s, d).select(col("doc_id"), withSym.as("text")),
        col("doc_id"), col("text"), TextOps.langMarkers.toMap.apply("en"))
    }),
    // markup strip: tags + entities synthesized from doc_id on BOTH sides;
    // the double-escaped '&amp;lt;' must survive as '&lt;' (decode order)
    "q_strip_markup" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextOps.stripMarkup(concat(
          lit("<p id=\""), col("doc_id"), lit("\">"), col("text"),
          lit("</p> <br/> say &amp;lt; &quot;hi&quot; &nbsp;done")))
          .as("clean_text"))),

    // ---- Training-data pipeline: dedup ----
    // exact dedup via content-hash groupBy (corpus ∪ re-crawled subset)
    "q_doc_exact_dedup" -> ((s, d) => {
      val docs = documents(s, d)
      val recrawl = docs.filter(col("doc_id") % 5 === 0)
      NearDup.exactDuplicates(docs.unionByName(recrawl), col("doc_id"),
        col("text"))
    }),
    // corpus-level exact LINE dedup (RefinedWeb boilerplate pass): lines
    // synthesized as 8-token windows on BOTH sides (the q_redact_pii
    // precedent — no newlines in the synthetic text), so the oracle checks
    // the real frequency/drop/reassembly logic (oracled)
    "q_line_dedup" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val nl = ceil(size(toks) / lit(8.0)).cast("int")
      val lined = concat_ws("\n", transform(sequence(lit(0), nl - 1),
        i => concat_ws(" ", slice(toks, i * lit(8) + 1, lit(8)))))
      NearDup.dedupLines(
        documents(s, d).select(col("doc_id"), lined.as("text")),
        col("doc_id"), col("text"))
    }),
    // exact repeated-span removal (C4 span drop / Lee et al. substring
    // dedup at token granularity): every 5-gram occurring >= 2 times
    // corpus-wide is cut from every doc (oracled)
    "q_span_dedup" -> ((s, d) =>
      NearDup.removeRepeatedSpans(documents(s, d), col("doc_id"),
        col("text"), n = 5, minCount = 2)),
    // exact n-gram (3-shingle) Jaccard near-dup pairs
    "q_jaccard_pairs" -> ((s, d) =>
      NearDup.jaccardPairs(documents(s, d), col("doc_id"), col("text"), 0.1)),
    // incremental dedup: the doc_id%10==0 batch arrives against the rest of
    // the corpus — pairs touching an incoming doc only, existing↔existing
    // never re-formed (oracled: full-pairs SQL restricted to the batch)
    "q_incremental_dedup" -> ((s, d) => {
      val docs = documents(s, d)
      NearDup.jaccardPairsIncremental(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), 0.1)
    }),
    // daily corpus increment, end to end: the doc_id%10==0 batch admitted
    // against the rest (exact anti-dedup → incremental near-dup with
    // cluster-wide drop on existing contact → quality floor). Fully
    // oracled — every stage is SQL-expressible, clustering via the same
    // recursive CTE as q_dedup_clusters.
    "q_daily_increment" -> ((s, d) => {
      val docs = documents(s, d)
      val en = TextOps.langMarkers.toMap.apply("en")
      Flows.dailyCorpusIncrement(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), en)
        .select(col("doc_id"), col("source"), col("quality"))
    }),
    // benchmark decontamination: src0 docs as the "eval set", the rest as
    // the training corpus; containment >= 0.5 (oracled)
    "q_contamination" -> ((s, d) => {
      val docs = documents(s, d)
      NearDup.contaminationPairs(
        docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
        0.5)
    }),
    // Bloom-prefiltered 13-gram decontamination (the GPT-3/Llama long-n-gram
    // recipe): the bench filter is built once per dir (steady-state — the
    // bench suite outlives corpus snapshots) and the corpus drops every
    // doc with no might-contain shingle in a map-only pass, so the
    // posting-list shuffle runs over the contaminated sliver (0.5% of the
    // testdata corpus at n=13) instead of everything. EXACT: no false
    // negatives by Bloom construction; false positives die in the verify
    // join — hash-green oracled.
    "q_bloom_contamination" -> ((s, d) => {
      val docs = documents(s, d)
      val bloom = benchBlooms.computeIfAbsent(d, dir =>
        NearDup.benchShingleBloom(
          documents(s, dir).filter(col("source") === "src0"),
          col("doc_id"), col("text")))
      NearDup.bloomContaminationPairsWith(
        docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
        0.5, bloom)
    }),
    // MinHash+LSH near-dup pairs (xxhash64 signatures → rows-only + ScalaTest)
    "q_minhash_pairs" -> ((s, d) =>
      NearDup.minhashLshPairs(documents(s, d), col("doc_id"), col("text"), 0.1)),
    // MinHash MECHANISM over the FIXED md5 family: per-(doc, seed)
    // min(md5(shingle||':'||seed)), band = md5 of the band's mins,
    // candidate pairs + exact verify — all replayed in DuckDB, so the
    // flagship near-dup tier's banding/candidate/verify pipeline is
    // cross-engine hash-green (the q_semdedup_fixed pattern; the xxhash64
    // production kernel above stays the scale path — bit-parity with this
    // twin spec'd at sf0.001 in NearDupSpec)
    "q_minhash_fixed" -> ((s, d) =>
      NearDup.minhashLshPairsMd5(documents(s, d), col("doc_id"), col("text"),
        0.1)),
    // incremental md5 twin: the batch probes the union's buckets; equals
    // the full twin restricted to batch-touching pairs (the oracle = full
    // twin SQL + membership predicate — signatures are split-independent)
    "q_minhash_incr_fixed" -> ((s, d) => {
      val docs = documents(s, d)
      NearDup.minhashLshPairsMd5Incremental(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), 0.1)
    }),
    // incremental MinHash+LSH: the scale twin of q_incremental_dedup — the
    // batch probes the union's buckets, existing↔existing never expands,
    // exact verify over candidate ids only (rows-only: xxhash64 signatures;
    // equality to the restricted full run is spec'd)
    "q_incremental_minhash" -> ((s, d) => {
      val docs = documents(s, d)
      NearDup.minhashLshPairsIncremental(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), 0.1)
    }),
    // SimHash signatures + banded Hamming pairs (rows-only + ScalaTest)
    "q_simhash_pairs" -> ((s, d) =>
      NearDup.simhashPairs(documents(s, d), col("doc_id"), col("text"), 20)),
    // SimHash MECHANISM over the FIXED 32-bit md5 family: bit sums, sign
    // packing, 4x8-bit banding and Hamming verify all replay in DuckDB
    // ('0x'||substr(md5,1,8) == conv(substring(md5,1,8),16,10)) — the
    // 64-bit xxhash64 production path above stays the scale kernel
    // maxHamming=3: this corpus's tiny vocabulary keeps all 32-bit
    // signatures close (candidate Hamming mode ~7), so the near-dup cut
    // sits at the tight head of the distribution
    "q_simhash_fixed" -> ((s, d) =>
      NearDup.simhashPairsMd5(documents(s, d), col("doc_id"), col("text"),
        3)),

    // near-dup CLUSTERS: connected components over near-dup pairs + canonical
    // member per cluster (the corpus-dedup endgame). Edges come from the
    // EXACT jaccard detector so the whole composition is oracle-checkable
    // (DuckDB recursive-CTE min-label reachability over the same edge set);
    // the minhash scale detector feeds the same clustering in q_corpus_clean.
    "q_dedup_clusters" -> ((s, d) => {
      val docs = documents(s, d)
      val pairs = NearDup.jaccardPairs(docs, col("doc_id"), col("text"), 0.1)
      NearDup.dedupClusters(pairs, docs, col("doc_id"))
        .filter(col("doc_id") =!= col("cluster")) // non-canonical members
    }),
    // same contract through the ALTERNATING LARGE-STAR/SMALL-STAR engine
    // (O(log n) rounds vs O(component diameter) — the adversarial-chain
    // scale path); same edge set, same oracle SQL text as q_dedup_clusters,
    // so the cross-engine hash match IS the parity proof at sf scale
    "q_dedup_clusters_star" -> ((s, d) => {
      val docs = documents(s, d)
      val pairs = NearDup.jaccardPairs(docs, col("doc_id"), col("text"), 0.1)
      NearDup.dedupClustersStar(pairs, docs, col("doc_id"))
        .filter(col("doc_id") =!= col("cluster"))
    }),
    // curation keep-rule over the duplicate clusters: canonical = argmax
    // quality (n_chars as the declared score, ties to the smaller id) —
    // one struct-max per cluster, no window sort; singletons keep
    // themselves (oracled)
    "q_dedup_keep_best" -> ((s, d) => {
      val docs = documents(s, d)
      val pairs = NearDup.jaccardPairs(docs, col("doc_id"), col("text"), 0.1)
      val labels = NearDup.dedupClusters(pairs, docs, col("doc_id"))
      NearDup.canonicalByQuality(labels,
        docs.select(col("doc_id"), col("n_chars")), col("doc_id"),
        col("n_chars"))
    }),
    // winnowing (rolling-hash) fingerprint pairs: shared-passage detection.
    // k=24 (~4-5 words) because this corpus's vocabulary is tiny — short
    // grams occur in every doc and would pair everything quadratically.
    "q_winnow_pairs" -> ((s, d) =>
      NearDup.winnowPairs(documents(s, d), col("doc_id"), col("text"),
        minShared = 5, k = 24, w = 8)),
    // winnowing MECHANISM over FIXED md5 gram hashes: char-24-gram md5,
    // window-of-8 min fingerprints, shared-fp pairs — the whole selection
    // replays as a SQL window function (the rolling polynomial hash is the
    // production kernel's speed trick, not part of the semantics)
    "q_winnow_fixed" -> ((s, d) =>
      NearDup.winnowPairsMd5(documents(s, d), col("doc_id"), col("text"),
        minShared = 5, k = 24, w = 8)),
    // embedding-cosine near-dup pairs — exact baseline (oracled)
    "q_embed_dedup_pairs" -> ((s, d) =>
      Similarity.cosinePairs(embeddings(s, d), col("vec_id"),
        col("embedding"), 0.4)),
    // embedding-cosine near-dup at scale: LSH buckets + rerank (rows-only)
    "q_embed_dedup_lsh" -> ((s, d) =>
      Similarity.lshCosinePairs(embeddings(s, d), col("vec_id"),
        col("embedding"), 0.4)),
    // same kernel with the banding geometry DERIVED from the corpus size
    // (srpGeometry: rows-per-band grows with log n so bucket occupancy —
    // and candidate-pair mass — stays ~linear; the fixed-geometry default
    // above was MEASURED superlinear at a 10x step, SCALE.md "ScaleCurve").
    // The count() is one columnless metadata-cheap pass; at corpus scale
    // the caller passes a known size instead. Rows-only like its twin
    // (recall < 1 by design); geometry rule + recall floor in
    // SimilaritySpec.
    "q_embed_dedup_lsh_auto" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.lshCosinePairsAuto(emb, col("vec_id"), col("embedding"),
        0.4, corpusSize = emb.count())
    }),
    // SRP (random-hyperplane) cosine-LSH MECHANISM, oracled: the SAME
    // production kernel (SrpSignature → band chunks → Hamming cut → exact
    // rerank) at bits=64 / 8 bands × 8 rows — one signature word, whose
    // 64 MurmurHash3 ±1 planes ride the DuckDB oracle as literal sign
    // folds (fixed term order → bit-stable IEEE signs, the q_mahalanobis
    // fixed-shape pattern), so sign/pack/band/Hamming/rerank all replay
    // cross-engine. The 256-bit paths above stay the scale kernels;
    // SimilaritySpec pins word-0 bit-parity between the two widths, so
    // this oracle transitively cross-checks the production signature.
    "q_srp_fixed" -> ((s, d) =>
      Similarity.lshCosinePairs(embeddings(s, d), col("vec_id"),
        col("embedding"), 0.4, bits = 64, bands = 8, rowsPerBand = 8)),
    // Incremental SRP cosine-LSH (NEW r13 — VERDICT r12 missing #3), the
    // daily-batch regime: incoming embeddings (vec_id % 5 == 0) probe the
    // union buckets, existing↔existing never re-forms. Signature and
    // rerank are pure per-row functions, so the result equals the full
    // derived-geometry run restricted to pairs touching the batch —
    // rows-only here (derived geometry isn't SQL-expressible); the law is
    // asserted in SimilaritySpec and the fixed twin below is hash-green.
    "q_embed_dedup_incr" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.lshCosinePairsIncrementalAuto(
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0),
        col("vec_id"), col("embedding"), 0.4, corpusSize = emb.count())
    }),
    // fixed 64-bit twin of the incremental path: the q_srp_fixed replay
    // restricted by the batch-membership predicate — candidate formation,
    // Hamming cut, rerank, and the batch-probes-union bucketing all
    // hash-green cross-engine
    "q_srp_incr_fixed" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.lshCosinePairsIncremental(
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0),
        col("vec_id"), col("embedding"), 0.4,
        bits = 64, bands = 8, rowsPerBand = 8)
    }),
    // SemDeDup: cluster-then-dedup semantic near-dup over the memoized IVF
    // assignment — within-list blocking, min-id keep rule (rows-only:
    // the k-means quantizer is not SQL-expressible; twin-collapse and keep
    // rule spec'd in SimilaritySpec)
    "q_semdedup" -> ((s, d) => {
      val (_, assigned) = ivfIndex(s, d)
      Similarity.semDedupWith(assigned, 0.4)
        .select(col("cid"), col("cl").cast("long").as("cl"))
    }),
    // SemDeDup MECHANISM over the FIXED codebook (q_centroid_assign's):
    // with a SQL-expressible quantizer the whole cluster-then-dedup pass —
    // within-list self-join, round-6 cosine >= tau, min-id keep — replays
    // in DuckDB and goes hash-green (the trained variant above stays
    // rows-only; same executor code path in both)
    "q_semdedup_fixed" -> ((s, d) => {
      val indexed = Similarity.ivfAssign(embeddings(s, d), col("vec_id"),
        col("embedding"), fixedCodebook(s, d))
      Similarity.semDedupWith(indexed, 0.4)
        .select(col("cid").cast("long").as("cid"),
          col("cl").cast("long").as("cl"))
    }),

    // ---- Training-data pipeline: similarity search ----
    // brute-force cosine top-k (exact baseline)
    "q_ann_cosine_topk" -> ((s, d) =>
      Similarity.cosineTopK(embeddings(s, d), col("vec_id"), col("embedding"),
        Seq(0L, 1L, 2L), 5)),
    // LSH-bucketed ANN (scale path; recall measured in ScalaTest)
    "q_ann_lsh_topk" -> ((s, d) =>
      Similarity.lshCosineTopK(embeddings(s, d), col("vec_id"),
        col("embedding"), Seq(0L, 1L, 2L), 5)),
    // IVF-Flat ANN (coarse-quantizer scale path; recall in ScalaTest).
    // Times steady-state search over the once-per-dir index — see ivfIndex.
    "q_ann_ivf_topk" -> ((s, d) => {
      val (cents, assigned) = ivfIndex(s, d)
      Similarity.ivfCosineTopKWith(assigned, cents, Seq(0L, 1L, 2L), 5)
    }),
    // nearest-centroid assignment against a FIXED codebook (vec_id 0..7):
    // the zero-shuffle argmax map pass every IVF/k-means pipeline runs at
    // corpus scale, oracled (the trained-quantizer variant stays rows-only
    // because Lloyd's isn't SQL-expressible — this pins the same executor
    // code path with a SQL-expressible model)
    "q_centroid_assign" -> ((s, d) =>
      Similarity.ivfAssign(embeddings(s, d), col("vec_id"), col("embedding"),
          fixedCodebook(s, d))
        .select(col("cid").cast("long").as("vec_id"),
          col("cl").cast("long").as("list_id"))),
    // PQ-ADC ANN over the trained product quantizer (rows-only: Lloyd's
    // isn't SQL-expressible; ADC exactness + recall floor in SimilaritySpec).
    // Times steady-state search over the once-per-dir encoded corpus.
    "q_ann_pq_topk" -> ((s, d) => {
      val (cb, encoded) = pqIndex(s, d)
      Similarity.pqCosineTopKWith(encoded, cb, embeddings(s, d),
        col("vec_id"), col("embedding"), Seq(0L, 1L, 2L), 5)
    }),
    // IVF-PQ: probe-pruned ADC over the composed (cl, codes) index — the
    // FAISS-style corpus-scale layout (rows-only; both models are trained).
    // Reuses the memoized IVF centroids and PQ codebooks; the composed
    // index itself is one map pass, built once per dir.
    "q_ann_ivfpq_topk" -> ((s, d) => {
      val (cents, _) = ivfIndex(s, d)
      val (cb, _) = pqIndex(s, d)
      val indexed = ivfPqIndexes.computeIfAbsent(d, dir =>
        Similarity.ivfPqIndex(Tables.embeddings(s, dir), col("vec_id"),
            col("embedding"), cents, cb)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      Similarity.ivfPqTopKWith(indexed, cents, cb, embeddings(s, d),
        col("vec_id"), col("embedding"), Seq(0L, 1L, 2L), 5, nprobe = 8)
    }),
    // PQ-ADC search against the FIXED codebook (raw, unnormalized on both
    // sides): table construction + m-lookup scoring + rounded-score
    // ranking all replay in SQL — with q_pq_codes this oracles the PQ
    // search path end to end (the trained variant stays rows-only)
    "q_pq_adc_topk" -> ((s, d) => {
      val cb = fixedPqCodebook(s, d)
      Similarity.pqCosineTopKWith(
        Similarity.pqEncode(embeddings(s, d), col("vec_id"),
          col("embedding"), cb, normalize = false),
        cb, embeddings(s, d), col("vec_id"), col("embedding"),
        Seq(0L, 1L, 2L), 5, normalizeQueries = false)
    }),
    // PQ encode against a FIXED codebook (vec_id 0..3 sliced 4×16): the
    // zero-shuffle argmin-L2 map pass every PQ pipeline runs at corpus
    // scale, oracled — the trained-model variant above stays rows-only
    // because the quantizer isn't SQL-expressible; this pins the same
    // executor kernel with a SQL-expressible model
    "q_pq_codes" -> ((s, d) =>
      Similarity.pqEncode(embeddings(s, d), col("vec_id"), col("embedding"),
          fixedPqCodebook(s, d), normalize = false)
        .select(col("cid").cast("long").as("vec_id"),
          posexplode(col("codes")).as(Seq("subspace", "code")))
        .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
          col("code").cast("long").as("code"))),

    // top-k corpus vocabulary (tokenizer-training prep; oracled)
    "q_vocab_topk" -> ((s, d) =>
      TextOps.vocabulary(documents(s, d), col("text"), 500)),
    // TF-IDF top terms per doc — idf in integer micro-nats (oracled)
    "q_tfidf_topk" -> ((s, d) =>
      TextOps.tfidfTopTerms(documents(s, d), col("doc_id"), col("text"), 5)),
    // Zipf coverage curve of the top-k vocab (tokenizer sizing; oracled)
    "q_vocab_coverage" -> ((s, d) =>
      TextOps.vocabCoverage(documents(s, d), col("text"), 500)),
    // Gopher-style repetition quality filters: top-token dominance +
    // duplicate bi/tri-gram fractions (oracled)
    "q_repetition_filter" -> ((s, d) =>
      TextOps.repetitionStats(documents(s, d), col("doc_id"), col("text"))),
    // quality-weighted corpus mixing: corpus-LM NLL buckets sampled at
    // per-bucket rates via the md5-uniform keep decision (oracled — both
    // the micro-nat NLL and md5 are cross-engine; cuts at the measured
    // NLL terciles of the synthetic corpus)
    "q_quality_mix" -> ((s, d) =>
      Flows.qualityMix(documents(s, d), col("doc_id"), col("text"),
        Seq((3400000L, 1.0), (3410000L, 0.5)), 0.1)),
    // deterministic 90/5/5 train/val/test assignment by md5 bucket (oracled —
    // md5 is cross-engine, unlike xxhash64)
    "q_train_val_split" -> ((s, d) =>
      Sampling.assignSplit(documents(s, d), col("doc_id"),
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
        .select(col("doc_id"), col("source"), col("split"))),
    // contrastive negative sampling: 3 deterministic self-pair-free uniform
    // negatives per doc via the seeded position index + one hash join (no
    // cartesian); md5/integer arithmetic end to end → oracled
    "q_negative_pairs" -> ((s, d) =>
      Sampling.negativeSamples(documents(s, d), col("doc_id"), k = 3,
        seed = 7L)),
    // deterministic seeded corpus shuffle: exact global position under the
    // md5(id:seed) order + round-robin shard — distributed rank (range
    // repartition + zipWithIndex over one sort shuffle), never a
    // single-task global window (oracled — md5 order replays in SQL)
    "q_global_shuffle" -> ((s, d) =>
      Order.seededShuffle(documents(s, d).select(col("doc_id")),
          col("doc_id"), seed = 42L, numShards = 8, numParts = 8)
        .select(col("doc_id"), col("pos"), col("shard"))),
    // greedy sequence packing: per-source token streams split into 512-token
    // training sequences, all integer arithmetic (oracled)
    "q_pack_sequences" -> ((s, d) =>
      TextOps.packSequences(documents(s, d), col("doc_id"), col("doc_id"),
        col("source"), col("text"), 512)),
    // CCNet-style unigram-LM quality score, micro-nat quantized (oracled)
    "q_lm_score" -> ((s, d) =>
      TextOps.lmQualityScore(documents(s, d), col("doc_id"), col("text"))),
    // trained bigram-LM score: add-one-smoothed P(w2|w1), per-bigram NLL in
    // integer micro-nats, mean per doc (oracled)
    "q_bigram_lm" -> ((s, d) =>
      TextOps.bigramLmScore(documents(s, d), col("doc_id"), col("text"))),
    // collocation mining: top bigrams by count with micro-nat PMI — the
    // phrase / tokenizer-merge-candidate signal (oracled)
    "q_collocations" -> ((s, d) =>
      TextOps.collocations(documents(s, d), col("text"), minCount = 5L,
        k = 500)),
    // inverted index: (term, doc_id, pos, df) postings above a df floor —
    // the search-index build pass (oracled; this corpus's 31-term synthetic
    // vocabulary is all mid-frequency, so the floor keeps the full index)
    "q_inverted_index" -> ((s, d) =>
      TextOps.invertedIndex(documents(s, d), col("doc_id"), col("text"),
        minDf = 5L, maxDf = 1000000L)),
    // content-defined chunking: rolling-hash cut rule, shift-robust chunk
    // fingerprints for sub-document dedup. FULLY ORACLED since r7: the
    // polynomial window hash expands to a 16-term Σ code·B^j mod M against
    // a literal powers table, boundary selection is a next-hit lookup +
    // recursive CTE, and the length-salted chunk fingerprint is the same
    // Σ over a 256-entry powers table — bit-exact vs the kernel
    // (coverage/bounds/shift-resync laws additionally in TextPrepSpec)
    "q_cdc_chunks" -> ((s, d) =>
      TextOps.cdcChunks(documents(s, d), col("doc_id"), col("text"))
        .select(col("doc_id"), col("chunk_ix").cast("long").as("chunk_ix"),
          col("start").cast("long").as("start"),
          col("len").cast("long").as("len"), col("fp"))),
    // BPE tokenizer: train 200 merges on the corpus word table (once per
    // dataset — model-scale driver loop), segment every doc (rows-only —
    // the iterative trainer isn't SQL-expressible; laws in TextPrepSpec)
    "q_bpe_segment" -> ((s, d) => {
      val merges = bpeModels.computeIfAbsent(d, dir =>
        TextOps.bpeTrain(documents(s, dir), col("text"), 200))
      TextOps.bpeSegmentStats(documents(s, d), col("doc_id"), col("text"),
        merges)
    }),
    // BPE segmentation MECHANISM under the FIXED merge table (oracled):
    // the SAME bpeSegmentWord kernel the trained variant runs, with a
    // SQL-expressible model — DuckDB replays per-word greedy merge
    // application as a recursive CTE over space-separated symbol strings
    // (min-rank merge present → one replace() pass → recurse; fixpoint
    // rows are the segmentations), then joins the word-piece table back
    // to the corpus token stream. The trained variant above stays
    // rows-only (the iterative trainer isn't SQL-expressible).
    "q_bpe_segment_fixed" -> ((s, d) =>
      TextOps.bpeSegmentStats(documents(s, d), col("doc_id"), col("text"),
        fixedBpeMerges)),
    // int8 embedding quantization (corpus-scale ANN storage), exploded to
    // scalar rows for the gate comparator (oracled)
    "q_quantize_int8" -> ((s, d) => {
      val (codes, scale) = Similarity.quantizeInt8(col("embedding"))
      // spread: the per-element quantize + posexplode is the whole query
      // and a single-file scan otherwise runs it as one task (r13
      // FunnelScan: 1.29 s in 1 task); no-op at corpus scale
      TextOps.spreadForCpu(embeddings(s, d))
        .select(col("vec_id"), codes.as("q"), round(scale, 6).as("scale"))
        .select(col("vec_id"), col("scale"),
          posexplode(col("q")).as(Seq("pos", "code")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
          col("code"), col("scale"))
    }),
    // embedding covariance: integer micro-unit quantization per component,
    // exact integer moment sums, fixed-shape IEEE covariance expression
    // (oracled — the micro-unit policy makes every cell bit-exact).
    // The moment sums accumulate in 128 bits inside MomentMatrix, but at
    // the QUERY boundary they are cast to BIGINT on both sides: testdata
    // s_ij maxes ~5e14 (decades of long headroom at every SF), and the
    // driver's hash cannot canonicalize DECIMAL(38,0) — dtype contract
    // per CLAUDE.md. fit() consumes the decimal column pre-cast.
    "q_embed_covariance" -> ((s, d) =>
      Pca.covariance(embeddings(s, d), col("embedding"))
        .select(col("i"), col("j"), col("n"),
          col("s_i").cast("long").as("s_i"),
          col("s_j").cast("long").as("s_j"),
          col("s_ij").cast("long").as("s_ij"),
          col("cov"))),
    // PCA projection onto the top 4 components (fit once per dataset —
    // the IVF train/search lesson; rows-only: iterative Jacobi eigen isn't
    // SQL-expressible — orthonormality/spectrum/residual laws in PcaSpec)
    "q_pca_project" -> ((s, d) => {
      val model = pcaModels.computeIfAbsent(d, dir =>
        Pca.fit(embeddings(s, dir), col("embedding"), 4))
      Pca.project(embeddings(s, d), col("vec_id"), col("embedding"), model)
    }),
    // PCA projection MECHANISM against the FIXED orthonormal Hadamard
    // basis (oracled — the q_mahalanobis fixed-model pattern): the same
    // Pca.project map-only pass the trained variant runs, but every
    // mean/component value is a literal on both sides, so the 4
    // fixed-shape 64-term dot folds replay bit-exactly in DuckDB (±0.125
    // products are exact power-of-two scalings). The trained variant
    // above stays rows-only (iterative Jacobi isn't SQL-expressible).
    "q_pca_project_fixed" -> ((s, d) =>
      Pca.project(embeddings(s, d), col("vec_id"), col("embedding"),
        fixedPcaModel)),
    // embedding-space outlier score against a FIXED 4-dim model (the
    // LR/PQ-ADC fixed-model oracle pattern): Mahalanobis quadratic form
    // over the first 4 axes, fixed term order → bit-stable IEEE doubles,
    // map-only plan (oracled)
    "q_mahalanobis" -> ((s, d) =>
      Pca.mahalanobisScore(embeddings(s, d), col("vec_id"),
        col("embedding"), mahaMean, mahaPrecision)),
    // token-budget accounting: per (source, lang) doc/token/char
    // contribution — the mix dashboard behind Sampling.mixToShares (oracled)
    "q_token_budget" -> ((s, d) =>
      documents(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text"))).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))),
    // embedding-space decontamination: bench = vec_id < 20, exact cosine
    // cross-check against the rest of the corpus (oracled)
    "q_embed_contamination" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.crossCosinePairs(
        emb.filter(col("vec_id") >= 20), col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 20), col("vec_id"), col("embedding"), 0.4)
    }),
    // PII redaction: emails/URLs/digit runs → typed placeholders. The PII is
    // synthesized from doc_id on BOTH sides so the oracle checks real
    // replacements, not a no-op pass over PII-free synthetic text (oracled)
    "q_redact_pii" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextOps.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail-"), col("doc_id"),
          lit(".example.com via https://ex.io/d/"), col("doc_id"),
          lit(" ref 1234567"), col("doc_id"))).as("clean_text"))),
    // context-window chunking: 64-token windows, 16-token overlap (oracled)
    "q_chunk_docs" -> ((s, d) =>
      TextOps.chunkDocs(documents(s, d), col("doc_id"), col("text"), 64, 16)),
    // end-to-end corpus clean: exact dedup → near-dup clusters → quality
    // floor. The EXACT jaccard detector is injected so the whole flagship
    // composition is oracle-checkable (recursive-CTE clustering, as in
    // q_dedup_clusters / q_daily_increment); the minhash scale detector
    // drives the same flow in FlowsSpec and the corpus-increment path.
    "q_corpus_clean" -> ((s, d) => {
      val en = TextOps.langMarkers.toMap.apply("en")
      Flows.corpusClean(documents(s, d), col("doc_id"), col("text"), en,
          nearDupPairs = NearDup.jaccardPairs(_, _, _, _))
        .select(col("doc_id"), col("source"), col("quality"))
    }),

    // END-TO-END corpus release: clean (exact dedup → near-dup canonicals →
    // quality floor) → 13-gram Bloom decontamination vs the src0 "bench"
    // slice → 90/5/5 split → per-split deterministic shuffle + round-robin
    // shard. Rows-only (trained minhash detector inside); FlowsSpec pins
    // bit-exact parity with the hand-composed stage chain, and every stage
    // is hash-green oracled on its own (q_corpus_clean,
    // q_bloom_contamination, q_train_val_split, q_global_shuffle).
    "q_corpus_release" -> ((s, d) => {
      val docs = documents(s, d)
      val en = TextOps.langMarkers.toMap.apply("en")
      val bloom = benchBlooms.computeIfAbsent(d, dir =>
        NearDup.benchShingleBloom(
          documents(s, dir).filter(col("source") === "src0"),
          col("doc_id"), col("text")))
      Flows.corpusRelease(docs.filter(col("source") =!= "src0"),
          col("doc_id"), col("text"),
          docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
          en, Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)),
          seed = 42L, numShards = 4, contamTau = 0.5,
          benchBloom = Some(bloom))
        .select(col("doc_id"), col("quality"), col("split"), col("pos"),
          col("shard"))
    }),

    // per-domain frequency cap: URLs synthesized from doc_id on BOTH sides
    // (37 registrable domains), normalized (lowercase scheme/host, default
    // port, fragment, utm params), capped at 5 docs/domain by md5 rank via
    // the bounded top-k partial aggregation (oracled)
    "q_domain_cap" -> ((s, d) => {
      val url = concat(lit("HTTPS://WWW.Sub.Host"), col("doc_id") % 37,
        lit(".COM:443/p/"), col("doc_id"),
        lit("?utm_source=x&q="), col("doc_id"), lit("#frag"))
      val withDom = documents(s, d)
        .select(col("doc_id"), TextOps.normalizeUrl(url).as("url_norm"))
        .withColumn("domain", TextOps.registrableDomain(
          regexp_extract(col("url_norm"), "^[a-z]+://([^/?#]+)", 1)))
      Sampling.capPerKey(withDom, col("doc_id"), col("domain"), 5)
    }),
    // temperature-flattened source resampling (α = 1/2, c = 2): keep rate
    // min(1, 2/√n) per source, md5-uniform keep — √ is correctly-rounded
    // IEEE so the ppm-quantized rate is bit-exact cross-engine (oracled)
    "q_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMix(
        documents(s, d).select(col("doc_id"), col("source")),
        col("doc_id"), col("source"), 2.0)),

    // ---- Training-data pipeline: deterministic mixing ----
    // hash-stratified sample to target shares: md5-ppm keep decision +
    // ppm-floored fractions make the whole mix (counts → binding stratum →
    // per-stratum fraction → keep) reproducible in the oracle engine
    // (oracled; proportions/determinism/monotonicity laws in SamplingSpec)
    "q_stratified_mix" -> ((s, d) =>
      Sampling.mixToShares(documents(s, d), col("doc_id"), col("source"),
        Map("src1" -> 0.4, "src2" -> 0.3, "src3" -> 0.3))),

    // exact-k deterministic sample per stratum (eval-set construction):
    // md5-ranked bounded top-k, oracled as row_number-over-md5-rank (the
    // q_domain_cap pattern); exactness/determinism/disjointness laws in
    // SamplingSpec
    "q_exact_k_sample" -> ((s, d) =>
      Sampling.exactKPerStratum(documents(s, d), col("doc_id"),
        col("source"), 10)),
    // Efraimidis–Spirakis weighted sampling WITHOUT replacement: E-S keys
    // in rank-equivalent integer form (md5 uniform, micro-nat-quantized
    // ln — the lm-score rule — then floorDiv by the integer weight), one
    // distributed top-k; replayed exactly in DuckDB
    "q_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(documents(s, d), col("doc_id"),
        col("n_chars"), k = 100, salt = 7L)),
    // leakage-safe grouped k-fold: md5 fold per source so no group ever
    // straddles a train/eval boundary — pure map-side assignment
    "q_group_kfold" -> ((s, d) =>
      Sampling.groupKFold(documents(s, d), col("source"), k = 5, salt = 7L)
        .select(col("doc_id"), col("source"), col("fold"))),

    // ---- Training-data pipeline: multimodal plumbing ----
    // binary payload + stubbed decode via mapPartitions (schema/batching real)
    "q_media_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(documents(s, d), col("doc_id"), col("text")))
        .select(col("media_id"), col("kind"), col("n_bytes"))),

    // full image path on real pixel data: synthesize a valid BMP per doc,
    // resize through the NN resampler, decode with the real parser
    // (rows-only — binary payloads aren't SQL-expressible). The image
    // feature vector [width, height, channels, per-channel means…] is
    // projected into named scalar columns: the driver's rows-only
    // comparator sorts cell values, so the output must be flat sortable
    // scalars, not arrays.
    "q_media_resize" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        Multimodal.MediaRecord(id, "image", Multimodal.Decoders.syntheticBmp(id))
      }.toDF()
      imageFeatureCols(Multimodal.extractFeatures(
        Multimodal.resizeImages(media, 4, 4), Multimodal.Decoders.media))
    }),

    // full video path on real frame data: synthesize a 4-frame GIF per
    // doc, LZW-decode, sample every 2nd frame with per-frame pixel means
    // (rows-only — binary payloads aren't SQL-expressible). Every 3rd id
    // is a GIF89a whose frames carry GCE transparency (RGBA decode,
    // mean_a populated) and every 6th is ALSO interlaced — the r12
    // semantics through the production rows-only path
    "q_media_frames" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val payload =
          if (id % 3 == 2) {
            val frames = (0 until 4).map(f => Array.tabulate(16)(i =>
              (java.lang.Long.rotateLeft(
                id * 0x9e3779b97f4a7c15L + f, i) & 3).toInt))
            Multimodal.Decoders.gif89FromIndices(4, 4, frames,
              (0 until 4).map(f => Some(((id + f) % 4).toInt)),
              interlaced = id % 6 == 5)
          } else Multimodal.Decoders.syntheticGif87(id, nFrames = 4)
        Multimodal.MediaRecord(id, "video", payload)
      }.toDF()
      Multimodal.sampleFrames(media, everyN = 2)
    }),

    // full PNG path on real compressed pixel data ([[pngMedia]] payloads),
    // Inflater-decode + unfilter with the real parser through the sniffing
    // media dispatcher (rows-only — binary payloads aren't
    // SQL-expressible). Per-channel means project into fixed scalar
    // columns; a grayscale payload's missing channels are NULL.
    "q_media_png" -> ((s, d) =>
      imageFeatureCols(Multimodal.extractFeatures(
        pngMedia(s, d), Multimodal.Decoders.media))),

    // full PNG resize path: synthetic PNG → NN resample through the
    // container-sniffing resize dispatcher → re-encoded PNG (real zlib +
    // CRCs) → real decode — payload transforms compose across containers
    // (rows-only — binary payloads aren't SQL-expressible)
    "q_media_png_resize" -> ((s, d) =>
      imageFeatureCols(Multimodal.extractFeatures(
        Multimodal.resizeImages(pngMedia(s, d), 3, 3),
        Multimodal.Decoders.media))),

    // Permissive media decode (NEW r13 — VERDICT r12 missing #1+#2): a
    // mixed-container corpus frame with DETERMINISTIC per-id corruption —
    // valid PNG/JPEG/BMP/WAV rows decode, WebP/AVIF/TIFF rows classify as
    // named unsupported containers, truncated / CRC-corrupted / garbage
    // rows quarantine with their error class — and the job FINISHES (the
    // loud decoders would kill the task on the first bad row). The
    // (kind, container, ok, error_class) split replays in SQL by the same
    // id law — the q_quarantine recipe applied to binary columns.
    "q_media_quarantine" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val (kind, payload) = ((id % 12).toInt: @unchecked) match {
          case 0 => ("image", Multimodal.Decoders.syntheticPng(id, channels = 1))
          case 1 => ("image", Multimodal.Decoders.syntheticPng(id, channels = 3))
          case 2 => ("image", graft.engine.Jpeg.syntheticJpeg(id))
          case 3 => ("image", Multimodal.Decoders.syntheticBmp(id))
          case 4 => ("image", "RIFF".getBytes("US-ASCII") ++
            Array[Byte](20, 0, 0, 0) ++ "WEBPVP8 ".getBytes("US-ASCII") ++
            new Array[Byte](12))
          case 5 => ("image", Array[Byte](0, 0, 0, 24) ++
            "ftypavif".getBytes("US-ASCII") ++ new Array[Byte](12))
          case 6 => ("image", Array[Byte](0x49, 0x49, 0x2a, 0, 8, 0, 0, 0) ++
            new Array[Byte](8))
          case 7 => ("image", Multimodal.Decoders.syntheticPng(id).take(16))
          case 8 => ("image", {
            val p = Multimodal.Decoders.syntheticPng(id)
            p(p.length - 1) = (p(p.length - 1) ^ 0x5a).toByte; p
          })
          case 9 => ("image", Array.tabulate(24)(i => (if (i < 8) i
            else (java.lang.Long.rotateLeft(
              id * 0x9e3779b97f4a7c15L, i) & 0xff).toInt).toByte))
          case 10 => ("audio", Multimodal.Decoders.syntheticWav(id).take(20))
          case 11 => ("audio", Multimodal.Decoders.syntheticWav(id))
        }
        Multimodal.MediaRecord(id, kind, payload)
      }.toDF()
      Multimodal.extractFeaturesQuarantine(media, Multimodal.Decoders.media)
        .groupBy(col("kind"), col("container"), col("ok"), col("error_class"))
        .agg(count(lit(1)).as("n"), sum(col("media_id")).as("id_sum"))
    }),

    // Permissive FRAME sampling (the flatMap quarantine twin): healthy
    // GIFs emit their per-frame rows, a truncated GIF or a WebP payload
    // emits one quarantine row — counts, id sums, and frame-index sums
    // all replay in SQL by the id law (4 frames per healthy id via a
    // VALUES spine).
    "q_frames_quarantine" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val payload = ((id % 4).toInt: @unchecked) match {
          case 2 => Multimodal.Decoders.syntheticGif87(id).take(24)
          case 3 => "RIFF".getBytes("US-ASCII") ++ Array[Byte](20, 0, 0, 0) ++
            "WEBPVP8 ".getBytes("US-ASCII") ++ new Array[Byte](12)
          case _ => Multimodal.Decoders.syntheticGif87(id, nFrames = 4)
        }
        Multimodal.MediaRecord(id, "video", payload)
      }.toDF()
      Multimodal.sampleFramesQuarantine(media, everyN = 1)
        .groupBy(col("ok"), col("error_class"), col("container"))
        .agg(count(lit(1)).as("n"), sum(col("media_id")).as("id_sum"),
          sum(coalesce(col("frame_ix"), lit(-1L))).as("ix_sum"))
    }),

    // full JPEG path on real entropy-coded data: one valid JPEG per doc —
    // baseline (grayscale/4:4:4/4:2:0 and restart markers cycling by id)
    // and, every 7th id, PROGRESSIVE (SOF2: interleaved DC scan + banded
    // AC scans with EOB runs) — the whole decode surface, Huffman-decode
    // + multi-scan accumulate + dequant + IDCT + color convert with the
    // real parser through the sniffing media dispatcher (rows-only —
    // binary payloads aren't SQL-expressible). Decode arithmetic is
    // pinned by JpegSpec's exact-pixel fixtures and the ImageIO
    // cross-fuzz, both flavors.
    "q_media_jpeg" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val w = 9 + (id % 3).toInt * 4
        val h = 11 + (id % 2).toInt * 6
        val channels = if (id % 4 == 0) 1 else 3
        val payload =
          if (id % 7 == 2)
            graft.engine.Jpeg.syntheticProgressiveJpeg(id, w, h, channels,
              subsample = id % 3 == 0)
          else graft.engine.Jpeg.syntheticJpeg(id, w, h, channels,
            subsample = id % 3 == 0,
            restartEvery = if (id % 5 == 0) 1 else 0)
        graft.engine.Multimodal.MediaRecord(id, "image", payload)
      }.toDF()
      imageFeatureCols(Multimodal.extractFeatures(
        media, Multimodal.Decoders.media))
    }),

    // full audio frame path: synthetic 16-bit PCM WAV per doc (length and
    // channel count vary by id) → per-frame ALL-INTEGER features (abs sum,
    // energy, zero crossings), every 2nd frame — the voice-activity /
    // quality row multiplier (rows-only — binary payloads aren't
    // SQL-expressible; the integer outputs are spec'd bit-exact)
    "q_media_audio_frames" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        Multimodal.MediaRecord(id, "audio",
          Multimodal.Decoders.syntheticWav(id,
            nPerChannel = 40 + (id % 5).toInt * 7,
            channels = 1 + (id % 2).toInt))
      }.toDF()
      Multimodal.sampleAudioFrames(media, frameLen = 16, everyN = 2)
    }),

    // fixed-model twin of the PNG path: samples follow a SQL-expressible
    // integer law, assembled into REAL PNGs (filter-0 scanlines, real
    // zlib + CRCs) and decoded through the REAL Inflater+unfilter parser;
    // the oracle regenerates the law and recomputes per-channel means.
    // 8×4 = 32 pixels/channel ⇒ sums/32 have ≤5 decimal digits — exact at
    // 6dp on both engines (the power-of-two denominator rule)
    "q_png_fixed" -> ((s, d) => {
      import s.implicits._
      val media = pngLawMedia(s, d)
      Multimodal.extractFeatures(media, Multimodal.Decoders.media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("long").as("width"),
          element_at(col("feature"), 2).cast("long").as("height"),
          element_at(col("feature"), 3).cast("long").as("channels"),
          element_at(col("feature"), 4).as("mean_c1"),
          when(size(col("feature")) >= 5, element_at(col("feature"), 5))
            .as("mean_c2"),
          when(size(col("feature")) >= 6, element_at(col("feature"), 6))
            .as("mean_c3"),
          when(size(col("feature")) >= 7, element_at(col("feature"), 7))
            .as("mean_c4"))
    }),

    // the same law table through the REAL NN resize (8×4 → 4×2: source
    // pixel (2x, 2y)) and re-decode — resize arithmetic cross-engine;
    // 8 pixels/channel ⇒ sums/8 exact at 6dp
    "q_png_resize_fixed" -> ((s, d) => {
      import s.implicits._
      val media = pngLawMedia(s, d)
      Multimodal.extractFeatures(
        Multimodal.resizeImages(media, 4, 2), Multimodal.Decoders.media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("long").as("width"),
          element_at(col("feature"), 2).cast("long").as("height"),
          element_at(col("feature"), 3).cast("long").as("channels"),
          element_at(col("feature"), 4).as("mean_c1"),
          when(size(col("feature")) >= 5, element_at(col("feature"), 5))
            .as("mean_c2"),
          when(size(col("feature")) >= 6, element_at(col("feature"), 6))
            .as("mean_c3"),
          when(size(col("feature")) >= 7, element_at(col("feature"), 7))
            .as("mean_c4"))
    }),

    // fixed-model twin of the BMP path: the same sample law assembled
    // into REAL 24-bit BMPs (bottom-up rows, BGR bytes, 4-byte padding —
    // the mappings a reader can get wrong) and decoded by the real parser
    "q_bmp_fixed" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        Multimodal.MediaRecord(id, "image",
          Multimodal.Decoders.bmpFromPixels(8, 4, Array.tabulate(96)(i =>
            (((id * 2654435761L + i * 2246822519L) / 8) % 256).toByte)))
      }.toDF()
      Multimodal.extractFeatures(media, Multimodal.Decoders.media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("long").as("width"),
          element_at(col("feature"), 2).cast("long").as("height"),
          element_at(col("feature"), 3).cast("long").as("channels"),
          element_at(col("feature"), 4).as("mean_c1"),
          element_at(col("feature"), 5).as("mean_c2"),
          element_at(col("feature"), 6).as("mean_c3"))
    }),

    // fixed-model twin of the JPEG path: flat EVEN-valued 8×8 blocks
    // survive baseline JPEG bit-exactly at uniform q=16 (FDCT of a flat
    // block is DC-only; dc = (v-128)/2 exact for even v; reconstruction
    // 2·dc+128 = v), so the real encoder → real decoder round trip is
    // SQL-replayable — the lossy codec oracled on its lossless subspace
    "q_jpeg_fixed" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        def v(b: Int): Int =
          ((((id * 2654435761L + b * 2246822519L) / 8) % 128) * 2).toInt
        val px = Array.tabulate(16 * 8)(i => v((i % 16) / 8))
        Multimodal.MediaRecord(id, "image",
          graft.engine.Jpeg.encode(px, 16, 8, 1, subsample = false,
            restartEvery = 0))
      }.toDF()
      Multimodal.extractFeatures(media, Multimodal.Decoders.media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("long").as("width"),
          element_at(col("feature"), 2).cast("long").as("height"),
          element_at(col("feature"), 3).cast("long").as("channels"),
          element_at(col("feature"), 4).as("mean_c1"))
    }),

    // fixed-model twin of the video frame path: palette indices follow a
    // SQL-expressible law, assembled into REAL GIF87a containers and
    // pushed through the REAL LZW decode → frame-sample → pixel-mean
    // path; the oracle regenerates the law and recomputes the means
    // (255·k/16 has ≤4 decimal digits, so round-to-6dp is exact on both
    // engines — no FP-boundary exposure). The Knuth-style multiplicative
    // mix (then /8 before mod 4) gives varied per-frame color counts — a
    // plain linear law is uniform mod 4 and every mean degenerates to the
    // same value, pinning nothing.
    "q_gif_frames_fixed" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val nf = 1 + (id % 3).toInt
        Multimodal.MediaRecord(id, "video",
          Multimodal.Decoders.gif87FromIndices(4, 4, (0 until nf).map(f =>
            Array.tabulate(16)(i =>
              (((id * 2654435761L + f * 40503L + i * 2246822519L) / 8)
                % 4).toInt))))
      }.toDF()
      Multimodal.sampleFrames(media, everyN = 2)
        .select(col("media_id"), col("frame_ix"), col("width"),
          col("height"), col("mean_r"), col("mean_g"), col("mean_b"))
    }),

    // fixed-model twin of the GIF89a Graphic Control Extension semantics
    // (NEW r12 — VERDICT r11 missing #3): the q_gif_frames_fixed index law
    // through REAL 89a containers whose GCE declares a LAW transparent
    // index for two of every three ids — those frames decode RGBA with
    // alpha 0 exactly where the index law hits the transparent index, so
    // mean_a = 255·opaque/16 replays in SQL (and stays NULL for the
    // plain-87a ids, pinning the no-GCE path in the same oracle). RGB
    // means are transparency-invariant by the declared tRNS-style
    // convention (palette color kept, alpha separate) — the same law as
    // the sibling oracle. 255·k/16 exact at 6dp.
    "q_gif_gce_fixed" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val nf = 1 + (id % 2).toInt
        val frames = (0 until nf).map(f => Array.tabulate(16)(i =>
          (((id * 2654435761L + f * 40503L + i * 2246822519L) / 8)
            % 4).toInt))
        val payload =
          if (id % 3 == 2)
            Multimodal.Decoders.gif87FromIndices(4, 4, frames)
          else
            Multimodal.Decoders.gif89FromIndices(4, 4, frames,
              (0 until nf).map(f =>
                Some((((id * 7919L + f * 104729L) / 4) % 4).toInt)))
        Multimodal.MediaRecord(id, "video", payload)
      }.toDF()
      Multimodal.sampleFrames(media, everyN = 1)
        .select(col("media_id"), col("frame_ix"), col("width"),
          col("height"), col("mean_r"), col("mean_g"), col("mean_b"),
          col("mean_a"))
    }),

    // fixed-model twin of the audio frame path (the q_centroid_assign
    // pattern): samples follow a SQL-expressible integer law, assembled
    // into REAL WAV containers and pushed through the REAL decode →
    // framing → all-integer statistics path; the oracle regenerates the
    // law with a lateral range() and recomputes the identical arithmetic —
    // a cross-engine replay of the frame mechanics, closing the tier where
    // only specs pinned them (VERDICT r9 #7)
    "q_audio_frames_fixed" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val ch = 1 + (id % 2).toInt
        val n = (30 + (id % 4).toInt * 8) * ch // interleaved sample count
        // stride 15923 wraps the 16-bit range every ~4 samples, so frames
        // actually cross zero (a slow stride would leave every sample
        // negative at these lengths and the zc column degenerately 0)
        Multimodal.MediaRecord(id, "audio",
          Multimodal.Decoders.pcmWav(8000, ch, Array.tabulate(n)(i =>
            (((id * 7919 + i * 15923) % 65536) - 32768).toShort)))
      }.toDF()
      Multimodal.sampleAudioFrames(media, frameLen = 16, everyN = 2)
        .select(col("media_id"), col("frame_ix"), col("n_samples"),
          col("abs_sum"), col("sq_sum"), col("zero_crossings"))
    }),

    // fixed-model twin of the PALETTE (color-type-3) PNG path (NEW r11 —
    // VERDICT r10 missing #3): indices follow a SQL-expressible law over a
    // law-valued 8-color PLTE, odd ids carry a 5-entry tRNS (so both the
    // RGB and the RGBA/alpha-default paths are cross-engine pinned),
    // assembled into REAL palette PNGs and decoded through the real
    // Inflater + unfilter + PLTE/tRNS expansion. Every 3rd id packs the
    // SAME indices at bit depth 4 (MSB-first sub-8 scanlines) and every
    // 5th lays them out Adam7-interlaced (NEW r12) — decoded pixels are
    // identical by law, so the one oracle pins the sub-8 unpacking AND
    // the deinterlace too: a packing or pass-layout bug diverges exactly
    // those ids. 32 px ⇒ sums/32 exact at 6dp (power-of-two denominator
    // rule)
    "q_png_palette_fixed" -> ((s, d) => {
      import s.implicits._
      val palette = Array.tabulate(24)(j =>
        (((j / 3) * 53 + (j % 3) * 19) % 256).toByte)
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val idx = Array.tabulate(32)(i =>
          (((id * 2654435761L + i * 2246822519L) / 8) % 8).toByte)
        val alpha =
          if (id % 2 == 1)
            Some(Array.tabulate(5)(c => ((c * 29 + 7) % 256).toByte))
          else None
        Multimodal.MediaRecord(id, "image",
          Multimodal.Decoders.palettePng(8, 4, palette, idx, alpha,
            bitDepth = if (id % 3 == 0) 4 else 8,
            interlaced = id % 5 == 0))
      }.toDF()
      Multimodal.extractFeatures(media, Multimodal.Decoders.media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("long").as("width"),
          element_at(col("feature"), 2).cast("long").as("height"),
          element_at(col("feature"), 3).cast("long").as("channels"),
          element_at(col("feature"), 4).as("mean_c1"),
          when(size(col("feature")) >= 5, element_at(col("feature"), 5))
            .as("mean_c2"),
          when(size(col("feature")) >= 6, element_at(col("feature"), 6))
            .as("mean_c3"),
          when(size(col("feature")) >= 7, element_at(col("feature"), 7))
            .as("mean_c4"))
    }),

    // fixed-model twin of the PROGRESSIVE JPEG path (NEW r11 — VERDICT r10
    // missing #2): the q_jpeg_fixed flat-even-block lossless subspace
    // through the SOF2 container — interleaved DC scan + banded AC scans
    // whose all-zero bands exercise the EOB-run machinery end to end; the
    // multi-scan coefficient accumulation must land exactly where the
    // baseline single scan does, so the q_jpeg_fixed oracle replays it
    "q_jpeg_prog_fixed" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        def v(b: Int): Int =
          ((((id * 2654435761L + b * 2246822519L) / 8) % 128) * 2).toInt
        val px = Array.tabulate(16 * 8)(i => v((i % 16) / 8))
        Multimodal.MediaRecord(id, "image",
          graft.engine.Jpeg.encodeProgressive(px, 16, 8, 1,
            subsample = false))
      }.toDF()
      Multimodal.extractFeatures(media, Multimodal.Decoders.media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("long").as("width"),
          element_at(col("feature"), 2).cast("long").as("height"),
          element_at(col("feature"), 3).cast("long").as("channels"),
          element_at(col("feature"), 4).as("mean_c1"))
    }),

    // fixed-model twin of the GIF ANIMATION CANVAS semantics (NEW r12):
    // real animations ship frame 2+ as sub-screen patches — this pins the
    // composition. A 4x4 screen over the fixed 4-color table: frame 0 is
    // a full-screen law image; frame 1 is a 2x2 patch at (1,1) whose LAW
    // transparent index reveals frame 0 underneath, disposal 2 (clear the
    // rect after snapshot); frame 2 is a 2x2 patch at (2,2) drawn over
    // the partially-cleared canvas — pixels cleared and not redrawn stay
    // transparent and count 0 toward every mean. All palette colors are
    // 0/255 one-hot, so each mean is 255·k/16 — exact at 6dp
    "q_gif_canvas_fixed" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        def lawA(i: Int) =
          (((id * 2654435761L + i * 2246822519L) / 8) % 4).toInt
        def lawB(j: Int) = (((id * 7919L + j * 104729L) / 4) % 4).toInt
        def lawC(j: Int) = (((id * 15923L + j * 7919L) / 8) % 4).toInt
        val t1 = (((id * 40503L) / 8) % 4).toInt
        Multimodal.MediaRecord(id, "video", Multimodal.Decoders.gif89Anim(
          4, 4, Seq(
            Multimodal.Decoders.GifPatch(0, 0, 4, 4,
              Array.tabulate(16)(lawA)),
            Multimodal.Decoders.GifPatch(1, 1, 2, 2,
              Array.tabulate(4)(lawB), transparent = Some(t1),
              disposal = 2),
            Multimodal.Decoders.GifPatch(2, 2, 2, 2,
              Array.tabulate(4)(lawC)))))
      }.toDF()
      Multimodal.sampleCanvasFrames(media, everyN = 1)
        .select(col("media_id"), col("frame_ix"), col("width"),
          col("height"), col("mean_r"), col("mean_g"), col("mean_b"),
          col("mean_a"))
    }),

    // fixed-model twin of the 16-BIT PNG path (NEW r12 — VERDICT r11
    // missing #4): samples follow a SQL-expressible integer law in
    // [0, 65535], assembled into REAL 16-bit PNGs (big-endian two-byte
    // samples, real zlib + CRCs) and decoded through the real path; the
    // decoder's declared scaling law is sample8 = sample16 >> 8, which
    // the oracle replays as // 256. Channels cycle 1/3/4; every other id
    // lays the SAME samples out Adam7-interlaced (identical pixels by
    // law — the palette-oracle trick, so this one oracle pins 16-bit
    // interlace too). 32 px/channel ⇒ sums/32 exact at 6dp
    "q_png16_fixed" -> ((s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val ch = (id % 3) match {
          case 0 => 1
          case 1 => 3
          case _ => 4
        }
        val samples = Array.tabulate(8 * 4 * ch.toInt)(i =>
          (((id * 2654435761L + i * 2246822519L) / 8) % 65536).toInt)
        Multimodal.MediaRecord(id, "image",
          Multimodal.Decoders.png16FromSamples(8, 4, ch.toInt, samples,
            interlaced = id % 2 == 1))
      }.toDF()
      Multimodal.extractFeatures(media, Multimodal.Decoders.media)
        .select(col("media_id"),
          element_at(col("feature"), 1).cast("long").as("width"),
          element_at(col("feature"), 2).cast("long").as("height"),
          element_at(col("feature"), 3).cast("long").as("channels"),
          element_at(col("feature"), 4).as("mean_c1"),
          when(size(col("feature")) >= 5, element_at(col("feature"), 5))
            .as("mean_c2"),
          when(size(col("feature")) >= 6, element_at(col("feature"), 6))
            .as("mean_c3"),
          when(size(col("feature")) >= 7, element_at(col("feature"), 7))
            .as("mean_c4"))
    }),

    // fixed twin of the HLL rollup mechanism (NEW r11 — VERDICT r10 #7,
    // the last rows-only entry without a cross-engine pin): Datasketches
    // HLL is EXACT below its sparse-mode promotion threshold, so on a
    // domain capped at 100 distincts per key the daily-sketch → merge →
    // estimate chain must equal DuckDB's COUNT(DISTINCT) — the MatViewSpec
    // "exact at small n" property lifted into the oracle. The production
    // q_sketch_rollup stays rows-only (real registers aren't replayable).
    "q_sketch_rollup_fixed" -> ((s, d) => {
      val daily = MatView.distinctSketchState(
        events(s, d).withColumn("uid_small", col("user_id") % 100),
        Seq(col("event_type").as("grp"), to_date(col("ts")).as("day")),
        col("uid_small"))
      MatView.sketchEstimate(
        MatView.mergeDistinctSketches(Seq(daily), Seq("grp")))
    }),

    // E3 monthly backfill work list (NEW r11 — VERDICT r10 #6): fetch-
    // target days (missing ∪ incomplete, the backfillTargets law) tagged
    // with their split_by_month chunk clipped to the window — derived
    // per-row, no driver month loop; the scan is range-pruned through
    // eventsRange. The end-to-end flow (refetch → melt → S13 overwrite,
    // idempotent re-run) is pinned in FlowsSpec.
    "q_monthly_backfill" -> ((s, d) =>
      Flows.monthlyBackfillTargets(
        Tables.eventsRange(s, d, "2023-12-20", "2024-02-06")
          .filter(col("event_type") === "error"),
        col("ts"), "2023-12-20", "2024-02-05")),

    // ---- Sinks S13/S14 (SURVEY §2.1) — write, then read the table back ----
    // S13 idempotent date-partition overwrite: initial load days <20, then a
    // corrected re-delivery of days >=15 (doubled) — only those partitions
    // are replaced; the final table state is the oracle.
    "q_sink_partition_overwrite" -> ((s, d) => {
      val path = scratch("sink_s13", d).resolve("tbl").toString
      val ev = events(s, d).select(col("event_id"), col("ts"),
        round(col("value"), 2).as("v"))
      Sink.overwriteDatePartitions(
        ev.filter(to_date(col("ts")) < lit("2024-01-20")), col("ts"), path)
      Sink.overwriteDatePartitions(
        ev.filter(to_date(col("ts")) >= lit("2024-01-15"))
          .withColumn("v", round(col("v") * 2, 2)), col("ts"), path)
      s.read.parquet(path).select(col("event_id"), col("v"))
    }),
    // S14 keyed upsert writer: create, then merge a corrected batch
    "q_sink_upsert" -> ((s, d) => {
      val path = scratch("sink_s14", d).resolve("tbl").toString
      val ev = events(s, d).select(col("event_id"), col("ts"),
        round(col("value"), 2).as("v"))
      Sink.upsertParquet(s, ev.filter(col("ts") < lit("2024-01-20")), path,
        Seq("event_id"), Seq(col("event_id")))
      Sink.upsertParquet(s,
        ev.filter(col("ts") >= lit("2024-01-15"))
          .withColumn("v", round(col("v") * 2, 2)),
        path, Seq("event_id"), Seq(col("event_id")))
      s.read.parquet(path).select(col("event_id"), col("v"))
    }),

    // Surgical keyed delete (right-to-be-forgotten): write the partitioned
    // table, delete every row of users with user_id % 7 == 3, read back.
    // Only partitions containing a victim are rewritten (spec asserts the
    // untouched partitions' files are bit-identical by mtime+name).
    "q_delete_keys" -> ((s, d) => {
      val path = scratch("sink_del", d).resolve("tbl").toString
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), round(col("value"), 2).as("v"))
      Sink.overwriteDatePartitions(ev, col("ts"), path)
      val victims = ev.select(col("user_id"))
        .where(col("user_id") % 7 === 3).distinct()
      Sink.deleteKeys(s, path, "user_id", victims)
      s.read.parquet(path).select(col("event_id"), col("v"))
    }),
    // Row-level error quarantine: events re-delivered as CSV with a
    // deterministic 10% corruption (qty='bad' where event_id % 10 == 0);
    // strict-schema PERMISSIVE read routes bad rows to _corrupt_record
    // instead of dropping or crashing — one scan, nothing lost.
    "q_quarantine" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val dir = scratch("quar", d).resolve("in").toString
      Sink.writeCsv(
        events(s, d).select(col("event_id"),
          when(col("event_id") % 10 === 0, lit("bad"))
            .otherwise(floor(col("value") * 1e6).cast("long").cast("string"))
            .as("qty")),
        dir)
      Ingest.csvFlagQuarantine(s, dir, StructType(Seq(
        StructField("event_id", LongType), StructField("qty", LongType))))
        .groupBy(col("is_quarantined"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty_sum"))
    }),

    // training-corpus shard delivery: size-bounded parquet shards + manifest
    // (rows-only — shard/file accounting is not SQL-expressible; the summary
    // invariants are deterministic because the hash partitioning is).
    // Cap/total/manifest laws spec'd in SinkIngestSpec.
    "q_write_shards" -> ((s, d) => {
      val path = scratch("shards", d).resolve("tbl").toString
      val m = Sink.writeShards(
        documents(s, d).repartition(4, col("doc_id")), path, 100,
        TextOps.tokenCount(col("text")))
      m.agg(count(lit(1)).as("n_shards"), sum(col("rows")).as("total_rows"),
        max(col("rows")).as("max_shard_rows"),
        sum(col("weight")).as("total_tokens"))
    }),

    // ---- Structured Streaming (SURVEY §2.8) ----
    // A6 as a stream: watermarked hourly tumbling windows over a file source,
    // run to completion with AvailableNow; windows whose end precedes the
    // final watermark (max ts - 2h) are emitted — that closed-form is the
    // oracle.
    "q_stream_hourly" -> ((s, d) => {
      val out = graft.streaming.Streams.hourlySumStream(
        streamingEvents(s, d), "ts", col("event_type"), col("value"))
      runAvailableNow(s, out, "hourly", d,
        _.select(col("bucket"), col("grp"), round(col("total"), 2).as("total")))
    }),
    // the billing tier's streaming stage: daily TOU band cells emitted
    // once per (user, day) when the watermark clears the day — closed
    // form: the batch daily rollup restricted to days whose end clears
    // the final watermark max(ts) - lateness (oracled)
    "q_stream_billing" -> ((s, d) => {
      val out = graft.streaming.Streams.touDailyStream(
        streamingEvents(s, d), "ts", col("user_id"), col("value"))
      runAvailableNow(s, out, "billing", d, df => df)
    }),
    // Sliding-window stream (2 h windows every 1 h): each event lands in 2
    // overlapping windows; append emits windows whose END clears the
    // watermark — closed form: per-event expansion onto both covering
    // window starts, same HAVING rule as the tumbling oracle
    "q_stream_slide" -> ((s, d) => {
      val out = graft.streaming.Streams.slidingSumStream(
        streamingEvents(s, d), "ts", col("event_type"), col("value"))
      runAvailableNow(s, out, "slide", d,
        _.select(col("win_start"), col("grp"),
          round(col("total"), 2).as("total"), col("n")))
    }),
    // Stream-stream interval join: click events enriched with same-user view
    // events up to 1 h earlier. AvailableNow over one file = one micro-batch,
    // so the inner join emits every match — the closed-form oracle is the
    // plain interval join. Joined timestamps compare at MICROsecond
    // precision on both sides (the stream source truncates nanos → micros;
    // the oracle floor-divides raw nanos the same way).
    "q_stream_interval_join" -> ((s, d) => {
      val left = streamingEvents(s, d).filter(col("event_type") === "click")
        .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
          col("event_id").as("l_id"))
      val right = streamingEvents(s, d).filter(col("event_type") === "view")
        .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
          col("event_id").as("r_id"))
      val joined = graft.streaming.Streams.intervalJoinStreams(
        left, "l_user", "l_ts", right, "r_user", "r_ts")
      runAvailableNow(s, joined, "ivjoin", d,
        _.select(col("l_id"), col("r_id")))
    }),
    // Streaming idempotent re-delivery: dropDuplicates within the watermark
    // horizon. One AvailableNow batch → plain DISTINCT is the closed form
    // (µs-integer timestamps on both sides).
    "q_stream_dedup" -> ((s, d) => {
      val out = graft.streaming.Streams.dedupStream(
        streamingEvents(s, d), "ts", Seq("user_id", "event_type"))
      runAvailableNow(s, out, "dedup", d,
        _.select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us")))
    }),
    // Typed stateful resume tracker as a stream (Update mode): per-key
    // high-watermark + hour coverage of the most recent day. One batch →
    // one update per key; the closed-form batch rollup is the oracle
    // (epoch-millis integers on both sides — the tracker is ms-precision).
    "q_stream_resume" -> ((s, d) => {
      val out = graft.streaming.Streams.resumeTracker(
        streamingEvents(s, d), "ts", "user_id")
      runAvailableNow(s, out, "resume", d,
        _.select(col("grp"), unix_millis(col("lastTs")).as("last_ts_ms"),
          col("hoursSeen").cast("long").as("hours_seen"),
          col("lastDay").as("last_day")),
        graft.streaming.Streams.resumeTrackerMode)
    }),
    // Checkpointed restart (§2.8 incremental cron semantics): run 2 over
    // the SAME checkpoint emits only the windows newly closed by the
    // advanced watermark — totals for windows straddling the day cut carry
    // run-1 state across the restart. See [[runRestart]].
    "q_stream_restart" -> ((s, d) => runRestart(s, d)),
    // LEFT OUTER stream-stream interval join over a checkpointed two-run
    // rig: run 2's advanced watermark both joins the new day and NULL-emits
    // every provably-unmatchable click (all admissible view times below the
    // watermark). See [[runLeftJoinRestart]] for the closed form + measured
    // boundary margins.
    "q_stream_left_join" -> ((s, d) => runLeftJoinRestart(s, d)),
    // foreachBatch keyed-upsert sink over two cron ticks + one checkpoint:
    // at-least-once batch re-delivery made exactly-once by the last-batch
    // marker; the folded table equals the global keep-last per user.
    "q_stream_sink_upsert" -> ((s, d) => runStreamUpsert(s, d)),
    // E1 ingestion as a stream: wide daily-PV deliveries melted per
    // micro-batch into the idempotent date-partition sink (S13) across two
    // cron ticks with an overlapping corrected re-delivery — see
    // runStreamMeltIngest for the closed form that is the oracle
    "q_stream_melt_ingest" -> ((s, d) => runStreamMeltIngest(s, d)),
    // Streaming flatline (stuck-meter) alarm: one alarm per stuck run,
    // fired at the reading where the same-bucket run first reaches 3 —
    // the VEE stale-register check in real time; two longs of state per
    // key. Single-batch AvailableNow == the batch gaps-and-islands
    // closed form with rank-within-island == 3 (oracled)
    "q_stream_flatline" -> ((s, d) => {
      val out = graft.streaming.Streams.flatlineStream(
        streamingEvents(s, d), "ts", "user_id", "value",
        quantCents = 5000L, minLen = 3)
      runAvailableNow(s, out, "flatline", d,
        _.select(col("grp"), col("tsUs").as("ts_us"), col("bucket"),
          col("runLen").as("run_len")))
    }),
    // Streaming degree-day grain: the M&V regression's daily input cells
    // computed incrementally — temp rows ('view') close as (day, hdd,
    // cdd) under the _temp sentinel, load rows as per-key (day,
    // load_cents); the batch regression consumes the closed cells.
    // Closed form: the batch daily rollup over days whose end clears the
    // final watermark (the q_stream_billing oracle shape).
    "q_stream_degree_day" -> ((s, d) => {
      val out = graft.streaming.Streams.degreeDayDailyStream(
        streamingEvents(s, d), "ts", col("event_type") === "view",
        col("event_type"), col("value"), baseCents = 15000L)
      runAvailableNow(s, out, "degree_day", d, df => df)
    }),
    // Streaming historical-mean fill: W5 (the reference's E2 imputation
    // flow) in real time — per micro-batch, readings left-join the
    // BROADCAST (key, month, day, hour) historical-mean lookup, then the
    // key mean, then the global mean (the batch coalesce chain).
    // Calibration = first half of January (the q_stream_cusum window);
    // micro-unit Euclidean floor means, so the whole chain is bit-exact
    // cross-engine. Stateless (the enrichStream regime) — the oracle is
    // the batch fallback-chain replay over ALL events, no watermark gate.
    "q_stream_hist_fill" -> ((s, d) => {
      val cal = Tables.eventsRange(s, d,
          "2024-01-01 00:00:00", "2024-01-16 00:00:00")
        .filter(col("value").isNotNull)
        .select(col("user_id").cast("string").as("grp"),
          month(col("ts")).as("m"), dayofmonth(col("ts")).as("d"),
          hour(col("ts")).as("h"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("vu"))
      val hist = cal.groupBy(col("grp"), col("m"), col("d"), col("h"))
        .agg(sum(col("vu")).as("su"), count(lit(1)).as("n"))
        .withColumn("hist_micro", expr("(su - pmod(su, n)) div n"))
        .select(col("grp"), col("m"), col("d"), col("h"), col("hist_micro"))
      val km = cal.groupBy(col("grp"))
        .agg(sum(col("vu")).as("su"), count(lit(1)).as("n"))
        .withColumn("key_micro", expr("(su - pmod(su, n)) div n"))
        .select(col("grp"), col("key_micro"))
      // corpus-mean fallback: one aggregate row to the driver (the
      // cusum-calibration model-sized pattern)
      val g = cal.agg(sum(col("vu")).as("su"), count(lit(1)).as("n")).first()
      val globalMicro =
        if (g.isNullAt(0) || g.getLong(1) == 0L) 0L
        else Math.floorDiv(g.getLong(0), g.getLong(1))
      val out = graft.streaming.Streams.histFillStream(
        streamingEvents(s, d), "ts", col("user_id"), col("value"),
        hist, km, globalMicro)
      runAvailableNow(s, out, "hist_fill", d, df => df)
    }),
    // Streaming demand-peak alerts: per-meter max-hourly-so-far per
    // calendar cycle in three longs of state — every CLOSED hour that
    // sets a new positive cycle maximum emits one row (the real-time
    // "new demand peak" alert behind Billing.demandCharge; closes the
    // VEE + billing-in-real-time story with q_stream_flatline /
    // q_stream_billing). Single-batch AvailableNow == the batch closed
    // form: hourly sums minus each key's open last hour, peaks strictly
    // above greatest(0, prior closed hours of the month) — the oracle.
    // SINGLE-BATCH ASSUMPTION (ADVICE r8): that equivalence holds because
    // streamingEvents exposes exactly ONE parquet file, which AvailableNow
    // processes as one micro-batch (well under the file source's
    // maxFilesPerTrigger default of 1000), so no key's rows can cross
    // batches out of hour order into the stream's late-drop path. A
    // multi-file source here would need the rig extended the
    // q_stream_restart way (explicit per-tick files, oracle restricted to
    // hours closed by each tick) — not silently reuse this oracle.
    "q_stream_demand_peak" -> ((s, d) => {
      val out = graft.streaming.Streams.demandPeakStream(
        streamingEvents(s, d), "ts", "user_id", "value")
      runAvailableNow(s, out, "demand_peak", d,
        _.select(col("grp"), col("month"), col("hourUs").as("hour_us"),
          col("peakCents").as("peak_cents")))
    }),
    // Per-key streaming anomaly alerts (flatMapGroupsWithState, Append):
    // a reading deviating > 50.00 from the key's RUNNING mean alerts, with
    // the mean accumulated in (ts, cents) order — integer cross-multiplied
    // test, so the single-batch run equals the cumulative-window SQL
    // closed form exactly.
    "q_stream_alerts" -> ((s, d) => {
      val out = graft.streaming.Streams.alertStream(
        streamingEvents(s, d), "ts", "event_type", "value", 5000L)
      runAvailableNow(s, out, "alerts", d,
        _.select(col("grp"), col("tsUs").as("ts_us"),
          col("vCents").as("v_cents"), col("nPrior").as("n_prior"),
          col("sumPriorCents").as("sum_prior_cents")),
        graft.streaming.Streams.alertStreamMode)
    }),
    // Streaming CUSUM level-shift alarms: per-key FIXED calibration
    // (mu, mad from the first half of January — model-sized collect, the
    // IVF-centroid pattern), clamped recursions carried as four longs of
    // state. Single-batch AvailableNow == the cumulative ROWS-frame SQL
    // closed form (explicit frames — RANGE would merge tied peers).
    "q_stream_cusum" -> ((s, d) => {
      val calDf = Tables.eventsRange(s, d,
          "2024-01-01 00:00:00", "2024-01-16 00:00:00")
        .filter(col("value").isNotNull)
        .select(col("event_type").as("k"),
          floor(col("value") * lit(100.0)).cast("long").as("vc"))
      // sign-safe floor (s - pmod(s, n)) div n: matches the batch
      // cusumChangepoints floorDiv convention and the oracle's `//`
      // unconditionally, not just on non-negative readings
      val muDf = calDf.groupBy(col("k"))
        .agg(sum(col("vc")).as("s"), count(lit(1)).as("n"))
        .withColumn("mu", expr("(s - pmod(s, n)) div n"))
      val madDf = calDf.join(muDf.select(col("k"), col("mu"), col("n")), "k")
        .groupBy(col("k"), col("mu"), col("n"))
        .agg(sum(abs(col("vc") - col("mu"))).as("sa"))
        .withColumn("mad", expr("(sa - pmod(sa, n)) div n"))
      val calib = madDf.select("k", "mu", "mad").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val stream = streamingEvents(s, d)
        .filter(col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp"))
      val out = graft.streaming.Streams.cusumStream(stream, "ts",
        "event_type", "value", calib, hMult = 3)
      runAvailableNow(s, out, "cusum", d,
        _.select(col("grp"), col("tsUs").as("ts_us"),
          col("vCents").as("v_cents"), col("up").as("up_cents"),
          col("down").as("down_cents"), col("direction")),
        graft.streaming.Streams.cusumStreamMode)
    }),
    // Stream-static dim enrichment (J2 as a stream): events joined to the
    // customer dim on user_id. Stateless — no watermark, no join state; the
    // static side is re-planned (and broadcast) each micro-batch. One
    // AvailableNow batch == the plain batch left join, which is the oracle.
    "q_stream_enrich" -> ((s, d) => {
      val dim = Tables.customer(s, d).select(col("c_custkey").as("user_id"),
        col("c_name"), col("c_mktsegment"))
      val out = graft.streaming.Streams.enrichStream(
        streamingEvents(s, d), dim, Seq("user_id"))
      runAvailableNow(s, out, "enrich", d,
        _.select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment")))
    }),
    // Session windows as a stream: gap-closed per-key sessions, append mode —
    // sessions whose end (last event + gap) precedes the final watermark are
    // emitted. Oracle = the closed-form batch sessionization (gaps-and-
    // islands with session_window's STRICT merge rule: a gap exactly equal
    // to 30 min splits) with the watermark cutoff applied.
    "q_stream_sessions" -> ((s, d) => {
      val out = graft.streaming.Streams.sessionSumStream(
        streamingEvents(s, d), "ts", col("event_type"), col("value"))
      runAvailableNow(s, out, "sessions", d,
        _.select(col("session_start"), col("session_end"), col("grp"),
          round(col("total"), 2).as("total"), col("n")))
    }),

    // ---- Windows (SURVEY §2.5) ----
    // A10 per-day summary stats as window aggregates (daily_pv_automation.py:176-179)
    "q_daily_stats_window" -> ((s, d) =>
      Analytics.dailyStatsWindow(events(s, d), col("event_type"), col("ts"),
        col("value"))),
    // P11 sliding recency window as a per-row RANGE-frame rolling aggregate
    "q_rolling_window" -> ((s, d) =>
      Analytics.rollingByKey(events(s, d), col("event_type"), col("ts"),
        col("value"), days = 7)),
    // lag-based per-key delta (explicit total order)
    "q_delta_lag" -> ((s, d) =>
      Analytics.deltaVsPrev(events(s, d), col("event_type"), col("ts"),
        col("event_id"), col("value"))),
    // integer-exact EWMA smoothing per user (decay 1/2, depth 20): cents ×
    // power-of-two weights summed in BIGINT — bit-identical cross-engine,
    // one Window operator for all 21 lags
    "q_ewma" -> ((s, d) =>
      Analytics.ewmaScaledByKey(events(s, d), col("user_id"), col("ts"),
          col("event_id"), col("value"))
        .select(col("event_id").as("id"), col("user_id"),
          col("ewma_scaled"))),
    // cumulative rollover-meter → interval consumption: the register is
    // SIMULATED from events (running cents sum mod 1e5 per user — a wrapping
    // mechanical counter), then meterIntervals recovers per-tick usage with
    // wrap healing; all integer, oracled
    "q_meter_intervals" -> ((s, d) => {
      val m = 100000L
      val run = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val simulated = events(s, d)
        .withColumn("_reading", pmod(
          sum(round(col("value") * 100, 0).cast("long")).over(run), lit(m)))
      Analytics.meterIntervals(simulated, col("user_id"), col("ts"),
        col("event_id"), col("_reading"), wrapModulus = Some(m))
    }),
    // meter cadence profile: exact integer stats of inter-arrival gaps
    // per key (doubled median, rank-exact p95, max) — the reporting-
    // regularity check; one key-window shuffle (oracled)
    "q_cadence_profile" -> ((s, d) =>
      Analytics.cadenceProfile(events(s, d), col("user_id"), col("ts"),
        col("event_id"))),
    // fleet-level VEE rollup: one row of meter counts by failure class
    // (90% completeness floor) — the ops-dashboard summary (oracled)
    "q_vee_fleet" -> ((s, d) =>
      Analytics.veeFleetRollup(
        Analytics.veeScorecard(events(s, d), col("user_id"), col("ts"),
          col("event_id"), col("value")))),
    // VEE stale-register check: maximal runs of >= 3 ticks in the same
    // 50-unit bucket per user under the (ts, event_id) total order —
    // gaps-and-islands, floorDiv bucketing (oracled, Euclidean idiom)
    "q_stuck_meter" -> ((s, d) =>
      Analytics.stuckRuns(events(s, d), col("user_id"), col("ts"),
        col("event_id"), col("value"), quantCents = 5000L, minLen = 3)),
    // VEE quality scorecard: one row per meter — row/null counts, own-
    // window calendar completeness ppm, spike count, longest stuck run
    // (all integer; oracled)
    "q_vee_scorecard" -> ((s, d) =>
      Analytics.veeScorecard(events(s, d), col("user_id"), col("ts"),
        col("event_id"), col("value"))),
    // step-hold time-weighted daily mean per user: the honest average for
    // irregular sensor ticks; integer ms-weights, floor division (oracled)
    "q_twa_daily" -> ((s, d) =>
      Analytics.timeWeightedMeanDaily(events(s, d), col("user_id"),
        col("ts"), col("event_id"), col("value"))),
    // monthly tariff statement: TOU energy split (weekday 9-21h peak)
    // priced at declared integer micro-rates + demand charge on the peak
    // hour of the cycle — all BIGINT money math (floor-cents energy,
    // literal rates), two shrinking-key partial-agg shuffles (oracled)
    "q_billing_statement" -> ((s, d) =>
      Billing.billingStatement(events(s, d), col("user_id"), col("ts"),
        col("value"))),
    // gap-based sessionization per user, 30-minute timeout (oracled)
    "q_sessionize" -> ((s, d) =>
      Analytics.sessionize(events(s, d), col("user_id"), col("ts"),
        col("value"), 30)),
    // robust per-key anomalies: > 3 MADs from the key median, integer cents
    // (oracled — exact arithmetic, no float boundary)
    "q_anomalies" -> ((s, d) =>
      Analytics.robustAnomalies(events(s, d), col("user_id"),
        col("event_id"), col("value"), 3)),
    // W7 conditional suffix by group property (namdong_merge_pv_data.py:93-104)
    "q_suffix_multi_unit" -> ((s, d) =>
      Analytics.suffixWhenMultiUnit(
        part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("p_brand"), col("p_size"))
        .select(col("p_partkey"), col("display_name"))),
  )

  /** Shared SQL replay of the fixed 64-bit SRP-LSH pipeline (sign folds →
    * pack → band → Hamming cut → exact rerank), used verbatim by
    * `q_srp_fixed` and, with the batch-membership predicate appended, by
    * `q_srp_incr_fixed` — one text, so the two oracles can't drift. */
  private def srpFixedSql(finalPred: String): String = {
    val planes = Similarity.hyperplanes(64, 64)
    val maxHam = Similarity.hammingCut(0.4, 64)
    val elems = (1 to 64)
      .map(k => s"CAST(v0[$k] AS DOUBLE) AS e$k").mkString(",\n           ")
    // each bit's sign fold binds as its OWN column first: DuckDB's
    // expression binder recurses ~1 level per binary op and caps at 128,
    // so a 64-term fold nested inside a 64-term CASE sum blows the
    // limit — two CTE levels keep every expression ≤ ~64 deep while
    // preserving the exact left-fold order
    val dotCols = (0 until 64).map { j =>
      val fold = (0 until 64).map { k =>
        (if (planes(j)(k) > 0) "+ " else "- ") + s"e${k + 1}"
      }.mkString(" ")
      s"($fold) AS d$j"
    }.mkString(",\n           ")
    val bitTerms = (0 until 64).map { j =>
      val weight =
        if (j == 63) "-9223372036854775807 - 1" else (1L << j).toString
      s"(CASE WHEN d$j >= 0 THEN $weight ELSE 0 END)"
    }.mkString("\n         + ")
    s"""WITH e0 AS (SELECT vec_id, embedding AS v0,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings),
       c AS (SELECT vec_id, v,
         $elems
         FROM e0),
       dots AS (SELECT vec_id, v,
         $dotCols
         FROM c),
       sig AS (SELECT vec_id, v, CAST(
         $bitTerms
         AS BIGINT) AS sg FROM dots),
       bnd AS (SELECT vec_id, sg, j.j AS band, (sg >> (8 * j.j)) & 255
                 AS chunk
               FROM sig CROSS JOIN (SELECT unnest(range(8)) AS j) j),
       cand AS (SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
                FROM bnd l JOIN bnd r
                  ON l.band = r.band AND l.chunk = r.chunk
                     AND l.vec_id < r.vec_id
                WHERE bit_count(xor(l.sg, r.sg)) <= $maxHam),
       p AS (SELECT id1, id2,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos
             FROM cand JOIN sig a ON a.vec_id = cand.id1
                       JOIN sig b ON b.vec_id = cand.id2)
       SELECT id1, id2, cos FROM p WHERE cos >= 0.4$finalPred"""
  }

  /** DuckDB equivalents over the same parquet tables (see Verify). The
    * r7 SQL-surface mirrors (q_sql_hourly / q_sql_dedup_last /
    * q_sql_cosine_topk) reuse their DataFrame twin's oracle verbatim —
    * appended after this literal so the shared text can't drift. */
  def oracleSql: Map[String, String] = baseOracles ++ Map(
    "q_sql_hourly" -> baseOracles("q_hourly_by_type"),
    "q_sql_dedup_last" -> baseOracles("q_dedup_keep_last"),
    "q_sql_cosine_topk" -> baseOracles("q_ann_cosine_topk"),
    "q_sql_sum_range" -> baseOracles("q_sum_over_range"),
    "q_sql_dim_activity" -> baseOracles("q_dim_activity_range"),
    // the star-alternation CC engine shares the propagation variant's
    // oracle VERBATIM — the hash match is the cross-engine parity proof
    "q_dedup_clusters_star" -> baseOracles("q_dedup_clusters"),
    // r9 mirrors: the remaining reference SQL consumers (Grafana recency
    // panel, automation watermark + backfill probes) through spark.sql
    "q_sql_watermark" -> baseOracles("q_watermark"),
    "q_sql_incomplete_days" -> baseOracles("q_incomplete_days"),
    "q_sql_rolling" -> baseOracles("q_rolling_window"),
    "q_sql_embed_norm" ->
      """SELECT vec_id,
         round(list_inner_product(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS norm_sq
         FROM embeddings""",
    // the fleet rollup wraps the scorecard oracle VERBATIM (shared text,
    // can't drift) in a one-row classification aggregate
    "q_vee_fleet" ->
      s"""WITH sc AS (${baseOracles("q_vee_scorecard")})
         SELECT CAST(COUNT(*) AS BIGINT) AS n_meters,
           CAST(SUM(CASE WHEN completeness_ppm < 900000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_incomplete,
           CAST(SUM(CASE WHEN n_spikes > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_spiky,
           CAST(SUM(CASE WHEN longest_stuck > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_stuck,
           CAST(SUM(CASE WHEN n_nulls > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_with_nulls
         FROM sc""",
  )

  private def baseOracles: Map[String, String] = Map(
    "q_sql_topk" ->
      """SELECT l_suppkey AS grp,
         round(SUM(l_extendedprice * (1 - l_discount)), 2) AS total
         FROM lineitem GROUP BY 1 ORDER BY total DESC, grp LIMIT 10""",
    "q_topk_revenue" ->
      """SELECT l_suppkey AS grp,
         round(SUM(l_extendedprice * (1 - l_discount)), 2) AS total
         FROM lineitem GROUP BY 1 ORDER BY total DESC, grp LIMIT 10""",
    "q_heavy_hitters" ->
      """WITH k AS (SELECT CASE WHEN l_linenumber <= 3
                       THEN 'hot_' || (l_orderkey % 20)
                       ELSE 'cold_' || (l_orderkey % 7919) END AS key
                    FROM lineitem),
         tot AS (SELECT count(*) AS n FROM k)
         SELECT key, count(*)::BIGINT AS cnt FROM k GROUP BY 1
         HAVING count(*) * 1000000 >= (SELECT n FROM tot) * 3000""",
    "q_hourly_by_type" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type AS grp,
         round(SUM(value), 2) AS total
         FROM events GROUP BY 1, 2""",
    // timezone(tz, TIMESTAMP→TIMESTAMPTZ) then timezone(tz, TIMESTAMPTZ→
    // TIMESTAMP): the inner call pins the instant to UTC independent of the
    // DuckDB session TimeZone, the outer renders Seoul wall time
    "q_hourly_kst" ->
      """SELECT date_trunc('hour', timezone('Asia/Seoul', timezone('UTC', ts)))
           AS bucket_local,
         event_type AS grp, round(SUM(value), 2) AS total
         FROM events GROUP BY 1, 2""",
    "q_watermark" ->
      """SELECT user_id AS grp, max(ts) AS last_ts, max(event_type) AS carry
         FROM events GROUP BY 1""",
    "q_day_completeness" ->
      """SELECT CAST(ts AS DATE) AS day,
         COUNT(DISTINCT EXTRACT(hour FROM ts)) AS n_hours
         FROM events GROUP BY 1 HAVING COUNT(DISTINCT EXTRACT(hour FROM ts)) >= 24""",
    "q_hist_mean_mdh" ->
      """WITH g AS (
           SELECT event_type AS grp, CAST(EXTRACT(month FROM ts) AS BIGINT) AS m,
             CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
             SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS s,
             COUNT(value) AS n
           FROM events GROUP BY 1, 2, 3, 4)
         SELECT grp, m, d, h,
           CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS hist_avg_micro
         FROM g""",
    "q_global_stats" ->
      """SELECT round(AVG(value), 6) AS mean_v,
         round(STDDEV_SAMP(value), 6) AS std_v,
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         COUNT(*) AS n_rows
         FROM events""",
    "q_countdistinct_by_group" ->
      """SELECT event_type AS grp, COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1""",
    "q_sum_over_range" ->
      """SELECT round(SUM(value), 2) AS total, COUNT(*) AS n FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts <  TIMESTAMP '2024-01-20 00:00:00'""",
    "q_distinct_types" ->
      "SELECT DISTINCT event_type AS t FROM events",
    "q_percentiles" ->
      """SELECT event_type AS grp,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
         FROM events GROUP BY 1""",
    "q_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         t0 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY 1),
         t1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN t0 ON t0.user_id = e.user_id
                WHERE e.event_type = 'click' AND e.ts >= t0.t GROUP BY 1),
         t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN t1 ON t1.user_id = e.user_id
                WHERE e.event_type = 'purchase' AND e.ts >= t1.t GROUP BY 1),
         n AS (SELECT (SELECT count(*) FROM u) AS total,
                      (SELECT count(*) FROM t0) AS n0,
                      (SELECT count(*) FROM t1) AS n1,
                      (SELECT count(*) FROM t2) AS n2)
         SELECT CAST(0 AS BIGINT) AS stage_ix, 'view' AS stage,
           CAST(n0 AS BIGINT) AS n_users,
           CAST(CASE WHEN total > 0 THEN (n0 * 1000000) // total
                     ELSE 0 END AS BIGINT) AS conv_ppm FROM n
         UNION ALL SELECT 1, 'click', CAST(n1 AS BIGINT),
           CAST(CASE WHEN n0 > 0 THEN (n1 * 1000000) // n0
                     ELSE 0 END AS BIGINT) FROM n
         UNION ALL SELECT 2, 'purchase', CAST(n2 AS BIGINT),
           CAST(CASE WHEN n1 > 0 THEN (n2 * 1000000) // n1
                     ELSE 0 END AS BIGINT) FROM n""",
    "q_retention" ->
      """WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
                    FROM events GROUP BY 1)
         SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7
             AS BIGINT) AS offset_weeks,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
         FROM events e JOIN f ON f.user_id = e.user_id
         GROUP BY 1, 2""",
    "q_winsorize" ->
      """WITH b AS (SELECT event_type AS grp,
             CAST(floor(quantile_cont(value, 0.05) * 100) AS BIGINT) AS lo,
             CAST(floor(quantile_cont(value, 0.95) * 100) AS BIGINT) AS hi
           FROM events GROUP BY 1)
         SELECT e.event_id AS id, e.event_type AS grp,
           least(greatest(CAST(floor(e.value * 100) AS BIGINT), b.lo), b.hi)
             AS v_cents
         FROM events e JOIN b ON b.grp = e.event_type""",
    // 3 damped rounds unrolled CTE-for-CTE; every step BIGINT floor
    // arithmetic, so the replay is bit-exact (no float order to diverge)
    "q_pagerank" ->
      """WITH e AS (
           SELECT DISTINCT src, dst FROM (
             SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
             FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             UNION ALL
             SELECT 'c' || c_custkey, 'n' || c_nationkey FROM customer)),
         o AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         c1 AS (SELECT e.dst AS node, SUM(r0.r // o.d) AS c
                FROM e JOIN o ON o.src = e.src
                JOIN r0 ON r0.node = e.src GROUP BY 1),
         r1 AS (SELECT n.node,
                  (15 * CAST(1000000000 AS BIGINT) + 85 * COALESCE(c1.c, 0))
                    // 100 AS r
                FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
         c2 AS (SELECT e.dst AS node, SUM(r1.r // o.d) AS c
                FROM e JOIN o ON o.src = e.src
                JOIN r1 ON r1.node = e.src GROUP BY 1),
         r2 AS (SELECT n.node,
                  (15 * CAST(1000000000 AS BIGINT) + 85 * COALESCE(c2.c, 0))
                    // 100 AS r
                FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
         c3 AS (SELECT e.dst AS node, SUM(r2.r // o.d) AS c
                FROM e JOIN o ON o.src = e.src
                JOIN r2 ON r2.node = e.src GROUP BY 1),
         r3 AS (SELECT n.node,
                  (15 * CAST(1000000000 AS BIGINT) + 85 * COALESCE(c3.c, 0))
                    // 100 AS r
                FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
         SELECT node, CAST(r AS BIGINT) AS rank_ppb FROM r3""",
    // dangling-redistribution variant at iters=2: nn/dang are the node
    // count and the no-out-edge node set; each round's share is the
    // one-row dangling-mass sum floor-split across nodes (dm // n in
    // DuckDB == Spark div — both operands non-negative)
    "q_pagerank_dangling" ->
      """WITH e AS (
           SELECT DISTINCT src, dst FROM (
             SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
             FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             UNION ALL
             SELECT 'c' || c_custkey, 'n' || c_nationkey FROM customer)),
         o AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         dang AS (SELECT node FROM nodes
                  WHERE node NOT IN (SELECT src FROM e)),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         d1 AS (SELECT CAST(COALESCE(SUM(r0.r), 0) AS BIGINT) AS dm
                FROM r0 JOIN dang USING (node)),
         c1 AS (SELECT e.dst AS node, SUM(r0.r // o.d) AS c
                FROM e JOIN o ON o.src = e.src
                JOIN r0 ON r0.node = e.src GROUP BY 1),
         r1 AS (SELECT n.node,
                  (15 * CAST(1000000000 AS BIGINT)
                   + 85 * (COALESCE(c1.c, 0) + d1.dm // nn.n)) // 100 AS r
                FROM nodes n LEFT JOIN c1 ON c1.node = n.node
                CROSS JOIN d1 CROSS JOIN nn),
         d2 AS (SELECT CAST(COALESCE(SUM(r1.r), 0) AS BIGINT) AS dm
                FROM r1 JOIN dang USING (node)),
         c2 AS (SELECT e.dst AS node, SUM(r1.r // o.d) AS c
                FROM e JOIN o ON o.src = e.src
                JOIN r1 ON r1.node = e.src GROUP BY 1),
         r2 AS (SELECT n.node,
                  (15 * CAST(1000000000 AS BIGINT)
                   + 85 * (COALESCE(c2.c, 0) + d2.dm // nn.n)) // 100 AS r
                FROM nodes n LEFT JOIN c2 ON c2.node = n.node
                CROSS JOIN d2 CROSS JOIN nn)
         SELECT node, CAST(r AS BIGINT) AS rank_ppb FROM r2""",
    // HITS replay, 2 iterations: auth_raw = Σ hub over in-edges, hub_raw =
    // Σ auth over out-edges, each half-step rescaled raw // max(1, max//R)
    // (floor at every step; round-1 hub is the constant R so auth_raw1 is
    // R·indeg straight off the edges — same shortcut as the engine)
    "q_hits" ->
      """WITH e AS (
           SELECT DISTINCT src, dst FROM (
             SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
             FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             UNION ALL
             SELECT 'c' || c_custkey, 'n' || c_nationkey FROM customer)),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         a1r AS (SELECT dst AS node, 1000000000 * COUNT(*) AS raw
                 FROM e GROUP BY 1),
         a1 AS (SELECT node, raw // GREATEST(1,
                    (SELECT MAX(raw) FROM a1r) // 1000000000) AS score
                FROM a1r),
         h1r AS (SELECT e.src AS node, CAST(SUM(a1.score) AS BIGINT) AS raw
                 FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
         h1 AS (SELECT node, raw // GREATEST(1,
                    (SELECT MAX(raw) FROM h1r) // 1000000000) AS score
                FROM h1r),
         a2r AS (SELECT e.dst AS node, CAST(SUM(h1.score) AS BIGINT) AS raw
                 FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
         a2 AS (SELECT node, raw // GREATEST(1,
                    (SELECT MAX(raw) FROM a2r) // 1000000000) AS score
                FROM a2r),
         h2r AS (SELECT e.src AS node, CAST(SUM(a2.score) AS BIGINT) AS raw
                 FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
         h2 AS (SELECT node, raw // GREATEST(1,
                    (SELECT MAX(raw) FROM h2r) // 1000000000) AS score
                FROM h2r)
         SELECT n.node,
           CAST(COALESCE(a2.score, 0) AS BIGINT) AS auth_ppb,
           CAST(COALESCE(h2.score, 0) AS BIGINT) AS hub_ppb
         FROM nodes n
         LEFT JOIN a2 ON a2.node = n.node
         LEFT JOIN h2 ON h2.node = n.node""",
    // the billing statement replay: same floor-cents quantizer, same
    // weekday-peak band (DuckDB dayofweek is 0=Sun..6=Sat vs Spark's
    // 1..7 — same calendar semantics), same literal integer rates
    "q_billing_statement" ->
      """WITH base AS (SELECT user_id AS grp, ts,
             CAST(FLOOR(value * 100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL),
         tou AS (SELECT grp, CAST(date_trunc('month', ts) AS DATE) AS month,
             CAST(SUM(CASE WHEN hour(ts) >= 9 AND hour(ts) < 21
                            AND dayofweek(ts) NOT IN (0, 6)
                           THEN vc ELSE 0 END) AS BIGINT) AS peak_cents,
             CAST(SUM(CASE WHEN hour(ts) >= 9 AND hour(ts) < 21
                            AND dayofweek(ts) NOT IN (0, 6)
                           THEN 0 ELSE vc END) AS BIGINT) AS off_cents
           FROM base GROUP BY 1, 2),
         hourly AS (SELECT grp, date_trunc('hour', ts) AS h,
             CAST(SUM(vc) AS BIGINT) AS h_cents
           FROM base GROUP BY 1, 2),
         dem AS (SELECT grp, CAST(date_trunc('month', h) AS DATE) AS month,
             MAX(h_cents) AS peak_hour_cents
           FROM hourly GROUP BY 1, 2)
         SELECT t.grp, t.month, t.peak_cents, t.off_cents,
           t.peak_cents * 180 + t.off_cents * 90 AS energy_charge_micro,
           d.peak_hour_cents,
           d.peak_hour_cents * 12000 AS demand_charge_micro,
           t.peak_cents * 180 + t.off_cents * 90
             + d.peak_hour_cents * 12000 AS total_micro
         FROM tou t JOIN dem d ON d.grp = t.grp AND d.month = t.month""",
    // E-S weighted sample replay: identical md5 uniform, identical
    // micro-nat ln quantization (the one transcendental, quantized per
    // item), identical floor division — via the Euclidean-mod idiom,
    // because DuckDB integer `//` TRUNCATES toward zero on negatives
    // (measured: -7 // 2 = -3) while the key's lnq is negative
    "q_weighted_sample" ->
      """WITH b AS (SELECT doc_id,
             CAST(n_chars AS BIGINT) AS w,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))
                ::UBIGINT + 1) / 4294967296.0 AS u
           FROM documents),
         q AS (SELECT doc_id, w,
             CAST(FLOOR(1000000 * ln(u)) AS BIGINT) AS lnq FROM b)
         SELECT doc_id AS id, w,
           CAST((lnq - (((lnq % w) + w) % w)) // w AS BIGINT) AS key_micro
         FROM q ORDER BY key_micro DESC, id LIMIT 100""",
    "q_group_kfold" ->
      """SELECT doc_id, source,
           CAST(('0x' || substr(md5(source || ':7'), 1, 8))::UBIGINT % 5
             AS BIGINT) AS fold
         FROM documents""",
    // the merged state is definitionally the full rebuild — the oracle IS
    // the one-shot GROUP BY; Euclidean floor mean matches pmod on Spark side
    "q_incr_state" ->
      """WITH q AS (SELECT CAST(ts AS DATE) AS day, event_type AS grp,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
           FROM events)
         SELECT day, grp, CAST(SUM(vm) AS BIGINT) AS sum_micro,
           COUNT(vm) AS cnt, MIN(vm) AS min_micro, MAX(vm) AS max_micro,
           CASE WHEN COUNT(vm) > 0 THEN
             CAST((SUM(vm) - (((SUM(vm) % COUNT(vm)) + COUNT(vm))
               % COUNT(vm))) // COUNT(vm) AS BIGINT)
           END AS avg_micro
         FROM q GROUP BY 1, 2""",
    "q_quantile_state" ->
      """WITH d0 AS (SELECT event_type AS grp,
             LEAST(99999, GREATEST(0, CAST(floor(value * 100) AS BIGINT)))
               AS d
           FROM events WHERE value IS NOT NULL),
         st AS (SELECT grp, CAST((d * 1000) // 100000 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM d0 GROUP BY 1, 2),
         e AS (SELECT grp, bucket, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n,
             CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket)
               AS BIGINT) AS cum
           FROM st),
         q AS (SELECT grp, bucket, n, cum,
             unnest([CAST(250000 AS BIGINT), CAST(500000 AS BIGINT),
                     CAST(900000 AS BIGINT), CAST(990000 AS BIGINT)])
               AS q_ppm
           FROM e),
         r AS (SELECT grp, q_ppm, n, MIN(bucket) AS bucket
           FROM q
           WHERE cum >= GREATEST(1, (q_ppm * n + 999999) // 1000000)
           GROUP BY 1, 2, 3)
         SELECT grp, q_ppm, n, bucket,
           CAST((bucket * 100000 + 999) // 1000 AS BIGINT) AS est_cents
         FROM r""",
    "q_expectations" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM orders),
         rows_long AS (
           SELECT 'not_null:o_custkey' AS rule,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_violations FROM orders
           UNION ALL
           SELECT 'in_set:o_orderstatus',
             CAST(SUM(CASE WHEN NOT (o_orderstatus IN ('O','F','P'))
               THEN 1 ELSE 0 END) AS BIGINT) FROM orders
           UNION ALL
           SELECT 'range:o_totalprice',
             CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 450000
               THEN 1 ELSE 0 END) AS BIGINT) FROM orders),
         uniq AS (
           SELECT 'unique:o_orderkey' AS rule,
             (SELECT n_rows FROM n) - (SELECT count(*) FROM
               (SELECT 1 FROM orders GROUP BY o_orderkey)) AS n_violations
           UNION ALL
           SELECT 'unique:o_custkey,o_orderdate',
             (SELECT n_rows FROM n) - (SELECT count(*) FROM
               (SELECT 1 FROM orders GROUP BY o_custkey, o_orderdate))),
         allr AS (SELECT * FROM rows_long UNION ALL SELECT * FROM uniq)
         SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
           (SELECT n_rows FROM n) AS n_rows,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS pass
         FROM allr""",
    "q_bloom_join" ->
      """SELECT o_orderkey, c_custkey FROM orders
         JOIN customer ON o_custkey = c_custkey
         WHERE c_nationkey = 3""",
    // 2·median of BIGINTs is integer-exact in DOUBLE (odd → 2·mid, even →
    // mid1+mid2, both far below 2^53) — cast back to BIGINT at the boundary
    "q_rolling_median" ->
      """WITH daily AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS s_cents,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS didx
           FROM events GROUP BY 1, 2, 4)
         SELECT grp, day, CAST(s_cents AS BIGINT) AS s_cents,
           CAST(2 * median(s_cents) OVER (PARTITION BY grp ORDER BY didx
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS twice_med_cents
         FROM daily""",
    "q_feature_scaling" ->
      """WITH b AS (SELECT event_id AS id, event_type AS grp,
             CAST(floor(value * 100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL),
         r AS (SELECT id, grp, vc,
             rank() OVER (PARTITION BY grp ORDER BY vc) AS rk,
             count(*) OVER (PARTITION BY grp) AS n,
             min(vc) OVER (PARTITION BY grp) AS mn,
             max(vc) OVER (PARTITION BY grp) AS mx
           FROM b)
         SELECT id, grp,
           CAST(CASE WHEN n > 1 THEN ((rk - 1) * 1000000) // (n - 1)
                ELSE 0 END AS BIGINT) AS pr_ppm,
           CAST(CASE WHEN mx > mn THEN ((vc - mn) * 1000000) // (mx - mn)
                ELSE 0 END AS BIGINT) AS mm_ppm
         FROM r""",
    "q_record_linkage" ->
      """WITH d AS (SELECT p_name AS nm, min(p_partkey) AS cid FROM part
                    GROUP BY 1),
         b AS (SELECT cid, nm, string_split(nm, ' ')[1] AS blk FROM d)
         SELECT l.cid AS l_id, r.cid AS r_id, l.nm AS l_name,
           r.nm AS r_name,
           CAST(levenshtein(l.nm, r.nm) AS BIGINT) AS dist
         FROM b l JOIN b r ON l.blk = r.blk AND l.cid < r.cid
         WHERE abs(length(l.nm) - length(r.nm)) <= 4
           AND levenshtein(l.nm, r.nm) <= 4""",
    "q_topn_per_group" ->
      """WITH r AS (SELECT event_type AS grp, event_id AS id,
             value AS score,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id ASC) AS rn
           FROM events WHERE value IS NOT NULL)
         SELECT grp, id, score, rn FROM r WHERE rn <= 5""",
    "q_seasonal_decompose" ->
      """WITH g AS (SELECT event_type AS grp, date_trunc('hour', ts) AS h,
             SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS s,
             COUNT(value) AS n
           FROM events GROUP BY 1, 2),
         g2 AS (SELECT grp, h, s, n,
                  epoch_ns(h) // 3600000000000 AS hidx
                FROM g WHERE n > 0),
         t AS (SELECT grp, h, hidx, s, n,
                 CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS y,
                 SUM(s) OVER w AS ws, SUM(n) OVER w AS wn
               FROM g2 WINDOW w AS (PARTITION BY grp ORDER BY hidx
                 RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         t2 AS (SELECT grp, h, hidx, y,
                  CAST((ws - (((ws % wn) + wn) % wn)) // wn AS BIGINT)
                    AS trend
                FROM t),
         t3 AS (SELECT grp, h, hidx, y, trend, y - trend AS detr FROM t2),
         seas AS (SELECT grp, hidx % 24 AS hod, SUM(detr) AS sd,
                    COUNT(*) AS sn
                  FROM t3 GROUP BY 1, 2),
         s2 AS (SELECT grp, hod,
                  CAST((sd - (((sd % sn) + sn) % sn)) // sn AS BIGINT)
                    AS seasonal
                FROM seas)
         SELECT t3.grp, t3.h, t3.y AS y_micro, t3.trend AS trend_micro,
           s2.seasonal AS seasonal_micro,
           CAST(t3.y - t3.trend - s2.seasonal AS BIGINT) AS resid_micro
         FROM t3 JOIN s2 ON s2.grp = t3.grp AND s2.hod = t3.hidx % 24""",
    "q_acf" ->
      """WITH cell AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS x
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         st AS (SELECT grp, day, x,
             CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n,
             CAST(SUM(x) OVER (PARTITION BY grp) AS BIGINT) AS s
           FROM cell),
         cc AS (SELECT grp, day, n, n*x - s AS c FROM st),
         l AS (SELECT grp, n, c,
             lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
             lag(c, 7) OVER w AS c7
           FROM cc WINDOW w AS (PARTITION BY grp ORDER BY day)),
         a AS (SELECT grp, n,
             SUM(CAST(c AS HUGEINT)*c) AS den,
             SUM(CAST(c AS HUGEINT)*c1) AS n1,
             SUM(CAST(c AS HUGEINT)*c2) AS n2,
             SUM(CAST(c AS HUGEINT)*c7) AS n7
           FROM l GROUP BY 1, 2),
         u AS (SELECT grp, n, den, CAST(1 AS BIGINT) AS lag_days,
                 n1 AS num FROM a
           UNION ALL SELECT grp, n, den, CAST(2 AS BIGINT), n2 FROM a
           UNION ALL SELECT grp, n, den, CAST(7 AS BIGINT), n7 FROM a)
         SELECT grp, lag_days, n,
           CASE WHEN den = 0 OR num IS NULL THEN NULL
                WHEN num >= 0 THEN CAST((1000000*num) // den AS BIGINT)
                ELSE -CAST((1000000*(-num)) // den AS BIGINT)
           END AS acf_ppm
         FROM u""",
    "q_trend_slope" ->
      """WITH cell AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT grp,
             CAST(date_diff('day', MIN(day) OVER (PARTITION BY grp), day)
               AS HUGEINT) AS t,
             CAST(y AS HUGEINT) AS y
           FROM cell),
         a AS (SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n, SUM(t) AS st,
             SUM(t*t) AS stt, SUM(y) AS sy, SUM(t*y) AS sty
           FROM t GROUP BY 1),
         b AS (SELECT grp, n, n*sty - st*sy AS num,
             n*stt - st*st AS den FROM a)
         SELECT grp, CAST(n AS BIGINT) AS n,
           CASE WHEN den = 0 THEN NULL
                WHEN num >= 0 THEN CAST((1000000*num) // den AS BIGINT)
                ELSE -CAST((1000000*(-num)) // den AS BIGINT)
           END AS slope_micro
         FROM b""",
    "q_degree_day" ->
      """WITH ld AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL AND event_type != 'view'
           GROUP BY 1, 2),
         tg AS (SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS tn
           FROM events WHERE value IS NOT NULL AND event_type = 'view'
           GROUP BY 1),
         td AS (SELECT day,
             (s - (((s % tn) + tn) % tn)) // tn AS t_cents FROM tg),
         j AS (SELECT grp,
             CAST(GREATEST(0, 15000 - t_cents) AS HUGEINT) AS h,
             CAST(GREATEST(0, t_cents - 15000) AS HUGEINT) AS c,
             CAST(y AS HUGEINT) AS y
           FROM ld JOIN td USING (day)),
         a AS (SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(h) AS sh, SUM(h*h) AS shh, SUM(c) AS sc, SUM(c*c) AS scc,
             SUM(y) AS sy, SUM(h*y) AS shy, SUM(c*y) AS scy
           FROM j GROUP BY 1),
         b AS (SELECT grp, n, n*shy - sh*sy AS numh, n*shh - sh*sh AS denh,
             n*scy - sc*sy AS numc, n*scc - sc*sc AS denc FROM a)
         SELECT grp, CAST(n AS BIGINT) AS n,
           CASE WHEN denh = 0 THEN NULL
                WHEN numh >= 0 THEN CAST((1000000*numh) // denh AS BIGINT)
                ELSE -CAST((1000000*(-numh)) // denh AS BIGINT)
           END AS hdd_slope_micro,
           CASE WHEN denc = 0 THEN NULL
                WHEN numc >= 0 THEN CAST((1000000*numc) // denc AS BIGINT)
                ELSE -CAST((1000000*(-numc)) // denc AS BIGINT)
           END AS cdd_slope_micro
         FROM b""",
    "q_dr_baseline" ->
      """WITH g AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(extract(hour FROM ts) AS BIGINT) AS h,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT)
               AS x_cents
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
         wd AS (SELECT * FROM g WHERE isodow(day) <= 5),
         w AS (SELECT grp, day, h, x_cents,
             CAST(SUM(x_cents) OVER fr AS BIGINT) AS hs,
             COUNT(*) OVER fr AS n_hist
           FROM wd WINDOW fr AS (PARTITION BY grp, h ORDER BY day
             ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
         -- Euclidean floor on BOTH divisions: the engine floorDivs while
         -- DuckDB integer `//` truncates toward zero on negatives
         -- (net-metered export makes hs and x_cents negative)
         b AS (SELECT grp, day, h, x_cents, n_hist,
             CASE WHEN n_hist > 0 THEN CAST(
               (hs - (((hs % n_hist) + n_hist) % n_hist)) // n_hist
               AS BIGINT) END AS baseline_cents
           FROM w),
         x6 AS (SELECT grp, day, h, x_cents, baseline_cents, n_hist,
             1000000 * x_cents AS num FROM b)
         SELECT grp, day, h, x_cents, baseline_cents, n_hist,
           CASE WHEN baseline_cents > 0
             THEN CAST((num - (((num % baseline_cents) + baseline_cents)
               % baseline_cents)) // baseline_cents AS BIGINT)
           END AS ratio_ppm
         FROM x6""",
    "q_spearman" ->
      """WITH cell AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         p AS (SELECT a.grp AS k1, b.grp AS k2, a.day, a.y AS x, b.y AS yv
           FROM cell a JOIN cell b ON a.day = b.day AND a.grp < b.grp),
         r AS (SELECT k1, k2,
             2*rank() OVER (PARTITION BY k1, k2 ORDER BY x)
               + COUNT(*) OVER (PARTITION BY k1, k2, x) - 1 AS rx,
             2*rank() OVER (PARTITION BY k1, k2 ORDER BY yv)
               + COUNT(*) OVER (PARTITION BY k1, k2, yv) - 1 AS ry
           FROM p),
         s AS (SELECT k1, k2, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((rx-ry)*(rx-ry)) AS BIGINT) AS sd2
           FROM r GROUP BY 1, 2)
         SELECT k1, k2, n AS n_common,
           CAST(1000000 - (6000000*sd2) // (4*n*(n*n-1)) AS BIGINT)
             AS spearman_ppm
         FROM s WHERE n >= 2""",
    "q_load_factors" ->
      """WITH cell AS (SELECT user_id AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS x
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         st AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS s, MAX(x) AS pk
           FROM cell GROUP BY 1),
         tot AS (SELECT day, CAST(SUM(x) AS BIGINT) AS t
           FROM cell GROUP BY 1),
         pd AS (SELECT day FROM tot ORDER BY t DESC, day ASC LIMIT 1),
         atp AS (SELECT grp, x AS xp FROM cell JOIN pd USING (day))
         SELECT st.grp, n_days, pk AS peak_cents,
           CASE WHEN pk > 0
             THEN CAST((1000000*s) // (n_days*pk) AS BIGINT) END
             AS load_factor_ppm,
           CASE WHEN pk > 0 AND xp IS NOT NULL
             THEN CAST((1000000*xp) // pk AS BIGINT) END
             AS coincidence_ppm
         FROM st LEFT JOIN atp USING (grp)""",
    "q_locf" ->
      """WITH cell AS (SELECT user_id AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         sp AS (SELECT grp,
             UNNEST(generate_series(min(day), max(day), INTERVAL 1 DAY))
               AS dts
           FROM cell GROUP BY 1),
         j AS (SELECT sp.grp, CAST(sp.dts AS DATE) AS day, c.y,
             date_diff('day', DATE '1970-01-01', CAST(sp.dts AS DATE)) AS dd
           FROM sp LEFT JOIN cell c
             ON c.grp = sp.grp AND c.day = CAST(sp.dts AS DATE))
         SELECT grp, day, y AS y_cents,
           last_value(y IGNORE NULLS) OVER (PARTITION BY grp ORDER BY dd
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS filled_cents,
           dd - MAX(CASE WHEN y IS NOT NULL THEN dd END)
             OVER (PARTITION BY grp ORDER BY dd
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fill_age_days
         FROM j""",
    "q_theil_sen" ->
      """WITH cell AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT grp,
             CAST(date_diff('day', MIN(day) OVER (PARTITION BY grp), day)
               AS BIGINT) AS t, y
           FROM cell),
         p AS (SELECT a.grp, b.y - a.y AS dy, b.t - a.t AS dt
           FROM t a JOIN t b ON a.grp = b.grp AND b.t > a.t),
         s AS (SELECT grp,
             CASE WHEN dy >= 0 THEN CAST((1000000*dy) // dt AS BIGINT)
                  ELSE -CAST((1000000*(-dy)) // dt AS BIGINT)
             END AS sm FROM p)
         SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(2 * median(sm) AS BIGINT) AS twice_med_slope_micro
         FROM s GROUP BY 1""",
    "q_lag_features" ->
      """WITH cell AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         d AS (SELECT grp, day, y,
             date_diff('day', DATE '1970-01-01', day) AS dd FROM cell)
         SELECT grp, day, y AS y_cents,
           MAX(y) OVER (PARTITION BY grp ORDER BY dd
             RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS lag1_cents,
           MAX(y) OVER (PARTITION BY grp ORDER BY dd
             RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS lag7_cents,
           CAST(SUM(y) OVER (PARTITION BY grp ORDER BY dd
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS wk_sum_cents,
           COUNT(*) OVER (PARTITION BY grp ORDER BY dd
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS wk_n,
           CAST(isodow(day) AS BIGINT) AS dow
         FROM d""",
    "q_cusum" ->
      """WITH cell AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS x
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         st AS (SELECT grp, day, x,
             CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n,
             CAST(SUM(x) OVER (PARTITION BY grp) AS BIGINT) AS s
           FROM cell),
         -- Euclidean floor for mu: DuckDB integer `//` truncates toward
         -- zero (measured -7 // 2 = -3) while the engine floorDivs; s can
         -- be negative with net-metered readings. mad is an abs-sum (>= 0)
         -- so plain `//` is already the floor there.
         m AS (SELECT grp, day, x, n,
             (s - (((s % n) + n) % n)) // n AS mu,
             CAST(SUM(abs(x - ((s - (((s % n) + n) % n)) // n)))
               OVER (PARTITION BY grp) AS BIGINT) // n AS mad
           FROM st),
         rr AS (SELECT grp, day, x, mad,
             SUM(x - mu - (mad // 2)) OVER w AS su,
             SUM(x - mu + (mad // 2)) OVER w AS sd
           FROM m WINDOW w AS (PARTITION BY grp ORDER BY day)),
         h AS (SELECT grp, day, x, mad,
             su - LEAST(CAST(0 AS BIGINT),
               MIN(su) OVER w) AS up,
             GREATEST(CAST(0 AS BIGINT),
               MAX(sd) OVER w) - sd AS down
           FROM rr WINDOW w AS (PARTITION BY grp ORDER BY day))
         SELECT grp, day, x AS x_cents, mad AS mad_cents,
           CAST(up AS BIGINT) AS cusum_up_cents,
           CAST(down AS BIGINT) AS cusum_down_cents,
           CASE WHEN up > 3*mad AND down > 3*mad THEN 'both'
                WHEN up > 3*mad THEN 'up' ELSE 'down' END AS direction
         FROM h WHERE up > 3*mad OR down > 3*mad""",
    "q_mix_entropy" ->
      """WITH c AS (SELECT CAST(ts AS DATE) AS grp, event_type,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT grp, event_type, n, sum(n) OVER (PARTITION BY grp)
                 AS tot FROM c),
         p AS (SELECT grp, n, tot,
                 greatest(1, (n * 1000000) // tot) AS pp FROM t)
         SELECT grp, count(*) AS n_cats, CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(-sum(pp * CAST(round(ln(CAST(pp AS DOUBLE) / 1000000)
             * 1000000) AS BIGINT)) AS BIGINT) AS entropy_pn
         FROM p GROUP BY 1""",
    "q_transitions" ->
      """WITH o AS (SELECT event_type AS s,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
           FROM events)
         SELECT s AS from_state, nxt AS to_state, count(*) AS n
         FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2""",
    "q_drift_psi" ->
      """WITH rh AS (SELECT event_type AS grp,
             (least(19999, greatest(0,
               CAST(floor(value * 100) AS BIGINT))) * 20) // 20000 AS bucket,
             count(*) AS rc
           FROM events
           WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16 00:00:00'
           GROUP BY 1, 2),
         ch AS (SELECT event_type AS grp,
             (least(19999, greatest(0,
               CAST(floor(value * 100) AS BIGINT))) * 20) // 20000 AS bucket,
             count(*) AS cc
           FROM events
           WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16 00:00:00'
           GROUP BY 1, 2),
         groups AS (SELECT grp FROM rh UNION SELECT grp FROM ch),
         spine AS (SELECT grp, gs.generate_series AS bucket
                   FROM groups CROSS JOIN generate_series(0, 19)
                     gs(generate_series)),
         rt AS (SELECT grp, sum(rc) AS rtot FROM rh GROUP BY 1),
         ct AS (SELECT grp, sum(cc) AS ctot FROM ch GROUP BY 1),
         j AS (SELECT s.grp, s.bucket,
                 greatest(1, (COALESCE(rh.rc, 0) * 1000000) // rt.rtot)
                   AS p_ppm,
                 greatest(1, (COALESCE(ch.cc, 0) * 1000000) // ct.ctot)
                   AS q_ppm
               FROM spine s
               LEFT JOIN rh ON rh.grp = s.grp AND rh.bucket = s.bucket
               LEFT JOIN ch ON ch.grp = s.grp AND ch.bucket = s.bucket
               JOIN rt ON rt.grp = s.grp JOIN ct ON ct.grp = s.grp)
         SELECT grp, CAST(bucket AS BIGINT) AS bucket,
           CAST(p_ppm AS BIGINT) AS p_ppm, CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST((p_ppm - q_ppm) *
             CAST(round(ln(CAST(p_ppm AS DOUBLE) / q_ppm) * 1000000)
               AS BIGINT) AS BIGINT) AS term
         FROM j""",
    "q_hash_features" ->
      """WITH tok AS (SELECT doc_id,
             unnest(string_split(text, ' ')) AS term
           FROM documents)
         SELECT doc_id,
           CAST(('0x' || substr(md5(term), 1, 8))::UBIGINT % 64 AS BIGINT)
             AS slot,
           count(*) AS cnt
         FROM tok GROUP BY 1, 2""",
    "q_histogram" ->
      """WITH p AS (SELECT event_type AS grp,
             least(19999, greatest(0,
               CAST(floor(value * 100) AS BIGINT) - 0)) AS d
           FROM events WHERE value IS NOT NULL)
         SELECT grp, CAST((d * 20) // 20000 AS BIGINT) AS bucket,
           count(*) AS cnt
         FROM p GROUP BY 1, 2""",
    "q_equidepth_bins" ->
      """SELECT event_id AS id, event_type AS grp,
           CAST(ntile(10) OVER (PARTITION BY event_type
             ORDER BY value, event_id) AS BIGINT) AS bin
         FROM events WHERE value IS NOT NULL""",
    // string→double round-trips exactly in both engines (shortest-repr
    // printing), so genB's serialized values compare bit-equal
    "q_conform_union" ->
      """SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS event_type, value
         FROM events WHERE event_id % 2 = 0
         UNION ALL
         SELECT event_id, CAST(NULL AS BIGINT), event_type,
           CAST(CAST(value AS VARCHAR) AS DOUBLE)
         FROM events WHERE event_id % 2 = 1""",
    "q_resample_fill" ->
      """WITH c AS (SELECT
             epoch_ns(TIMESTAMP '2024-01-01 00:00:00') // 1000000000 AS f,
             epoch_ns(TIMESTAMP '2024-01-30 23:45:00') // 1000000000 AS t),
         p AS (SELECT event_type AS grp,
                 epoch_ns(ts) // 1000000000 AS s, value
               FROM events, c
               WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
                 AND ts < TIMESTAMP '2024-01-31 00:00:00'),
         g AS (SELECT grp, s - (((s - f) % 900 + 900) % 900) AS bs,
                 round(SUM(value), 2) AS total, COUNT(value) AS n
               FROM p, c GROUP BY 1, 2),
         keys AS (SELECT DISTINCT grp FROM g),
         grid AS (SELECT keys.grp,
                    (f + 900 * gs.generate_series) AS bs
                  FROM keys, c CROSS JOIN
                    generate_series(0, 2879) gs(generate_series))
         SELECT grid.grp, make_timestamp(grid.bs * 1000000) AS bucket,
           coalesce(g.total, 0) AS total,
           CAST(coalesce(g.n, 0) AS BIGINT) AS n
         FROM grid LEFT JOIN g ON g.grp = grid.grp AND g.bs = grid.bs""",
    "q_expectations_fk" ->
      """WITH r1 AS (SELECT
             CAST((SELECT count(*) FROM lineitem l
                   WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
                     (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
               AS n_violations,
             (SELECT count(*) FROM lineitem) AS n_rows),
         r2 AS (SELECT
             CAST((SELECT count(*) FROM lineitem l
                   WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS
                     (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey
                        AND s.s_nationkey < 20)) AS BIGINT)
               AS n_violations,
             (SELECT count(*) FROM lineitem) AS n_rows)
         SELECT 'fk:l_orderkey->orders' AS rule, n_violations, n_rows,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS pass FROM r1
         UNION ALL
         SELECT 'fk:l_suppkey->supplier[nation<20]', n_violations, n_rows,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
         FROM r2""",
    "q_forecast_backtest" ->
      """WITH g AS (
           SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
             SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS s,
             COUNT(value) AS n
           FROM events GROUP BY 1, 2, 3),
         w AS (
           SELECT grp, day, h, s, n,
             SUM(s) OVER (PARTITION BY grp, h ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ps,
             SUM(n) OVER (PARTITION BY grp, h ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pn
           FROM g),
         f AS (
           SELECT grp, day, h,
             CASE WHEN n > 0 THEN
               CAST((s - (((s % n) + n) % n)) // n AS BIGINT) END
               AS actual_micro,
             CASE WHEN pn > 0 THEN
               CAST((ps - (((ps % pn) + pn) % pn)) // pn AS BIGINT) END
               AS pred_micro
           FROM w)
         SELECT grp, day, h, actual_micro, pred_micro,
           CAST(abs(actual_micro - pred_micro) AS BIGINT) AS abs_err_micro
         FROM f""",
    "q_forecast_mae" ->
      """WITH g AS (
           SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
             SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS s,
             COUNT(value) AS n
           FROM events GROUP BY 1, 2, 3),
         w AS (
           SELECT grp, day, h, s, n,
             SUM(s) OVER (PARTITION BY grp, h ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ps,
             SUM(n) OVER (PARTITION BY grp, h ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pn
           FROM g),
         f AS (
           SELECT grp,
             CASE WHEN n > 0 THEN
               CAST((s - (((s % n) + n) % n)) // n AS BIGINT) END
               AS actual_micro,
             CASE WHEN pn > 0 THEN
               CAST((ps - (((ps % pn) + pn) % pn)) // pn AS BIGINT) END
               AS pred_micro
           FROM w),
         e AS (SELECT grp, abs(actual_micro - pred_micro) AS err FROM f
               WHERE actual_micro IS NOT NULL AND pred_micro IS NOT NULL),
         m AS (SELECT grp, count(*) AS n_cells, SUM(err) AS se
               FROM e GROUP BY 1)
         SELECT grp, n_cells,
           CAST((se - (((se % n_cells) + n_cells) % n_cells)) // n_cells
             AS BIGINT) AS mae_micro
         FROM m""",
    "q_collocations" ->
      """WITH p AS (SELECT doc_id,
             unnest(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents),
         bgs AS (SELECT term || ' ' ||
                   lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
                 FROM p),
         c2 AS (SELECT bg, count(*) AS n FROM bgs WHERE bg IS NOT NULL
                GROUP BY 1),
         uni AS (SELECT term, count(*) AS c FROM p GROUP BY 1),
         tot AS (SELECT (SELECT sum(n) FROM c2) AS nbi,
                        (SELECT sum(c) FROM uni) AS nuni)
         SELECT bg, CAST(n AS BIGINT) AS n,
           CAST(round(ln((CAST(n AS DOUBLE) * nuni * nuni) /
             (CAST(nbi AS DOUBLE) * u1.c * u2.c)) * 1e6) AS BIGINT)
             AS pmi_micro
         FROM c2, tot,
           uni u1, uni u2
         WHERE u1.term = string_split(bg, ' ')[1]
           AND u2.term = string_split(bg, ' ')[2]
           AND n >= 5
         ORDER BY n DESC, bg LIMIT 500""",
    "q_inverted_index" ->
      """WITH p AS (SELECT doc_id,
             unnest(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           FROM documents),
         d AS (SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
         SELECT p.term, p.doc_id, CAST(p.pos AS BIGINT) AS pos,
           CAST(d.df AS BIGINT) AS df
         FROM p JOIN d ON d.term = p.term
         WHERE d.df BETWEEN 5 AND 1000000""",
    "q_dim_activity_range" ->
      """SELECT s.s_suppkey AS grp,
         round(COALESCE(SUM(l.l_extendedprice), 0), 2) AS total
         FROM supplier s LEFT JOIN lineitem l
           ON s.s_suppkey = l.l_suppkey
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <= TIMESTAMP '1996-12-31'
         GROUP BY 1""",
    "q_geomap_activity" ->
      """SELECT s.s_suppkey AS grp, s.s_name AS name, s.s_acctbal AS acctbal,
         round(COALESCE(SUM(l.l_extendedprice), 0), 2) AS total
         FROM supplier s LEFT JOIN lineitem l
           ON s.s_suppkey = l.l_suppkey
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <= TIMESTAMP '1996-12-31'
         WHERE s.s_acctbal IS NOT NULL
         GROUP BY 1, 2, 3""",
    "q_missing_dates" ->
      """SELECT cal.day AS day
         FROM (SELECT unnest(generate_series(DATE '2001-06-01', DATE '2001-12-31',
                      INTERVAL 1 DAY))::DATE AS day) cal
         LEFT JOIN (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders) o
           USING (day)
         WHERE o.day IS NULL""",
    "q_daily_stats_window" ->
      """SELECT event_type AS grp, ts, value AS v,
         round(SUM(value)  OVER w, 2) AS daily_total,
         round(AVG(value)  OVER w, 6) AS daily_avg,
         round(MAX(value)  OVER w, 6) AS daily_max,
         round(MIN(value)  OVER w, 6) AS daily_min
         FROM events
         WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE))""",
    "q_doc_stats" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                    FROM documents),
         c AS (SELECT doc_id, text, toks,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round((length(text) - (len(toks) - 1))::DOUBLE / len(toks), 6)
             AS mean_tok_len,
           (len(list_filter(toks, x -> x = 'the'))
                + len(list_filter(toks, x -> x = 'a'))
                + len(list_filter(toks, x -> x = 'of'))
                + len(list_filter(toks, x -> x = 'and'))
                + len(list_filter(toks, x -> x = 'is'))) AS n_hits,
           round((len(list_filter(toks, x -> x = 'the'))
                + len(list_filter(toks, x -> x = 'a'))
                + len(list_filter(toks, x -> x = 'of'))
                + len(list_filter(toks, x -> x = 'and'))
                + len(list_filter(toks, x -> x = 'is')))::DOUBLE / len(toks), 6)
             AS stop_ratio
           FROM t)
         SELECT doc_id, n_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
             AS n_word_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est,
           mean_tok_len, stop_ratio,
           CAST(least(1000, greatest(0,
             200 + least(length(text), 500)
                 + (n_hits * 1500) // n_tokens
                 - (abs(length(text) - (n_tokens - 1) - 5 * n_tokens) * 50)
                   // n_tokens)) AS BIGINT) AS quality
         FROM c""",
    // fixed integer model [-400, 7, -1, 120, -3, 5] over the exact-integer
    // features [1, n_tokens, n_chars, stop_hits, n_digits, n_word_tokens]
    // (feature mirrors identical to the green q_doc_stats oracle)
    "q_lr_margin" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                    FROM documents),
         f AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_filter(toks, x -> x = 'the'))
              + len(list_filter(toks, x -> x = 'a'))
              + len(list_filter(toks, x -> x = 'of'))
              + len(list_filter(toks, x -> x = 'and'))
              + len(list_filter(toks, x -> x = 'is')) AS BIGINT) AS stop_hits,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
             AS n_word_tokens
           FROM t)
         SELECT doc_id,
           CAST(-400 + 7 * n_tokens - n_chars + 120 * stop_hits
                - 3 * n_digits + 5 * n_word_tokens AS BIGINT) AS margin
         FROM f""",
    // same fixed model and features as q_lr_margin, aggregated per
    // candidate threshold (all-integer counts)
    "q_lr_sweep" ->
      """WITH t AS (SELECT doc_id, source, text,
                      string_split(text, ' ') AS toks
                    FROM documents),
         f AS (SELECT doc_id, source,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_filter(toks, x -> x = 'the'))
              + len(list_filter(toks, x -> x = 'a'))
              + len(list_filter(toks, x -> x = 'of'))
              + len(list_filter(toks, x -> x = 'and'))
              + len(list_filter(toks, x -> x = 'is')) AS BIGINT) AS stop_hits,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
             AS n_word_tokens
           FROM t),
         m AS (SELECT source,
           -400 + 7 * n_tokens - n_chars + 120 * stop_hits
               - 3 * n_digits + 5 * n_word_tokens AS margin
           FROM f),
         th AS (SELECT unnest([-500, -250, 0, 250, 500]) AS threshold)
         SELECT CAST(th.threshold AS BIGINT) AS threshold,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN m.source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_curated
         FROM m CROSS JOIN th
         WHERE m.margin >= th.threshold
         GROUP BY 1""",
    "q_lang_id" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         s AS (SELECT doc_id,
           len(list_filter(toks, x -> x = 'der')) + len(list_filter(toks, x -> x = 'die'))
             + len(list_filter(toks, x -> x = 'das')) + len(list_filter(toks, x -> x = 'und'))
             + len(list_filter(toks, x -> x = 'ist')) AS s_de,
           len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'a'))
             + len(list_filter(toks, x -> x = 'of')) + len(list_filter(toks, x -> x = 'and'))
             + len(list_filter(toks, x -> x = 'is')) AS s_en,
           len(list_filter(toks, x -> x = 'el')) + len(list_filter(toks, x -> x = 'los'))
             + len(list_filter(toks, x -> x = 'las')) + len(list_filter(toks, x -> x = 'y'))
             + len(list_filter(toks, x -> x = 'es')) AS s_es,
           len(list_filter(toks, x -> x = 'le')) + len(list_filter(toks, x -> x = 'les'))
             + len(list_filter(toks, x -> x = 'et')) + len(list_filter(toks, x -> x = 'est'))
             + len(list_filter(toks, x -> x = 'du')) AS s_fr
           FROM t)
         SELECT doc_id, CASE
           WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr THEN 'en'
           WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
           WHEN s_fr > 0 THEN 'fr'
           ELSE 'und' END AS lang_pred
         FROM s""",
    "q_doc_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents",
    "q_gopher_filter" ->
      """WITH t AS (SELECT doc_id,
           text || repeat(' #', CAST(doc_id % 40 AS INT)) AS text
         FROM documents),
         c AS (SELECT doc_id, string_split(text, ' ') AS toks,
            length(text) AS nc FROM t),
         m AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            nc - (len(toks) - 1) AS stl,
            len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
            len(list_filter(toks, x -> x = '#' OR x = '...')) AS n_sym,
            (len(list_filter(toks, x -> x = 'the'))
             + len(list_filter(toks, x -> x = 'a'))
             + len(list_filter(toks, x -> x = 'of'))
             + len(list_filter(toks, x -> x = 'and'))
             + len(list_filter(toks, x -> x = 'is'))) AS hits
         FROM c)
         SELECT doc_id, n_tokens,
           (n_tokens >= 50 AND n_tokens <= 100000) AS len_ok,
           (3 * n_tokens <= stl AND stl <= 10 * n_tokens) AS mean_len_ok,
           (5 * n_alpha >= 4 * n_tokens) AS alpha_ok,
           (10 * n_sym <= n_tokens) AS symbol_ok,
           (hits >= 2) AS stop_ok,
           (n_tokens >= 50 AND n_tokens <= 100000
            AND 3 * n_tokens <= stl AND stl <= 10 * n_tokens
            AND 5 * n_alpha >= 4 * n_tokens
            AND 10 * n_sym <= n_tokens AND hits >= 2) AS keep
         FROM m""",
    "q_strip_markup" ->
      """WITH t AS (SELECT doc_id,
           '<p id="' || doc_id || '">' || text ||
           '</p> <br/> say &amp;lt; &quot;hi&quot; &nbsp;done' AS marked
         FROM documents)
         SELECT doc_id, trim(regexp_replace(
           regexp_replace(
            regexp_replace(
             regexp_replace(
              regexp_replace(
               regexp_replace(
                regexp_replace(
                 regexp_replace(marked, '<[^>]*>', ' ', 'g'),
                 '&lt;', '<', 'g'),
                '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
              '&#39;', '''', 'g'),
             '&nbsp;', ' ', 'g'),
            '&amp;', '&', 'g'),
           ' +', ' ', 'g')) AS clean_text
         FROM t""",
    "q_doc_exact_dedup" ->
      """WITH u AS (SELECT * FROM documents
                    UNION ALL
                    SELECT * FROM documents WHERE doc_id % 5 = 0)
         SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
           CAST(count(*) AS BIGINT) AS n_copies
         FROM u GROUP BY 1""",
    "q_line_dedup" ->
      """WITH ml AS (SELECT doc_id, array_to_string(list_transform(
                       range(0, CAST(ceil(len(string_split(text, ' ')) / 8.0)
                         AS BIGINT)),
                       i -> array_to_string(
                         (string_split(text, ' '))[i*8+1:i*8+8], ' ')),
                     chr(10)) AS t
                   FROM documents),
         ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM ml),
         lx AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
                FROM ls),
         li AS (SELECT doc_id, i, l[i] AS line FROM lx),
         fr AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df
                                  FROM li GROUP BY 1) WHERE df >= 2),
         kp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  string_agg(line, chr(10) ORDER BY i) AS text_clean
                FROM li WHERE line NOT IN (SELECT line FROM fr)
                GROUP BY 1)
         SELECT ls.doc_id, CAST(len(ls.l) AS BIGINT) AS n_lines,
           coalesce(kp.n_kept, 0) AS n_kept,
           coalesce(kp.text_clean, '') AS text_clean
         FROM ls LEFT JOIN kp USING (doc_id)""",
    "q_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents),
         gx AS (SELECT doc_id, tk,
                  unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS i
                FROM t),
         g AS (SELECT doc_id, i - 1 AS p,
                 array_to_string(tk[i:i+4], ' ') AS gram
               FROM gx),
         hot AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
         cov AS (SELECT DISTINCT doc_id,
                   unnest(generate_series(p, p + 4)) AS q
                 FROM g JOIN hot USING (gram)),
         px AS (SELECT doc_id, tk,
                  unnest(generate_series(1, len(tk))) AS j
                FROM t),
         tok AS (SELECT doc_id, j - 1 AS q, tk[j] AS tok FROM px),
         kept AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                    string_agg(tk.tok, ' ' ORDER BY tk.q) AS text_clean
                  FROM tok tk
                  WHERE NOT EXISTS (SELECT 1 FROM cov c
                                    WHERE c.doc_id = tk.doc_id
                                      AND c.q = tk.q)
                  GROUP BY 1)
         SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
           coalesce(k.n_kept, 0) AS n_kept,
           coalesce(k.text_clean, '') AS text_clean
         FROM t LEFT JOIN kept k USING (doc_id)""",
    "q_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                   FROM sh a JOIN sh b USING (s)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT id1, id2,
                 round(c::DOUBLE / (s1.n + s2.n - c), 6) AS jaccard
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2)
         SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.1""",
    // incremental = the full pair set restricted to pairs touching the
    // incoming batch (doc_id % 10 = 0)
    "q_incremental_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                   FROM sh a JOIN sh b USING (s)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT id1, id2,
                 round(c::DOUBLE / (s1.n + s2.n - c), 6) AS jaccard
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2)
         SELECT id1, id2, jaccard FROM j
         WHERE jaccard >= 0.1 AND (id1 % 10 = 0 OR id2 % 10 = 0)""",
    // fixed 32-bit md5 SimHash: per-token hash = first 8 md5 hex chars as
    // an integer, bit sums -> sign -> packed signature, 4 bands of 8 bits,
    // Hamming via bit_count(xor)
    "q_simhash_fixed" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                       FROM documents),
         hv AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT AS BIGINT)
                    AS h
                FROM toks),
         bs AS (SELECT doc_id, b.b AS b,
                  SUM(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
                FROM hv CROSS JOIN (SELECT unnest(range(32)) AS b) b
                GROUP BY 1, 2),
         sig AS (SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0
                            THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                     AS BIGINT) AS sg
                 FROM bs GROUP BY 1),
         bnd AS (SELECT doc_id, sg, j.j AS band, (sg >> (8 * j.j)) & 255
                   AS chunk
                 FROM sig CROSS JOIN (SELECT unnest(range(4)) AS j) j),
         cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
                    l.sg AS s1, r.sg AS s2
                  FROM bnd l JOIN bnd r
                    ON l.band = r.band AND l.chunk = r.chunk
                       AND l.doc_id < r.doc_id)
         SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(s1, s2)) <= 3""",
    // fixed md5 winnowing: char-24-gram md5 hashes, min per full window of
    // 8 (ROWS frame), distinct fingerprints, shared-fp pair counts
    "q_winnow_fixed" ->
      """WITH d AS (SELECT doc_id, text AS t FROM documents
                    WHERE len(text) >= 31),
         pos AS (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 23)) AS p
                 FROM d),
         g AS (SELECT doc_id, p, md5(substring(t, p, 24)) AS g,
                 len(t) - 30 AS pmax
               FROM pos),
         f AS (SELECT doc_id, p, pmax,
                 MIN(g) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
               FROM g),
         fps AS (SELECT DISTINCT doc_id, fp FROM f WHERE p <= pmax),
         pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                  count(*) AS n_shared
                FROM fps a JOIN fps b
                  ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT id1, id2, CAST(n_shared AS BIGINT) AS n_shared
         FROM pr WHERE n_shared >= 5""",
    // content-defined chunking replay, bit-exact vs the TextOps.cdcChunks
    // kernel (k=16, mask 6 bits, minLen=32, maxLen=256, B=257, M=1e9+7):
    // window hash = Σ code·B^(15-j) mod M against a literal powers table;
    // a cut after 0-based char p needs the window ending at p to mask to
    // 63, p in [start+31, min(start+256, n)-2], earliest wins, else the
    // hard cut; boundary recursion via next-hit lookup + recursive CTE;
    // fp = (Σ code·B^(len-1-i) mod M)·131071 + len (length-salted)
    "q_cdc_chunks" -> {
      val B = 257L
      val M = 1000000007L
      val pw = Iterator.iterate(1L)(p => p * B % M).take(256).toArray
      val wtab = (0 until 16)
        .map(j => s"($j, CAST(${pw(j)} AS BIGINT))").mkString(", ")
      val ptab = (0 until 256)
        .map(j => s"($j, CAST(${pw(j)} AS BIGINT))").mkString(", ")
      s"""WITH RECURSIVE
         d AS (SELECT doc_id, text AS t, len(text) AS nlen FROM documents
               WHERE len(text) > 0),
         codes AS (SELECT doc_id, i, CAST(ord(substr(t, i, 1)) AS BIGINT)
                     AS c, nlen
                   FROM (SELECT doc_id, t, nlen,
                           unnest(generate_series(1, nlen)) AS i FROM d)),
         wp(j, pw) AS (VALUES $wtab),
         wh AS (SELECT c0.doc_id, c0.i - 1 AS w,
                  SUM(cj.c * wp.pw) % $M AS h
                FROM codes c0
                JOIN wp ON TRUE
                JOIN codes cj ON cj.doc_id = c0.doc_id
                  AND cj.i = c0.i + (15 - wp.j)
                WHERE c0.i + 15 <= c0.nlen
                GROUP BY 1, 2),
         pos AS (SELECT doc_id, i - 1 AS p, nlen FROM codes),
         hits AS (SELECT p.doc_id, p.p, p.nlen,
                    CASE WHEN (wh.h & 63) = 63 THEN p.p END AS hp
                  FROM pos p LEFT JOIN wh
                    ON wh.doc_id = p.doc_id AND wh.w = p.p - 15),
         nh AS (SELECT doc_id, p, nlen,
                  MIN(hp) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
                FROM hits),
         nc AS (SELECT s.doc_id, s.p AS s, s.nlen,
                  CASE WHEN h31.nh IS NOT NULL
                        AND h31.nh <= LEAST(s.p + 256, s.nlen) - 2
                       THEN h31.nh + 1
                       ELSE LEAST(s.p + 256, s.nlen) END AS cut
                FROM pos s LEFT JOIN nh h31
                  ON h31.doc_id = s.doc_id AND h31.p = s.p + 31),
         ch(doc_id, ix, s, cut, nlen) AS (
           SELECT doc_id, 0, 0, cut, nlen FROM nc WHERE s = 0
           UNION ALL
           SELECT c.doc_id, c.ix + 1, c.cut, n.cut, c.nlen
           FROM ch c JOIN nc n ON n.doc_id = c.doc_id AND n.s = c.cut
           WHERE c.cut < c.nlen),
         bp(j, pw) AS (VALUES $ptab),
         fpx AS (SELECT ch.doc_id, ch.ix, ch.s, ch.cut - ch.s AS len,
                   (SUM(codes.c * bp.pw) % $M) * 131071 + (ch.cut - ch.s)
                     AS fp
                 FROM ch
                 JOIN codes ON codes.doc_id = ch.doc_id
                   AND codes.i > ch.s AND codes.i <= ch.cut
                 JOIN bp ON bp.j = ch.cut - codes.i
                 GROUP BY 1, 2, 3, ch.cut)
         SELECT doc_id, CAST(ix AS BIGINT) AS chunk_ix,
                CAST(s AS BIGINT) AS start, CAST(len AS BIGINT) AS len,
                CAST(fp AS BIGINT) AS fp
         FROM fpx"""
    },
    // NOTE: like every text oracle in this file (q_simhash_fixed,
    // q_minhash_fixed, q_doc_stats, ...), tokenization parity rests on
    // the corpus convention of single-space-separated text with no
    // leading/trailing whitespace — Java split(" ") drops TRAILING empty
    // tokens where DuckDB string_split keeps them (verified absent in
    // all testdata SFs; code-review r8).
    // fixed-merge-table BPE segmentation replay: per DISTINCT word, greedy
    // merge application as a recursive CTE over space-separated symbol
    // strings — each step picks the min-rank merge whose ' a b ' pattern
    // occurs and applies one replace() pass (boundary-shared occurrences
    // survive to the next step, where the same rank is re-picked — the
    // fixpoint equals the kernel's all-occurrences pass for a
    // prefix-closed table); fixpoint rows are the segmentations, joined
    // back to the corpus token stream (the merges VALUES are generated
    // from the same Scala literal the engine uses, so they cannot drift)
    "q_bpe_segment_fixed" -> {
      val vals = fixedBpeMerges.zipWithIndex.map { case ((a, b), r) =>
        s"($r, ' $a $b ', ' $a$b ')"
      }.mkString(",\n             ")
      s"""WITH RECURSIVE
         words AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
                   FROM documents),
         merges(rnk, pat, rep) AS (VALUES
             $vals),
         seg(w, cur) AS (
           SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g')
           FROM words WHERE w <> ''
           UNION ALL
           SELECT s.w, replace(s.cur, m.pat, m.rep)
           FROM (SELECT w, cur,
                   (SELECT min(mm.rnk) FROM merges mm
                    WHERE contains(cur, mm.pat)) AS br
                 FROM seg) s
           JOIN merges m ON m.rnk = s.br),
         fin AS (SELECT w, len(string_split(trim(cur), ' ')) AS np
                 FROM seg
                 WHERE NOT EXISTS (SELECT 1 FROM merges mm
                                   WHERE contains(seg.cur, mm.pat))),
         toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents),
         agg AS (SELECT t.doc_id, count(*) AS n_tokens,
                   SUM(CASE WHEN t.w = '' THEN 0 ELSE f.np END) AS n_pieces
                 FROM toks t LEFT JOIN fin f ON f.w = t.w
                 GROUP BY 1)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_pieces AS BIGINT) AS n_pieces,
           round(CAST(n_pieces AS DOUBLE) / greatest(n_tokens, 1), 6)
             AS pieces_per_token
         FROM agg"""
    },
    // the fixed-md5-family MinHash mechanism: 32 seeds, 8 bands x 4 rows;
    // signature entry = min md5(shingle||':'||seed) (lexicographic hex min
    // — binary collation in both engines), band hash = md5 of the band's
    // mins joined by '|', bucket-colliding pairs exact-verified by the
    // same jaccard replay as q_jaccard_pairs
    "q_minhash_fixed" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx),
         seeds AS (SELECT unnest(range(32)) AS seed),
         sig AS (SELECT doc_id, seed,
                   min(md5(s || ':' || CAST(seed AS VARCHAR))) AS mh
                 FROM sh CROSS JOIN seeds GROUP BY 1, 2),
         bnd AS (SELECT doc_id, seed // 4 AS band,
                   md5(string_agg(mh, '|' ORDER BY seed)) AS bh
                 FROM sig GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                  FROM bnd a JOIN bnd b
                    ON a.band = b.band AND a.bh = b.bh
                       AND a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.id1, c.id2, count(*) AS c
                   FROM cand c
                   JOIN sh a ON a.doc_id = c.id1
                   JOIN sh b ON b.doc_id = c.id2 AND b.s = a.s
                   GROUP BY 1, 2),
         j AS (SELECT id1, id2,
                 round(c::DOUBLE / (s1.n + s2.n - c), 6) AS jaccard
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2)
         SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.1""",
    // incremental twin = the full fixed-family result restricted to pairs
    // touching the doc_id % 10 = 0 batch (signatures are pure functions of
    // the row, verification exact — the q_incremental_dedup argument)
    "q_minhash_incr_fixed" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx),
         seeds AS (SELECT unnest(range(32)) AS seed),
         sig AS (SELECT doc_id, seed,
                   min(md5(s || ':' || CAST(seed AS VARCHAR))) AS mh
                 FROM sh CROSS JOIN seeds GROUP BY 1, 2),
         bnd AS (SELECT doc_id, seed // 4 AS band,
                   md5(string_agg(mh, '|' ORDER BY seed)) AS bh
                 FROM sig GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                  FROM bnd a JOIN bnd b
                    ON a.band = b.band AND a.bh = b.bh
                       AND a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.id1, c.id2, count(*) AS c
                   FROM cand c
                   JOIN sh a ON a.doc_id = c.id1
                   JOIN sh b ON b.doc_id = c.id2 AND b.s = a.s
                   GROUP BY 1, 2),
         j AS (SELECT id1, id2,
                 round(c::DOUBLE / (s1.n + s2.n - c), 6) AS jaccard
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2)
         SELECT id1, id2, jaccard FROM j
         WHERE jaccard >= 0.1 AND (id1 % 10 = 0 OR id2 % 10 = 0)""",
    // the flagship corpus-clean composition in SQL: exact-dedup keepers,
    // jaccard pairs among survivors, recursive-CTE clustering, cluster
    // canonical, quality floor
    "q_corpus_clean" ->
      """WITH RECURSIVE
         kex AS (SELECT md5(text) AS h, min(doc_id) AS kid FROM documents
                 GROUP BY 1),
         ex AS (SELECT d.* FROM documents d JOIN kex ON d.doc_id = kex.kid),
         toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM ex),
         idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                   FROM sh a JOIN sh b USING (s)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT id1, id2
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2
               WHERE round(c::DOUBLE / (s1.n + s2.n - c), 6) >= 0.1),
         e AS (SELECT id1, id2 FROM j
               UNION ALL SELECT id2 AS id1, id1 AS id2 FROM j),
         reach(idv, r) AS (
           SELECT id1, id2 FROM e
           UNION
           SELECT e.id1, reach.r FROM e JOIN reach ON reach.idv = e.id2),
         lbl AS (SELECT idv, least(min(r), idv) AS cluster
                 FROM reach GROUP BY idv),
         clusters AS (SELECT x.doc_id,
                        coalesce(l.cluster, x.doc_id) AS cluster
                      FROM ex x LEFT JOIN lbl l ON l.idv = x.doc_id),
         q AS (SELECT x.doc_id, x.source,
                 CAST(least(1000, greatest(0,
                   200 + least(length(x.text), 500)
                   + ((len(list_filter(string_split(x.text, ' '),
                          t -> t = 'the'))
                     + len(list_filter(string_split(x.text, ' '),
                          t -> t = 'a'))
                     + len(list_filter(string_split(x.text, ' '),
                          t -> t = 'of'))
                     + len(list_filter(string_split(x.text, ' '),
                          t -> t = 'and'))
                     + len(list_filter(string_split(x.text, ' '),
                          t -> t = 'is'))) * 1500)
                     // len(string_split(x.text, ' '))
                   - (abs(length(x.text)
                       - (len(string_split(x.text, ' ')) - 1)
                       - 5 * len(string_split(x.text, ' '))) * 50)
                     // len(string_split(x.text, ' ')))) AS BIGINT) AS quality
               FROM ex x
               WHERE x.doc_id IN (SELECT doc_id FROM clusters
                                  WHERE doc_id = cluster))
         SELECT doc_id, source, quality FROM q WHERE quality >= 300""",
    // the full daily-increment composition in SQL: exact anti-dedup, the
    // restricted pair set, recursive-CTE clustering of batch↔batch pairs,
    // cluster-wide drop on existing contact, quality floor
    "q_daily_increment" ->
      """WITH RECURSIVE
         exh AS (SELECT DISTINCT md5(text) AS h FROM documents
                 WHERE doc_id % 10 <> 0),
         kex AS (SELECT md5(text) AS h, min(doc_id) AS kid FROM documents
                 WHERE doc_id % 10 = 0 GROUP BY 1),
         batch AS (SELECT d.* FROM documents d
                   JOIN kex ON d.doc_id = kex.kid
                   WHERE kex.h NOT IN (SELECT h FROM exh)),
         u AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
               UNION ALL SELECT doc_id, text FROM batch),
         toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM u),
         idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                   FROM sh a JOIN sh b USING (s)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         p AS (SELECT id1, id2
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2
               WHERE round(c::DOUBLE / (s1.n + s2.n - c), 6) >= 0.1
                 AND (id1 IN (SELECT doc_id FROM batch)
                   OR id2 IN (SELECT doc_id FROM batch))),
         bothnew AS (SELECT id1, id2 FROM p
                     WHERE id1 IN (SELECT doc_id FROM batch)
                       AND id2 IN (SELECT doc_id FROM batch)),
         mixdrop AS (SELECT CASE WHEN id1 IN (SELECT doc_id FROM batch)
                                 THEN id1 ELSE id2 END AS d
                     FROM p
                     WHERE NOT (id1 IN (SELECT doc_id FROM batch)
                            AND id2 IN (SELECT doc_id FROM batch))),
         e AS (SELECT id1, id2 FROM bothnew
               UNION ALL
               SELECT id2 AS id1, id1 AS id2 FROM bothnew),
         reach(idv, r) AS (
           SELECT id1, id2 FROM e
           UNION
           SELECT e.id1, reach.r FROM e JOIN reach ON reach.idv = e.id2),
         lbl AS (SELECT idv, least(min(r), idv) AS cluster
                 FROM reach GROUP BY idv),
         clusters AS (SELECT b.doc_id,
                        coalesce(l.cluster, b.doc_id) AS cluster
                      FROM batch b LEFT JOIN lbl l ON l.idv = b.doc_id),
         bad AS (SELECT DISTINCT cluster FROM clusters
                 WHERE doc_id IN (SELECT d FROM mixdrop)),
         keep AS (SELECT doc_id FROM clusters
                  WHERE cluster NOT IN (SELECT cluster FROM bad)
                    AND doc_id = cluster),
         q AS (SELECT b.doc_id, b.source,
                 CAST(least(1000, greatest(0,
                   200 + least(length(b.text), 500)
                   + ((len(list_filter(string_split(b.text, ' '),
                          x -> x = 'the'))
                     + len(list_filter(string_split(b.text, ' '),
                          x -> x = 'a'))
                     + len(list_filter(string_split(b.text, ' '),
                          x -> x = 'of'))
                     + len(list_filter(string_split(b.text, ' '),
                          x -> x = 'and'))
                     + len(list_filter(string_split(b.text, ' '),
                          x -> x = 'is'))) * 1500)
                     // len(string_split(b.text, ' '))
                   - (abs(length(b.text)
                       - (len(string_split(b.text, ' ')) - 1)
                       - 5 * len(string_split(b.text, ' '))) * 50)
                     // len(string_split(b.text, ' ')))) AS BIGINT) AS quality
               FROM batch b
               WHERE b.doc_id IN (SELECT doc_id FROM keep))
         SELECT doc_id, source, quality FROM q WHERE quality >= 300""",
    // connected components = min reachable node per doc, as a recursive
    // reachability fixpoint over the symmetric jaccard edge set (same CTE
    // chain as q_jaccard_pairs); UNION dedup bounds the recursion
    "q_dedup_clusters" ->
      """WITH RECURSIVE
         toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
         idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                   FROM sh a JOIN sh b USING (s)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT id1, id2
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2
               WHERE round(c::DOUBLE / (s1.n + s2.n - c), 6) >= 0.1),
         e AS (SELECT id1, id2 FROM j
               UNION ALL
               SELECT id2 AS id1, id1 AS id2 FROM j),
         reach(id, r) AS (
           SELECT id1, id2 FROM e
           UNION
           SELECT e.id1, reach.r FROM e JOIN reach ON reach.id = e.id2),
         lbl AS (SELECT id, least(min(r), id) AS cluster
                 FROM reach GROUP BY id)
         SELECT id AS doc_id, cluster FROM lbl WHERE cluster <> id""",
    // same cluster CTE + the keep-rule: canonical = argmax (quality desc,
    // id asc), singletons (no edges) are their own cluster and keep
    "q_dedup_keep_best" ->
      """WITH RECURSIVE
         toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
         idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                   FROM sh a JOIN sh b USING (s)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT id1, id2
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2
               WHERE round(c::DOUBLE / (s1.n + s2.n - c), 6) >= 0.1),
         e AS (SELECT id1, id2 FROM j
               UNION ALL
               SELECT id2 AS id1, id1 AS id2 FROM j),
         reach(id, r) AS (
           SELECT id1, id2 FROM e
           UNION
           SELECT e.id1, reach.r FROM e JOIN reach ON reach.id = e.id2),
         lbl AS (SELECT id, least(min(r), id) AS cluster
                 FROM reach GROUP BY id),
         alldocs AS (SELECT d.doc_id,
             COALESCE(l.cluster, d.doc_id) AS cluster,
             CAST(d.n_chars AS BIGINT) AS q
           FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id),
         canon AS (SELECT cluster, doc_id AS canonical_id FROM (
             SELECT cluster, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster
                 ORDER BY q DESC, doc_id) AS rn
             FROM alldocs) WHERE rn = 1)
         SELECT a.doc_id, a.cluster, c.canonical_id,
           a.doc_id = c.canonical_id AS keep
         FROM alldocs a JOIN canon c ON c.cluster = a.cluster""",
    "q_vocab_topk" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
                    FROM documents)
         SELECT token, count(*)::BIGINT AS n FROM t
         GROUP BY 1 ORDER BY n DESC, token LIMIT 500""",
    "q_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
                 GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (SELECT doc_id, term,
                      (tf * CAST(floor(ln(n.n::DOUBLE / df) * 1000000)
                        AS BIGINT))::BIGINT AS score_micro
                    FROM tf JOIN dfx USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, score_micro,
                 CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_micro DESC, term) AS BIGINT) AS rn
               FROM scored)
         SELECT doc_id, term, score_micro, rn FROM r WHERE rn <= 5""",
    "q_vocab_coverage" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
                    FROM documents),
         v AS (SELECT token, count(*)::BIGINT AS n FROM t
               GROUP BY 1 ORDER BY n DESC, token LIMIT 500),
         tot AS (SELECT count(*) AS total FROM t)
         SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
                  AS rnk,
           token, n,
           CAST(floor(sum(n) OVER (ORDER BY n DESC, token) * 1000000.0
                  / total) AS BIGINT) AS cum_frac_micro
         FROM v CROSS JOIN tot""",
    "q_repetition_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
         mx AS (SELECT doc_id, max(c) AS mxc, sum(c) AS tot FROM tc
                GROUP BY 1),
         b AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i
               FROM t),
         bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g FROM b),
         bs AS (SELECT doc_id, count(*) AS tot, count(DISTINCT g) AS dst
                FROM bg GROUP BY 1),
         tr AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i
               FROM t),
         tg AS (SELECT doc_id,
                  toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
                FROM tr),
         ts AS (SELECT doc_id, count(*) AS tot, count(DISTINCT g) AS dst
                FROM tg GROUP BY 1)
         SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
           round(mx.mxc::DOUBLE / mx.tot, 6) AS top_token_frac,
           coalesce(round(1 - bs.dst::DOUBLE / bs.tot, 6), 0.0)
             AS dup_bigram_frac,
           coalesce(round(1 - ts.dst::DOUBLE / ts.tot, 6), 0.0)
             AS dup_trigram_frac
         FROM t
         JOIN mx USING (doc_id)
         LEFT JOIN bs USING (doc_id)
         LEFT JOIN ts USING (doc_id)""",
    "q_quality_mix" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         v AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
         t AS (SELECT sum(c) AS total, count(*) AS vsz FROM v),
         p AS (SELECT tok,
                 round(-ln((c + 1.0) / (total + 1.0 * vsz)) * 1000000)::BIGINT
                   AS nll
               FROM v, t),
         sc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                  round(avg(nll), 2) AS m
                FROM tok JOIN p USING (tok) GROUP BY 1),
         b AS (SELECT doc_id, n_tokens,
                 CASE WHEN m < 3400000 THEN 'q0'
                      WHEN m < 3410000 THEN 'q1'
                      ELSE 'tail' END AS bucket,
                 CASE WHEN m < 3400000 THEN 1.0
                      WHEN m < 3410000 THEN 0.5
                      ELSE 0.1 END AS rate,
                 (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT)
                   ::DOUBLE / 4294967296.0 AS u
               FROM sc)
         SELECT doc_id, bucket, n_tokens FROM b WHERE u < rate""",
    "q_negative_pairs" ->
      """WITH r AS (SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY
               md5(CAST(doc_id AS VARCHAR) || ':7')
                 || CAST(doc_id AS VARCHAR)) - 1 AS pos
           FROM documents),
         nn AS (SELECT count(*) AS n FROM documents),
         d AS (SELECT r.doc_id AS anchor_id, r.pos, t.t,
                 CAST(('0x' || substr(md5(CAST(r.doc_id AS VARCHAR) || ':' ||
                   CAST(t.t AS VARCHAR) || ':7'), 1, 8))::UBIGINT AS BIGINT)
                   % (nn.n - 1) AS j0
               FROM r, (SELECT unnest([1, 2, 3]) AS t) t, nn)
         SELECT d.anchor_id, CAST(d.t AS BIGINT) AS t, r2.doc_id AS neg_id
         FROM d JOIN r r2
           ON r2.pos = CASE WHEN d.j0 >= d.pos THEN d.j0 + 1 ELSE d.j0 END""",
    "q_ewma" -> {
      val terms = (0 to 20).map(k =>
        s"coalesce(lag(vc, $k) OVER w, 0) * ${1L << (20 - k)}")
        .mkString(" + ")
      s"""WITH c AS (SELECT event_id AS id, user_id, ts,
               CAST(floor(value * 100) AS BIGINT) AS vc FROM events)
         SELECT id, user_id, CAST($terms AS BIGINT) AS ewma_scaled
         FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, id)"""
    },
    "q_train_val_split" ->
      """SELECT doc_id, source,
           CASE WHEN u < 0.9 THEN 'train'
                WHEN u < 0.95 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                 (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT)
                   ::DOUBLE / 4294967296.0 AS u
               FROM documents)""",
    "q_global_shuffle" ->
      """WITH r AS (SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY
               md5(CAST(doc_id AS VARCHAR) || ':42')
                 || CAST(doc_id AS VARCHAR)) - 1 AS pos
           FROM documents)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                CAST(pos % 8 AS BIGINT) AS shard
         FROM r""",
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source AS grp,
                      len(string_split(text, ' '))::BIGINT AS n_tokens
                    FROM documents),
         c AS (SELECT *,
                 coalesce(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS cum
               FROM t)
         SELECT doc_id, grp, n_tokens, (cum // 512)::BIGINT AS seq_ix,
                (cum % 512)::BIGINT AS seq_offset
         FROM c""",
    "q_lm_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         v AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
         t AS (SELECT sum(c) AS total, count(*) AS vsz FROM v),
         p AS (SELECT tok,
                 round(-ln((c + 1.0) / (total + 1.0 * vsz)) * 1000000)::BIGINT
                   AS nll
               FROM v, t)
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
                round(avg(nll), 2) AS mean_nll_micro
         FROM tok JOIN p USING (tok) GROUP BY 1""",
    "q_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents),
         g AS (SELECT doc_id, tk,
                 unnest(generate_series(1, len(tk) - 1)) AS i FROM t),
         p AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg FROM g),
         bc AS (SELECT bg, count(*) AS c2 FROM p GROUP BY 1),
         uc AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
                FROM p GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS vsz
               FROM (SELECT unnest(tk) AS tok FROM t)),
         nl AS (SELECT bc.bg,
                  round(-ln((bc.c2 + 1.0) / (uc.c1 + 1.0 * v.vsz))
                    * 1000000)::BIGINT AS nll
                FROM bc JOIN uc ON split_part(bc.bg, ' ', 1) = uc.w1
                CROSS JOIN v)
         SELECT p.doc_id, count(*)::BIGINT AS n_bigrams,
                round(avg(nll), 2) AS mean_nll_micro
         FROM p JOIN nl USING (bg) GROUP BY 1""",
    "q_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS mx
               FROM e),
         q AS (SELECT vec_id,
                 CASE WHEN mx = 0 THEN list_transform(v, x -> 0)
                      ELSE list_transform(v,
                        x -> CAST(floor(x * 127.0 / mx) AS INT)) END AS codes,
                 round(mx / 127.0, 6) AS scale
               FROM m),
         x AS (SELECT vec_id, codes, scale,
                 unnest(generate_series(1, len(codes))) AS i
               FROM q)
         SELECT vec_id, CAST(i AS BIGINT) AS pos, codes[i] AS code, scale
         FROM x""",
    "q_token_budget" ->
      """SELECT source, lang, count(*)::BIGINT AS n_docs,
                sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
                sum(length(text))::BIGINT AS n_chars
         FROM documents GROUP BY 1, 2""",
    "q_embed_contamination" ->
      """WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings)
         SELECT c.vec_id AS corpus_id, b.vec_id AS bench_id,
                round(list_cosine_similarity(c.v, b.v), 6) AS cos
         FROM (SELECT * FROM e WHERE vec_id >= 20) c,
              (SELECT * FROM e WHERE vec_id < 20) b
         WHERE round(list_cosine_similarity(c.v, b.v), 6) >= 0.4""",
    "q_anomalies" ->
      """WITH c AS (SELECT user_id AS key, event_id,
                      CAST(round(value * 100, 0) AS BIGINT) AS v_cents
                    FROM events),
         m AS (SELECT key, median(v_cents) AS med FROM c GROUP BY 1),
         d AS (SELECT c.key, c.event_id, c.v_cents,
                 abs(c.v_cents - m.med) AS dev_cents
               FROM c JOIN m USING (key)),
         md AS (SELECT key, median(dev_cents) AS mad_c FROM d GROUP BY 1)
         SELECT d.key, d.event_id, d.v_cents,
                d.dev_cents::DOUBLE AS dev_cents, md.mad_c::DOUBLE AS mad_cents
         FROM d JOIN md USING (key)
         WHERE md.mad_c > 0 AND d.dev_cents > md.mad_c * 3""",
    "q_embed_covariance" ->
      """WITH q AS (SELECT list_transform(embedding,
             x -> CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS qv
           FROM embeddings),
         a AS (SELECT qv, unnest(generate_series(1, len(qv))) AS i FROM q),
         b AS (SELECT qv, i, unnest(generate_series(i, len(qv))) AS j FROM a),
         m AS (SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qv[i]) AS BIGINT) AS s_i,
             CAST(sum(qv[j]) AS BIGINT) AS s_j,
             CAST(sum(qv[i] * qv[j]) AS BIGINT) AS s_ij
           FROM b GROUP BY 1, 2)
         SELECT i, j, n, s_i, s_j, s_ij,
           round(((CAST(s_ij AS DOUBLE)
             - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n AS DOUBLE)) / 1e12, 9) AS cov
         FROM m""",
    // fixed-basis PCA projection replay: 4 fixed-shape 64-term dot folds
    // in the kernel's exact IEEE order — (e_k − 0.05) · (±0.125), products
    // exact (power-of-two scaling), left-fold sums — the q_mahalanobis
    // fixed-model pattern extended to the projection map
    "q_pca_project_fixed" -> {
      val elems = (1 to 64)
        .map(k => s"CAST(embedding[$k] AS DOUBLE) AS e$k")
        .mkString(",\n           ")
      val folds = (0 until 4).map { b =>
        val f = (0 until 64).map { k =>
          val c = if (((k >> b) & 1) == 1) "-0.125" else "0.125"
          s"(e${k + 1} - 0.05) * $c"
        }.mkString("\n             + ")
        s"""SELECT vec_id, CAST(${b + 1} AS BIGINT) AS pc,
             round($f, 6) AS value FROM c"""
      }.mkString("\n         UNION ALL\n         ")
      s"""WITH c AS (SELECT vec_id,
           $elems
           FROM embeddings)
         $folds"""
    },
    "q_mahalanobis" ->
      """WITH c AS (SELECT vec_id,
             embedding[1]::DOUBLE - (0.1) AS c0,
             embedding[2]::DOUBLE - (-0.05) AS c1,
             embedding[3]::DOUBLE - (0.2) AS c2,
             embedding[4]::DOUBLE - (0.0) AS c3
           FROM embeddings)
         SELECT vec_id, round(
           c0 * c0 * 4.0 + c0 * c1 * 1.0 + c0 * c2 * 0.0 + c0 * c3 * 0.5 +
           c1 * c0 * 1.0 + c1 * c1 * 3.0 + c1 * c2 * 0.5 + c1 * c3 * 0.0 +
           c2 * c0 * 0.0 + c2 * c1 * 0.5 + c2 * c2 * 2.0 + c2 * c3 * 0.25 +
           c3 * c0 * 0.5 + c3 * c1 * 0.0 + c3 * c2 * 0.25 + c3 * c3 * 1.5,
           6) AS m2
         FROM c""",
    "q_domain_cap" ->
      """WITH u AS (SELECT doc_id,
           'HTTPS://WWW.Sub.Host' || (doc_id % 37) || '.COM:443/p/' || doc_id
             || '?utm_source=x&q=' || doc_id || '#frag' AS url
         FROM documents),
         n AS (SELECT doc_id,
            lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
            || '://' ||
            lower(regexp_replace(
              regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
              ':(443|80)$', '', 'g'))
            || regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+', '', 'g'),
                 '#.*', '', 'g'),
                 '\?(utm_[^&#]*&)+', '?', 'g'),
                 '&utm_[^&#]*', '', 'g'),
                 '\?utm_[^&#]*$', '', 'g') AS url_norm
         FROM u),
         dm AS (SELECT doc_id, url_norm,
            regexp_extract(regexp_extract(url_norm, '^[a-z]+://([^/?#]+)', 1),
              '([^.]+\.[^.]+)$', 1) AS domain
         FROM n),
         r AS (SELECT doc_id, url_norm, domain,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS rk
         FROM dm)
         SELECT doc_id, url_norm, domain FROM
           (SELECT doc_id, url_norm, domain,
              row_number() OVER (PARTITION BY domain ORDER BY rk, doc_id)
                AS rn
            FROM r)
         WHERE rn <= 5""",
    // mixFractions replayed in SQL: same IEEE expression tree (cnt/wt min →
    // wt·total/cnt → floor-ppm) so the thresholds are bit-identical; the
    // keep decision is the shared md5-ppm integer comparison
    "q_stratified_mix" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
         w(source, wt) AS (VALUES ('src1', CAST(0.4 AS DOUBLE)),
                                  ('src2', CAST(0.3 AS DOUBLE)),
                                  ('src3', CAST(0.3 AS DOUBLE))),
         t AS (SELECT min(cnt / wt) AS total
               FROM c JOIN w USING (source) WHERE wt > 0 AND cnt > 0),
         f AS (SELECT w.source,
                 CAST(floor(least(CAST(1.0 AS DOUBLE), wt * total / cnt)
                   * 1000000.0) AS BIGINT) AS thr
               FROM w JOIN c USING (source) CROSS JOIN t)
         SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         FROM documents d JOIN f USING (source)
         WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':0'), 1, 8))
           ::UBIGINT % 1000000 < thr""",
    "q_exact_k_sample" ->
      """WITH r AS (SELECT source AS stratum, doc_id AS id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))
             ::UBIGINT AS rk
         FROM documents)
         SELECT stratum, id FROM
           (SELECT stratum, id,
              row_number() OVER (PARTITION BY stratum ORDER BY rk, id) AS rn
            FROM r)
         WHERE rn <= 10""",
    "q_temperature_mix" ->
      """WITH n AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
         r AS (SELECT source,
            CAST(floor(least(1.0, 2.0 / sqrt(cnt)) * 1000000.0) AS BIGINT)
              AS rate_ppm
         FROM n)
         SELECT d.doc_id, d.source, r.rate_ppm
         FROM documents d JOIN r USING (source)
         WHERE ('0x' || substr(md5('tmix:' || CAST(d.doc_id AS VARCHAR)),
                1, 8))::UBIGINT % 1000000 < r.rate_ppm""",
    "q_redact_pii" ->
      """SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 text || ' contact user' || doc_id::VARCHAR || '@mail-' ||
                   doc_id::VARCHAR || '.example.com via https://ex.io/d/' ||
                   doc_id::VARCHAR || ' ref 1234567' || doc_id::VARCHAR,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                 '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
             '[0-9]{7,}', '<NUM>', 'g') AS clean_text
         FROM documents""",
    "q_chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         c AS (SELECT doc_id, toks,
                 unnest(generate_series(0, len(toks) - 1, 48)) AS s
               FROM t)
         SELECT doc_id, (s // 48)::BIGINT AS chunk_ix,
                array_to_string(toks[s + 1 : s + 64], ' ') AS chunk_text,
                least(64, len(toks) - s)::BIGINT AS n_tokens
         FROM c""",
    "q_contamination" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, source, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id, source,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx),
         bsizes AS (SELECT doc_id, count(*) AS n FROM sh
                    WHERE source = 'src0' GROUP BY 1),
         inter AS (SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
                     count(*) AS c
                   FROM (SELECT doc_id, s FROM sh WHERE source <> 'src0') c
                   JOIN (SELECT doc_id, s FROM sh WHERE source = 'src0') b
                     USING (s)
                   GROUP BY 1, 2)
         SELECT corpus_id, bench_id,
                round(c::DOUBLE / n, 6) AS containment
         FROM inter JOIN bsizes ON bsizes.doc_id = bench_id
         WHERE round(c::DOUBLE / n, 6) >= 0.5""",
    // same shape as q_contamination at n=13 (the long-n-gram recipe): the
    // Bloom prefilter is plan surgery, not a result change — the oracle is
    // the plain unfiltered containment scan
    "q_bloom_contamination" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, source, t,
                   unnest(generate_series(1, greatest(len(t) - 12, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id, source,
                  list_aggregate(t[i:i+12], 'string_agg', ' ') AS s
                FROM idx),
         bsizes AS (SELECT doc_id, count(*) AS n FROM sh
                    WHERE source = 'src0' GROUP BY 1),
         inter AS (SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
                     count(*) AS c
                   FROM (SELECT doc_id, s FROM sh WHERE source <> 'src0') c
                   JOIN (SELECT doc_id, s FROM sh WHERE source = 'src0') b
                     USING (s)
                   GROUP BY 1, 2)
         SELECT corpus_id, bench_id,
                round(c::DOUBLE / n, 6) AS containment
         FROM inter JOIN bsizes ON bsizes.doc_id = bench_id
         WHERE round(c::DOUBLE / n, 6) >= 0.5""",
    "q_embed_dedup_pairs" ->
      """WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                 round(list_cosine_similarity(a.v, b.v), 6) AS cos
               FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT id1, id2, cos FROM p WHERE cos >= 0.4""",
    // SRP-LSH mechanism replay: the 64 MurmurHash3 ±1 hyperplanes as
    // literal sign folds — bit j = (±e1 ± e2 ... ± e64 >= 0), the same
    // left-fold IEEE order as the SrpSignature kernel loop (±1 products
    // are exact, so the fold sums identical doubles in identical order);
    // pack to one signed BIGINT word (bit 63 = Long.MinValue, appended
    // last so partial sums stay in range), 8 bands × 8 bits, Hamming cut
    // via bit_count(xor) at the engine's hammingCut(0.4, 64), DISTINCT
    // pairs, exact round-6 cosine rerank (the q_embed_dedup_pairs replay)
    "q_srp_fixed" -> srpFixedSql(""),
    // the incremental run equals the full fixed-geometry run restricted
    // to pairs touching the batch (signatures and rerank are pure per-row
    // functions) — so its oracle IS the full twin plus the
    // batch-membership predicate, the minhashLshPairsMd5Incremental law
    "q_srp_incr_fixed" ->
      srpFixedSql(" AND (id1 % 5 = 0 OR id2 % 5 = 0)"),
    "q_ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
         s AS (SELECT q.qid, e.vec_id AS cid,
                 round(list_cosine_similarity(e.v, q.qv), 6) AS cos
               FROM e CROSS JOIN q WHERE e.vec_id != q.qid)
         SELECT qid, cid, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid)
                AS BIGINT) AS rn
         FROM s
         QUALIFY rn <= 5""",
    "q_centroid_assign" ->
      """WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         cn AS (SELECT vec_id AS cidx,
                  list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                    AS cu
                FROM e WHERE vec_id < 8),
         s AS (SELECT e.vec_id, cn.cidx,
                 list_inner_product(e.v, cn.cu) AS dot
               FROM e CROSS JOIN cn)
         SELECT CAST(vec_id AS BIGINT) AS vec_id,
                CAST(cidx AS BIGINT) AS list_id
         FROM s
         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY dot DESC, cidx) = 1""",
    "q_semdedup_fixed" ->
      """WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         cn AS (SELECT vec_id AS cidx,
                  list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                    AS cu
                FROM e WHERE vec_id < 8),
         sc AS (SELECT e.vec_id, cn.cidx,
                  list_inner_product(e.v, cn.cu) AS dot
                FROM e CROSS JOIN cn),
         a AS (SELECT vec_id, cidx AS cl
               FROM sc
               QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dot DESC, cidx) = 1),
         av AS (SELECT a.vec_id, a.cl, e.v FROM a JOIN e USING (vec_id)),
         dom AS (SELECT DISTINCT l.vec_id
                 FROM av l JOIN av r ON l.cl = r.cl AND r.vec_id < l.vec_id
                 WHERE round(list_cosine_similarity(l.v, r.v), 6) >= 0.4)
         SELECT CAST(av.vec_id AS BIGINT) AS cid, CAST(av.cl AS BIGINT) AS cl
         FROM av WHERE av.vec_id NOT IN (SELECT vec_id FROM dom)""",
    // ADC over the same fixed codebook as q_pq_codes: per-query subspace
    // inner products (the table), summed at the candidate's codes, ranked
    // by the ROUNDED score with ties to the lower cid (the engine ranks
    // rounded scores too — boundedTopK over round(adc, 6))
    "q_pq_adc_topk" ->
      """WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         ss AS (SELECT unnest(range(4)) AS s),
         sub AS (SELECT e.vec_id, ss.s,
                   list_slice(e.v, ss.s * 16 + 1, ss.s * 16 + 16) AS sv
                 FROM e CROSS JOIN ss),
         cbs AS (SELECT e.vec_id AS j, ss.s,
                   list_slice(e.v, ss.s * 16 + 1, ss.s * 16 + 16) AS cw
                 FROM e CROSS JOIN ss WHERE e.vec_id < 4),
         dist AS (SELECT sub.vec_id, sub.s, cbs.j,
                    list_distance(sub.sv, cbs.cw) AS dd
                  FROM sub JOIN cbs ON sub.s = cbs.s),
         codes AS (SELECT vec_id, s, j
                   FROM dist
                   QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                              ORDER BY dd, j) = 1),
         tbl AS (SELECT sub.vec_id AS qid, cbs.s, cbs.j,
                   list_inner_product(sub.sv, cbs.cw) AS ip
                 FROM sub JOIN cbs ON sub.s = cbs.s
                 WHERE sub.vec_id IN (0, 1, 2)),
         sc AS (SELECT tbl.qid, codes.vec_id AS cid, sum(tbl.ip) AS adc_raw
                FROM codes JOIN tbl ON codes.s = tbl.s AND codes.j = tbl.j
                WHERE codes.vec_id <> tbl.qid
                GROUP BY 1, 2)
         SELECT CAST(qid AS BIGINT) AS qid, CAST(cid AS BIGINT) AS cid,
           round(adc_raw, 6) AS adc,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY round(adc_raw, 6) DESC, cid)
                AS BIGINT) AS rn
         FROM sc
         QUALIFY rn <= 5""",
    "q_pq_codes" ->
      """WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         ss AS (SELECT unnest(range(4)) AS s),
         sub AS (SELECT e.vec_id, ss.s,
                   list_slice(e.v, ss.s * 16 + 1, ss.s * 16 + 16) AS sv
                 FROM e CROSS JOIN ss),
         cbs AS (SELECT e.vec_id AS j, ss.s,
                   list_slice(e.v, ss.s * 16 + 1, ss.s * 16 + 16) AS cw
                 FROM e CROSS JOIN ss WHERE e.vec_id < 4),
         d AS (SELECT sub.vec_id, sub.s, cbs.j,
                 list_distance(sub.sv, cbs.cw) AS dist
               FROM sub JOIN cbs ON sub.s = cbs.s)
         SELECT CAST(vec_id AS BIGINT) AS vec_id,
                CAST(s AS BIGINT) AS subspace, CAST(j AS BIGINT) AS code
         FROM d
         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                    ORDER BY dist, j) = 1""",
    "q_media_features" ->
      """SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         FROM documents""",
    "q_sink_partition_overwrite" ->
      """SELECT event_id, round(value, 2) AS v FROM events
         WHERE CAST(ts AS DATE) < DATE '2024-01-15'
         UNION ALL
         SELECT event_id, round(round(value, 2) * 2, 2) AS v FROM events
         WHERE CAST(ts AS DATE) >= DATE '2024-01-15'""",
    "q_sink_upsert" ->
      """SELECT event_id, round(value, 2) AS v FROM events
         WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
         UNION ALL
         SELECT event_id, round(round(value, 2) * 2, 2) AS v FROM events
         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'""",
    "q_delete_keys" ->
      """SELECT event_id, round(value, 2) AS v FROM events
         WHERE user_id % 7 <> 3""",
    "q_quarantine" ->
      """SELECT (event_id % 10 = 0) AS is_quarantined, count(*) AS n,
           CAST(sum(CASE WHEN event_id % 10 = 0 THEN NULL
               ELSE CAST(floor(value * 1000000.0) AS BIGINT) END) AS BIGINT)
             AS qty_sum
         FROM events GROUP BY 1""",
    // the quarantine split is a pure function of doc_id % 12 (the query
    // builds its payloads that way); error classes per residue are pinned
    // in MultimodalSpec's fixture matrix
    "q_media_quarantine" ->
      """SELECT CASE WHEN doc_id % 12 IN (10, 11) THEN 'audio'
                ELSE 'image' END AS kind,
           CASE WHEN doc_id % 12 IN (0, 1, 7, 8) THEN 'png'
                WHEN doc_id % 12 = 2 THEN 'jpeg'
                WHEN doc_id % 12 = 3 THEN 'bmp'
                WHEN doc_id % 12 = 4 THEN 'webp'
                WHEN doc_id % 12 = 5 THEN 'avif'
                WHEN doc_id % 12 = 6 THEN 'tiff'
                WHEN doc_id % 12 = 9 THEN 'unknown'
                ELSE 'wav' END AS container,
           doc_id % 12 IN (0, 1, 2, 3, 11) AS ok,
           CASE WHEN doc_id % 12 IN (4, 5, 6) THEN 'unsupported_container'
                WHEN doc_id % 12 = 7 THEN 'truncated'
                WHEN doc_id % 12 IN (8, 10) THEN 'malformed'
                WHEN doc_id % 12 = 9 THEN 'unrecognized_container'
                ELSE NULL END AS error_class,
           count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM documents GROUP BY 1, 2, 3, 4""",
    "q_frames_quarantine" ->
      """WITH f AS (SELECT doc_id, k
                    FROM documents, (VALUES (0), (1), (2), (3)) AS s(k)
                    WHERE doc_id % 4 < 2)
         SELECT true AS ok, NULL AS error_class, 'gif' AS container,
           count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(k) AS BIGINT) AS ix_sum
         FROM f
         UNION ALL
         SELECT false, 'truncated', 'gif', count(*),
           CAST(sum(doc_id) AS BIGINT), CAST(sum(-1) AS BIGINT)
         FROM documents WHERE doc_id % 4 = 2
         UNION ALL
         SELECT false, 'unsupported_container', 'webp', count(*),
           CAST(sum(doc_id) AS BIGINT), CAST(sum(-1) AS BIGINT)
         FROM documents WHERE doc_id % 4 = 3""",
    "q_stream_hourly" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events)
         SELECT date_trunc('hour', ts) AS bucket, event_type AS grp,
           round(SUM(value), 2) AS total
         FROM events, mx
         GROUP BY 1, 2, mx.m
         HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 2 HOUR""",
    "q_stream_billing" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events)
         SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id AS grp,
           CAST(SUM(CASE WHEN hour(ts) >= 9 AND hour(ts) < 21
                          AND dayofweek(ts) NOT IN (0, 6)
                         THEN CAST(floor(value*100) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS peak_cents,
           CAST(SUM(CASE WHEN hour(ts) >= 9 AND hour(ts) < 21
                          AND dayofweek(ts) NOT IN (0, 6)
                         THEN 0 ELSE CAST(floor(value*100) AS BIGINT) END)
             AS BIGINT) AS off_cents
         FROM events, mx
         WHERE value IS NOT NULL
         GROUP BY 1, 2, mx.m
         HAVING CAST(date_trunc('day', ts) AS DATE) + INTERVAL 1 DAY
           <= m - INTERVAL 2 HOUR""",
    "q_stream_slide" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
         w AS (SELECT date_trunc('hour', ts) - to_hours(k.k) AS win_start,
                 event_type, value
               FROM events, (SELECT unnest([0, 1]) AS k) k)
         SELECT win_start, event_type AS grp, round(sum(value), 2) AS total,
           CAST(count(*) AS BIGINT) AS n
         FROM w, mx
         GROUP BY win_start, event_type, mx.m
         HAVING win_start + INTERVAL 2 HOUR <= m - INTERVAL 2 HOUR""",
    // run 2's emissions = full rollup restricted to windows whose end lies
    // in (wm after run 1, wm after run 2] — i.e. closed by the restart run.
    // Boundary windows aggregate BOTH runs' rows: state survived the
    // checkpoint restart iff the totals match.
    "q_stream_restart" ->
      """WITH m2 AS (SELECT max(ts) AS mx2 FROM events),
         c AS (SELECT date_trunc('day', mx2) AS cut, mx2 FROM m2),
         m1 AS (SELECT max(ts) AS mx1 FROM events, c WHERE ts < cut)
         SELECT date_trunc('hour', ts) AS bucket, event_type AS grp,
           round(SUM(value), 2) AS total
         FROM events, m1, c
         GROUP BY 1, 2, m1.mx1, c.mx2
         HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR > mx1 - INTERVAL 2 HOUR
            AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx2 - INTERVAL 2 HOUR""",
    "q_stream_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_ns(ts) // 1000 AS us
                    FROM events)
         SELECT l.event_id AS l_id, r.event_id AS r_id
         FROM e l JOIN e r ON l.user_id = r.user_id
          AND l.event_type = 'click' AND r.event_type = 'view'
          AND r.us BETWEEN l.us - 3600000000 AND l.us""",
    // closed form for the two-run left-outer rig: full inner interval join
    // ∪ NULL rows for unmatched clicks below the FINAL watermark (min of
    // the two sides' whole-data maxima − 2 h lateness — AvailableNow runs a
    // trailing no-data batch, so the last watermark advance still evicts;
    // µs-integer time arithmetic)
    "q_stream_left_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_ns(ts) // 1000 AS us
                    FROM events),
         wm AS (SELECT least(
             (SELECT max(us) FROM e WHERE event_type = 'click'),
             (SELECT max(us) FROM e WHERE event_type = 'view'))
             - 7200000000 AS w),
         ij AS (SELECT l.event_id AS l_id, r.event_id AS r_id
                FROM e l JOIN e r ON l.user_id = r.user_id
                 AND l.event_type = 'click' AND r.event_type = 'view'
                 AND r.us BETWEEN l.us - 3600000000 AND l.us),
         um AS (SELECT l.event_id AS l_id FROM e l, wm
                WHERE l.event_type = 'click' AND l.us < w
                  AND NOT EXISTS (SELECT 1 FROM e r
                    WHERE r.event_type = 'view' AND r.user_id = l.user_id
                      AND r.us BETWEEN l.us - 3600000000 AND l.us))
         SELECT l_id, r_id FROM ij
         UNION ALL SELECT l_id, CAST(NULL AS BIGINT) FROM um""",
    "q_stream_sink_upsert" ->
      """WITH r AS (SELECT user_id AS k, event_id, round(value, 2) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT k, event_id, v FROM r WHERE rn = 1""",
    // fixed-model PNG oracle: regenerate the sample law and recompute
    // per-channel means; the engine reached the same numbers through a
    // REAL PNG container (zlib + CRC) and the real Inflater+unfilter path
    "q_png_fixed" ->
      """WITH docs AS (SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
           FROM documents),
         px AS (SELECT doc_id, ch, unnest(range(0, 32 * ch)) AS i FROM docs),
         v AS (SELECT doc_id, ch, i % ch AS c,
             ((doc_id*2654435761 + i*2246822519) // 8) % 256 AS val FROM px),
         m AS (SELECT doc_id, ch, c, SUM(val) / 32.0 AS mean
               FROM v GROUP BY 1, 2, 3)
         SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height, CAST(ch AS BIGINT) AS channels,
           round(MAX(CASE WHEN c = 0 THEN mean END), 6) AS mean_c1,
           round(MAX(CASE WHEN c = 1 THEN mean END), 6) AS mean_c2,
           round(MAX(CASE WHEN c = 2 THEN mean END), 6) AS mean_c3,
           round(MAX(CASE WHEN c = 3 THEN mean END), 6) AS mean_c4
         FROM m GROUP BY 1, 2, 3, 4""",
    // the same law through the NN resize: output (x,y) samples source
    // (2x, 2y) — the resize arithmetic replayed cross-engine
    "q_png_resize_fixed" ->
      """WITH docs AS (SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
           FROM documents),
         xs AS (SELECT doc_id, ch, unnest(range(0, 4)) AS x FROM docs),
         xy AS (SELECT doc_id, ch, x, unnest(range(0, 2)) AS y FROM xs),
         xyc AS (SELECT doc_id, ch, x, y, unnest(range(0, ch)) AS c FROM xy),
         v AS (SELECT doc_id, ch, c,
             ((doc_id*2654435761 + (((2*y)*8 + 2*x)*ch + c)*2246822519) // 8)
               % 256 AS val
           FROM xyc),
         m AS (SELECT doc_id, ch, c, SUM(val) / 8.0 AS mean
               FROM v GROUP BY 1, 2, 3)
         SELECT doc_id AS media_id, CAST(4 AS BIGINT) AS width,
           CAST(2 AS BIGINT) AS height, CAST(ch AS BIGINT) AS channels,
           round(MAX(CASE WHEN c = 0 THEN mean END), 6) AS mean_c1,
           round(MAX(CASE WHEN c = 1 THEN mean END), 6) AS mean_c2,
           round(MAX(CASE WHEN c = 2 THEN mean END), 6) AS mean_c3,
           round(MAX(CASE WHEN c = 3 THEN mean END), 6) AS mean_c4
         FROM m GROUP BY 1, 2, 3, 4""",
    // fixed-model BMP oracle: regenerate the sample law and recompute
    // per-channel means; a BGR/padding mix-up in the real container round
    // trip shifts bytes across channels and diverges. Channel MEANS are
    // invariant to a vertical flip, so the bottom-up ROW ORDER is pinned
    // separately by MultimodalSpec's position-sensitive bmpFromPixels
    // checks (raw payload bytes + per-row resize decode), not here
    // (ADVICE r10)
    "q_bmp_fixed" ->
      """WITH px AS (SELECT doc_id, unnest(range(0, 96)) AS i
                     FROM documents),
         v AS (SELECT doc_id, i % 3 AS c,
             ((doc_id*2654435761 + i*2246822519) // 8) % 256 AS val FROM px),
         m AS (SELECT doc_id, c, SUM(val) / 32.0 AS mean FROM v GROUP BY 1, 2)
         SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels,
           round(MAX(CASE WHEN c = 0 THEN mean END), 6) AS mean_c1,
           round(MAX(CASE WHEN c = 1 THEN mean END), 6) AS mean_c2,
           round(MAX(CASE WHEN c = 2 THEN mean END), 6) AS mean_c3
         FROM m GROUP BY 1, 2, 3, 4""",
    // fixed-model JPEG oracle: flat even-valued blocks round-trip the
    // REAL lossy codec bit-exactly at uniform q=16 (DC-only subspace),
    // so the whole-image mean is the block-value average
    "q_jpeg_fixed" ->
      """WITH b AS (SELECT doc_id, unnest(range(0, 2)) AS blk
                    FROM documents),
         v AS (SELECT doc_id,
             (((doc_id*2654435761 + blk*2246822519) // 8) % 128) * 2 AS val
           FROM b)
         SELECT doc_id AS media_id, CAST(16 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height, CAST(1 AS BIGINT) AS channels,
           round(SUM(val) / 2.0, 6) AS mean_c1
         FROM v GROUP BY 1""",
    // fixed-model PALETTE PNG oracle: regenerate the index law, expand it
    // through the same law-valued PLTE (+ tRNS alpha for odd ids, default
    // 255 past its 5 entries) and recompute per-channel means — any
    // index/palette/alpha mapping bug in the real decode diverges
    "q_png_palette_fixed" ->
      """WITH docs AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS ch
           FROM documents),
         px AS (SELECT doc_id, ch, unnest(range(0, 32)) AS i FROM docs),
         ix AS (SELECT doc_id, ch,
             ((doc_id*2654435761 + i*2246822519) // 8) % 8 AS idx FROM px),
         chan AS (SELECT doc_id, ch, idx, unnest(range(0, ch)) AS c FROM ix),
         v AS (SELECT doc_id, ch, c,
             CASE WHEN c < 3 THEN (idx*53 + c*19) % 256
                  WHEN idx < 5 THEN (idx*29 + 7) % 256
                  ELSE 255 END AS val
           FROM chan),
         m AS (SELECT doc_id, ch, c, SUM(val) / 32.0 AS mean
               FROM v GROUP BY 1, 2, 3)
         SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height, CAST(ch AS BIGINT) AS channels,
           round(MAX(CASE WHEN c = 0 THEN mean END), 6) AS mean_c1,
           round(MAX(CASE WHEN c = 1 THEN mean END), 6) AS mean_c2,
           round(MAX(CASE WHEN c = 2 THEN mean END), 6) AS mean_c3,
           round(MAX(CASE WHEN c = 3 THEN mean END), 6) AS mean_c4
         FROM m GROUP BY 1, 2, 3, 4""",
    // fixed-model GIF ANIMATION CANVAS oracle: replay the composition
    // per pixel — frame 0 full law image; frame 1 patch at (1,1) whose
    // law transparent index reveals frame 0; frame 2 drawn after the
    // disposal-2 clear, so rect pixels not redrawn are transparent and
    // count 0 toward every mean (guarded p1/p2 terms are only read
    // inside their rects)
    "q_gif_canvas_fixed" ->
      """WITH fr AS (SELECT doc_id, unnest(range(0, 3)) AS f
                     FROM documents),
         xy AS (SELECT doc_id, f, unnest(range(0, 4)) AS y FROM fr),
         pix AS (SELECT doc_id, f, y, unnest(range(0, 4)) AS x FROM xy),
         v AS (SELECT doc_id, f, y, x,
             ((doc_id*2654435761 + (y*4+x)*2246822519) // 8) % 4 AS a,
             (x BETWEEN 1 AND 2 AND y BETWEEN 1 AND 2) AS in1,
             ((doc_id*7919 + ((y-1)*2+(x-1))*104729) // 4) % 4 AS p1,
             ((doc_id*40503) // 8) % 4 AS t1,
             (x BETWEEN 2 AND 3 AND y BETWEEN 2 AND 3) AS in2,
             ((doc_id*15923 + ((y-2)*2+(x-2))*7919) // 8) % 4 AS p2
           FROM pix),
         w AS (SELECT doc_id, f, in1, in2, p2,
             CASE WHEN in1 AND p1 <> t1 THEN p1 ELSE a END AS v1, a
           FROM v),
         px AS (SELECT doc_id, f,
             CASE WHEN f < 2 THEN TRUE
                  ELSE NOT (in1 AND NOT in2) END AS op,
             CASE WHEN f = 0 THEN a
                  WHEN f = 1 THEN v1
                  WHEN in2 THEN p2
                  WHEN in1 THEN NULL
                  ELSE v1 END AS idx
           FROM w),
         c AS (SELECT doc_id, f,
             SUM(CASE WHEN op AND idx = 1 THEN 255.0 ELSE 0 END)/16 AS mr,
             SUM(CASE WHEN op AND idx = 2 THEN 255.0 ELSE 0 END)/16 AS mg,
             SUM(CASE WHEN op AND idx = 3 THEN 255.0 ELSE 0 END)/16 AS mb,
             SUM(CASE WHEN op THEN 255.0 ELSE 0 END)/16 AS ma
           FROM px GROUP BY 1, 2)
         SELECT doc_id AS media_id, f AS frame_ix,
           4 AS width, 4 AS height,
           round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
           round(mb, 6) AS mean_b, round(ma, 6) AS mean_a
         FROM c""",
    // fixed-model 16-BIT PNG oracle: regenerate the 16-bit sample law and
    // apply the decoder's declared scaling (sample8 = sample16 >> 8,
    // replayed as // 256 — both truncate on these nonnegative values);
    // interlaced ids decode to the same pixels by construction, so one
    // oracle covers both layouts
    "q_png16_fixed" ->
      """WITH docs AS (SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
           FROM documents),
         px AS (SELECT doc_id, ch, unnest(range(0, 32 * ch)) AS i FROM docs),
         v AS (SELECT doc_id, ch, i % ch AS c,
             (((doc_id*2654435761 + i*2246822519) // 8) % 65536) // 256
               AS val FROM px),
         m AS (SELECT doc_id, ch, c, SUM(val) / 32.0 AS mean
               FROM v GROUP BY 1, 2, 3)
         SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height, CAST(ch AS BIGINT) AS channels,
           round(MAX(CASE WHEN c = 0 THEN mean END), 6) AS mean_c1,
           round(MAX(CASE WHEN c = 1 THEN mean END), 6) AS mean_c2,
           round(MAX(CASE WHEN c = 2 THEN mean END), 6) AS mean_c3,
           round(MAX(CASE WHEN c = 3 THEN mean END), 6) AS mean_c4
         FROM m GROUP BY 1, 2, 3, 4""",
    // fixed-model PROGRESSIVE JPEG oracle — same flat-even-block law as
    // q_jpeg_fixed (the SOF2 multi-scan accumulation must land on the
    // identical pixels)
    "q_jpeg_prog_fixed" ->
      """WITH b AS (SELECT doc_id, unnest(range(0, 2)) AS blk
                    FROM documents),
         v AS (SELECT doc_id,
             (((doc_id*2654435761 + blk*2246822519) // 8) % 128) * 2 AS val
           FROM b)
         SELECT doc_id AS media_id, CAST(16 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height, CAST(1 AS BIGINT) AS channels,
           round(SUM(val) / 2.0, 6) AS mean_c1
         FROM v GROUP BY 1""",
    // HLL exact-mode twin: ≤100 distincts per key keeps every sketch in
    // sparse (coupon) mode, where merge + estimate is exact — COUNT
    // (DISTINCT) replays it
    "q_sketch_rollup_fixed" ->
      """SELECT event_type AS grp,
         CAST(COUNT(DISTINCT user_id % 100) AS BIGINT) AS n_distinct_est
         FROM events GROUP BY 1""",
    // E3 monthly backfill: missing ∪ incomplete fetch-target days, each
    // with its calendar-month chunk clipped to the window (split_by_month)
    "q_monthly_backfill" ->
      """WITH win AS (SELECT ts FROM events
           WHERE event_type = 'error'
             AND ts >= TIMESTAMP '2023-12-20 00:00:00'
             AND ts <  TIMESTAMP '2024-02-06 00:00:00'),
         missing AS (
           SELECT cal.day
           FROM (SELECT unnest(generate_series(DATE '2023-12-20',
                        DATE '2024-02-05', INTERVAL 1 DAY))::DATE AS day) cal
           LEFT JOIN (SELECT DISTINCT CAST(ts AS DATE) AS day FROM win) d
             USING (day)
           WHERE d.day IS NULL),
         incomplete AS (
           SELECT CAST(ts AS DATE) AS day FROM win
           GROUP BY 1
           HAVING COUNT(DISTINCT EXTRACT(hour FROM ts)) < 24),
         days AS (SELECT day FROM missing UNION SELECT day FROM incomplete)
         SELECT day,
           greatest(CAST(date_trunc('month', day) AS DATE),
                    DATE '2023-12-20') AS chunk_start,
           least(last_day(day), DATE '2024-02-05') AS chunk_end
         FROM days""",
    // fixed-model video frame oracle: regenerate the palette-index law and
    // recompute the per-frame channel means the engine reached through a
    // REAL GIF container and the real LZW decode + frame-sample path
    "q_gif_frames_fixed" ->
      """WITH docs AS (SELECT doc_id, 1 + (doc_id % 3) AS nf FROM documents),
         fr AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM docs),
         pxi AS (SELECT doc_id, f, unnest(range(0, 16)) AS i FROM fr
                 WHERE f % 2 = 0),
         px AS (SELECT doc_id, f,
                  ((doc_id*2654435761 + f*40503 + i*2246822519) // 8) % 4
                    AS v
                FROM pxi),
         c AS (SELECT doc_id, f,
             SUM(CASE WHEN v = 1 THEN 255.0 ELSE 0.0 END) / 16 AS mr,
             SUM(CASE WHEN v = 2 THEN 255.0 ELSE 0.0 END) / 16 AS mg,
             SUM(CASE WHEN v = 3 THEN 255.0 ELSE 0.0 END) / 16 AS mb
           FROM px GROUP BY 1, 2)
         SELECT doc_id AS media_id, f AS frame_ix,
           4 AS width, 4 AS height,
           round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
           round(mb, 6) AS mean_b
         FROM c""",
    // fixed-model GIF89a GCE oracle: same index law; ids % 3 != 2 carry a
    // LAW transparent index per frame, so mean_a = 255·(pixels whose index
    // differs from it)/16 — RGB means are transparency-invariant by the
    // declared tRNS-style convention; plain-87a ids replay mean_a NULL
    "q_gif_gce_fixed" ->
      """WITH docs AS (SELECT doc_id, 1 + (doc_id % 2) AS nf FROM documents),
         fr AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM docs),
         pxi AS (SELECT doc_id, f, unnest(range(0, 16)) AS i FROM fr),
         px AS (SELECT doc_id, f,
                  ((doc_id*2654435761 + f*40503 + i*2246822519) // 8) % 4
                    AS v,
                  ((doc_id*7919 + f*104729) // 4) % 4 AS t
                FROM pxi),
         c AS (SELECT doc_id, f,
             SUM(CASE WHEN v = 1 THEN 255.0 ELSE 0.0 END) / 16 AS mr,
             SUM(CASE WHEN v = 2 THEN 255.0 ELSE 0.0 END) / 16 AS mg,
             SUM(CASE WHEN v = 3 THEN 255.0 ELSE 0.0 END) / 16 AS mb,
             SUM(CASE WHEN v <> t THEN 255.0 ELSE 0.0 END) / 16 AS ma
           FROM px GROUP BY 1, 2)
         SELECT doc_id AS media_id, f AS frame_ix,
           4 AS width, 4 AS height,
           round(mr, 6) AS mean_r, round(mg, 6) AS mean_g,
           round(mb, 6) AS mean_b,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE round(ma, 6) END AS mean_a
         FROM c""",
    // fixed-model audio frame oracle: regenerate the SQL-expressible
    // sample law with a correlated range() and recompute the all-integer
    // frame statistics; the engine side reached the same numbers through
    // a REAL WAV container and the real decode+framing path. The previous-
    // sample value is re-derived from the law (index i-ch), not a window —
    // the guard t%16>0 keeps the i<ch garbage rows out of every sum.
    "q_audio_frames_fixed" ->
      """WITH docs AS (
           SELECT doc_id, 1 + (doc_id % 2) AS ch,
             (30 + (doc_id % 4) * 8) * (1 + (doc_id % 2)) AS n
           FROM documents),
         idx AS (SELECT doc_id, ch, unnest(range(0, n)) AS i FROM docs),
         s AS (
           SELECT doc_id, ch,
             ((doc_id * 7919 + i * 15923) % 65536) - 32768 AS v,
             ((doc_id * 7919 + (i - ch) * 15923) % 65536) - 32768 AS pv,
             (i // ch) AS t
           FROM idx)
         SELECT doc_id AS media_id, t // 16 AS frame_ix,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(abs(v)) AS BIGINT) AS abs_sum,
           CAST(SUM(v * v) AS BIGINT) AS sq_sum,
           CAST(SUM(CASE WHEN t % 16 > 0 AND ((pv < 0) != (v < 0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
         FROM s WHERE (t // 16) % 2 = 0 GROUP BY 1, 2""",
    // the closed form of the two-tick melt-ingest stream: hourly sums,
    // doubled from the corrected re-delivery's first day on (2·Σv == Σ2v
    // bit-exactly: power-of-two scaling commutes with IEEE rounding)
    "q_stream_melt_ingest" ->
      """WITH h AS (SELECT event_type AS grp, date_trunc('hour', ts) AS ts,
             SUM(value) AS sv FROM events GROUP BY 1, 2)
         SELECT grp, ts,
           round(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                 THEN sv * 2 ELSE sv END, 2) AS total
         FROM h""",
    "q_stream_alerts" ->
      """WITH p AS (SELECT event_type AS grp, epoch_ns(ts) // 1000 AS us,
             CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
         w AS (SELECT grp, us, vc,
             CAST(COALESCE(SUM(vc) OVER (PARTITION BY grp ORDER BY us, vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS sp,
             COUNT(*) OVER (PARTITION BY grp ORDER BY us, vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS np
           FROM p)
         SELECT grp, us AS ts_us, vc AS v_cents, np AS n_prior,
           sp AS sum_prior_cents
         FROM w WHERE np >= 5 AND abs(vc * np - sp) > 5000 * np""",
    "q_stream_cusum" ->
      """WITH cal0 AS (SELECT event_type AS grp,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events
           WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-01'
             AND ts < TIMESTAMP '2024-01-16'),
         -- Euclidean floor (DuckDB integer `//` truncates on negatives;
         -- the engine's calibration mu floor-divides sign-safely)
         calmu AS (SELECT grp,
             (s - (((s % n) + n) % n)) // n AS mu
           FROM (SELECT grp, CAST(SUM(vc) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
                 FROM cal0 GROUP BY 1)),
         cal AS (SELECT c.grp, mu,
             CAST(SUM(abs(vc - mu)) AS BIGINT) // COUNT(*) AS mad
           FROM cal0 c JOIN calmu USING (grp) GROUP BY 1, 2),
         p AS (SELECT event_type AS grp, epoch_ns(ts)//1000 AS us,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events
           WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'),
         w AS (SELECT p.grp, us, vc, mu, mad,
             CAST(SUM(vc - mu - (mad//2)) OVER (PARTITION BY p.grp
               ORDER BY us, vc ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS su,
             CAST(SUM(vc - mu + (mad//2)) OVER (PARTITION BY p.grp
               ORDER BY us, vc ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS sd
           FROM p JOIN cal ON cal.grp = p.grp),
         h AS (SELECT grp, us, vc, mad,
             su - LEAST(CAST(0 AS BIGINT), MIN(su) OVER (PARTITION BY grp
               ORDER BY us, vc ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)) AS up,
             GREATEST(CAST(0 AS BIGINT), MAX(sd) OVER (PARTITION BY grp
               ORDER BY us, vc ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)) - sd AS down
           FROM w)
         SELECT grp, us AS ts_us, vc AS v_cents,
           CAST(up AS BIGINT) AS up_cents, CAST(down AS BIGINT) AS down_cents,
           CASE WHEN up > 3*mad AND down > 3*mad THEN 'both'
                WHEN up > 3*mad THEN 'up' ELSE 'down' END AS direction
         FROM h WHERE up > 3*mad OR down > 3*mad""",
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
           (epoch_ns(ts) // 1000)::BIGINT AS ts_us
         FROM events""",
    "q_stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
         FROM events e
         LEFT JOIN customer c ON c.c_custkey = e.user_id""",
    "q_stream_resume" ->
      """WITH mx AS (SELECT CAST(user_id AS VARCHAR) AS grp,
                       (epoch_ns(max(ts)) // 1000000)::BIGINT AS last_ts_ms,
                       CAST(max(ts) AS DATE) AS last_day_d
                     FROM events GROUP BY 1),
         hs AS (SELECT CAST(e.user_id AS VARCHAR) AS grp,
                  count(DISTINCT extract(hour FROM e.ts))::BIGINT AS hours_seen
                FROM events e
                JOIN mx ON CAST(e.user_id AS VARCHAR) = mx.grp
                       AND CAST(e.ts AS DATE) = mx.last_day_d
                GROUP BY 1)
         SELECT grp, last_ts_ms, hours_seen,
                strftime(last_day_d, '%Y-%m-%d') AS last_day
         FROM mx JOIN hs USING (grp)""",
    // closed-form batch sessionization with session_window's STRICT merge
    // rule (gap == 30 min splits → break on >=), session_end = last event +
    // gap, emitted once the final watermark (max ts - 2h) passes the end
    "q_stream_sessions" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
         l AS (SELECT event_type, ts, value,
                 lag(ts) OVER (PARTITION BY event_type ORDER BY ts) AS prev
               FROM events),
         b AS (SELECT event_type, ts, value,
                 CASE WHEN prev IS NULL
                        OR epoch_ms(ts) - epoch_ms(prev) >= 1800000
                      THEN 1 ELSE 0 END AS brk
               FROM l),
         s AS (SELECT event_type, ts, value,
                 sum(brk) OVER (PARTITION BY event_type ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS six
               FROM b),
         g AS (SELECT event_type AS grp, min(ts) AS session_start,
                 max(ts) + INTERVAL 30 MINUTE AS session_end,
                 round(sum(value), 2) AS total, count(*)::BIGINT AS n
               FROM s GROUP BY event_type, six)
         SELECT session_start, session_end, grp, total, n FROM g, mx
         WHERE session_end <= m - INTERVAL 2 HOUR""",
    "q_melt_roundtrip" ->
      """SELECT event_type AS grp, date_trunc('hour', ts) AS ts,
         round(SUM(value), 2) AS total FROM events GROUP BY 1, 2""",
    "q_melt_rollover" ->
      """SELECT event_type AS grp,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS ts,
         round(SUM(value), 2) AS total FROM events GROUP BY 1, 2""",
    "q_dedup_keep_last" ->
      """SELECT user_id, event_type, CAST(ts AS DATE) AS day, ts, value
         FROM events
         QUALIFY ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type, CAST(ts AS DATE)
           ORDER BY ts DESC, event_id DESC) = 1""",
    "q_upsert" ->
      """WITH existing AS (
           SELECT event_id, round(value, 2) AS value, 0 AS src FROM events
           WHERE ts < TIMESTAMP '2024-01-20 00:00:00'),
         incoming AS (
           SELECT event_id, round(value * 2, 2) AS value, 1 AS src FROM events
           WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
         u AS (SELECT * FROM existing UNION ALL SELECT * FROM incoming)
         SELECT event_id, value FROM u
         QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY src DESC) = 1""",
    "q_missing_runs" ->
      """WITH e AS (
           SELECT event_type, ts, event_id,
             CASE WHEN event_id % 23 = 0 THEN NULL ELSE value END AS v
           FROM events),
         g AS (
           SELECT *, SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM e)
         SELECT event_type AS grp, MIN(ts) AS run_start,
           CAST(COUNT(*) AS BIGINT) AS run_len
         FROM g WHERE v IS NULL GROUP BY event_type, isl""",
    "q_hist_fill" ->
      """WITH base AS (
           SELECT event_type AS grp, ts,
             CASE WHEN event_id % 23 = 0 THEN NULL ELSE value END AS v,
             EXTRACT(month FROM ts) AS m, EXTRACT(day FROM ts) AS d,
             EXTRACT(hour FROM ts) AS h
           FROM events),
         valid AS (SELECT * FROM base WHERE v IS NOT NULL),
         hist AS (SELECT grp, m, d, h, AVG(v) AS ha FROM valid GROUP BY 1,2,3,4),
         km AS (SELECT grp, AVG(v) AS kmean FROM valid GROUP BY 1),
         gm AS (SELECT AVG(v) AS gmean FROM valid)
         SELECT b.grp, b.ts, b.v,
           COALESCE(b.v, round(h.ha, 6), round(k.kmean, 6), round(g.gmean, 6))
             AS v_filled
         FROM base b
         LEFT JOIN hist h USING (grp, m, d, h)
         LEFT JOIN km k USING (grp)
         CROSS JOIN gm g""",
    "q_resume_points" ->
      """WITH pd AS (
           SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             COUNT(DISTINCT EXTRACT(hour FROM ts)) AS nh, MAX(ts) AS dm
           FROM events GROUP BY 1, 2)
         SELECT grp, dm AS last_ts,
           CASE WHEN nh >= 24 THEN day + 1 ELSE day END AS resume_day
         FROM pd
         QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day DESC) = 1""",
    "q_incomplete_days" ->
      """SELECT CAST(ts AS DATE) AS day,
         COUNT(DISTINCT EXTRACT(hour FROM ts)) AS n_hours
         FROM events
         WHERE event_type = 'error'
           AND ts >= TIMESTAMP '2024-01-05 00:00:00'
           AND ts <  TIMESTAMP '2024-01-12 00:00:00'
         GROUP BY 1 HAVING COUNT(DISTINCT EXTRACT(hour FROM ts)) < 24""",
    "q_normalize_scalars" ->
      """SELECT p_partkey,
         lower(regexp_replace(regexp_replace(regexp_replace(p_type,
           'STANDARD\s*', '', 'g'), 'POLISHED\s*', '', 'g'), '\s+', '', 'g'))
           AS norm_type,
         CAST(regexp_extract(p_brand || ' x' || CAST(p_size AS VARCHAR),
           '(\d+\.?\d*)', 1) AS DOUBLE) AS spec_num,
         lpad(CAST(p_size % 24 AS VARCHAR), 2, '0') AS padded,
         regexp_extract(p_brand, '(\d+)', 1) AS brand_digits,
         regexp_extract(p_type, '(BRASS|COPPER|NICKEL|STEEL|TIN)', 1)
           AS city_like,
         regexp_replace(p_name || '/:*?' || p_brand, '[^\w\-.가-힣 ]+', '', 'g')
           AS safe_name
         FROM part""",
    "q_prev_month_range" ->
      """SELECT DISTINCT
         CAST(date_trunc('month', o_orderdate - INTERVAL 1 MONTH) AS DATE)
           AS m_start,
         last_day(CAST(o_orderdate AS DATE) - INTERVAL 1 MONTH) AS m_end
         FROM orders""",
    "q_profile" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
           count(*) - count(event_id) AS n_null,
           count(DISTINCT event_id) AS n_distinct,
           min(event_id)::DOUBLE AS min_v, max(event_id)::DOUBLE AS max_v
         FROM events
         UNION ALL
         SELECT 'user_id', count(*), count(*) - count(user_id),
           count(DISTINCT user_id), min(user_id)::DOUBLE, max(user_id)::DOUBLE
         FROM events
         UNION ALL
         SELECT 'value', count(*), count(*) - count(value),
           count(DISTINCT value), min(value)::DOUBLE, max(value)::DOUBLE
         FROM events
         UNION ALL
         SELECT 'event_type', count(*), count(*) - count(event_type),
           count(DISTINCT event_type), NULL::DOUBLE, NULL::DOUBLE
         FROM events
         UNION ALL
         SELECT 'props', count(*), count(*) - count(props),
           count(DISTINCT props), NULL::DOUBLE, NULL::DOUBLE
         FROM events""",
    "q_zorder" ->
      """WITH b AS (SELECT event_id,
           least(255, greatest(0, coalesce(user_id, 0) >> 3)) AS b1,
           least(255, greatest(0,
             coalesce(CAST(floor(value * 1000000.0) AS BIGINT), 0) >> 22))
             AS b2
         FROM events)
         SELECT event_id,
           ((((b1 >> 0) & 1) << 1) | (((b2 >> 0) & 1) << 0) |
            (((b1 >> 1) & 1) << 3) | (((b2 >> 1) & 1) << 2) |
            (((b1 >> 2) & 1) << 5) | (((b2 >> 2) & 1) << 4) |
            (((b1 >> 3) & 1) << 7) | (((b2 >> 3) & 1) << 6) |
            (((b1 >> 4) & 1) << 9) | (((b2 >> 4) & 1) << 8) |
            (((b1 >> 5) & 1) << 11) | (((b2 >> 5) & 1) << 10) |
            (((b1 >> 6) & 1) << 13) | (((b2 >> 6) & 1) << 12) |
            (((b1 >> 7) & 1) << 15) | (((b2 >> 7) & 1) << 14))::BIGINT AS z
         FROM b""",
    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         COUNT(*) AS cnt, round(SUM(value), 2) AS total
         FROM events GROUP BY 1""",
    "q_filter_suite" ->
      """SELECT o_orderpriority AS grp, COUNT(*) AS n,
         round(SUM(o_totalprice), 2) AS total
         FROM orders
         WHERE o_orderdate IS NOT NULL
           AND o_orderpriority IN ('1-URGENT', '2-HIGH')
           AND o_orderstatus NOT IN ('X')
           AND regexp_replace(CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                 '-', '', 'g') LIKE '1996%'
           AND o_totalprice IS NOT NULL
         GROUP BY 1""",
    "q_active_keys" ->
      """SELECT user_id AS grp, max(ts) AS last_ts, max(event_type) AS carry
         FROM events GROUP BY 1
         HAVING max(ts) >= TIMESTAMP '2024-01-25 00:00:00'""",
    "q_join_normalized_key" ->
      """SELECT p.p_partkey, b.brand_avg
         FROM part p
         JOIN (SELECT p_brand, round(AVG(p_retailprice), 2) AS brand_avg
               FROM part GROUP BY 1) b USING (p_brand)""",
    "q_lookup_default" ->
      """SELECT s_suppkey, COALESCE(n_name, 'UNKNOWN') AS looked_up
         FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey""",
    "q_fuzzy_lookup" ->
      """WITH dim(k, v) AS (VALUES
           ('Brand#1','A'), ('Brand#2','B'), ('Brand#3','C'),
           ('Brand#45','D'), ('ZZZ','E')),
         brands AS (SELECT DISTINCT p_brand FROM part),
         j AS (
           SELECT b.p_brand, d.k, d.v,
             CASE WHEN b.p_brand = d.k THEN 0 ELSE 1 END AS pri
           FROM brands b LEFT JOIN dim d
             ON b.p_brand = d.k OR contains(b.p_brand, d.k)
                OR contains(d.k, b.p_brand))
         SELECT p_brand, COALESCE(v, 'DEFAULT') AS matched FROM j
         QUALIFY ROW_NUMBER() OVER (
           PARTITION BY p_brand ORDER BY pri, length(k) DESC, k) = 1""",
    "q_asof_join" ->
      """WITH v AS (SELECT user_id, ts, event_id, round(value, 2) AS v
                    FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id AS c_uid, ts AS c_ts, round(value, 2) AS c_val
               FROM events WHERE event_type = 'click')
         SELECT v.event_id, v.user_id, v.ts, v.v,
           c.c_ts AS asof_c_ts, c.c_val AS asof_c_val
         FROM v ASOF LEFT JOIN c
           ON v.user_id = c.c_uid AND v.ts >= c.c_ts""",
    "q_pit_join" ->
      """WITH hourly AS (SELECT user_id,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS avail_ts,
             round(sum(value), 2) AS sum_v, count(*) AS n
           FROM events GROUP BY 1, 2),
         daily AS (SELECT user_id,
             date_trunc('day', ts) + INTERVAL 1 DAY AS avail_ts,
             round(sum(value), 2) AS sum_v
           FROM events GROUP BY 1, 2)
         SELECT e.event_id, e.user_id,
           h.sum_v AS hr_sum_v, h.n AS hr_n, d.sum_v AS day_sum_v
         FROM events e
           ASOF LEFT JOIN hourly h
             ON e.user_id = h.user_id AND e.ts >= h.avail_ts
           ASOF LEFT JOIN daily d
             ON e.user_id = d.user_id AND e.ts >= d.avail_ts""",
    "q_interval_overlap" ->
      """WITH v AS (SELECT event_id AS l_id, ts AS l_s,
                      ts + to_minutes(event_id % 7 + 1) AS l_e
                    FROM events WHERE event_type = 'view'),
         c AS (SELECT event_id AS r_id, ts AS r_s,
                 ts + to_minutes(event_id % 7 + 1) AS r_e
               FROM events WHERE event_type = 'click')
         SELECT l_id, r_id,
           epoch_us(least(l_e, r_e)) - epoch_us(greatest(l_s, r_s)) AS overlap_us
         FROM v JOIN c ON l_s <= r_e AND r_s <= l_e""",
    // the applied table IS snapshot B — the whole point of the law
    "q_apply_delta" ->
      """SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 3 = 0 THEN 'RE-GRADED'
                ELSE o_orderpriority END AS o_orderpriority
         FROM orders WHERE o_orderkey % 7 <> 0""",
    "q_snapshot_diff" ->
      """WITH a AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
                    FROM orders WHERE o_orderkey % 10 <> 0),
         b AS (SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 3 = 0 THEN 'RE-GRADED'
                      ELSE o_orderpriority END AS o_orderpriority
               FROM orders WHERE o_orderkey % 7 <> 0)
         SELECT * FROM (
           SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             a.o_orderstatus AS old_o_orderstatus,
             a.o_orderpriority AS old_o_orderpriority,
             b.o_orderstatus AS new_o_orderstatus,
             b.o_orderpriority AS new_o_orderpriority,
             CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                  WHEN b.o_orderkey IS NULL THEN 'delete'
                  WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                    OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
                  THEN 'update' END AS change_type
           FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey)
         WHERE change_type IS NOT NULL""",
    "q_scd2" ->
      """WITH marked AS (
           SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
           FROM events),
         starts AS (
           SELECT user_id, ts, event_id, event_type FROM marked
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type AS attr, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS is_current
         FROM starts""",
    "q_rollup_report" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
    "q_customers_no_orders" ->
      """SELECT c_custkey FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""",
    "q_rolling_window" ->
      """WITH daily AS (
           SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             SUM(value) AS dv, COUNT(*) AS dn
           FROM events GROUP BY 1, 2)
         SELECT grp, day,
           round(SUM(dv) OVER w, 2) AS rolling_total,
           CAST(SUM(dn) OVER w AS BIGINT) AS rolling_n
         FROM daily
         WINDOW w AS (PARTITION BY grp
                      ORDER BY date_diff('day', DATE '1970-01-01', day)
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    "q_delta_lag" ->
      """SELECT event_type AS grp, ts, event_id AS id,
         round(value, 2) AS v,
         round(value - LAG(value, 1) OVER (PARTITION BY event_type
           ORDER BY ts, event_id), 2) AS delta
         FROM events""",
    "q_meter_intervals" ->
      """WITH c AS (SELECT user_id AS key, ts, event_id AS id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
         r AS (SELECT key, ts, id,
             SUM(cents) OVER (PARTITION BY key ORDER BY ts, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           FROM c),
         m AS (SELECT key, ts, id,
             CAST(((run % 100000) + 100000) % 100000 AS BIGINT)
               AS reading_cents
           FROM r),
         l AS (SELECT key, ts, id, reading_cents,
             LAG(reading_cents) OVER (PARTITION BY key ORDER BY ts, id)
               AS prev
           FROM m)
         SELECT key, ts, id, reading_cents,
           CAST(CASE WHEN prev IS NULL THEN NULL
                WHEN reading_cents - prev >= 0 THEN reading_cents - prev
                ELSE reading_cents - prev + 100000 END AS BIGINT)
             AS used_cents,
           COALESCE(reading_cents - prev < 0, FALSE) AS is_discontinuity
         FROM l""",
    // degree-day grain replay: batch daily rollup (temp rows under the
    // _temp sentinel -> Euclidean-floor-mean vs base, load rows per key)
    // restricted to days whose end clears the final watermark
    "q_stream_degree_day" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
         cells AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CASE WHEN event_type = 'view' THEN '_temp'
                  ELSE event_type END AS grp,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events, mx
           WHERE value IS NOT NULL
           GROUP BY 1, 2, mx.m
           HAVING CAST(date_trunc('day', ts) AS DATE) + INTERVAL 1 DAY
             <= m - INTERVAL 2 HOUR),
         tm AS (SELECT day, grp, s, n,
             CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS tmean
           FROM cells)
         SELECT day, grp,
           CASE WHEN grp <> '_temp' THEN s END AS load_cents,
           CASE WHEN grp = '_temp'
                THEN GREATEST(CAST(0 AS BIGINT), 15000 - tmean)
             END AS hdd_cents,
           CASE WHEN grp = '_temp'
                THEN GREATEST(CAST(0 AS BIGINT), tmean - 15000)
             END AS cdd_cents,
           n
         FROM tm""",
    // demand-peak replay: hourly floor-cent sums, each key's LAST hour
    // dropped (never closed by a later reading), a peak = a closed hour
    // strictly above greatest(0, max of the month's PRIOR closed hours)
    // — greatest(0, ...) because the stream's running max starts at 0
    // per cycle, so an all-negative (net-export) month never alarms
    "q_stream_demand_peak" ->
      """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS grp, ts,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL),
         h AS (SELECT grp, date_trunc('hour', ts) AS hstart,
               CAST(SUM(vc) AS BIGINT) AS hc
             FROM t GROUP BY 1, 2),
         lasth AS (SELECT grp, max(hstart) AS mh FROM h GROUP BY 1),
         closed AS (SELECT h.grp, h.hstart, h.hc
                    FROM h JOIN lasth USING (grp) WHERE h.hstart < lasth.mh),
         pk AS (SELECT grp, date_trunc('month', hstart) AS m, hstart, hc,
                  GREATEST(COALESCE(MAX(hc) OVER (PARTITION BY grp,
                      date_trunc('month', hstart)
                    ORDER BY hstart ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0), 0) AS prior
                FROM closed)
         SELECT grp, CAST(m AS DATE) AS month,
           CAST(epoch_ns(hstart)//1000 AS BIGINT) AS hour_us,
           hc AS peak_cents
         FROM pk WHERE hc > prior""",
    // stateless historical-fill replay: the stream emits the batch
    // coalesce chain row-for-row (no watermark — the lookups are static
    // dimensions, not streams), so the oracle is the same chain over ALL
    // events with the calibration-window lookups rebuilt in SQL
    "q_stream_hist_fill" ->
      """WITH cal AS (SELECT CAST(user_id AS VARCHAR) AS grp,
             EXTRACT(month FROM ts) AS m, EXTRACT(day FROM ts) AS d,
             EXTRACT(hour FROM ts) AS h,
             CAST(floor(value*1000000 + 0.5) AS BIGINT) AS vu
           FROM events
           WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-01'
             AND ts < TIMESTAMP '2024-01-16'),
         hist AS (SELECT grp, m, d, h,
             (s - (((s % n) + n) % n)) // n AS hist_micro
           FROM (SELECT grp, m, d, h, CAST(SUM(vu) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
                 FROM cal GROUP BY 1, 2, 3, 4)),
         km AS (SELECT grp, (s - (((s % n) + n) % n)) // n AS key_micro
           FROM (SELECT grp, CAST(SUM(vu) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n FROM cal GROUP BY 1)),
         gm AS (SELECT (s - (((s % n) + n) % n)) // n AS global_micro
           FROM (SELECT CAST(SUM(vu) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n FROM cal)),
         ev AS (SELECT CAST(user_id AS VARCHAR) AS grp, ts,
             EXTRACT(month FROM ts) AS m, EXTRACT(day FROM ts) AS d,
             EXTRACT(hour FROM ts) AS h,
             CAST(floor(value*1000000 + 0.5) AS BIGINT) AS v_micro
           FROM events)
         SELECT ev.grp, ev.ts, ev.v_micro,
           -- trailing 0: an EMPTY calibration window aggregates to a NULL
           -- global mean here, while the engine's driver-side fallback
           -- scalar is 0 in that case — keep the pair equivalent on any
           -- corpus, not just ones with January data
           CAST(COALESCE(ev.v_micro, hist.hist_micro, km.key_micro,
             gm.global_micro, 0) AS BIGINT) AS v_filled_micro,
           CASE WHEN ev.v_micro IS NOT NULL THEN 'present'
                WHEN hist.hist_micro IS NOT NULL THEN 'hist'
                WHEN km.key_micro IS NOT NULL THEN 'key'
                ELSE 'global' END AS fill_src
         FROM ev LEFT JOIN hist USING (grp, m, d, h)
           LEFT JOIN km USING (grp) CROSS JOIN gm""",
    // flatline alarm replay: the stuck-run gaps-and-islands in (us, vc)
    // fold order, alarms where rank-within-island == minLen
    "q_stream_flatline" ->
      """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS k,
             epoch_ns(ts)//1000 AS us,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL),
         qq AS (SELECT k, us, vc,
             (vc - (((vc % 5000) + 5000) % 5000)) // 5000 AS q
           FROM t),
         c AS (SELECT k, us, vc, q,
             CASE WHEN LAG(q) OVER (PARTITION BY k ORDER BY us, vc)
                    IS DISTINCT FROM q THEN 1 ELSE 0 END AS chg
           FROM qq),
         i AS (SELECT k, us, vc, q,
             SUM(chg) OVER (PARTITION BY k ORDER BY us, vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM c),
         p AS (SELECT k, us, q, island,
             CAST(ROW_NUMBER() OVER (PARTITION BY k, island
               ORDER BY us, vc) AS BIGINT) AS rn
           FROM i)
         SELECT k AS grp, CAST(us AS BIGINT) AS ts_us,
           CAST(q AS BIGINT) AS bucket, rn AS run_len
         FROM p WHERE rn = 3""",
    // rank-exact gap statistics: same (gap, ts, id) rank total order,
    // same doubled-median / ceil-p95 arithmetic (all operands positive,
    // so `//` is floor here)
    "q_cadence_profile" ->
      """WITH g AS (SELECT user_id AS grp, ts, event_id AS id,
             epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
           FROM events),
         gg AS (SELECT grp, ts, id, CAST(gap_ms AS BIGINT) AS gap_ms
           FROM g WHERE gap_ms IS NOT NULL),
         r AS (SELECT grp, gap_ms,
             CAST(ROW_NUMBER() OVER (PARTITION BY grp
               ORDER BY gap_ms, ts, id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
           FROM gg)
         SELECT grp, MAX(n) AS n_gaps,
           CAST(SUM(CASE
               WHEN n % 2 = 1 AND rn = (n + 1) // 2 THEN 2 * gap_ms
               WHEN n % 2 = 0 AND (rn = n // 2 OR rn = n // 2 + 1)
                 THEN gap_ms
               ELSE 0 END) AS BIGINT) AS twice_median_gap_ms,
           CAST(SUM(CASE WHEN rn = (95 * n + 99) // 100 THEN gap_ms
               ELSE 0 END) AS BIGINT) AS p95_gap_ms,
           MAX(gap_ms) AS max_gap_ms
         FROM r GROUP BY 1""",
    // stuck-run replay: same floorDiv bucketing (Euclidean idiom — DuckDB
    // integer `//` truncates on negatives), same gaps-and-islands
    "q_stuck_meter" ->
      """WITH t AS (SELECT user_id AS key, ts, event_id AS id,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL),
         qq AS (SELECT key, ts, id,
             (vc - (((vc % 5000) + 5000) % 5000)) // 5000 AS q
           FROM t),
         c AS (SELECT key, ts, id, q,
             CASE WHEN LAG(q) OVER (PARTITION BY key ORDER BY ts, id)
                    IS DISTINCT FROM q THEN 1 ELSE 0 END AS chg
           FROM qq),
         i AS (SELECT key, ts, q,
             CAST(SUM(chg) OVER (PARTITION BY key ORDER BY ts, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS island
           FROM c)
         SELECT key, CAST(MIN(q) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           MIN(ts) AS run_start, MAX(ts) AS run_end
         FROM i GROUP BY key, island
         HAVING COUNT(*) >= 3""",
    "q_vee_scorecard" ->
      """WITH base AS (SELECT user_id AS key, ts, event_id AS id, value
           FROM events),
         t AS (SELECT key, ts, id, CAST(floor(value*100) AS BIGINT) AS vc
           FROM base WHERE value IS NOT NULL),
         tk AS (SELECT key, ts, vc,
             LAG(vc) OVER (PARTITION BY key ORDER BY ts, id) AS prev
           FROM t),
         pk AS (SELECT key,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
               AS days_present,
             CAST(date_diff('day', MIN(CAST(ts AS DATE)),
               MAX(CAST(ts AS DATE))) + 1 AS BIGINT) AS span_days,
             CAST(SUM(CASE WHEN prev IS NOT NULL AND abs(vc - prev) > 20000
               THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes
           FROM tk GROUP BY 1),
         qq AS (SELECT key, ts, id,
             (vc - (((vc % 5000) + 5000) % 5000)) // 5000 AS q
           FROM t),
         c AS (SELECT key, ts, id, q,
             CASE WHEN LAG(q) OVER (PARTITION BY key ORDER BY ts, id)
                    IS DISTINCT FROM q THEN 1 ELSE 0 END AS chg
           FROM qq),
         i AS (SELECT key,
             CAST(SUM(chg) OVER (PARTITION BY key ORDER BY ts, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS island
           FROM c),
         runs AS (SELECT key, island, COUNT(*) AS cnt
           FROM i GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         st AS (SELECT key, CAST(MAX(cnt) AS BIGINT) AS longest_stuck
           FROM runs GROUP BY 1),
         nl AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls
           FROM base GROUP BY 1)
         SELECT n.key, n.n_rows, n.n_nulls,
           CAST(COALESCE(p.days_present, 0) AS BIGINT) AS days_present,
           CAST(COALESCE(p.span_days, 0) AS BIGINT) AS span_days,
           CAST(CASE WHEN p.span_days > 0
             THEN (1000000 * p.days_present) // p.span_days
             ELSE 0 END AS BIGINT) AS completeness_ppm,
           CAST(COALESCE(p.n_spikes, 0) AS BIGINT) AS n_spikes,
           CAST(COALESCE(s.longest_stuck, 0) AS BIGINT) AS longest_stuck
         FROM nl n
         LEFT JOIN pk p ON p.key = n.key
         LEFT JOIN st s ON s.key = n.key""",
    "q_twa_daily" ->
      """WITH c AS (SELECT user_id AS key, ts, event_id AS id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CAST(ts AS DATE) AS day, epoch_ms(ts) AS ts_ms FROM events
           WHERE value IS NOT NULL),
         l AS (SELECT key, day, cents, ts_ms,
             LEAD(ts_ms) OVER (PARTITION BY key ORDER BY ts, id) AS next_ms,
             (date_diff('day', DATE '1970-01-01', day) + 1) * 86400000
               AS day_end_ms
           FROM c),
         h AS (SELECT key, day, cents,
             LEAST(COALESCE(next_ms, day_end_ms), day_end_ms) - ts_ms
               AS hold_ms
           FROM l),
         g AS (SELECT key, day, COUNT(*) AS n_samples,
             CAST(SUM(hold_ms) AS BIGINT) AS covered_ms,
             SUM(cents * hold_ms) AS wsum
           FROM h GROUP BY 1, 2)
         SELECT key, day, n_samples, covered_ms,
           CASE WHEN covered_ms > 0 THEN
             CAST((wsum - (((wsum % covered_ms) + covered_ms) % covered_ms))
               // covered_ms AS BIGINT)
           END AS twa_cents
         FROM g""",
    "q_sessionize" ->
      """WITH l AS (SELECT user_id, ts, value,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                    FROM events),
         m AS (SELECT user_id, ts, value,
                 CASE WHEN prev IS NULL
                        OR epoch_ms(ts) - epoch_ms(prev) > 1800000
                      THEN 1 ELSE 0 END AS brk
               FROM l),
         s AS (SELECT user_id, ts, value,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS six
               FROM m)
         SELECT user_id AS key, six::BIGINT AS session_ix,
                min(ts) AS session_start, max(ts) AS session_end,
                count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
         FROM s GROUP BY 1, 2""",
    "q_suffix_multi_unit" ->
      """SELECT p.p_partkey,
         CASE WHEN b.n_units > 1
              THEN p.p_brand || '_' || CAST(p.p_size AS VARCHAR)
              ELSE p.p_brand END AS display_name
         FROM part p JOIN (SELECT p_brand, COUNT(DISTINCT p_size) AS n_units
                           FROM part GROUP BY 1) b USING (p_brand)""",
  )
}
