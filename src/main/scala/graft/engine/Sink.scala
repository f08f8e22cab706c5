package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** §2.1 sink semantics on parquet tables.
  *
  * The reference's write patterns map onto three idempotent file-sink shapes:
  *  - S13 delete+insert of a date range inside a txn
  *    (daily_pv_automation.py:201-224, nambu_backfill.py:285-298) →
  *    dynamic partition overwrite: only the date partitions present in the
  *    incoming frame are replaced, atomically per partition.
  *  - S14 keyed upsert `ON CONFLICT DO UPDATE`
  *    (namdong_wind_collect.py:191-225) → read + [[Dedup.upsert]] + rewrite.
  *  - S15/S16 truncate/replace (hangyoung_wind_load.py:65-67,
  *    initial_db_ingestion.py:138) → `mode("overwrite")`.
  *
  * Scale: partition layout is `p_date=YYYY-MM-DD` — date predicates
  * partition-prune at read (the reference's B-tree-on-datetime equivalent,
  * SURVEY.md §4), and a daily re-run rewrites only that day's partitions no
  * matter how big the table is. The S14 full-rewrite path is only for keyed
  * tables that cannot be date-partitioned; prefer S13 at scale.
  */
object Sink {

  /** How a rewritten table becomes visible to readers. */
  sealed trait CommitStrategy
  /** Directory rename swap ([[swapStaged]]) — atomic on one POSIX FS / HDFS;
    * WRONG on object stores (rename = per-object copy+delete). */
  case object StagedSwap extends CommitStrategy
  /** Versioned directories + atomic pointer-file flip
    * ([[commitVersioned]]) — the object-store-safe commit. */
  case object PointerCommit extends CommitStrategy

  /** S13: write `df` partitioned by the date of `ts`, dynamically overwriting
    * ONLY the partitions the frame contains — the delete+insert-range
    * equivalent. Re-running the same day is a no-op-identical rewrite
    * (idempotent); other days are untouched. */
  def overwriteDatePartitions(df: DataFrame, ts: Column, path: String): Unit =
    dynamicOverwrite(df.withColumn("p_date", to_date(ts)), path)

  /** Write `df` partitioned by `p_date`, replacing only the partitions it
    * contains. Dynamic mode is a per-write option, which the file writer
    * reads before the session's `partitionOverwriteMode`, so the session
    * conf is never touched. */
  private def dynamicOverwrite(df: DataFrame, path: String): Unit =
    // repartition by the partition column first, at EXPLICIT shuffle width:
    // each date lands wholly in one task → one file per partition dir, not
    // (tasks × dates) small files. The width must be explicit — a bare
    // repartition(col) lets AQE coalesce the (locally tiny) shuffle to ONE
    // partition and the whole parquet encode serializes on one core (r13
    // FunnelScan: 97% of q_sink_partition_overwrite's stage wall in 1-task
    // stages). At scale date volumes exceed the advisory size and the
    // explicit width equals what AQE would pick anyway.
    df.repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("p_date"))
      .write.partitionBy("p_date").mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  /** Surgical keyed delete from a date-partitioned parquet table (written
    * by [[overwriteDatePartitions]]): the right-to-be-forgotten / retention
    * op. Rewrites ONLY the partitions that actually contain a target key:
    *
    *  1. A partition-pruned, column-pruned probe scan (key + p_date pages
    *     only) semi-joins the broadcast key set → the affected date list
    *     (driver-held, bounded by the table's partition count).
    *  2. Only those partitions are re-read (partition filter → pruned scan),
    *     anti-joined against the keys, and dynamically overwritten in place
    *     (same S13 idempotent protocol).
    *
    * A 2-key delete on a 100 TB table touches the handful of dates those
    * keys lived in — never a full rewrite. Returns the affected dates.
    * Keys arrive as a DataFrame so huge deletion lists stay distributed;
    * the affected-DATES list is what must stay bounded. */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
                 keys: DataFrame): Seq[java.sql.Date] = {
    val table = spark.read.parquet(path)
    val keyed = keys.toDF(keyCol)
    val affected = table
      .join(broadcast(keyed), Seq(keyCol), "left_semi")
      .select(col("p_date")).distinct()
      .collect().map(_.getDate(0)).toSeq.sortBy(_.toString)
    if (affected.nonEmpty) {
      // Overwriting a path the plan also reads is (rightly) rejected, so the
      // survivors materialize first. localCheckpoint holds ONLY the affected
      // partitions minus the deleted keys — delete-scope-sized, not
      // table-sized — and is released right after the write (un-released
      // checkpoint blocks tax every later query; see SCALE.md session
      // hygiene).
      val survivors = table
        .filter(col("p_date").isin(affected: _*)) // partition-pruned re-read
        .join(broadcast(keyed), Seq(keyCol), "left_anti")
        .localCheckpoint()
      try {
        dynamicOverwrite(survivors, path)
        // Dynamic overwrite only replaces partitions PRESENT in the written
        // frame — a partition whose every row was deleted would silently
        // keep its old files. Drop those directories explicitly.
        val survived = survivors.select(col("p_date")).distinct()
          .collect().map(_.getDate(0).toString).toSet
        affected.filterNot(d => survived(d.toString)).foreach { d =>
          delete(new java.io.File(s"$path/p_date=$d"))
        }
      } finally survivors.unpersist(blocking = false)
    }
    affected
  }

  /** S14: keyed upsert into a parquet table — read-merge-rewrite with the
    * incoming side winning on key conflict. The commit is pluggable:
    *  - [[StagedSwap]] (default): write to a temp path, swap directories via
    *    [[swapStaged]] — single POSIX filesystem (or HDFS) ONLY.
    *  - [[PointerCommit]]: the table at `path` is a versioned root
    *    ([[commitVersioned]]) — the S3/GCS-safe commit; the merge reads the
    *    current version while the new one is written, so no temp dir and no
    *    rename of data at all.
    * Either way a failed job never truncates the table. */
  def upsertParquet(spark: SparkSession, incoming: DataFrame, path: String,
                    keys: Seq[String], tieBreak: Seq[Column],
                    commit: CommitStrategy = StagedSwap): Unit = commit match {
    case StagedSwap =>
      val target = new java.io.File(path)
      val merged = if (target.exists()) {
        val existing = spark.read.parquet(path)
        Dedup.upsert(existing, incoming.select(existing.columns.map(col): _*),
          keys, tieBreak)
      } else incoming
      val tmp = path + "._staged"
      merged.write.mode(SaveMode.Overwrite).parquet(tmp)
      swapStaged(new java.io.File(tmp), target)
    case PointerCommit =>
      val merged = resolveVersioned(path) match {
        case Some(dir) =>
          val existing = spark.read.parquet(dir)
          Dedup.upsert(existing,
            incoming.select(existing.columns.map(col): _*), keys, tieBreak)
        case None => incoming
      }
      commitVersioned(merged, path): Unit
  }

  /** Staged swap of a freshly-written table directory into place:
    * `target` → `target._old`, `tmp` → `target`, drop `target._old`.
    *
    * CONTRACT — single-filesystem `rename(2)` semantics: both renames must be
    * atomic metadata moves, which holds on one POSIX FS and on HDFS, and does
    * NOT hold on object stores (S3/GCS "rename" = copy+delete per object).
    * Every rename is CHECKED: an ignored failure followed by delete would
    * destroy the only copy. If the swap-in fails after the table was staged
    * aside, the backup is restored before the error propagates — the table
    * survives any single failure. A crash BETWEEN the two renames leaves the
    * data intact at `target._old`; recover by renaming it back. */
  private[graft] def swapStaged(tmp: java.io.File, target: java.io.File): Unit = {
    val bak = new java.io.File(target.getPath + "._old")
    if (target.exists()) {
      delete(bak)
      if (!target.renameTo(bak))
        throw new java.io.IOException(
          s"swapStaged: cannot stage $target aside to $bak")
    }
    if (!tmp.renameTo(target)) {
      // restore the backup before failing — the table must survive
      if (bak.exists()) bak.renameTo(target)
      throw new java.io.IOException(s"swapStaged: swap of $tmp into $target failed")
    }
    delete(bak)
  }

  // ---- Pointer-file commit (object-store-safe table rewrites) ----
  //
  // Layout: <table>/_v<N>/ immutable version directories plus ONE small
  // `_current` pointer file naming the active version. Writers write a brand
  // new version dir, then publish it by replacing the pointer; readers
  // resolve the pointer first and only ever see fully-written versions.
  // This is the commit shape that survives object stores: the data "move"
  // is no move at all (each version is written in place, once), and the
  // publish step is a single-object replace — one atomic PUT on S3/GCS; the
  // local-FS implementation below uses write-tmp + ATOMIC_MOVE as the same
  // primitive. A crash mid-write leaves an orphan _v dir the pointer never
  // names (invisible to readers, GC'd later); a crash between write and
  // publish is identical. Version numbers only grow — an orphan's number is
  // never reused. Single-writer contract: concurrent committers need a CAS
  // on the pointer (metastore/table-format territory), same as the
  // reference's txn-guarded delete+insert (daily_pv_automation.py:201-224).

  private val VersionName = """_v(\d+)""".r

  private def listVersions(root: java.io.File): Seq[(Long, java.io.File)] =
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .flatMap { f =>
        if (!f.isDirectory) None
        else f.getName match {
          case VersionName(n) => Some((n.toLong, f))
          case _ => None
        }
      }

  /** The active version name (e.g. "_v3") from the pointer file, if any. */
  def currentVersion(path: String): Option[String] = {
    val cur = new java.io.File(path, "_current")
    if (!cur.exists()) None
    else Some(new String(
      java.nio.file.Files.readAllBytes(cur.toPath), "UTF-8").trim)
  }

  /** Absolute path of the active version directory, if published. */
  def resolveVersioned(path: String): Option[String] =
    currentVersion(path).map(v => new java.io.File(path, v).getPath)

  /** Read the table as of its current pointer. Fails loudly when nothing has
    * been committed yet. */
  def readVersioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(resolveVersioned(path).getOrElse(throw
      new java.io.FileNotFoundException(s"no committed version under $path")))

  /** Time-travel read: the table as of version `n` (`_v<n>`), provided
    * retention (`commitVersioned(retain = …)`) still holds it — the
    * audit/reproducibility companion to the pointer read ("score with the
    * exact table the model trained on"). Fails loudly on a GC'd or
    * never-written version, listing what IS readable. */
  def readVersion(spark: SparkSession, path: String, n: Long): DataFrame = {
    val root = new java.io.File(path)
    val have = listVersions(root).map(_._1).sorted
    require(have.contains(n),
      s"version _v$n not present under $path (readable: " +
        s"${have.map("_v" + _).mkString(", ")}) — raise `retain` if time " +
        "travel must reach further back")
    spark.read.parquet(new java.io.File(root, s"_v$n").getPath)
  }

  /** Readable version numbers under a versioned table root, ascending. */
  def versions(path: String): Seq[Long] =
    listVersions(new java.io.File(path)).map(_._1).sorted

  /** Write `df` as the table's next version and atomically publish it.
    * Returns the new version directory. `retain` bounds retention GC: after
    * publish, all but the `retain` highest-numbered versions (always
    * including the current one) are deleted — stale readers that resolved
    * the pointer just before the flip keep a readable directory for
    * `retain - 1` further commits. */
  def commitVersioned(df: DataFrame, path: String, retain: Int = 2): String = {
    require(retain >= 1, s"retain must be >= 1: $retain")
    val root = new java.io.File(path)
    root.mkdirs()
    val next = (listVersions(root).map(_._1) :+ 0L).max + 1
    val vname = s"_v$next"
    val vdir = new java.io.File(root, vname)
    df.write.mode(SaveMode.Overwrite).parquet(vdir.getPath)
    publishPointer(root, vname)
    gcVersions(root, retain)
    vdir.getPath
  }

  /** Atomic pointer replace — the local-FS stand-in for an object store's
    * single-object PUT. */
  private def publishPointer(root: java.io.File, vname: String): Unit = {
    val tmp = new java.io.File(root, "_current._tmp")
    java.nio.file.Files.write(tmp.toPath, vname.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(root, "_current").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private def gcVersions(root: java.io.File, retain: Int): Unit = {
    val all = listVersions(root)
    val keep = all.sortBy(-_._1).take(retain).map(_._2.getName).toSet ++
      currentVersion(root.getPath)
    all.filterNot(v => keep(v._2.getName)).foreach(v => delete(v._2))
  }

  /** Bucketed managed table: pre-shuffles once at write time so that every
    * subsequent equi-join/aggregation on `keys` between co-bucketed tables
    * runs with NO exchange (the 100 TB co-location strategy for repeatedly
    * joined fact tables — SURVEY §4's B-tree-index analogue for joins).
    * Managed-catalog only: bucketing metadata lives in the session catalog. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** Small-file compaction: rewrite a parquet table to ~targetFileMB files.
    * Daily S13 runs produce one file per day per run; long-lived tables need
    * periodic compaction to keep scan task counts sane at 100 TB.
    * Commit via [[StagedSwap]] (single-FS) or [[PointerCommit]]
    * (object-store-safe versioned root). */
  def compact(spark: SparkSession, path: String, targetFileMB: Int = 256,
              commit: CommitStrategy = StagedSwap): Unit = {
    def repartitioned(df: DataFrame): DataFrame = {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      df.repartition(math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt))
    }
    commit match {
      case StagedSwap =>
        val df = repartitioned(spark.read.parquet(path))
        val tmp = path + "._compact"
        df.write.mode(SaveMode.Overwrite).parquet(tmp)
        swapStaged(new java.io.File(tmp), new java.io.File(path))
      case PointerCommit =>
        commitVersioned(repartitioned(readVersioned(spark, path)), path): Unit
    }
  }

  /** Training-corpus delivery: write `df` as size-bounded parquet shards
    * (at most `maxRecords` rows per file — Spark's native
    * `maxRecordsPerFile`, enforced executor-side while writing, no extra
    * shuffle or pre-count) and derive a per-shard MANIFEST the trainer
    * consumes to schedule readers: (shard, rows, weight-sum). The manifest
    * comes from ONE column-pruned scan of the written shards (`weigh` +
    * file name only — at 100 TB this reads one column's pages, not the
    * corpus) and is itself written next to the data at `<path>._manifest`.
    * Shard FILE COUNT is deterministic for a deterministic input
    * partitioning (files split every maxRecords rows within a partition);
    * file NAMES are not (task UUIDs) — consumers key on the manifest, not
    * on name patterns. Returns the manifest frame. */
  def writeShards(df: DataFrame, path: String, maxRecords: Long,
                  weigh: Column): DataFrame = {
    require(maxRecords > 0, s"maxRecords must be positive: $maxRecords")
    val spark = df.sparkSession
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecords.toString)
      .parquet(path)
    val manifest = spark.read.parquet(path)
      .select(input_file_name().as("shard"), weigh.as("_w"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("rows"), sum(col("_w")).as("weight"))
    manifest.write.mode(SaveMode.Overwrite).parquet(path + "._manifest")
    spark.read.parquet(path + "._manifest")
  }

  /** Z-order-clustered parquet layout: range-partition and sort by the
    * Morton index of `zCols` ([[Order.zValue]]), then write size-bounded
    * files — every written file gets a tight min/max envelope on EVERY
    * clustered column, so parquet stats prune files/row-groups for
    * predicates on ANY of them, not just a leading sort key. This is the
    * layout lever for multi-dimension point/range lookups over a 100 TB
    * table (a linear sort serves only its first column; a second predicate
    * column spans the full range inside every file and nothing skips).
    *
    * The z column is dropped before writing — it is a layout key, not
    * data; ranges are caller-declared (stable across daily appends).
    * Prunability is MEASURED in SinkIngestSpec: fraction of files whose
    * [min,max] on the NON-leading column intersects a point query,
    * z-ordered vs linear-sorted. */
  def writeZOrdered(df: DataFrame, zCols: Seq[String],
                    ranges: Seq[(Long, Long)], path: String,
                    numFiles: Int, bits: Int = 8): Unit = {
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    val z = Order.zValue(zCols.map(col), ranges, bits)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Parquet with per-column bloom filters — the point-lookup complement to
    * [[writeZOrdered]]: min/max envelopes prune RANGES, but on a
    * high-cardinality key whose values interleave across files (user ids,
    * document hashes) every envelope spans everything and nothing skips. A
    * bloom filter per row group answers "is this exact value possibly
    * here?" in O(1), so an equality predicate skips row groups regardless
    * of value interleaving; readers (Spark's parquet scan included) consult
    * it automatically for pushed `=`/`IN` filters. False-positive rate is
    * set by `ndv` (expected distinct values per row group) — undersizing
    * ndv inflates FPs and silently voids the skipping, so size it to the
    * real per-file cardinality. Spec asserts the written artifact: filter
    * present per row group, membership true for present values, false for
    * a sweep of absent ones. */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                     ndv: Long = 100000L): Unit = {
    require(bloomCols.nonEmpty, "no bloom columns")
    val w = df.write.mode(SaveMode.Overwrite)
    val configured = bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    configured.parquet(path)
  }

  /** S11: CSV sink (utf-8, header), append or overwrite. */
  def writeCsv(df: DataFrame, path: String, append: Boolean = false): Unit =
    df.write.option("header", "true")
      .mode(if (append) SaveMode.Append else SaveMode.Overwrite).csv(path)

  /** Recursive delete; a no-op on a missing path. Symlinks are removed,
    * never followed. */
  private[graft] def delete(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      f.listFiles().foreach(delete)
    f.delete(): Unit
  }
}
