package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Test-table access for the driver harness.
  *
  * All `SparkEntry.queries` entries take an `sfDir` pointing at one of
  * `/root/testdata/sf{0.001,0.01,0.1}` (see TESTDATA.md). Each table is one
  * parquet file, read through [[parquet]]: the schema comes from the file's
  * footer, read on the driver at every call (no cache), and is handed to
  * the reader. A bare `spark.read.parquet` infers the same schema by
  * starting a one-task Spark job that reads that one footer
  * (`mergeSchemasInParallel`) — one job per query. Measured on a 4-vCPU
  * VM: the footer read takes 1–3 ms; building the DataFrame and its schema
  * takes 17–22 ms this way and 93–116 ms by inference (events, lineitem).
  * perfbench `dashboard` on the same VM: `exec.jobs` 19→13 per pass,
  * `entry.build_s` 0.81→0.27 s, `warm_pass_s` median 2.33→1.76 s over 20
  * alternating pairs. Catalyst still prunes columns and
  * pushes filters into the scan; at 100 TB these would be partitioned table
  * paths, which take the directory branch of [[parquet]].
  */
object Tables {
  /** `path` as a parquet DataFrame. A regular file: its footer is read
    * here and converted with Spark's own footer-to-schema conversion (the
    * `org.apache.spark.sql.parquet.row.metadata` schema when Spark wrote
    * the file, else the parquet types under the session's `nanosAsLong` /
    * `inferTimestampNTZ` / binary-as-string settings) — exactly the schema
    * inference would return, without its Spark job. A directory (Spark
    * write output, partitioned tables) or a missing path goes to plain
    * `spark.read.parquet`, which keeps partition discovery and Spark's own
    * `PATH_NOT_FOUND` error. TablesSpec pins the equality and the zero
    * jobs. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    scala.util.Try(p.getFileSystem(conf).getFileStatus(p)).toOption
      .filter(_.isFile) match {
      case Some(st) =>
        val footer = ParquetFileReader.readFooter(
          HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `events.parquet` has shipped with two physical `ts` types across data
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * read nanos as long, truncate to micros with INTEGER division; a double
    * division would lose precision above 2^53 ns) and plain TIMESTAMP(MICROS)
    * (arrives as TIMESTAMP_NTZ). Both normalize to a session-zone TIMESTAMP
    * so every downstream operator and verify dump sees one type; sessions run
    * UTC, so the NTZ→LTZ cast is value-preserving. DuckDB truncates nanos →
    * micros identically and reads micros natively, so oracles agree either
    * way. */
  private def eventsRawTyped(spark: SparkSession, sfDir: String): DataFrame = {
    // The NTZ→LTZ cast in normalizeTs and the NTZ-literal compare in
    // eventsRange are value-preserving ONLY under a UTC session zone; a
    // session built without it would silently shift every timestamp, so
    // fail loudly here (every entrypoint and SparkSpec set UTC).
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "events access requires spark.sql.session.timeZone=UTC — the " +
        "NTZ→LTZ normalization is only value-preserving in UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$sfDir/events.parquet")
  }

  private def tsIsLegacyNanos(df: DataFrame): Boolean =
    df.schema("ts").dataType == org.apache.spark.sql.types.LongType

  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    if (tsIsLegacyNanos(df))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      df.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
  }

  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(eventsRawTyped(spark, sfDir))

  /** Range-pruned events scan: the predicate is applied to the RAW scan
    * column BEFORE the timestamp normalization, so it pushes into the
    * parquet scan (min/max row-group skipping). Filtering the converted `ts`
    * instead defeats pushdown — `timestamp_micros(ts div 1000) >= x` is
    * opaque to the source. At 100 TB this is the difference between scanning
    * a day and scanning the table. For micros files the native NTZ predicate
    * pushes down directly; for legacy nanos files the compare is on the raw
    * long. Both branches are plan-asserted in TablesSpec (PushedFilters
    * carries the ts bounds on a real NTZ file — measured, per the repo's
    * measure-don't-assume rule). */
  def eventsRange(spark: SparkSession, sfDir: String, fromIso: String,
                  toIso: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    def ldt(s: String): java.time.LocalDateTime =
      if (s.length == 10) java.time.LocalDate.parse(s).atStartOfDay()
      else java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    val raw = eventsRawTyped(spark, sfDir)
    val filtered =
      if (tsIsLegacyNanos(raw)) {
        def nanos(s: String): Long =
          ldt(s).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
        raw.filter(col("ts") >= nanos(fromIso) && col("ts") < nanos(toIso))
      } else
        raw.filter(col("ts") >= lit(ldt(fromIso)) && col("ts") < lit(ldt(toIso)))
    normalizeTs(filtered)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
