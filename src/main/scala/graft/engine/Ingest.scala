package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Paths}

/** §2.1 scan-side helpers.
  *
  * S1 — the reference's multi-encoding CSV reader (which probes cp949 →
  * euc-kr → utf-8; see fetch_data/pv/namdong_merge_pv_data.py:25-49,
  * normalize_columns :13-22). We probe UTF-8 FIRST ([[defaultCharsets]]):
  * UTF-8 is a strict decoder, so valid cp949/euc-kr bytes virtually never
  * pass it, while the reverse misdetection is common — plus header-
  * whitespace normalization.
  *
  * Charset detection is a driver-side strict-decode probe of the file head
  * (cheap, one small read); the actual scan is a normal distributed
  * `spark.read.csv` with the winning charset — executors never re-probe.
  * S2 (BOM) is native to Spark's UTF-8 handling; S3 (chunking) and S4
  * (column-pruned scans) are free via partitioned scans + Catalyst pruning.
  */
object Ingest {

  val defaultCharsets: Seq[String] = Seq("UTF-8", "x-windows-949", "EUC-KR")

  /** First charset in `charsets` that strictly decodes the first `probeBytes`
    * of `path` (malformed input → try next), else the last one. */
  private[graft] def detectCharset(path: String, charsets: Seq[String],
                                   probeBytes: Int = 64 * 1024): String = {
    val f = Paths.get(path)
    val sample: Array[Byte] =
      if (Files.isDirectory(f)) {
        // directory of part files: probe the first regular file
        val stream = Files.list(f)
        try {
          val first = stream.filter(p => Files.isRegularFile(p))
            .sorted().findFirst()
          if (first.isPresent) readHead(first.get, probeBytes) else Array.empty
        } finally stream.close()
      } else readHead(f, probeBytes)
    val truncated = sample.length == probeBytes
    def decodes(cs: String, bytes: Array[Byte]): Boolean =
      try {
        val dec = Charset.forName(cs).newDecoder()
          .onMalformedInput(CodingErrorAction.REPORT)
          .onUnmappableCharacter(CodingErrorAction.REPORT)
        dec.decode(java.nio.ByteBuffer.wrap(bytes))
        true
      } catch { case _: Exception => false }
    charsets.find { cs =>
      decodes(cs, sample) ||
        // a fixed-size probe can cut a multibyte sequence at the buffer
        // edge — retry with up to 3 trailing bytes trimmed (max UTF-8/
        // EUC sequence length) before rejecting the charset
        (truncated && (1 to 3).exists(k =>
          sample.length > k && decodes(cs, sample.dropRight(k))))
    }.getOrElse(charsets.last)
  }

  private def readHead(p: java.nio.file.Path, n: Int): Array[Byte] = {
    val in = Files.newInputStream(p)
    try in.readNBytes(n) finally in.close()
  }

  /** S1: CSV scan with charset fallback + normalized headers. */
  def csvWithCharsetFallback(spark: SparkSession, path: String,
                             charsets: Seq[String] = defaultCharsets): DataFrame = {
    val cs = detectCharset(path, charsets)
    // Spark 4 restricts CSV charsets to a short allowlist (UTF-8, UTF-16/32,
    // ISO-8859-1, US-ASCII) unless `spark.sql.legacy.javaCharsets` is on;
    // the fallback's cp949/euc-kr need it, so the session must come from
    // `graft.SessionProfile`, which sets it for every session.
    val df = spark.read
      .option("header", "true")
      .option("charset", cs)
      .option("mode", "PERMISSIVE")
      .option("ignoreLeadingWhiteSpace", "true")
      .csv(path)
    // header normalization: collapse embedded whitespace runs, trim
    val cleaned = df.columns.map(_.replaceAll("[\\s\\u00a0]+", " ").trim)
    df.toDF(cleaned: _*)
  }

  /** Row-level error quarantine for CSV ingest: strict schema, PERMISSIVE
    * scan — rows that fail the schema (wrong arity, untypeable fields) keep
    * their RAW text in `_corrupt_record` and get `is_quarantined = true`;
    * clean rows parse to typed columns. The reference drops or crashes on
    * malformed collector output row-by-row in Python; at 100 TB the
    * contract is: one scan, no row lost, bad rows routed — sink the result
    * `partitionBy("is_quarantined")` and the split costs ZERO extra passes
    * (good data and the quarantine land as separate partition dirs of the
    * same write).
    *
    * NOT `spark.read.csv` + `columnNameOfCorruptRecord`: the CSV file
    * source converts only the columns a consumer projects, so with a
    * narrow projection the failing conversion never runs and the corrupt
    * slot stays null — `is_quarantined` would silently depend on the
    * downstream column list (measured on this Spark build; the
    * parser-columnPruning conf does not restore full-row conversion).
    * Reading lines as TEXT and parsing with `from_csv` pins the
    * conversion set to the declared schema inside one expression, so the
    * flag is projection-independent by construction (spec-pinned).
    *
    * Header handling: the header line (fieldnames joined by ',') is
    * filtered per file — requires the header to match `schema` field
    * names, i.e. files written by [[Sink.writeCsv]] or equivalent. */
  def csvFlagQuarantine(spark: SparkSession, path: String,
                        schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, from_csv, lit}
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not predeclare _corrupt_record")
    val withCorrupt = schema
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val header = schema.fieldNames.mkString(",")
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "_corrupt_record")
    spark.read.text(path)
      .filter(col("value") =!= lit(header))
      .select(from_csv(col("value"), withCorrupt, opts).as("_p"))
      .select((schema.fieldNames.map(f => col(s"_p.$f")) :+
        col("_p._corrupt_record").as("_corrupt_record")): _*)
      .withColumn("is_quarantined", col("_corrupt_record").isNotNull)
  }

  /** Semi-structured JSON column extraction (the reference stores API
    * payload remnants as JSON strings the same way `events.props` does;
    * its Python side round-trips them through `json.loads` per row —
    * fetch_data response handling). Map-only `from_json` with an EXPLICIT
    * schema: one codegen'd Jackson parse per row, no shuffle, and the
    * parsed struct's fields land as proper typed columns.
    *
    * Malformed rows yield NULL fields (PERMISSIVE) — a corrupt payload
    * never kills a 100 TB scan; count them downstream via the parsed
    * struct's nullness vs the raw column's.
    */
  def withJsonFields(df: DataFrame, jsonCol: String,
                     schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    val parsed = from_json(col(jsonCol), schema)
    schema.fieldNames.foldLeft(df) { (acc, f) =>
      acc.withColumn(f, parsed.getField(f))
    }
  }

  /** Conform heterogeneous-schema batches to one target schema and union
    * them — the multi-generation ingest problem (the reference's regional
    * CSV feeds drift columns across years; nambu vs namdong files carry
    * different headers for the same facts). Per input: columns are matched
    * BY NAME to the target (position-independent), missing columns become
    * typed NULLs, extra columns are dropped, and present columns `cast` to
    * the target type (Spark cast semantics: unparseable → NULL under the
    * session's non-ANSI mode, loud under ANSI). Map-only per input — no
    * shuffle, no driver data; safe to feed 10⁵ daily files.
    */
  def conformUnion(dfs: Seq[DataFrame],
                   target: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    require(dfs.nonEmpty, "conformUnion needs at least one input")
    val conformed = dfs.map { df =>
      val have = df.schema.fieldNames.toSet
      df.select(target.fields.toSeq.map { f =>
        if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    conformed.reduce(_ unionByName _)
  }

  /** Infer the JSON column's schema from a BOUNDED sample — never from the
    * full corpus (schema inference is a full extra scan at 100 TB; a
    * sample-derived schema plus PERMISSIVE nulls for stragglers is the
    * scalable contract). The sample is `limit(n)` — one partial scan that
    * short-circuits after n rows — and inference runs on the collected
    * strings driver-side (model-sized: n strings). */
  def inferJsonSchema(df: DataFrame, jsonCol: String,
                      sampleRows: Int = 1000): org.apache.spark.sql.types.StructType = {
    val spark = df.sparkSession
    import spark.implicits._
    val sample = df.select(org.apache.spark.sql.functions.col(jsonCol))
      .na.drop().limit(sampleRows).as[String]
    spark.read.json(sample).schema
  }
}
