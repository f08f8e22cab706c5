package graft
package registry

import org.apache.spark.sql.functions._
import graft.engine._
import graft.registry.QueryDef._

/** Sinks S13/S14 (SURVEY §2.1): write, then read the table back. */
private[graft] object SinkQueries {
  import SparkEntry._
  import Tables._

  val defs: Seq[QueryDef] = Seq(
    // S13 idempotent date-partition overwrite: initial load days <20, then a
    // corrected re-delivery of days >=15 (doubled) — only those partitions
    // are replaced; the final table state is the oracle.
    QueryDef("q_sink_partition_overwrite", (s, d) => {
      val path = scratch("sink_s13", d).resolve("tbl").toString
      val ev = events(s, d).select(col("event_id"), col("ts"),
        round(col("value"), 2).as("v"))
      Sink.overwriteDatePartitions(
        ev.filter(to_date(col("ts")) < lit("2024-01-20")), col("ts"), path)
      Sink.overwriteDatePartitions(
        ev.filter(to_date(col("ts")) >= lit("2024-01-15"))
          .withColumn("v", round(col("v") * 2, 2)), col("ts"), path)
      s.read.parquet(path).select(col("event_id"), col("v"))
    },
      Oracle("""SELECT event_id, round(value, 2) AS v FROM events
         WHERE CAST(ts AS DATE) < DATE '2024-01-15'
         UNION ALL
         SELECT event_id, round(round(value, 2) * 2, 2) AS v FROM events
         WHERE CAST(ts AS DATE) >= DATE '2024-01-15'""")),
    // S14 keyed upsert writer: create, then merge a corrected batch
    QueryDef("q_sink_upsert", (s, d) => {
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
    },
      Oracle("""SELECT event_id, round(value, 2) AS v FROM events
         WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
         UNION ALL
         SELECT event_id, round(round(value, 2) * 2, 2) AS v FROM events
         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'""")),
    // Surgical keyed delete (right-to-be-forgotten): write the partitioned
    // table, delete every row of users with user_id % 7 == 3, read back.
    // Only partitions containing a victim are rewritten (spec asserts the
    // untouched partitions' files are bit-identical by mtime+name).
    QueryDef("q_delete_keys", (s, d) => {
      val path = scratch("sink_del", d).resolve("tbl").toString
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), round(col("value"), 2).as("v"))
      Sink.overwriteDatePartitions(ev, col("ts"), path)
      val victims = ev.select(col("user_id"))
        .where(col("user_id") % 7 === 3).distinct()
      Sink.deleteKeys(s, path, "user_id", victims)
      s.read.parquet(path).select(col("event_id"), col("v"))
    },
      Oracle("""SELECT event_id, round(value, 2) AS v FROM events
         WHERE user_id % 7 <> 3""")),
    // Row-level error quarantine: events re-delivered as CSV with a
    // deterministic 10% corruption (qty='bad' where event_id % 10 == 0);
    // strict-schema PERMISSIVE read routes bad rows to _corrupt_record
    // instead of dropping or crashing — one scan, nothing lost.
    QueryDef("q_quarantine", (s, d) => {
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
    },
      Oracle("""SELECT (event_id % 10 = 0) AS is_quarantined, count(*) AS n,
           CAST(sum(CASE WHEN event_id % 10 = 0 THEN NULL
               ELSE CAST(floor(value * 1000000.0) AS BIGINT) END) AS BIGINT)
             AS qty_sum
         FROM events GROUP BY 1""")),
    // training-corpus shard delivery: size-bounded parquet shards + manifest
    // (rows-only — shard/file accounting is not SQL-expressible; the summary
    // invariants are deterministic because the hash partitioning is).
    // Cap/total/manifest laws spec'd in SinkIngestSpec.
    QueryDef("q_write_shards", (s, d) => {
      val path = scratch("shards", d).resolve("tbl").toString
      val m = Sink.writeShards(
        documents(s, d).repartition(4, col("doc_id")), path, 100,
        TextOps.tokenCount(col("text")))
      m.agg(count(lit(1)).as("n_shards"), sum(col("rows")).as("total_rows"),
        max(col("rows")).as("max_shard_rows"),
        sum(col("weight")).as("total_tokens"))
    },
      RowsOnly("graft.SinkIngestSpec")),
  )
}
