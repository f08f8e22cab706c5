package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.registry.QueryDef
import graft.registry.QueryDef.SameAs

/** The SQL entry path must track the DataFrame path bit-for-bit: each
  * q_sql_* mirror in [[SparkEntry.queries]] is asserted row-identical to
  * its DataFrame twin — the query its `SameAs` check names — on the same
  * session and data (sf0.001). Column order
  * is part of the contract (the driver hashes by sorted column NAME, but
  * within a column the values must agree exactly), so rows compare as full
  * sorted multisets of stringified cells.
  */
class SqlSurfaceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Deterministic multiset fingerprint of a frame: sorted list of
    * tab-joined rows over name-sorted columns (null → a sentinel). */
  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    df.select(cols: _*).collect()
      .map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString)
        .mkString("\t"))
      .toSeq.sorted
  }

  private def assertParity(sqlName: String, dfName: String): Unit = {
    val viaSql = rows(SparkEntry.queries(sqlName)(spark, sf))
    val viaDf = rows(SparkEntry.queries(dfName)(spark, sf))
    assert(viaSql.nonEmpty, s"$sqlName returned no rows")
    assert(viaSql == viaDf,
      s"$sqlName (SQL path) diverges from $dfName (DataFrame path)")
  }

  /** (mirror, DataFrame twin) pairs: the registry's `q_sql_*` `SameAs`
    * links. */
  private val mirrors: Seq[(String, String)] = SparkEntry.defs.collect {
    case QueryDef(name, _, SameAs(twin)) if name.startsWith("q_sql_") =>
      name -> twin
  }.sortBy(_._1)

  mirrors.foreach { case (sqlName, dfName) =>
    test(s"$sqlName == $dfName") { assertParity(sqlName, dfName) }
  }

  test("every q_sql_* mirror but q_sql_embed_norm is a SameAs link") {
    val sqlQueries = SparkEntry.queries.keySet.filter(_.startsWith("q_sql_"))
    assert(mirrors.map(_._1).toSet == sqlQueries - "q_sql_embed_norm")
    assert(mirrors.size == 9)
  }

  test("q_sql_embed_norm: registered graft_norm_sq == HOF sum of squares") {
    // independent DataFrame formulation: the HOF aggregate the native
    // expression documents itself against (ArrayDot.scala Scaladoc)
    val emb = engine.Tables.embeddings(spark, sf)
    val hof = emb.select(col("vec_id"),
      round(aggregate(transform(engine.Similarity.asDouble(col("embedding")),
        x => x * x), lit(0.0), (acc, x) => acc + x), 6).as("norm_sq"))
    val viaSql = rows(SparkEntry.queries("q_sql_embed_norm")(spark, sf))
    assert(viaSql.nonEmpty)
    assert(viaSql == rows(hof),
      "q_sql_embed_norm diverges from the HOF sum-of-squares formulation")
  }

  test("SQL mirrors reuse their twin's oracle text verbatim") {
    val o = SparkEntry.oracleSql
    assert(o("q_sql_hourly") == o("q_hourly_by_type"))
    assert(o("q_sql_dedup_last") == o("q_dedup_keep_last"))
    assert(o("q_sql_cosine_topk") == o("q_ann_cosine_topk"))
    assert(o("q_sql_sum_range") == o("q_sum_over_range"))
    assert(o("q_sql_dim_activity") == o("q_dim_activity_range"))
    assert(o("q_sql_watermark") == o("q_watermark"))
    assert(o("q_sql_incomplete_days") == o("q_incomplete_days"))
    assert(o("q_sql_rolling") == o("q_rolling_window"))
    // and the two-engine CC parity pair shares one oracle text
    assert(o("q_dedup_clusters_star") == o("q_dedup_clusters"))
  }
}
