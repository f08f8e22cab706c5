package graft

import graft.engine.{Similarity, Tables}
import graft.engine.Similarity.{AnnProbe, AnnScore, PairBlock}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one cosine contract, entry by entry: a zero vector has a NULL
  * cosine to everything, so no pair search pairs it, no top-k ranks it,
  * and a zero query gets no rows; a vector of another width fails the
  * exhaustive entries with the tagged `[graft] graft_cosine` error. The
  * corpus is the sf0.001 embeddings (64-wide) plus one zero vector. */
class CosineContractSpec extends SparkSpec {
  import spark.implicits._

  private val Zero = 100000L
  private val tau = 0.35

  private lazy val base = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select("vec_id", "embedding")
  private def plus(v: Array[Float]) =
    base.unionByName(Seq((Zero, v)).toDF("vec_id", "embedding"))
  private lazy val withZero = plus(Array.fill(64)(0.0f))
  private lazy val narrow = plus(Array.fill(63)(1.0f))
  private lazy val cents = Similarity.ivfTrainCentroids(base, col("vec_id"),
    col("embedding"))
  private lazy val indexed = Similarity.ivfAssign(withZero, col("vec_id"),
    col("embedding"), cents)

  /** The id pairs of `df`'s first two columns; none may be the zero
    * vector, and the entry must find some pair at all. */
  private def pairsWithoutZero(df: DataFrame): Set[(Long, Long)] = {
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got should not be empty
    got.foreach { case (a, b) => assert(a != Zero && b != Zero, s"($a, $b)") }
    got
  }

  /** (qid, cid) rows of a top-k: the zero vector is never a candidate,
    * and a zero query has no row. */
  private def topKWithoutZero(df: DataFrame): Unit = {
    val got = df.select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    got should not be empty
    got.foreach { case (q, c) => assert(q != Zero && c != Zero, s"($q, $c)") }
  }

  private def queries(ids: Long*): DataFrame =
    indexed.filter(col("cid").isin(ids: _*))
      .select(col("cid").as("qid"), col("cv").as("qv"))

  private def widthError(df: => DataFrame): Unit =
    intercept[Exception](df.collect()).getMessage should
      include("[graft] graft_cosine: vectors have")

  test("cosinePairs never pairs a zero vector under All, Srp and SameList") {
    val all = pairsWithoutZero(Similarity.cosinePairs(withZero,
      col("vec_id"), col("embedding"), tau))
    // the zero vector changes nothing: the pairs are those without it
    all shouldBe pairsWithoutZero(Similarity.cosinePairs(base,
      col("vec_id"), col("embedding"), tau))
    pairsWithoutZero(Similarity.cosinePairs(withZero, col("vec_id"),
      col("embedding"), tau, PairBlock.Srp())).subsetOf(all) shouldBe true
    pairsWithoutZero(Similarity.cosinePairs(indexed, col("cid"), col("cv"),
      tau, PairBlock.SameList)).subsetOf(all) shouldBe true
  }

  test("crossCosinePairs and the incremental SRP entries never pair a " +
    "zero vector") {
    val bench = withZero.filter(col("vec_id") < 20 || col("vec_id") === Zero)
    pairsWithoutZero(Similarity.crossCosinePairs(withZero, col("vec_id"),
      col("embedding"), bench, col("vec_id"), col("embedding"), tau))
    val incoming = withZero.filter(col("vec_id") % 5 === 0)
    val existing = withZero.filter(col("vec_id") % 5 =!= 0)
    val direct = pairsWithoutZero(Similarity.lshCosinePairsIncremental(
      existing, incoming, col("vec_id"), col("embedding"), tau))
    val sigs = Similarity.srpSignatureTable(existing, col("vec_id"),
      col("embedding"), bits = 256)
    pairsWithoutZero(Similarity.lshCosinePairsIncrementalPresigned(sigs, 256,
      existing, incoming, col("vec_id"), col("embedding"), tau)) shouldBe direct
  }

  test("annTopK (Exact under All and Ivf) and lshCosineTopK never rank a " +
    "zero vector, and a zero query gets no rows") {
    val qs = queries(0L, 1L, 2L, Zero)
    topKWithoutZero(Similarity.annTopK(indexed, qs, 5, AnnScore.Exact,
      AnnProbe.All))
    topKWithoutZero(Similarity.annTopK(indexed, qs, 5, AnnScore.Exact,
      AnnProbe.Ivf(cents)))
    topKWithoutZero(Similarity.lshCosineTopK(withZero, col("vec_id"),
      col("embedding"), Seq(0L, 1L, 2L, Zero), 5))
  }

  test("semDedup keeps a zero vector and drops nothing for it") {
    val kept = Similarity.semDedup(indexed, tau).select("cid").collect()
      .map(_.getLong(0)).toSet
    kept should contain(Zero)
    val keptBase = Similarity.semDedup(indexed.filter(col("cid") =!= Zero),
      tau).select("cid").collect().map(_.getLong(0)).toSet
    keptBase.size should be < base.count().toInt // some row is dropped
    kept shouldBe keptBase + Zero
  }

  test("a SQL graft_cosine top-k never ranks a zero corpus vector") {
    // q_sql_cosine_topk's own statement, with the zero vector as a query
    GraftExtensions.registerOn(spark)
    withZero.createOrReplaceTempView("cosine_contract_v")
    val top = spark.sql(registry.SqlSurfaceQueries.cosineTopKSql(
      "cosine_contract_v", Seq(0L, 1L, 2L, Zero)))
    topKWithoutZero(top)
    // ...and ranks every other query as its twin, the engine's top-k, does
    top.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet shouldBe Similarity.annTopK(indexed,
        queries(0L, 1L, 2L, Zero), 5, AnnScore.Exact, AnnProbe.All).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
  }

  test("a width mismatch fails the exhaustive entries loudly") {
    widthError(Similarity.cosinePairs(narrow, col("vec_id"),
      col("embedding"), tau))
    widthError(Similarity.crossCosinePairs(base, col("vec_id"),
      col("embedding"), narrow.filter(col("vec_id") === Zero), col("vec_id"),
      col("embedding"), tau))
    widthError(Similarity.annTopK(narrow.select(col("vec_id").as("cid"),
        Similarity.asDouble(col("embedding")).as("cv")),
      queries(0L, 1L), 5, AnnScore.Exact, AnnProbe.All))
  }
}
