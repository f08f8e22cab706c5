package graft

import graft.engine.{NearDup, TextOps}
import org.apache.spark.sql.functions._

class WinnowSpec extends SparkSpec {
  import spark.implicits._

  test("winnow kernel: deterministic, guarantees shared substring detection") {
    val a = "the quick brown fox jumps over the lazy dog in the park"
    TextOps.winnow(a, 8, 4).toSeq shouldBe TextOps.winnow(a, 8, 4).toSeq
    // any shared substring of length >= k+w-1 (= 11) must share a fingerprint
    val b = "XX quick brown fox YYYY completely different tail here"
    val shared = TextOps.winnow(a, 8, 4).toSet
      .intersect(TextOps.winnow(b, 8, 4).toSet)
    shared should not be empty // " quick brown fox " is a shared passage
    // below-k strings produce nothing
    TextOps.winnow("short", 8, 4) shouldBe empty
  }

  test("winnowPairs finds docs sharing a long passage") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "PREFIX gamma delta epsilon zeta eta SUFFIX words here now"),
      (3L, "nothing in common with anybody else at all whatsoever okay")
    ).toDF("doc_id", "text")
    val pairs = NearDup.winnowPairs(docs, col("doc_id"), col("text"),
        minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs.exists(p => p._1 == 3L || p._2 == 3L) shouldBe false
  }

  test("embedding cosinePairs All vs Srp on sf0.001: subset + recall") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = graft.engine.Similarity.cosinePairs(emb, col("vec_id"),
        col("embedding"), 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.engine.Similarity.cosinePairs(emb, col("vec_id"),
        col("embedding"), 0.35, graft.engine.Similarity.PairBlock.Srp())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh.subsetOf(exact) shouldBe true // rerank removes false positives
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      recall should be >= 0.3 // deterministic; LSH recall floor at tau .35
    }
  }
}
