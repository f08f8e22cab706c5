package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The registry invariant behind the correctness gate: every
  * [[SparkEntry.oracleSql]] key names a query, and the queries without an
  * oracle are exactly the declared rows-only set (each covered by a spec
  * instead). A typo in an oracle key would otherwise silently turn its
  * query rows-only. No Spark session — the maps are built, never run. */
class RegistrySpec extends AnyFunSuite with Matchers {

  /** Queries checked rows-only: trained models, non-SQL hash families,
    * media decoders and side-effecting writers — each pinned by a spec. */
  private val rowsOnly = Set(
    "q_ann_ivf_topk", "q_ann_ivfpq_topk", "q_ann_lsh_topk", "q_ann_pq_topk",
    "q_bpe_segment", "q_corpus_release", "q_embed_dedup_incr",
    "q_embed_dedup_lsh", "q_embed_dedup_lsh_auto", "q_impute_all",
    "q_incremental_minhash", "q_lr_quality", "q_media_audio_frames",
    "q_media_frames", "q_media_jpeg", "q_media_png", "q_media_png_resize",
    "q_media_resize", "q_minhash_pairs", "q_pca_project", "q_semdedup",
    "q_simhash_pairs", "q_sketch_rollup", "q_spline_impute",
    "q_winnow_pairs", "q_write_shards")

  test("every oracle key is a query; the oracle-less queries are exactly " +
    "the declared rows-only set") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    (oracles -- queries) shouldBe empty
    (queries -- oracles) shouldBe rowsOnly
    rowsOnly.size shouldBe 26
  }
}
