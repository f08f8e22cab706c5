package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.registry.QueryDef
import graft.registry.QueryDef._

/** The registry invariants behind the correctness gate. Every query is one
  * [[QueryDef]] whose check is an `Oracle`, a `SameAs` pointing at an
  * `Oracle`, or a `RowsOnly` naming the spec that pins it; the queries
  * without an oracle are exactly the declared rows-only set (each covered
  * by a spec instead), so an oracled query cannot be silently demoted. No
  * Spark session — the definitions are built, never run. */
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

  private val checks: Map[String, Check] =
    SparkEntry.defs.map(q => q.name -> q.check).toMap

  test("every oracle key is a query; the oracle-less queries are exactly " +
    "the declared rows-only set") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    (oracles -- queries) shouldBe empty
    (queries -- oracles) shouldBe rowsOnly
    rowsOnly.size shouldBe 26
  }

  test("each query is defined once") {
    val names = SparkEntry.defs.map(_.name)
    names.diff(names.distinct) shouldBe empty
    SparkEntry.queries.size shouldBe names.size
  }

  test("every RowsOnly spec loads as a test class") {
    val specs = SparkEntry.defs.collect {
      case QueryDef(name, _, RowsOnly(spec)) => name -> spec
    }
    specs.map(_._1).toSet shouldBe rowsOnly
    for ((name, spec) <- specs) withClue(s"$name -> RowsOnly($spec): ") {
      classOf[org.scalatest.Suite]
        .isAssignableFrom(Class.forName(spec)) shouldBe true
    }
  }

  test("every SameAs resolves to an Oracle: no chains, no rows-only target") {
    val links = SparkEntry.defs.collect {
      case QueryDef(name, _, SameAs(twin)) => name -> twin
    }
    links should not be empty
    for ((name, twin) <- links) withClue(s"$name -> SameAs($twin): ") {
      checks.get(twin) shouldBe a[Some[_]]
      checks(twin) shouldBe an[Oracle]
      SparkEntry.oracleSql(name) shouldBe SparkEntry.oracleSql(twin)
    }
  }
}
