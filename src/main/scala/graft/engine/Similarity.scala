package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings.embedding: array<float>`).
  *
  *  - [[cosinePairs]] — near-dup pairs by exact cosine, the candidates
  *    blocked by a [[PairBlock]] (all pairs, SRP bands, or one IVF list).
  *  - [[lshCosineTopK]] — the scale path: random-hyperplane LSH. Each vector
  *    gets a `bits`-bit sign signature against deterministic pseudo-random
  *    hyperplanes; candidates share a signature band; exact cosine reranks
  *    within buckets. Corpus is touched once to sign, then only bucket
  *    collisions are scored — no corpus×query cross join.
  *  - [[annTopK]] — search over a pre-built inverted-list / PQ index: the
  *    scorer ([[AnnScore]]: exact cosine or PQ-ADC) and the pruning
  *    ([[AnnProbe]]: every row or the IVF probe lists) are arguments of one
  *    probe-score-rank body ([[annTopKPartitioned]] for the on-disk index);
  *    `annTopK(…, AnnScore.Exact, AnnProbe.All)` is the brute-force exact
  *    baseline.
  */
object Similarity {

  /** array<float> → array<double> once, up front. */
  def asDouble(vec: Column): Column = transform(vec, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine via higher-order functions — kept as the reference formulation
    * (and for engines without the extension); HOFs evaluate interpreted. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine via the native expression
    * ([[graft.engine.expressions.CosineSimilarity]]), one fused loop inside
    * whole-stage codegen. Equal to [[cosineHof]] on nonzero vectors of one
    * width; a zero vector gives NULL (where [[cosineHof]] raises
    * DIVIDE_BY_ZERO under ANSI, NULL in legacy mode), so it never passes a
    * `cos >= tau` filter or ranks; mismatched widths raise a `[graft]`
    * error (where [[cosineHof]] returns NULL). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.engine.expressions.CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Per-group bounded top-k aggregate column: the k best (id, score) pairs,
    * best first (score desc, ties to the lower id) — the partial-aggregation
    * replacement for the `row_number().over(partitionBy(g))` rerank idiom;
    * see [[graft.engine.expressions.BoundedTopK]]. */
  def boundedTopK(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.engine.expressions.BoundedTopK(
      ColumnBridge.expression(score), ColumnBridge.expression(id), k)
      .toAggregateExpression())
  }

  /** (qid, cid, <score>) candidates → per-query top-k as (qid, cid,
    * <score>, rn); `score` names the score column (`cos`, or `adc`).
    * Bounded partial aggregation: each task reduces to ≤ k entries per query
    * BEFORE the shuffle, so no single task ever assembles a query's full
    * candidate set (the window-rerank hotspot at corpus scale). Bit-exact vs
    * `row_number().over(orderBy(cos.desc, cid.asc))` — same tie-breaks. */
  private def topKPerQuery(scored: DataFrame, k: Int,
                           score: String = "cos"): DataFrame =
    scored.groupBy(col("qid"))
      .agg(boundedTopK(col(score), col("cid"), k).as("_tk"))
      .select(col("qid"), posexplode(col("_tk")).as(Seq("_p", "_s")))
      .select(col("qid"), col("_s.id").as("cid"), col("_s.score").as(score),
        (col("_p") + 1).cast("long").as("rn"))

  /** How [[cosinePairs]] blocks its candidates — the one part in which
    * the exact, the LSH and the within-list pair searches differ. */
  sealed trait PairBlock
  object PairBlock {
    /** Every (id1 < id2) pair: the exact, quadratic baseline. The right
      * side is broadcast (nested-loop join on the inequality), so use it
      * only when one copy of the corpus fits in memory. */
    case object All extends PairBlock

    /** SRP-LSH banding, the corpus path — three stages, none quadratic in
      * materialized rows:
      *  1. BLOCK: candidates share >= 1 LSH band chunk (shuffle on
      *     (band, chunk) buckets, ids+signature only — never the vectors).
      *  2. PREFILTER: Hamming distance over the full bits-bit signature,
      *     evaluated INSIDE the join as a post-match filter (native
      *     xor+popcount) — bucket collisions stream through it without
      *     materializing; survivors are the only rows that ever carry ids
      *     downstream.
      *  3. RERANK: exact cosine on the deduped survivors (vectors
      *     re-attached; at this corpus size Catalyst picks broadcast
      *     joins), threshold tau.
      *
      * `geometry` defaults to [[SrpGeometry.Fixed]] (corpora up to ~10^4
      * vectors); at scale pass `srpGeometry(corpusSize, tau)`, which grows
      * rows-per-band with log n so bucket occupancy (and with it the
      * candidate-pair mass) stays ~linear at `targetRecall` for pairs at
      * the threshold. Either way [[requireBucketOccupancy]] refuses a
      * corpus the geometry is too narrow for. Recall < 1 by design. */
    final case class Srp(geometry: SrpGeometry = SrpGeometry.Fixed,
                         dim: Int = 64, maxRowsPerBucket: Int = 1024)
      extends PairBlock

    /** Pairs inside one inverted list of an [[ivfAssign]] frame (its `cl`;
      * `vec` is its already-double `cv`, read as is): the self-join on `cl`
      * is quadratic inside a list, never across lists ([[semDedup]]). */
    case object SameList extends PairBlock
  }

  /** Embedding-cosine near-dup pairs: every (id1 < id2) candidate `block`
    * admits whose round-6 cosine is >= tau, as (id1, id2, cos). A zero
    * vector (NULL cosine) pairs with nothing under any block. */
  def cosinePairs(emb: DataFrame, id: Column, vec: Column, tau: Double,
                  block: PairBlock = PairBlock.All): DataFrame = block match {
    case PairBlock.All =>
      // spread the probe side: a small single-file scan otherwise feeds the
      // nested-loop join as ONE partition and the whole n²/2 cosine pass
      // runs on one core (r13 StageProfile: 2.4 s wall = one 2.4 s task) —
      // no-op at real corpus scale (spreadForCpu's stats cutoff)
      val a = TextOps.spreadForCpu(emb.select(id.as("id1"),
        asDouble(vec).as("v1")))
      val b = emb.select(id.as("id2"), asDouble(vec).as("v2"))
      scorePairs(a.join(broadcast(b), col("id1") < col("id2")), tau)
    case PairBlock.Srp(geometry, dim, maxRowsPerBucket) =>
      requireBucketOccupancy("cosinePairs", estimatedRows(emb, dim),
        geometry, maxRowsPerBucket)
      val (vecs, banded) = bandedSignatures(emb, id, vec, geometry.bits,
        geometry.bands, geometry.rowsPerBand, dim)
      val maxHam = hammingCut(tau, prefilterBits(geometry.bits))
      val l = banded.select(col("band"), col("chunk"), col("cid").as("id1"),
        col("sig").as("sig1"))
      val r = banded.select(col("band"), col("chunk"), col("cid").as("id2"),
        col("sig").as("sig2"))
      // bucket keys are few (bands × 2^rowsPerBand) and duplicate-heavy —
      // a sort-merge join buffers every many-to-many key group; hash join
      // streams the probe side through it instead (measured at the 10× step)
      scorePairs(l.join(r.hint("shuffle_hash"), Seq("band", "chunk"))
        .filter(col("id1") < col("id2") &&
          hamming(col("sig1"), col("sig2")) <= maxHam)
        .select(col("id1"), col("id2")), tau, Some(vecs))
    case PairBlock.SameList =>
      // only the right side is renamed: a renaming Project over a cached
      // index would copy every left row before the join
      val r = emb.select(col("cl"), id.as("id2"), vec.as("v2"))
      scorePairs(emb.join(r, Seq("cl")).filter(id < col("id2"))
        .select(id.as("id1"), vec.as("v1"), col("id2"), col("v2")), tau)
  }

  /** The tail of every cosine pair search: candidates (id1, v1, id2, v2)
    * scored as (id1, id2, round-6 cos), kept at cos >= tau. Id-only
    * candidates (the SRP paths ship ids, never vectors) pass `vecs`
    * (cid, cv): they are deduped and both vectors re-attached first. `ids`
    * names the id columns ([[crossCosinePairs]] keeps its own). */
  private def scorePairs(cands: DataFrame, tau: Double,
                         vecs: Option[DataFrame] = None,
                         ids: (String, String) = ("id1", "id2")): DataFrame = {
    val (id1, id2) = ids
    val withVecs = vecs.fold(cands)(v => cands.dropDuplicates(id1, id2)
      .join(v.select(col("cid").as(id1), col("cv").as("v1")), id1)
      .join(v.select(col("cid").as(id2), col("cv").as("v2")), id2))
    withVecs.select(col(id1), col(id2),
        round(cosine(col("v1"), col("v2")), 6).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Cross-corpus embedding decontamination, exact: every (corpus, bench)
    * pair with cosine >= tau — the embedding-space twin of
    * [[graft.engine.NearDup.contaminationPairs]] (catches paraphrased eval
    * items that shingle overlap misses). The bench side broadcasts (it is
    * orders of magnitude smaller than the corpus; the corpus never
    * shuffles). At corpus scale with a LARGE bench side, tag both frames
    * and run [[cosinePairs]] under [[PairBlock.Srp]] over the union instead
    * — banded, never quadratic. Output: (corpus_id, bench_id, cos). */
  def crossCosinePairs(corpus: DataFrame, corpusId: Column, corpusVec: Column,
                       bench: DataFrame, benchId: Column, benchVec: Column,
                       tau: Double): DataFrame = {
    // deliberately NOT spread (r13 measured 0.24 → 0.38 s with it): unlike
    // [[cosinePairs]], the per-row work here is one cosine against a SMALL
    // broadcast bench set — cheaper than the shuffle a spread adds
    val c = corpus.select(corpusId.as("corpus_id"),
      asDouble(corpusVec).as("v1"))
    val b = bench.select(benchId.as("bench_id"), asDouble(benchVec).as("v2"))
    scorePairs(c.crossJoin(broadcast(b)), tau,
      ids = ("corpus_id", "bench_id"))
  }

  /** Packed SRP signature (ceil(bits/64) longs) via the native codegen'd
    * expression [[graft.engine.expressions.SrpSignature]] — one fused
    * bits×dim loop, computed ONCE per corpus vector. */
  def srpSignature(vec: Column, bits: Int, dim: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.engine.expressions.SrpSignature(
      ColumnBridge.expression(vec), bits, dim))
  }

  /** Hamming distance between packed signatures — native codegen'd
    * xor+popcount ([[graft.engine.expressions.HammingDistance]]); this is the
    * LSH join's post-match filter, evaluated once per bucket collision. */
  def hamming(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.engine.expressions.HammingDistance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** SRP-LSH banding geometry: `bands` chunks of `rowsPerBand` signature
    * bits each over a `bits`-bit signature (bits >= bands*rowsPerBand; the
    * surplus sharpens the Hamming prefilter). Derive from corpus size with
    * [[srpGeometry]]. */
  final case class SrpGeometry(bits: Int, bands: Int, rowsPerBand: Int)

  object SrpGeometry {
    /** The fixed default geometry: 256 bits, 24 bands × 4 rows — tuned
      * for recall >= 0.9 at tau=0.4, a HARD threshold for SRP (pairs at
      * 66°, background at 90°): band-OR recall ≈ 0.98, Hamming-cut recall
      * ≈ 0.99 at the threshold — AND for corpora up to ~10^4 vectors only:
      * its bucket count is fixed (2^4 per band), so occupancy grows with n
      * and candidate pairs with n² (ScaleCurve measured exp 1.21 at a 10×
      * step). Past that, derive the geometry with [[srpGeometry]]. */
    val Fixed: SrpGeometry = SrpGeometry(256, 24, 4)
  }

  /** Derive SRP-LSH geometry from corpus size — the measured scale rule
    * (SCALE.md "ScaleCurve"): a FIXED geometry has a fixed bucket count per
    * band (2^rowsPerBand), so per-bucket occupancy grows with n and
    * candidate pairs with n² — ScaleCurve measured exponent 1.21 at a 10×
    * step under the old bands=24 × rowsPerBand=4 defaults, vs sub-linear
    * once rows-per-band scales with log n.
    *
    *  - `rowsPerBand` r: smallest r with 2^r >= n / rowsPerBucket (floor 4)
    *    — bucket count tracks n so expected occupancy stays ~rowsPerBucket
    *    and background collision mass per band stays ~linear in n.
    *  - `bands`: enough band-OR draws to reach `targetRecall` for a pair AT
    *    the threshold: per-bit agreement p = 1 − acos(tau)/π, band collision
    *    p^r, so bands = ceil(ln(1/(1−recall)) / p^r). This is the n^ρ
    *    (ρ = ln p / ln(bucket growth) ≈ 0.65 at tau 0.4) term LSH theory
    *    charges for a weak threshold — it grows polynomially, not by
    *    hand-tuning.
    *  - `bits`: bands·r rounded up to a word, floored at 256 so the
    *    full-signature Hamming prefilter keeps discriminating (at 64 bits
    *    the tau-0.4 cut admits the background mean).
    *
    * Fails loudly (rather than silently exploding the banded shuffle) when
    * the derived bands exceed 4096 — at that point SRP at this tau/recall
    * costs more than the IVF/PQ path ([[annTopK]]); raise tau or lower
    * targetRecall deliberately. */
  def srpGeometry(n: Long, tau: Double = 0.4, targetRecall: Double = 0.92,
                  rowsPerBucket: Int = 128): SrpGeometry = {
    require(n > 0, s"srpGeometry: corpus size must be positive: $n")
    require(tau > 0 && tau < 1, s"srpGeometry: tau in (0,1): $tau")
    require(targetRecall > 0 && targetRecall < 1,
      s"srpGeometry: targetRecall in (0,1): $targetRecall")
    require(rowsPerBucket >= 1)
    val p = 1.0 - math.acos(tau) / math.Pi
    val r = math.max(4,
      math.ceil(math.log(n.toDouble / rowsPerBucket) / math.log(2.0)).toInt)
    require(r <= 62, s"srpGeometry: corpus size $n out of range")
    val bands = math.ceil(
      math.log(1.0 / (1.0 - targetRecall)) / math.pow(p, r)).toInt
    require(bands <= 4096,
      s"srpGeometry: n=$n at tau=$tau needs $bands bands (> 4096) for " +
        s"recall $targetRecall — SRP-LSH banding would cost more than the " +
        "IVF/PQ ANN path at this scale; raise tau, lower targetRecall, or " +
        "use the IVF/PQ search annTopK (SCALE.md).")
    SrpGeometry(math.max(256, ((bands * r + 63) / 64) * 64), bands, r)
  }

  /** Hamming cut for "cosine >= tau" on a bits-bit SRP signature: expected
    * Hamming fraction of a pair AT the threshold is acos(tau)/π; allow
    * `zSlack` standard deviations above it so threshold-grazing true pairs
    * still pass (z=2.5 → ~0.6% per-pair miss), while background pairs
    * (fraction ≈ 0.5) are overwhelmingly cut. */
  private[graft] def hammingCut(tau: Double, bits: Int,
                                zSlack: Double = 2.5): Int = {
    val p = math.acos(tau) / math.Pi
    math.ceil(bits * p + zSlack * math.sqrt(bits * p * (1 - p))).toInt
  }

  /** Hamming-prefilter width: the prefilter rides the banded shuffle as a
    * PREFIX of the signature capped at 256 bits (4 words, 32 bytes), so the
    * per-row shuffle payload stays O(1) as [[srpGeometry]] grows the banding
    * with corpus size (an 832-bit derived signature would otherwise ship 13
    * words per banded row — the banding bits beyond the prefix exist to
    * DEFINE buckets, not to be re-shipped). 512 is the measured knee: at
    * 256 the z=2.5 cut sits only ~1.75 background sd below the mean and
    * ~4% of background candidates leak into the rerank joins (measured
    * +20% wall on the 10× corpus); at 512 leakage is ~2e-4 while the
    * payload stays 64 B/row. For bits <= 512 the prefix is the full
    * signature and behavior is unchanged (the 64-bit `q_srp_fixed` oracle
    * and both 256-bit default paths). */
  private def prefilterBits(bits: Int): Int = math.min(bits, 512)

  /** Shared signing+banding stage: (vectors as (cid, cv, sig), banded rows as
    * (cid, sig, band, chunk)) — `sig` in the banded frame is the
    * [[prefilterBits]] PREFIX of the signature (see above). The first
    * bands×rowsPerBand signature bits are the band chunks (a chunk
    * straddling a word boundary is stitched from both words — any
    * rowsPerBand in [1, 62] works, so [[srpGeometry]] can grow it smoothly
    * with log n). For rowsPerBand dividing 64 the chunk values are
    * bit-identical to the historical word-aligned extraction (the
    * `q_srp_fixed` oracle pins the 8×8/64 layout cross-engine). */
  private[graft] def bandedSignatures(emb: DataFrame, id: Column, vec: Column,
                                      bits: Int, bands: Int, rowsPerBand: Int,
                                      dim: Int): (DataFrame, DataFrame) = {
    require(bands * rowsPerBand <= bits, "bands*rowsPerBand must fit in bits")
    require(rowsPerBand >= 1 && rowsPerBand <= 62,
      s"rowsPerBand in [1, 62]: $rowsPerBand")
    val vecs = emb.select(id.as("cid"), asDouble(vec).as("cv"))
      .withColumn("sig", srpSignature(col("cv"), bits, dim))
    val banded = bandSignatureFrame(vecs, bits, bands, rowsPerBand)
    (vecs.drop("sig"), banded)
  }

  /** Banding as a VIEW over a signature column: (…, sig) → (…, sig-prefix,
    * band, chunk) — the bit-slicing half of [[bandedSignatures]], shared
    * with the presigned incremental path (a persisted signature table
    * re-bands under any geometry whose bands×rowsPerBand fit its width —
    * no recompute on a geometry step). Chunk extraction is the native
    * [[graft.engine.expressions.BandChunks]] loop: the unrolled Column
    * form generated O(bands) code in one method and blew Janino's 64 KB
    * limit (silent interpreted fallback) at derived geometries past ~150
    * bands — measured r13 at 401 bands / n=200k. */
  private def bandSignatureFrame(sigs: DataFrame, bits: Int, bands: Int,
                                 rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= bits, "bands*rowsPerBand must fit in bits")
    require(rowsPerBand >= 1 && rowsPerBand <= 62,
      s"rowsPerBand in [1, 62]: $rowsPerBand")
    val pWords = (prefilterBits(bits) + 63) / 64
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val chunks = ColumnBridge.column(graft.engine.expressions.BandChunks(
      ColumnBridge.expression(col("sig")), bands, rowsPerBand))
    sigs.select(col("cid"), slice(col("sig"), 1, pWords).as("sig"),
      posexplode(chunks).as(Seq("band", "chunk")))
  }

  /** The rows-per-bucket guard every SRP-LSH entry runs before planning
    * (stats-estimated corpus size — the theilSenSlopeByKey maxDays
    * pattern): a geometry has 2^rowsPerBand buckets per band, and past
    * `maxRowsPerBucket` expected rows per bucket the banded join goes
    * quadratic (measured, SCALE.md). A geometry from [[srpGeometry]] has
    * at least n/128 buckets per band, so at the default cap of 1024 it
    * admits at least 8n rows: the guard fires on a derived geometry only
    * when the n it was derived from understated the corpus. */
  private def requireBucketOccupancy(op: String, nEst: Long, g: SrpGeometry,
                                     maxRowsPerBucket: Int): Unit =
    require(BigInt(nEst) <=
        (BigInt(1) << g.rowsPerBand) * maxRowsPerBucket,
      s"$op: ~$nEst corpus rows over ${BigInt(1) << g.rowsPerBand} " +
        s"buckets/band (rowsPerBand=${g.rowsPerBand}) exceeds " +
        s"$maxRowsPerBucket rows/bucket — this geometry goes quadratic " +
        "here (measured, SCALE.md). Pass geometry = srpGeometry(corpusSize, " +
        "tau) with the true corpus size, or raise maxRowsPerBucket " +
        "deliberately.")

  /** Incremental twin of [[cosinePairs]] under [[PairBlock.Srp]] for the
    * daily-batch regime: only the INCOMING batch's banded signatures PROBE
    * the union buckets — existing↔existing pairs never re-form, so a daily
    * embedding-dedup run costs O(batch × bucket occupancy), not a
    * full-corpus self-join re-formed every day (the
    * [[graft.engine.NearDup.jaccardPairsIncremental]] shape under
    * `ShingleBlock.MinhashLsh`, on the banded SRP join). Because the SRP signature, the Hamming prefilter,
    * and the exact-cosine rerank are all pure per-row / per-pair
    * functions, the result EQUALS the full [[cosinePairs]] run over
    * (existing ∪ incoming) under `PairBlock.Srp(geometry)`, restricted to
    * pairs touching the batch — SimilaritySpec asserts that law at both
    * geometries, and the fixed-geometry oracle twin (`q_srp_incr_fixed`)
    * replays it in SQL as the full-twin query plus a batch-membership
    * predicate. The occupancy guard reads the UNION's estimated size, and
    * a derived geometry must come from the union size too: a growing
    * corpus eventually crosses a rows-per-band step, and when it does the
    * existing side simply re-bands under the new chunk width (signatures
    * themselves are geometry-independent up to `bits`, so nothing is
    * invalidated). */
  def lshCosinePairsIncremental(existing: DataFrame, incoming: DataFrame,
                                id: Column, vec: Column, tau: Double,
                                geometry: SrpGeometry = SrpGeometry.Fixed,
                                dim: Int = 64,
                                maxRowsPerBucket: Int = 1024): DataFrame = {
    requireBucketOccupancy("lshCosinePairsIncremental",
      estimatedRows(existing, dim) + estimatedRows(incoming, dim), geometry,
      maxRowsPerBucket)
    val (exVecs, exBanded) = bandedSignatures(existing, id, vec,
      geometry.bits, geometry.bands, geometry.rowsPerBand, dim)
    incrementalProbe(exVecs, exBanded, incoming, id, vec, tau, geometry, dim)
  }

  /** Map-side bucket pruning for the incremental probe join: condense the
    * batch's (band, chunk) key set into a driver-held Bloom filter (three
    * BATCH-sized jobs: emptiness, distinct-count calibration, build; the
    * filter then rides the [[graft.engine.expressions.BloomMightContain]]
    * expression into every task) and drop the corpus-side banded rows
    * whose bucket no probe touches BEFORE they shuffle. No false
    * negatives, and a false positive merely ships a row that fails the
    * join-key match — results are bit-identical (covered by the
    * incremental == restricted-full-run spec law). At toy scale the
    * probe touches nearly every bucket (derived geometry keeps bucket
    * count ≈ n/128, so any batch larger than that count covers them
    * all); in the true daily-batch regime (batch ≪ corpus/128) this is
    * the difference between shuffling corpus×bands banded rows and
    * shuffling only the probed fraction — measured at the 100× step
    * (SCALE.md). An empty batch prunes everything (and sidesteps
    * `stat.bloomFilter`'s empty-input NPE). */
  private def pruneToProbedBuckets(exBanded: DataFrame,
                                   inBanded: DataFrame): DataFrame = {
    val keys = inBanded.select(xxhash64(col("band"), col("chunk")).as("k"))
    if (keys.isEmpty) exBanded.limit(0)
    else {
      val expected = math.max(keys.distinct().count(), 1L)
      val bloom = keys.stat.bloomFilter("k", expected, 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      val bytes = bos.toByteArray
      import org.apache.spark.sql.graftbridge.ColumnBridge
      exBanded.filter(ColumnBridge.column(
        graft.engine.expressions.BloomMightContain(
          ColumnBridge.expression(xxhash64(col("band"), col("chunk"))),
          bytes)))
    }
  }

  /** SRP signature table (cid, sig) — the PERSIST point of the daily-batch
    * pattern. Signatures are pure per-row functions and prefix-stable
    * across widths (bit j never changes when `bits` grows — hyperplanes
    * are generated per bit index), so: compute once for the corpus at a
    * width with headroom over the current geometry, store next to the
    * embeddings, and append each day's batch. The measured motivation
    * (SCALE.md): recomputing corpus signatures dominated the fixed-batch
    * incremental run ~3.4 s of 4.9 s at the 10× step — persisting them
    * makes the daily marginal batch-sized.
    */
  def srpSignatureTable(emb: DataFrame, id: Column, vec: Column,
                        bits: Int = 832, dim: Int = 64): DataFrame =
    emb.select(id.as("cid"), asDouble(vec).as("cv"))
      .select(col("cid"), srpSignature(col("cv"), bits, dim).as("sig"))

  /** [[lshCosinePairsIncremental]] against a PERSISTED corpus
    * signature table ([[srpSignatureTable]]) — the production daily run:
    * only the incoming batch is signed today; the existing side's
    * signatures are read back and re-banded as a bit-slicing view (free
    * on geometry steps while the geometry fits `sigBits`, the width the
    * table was signed at — a too-narrow table fails loudly DRIVER-SIDE,
    * naming the re-sign width; no job runs). `existing` supplies the
    * vectors for the exact rerank (only candidate ids are ever joined back
    * to it). Bit-identical to [[lshCosinePairsIncremental]] at the same
    * `geometry` because signatures are prefix-stable across widths —
    * spec-asserted. */
  def lshCosinePairsIncrementalPresigned(existingSigs: DataFrame,
                                         sigBits: Int, existing: DataFrame,
                                         incoming: DataFrame, id: Column,
                                         vec: Column, tau: Double,
                                         geometry: SrpGeometry =
                                           SrpGeometry.Fixed,
                                         dim: Int = 64): DataFrame = {
    require(sigBits % 64 == 0 && sigBits > 0,
      s"sigBits must be a positive multiple of 64: $sigBits")
    // the banding reads word indices up to ceil(bands*rowsPerBand/64) and
    // the Hamming prefilter up to ceil(min(bits, 512)/64); both are
    // <= ceil(bits/64), so requiring the stored width to cover the
    // geometry's bits is the whole contract
    require(geometry.bits <= sigBits,
      s"persisted signature table too narrow: $geometry needs " +
        s"${geometry.bits} bits, table was signed at $sigBits — re-sign " +
        s"with srpSignatureTable(bits >= ${geometry.bits}) (grow with " +
        "headroom; prefix bits never change)")
    requireBucketOccupancy("lshCosinePairsIncrementalPresigned",
      estimatedRows(existing, dim) + estimatedRows(incoming, dim), geometry,
      1024)
    // band the STORED prefix exactly as a freshly-signed geometry.bits-wide
    // signature would band: pass geometry.bits (not sigBits) so the sliced
    // Hamming-prefix width matches the incoming side's word for word
    val exBanded = bandSignatureFrame(
      existingSigs.select(col("cid"), col("sig")), geometry.bits,
      geometry.bands, geometry.rowsPerBand)
    val exVecs = existing.select(id.as("cid"), asDouble(vec).as("cv"))
    incrementalProbe(exVecs, exBanded, incoming, id, vec, tau, geometry, dim)
  }

  /** The incremental tail shared by [[lshCosinePairsIncremental]] and
    * [[lshCosinePairsIncrementalPresigned]]: sign and band the batch,
    * probe the union's buckets with it, Hamming-cut and exact-rerank.
    * `exVecs` is (cid, cv); `exBanded` is the existing side's banded rows
    * under `geometry`, freshly signed or re-banded from a stored table. */
  private def incrementalProbe(exVecs: DataFrame, exBanded: DataFrame,
                               incoming: DataFrame, id: Column, vec: Column,
                               tau: Double, geometry: SrpGeometry,
                               dim: Int): DataFrame = {
    val (inVecs, inBanded) = bandedSignatures(incoming, id, vec,
      geometry.bits, geometry.bands, geometry.rowsPerBand, dim)
    val maxHam = hammingCut(tau, prefilterBits(geometry.bits))
    val all = pruneToProbedBuckets(exBanded, inBanded)
      .withColumn("_new", lit(false))
      .unionByName(inBanded.withColumn("_new", lit(true)))
      .repartition(col("band"), col("chunk"))
    // the probe is the batch's slice OF THE SAME EXCHANGE (filter on the
    // rider flag) — deriving it from inBanded directly planned and ran
    // the batch's signing/banding pass a second time inside the join
    // (r13); ReuseExchange now computes the union banding once and both
    // join sides arrive co-partitioned (the bloom-pruning jobs still
    // sign the batch separately — that gate must run before the union
    // exists). Build side stays the batch-sized probe (hint below).
    val probe = all.filter(col("_new")).select(col("band"), col("chunk"),
      col("cid").as("in_id"), col("sig").as("in_sig"))
    // batch probes union buckets: new↔existing forms exactly once (the
    // probe side is new-only), new↔new dedups by id order. Bucket keys
    // stay few and duplicate-heavy, so this must be a hash join (an SMJ
    // would buffer every many-to-many bucket group — measured in the full
    // run) — but unlike the full run's symmetric self-join, the BUILD
    // side here must be the BATCH-sized probe: building the corpus side's
    // banded rows OOMs the per-partition hash map exactly when the
    // incremental path matters (measured r13 at the 100× step).
    scorePairs(probe.hint("shuffle_hash").join(all, Seq("band", "chunk"))
      .filter(col("in_id") =!= col("cid") &&
        (!col("_new") || col("in_id") < col("cid")) &&
        hamming(col("in_sig"), col("sig")) <= maxHam)
      .select(least(col("in_id"), col("cid")).as("id1"),
        greatest(col("in_id"), col("cid")).as("id2")), tau,
      Some(exVecs.unionByName(inVecs)))
  }

  /** Top-`nprobe` nearest centroid indices by dot product (== cosine when
    * the centroids are L2-normalized) — native codegen'd
    * [[graft.engine.expressions.NearestCentroids]], one fused nlist×dim loop
    * per row. */
  def nearestCentroids(vec: Column, cents: Array[Array[Double]],
                       nprobe: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.engine.expressions.NearestCentroids(
      ColumnBridge.expression(vec), cents, nprobe))
  }

  /** Spherical k-means coarse quantizer for the IVF index: Lloyd's
    * iterations run as Spark jobs; the DRIVER only ever holds the model —
    * `nlist` seed vectors at init and the (cluster, dim) partial-sum
    * aggregates per iteration (nlist×dim doubles, independent of corpus
    * size). Vectors are L2-normalized once and cached for the duration of
    * training (released on exit), so each iteration is one assignment pass
    * (codegen'd argmax, zero shuffle) plus one (cl, pos) sum aggregation.
    *
    * Deterministic: seeds are the `nlist` rows with the smallest
    * (murmur3(id), id); ties in assignment break toward the lower centroid
    * index — same model on every run and every cluster.
    *
    * Empty clusters keep their previous centroid (standard Lloyd's repair is
    * unnecessary for a coarse quantizer — an unused list just never gets
    * probed). Zero-norm vectors are excluded from training; at search time
    * they score 0 against every centroid and land in list 0. */
  def ivfTrainCentroids(emb: DataFrame, id: Column, vec: Column,
                        nlist: Int = 16, iters: Int = 5): Array[Array[Double]] = {
    import org.apache.spark.storage.StorageLevel
    val nv = emb.select(id.as("cid"), asDouble(vec).as("cv"))
      .withColumn("nrm", norm(col("cv")))
      .filter(col("nrm") > 0)
      .select(col("cid"),
        transform(col("cv"), x => x / col("nrm")).as("nv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = nv
        .orderBy(hash(col("cid")), col("cid")).limit(nlist)
        .select(col("nv"))
        .collect()
        .map(_.getSeq[Double](0).toArray)
      require(cents.length > 0, "ivfTrainCentroids: empty corpus")
      // the model's width IS the embedding width (taken from the seeds) —
      // no separate dim parameter to mismatch; a mixed-width corpus fails
      // loudly in the accumulation below
      val width = cents.head.length
      require(cents.forall(_.length == width),
        s"ivfTrainCentroids: seed vectors have mixed widths " +
          s"(${cents.map(_.length).distinct.mkString(",")})")
      // early exit on convergence: the per-iteration sums are already on the
      // driver, so comparing new centroids to old is free — Lloyd's on
      // clusterable data typically converges in 2-3 rounds and the remaining
      // `iters` jobs would recompute an identical model
      var it = 0
      var moved = true
      while (it < iters && moved) {
        val sums = nv
          .select(element_at(nearestCentroids(col("nv"), cents, 1), 1)
            .as("cl"), posexplode(col("nv")).as(Seq("pos", "x")))
          .groupBy(col("cl"), col("pos"))
          .agg(sum(col("x")).as("s"))
          .collect()
        val acc = Array.fill(cents.length)(new Array[Double](width))
        val seen = new Array[Boolean](cents.length)
        sums.foreach { r =>
          val cl = r.getInt(0)
          val pos = r.getInt(1)
          // defensive invariant: mixed corpus widths already fail loudly
          // inside NearestCentroids (strict width check) during the
          // assignment this aggregation computes — this guard only protects
          // against a future refactor decoupling the two
          if (pos >= width) throw new IllegalStateException(
            s"ivfTrainCentroids: aggregation saw dim $pos beyond model " +
              s"width $width despite the assignment width check")
          acc(cl)(pos) = r.getDouble(2)
          seen(cl) = true
        }
        val next = cents.indices.map { c =>
          if (!seen(c)) cents(c)
          else {
            val s = acc(c)
            val n = math.sqrt(s.map(x => x * x).sum)
            if (n == 0) cents(c) else s.map(_ / n)
          }
        }.toArray
        moved = cents.indices.exists { c =>
          cents(c).indices.exists(j =>
            math.abs(next(c)(j) - cents(c)(j)) > 1e-12)
        }
        cents = next
        it += 1
      }
      cents
    } finally nv.unpersist(blocking = false)
  }

  /** Inverted-list assignment: each corpus vector tagged with its nearest
    * centroid — (cid, cv, cl), one codegen'd pass, zero shuffle. Persist the
    * result (or sink it partitioned by `cl`) to amortize the index over many
    * searches. */
  def ivfAssign(emb: DataFrame, id: Column, vec: Column,
                cents: Array[Array[Double]]): DataFrame =
    emb.select(id.as("cid"), asDouble(vec).as("cv"))
      .withColumn("cl", element_at(nearestCentroids(col("cv"), cents, 1), 1))

  /** How an ANN candidate scores against its query — the distance half of
    * [[annTopK]]. */
  sealed trait AnnScore
  object AnnScore {
    /** Exact cosine: the index carries the vectors (`cv`, as built by
      * [[ivfAssign]]); the score is `round(cosine(cv, qv), 6)` in column
      * `cos`. */
    case object Exact extends AnnScore

    /** PQ asymmetric distance: the index carries PQ `codes` ([[pqEncode]],
      * [[ivfPqIndex]]); each query computes its m×k inner-product table once
      * ([[pqAdcTableCol]]) and a candidate costs m table lookups
      * ([[pqAdcScoreCol]]) — no decode, and the scan reads m ints per row
      * instead of dim floats. The score, rounded to 6 dp, is column `adc`:
      * it approximates cosine (queries normalized, codebooks trained
      * normalized) with error bounded by the per-subspace reconstruction
      * error. `normalizeQueries` must match how the codebooks were built
      * (false for externally fixed raw codebooks, e.g. the SQL-expressible
      * oracle model). */
    final case class Adc(codebooks: Array[Array[Array[Double]]],
                         normalizeQueries: Boolean = true) extends AnnScore
  }

  /** Which index rows a query scores — the pruning half of [[annTopK]]. */
  sealed trait AnnProbe
  object AnnProbe {
    /** Every index row: a cross join against the broadcast query batch
      * (flat PQ; under `Exact`, the brute-force exact search). */
    case object All extends AnnProbe

    /** The `nprobe` inverted lists nearest each query (the index carries
      * its list id `cl`, as [[ivfAssign]] / [[ivfPqIndex]] build it): the
      * queries explode to one row per probed list and broadcast-join the
      * index on `cl`, so the index never shuffles and ~nprobe/nlist of it
      * is touched. `nprobe = cents.length` probes every list and loses no
      * candidate. */
    final case class Ivf(cents: Array[Array[Double]], nprobe: Int = 4)
      extends AnnProbe
  }

  /** ANN top-k over a pre-built index: `queries` is (qid, qv:
    * array<double>); the output is (qid, cid, cos|adc, rn), best first,
    * ties to the lower cid, a query never matching itself; a NULL score
    * (a zero vector under `Exact`) never ranks, so a zero query gets no
    * rows. Train the models once ([[ivfTrainCentroids]], [[pqTrain]]),
    * persist the index ([[ivfAssign]], [[pqEncode]],
    * [[ivfPqIndex]]) and search many times; at scale, sink the index
    * `partitionBy("cl")` and search it with [[annTopKPartitioned]].
    *
    * Recall compounds the two arguments' losses (none under `Exact` with
    * `All`):
    *  - `AnnProbe.Ivf` misses a true neighbor in an unprobed list, and so
    *    DEPENDS ON CORPUS CLUSTERABILITY — unlike [[lshCosineTopK]], the
    *    quantizer only prunes where direction predicts neighborhood. On a
    *    clusterable corpus (the normal case for trained embeddings) recall
    *    is ≥ 0.9 at nprobe/nlist = 4/16 (SimilaritySpec, 20-cluster
    *    fixture, measured 1.0). On an ISOTROPIC corpus top-k reaches into
    *    background distances and recall degrades to ≈ the scanned
    *    fraction (measured on the synthetic testdata: 0.64 at 4/16, 0.88
    *    at 8/16) — there, prefer [[lshCosineTopK]], whose Hamming-ranked
    *    window handles background-distance neighbors.
    *  - `AnnScore.Adc` ranks by the quantized score; its recall floor on
    *    the clusterable fixture is pinned in SimilaritySpec.
    * Probing every list is lossless: `Ivf(cents, cents.length)` returns
    * exactly the rows of `All`. */
  def annTopK(index: DataFrame, queries: DataFrame, k: Int,
              score: AnnScore, probe: AnnProbe): DataFrame = probe match {
    case AnnProbe.All => probeScoreRank(index, queries, k, score, None)
    case AnnProbe.Ivf(cents, nprobe) =>
      probeScoreRank(index, queries, k, score,
        Some(explode(nearestCentroids(col("qv"), cents, nprobe)).as("cl")))
  }

  /** [[annTopK]] over an ON-DISK index sunk with `partitionBy("cl")` — the
    * 100 TB layout. The query batch is driver-held (model-scale), so its
    * probe lists are computed up front ([[probeLists]] — same scoring and
    * tie-break as the executor expression) and the reader gets a LITERAL
    * `cl IN (...)` predicate: list pruning IS partition pruning. The scan
    * plans only the probed lists' directories
    * (`FileSourceScanExec.selectedPartitions` == union of probe lists —
    * asserted in SimilaritySpec); unprobed lists are never listed, opened,
    * or read. Results are identical to [[annTopK]] with the same arguments
    * on the same index (spec'd for both scores). */
  def annTopKPartitioned(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String,
                         queries: Seq[(Long, Array[Double])], k: Int,
                         score: AnnScore, probe: AnnProbe.Ivf): DataFrame = {
    import spark.implicits._
    val probed = queries.map { case (qid, qv) =>
      (qid, qv, probeLists(probe.cents, qv, probe.nprobe))
    }
    val lists = probed.flatMap(_._3).distinct.sorted
    val qdf = probed
      .flatMap { case (qid, qv, ls) => ls.map(cl => (qid, qv, cl)) }
      .toDF("qid", "qv", "cl")
    val index = spark.read.parquet(indexPath)
      .filter(col("cl").isin(lists: _*)) // static partition pruning
    probeScoreRank(index, qdf, k, score, Some(col("cl")))
  }

  /** The one search body behind [[annTopK]] and [[annTopKPartitioned]]:
    * the query side (qid, score operand[, cl]) rides a broadcast —
    * joined to the index on `cl` when `lists` names the probed lists,
    * crossed with it otherwise — then every candidate scores, self-matches
    * drop, and the bounded top-k keeps k per query. */
  private def probeScoreRank(index: DataFrame, queries: DataFrame, k: Int,
                             score: AnnScore,
                             lists: Option[Column]): DataFrame = {
    val (operand, scoreCol, name) = score match {
      case AnnScore.Exact =>
        (col("qv"), cosine(col("cv"), col("qv")), "cos")
      case AnnScore.Adc(codebooks, normalizeQueries) =>
        val qv = if (normalizeQueries) normalized(col("qv")) else col("qv")
        (pqAdcTableCol(qv, codebooks).as("tbl"),
          pqAdcScoreCol(col("codes"), col("tbl")), "adc")
    }
    val side = broadcast(queries.select(Seq(col("qid"), operand) ++ lists: _*))
    val candidates =
      if (lists.isEmpty) index.crossJoin(side) else index.join(side, Seq("cl"))
    val scored = candidates.filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), round(scoreCol, 6).as(name))
    topKPerQuery(scored, k, name)
  }

  /** Driver-side probe-list computation for ONE query vector — same scoring
    * and tie-break (dot product, ties to the lower index) as the
    * [[graft.engine.expressions.NearestCentroids]] expression, so the two
    * paths probe identical lists. Model-scale work: nlist×dim flops. */
  private[graft] def probeLists(cents: Array[Array[Double]], qv: Array[Double],
                                nprobe: Int): Seq[Int] = {
    require(nprobe >= 1 && nprobe <= cents.length,
      s"nprobe must be in [1, ${cents.length}]: $nprobe")
    val dots = cents.map { c =>
      require(c.length == qv.length,
        s"probeLists: query has ${qv.length} dims, centroids ${c.length}")
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * qv(i); i += 1 }
      s
    }
    val taken = new Array[Boolean](cents.length)
    Seq.tabulate(nprobe) { _ =>
      var best = -1; var bd = Double.NegativeInfinity; var j = 0
      while (j < dots.length) {
        if (!taken(j) && dots(j) > bd) { best = j; bd = dots(j) }
        j += 1
      }
      taken(best) = true
      best
    }
  }

  /** SemDeDup-style semantic dedup over a PRE-BUILT IVF assignment
    * (cid, cv, cl) — train once ([[ivfTrainCentroids]]), persist the
    * assignment ([[ivfAssign]]), dedup many: a row is dropped iff a
    * LOWER-id row in the SAME inverted list is cosine >= `tau` to it —
    * cluster-then-dedup (Abbas et al. 2023, arXiv:2303.09540) with a
    * deterministic keep rule (min id per similarity neighborhood), no
    * iteration. The dropped rows are the `id2`s of [[cosinePairs]] under
    * [[PairBlock.SameList]].
    *
    * Scale shape: the only shuffle is the within-list self-join on `cl`.
    * At corpus scale pick `nlist` ∝ corpus/target-list-size (e.g. ~100k
    * lists for web scale) and sink the assignment `partitionBy("cl")` so
    * each list dedups from its own partition ([[ivfAssign]] docs). Unlike
    * the LSH/minhash paths this trades recall for the quantizer's view of
    * geometry: a near-dup pair split across two lists is missed (same
    * regime caveats as [[annTopK]] under `AnnProbe.Ivf` — SimilaritySpec
    * pins twin-collapse on a clusterable corpus).
    *
    * A zero-norm vector has a NULL cosine to everything: it is never
    * dropped and never drops another. Output: surviving (cid, cl). */
  def semDedup(indexed: DataFrame, tau: Double): DataFrame = {
    val dominated = cosinePairs(indexed, col("cid"), col("cv"), tau,
      PairBlock.SameList).select(col("id2")).distinct()
    indexed.join(dominated, col("cid") === col("id2"), "left_anti")
      .select(col("cid"), col("cl"))
  }

  /** Symmetric per-vector int8 quantization of an embedding column — the
    * storage layout for corpus-scale ANN (4× smaller than float32; IVF lists
    * of int8 codes + one scale per vector). `q[i] = floor(v[i]·127/maxabs)`,
    * reconstructed as `q[i]·maxabs/127` ([[dequantizeInt8]]). `floor` (not
    * round) so the mapping has no .5-tie anywhere — bit-identical across
    * engines, oracle-checkable. Zero vectors quantize to all-zero codes.
    * Output columns: (codes: array<int>, scale: double). */
  def quantizeInt8(vec: Column): (Column, Column) = {
    val v = asDouble(vec)
    val m = array_max(transform(v, x => abs(x)))
    val codes = when(m === 0.0, transform(v, _ => lit(0)))
      .otherwise(transform(v, x => floor(x * 127.0 / m).cast("int")))
    (codes, m / 127.0)
  }

  /** Inverse of [[quantizeInt8]]: codes × scale back to array<double>. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, q => q.cast("double") * scale)

  /** Deterministic ±1 hyperplane matrix (bits × dim), seeded by index — the
    * same on every JVM, so signatures are reproducible cluster-wide. */
  private[graft] def hyperplanes(bits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(bits, dim) { (j, k) =>
      val h = scala.util.hashing.MurmurHash3.productHash((j, k))
      if ((h & 1) == 0) 1.0 else -1.0
    }

  /** Estimated corpus row count from optimizer stats — no job. Parquet scans
    * report sizeInBytes; rowCount only exists under CBO/collected stats, so
    * fall back to bytes / (8 bytes per double × dim, plus id) per row.
    * sizeInBytes is the COMPRESSED on-disk size while the divisor is the
    * uncompressed row width, so the raw quotient systematically
    * underestimates rows — which would let a corpus past the measured n^2
    * cliff slip under the maxRowsPerBucket guards that rely on this
    * (ADVICE r12). Bias by an assumed ~2x parquet compression ratio for
    * double columns; the estimate stays order-of-magnitude only, and the
    * guards it feeds err loud (refuse) rather than silent. Callers at real
    * scale should pass a geometry derived from a true count
    * ([[srpGeometry]]). */
  private def estimatedRows(emb: DataFrame, dim: Int): Long = {
    val stats = emb.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      (stats.sizeInBytes * 2 / BigInt(8L * dim + 8)).toLong max 1L
    }
  }

  /** LSH-bucketed ANN: banded candidates (corpus vectors sharing >= 1 band
    * chunk with the query), ranked by full-signature Hamming distance to keep
    * the best `candidatesPerQuery` per query, exact-cosine reranked to top-k.
    * The Hamming ranking between blocking and rerank is what rescues recall
    * on FAR neighbors (an exact top-k reaches into background distances where
    * single-band collisions alone are noisy).
    *
    * `candidatesPerQuery <= 0` (the default) auto-scales the Hamming window
    * to `clamp(max(40k, rows/5), 10_000)` from optimizer scan stats. The
    * floor is recall-driven: an exact top-k reaches into background
    * distances, where a true neighbor's Hamming rank among n background
    * collisions grows ~linearly in n (measured: 40-candidate window → recall
    * 0.8 at n=500; 200 → ≥0.9). The cap bounds the rerank join at corpus
    * scale, where near-neighbor Hamming ranks ARE accurate and the window
    * only needs to cover k with margin. Note the window depth does NOT
    * bound the banded-join/ranking cost — collisions are ranked before the
    * cut — so shrinking it cannot rescue small-corpus latency; see the
    * crossover note below for when to use brute force instead.
    *
    * CROSSOVER vs brute force (`annTopK(…, AnnScore.Exact, AnnProbe.All)`,
    * one linear corpus pass per query batch): at n = 2 000 (sf0.1) brute
    * force wins and LSH's signing + banded join overhead is pure loss. LSH
    * amortizes the one-off signing and scores only bucket collisions
    * (~n^0.65 per query at these parameters), so it overtakes once n
    * reaches the high 10^4s and is the only viable path at corpus scale
    * (10^8+, where a linear pass per query batch is a full-table scan).
    *
    * `geometry` and the occupancy guard work as in [[PairBlock.Srp]]. For
    * a derived geometry pass `srpGeometry(corpusSize, 0.4)`: top-k has no
    * tau, and 0.4 is the weakest — hence most conservative — threshold the
    * engine tunes for.
    *
    * Returns (qid, cid, cos, rn) like [[annTopK]] — recall < 1 by design;
    * see SimilaritySpec for the measured recall floor. */
  def lshCosineTopK(emb: DataFrame, id: Column, vec: Column,
                    queryIds: Seq[Long], k: Int,
                    geometry: SrpGeometry = SrpGeometry.Fixed,
                    dim: Int = 64, candidatesPerQuery: Int = 0,
                    maxRowsPerBucket: Int = 1024): DataFrame = {
    val nEst = estimatedRows(emb, dim)
    requireBucketOccupancy("lshCosineTopK", nEst, geometry, maxRowsPerBucket)
    val cpq =
      if (candidatesPerQuery > 0) candidatesPerQuery
      else math.min(math.max(40L * k, nEst / 5L), 10000L).toInt
    val (vecs, banded) = bandedSignatures(emb, id, vec, geometry.bits,
      geometry.bands, geometry.rowsPerBand, dim)
    val queries = banded.filter(col("cid").isin(queryIds: _*))
      .select(col("cid").as("qid"), col("sig").as("qsig"),
        col("band"), col("chunk"))
    val queryVecs = vecs.filter(col("cid").isin(queryIds: _*))
      .select(col("cid").as("qid"), col("cv").as("qv"))
    // Hamming ranking as a bounded top-k aggregation (lowest distance =
    // highest -ham, ties to the lower cid — identical selection to the old
    // row_number window, but partial-aggregated: no single task ever holds
    // all of a query's bucket collisions)
    val candidateIds = banded.join(broadcast(queries), Seq("band", "chunk"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        hamming(col("sig"), col("qsig")).as("ham"))
      .dropDuplicates("qid", "cid")
      .groupBy(col("qid"))
      .agg(boundedTopK(-col("ham").cast("double"), col("cid"), cpq).as("_tk"))
      .select(col("qid"), explode(col("_tk.id")).as("cid"))
    // corpus vectors re-attach only for the ≤ cpq survivors per query; the
    // (tiny) query vectors ride a broadcast
    val scored = candidateIds
      .join(vecs, "cid")
      .join(broadcast(queryVecs), "qid")
      .select(col("qid"), col("cid"),
        round(cosine(col("cv"), col("qv")), 6).as("cos"))
    topKPerQuery(scored, k)
  }

  // ---- Product quantization (PQ) ----

  /** PQ code assignment column — see [[graft.engine.expressions.PqEncode]]. */
  def pqEncodeCol(vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.engine.expressions.PqEncode(
      ColumnBridge.expression(vec), codebooks))
  }

  /** Per-query ADC lookup-table column — see
    * [[graft.engine.expressions.PqAdcTable]]. */
  def pqAdcTableCol(vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.engine.expressions.PqAdcTable(
      ColumnBridge.expression(vec), codebooks))
  }

  /** ADC score column (m table lookups per candidate) — see
    * [[graft.engine.expressions.PqAdcScore]]. */
  def pqAdcScoreCol(codes: Column, table: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.engine.expressions.PqAdcScore(
      ColumnBridge.expression(codes), ColumnBridge.expression(table)))
  }

  /** L2-normalize, passing zero-norm vectors through unchanged (they encode
    * deterministically against whatever codebook and score 0 everywhere —
    * same policy as the IVF search path). */
  private def normalized(v: Column): Column = {
    val nrm = norm(v)
    when(nrm > 0, transform(v, x => x / nrm)).otherwise(v)
  }

  /** Product-quantizer training: per-subspace k-means over L2-normalized
    * vectors (Jégou et al. 2011; cosine on normalized inputs = inner
    * product, which ADC approximates subspace-wise). Lloyd's runs as Spark
    * jobs with ALL m subspaces folded into one pass per iteration: encode
    * (codegen'd argmin, zero shuffle) + one (dim-position, codeword) sum/
    * count aggregation whose result — at most dim·k rows — is the only
    * thing the driver ever holds. Model size k·dim doubles, independent of
    * corpus size.
    *
    * Deterministic: seeds are the `k` rows with the smallest
    * (murmur3(id), id), sliced into their m subvectors; encode ties break
    * toward the lower code. Empty codes keep their previous codeword (an
    * unused codeword is simply never emitted). Zero-norm vectors are
    * excluded from training, like [[ivfTrainCentroids]].
    *
    * Returns codebooks m × k × (dim/m); `dim` must divide by `m`. */
  def pqTrain(emb: DataFrame, id: Column, vec: Column,
              m: Int = 4, k: Int = 16,
              iters: Int = 5): Array[Array[Array[Double]]] = {
    import org.apache.spark.storage.StorageLevel
    require(m > 0 && k > 0 && iters > 0, s"pqTrain: bad (m=$m, k=$k, iters=$iters)")
    val nv = emb.select(id.as("cid"), asDouble(vec).as("cv"))
      .withColumn("nrm", norm(col("cv")))
      .filter(col("nrm") > 0)
      .select(col("cid"), transform(col("cv"), x => x / col("nrm")).as("nv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // seed POOL larger than k: per subspace the k codewords are the first
      // k DISTINCT subvectors in pool order — k identical-looking seed rows
      // would otherwise plant duplicate codewords, which Lloyd's never
      // separates (ties break to the lower index, so the duplicate starves)
      // and the quantizer silently loses resolution (measured on the
      // sign-pattern fixture in SimilaritySpec: recall 0.36 → 0.84)
      val seeds = nv.orderBy(hash(col("cid")), col("cid")).limit(4 * k)
        .select(col("nv")).collect().map(_.getSeq[Double](0).toArray)
      require(seeds.length >= k,
        s"pqTrain: corpus has only ${seeds.length} non-zero vectors, need k=$k")
      val dim = seeds.head.length
      require(seeds.forall(_.length == dim),
        s"pqTrain: mixed vector widths (${seeds.map(_.length).distinct.mkString(",")})")
      require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
      val dsub = dim / m
      var cents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
        val subs = seeds.iterator.map(_.slice(s * dsub, (s + 1) * dsub))
        val distinct = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
        subs.foreach { sv =>
          if (distinct.length < k && seen.add(sv.toSeq)) distinct += sv
        }
        // pool exhausted below k distinct patterns: cycle what exists (the
        // duplicates stay unused, harmlessly — the data has no more detail)
        Array.tabulate(k)(j => distinct(j % distinct.length))
      }
      var it = 0
      var moved = true
      while (it < iters && moved) {
        // one job: encode + positional sums. Group key (pos, code) fixes the
        // subspace (s = pos / dsub) — at most dim·k groups, model-sized.
        val rows = nv
          .select(pqEncodeCol(col("nv"), cents).as("codes"),
            posexplode(col("nv")).as(Seq("pos", "x")))
          .groupBy(col("pos"),
            element_at(col("codes"),
              (col("pos") / lit(dsub)).cast("int") + 1).as("cw"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
        val sums = Array.fill(m, k)(new Array[Double](dsub))
        val counts = Array.fill(m, k)(0L)
        rows.foreach { r =>
          val pos = r.getInt(0)
          val cw = r.getInt(1)
          val s = pos / dsub
          sums(s)(cw)(pos % dsub) = r.getDouble(2)
          counts(s)(cw) = r.getLong(3)
        }
        val next = Array.tabulate(m, k) { (s, j) =>
          val n = counts(s)(j)
          if (n == 0L) cents(s)(j) else sums(s)(j).map(_ / n)
        }
        moved = (0 until m).exists(s => (0 until k).exists(j =>
          (0 until dsub).exists(i =>
            math.abs(next(s)(j)(i) - cents(s)(j)(i)) > 1e-12)))
        cents = next
        it += 1
      }
      cents
    } finally nv.unpersist(blocking = false)
  }

  /** Encode a corpus against a trained product quantizer: (cid, codes) with
    * codes = m small ints per vector. One codegen'd map pass, zero shuffle —
    * this DataFrame (m ints per row instead of dim floats) is the entire
    * search-time corpus state; persist it (or sink it) to amortize over many
    * query batches. `normalize` must match how the codebooks were trained
    * (true for [[pqTrain]]; false for externally fixed raw codebooks, e.g.
    * the SQL-expressible oracle model). */
  def pqEncode(emb: DataFrame, id: Column, vec: Column,
               codebooks: Array[Array[Array[Double]]],
               normalize: Boolean = true): DataFrame = {
    val v = asDouble(vec)
    val nv = if (normalize) normalized(v) else v
    emb.select(id.as("cid"), pqEncodeCol(nv, codebooks).as("codes"))
  }

  /** The composed IVF-PQ index — (cid, cl, codes), ONE codegen'd map pass,
    * zero shuffle, and the original vectors are gone: per row an int list id
    * plus m small ints. This is the FAISS-style layout for corpus-scale ANN
    * (coarse quantizer prunes which rows are touched; PQ compresses what a
    * touched row costs). Sink it `partitionBy("cl")` and probe pruning
    * becomes partition pruning ([[annTopKPartitioned]]). */
  def ivfPqIndex(emb: DataFrame, id: Column, vec: Column,
                 cents: Array[Array[Double]],
                 codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val v = asDouble(vec)
    emb.select(id.as("cid"),
      element_at(nearestCentroids(v, cents, 1), 1).as("cl"),
      pqEncodeCol(normalized(v), codebooks).as("codes"))
  }
}
