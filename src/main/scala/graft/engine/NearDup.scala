package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, on the `documents`
  * table: exact (hash group-by), exact n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the whole point of these):
  *  - exact dedup: one shuffle on the content hash, never on the text.
  *  - n-gram Jaccard is EXACT and quadratic in docs sharing a shingle — it is
  *    the verifier / small-scale oracle, not the scale path.
  *  - MinHash+LSH is the scale path: cost is (docs × k hashes) + a shuffle on
  *    (band, bandHash) buckets; only bucket-colliding pairs are verified.
  *    No pairwise cross-join ever materializes.
  *  - SimHash: one 64-bit signature per doc (single agg over exploded tokens),
  *    candidate pairs via banded signature chunks, verified by Hamming
  *    distance (`bit_count(xor)`).
  */
object NearDup {

  /** Exact dedup: group by content hash; keeper = min doc id (deterministic),
    * n = group size. The canonical keep-first (U3) at corpus scale. */
  def exactDuplicates(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(md5(text).as("content_hash"))
      .agg(min(id).as("keeper"), count(lit(1)).as("n_copies"))

  /** Corpus-level exact LINE dedup (the RefinedWeb / C4 boilerplate pass):
    * drop every line whose exact text occurs in >= `minDf` DISTINCT
    * documents (headers, footers, nav chrome, license banners), then
    * reassemble each document from its surviving lines in original order.
    *
    * Scale shape: the frequency count shuffles the 16-byte line hash, never
    * the line text; the drop is an anti-join of lines against the frequent
    * set — which is df-filtered and therefore FAR smaller than the corpus
    * (AQE broadcasts it when it fits; a shuffle join on the hash otherwise).
    * Reassembly is one groupBy(doc_id) with an in-group array_sort — no
    * window, no per-line shuffle of reassembled text. Docs whose every line
    * was boilerplate survive with `n_kept = 0` and empty text, so the
    * caller decides the drop policy (the usual floor: `n_kept > 0`).
    *
    * md5 (not xxhash64) so the same frequency decision is reproducible in
    * any engine — the keep decision is part of the data contract, like
    * [[exactDuplicates]] and the split/sampling hashes.
    * Output: (doc_id, n_lines, n_kept, text_clean). */
  def dedupLines(docs: DataFrame, id: Column, text: Column, minDf: Int = 2,
                 sep: String = "\n"): DataFrame = {
    // per-row split/hash work is CPU-bound — spread a small scan across
    // cores (no-op at real corpus scale; see TextOps.spreadForCpu)
    val d = TextOps.spreadForCpu(docs).select(id.as("doc_id"), text.as("_t"))
    // The document-frequency decision is a WINDOWED count-distinct, not a
    // groupBy + anti-join: ONE split+md5 pass behind one hash(h) exchange
    // (before, r13 measured: the pass planned TWICE at ~13 s task time
    // each — the two consumers prune different columns, so no shared
    // exchange ever forms). Distinct-doc counting without a distinct:
    // mark the first (h, doc_id) instance with a row_number window, sum
    // the markers over the h window — the second window chains on the
    // first's (h, doc_id, idx) sort with no extra exchange or sort.
    // filter(_df < minDf) IS the old anti-join (keep instances of
    // non-frequent lines). Trade, documented: line TEXT rides the hash(h)
    // exchange (the reassembly needs it downstream) where the old shape
    // shuffled text only at the reassembly — at sf0.1 the saved pass
    // dwarfs the extra text shuffle; for fat-text corpora on thin
    // networks the recompute shape can win it back.
    val lines = d.select(col("doc_id"),
        posexplode(split(col("_t"), java.util.regex.Pattern.quote(sep)))
          .as(Seq("idx", "line")))
      .withColumn("h", md5(col("line")))
    val wHD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h"), col("doc_id")).orderBy(col("idx"))
    val wH = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val kept = lines
      .withColumn("_first",
        when(row_number().over(wHD) === 1, 1L).otherwise(0L))
      .withColumn("_df", sum(col("_first")).over(wH))
      .filter(col("_df") < minDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line"))).as("text_clean"))
    d.select(col("doc_id"),
        size(split(col("_t"), java.util.regex.Pattern.quote(sep)))
          .cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Exact repeated-SPAN removal at token granularity — the span-level
    * twin of [[dedupLines]] (C4's duplicated-span drop; the corpus-wide
    * repeated-substring semantic of Lee et al. 2022, suffix-array-free):
    * every occurrence of any `n`-token window whose corpus-wide occurrence
    * count is >= `minCount` is cut out (within-doc repeats count toward
    * the threshold and are removed too); surviving tokens reassemble in
    * order.
    *
    * Scale shape: windows shuffle as (position, 8-byte xxhash64) pairs —
    * never window text; the frequency cut keeps only hot hashes (corpus
    * boilerplate — small), so the occurrence join is broadcast-sized under
    * AQE. Covered positions are integers bounded by hot-occurrences × n,
    * and the final reassembly is the same single groupBy(doc) as
    * [[dedupLines]]. Like [[jaccardPairs]], results are exact up to
    * 64-bit hash collisions.
    * Output: (doc_id, n_tokens, n_kept, text_clean). */
  def removeRepeatedSpans(docs: DataFrame, id: Column, text: Column,
                          n: Int = 5, minCount: Int = 2): DataFrame = {
    require(n >= 1, s"span length must be >= 1: $n")
    val d = TextOps.spreadForCpu(docs).select(id.as("doc_id"), text.as("_t"))
      .withColumn("_toks", split(col("_t"), " "))
    // one row per window start; short docs have no windows (the sequence
    // guard matters: sequence(0, negative) DESCENDS in Spark)
    val starts = when(size(col("_toks")) >= n,
      sequence(lit(0), size(col("_toks")) - n))
      .otherwise(array().cast("array<int>"))
    // The hot-window decision is a WINDOWED count, not a groupBy + join:
    // ONE pass over the (doc_id, p, h) rows — 24 bytes/row, the
    // lightweight proxy, never window text — behind one hash(h) exchange
    // and a local 8-byte-key sort. Before (r13 measured, StageProfile at
    // sf0.1): the groupBy/join shape planned the slice+concat+xxhash64
    // window pass TWICE (~12 s task time per pass — the two consumers
    // prune different columns below any shared repartition, so
    // ReuseExchange never fires on it); the windowed count keeps the one
    // expensive pass and pays a cheap sort of hashed keys instead.
    // Same count semantics (count over partition h == the old hot-join).
    val grams = d.select(col("doc_id"),
      posexplode(transform(starts,
        i => xxhash64(concat_ws(" ", slice(col("_toks"), i + 1, lit(n))))))
        .as(Seq("p", "h")))
    val wH = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val covered = grams.withColumn("_c", count(lit(1)).over(wH))
      .filter(col("_c") >= minCount)
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (n - 1))).as("p"))
      .distinct()
    val toks = d.select(col("doc_id"),
      posexplode(col("_toks")).as(Seq("p", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok"))).as("text_clean"))
    d.select(col("doc_id"), size(col("_toks")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Hashed shingle postings + per-doc set sizes (shared by the exact and
    * LSH paths — one definition so collision/rounding policy can't drift). */
  private def hashedShinglesAndSizes(docs: DataFrame, id: Column, text: Column,
                                     n: Int): (DataFrame, DataFrame) = {
    // both branches re-shingle the corpus (sizes needs the DISTINCT shingle
    // count, so it can't avoid building the set) — spread the shared input
    // once; the two subtrees reuse the same exchange
    val d = TextOps.spreadForCpu(docs)
    val sh = TextOps.shingles(d, id, text, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    val sizes = d.select(id.as("doc_id"),
      size(TextOps.shingleArray(text, n)).as("n_sh"))
    (sh, sizes)
  }

  /** [[hashedShinglesAndSizes]] for the verify paths, whose EVERY consumer
    * wants hash(doc_id): the postings ride ONE doc-keyed exchange shared
    * by both id-joins (identical subtrees — ReuseExchange, so the shingle
    * pass runs once, r13: it used to run three times — twice for the two
    * id-joins plus once for sizes), and sizes FOLD from that same exchange
    * (per-doc shingles are pre-distinct, so the row count IS the distinct
    * count). Docs with zero shingles get no sizes row — they cannot share
    * a shingle, so they never appear in a candidate pair and the
    * difference is join-invisible (every consumer is a pair-side join).
    * Not used by [[jaccardPairs]]: its posting aggregate needs
    * hash(shingle), a doc-keyed exchange would just add a full re-shuffle. */
  private def hashedShinglesByDoc(docs: DataFrame, id: Column, text: Column,
                                  n: Int): (DataFrame, DataFrame) = {
    val sh = TextOps.shingles(TextOps.spreadForCpu(docs), id, text, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .repartition(col("doc_id"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    (sh, sizes)
  }

  /** (id1, id2, n_inter) -> verified jaccard pairs >= tau. */
  private def jaccardFromInter(inter: DataFrame, sizes: DataFrame,
                               tau: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("n_sh", "n1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("n_sh", "n2"), "id2")
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("n1") + col("n2") - col("n_inter")), 6))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** Observation names must be unique per query plan — two jaccardPairs
    * results combined into ONE plan (e.g. a union over two corpora) would
    * fail analysis with duplicated observed metrics under a fixed name. */
  private val observeCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Exact n-gram (shingle) Jaccard pairs with similarity >= tau.
    * Pairs only form between docs sharing >= 1 shingle (the shingle join is
    * the blocker). `maxDf` caps the document frequency of a shingle: a
    * shingle shared by m docs emits m(m-1)/2 pairs, so ONE stop-shingle in a
    * real corpus makes this quadratic. Posting lists longer than maxDf are
    * dropped (hot shingles carry no near-dup signal — they're corpus
    * boilerplate); the drop count is published as the observable metric
    * `jaccard_df_cap_<n>.n_dropped_shingles` (suffix unique per call; read it
    * via a QueryExecutionListener or `Observation`). With the cap this is
    * corpus-safe; results stay EXACT whenever maxDf exceeds the corpus's
    * true max shingle df (the testdata oracle case). */
  def jaccardPairs(docs: DataFrame, id: Column, text: Column, tau: Double,
                   n: Int = 3, maxDf: Int = 100000): DataFrame = {
    // join/shuffle on the 8-byte shingle hash, not the shingle string — the
    // intersection count is unchanged (per-doc shingles are pre-distinct;
    // cross-shingle 64-bit collisions are ~1e-7 at corpus scale) and the
    // self-join shuffle moves ~3× fewer bytes.
    val (sh, sizes) = hashedShinglesAndSizes(docs, id, text, n)
    // ONE shuffle on the shingle hash, then emit ordered doc pairs per
    // posting list (lists are short — a shingle shared by m docs emits
    // m(m-1)/2 pairs) — cheaper than the equivalent two-sided self-join
    val inter = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe(s"jaccard_df_cap_${observeCounter.incrementAndGet()}",
        sum(when(size(col("ids")) > maxDf, 1L).otherwise(0L))
          .as("n_dropped_shingles"))
      .filter(size(col("ids")) <= maxDf)
      // native pair emission (r14; parity with the HOF transform/slice
      // formulation pinned in NearDupSpec — HOFs evaluate interpreted and
      // this reduce stage was the query's hottest at 22.6 s task time);
      // the empty same-typed second arg keeps the kernel id-type-generic
      .select(explode(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        expressions.PairEmit(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("ids")),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            slice(col("ids"), lit(1), lit(0)))))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_inter"))
    jaccardFromInter(inter, sizes, tau)
  }

  /** INCREMENTAL near-dup detection — the production daily-increment shape:
    * a batch of `incoming` docs is deduplicated against the `existing`
    * corpus AND itself, without ever re-forming existing↔existing pairs
    * (which a naive full re-run recomputes every day; at corpus scale that
    * re-pairing dominates the whole job while producing nothing new).
    *
    * Blocking discipline follows [[contaminationPairs]]: ONE shuffle builds
    * df-capped posting lists of the UNION's hashed shingles, tagged with an
    * is-new flag; only the (small) incoming side's shingles probe them, so
    * a shared shingle with e existing and i incoming occurrences emits
    * i·e + i·(i−1)/2 candidate rows — never e². Survivors are exact-verified
    * (same [[jaccardFromInter]] as the batch paths). Id spaces must be
    * disjoint. Output: (id1 < id2, jaccard ≥ tau), exactly the full-corpus
    * [[jaccardPairs]] result RESTRICTED to pairs touching an incoming doc
    * (spec'd equal). */
  def jaccardPairsIncremental(existing: DataFrame, incoming: DataFrame,
                              id: Column, text: Column, tau: Double,
                              n: Int = 3, maxDf: Int = 100000): DataFrame = {
    val union = existing.select(id.as("doc_id"), text.as("_t"),
        lit(false).as("_new"))
      .unionByName(incoming.select(id.as("doc_id"), text.as("_t"),
        lit(true).as("_new")))
    // the is-new flag rides the explode (a join back onto the shingle stream
    // would shuffle every shingle row a second time for one boolean); each
    // posting row splits into new/existing id lists, lists with NO incoming
    // doc are dropped before any pair work (the common case — increments are
    // small), and pairs are emitted per grouped row exactly like
    // [[jaccardPairs]]: new×existing plus new-choose-2, i·e + i(i−1)/2 rows,
    // never e². (A join-then-explode first cut replicated each posting array
    // per matching incoming shingle row — 4.4 s vs 1.5 s at sf0.1.)
    // ONE spread source shared by the posting and sizes subtrees (same
    // exchange → ReuseExchange computes it once, as in hashedShinglesAndSizes)
    val u = TextOps.spreadForCpu(union)
    val post = u
      .select(col("doc_id"), col("_new"),
        explode(TextOps.shingleArray(col("_t"), n)).as("shingle"))
      .select(xxhash64(col("shingle")).as("sh"), col("doc_id"), col("_new"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(when(col("_new"), col("doc_id"))))
          .as("nids"),
        sort_array(collect_list(when(!col("_new"), col("doc_id"))))
          .as("oids"))
      .filter(size(col("nids")) > 0)
      .observe(s"incdedup_df_cap_${observeCounter.incrementAndGet()}",
        sum(when(size(col("nids")) + size(col("oids")) > maxDf, 1L)
          .otherwise(0L)).as("n_dropped_shingles"))
      .filter(size(col("nids")) + size(col("oids")) <= maxDf)
    // native pair emission (r14): new-choose-2 then new×existing in one
    // kernel call — same values and order as the HOF concat-of-transforms
    // it replaces (parity pinned in NearDupSpec)
    val inter = post.select(explode(
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          expressions.PairEmit(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              col("nids")),
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              col("oids"))))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = u.select(col("doc_id"),
      size(TextOps.shingleArray(col("_t"), n)).as("n_sh"))
    jaccardFromInter(inter, sizes, tau)
  }

  /** [[contaminationPairs]] behind a Bloom-filter prefilter — the 100 TB
    * decontamination shape. The bench side's hashed shingles condense into
    * a few-MB Bloom filter (one distributed aggregate; the driver holds
    * only the bits, never the shingles), which rides the serialized
    * [[graft.engine.expressions.BloomMightContain]] expression into every
    * task. The corpus then drops — in a MAP-ONLY pass, before any shingle
    * explode or shuffle — every document none of whose shingles might be in
    * the bench. On a typical corpus (contamination is rare) that is almost
    * every document: the expensive posting-list shuffle runs over the
    * contaminated sliver plus a fpp-rate of false positives, instead of the
    * whole corpus.
    *
    * EXACT, not approximate: Bloom filters have no false negatives, so
    * every true pair's corpus doc survives the prefilter, and false
    * positives die in the exact containment join downstream —
    * bit-identical output to [[contaminationPairs]] at the same `n` (same
    * oracle), the prefilter is pure plan surgery. (Sole caveat: `maxDf` is
    * measured on the surviving sub-corpus, so an over-`maxDf` shingle could
    * in principle re-enter; the cap exists to bound boilerplate blowup and
    * boilerplate is exactly what the prefilter removes — at the default
    * cap nothing binds on any testdata SF, asserted bit-equal in
    * NearDupSpec.)
    *
    * The prefilter's selectivity is governed by `n`, and it only pays when
    * incidental shingle sharing is rare: at n=3 ANY two documents over a
    * shared vocabulary collide ("in the of") and the prefilter keeps
    * 99.96% of the testdata corpus — pure overhead (measured 6.0 s vs
    * 1.1 s unfiltered at sf0.1); at n=13 it keeps 0.5% and the posting
    * stage all but vanishes. That is WHY published decontamination recipes
    * (GPT-3 appendix C, Llama) use 10-13-gram overlap — the default here. */
  def bloomContaminationPairs(corpus: DataFrame, corpusId: Column,
                              corpusText: Column, bench: DataFrame,
                              benchId: Column, benchText: Column, tau: Double,
                              n: Int = 13, maxDf: Int = 100000,
                              fpp: Double = 0.01): DataFrame =
    bloomContaminationPairsWith(corpus, corpusId, corpusText, bench, benchId,
      benchText, tau,
      benchShingleBloom(bench, benchId, benchText, n, fpp), n, maxDf)

  /** The bench-side Bloom build for [[bloomContaminationPairsWith]] — one
    * distributed aggregate over the hashed bench shingles; the returned
    * bytes (Spark sketch format) are the ONLY state, ~1.2 bytes per
    * distinct shingle at fpp=1%. Build once per bench suite and reuse
    * across corpus snapshots/batches — the filter is a pure function of
    * the bench side. */
  def benchShingleBloom(bench: DataFrame, benchId: Column, benchText: Column,
                        n: Int = 13, fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // window hashes, not n-gram strings: the corpus-side probe
    // (BloomAnyWindow) folds per-token hashes — the build side must use the
    // IDENTICAL fold (WindowHashes) or false negatives appear
    val wh = ColumnBridge.column(graft.engine.expressions.WindowHashes(
      ColumnBridge.expression(
        transform(TextOps.tokens(benchText), t => xxhash64(t))), n))
    val bSh = bench.select(explode(wh).as("sh"))
    // distinct count calibrates the filter's bit budget; duplicates only
    // lower the realized fpp (idempotent bit sets), never raise it
    val expected = math.max(bSh.distinct().count(), 1L)
    val bloom = bSh.stat.bloomFilter("sh", expected, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** [[bloomContaminationPairs]] against a PRE-BUILT bench filter
    * ([[benchShingleBloom]]) — the steady-state shape: the bench suite
    * changes rarely, corpus snapshots arrive daily; only this pass runs
    * per snapshot. */
  def bloomContaminationPairsWith(corpus: DataFrame, corpusId: Column,
                                  corpusText: Column, bench: DataFrame,
                                  benchId: Column, benchText: Column,
                                  tau: Double, filterBytes: Array[Byte],
                                  n: Int = 13,
                                  maxDf: Int = 100000): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // fused codegen'd probe: fold-and-test each n-token window with early
    // exit — never builds an n-gram string on the corpus side (the string
    // form via exists(shingleArray(...)) measured 9× slower at sf0.1)
    val anyHit = ColumnBridge.column(graft.engine.expressions.BloomAnyWindow(
      ColumnBridge.expression(
        transform(TextOps.tokens(corpusText), t => xxhash64(t))),
      n, filterBytes))
    contaminationPairs(corpus.filter(anyHit), corpusId, corpusText, bench,
      benchId, benchText, tau, n, maxDf)
  }

  /** Cross-corpus contamination scan (benchmark decontamination): for each
    * benchmark/eval item, the corpus docs whose shingle CONTAINMENT
    * `|corpus ∩ bench| / |bench shingles|` is >= tau. Containment, not
    * symmetric Jaccard: an eval item quoted verbatim inside a long training
    * document dilutes the Jaccard ratio (union grows with the doc) but not
    * the benchmark-side containment — the metric decontamination needs.
    *
    * Same blocking discipline as [[jaccardPairs]]: ONE shuffle of the corpus
    * shingles (8-byte hashes) into posting lists, df-capped (a boilerplate
    * shingle shared by m corpus docs × k bench items would emit m×k pairs;
    * lists longer than `maxDf` are dropped and counted in the observable
    * metric). The bench side is typically orders of magnitude smaller than
    * the corpus and rides the join broadcast-style under AQE. Pairs form
    * only where a shingle is actually shared — no cross product.
    * Output: (corpus_id, bench_id, containment >= tau). */
  def contaminationPairs(corpus: DataFrame, corpusId: Column,
                         corpusText: Column, bench: DataFrame, benchId: Column,
                         benchText: Column, tau: Double, n: Int = 3,
                         maxDf: Int = 100000): DataFrame = {
    val cPost = TextOps.shingles(TextOps.spreadForCpu(corpus), corpusId,
        corpusText, n)
      .select(col("doc_id").as("corpus_id"), xxhash64(col("shingle")).as("sh"))
      .groupBy(col("sh"))
      .agg(collect_list(col("corpus_id")).as("cids"))
      .observe(s"contamination_df_cap_${observeCounter.incrementAndGet()}",
        sum(when(size(col("cids")) > maxDf, 1L).otherwise(0L))
          .as("n_dropped_shingles"))
      .filter(size(col("cids")) <= maxDf)
    val bSh = TextOps.shingles(bench, benchId, benchText, n)
      .select(col("doc_id").as("bench_id"), xxhash64(col("shingle")).as("sh"))
    val bSizes = bench.select(benchId.as("bench_id"),
      size(TextOps.shingleArray(benchText, n)).as("n_b"))
    bSh.join(cPost, "sh")
      .select(col("bench_id"), explode(col("cids")).as("corpus_id"))
      .groupBy(col("corpus_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_inter"))
      .join(bSizes, "bench_id")
      .withColumn("containment",
        round(col("n_inter").cast("double") / col("n_b"), 6))
      .filter(col("containment") >= tau)
      .select(col("corpus_id"), col("bench_id"), col("containment"))
  }

  /** MinHash signatures: k independent min-hashes per doc over its shingle
    * set, computed row-at-a-time by the native codegen'd
    * [[graft.engine.expressions.MinHashSignature]] expression over the
    * per-doc shingle-hash array — ZERO shuffles (the signature is a pure
    * function of the document row). Replaces the round-1 long-format
    * posexplode + double-groupBy shape, which shuffled |shingles|×k rows
    * (32M at sf0.1) and dominated every minhash-based query's runtime. */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column,
                        k: Int = 32, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val shingleHashes = transform(TextOps.shingleArray(text, n),
      s => xxhash64(s))
    // docs too short to shingle are dropped by the CHEAP token-count
    // predicate BEFORE the spread, never by `sig IS NOT NULL` after it:
    // Catalyst pushes a post-repartition filter down through the exchange,
    // and a pushed-down null-check on the computed signature would evaluate
    // the full MinHash per row on the (possibly single-partition) scan side —
    // exactly the serialization the spread exists to avoid. With the
    // token-count guard the signature expression can't return null.
    TextOps.spreadForCpu(docs.filter(size(TextOps.tokens(text)) >= n))
      .select(id.as("doc_id"),
        ColumnBridge.column(expressions.MinHashSignature(
          ColumnBridge.expression(shingleHashes), k)).as("sig"))
  }

  /** MinHash+LSH candidate pairs, verified by exact shingle Jaccard.
    * bands × rowsPerBand must equal the signature length. Docs landing in the
    * same (band, hash-of-band-slice) bucket become candidates; candidates are
    * then verified exactly, so the output has no false positives — only
    * (tunable) false negatives, the standard LSH trade.
    * Output: (id1, id2, jaccard) with jaccard >= tau. */
  def minhashLshPairs(docs: DataFrame, id: Column, text: Column, tau: Double,
                      bands: Int = 8, rowsPerBand: Int = 4,
                      n: Int = 3): DataFrame =
    lshVerifiedPairs(bandedMinhash(docs, id, text, bands, rowsPerBand, n),
      docs, id, text, tau, n)

  /** MinHash+LSH over a FIXED md5 hash family — the cross-engine-provable
    * twin of [[minhashLshPairs]]: signature entry i is
    * `min over shingles of md5(shingle || ":" || i)` (lexicographic min of
    * the hex digest — identical in any engine with md5), bands hash as
    * `md5(minhash_i || "|" || ... )` over the band's entries. Candidates
    * are exact-verified exactly like the production path, so output is a
    * subset of [[jaccardPairs]] by construction.
    *
    * This is the ORACLE twin, not the scale path: md5 is ~4× the per-
    * shingle hash cost of xxhash64 and its 32-char hex signatures shuffle
    * 4× the bytes of a long — the production kernel stays
    * [[minhashSignatures]]'s codegen'd xxhash64. What this buys is a
    * DuckDB-replayable proof of the MECHANISM (banding, candidate
    * formation, exact verify) with a SQL-expressible hash family — the
    * `q_semdedup_fixed` pattern applied to the flagship near-dup tier. */
  def minhashLshPairsMd5(docs: DataFrame, id: Column, text: Column,
                         tau: Double, bands: Int = 8, rowsPerBand: Int = 4,
                         n: Int = 3): DataFrame =
    lshVerifiedPairs(bandedMinhashMd5(docs, id, text, bands, rowsPerBand, n),
      docs, id, text, tau, n)

  /** Shared LSH tail: bucket self-join on (band, band_hash) + exact shingle
    * verification. The explicit exchange on the join keys matters: the
    * signature pipeline has no shuffle of its own, so without it the
    * self-join would plan two exchanges whose map sides EACH recompute
    * every signature; pre-partitioning makes both sides the same exchange
    * (ReuseExchange) — signatures are computed once — and the join needs no
    * further shuffle. */
  private def lshVerifiedPairs(bandedRaw: DataFrame, docs: DataFrame,
                               id: Column, text: Column, tau: Double,
                               n: Int): DataFrame = {
    val banded = bandedRaw.repartition(col("band"), col("band_hash"))
    val l = banded.as("l")
    val r = banded.as("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"))
      .distinct()
    // exact verification of candidates only (hashed shingles, as above).
    // Deliberately NOT hashedShinglesByDoc (r13 measured): here the verify
    // set is the WHOLE corpus, and one doc-keyed exchange of every shingle
    // row costs more than recomputing the spread-out shingle pass per
    // consumer (q_minhash_pairs 1.10 -> 1.60 s isolated A/B); the ByDoc
    // shape pays only where the verify set is collision-sized (the
    // incremental path).
    val (sh, sizes) = hashedShinglesAndSizes(docs, id, text, n)
    val inter = candidates
      .join(sh.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("shingle", "s1"), "id1")
      .join(sh.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("shingle", "s2"), "id2")
      .filter(col("s1") === col("s2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_inter"))
    jaccardFromInter(inter, sizes, tau)
  }

  /** Banded minhash signatures: (doc_id, band, band_hash) — the LSH bucket
    * keys. Factored out so the incremental path can bucket a batch against
    * a (persisted, in production) existing-signature table. */
  private def bandedMinhash(docs: DataFrame, id: Column, text: Column,
                            bands: Int, rowsPerBand: Int, n: Int): DataFrame =
    minhashSignatures(docs, id, text, bands * rowsPerBand, n)
      .select(col("doc_id"), posexplode(array(
        (0 until bands).map { j =>
          xxhash64((j * rowsPerBand until (j + 1) * rowsPerBand)
            .map(i => element_at(col("sig"), i + 1)): _*)
        }: _*)).as(Seq("band", "band_hash")))

  /** Fixed-md5-family banded signatures for [[minhashLshPairsMd5]]:
    * (doc_id, band, band_hash: string). The signing pass is the native
    * [[expressions.Md5MinHashSignature]] kernel (r14; parity with the
    * per-seed `array_min(transform(...))` columns pinned in NearDupSpec):
    * the declarative form paid h=32 INTERPRETED higher-order `transform`
    * passes per row (HOFs are CodegenFallback), each allocating a full
    * md5-hex array to take its min. The signature alias (`_sig`) is
    * multi-use (one element_at per band entry) so it stays bound — the
    * same shape as the production [[bandedMinhash]]. */
  private def bandedMinhashMd5(docs: DataFrame, id: Column, text: Column,
                               bands: Int, rowsPerBand: Int,
                               n: Int): DataFrame = {
    val h = bands * rowsPerBand
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // short docs drop on the cheap token-count predicate BEFORE the spread
    // (the minhashSignatures rule: a pushed-down null-check on the computed
    // signature would serialize the whole computation onto the scan side)
    val sigs = TextOps.spreadForCpu(docs.filter(size(TextOps.tokens(text)) >= n))
      .select(id.as("doc_id"),
        ColumnBridge.column(expressions.Md5MinHashSignature(
          ColumnBridge.expression(TextOps.shingleArray(text, n)), h))
          .as("_sig"))
    sigs.select(col("doc_id"), posexplode(array(
      (0 until bands).map { j =>
        md5(concat_ws("|", (j * rowsPerBand until (j + 1) * rowsPerBand)
          .map(i => element_at(col("_sig"), i + 1)): _*))
      }: _*)).as(Seq("band", "band_hash")))
  }

  /** Incremental MinHash+LSH pairs — the SCALE twin of
    * [[jaccardPairsIncremental]] (which is its exact verifier/oracle): the
    * incoming batch's banded signatures probe the union's buckets, so
    * candidates only form where a batch doc collides — existing↔existing
    * buckets are never expanded. In production the existing side is a
    * PERSISTED signature table (sink `minhashSignatures` banded, like the
    * IVF assignment; signatures are pure functions of the row, so the table
    * appends as the corpus grows). Exact shingle verification runs over the
    * candidate ids only (semi-joined before any shingling — the verify cost
    * scales with collisions, not the corpus). Identical output to the full
    * [[minhashLshPairs]] run restricted to pairs touching the batch
    * (signatures don't depend on the split; spec'd). Id spaces must be
    * disjoint. */
  def minhashLshPairsIncremental(existing: DataFrame, incoming: DataFrame,
                                 id: Column, text: Column, tau: Double,
                                 bands: Int = 8, rowsPerBand: Int = 4,
                                 n: Int = 3): DataFrame =
    lshPairsIncrementalWith(d => bandedMinhash(d, id, text, bands,
      rowsPerBand, n), existing, incoming, id, text, tau, n)

  /** Incremental twin of [[minhashLshPairsMd5]] — the fixed md5 family
    * through the same batch-probes-union bucketing as
    * [[minhashLshPairsIncremental]]. Because signatures are a pure function
    * of the row and verification is exact, the result equals the full
    * [[minhashLshPairsMd5]] run restricted to pairs touching the batch —
    * which is what lets the DuckDB oracle replay it as the full-twin SQL
    * plus a batch-membership predicate. */
  def minhashLshPairsMd5Incremental(existing: DataFrame, incoming: DataFrame,
                                    id: Column, text: Column, tau: Double,
                                    bands: Int = 8, rowsPerBand: Int = 4,
                                    n: Int = 3): DataFrame =
    lshPairsIncrementalWith(d => bandedMinhashMd5(d, id, text, bands,
      rowsPerBand, n), existing, incoming, id, text, tau, n)

  /** Shared incremental-LSH body, parameterized by the banding family. */
  private def lshPairsIncrementalWith(bander: DataFrame => DataFrame,
                                      existing: DataFrame, incoming: DataFrame,
                                      id: Column, text: Column, tau: Double,
                                      n: Int): DataFrame = {
    val exB = bander(existing).withColumn("_new", lit(false))
    val inB = bander(incoming).withColumn("_new", lit(true))
    val all = exB.unionByName(inB)
      .repartition(col("band"), col("band_hash"))
    // the probe is the batch's slice OF THE SAME EXCHANGE (filter on the
    // rider flag) — before (r13), probe derived from inB directly, so the
    // batch's whole banding pass (md5 on the fixed-family twin) planned
    // and ran a second time; now ReuseExchange computes the union banding
    // once and both join sides arrive co-partitioned. Build side = the
    // batch-sized probe (shuffle_hash — the asymmetric-join rule: never
    // build the corpus side), which also keeps the few-key duplicate-heavy
    // bucket join out of SMJ's many-to-many buffering.
    val probe = all.filter(col("_new")).select(col("band"), col("band_hash"),
      col("doc_id").as("in_id"))
    // MATERIALIZED (eager localCheckpoint): candidates are collision-sized
    // (pairs of ids), and the verify tail references this subtree from four
    // branches — un-materialized, the analyzer/optimizer/Janino re-process
    // the whole LSH probe-join subtree per branch (409 static ops; measured
    // r13: a 15.7 s cold rep and ~7.4 s in-suite vs 3.3 s steady — the
    // suite evicts the generated classes between warm-up and measured pass,
    // so the giant plan pays re-compilation every time). Checkpointing cuts
    // the static plan roughly in half and the runtime graph reads the tiny
    // block set. Release in long-lived sessions via [[releaseCheckpoint]]
    // on the returned frame (the LogicalRDD is a leaf of it).
    val candidates = probe.hint("shuffle_hash").join(all,
        Seq("band", "band_hash"))
      .filter(col("doc_id") =!= col("in_id") &&
        (!col("_new") || col("in_id") < col("doc_id")))
      .select(least(col("in_id"), col("doc_id")).as("id1"),
        greatest(col("in_id"), col("doc_id")).as("id2"))
      .distinct()
      .localCheckpoint(true)
    // exact verification over the candidate ids ONLY: shingle just those
    // docs (at corpus scale this is collision-sized, not corpus-sized)
    val union = existing.select(id.as("_vid"), text.as("_vt"))
      .unionByName(incoming.select(id.as("_vid"), text.as("_vt")))
    // one explode, ONE reference to the candidate subtree (a union of two
    // selects planned the whole LSH probe join twice; with the semi-join
    // and the two sh joins downstream the replication compounded — r13
    // counted the candidate subtree 7x in the static plan, 4x after)
    val cids = candidates
      .select(explode(array(col("id1"), col("id2"))).as("_cid")).distinct()
    // collision-sized build side (shuffle_hash): the static planner has no
    // stats for the LSH-join-derived cids and planned a sort-merge semi —
    // sorting the corpus-sized union to prune it by a small id set
    val docsToVerify = union.join(cids.hint("shuffle_hash"),
      col("_vid") === col("_cid"), "left_semi")
    val (sh, sizes) = hashedShinglesByDoc(docsToVerify, col("_vid"),
      col("_vt"), n)
    val inter = candidates
      .join(sh.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("shingle", "s1"), "id1")
      .join(sh.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("shingle", "s2"), "id2")
      .filter(col("s1") === col("s2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_inter"))
    jaccardFromInter(inter, sizes, tau)
  }

  /** Duplicate-cluster assignment: connected components over the near-dup
    * pair graph (any of jaccard/minhash/simhash/embedding pairs), by
    * iterative min-label propagation. Corpus dedup keeps ONE doc per
    * component, not per pair — pairs alone under-dedup transitive chains
    * (a~b, b~c ⇒ {a,b,c} is one cluster even if a≁c directly).
    *
    * Each iteration runs one propagation job plus one cheap convergence
    * count over the just-materialized checkpoint blocks: the propagation
    * plan carries a `_changed` flag and is eagerly checkpointed
    * partition-preservingly (r13 — the former lazy checkpoint saved one
    * job per round but recorded UnknownPartitioning, so the next round
    * re-shuffled the corpus-sized label table; at scale the label
    * exchange dwarfs a block-read count job). Lineage is truncated by
    * the checkpoint so the plan doesn't grow unboundedly.
    * Converges in O(component diameter) rounds — near-dup clusters are
    * shallow (dups of a common source), so maxIters=20 is generous. The
    * driver-side loop is a fixpoint controller, not a data path: per round it
    * moves one aggregate row to the driver.
    *
    * `reliableCheckpoint`: localCheckpoint stores blocks on executors — fine
    * on local[32]; on a 1000-executor cluster an executor loss would kill the
    * lineage-truncated RDD. Set true (after
    * `spark.sparkContext.setCheckpointDir(...)`) to checkpoint to the cluster
    * FS instead for fault tolerance.
    *
    * `strict` (default TRUE, the house loud-failure contract — the
    * maxKeys/maxDays/maxNodes pattern): non-convergence within `maxIters`
    * THROWS instead of returning split labels, because a silently-split
    * component corrupts everything downstream (keep-rules would keep
    * multiple "canonicals" per true cluster). Set false only for
    * exploratory runs that tolerate partial labels; the stderr warning
    * still fires. For adversarial chain-shaped components, prefer
    * [[dedupClustersStar]] — O(log n) rounds instead of O(diameter).
    * Output: (doc_id, cluster) where cluster = min doc_id of the component. */
  def dedupClusters(pairs: DataFrame, allDocs: DataFrame, id: Column,
                    maxIters: Int = 20,
                    reliableCheckpoint: Boolean = false,
                    strict: Boolean = true,
                    planOut: scala.collection.mutable.Buffer[(String, String)] = null)
      : DataFrame = {
    // debug-only plan capture; call AFTER the frame was materialized by
    // checkpointPartitioned (forcing queryExecution earlier would pin an
    // adaptive plan and defeat the partition-preserving checkpoint)
    def capture(tag: String, df: DataFrame): Unit =
      if (planOut != null) planOut += tag ->
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
    def ckptEager(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(true) else checkpointPartitioned(df)
    // materialize the edge list ONCE — its lineage is typically a whole
    // near-dup pipeline (minhash etc.) that would otherwise recompute on
    // every propagation round. Partitioned by the PROBE key (id2) and
    // checkpointed partition-preservingly (r13): every round's label join
    // then reuses it with no exchange and no sort — the former plain
    // checkpoint reported UnknownPartitioning, so each round re-shuffled
    // the full edge list.
    val edgesPre = pairs.select(col("id1"), col("id2"))
      .unionByName(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      .repartition(col("id2"))
    val edges = ckptEager(edgesPre)
    capture("edges_prep", edgesPre)
    // labels partitioned by doc_id: co-partitioned with each round's
    // neighbor-min aggregate, so the left join below never re-shuffles the
    // corpus-sized label table
    var labels = ckptEager(allDocs.select(id.as("doc_id"))
      .withColumn("label", col("doc_id")).repartition(col("doc_id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // labels side hinted shuffle_hash: builds the per-partition slice of
      // the label table (corpus/N rows — the state each partition already
      // holds; size N with the corpus, SCALE.md) instead of sort-merging,
      // which re-sorted the edge list every round
      val neighborMin = edges.join(labels.hint("shuffle_hash"),
          edges("id2") === labels("doc_id"))
        .groupBy(col("id1").as("doc_id"))
        .agg(min(col("label")).as("_nl"))
      val updatedPre =
        labels.join(neighborMin.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("_nl"), col("label"))).as("label"),
          coalesce(col("_nl") < col("label"), lit(false)).as("_changed"))
      val updated = ckptEager(updatedPre)
      if (iter == 0) capture("round1_propagation", updatedPre)
      // the count action reads the just-materialized checkpoint blocks
      val nChanged = updated
        .agg(coalesce(sum(when(col("_changed"), 1L).otherwise(0L)), lit(0L)))
        .first().getLong(0)
      converged = nChanged == 0L
      // the previous round's checkpoint blocks are dead the moment the new
      // one is materialized — release them, or every run permanently grows
      // executor storage by O(iters) RDDs for the session lifetime (lethal
      // in a long-lived cluster session; measured to tax every later query
      // in a 54-query bench JVM)
      releaseCheckpoint(labels)
      labels = updated.drop("_changed")
      iter += 1
    }
    if (!converged) {
      val msg = s"dedupClusters: NOT converged after $maxIters iterations " +
        s"— components with diameter > $maxIters carry split labels; " +
        "raise maxIters, or use dedupClustersStar (O(log n) rounds) for " +
        "chain-shaped components"
      if (strict) {
        releaseCheckpoint(labels); releaseCheckpoint(edges)
        throw new IllegalStateException(s"[graft] $msg")
      }
      System.err.println(s"[graft] $msg (strict=false: returning the " +
        "split labels)")
    }
    // edges are only referenced by the (already-materialized) label rounds
    releaseCheckpoint(edges)
    labels.withColumnRenamed("label", "cluster")
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR edge
    * rewriting — the O(log n)-round alternative to [[dedupClusters]]'s
    * O(component diameter) min-label propagation, for adversarial
    * chain-shaped components (a diameter-10⁴ path converges in ~30 rounds
    * here vs 10⁴ there). Same contract and output: (doc_id, cluster =
    * min doc_id of the component), strict-by-default loud non-convergence.
    *
    * The rewriting (after Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — public algorithm):
    *  - large-star(u): connect every STRICTLY LARGER neighbor of u to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star(u): over the (hi → lo) directed edge set, connect u
    *    and every smaller neighbor to that same minimum.
    * Both steps preserve connectivity and never increase the edge count
    * beyond the symmetric closure; the fixpoint is min-rooted stars. Each
    * step is one hash shuffle (groupBy-min joined back onto the adjacency
    * — no windows, no sorts); edges stay canonical (hi > lo, distinct).
    * Convergence = exact set equality with the previous round's edges
    * (count match + anti-join emptiness, both on checkpointed frames).
    * Docs with no pairs label themselves, as in [[dedupClusters]].
    *
    * Reference semantics anchor: same near-dup clustering contract as
    * dedup.py:31-58's pair-collapse (see [[dedupClusters]]); this variant
    * changes the round complexity, not the answer — NearDupSpec asserts
    * bit-parity on random graphs. */
  def dedupClustersStar(pairs: DataFrame, allDocs: DataFrame, id: Column,
                        maxIters: Int = 40,
                        reliableCheckpoint: Boolean = false,
                        strict: Boolean = true,
                        planOut: scala.collection.mutable.Buffer[(String, String)] = null)
      : DataFrame = {
    def capture(tag: String, df: DataFrame): Unit =
      if (planOut != null) planOut += tag ->
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
    // plain (AQE-on) eager checkpoints here, NOT checkpointPartitioned:
    // the star rounds re-key on a different column each step (sym by n,
    // then by hi), so a recorded partitioning never survives to the next
    // consumer — and losing AQE's partition coalescing made every tiny
    // round stage run at full partition width (measured r13: ~2× slower
    // at sf0.1). The label-propagation loop below is the opposite case:
    // its edge/label partitioning IS the loop invariant.
    def ckptEager(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(true) else df.localCheckpoint(true)
    // Round shape (r13): each star step shares ONE exchange between its
    // min-aggregate and its join (explicit repartition on the group key —
    // hash(key) satisfies both requirements; ReuseExchange computes it
    // once), and the join builds its hash map from the node-sized min side
    // (shuffle_hash — SMJ re-sorted the full adjacency per step). Each
    // step's output keeps the plain distinct(): its partial (map-side)
    // dedup matters exactly here, because the join output is
    // duplicate-heavy mid-convergence (one (nb,m) copy per shared hub) —
    // a repartition-then-distinct variant that skipped the partial agg
    // shipped every duplicate through the exchange and measured SLOWER.
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("hi").as("n"), col("lo").as("nb"))
        .unionByName(edges.select(col("lo").as("n"), col("hi").as("nb")))
        .repartition(col("n"))
      val mins = sym.groupBy(col("n"))
        .agg(least(min(col("nb")), col("n")).as("m"))
      sym.join(mins.hint("shuffle_hash"), "n").filter(col("nb") > col("n"))
        .select(col("nb").as("hi"), col("m").as("lo")).distinct()
    }
    def smallStar(edges: DataFrame): DataFrame = {
      val eP = edges.repartition(col("hi"))
      val mins = eP.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val withMin = eP.join(mins.hint("shuffle_hash"), "hi")
      withMin.select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(mins.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo")).distinct()
    }
    // canonical (hi > lo) undirected edge set, self-loops dropped;
    // eager-checkpointed so the upstream near-dup pipeline runs once
    var edges = ckptEager(pairs
      .select(greatest(col("id1"), col("id2")).as("hi"),
        least(col("id1"), col("id2")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct())
    var converged = edges.isEmpty // an edgeless corpus is all singletons
    var iter = 0
    while (!converged && iter < maxIters) {
      val nextPre = smallStar(largeStar(edges))
      val next = ckptEager(nextPre)
      if (iter == 0) capture("round1_star", nextPre)
      // exact set-equality convergence: same cardinality and nothing new
      // (anti-join one way suffices given distinct edge sets + count match;
      // the tiny per-round frames coalesce under AQE — build-small hint)
      converged = next.count() == edges.count() &&
        next.join(edges.hint("shuffle_hash"), Seq("hi", "lo"), "left_anti")
          .isEmpty
      releaseCheckpoint(edges)
      edges = next
      iter += 1
    }
    if (!converged) {
      val msg = s"dedupClustersStar: NOT converged after $maxIters " +
        "alternation rounds (expected ~2·log₂(n) + 2) — raise maxIters"
      if (strict) {
        releaseCheckpoint(edges)
        throw new IllegalStateException(s"[graft] $msg")
      }
      System.err.println(s"[graft] $msg (strict=false: returning the " +
        "split labels)")
    }
    // fixpoint edges are min-rooted stars: hi → component minimum. A
    // NON-converged (strict=false) edge set can still hold several lo's
    // per hi (smallStar emits one per hub a node sits under) — collapse to
    // the min on that path so the contract holds everywhere: one row per
    // doc, split labels at worst, never duplicated docs that a downstream
    // keep-rule would double-count. The converged (common) path skips the
    // aggregate — a star set already has exactly one lo per hi.
    val roots =
      if (converged)
        edges.select(col("hi").as("doc_id"), col("lo").as("cluster"))
      else edges.groupBy(col("hi")).agg(min(col("lo")).as("cluster"))
        .withColumnRenamed("hi", "doc_id")
    val labels = allDocs.select(id.as("doc_id"))
      .join(roots.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val out = ckptEager(labels)
    releaseCheckpoint(edges)
    out
  }

  /** Unpersist the checkpoint blocks backing a checkpointed DataFrame (the
    * result of `localCheckpoint`/`checkpoint`, whose plan is a single
    * `LogicalRDD` leaf). No-op for non-checkpointed frames and for reliable
    * checkpoints (files, not blocks; reclaim those via
    * `spark.cleaner.referenceTracking.cleanCheckpoints` or by deleting the
    * checkpoint dir). The RETURNED frame of [[dedupClusters]] stays backed by
    * its final checkpoint — call this on it once consumed to free the blocks
    * in a long-lived session. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Eager localCheckpoint that PRESERVES the frame's output partitioning.
    *
    * Under AQE (default on) `Dataset.localCheckpoint` records
    * `UnknownPartitioning` in the resulting LogicalRDD — the adaptive plan
    * wrapper hides the final partitioning — so every downstream consumer
    * re-adds an Exchange over the checkpointed blocks (measured r13: each
    * PageRank round re-shuffled the supposedly src-partitioned edge table,
    * and each label-propagation round re-shuffled the checkpointed edge
    * list). Materializing the checkpoint with AQE off for just this one
    * execution makes the LogicalRDD report its real hash partitioning,
    * which iterative loops then reuse with no exchange. The conf flip
    * scopes to THIS materialization; plans built after it is restored
    * still get AQE. Callers must not have forced `df.queryExecution`
    * earlier (a forced adaptive plan is immutable — capture/explain on the
    * SAME Dataset instance before this call would defeat it). */
  private[engine] def checkpointPartitioned(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val key = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(key)
    s.conf.set(key, "false")
    try df.localCheckpoint(true) finally s.conf.set(key, prev)
  }

  /** Keep the canonical member (min id) of every duplicate cluster. */
  def canonicalByCluster(clusters: DataFrame): DataFrame =
    clusters.filter(col("doc_id") === col("cluster")).select(col("doc_id"))

  /** Winnowing-fingerprint near-dup pairs: docs sharing >= minShared
    * fingerprints (see [[TextOps.winnowFingerprints]]). Substring-overlap
    * detection — complementary to set-based Jaccard: it fires on long shared
    * passages even when overall token sets differ. One shuffle on fp. */
  def winnowPairs(docs: DataFrame, id: Column, text: Column,
                  minShared: Int = 3, k: Int = 8, w: Int = 4): DataFrame = {
    val fps = TextOps.winnowFingerprints(docs, id, text, k, w)
    val a = fps.as("a")
    val b = fps.as("b")
    a.join(b, col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash 64-bit signature per doc: for each bit, sum +1/-1 over token
    * hashes (weighted by occurrence) and take the sign, in one native
    * per-row kernel — no UDF, no driver loop. A doc with NULL text gets no
    * row, as under the explode + aggregate form the kernel replaced (which
    * had no tokens to group); every other doc gets exactly one.
    * Output: (doc_id, simhash: long). */
  def simhashSignatures(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // Native per-row kernel (r14; bit-parity with the previous explode +
    // 64-column aggregate pinned in NearDupSpec): the signature is a pure
    // function of the token array, so signing needs no explode and no
    // aggregate at all — and the banded self-join downstream no longer
    // re-optimizes two copies of a 64-aggregate plan (r14 StageProfile:
    // q_simhash_pairs spent 0.76 s of 1.31 s wall in driver planning).
    // Still deliberately NO spreadForCpu (the r13 measured non-change):
    // the text shuffle costs more than the lost width at this
    // work-per-byte ratio.
    docs.filter(text.isNotNull).select(id.as("doc_id"),
      ColumnBridge.column(expressions.SimhashSignature(
        ColumnBridge.expression(TextOps.tokens(text)), md5Family = false))
        .as("simhash"))
  }

  /** SimHash over a FIXED md5 bit family — the cross-engine ORACLE twin of
    * [[simhashPairs]] (the `q_minhash_fixed` pattern): the per-token hash is
    * the first 32 bits of md5 (`conv(substring(md5(tok),1,8),16,10)` ==
    * DuckDB `('0x'||substr(md5(tok),1,8))::UBIGINT`), bit sums / sign /
    * packing / banding / Hamming verify are the identical integer pipeline
    * as production, shrunk to 32 bits so the whole signature replays in
    * SQL. xxhash64's 64-bit signature stays the scale path. NULL text:
    * no row, as in [[simhashSignatures]]. */
  def simhashSignaturesMd5(docs: DataFrame, id: Column,
                           text: Column): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // same native kernel as [[simhashSignatures]], md5-32 family (the
    // first 4 digest bytes == conv(substring(md5(tok),1,8),16,10));
    // parity with the aggregate formulation pinned in NearDupSpec
    docs.filter(text.isNotNull).select(id.as("doc_id"),
      ColumnBridge.column(expressions.SimhashSignature(
        ColumnBridge.expression(TextOps.tokens(text)), md5Family = true))
        .as("simhash"))
  }

  /** Banded-candidate Hamming pairs over the fixed 32-bit md5 signature
    * ([[simhashSignaturesMd5]]): 4 bands of 8 bits, Hamming <= maxHamming.
    * Output: (id1, id2, hamming BIGINT) — fully DuckDB-replayable. */
  def simhashPairsMd5(docs: DataFrame, id: Column, text: Column,
                      maxHamming: Int = 10): DataFrame = {
    val sigs = simhashSignaturesMd5(docs, id, text)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(j =>
        shiftright(col("simhash"), j * 8).bitwiseAND(0xffL)): _*))
        .as(Seq("band", "chunk")))
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") &&
        col("l.chunk") === col("r.chunk") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"),
        col("l.simhash").as("s1"), col("r.simhash").as("s2"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Winnowing fingerprints over a FIXED md5 gram hash — the cross-engine
    * ORACLE twin of [[TextOps.winnowFingerprints]]: character `k`-grams
    * hash by md5 (not the rolling polynomial — that is the production
    * kernel's speed trick, not part of the fingerprint semantics), the
    * fingerprint set is the distinct per-window minimum over every FULL
    * window of `w` consecutive gram hashes. Same MOSS guarantee: any
    * shared substring of length >= k + w - 1 yields a shared fingerprint.
    * Docs shorter than k + w - 1 have no full window and emit nothing
    * (declared — the production kernel instead emits its global min).
    * One window shuffle on doc_id; gram hashing is map-side. */
  def winnowFingerprintsMd5(docs: DataFrame, id: Column, text: Column,
                            k: Int = 24, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, s"bad winnow params: k=$k w=$w")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // Native one-pass kernel (r14; bit-parity with the previous SQL-window
    // formulation pinned in NearDupSpec): the declarative form exploded one
    // row per char position and shuffled (doc_id, p, md5-hex, pmax) rows
    // into a per-doc window sort plus a distinct exchange — corpus-character
    //-sized I/O for a fingerprint-sized result. The fingerprint set is a
    // pure per-row function of the text, so it computes map-side with zero
    // shuffles; the kernel emits the per-doc DISTINCT set (docs are unique
    // by id in every caller, so the old global distinct added nothing).
    TextOps.spreadForCpu(docs.filter(length(text) >= k + w - 1))
      .select(id.as("doc_id"),
        explode(ColumnBridge.column(expressions.WinnowMd5Fingerprints(
          ColumnBridge.expression(text), k, w))).as("fp"))
  }

  /** Fingerprint-sharing pairs over [[winnowFingerprintsMd5]] — the
    * DuckDB-replayable twin of [[winnowPairs]] (same join shape; the
    * hash family and therefore the selected fingerprints differ, so the
    * two are separate detectors with the same guarantee, not bit twins). */
  def winnowPairsMd5(docs: DataFrame, id: Column, text: Column,
                     minShared: Int = 5, k: Int = 24, w: Int = 8): DataFrame = {
    // pre-partition on the join key so both self-join sides are the SAME
    // exchange (ReuseExchange — the fingerprint kernel runs once, and the
    // join adds no further shuffle; the lshVerifiedPairs pattern)
    val fps = winnowFingerprintsMd5(docs, id, text, k, w)
      .repartition(col("fp"))
    val a = fps.as("a")
    val b = fps.as("b")
    a.join(b, col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash near-dup pairs: candidates via 16-bit signature bands (docs equal
    * in >= 1 of 4 chunks), verified by Hamming distance <= maxHamming. */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 8): DataFrame = {
    val sigs = simhashSignatures(docs, id, text)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(j =>
        shiftright(col("simhash"), j * 16).bitwiseAND(0xffffL)): _*))
        .as(Seq("band", "chunk")))
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") &&
        col("l.chunk") === col("r.chunk") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"),
        col("l.simhash").as("s1"), col("r.simhash").as("s2"))
      .distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Cluster-canonical selection by a DECLARED quality score: real corpus
    * curation keeps the BEST member of each duplicate cluster, not the
    * smallest id ([[dedupClusters]]'s label is a cluster NAME, not a keep
    * decision). Input: the (doc_id, cluster) assignment plus a
    * (id, quality) frame (integer quality — the repo's exactness
    * contract); the canonical member is the deterministic argmax
    * (quality DESC, doc_id ASC on ties), computed as one min_by
    * aggregate per cluster over the (−quality, doc_id) ordering struct —
    * no window sort, partial-agg friendly, and ORDER-SAFE FOR ANY id
    * type: the struct compares lexicographically with the id in its
    * native ordering (the previous `max(struct(q, -id))` negation
    * implicitly cast a string id to double — NULL — and silently made
    * the tie-break nondeterministic; ADVICE r8).
    * Output: one row per doc — (doc_id, cluster, canonical_id, keep).
    */
  def canonicalByQuality(labels: DataFrame, quality: DataFrame,
                         id: Column, q: Column): DataFrame = {
    val withQ = labels.select(col("doc_id"), col("cluster"))
      .join(quality.select(id.as("doc_id"), q.cast("long").as("_q")),
        "doc_id")
    val canon = withQ.groupBy(col("cluster"))
      // argmax by (quality desc, id asc) == min_by over (−quality, id);
      // (−quality, id) is unique per row (ids are), so min_by is exact
      .agg(min_by(col("doc_id"),
        struct((-col("_q")).as("nq"), col("doc_id").as("id")))
        .as("canonical_id"))
      .select(col("cluster"), col("canonical_id"))
    withQ.join(canon, "cluster")
      .select(col("doc_id"), col("cluster"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"))
  }
}
