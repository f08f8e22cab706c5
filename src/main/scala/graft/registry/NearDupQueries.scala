package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine._
import graft.registry.QueryDef._

/** Training-data pipeline: near-duplicate detection, cleaning and the
  * composed corpus flows. */
private[graft] object NearDupQueries {
  import SparkEntry._
  import Tables._
  import NearDup.ShingleBlock

  /** The 13-gram Bloom filter of the src0 "bench" slice, built once per
    * dataset dir. */
  private def src0Bloom(s: SparkSession, d: String): NearDup.ShingleBloom =
    benchBlooms.computeIfAbsent(d, dir => NearDup.benchShingleBloom(
      documents(s, dir).filter(col("source") === "src0"), col("doc_id"),
      col("text")))

  /** Distinct word 3-gram shingles `sh(doc_id, s)` of `src`'s text (the
    * NearDup shingle law), through the `toks` and `idx` CTEs. */
  private def shingleCtes(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
         idx AS (SELECT doc_id, t,
                   unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
                FROM idx)"""

  /** Per-doc shingle counts `sizes` and the all-pairs overlap
    * `inter(id1, id2, c)` over `sh`. */
  private val overlapCtes =
    """sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
                   FROM sh a JOIN sh b USING (s)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2)"""

  /** `j(id1, id2, jaccard)`: the exact jaccard of each `inter` pair. */
  private val jaccardCte =
    """j AS (SELECT id1, id2,
                 round(c::DOUBLE / (s1.n + s2.n - c), 6) AS jaccard
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2)"""

  /** `j(id1, id2)`: the `inter` pairs with jaccard >= 0.1 — the dedup edges. */
  private val jaccardEdgesCte =
    """j AS (SELECT id1, id2
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2
               WHERE round(c::DOUBLE / (s1.n + s2.n - c), 6) >= 0.1)"""

  /** Connected components of the undirected `edges(id1, id2)` as
    * `lbl(<id>, cluster)`, cluster = min reachable id: a recursive
    * reachability fixpoint (the query needs WITH RECURSIVE; UNION dedup
    * bounds the recursion). */
  private def componentCtes(edges: String, id: String): String =
    s"""e AS (SELECT id1, id2 FROM $edges
               UNION ALL
               SELECT id2 AS id1, id1 AS id2 FROM $edges),
         reach($id, r) AS (
           SELECT id1, id2 FROM e
           UNION
           SELECT e.id1, reach.r FROM e JOIN reach ON reach.$id = e.id2),
         lbl AS (SELECT $id, least(min(r), $id) AS cluster
                 FROM reach GROUP BY $id)"""

  /** `TextOps.qualityScore(text, <en markers>)` in SQL, as `quality`; `v`
    * names the list_filter lambda variable. */
  private def qualitySql(text: String, v: String): String = {
    val markers = Seq("the", "a", "of", "and", "is").map(w =>
      s"len(list_filter(string_split($text, ' '),\n                          $v -> $v = '$w'))")
    s"""CAST(least(1000, greatest(0,
                   200 + least(length($text), 500)
                   + ((${markers.mkString("\n                     + ")}) * 1500)
                     // len(string_split($text, ' '))
                   - (abs(length($text)
                       - (len(string_split($text, ' ')) - 1)
                       - 5 * len(string_split($text, ' '))) * 50)
                     // len(string_split($text, ' ')))) AS BIGINT) AS quality"""
  }

  /** The all-pairs jaccard replay: pairs with jaccard >= 0.1 and
    * `finalPred` — q_jaccard_pairs, and q_incremental_dedup restricted to
    * pairs touching the batch. */
  private def jaccardSql(finalPred: String): String =
    s"""WITH ${shingleCtes("documents")},
         $overlapCtes,
         $jaccardCte
         SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.1$finalPred"""

  /** The fixed md5-family MinHash replay with `finalPred` appended — one
    * text for q_minhash_fixed and its incremental twin. */
  private def minhashFixedSql(finalPred: String): String =
    s"""WITH ${shingleCtes("documents")},
         seeds AS (SELECT unnest(range(32)) AS seed),
         sig AS (SELECT doc_id, seed,
                   min(md5(s || ':' || CAST(seed AS VARCHAR))) AS mh
                 FROM sh CROSS JOIN seeds GROUP BY 1, 2),
         bnd AS (SELECT doc_id, seed // 4 AS band,
                   md5(string_agg(mh, '|' ORDER BY seed)) AS bh
                 FROM sig GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                  FROM bnd a JOIN bnd b
                    ON a.band = b.band AND a.bh = b.bh
                       AND a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.id1, c.id2, count(*) AS c
                   FROM cand c
                   JOIN sh a ON a.doc_id = c.id1
                   JOIN sh b ON b.doc_id = c.id2 AND b.s = a.s
                   GROUP BY 1, 2),
         $jaccardCte
         SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.1$finalPred"""

  /** The benchmark-containment replay: for each (corpus doc, src0 bench
    * doc) pair, the share of the bench doc's distinct word n-grams the
    * corpus doc contains, kept at >= 0.5. `shingle` is the n-gram at token
    * `i`, `last` = n - 1 (q_contamination: n = 3; q_bloom_contamination:
    * n = 13). */
  private def containmentSql(last: Int, shingle: String): String =
    s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, source, t,
                   unnest(generate_series(1, greatest(len(t) - $last, 0))) AS i
                 FROM toks),
         sh AS (SELECT DISTINCT doc_id, source,
                  $shingle AS s
                FROM idx),
         bsizes AS (SELECT doc_id, count(*) AS n FROM sh
                    WHERE source = 'src0' GROUP BY 1),
         inter AS (SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
                     count(*) AS c
                   FROM (SELECT doc_id, s FROM sh WHERE source <> 'src0') c
                   JOIN (SELECT doc_id, s FROM sh WHERE source = 'src0') b
                     USING (s)
                   GROUP BY 1, 2)
         SELECT corpus_id, bench_id,
                round(c::DOUBLE / n, 6) AS containment
         FROM inter JOIN bsizes ON bsizes.doc_id = bench_id
         WHERE round(c::DOUBLE / n, 6) >= 0.5"""

  val defs: Seq[QueryDef] = Seq(
    // ---- Training-data pipeline: dedup ----
    // exact dedup via content-hash groupBy (corpus ∪ re-crawled subset)
    QueryDef("q_doc_exact_dedup", (s, d) => {
      val docs = documents(s, d)
      val recrawl = docs.filter(col("doc_id") % 5 === 0)
      NearDup.exactDuplicates(docs.unionByName(recrawl), col("doc_id"),
        col("text"))
    },
      Oracle("""WITH u AS (SELECT * FROM documents
                    UNION ALL
                    SELECT * FROM documents WHERE doc_id % 5 = 0)
         SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
           CAST(count(*) AS BIGINT) AS n_copies
         FROM u GROUP BY 1""")),
    // corpus-level exact LINE dedup (RefinedWeb boilerplate pass): lines
    // synthesized as 8-token windows on BOTH sides (the q_redact_pii
    // precedent — no newlines in the synthetic text), so the oracle checks
    // the real frequency/drop/reassembly logic (oracled)
    QueryDef("q_line_dedup", (s, d) => {
      val toks = split(col("text"), " ")
      val nl = ceil(size(toks) / lit(8.0)).cast("int")
      val lined = concat_ws("\n", transform(sequence(lit(0), nl - 1),
        i => concat_ws(" ", slice(toks, i * lit(8) + 1, lit(8)))))
      NearDup.dedupLines(
        documents(s, d).select(col("doc_id"), lined.as("text")),
        col("doc_id"), col("text"))
    },
      Oracle("""WITH ml AS (SELECT doc_id, array_to_string(list_transform(
                       range(0, CAST(ceil(len(string_split(text, ' ')) / 8.0)
                         AS BIGINT)),
                       i -> array_to_string(
                         (string_split(text, ' '))[i*8+1:i*8+8], ' ')),
                     chr(10)) AS t
                   FROM documents),
         ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM ml),
         lx AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
                FROM ls),
         li AS (SELECT doc_id, i, l[i] AS line FROM lx),
         fr AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df
                                  FROM li GROUP BY 1) WHERE df >= 2),
         kp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  string_agg(line, chr(10) ORDER BY i) AS text_clean
                FROM li WHERE line NOT IN (SELECT line FROM fr)
                GROUP BY 1)
         SELECT ls.doc_id, CAST(len(ls.l) AS BIGINT) AS n_lines,
           coalesce(kp.n_kept, 0) AS n_kept,
           coalesce(kp.text_clean, '') AS text_clean
         FROM ls LEFT JOIN kp USING (doc_id)""")),
    // exact repeated-span removal (C4 span drop / Lee et al. substring
    // dedup at token granularity): every 5-gram occurring >= 2 times
    // corpus-wide is cut from every doc (oracled)
    QueryDef("q_span_dedup", (s, d) =>
      NearDup.removeRepeatedSpans(documents(s, d), col("doc_id"),
        col("text"), n = 5, minCount = 2),
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents),
         gx AS (SELECT doc_id, tk,
                  unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS i
                FROM t),
         g AS (SELECT doc_id, i - 1 AS p,
                 array_to_string(tk[i:i+4], ' ') AS gram
               FROM gx),
         hot AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
         cov AS (SELECT DISTINCT doc_id,
                   unnest(generate_series(p, p + 4)) AS q
                 FROM g JOIN hot USING (gram)),
         px AS (SELECT doc_id, tk,
                  unnest(generate_series(1, len(tk))) AS j
                FROM t),
         tok AS (SELECT doc_id, j - 1 AS q, tk[j] AS tok FROM px),
         kept AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                    string_agg(tk.tok, ' ' ORDER BY tk.q) AS text_clean
                  FROM tok tk
                  WHERE NOT EXISTS (SELECT 1 FROM cov c
                                    WHERE c.doc_id = tk.doc_id
                                      AND c.q = tk.q)
                  GROUP BY 1)
         SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
           coalesce(k.n_kept, 0) AS n_kept,
           coalesce(k.text_clean, '') AS text_clean
         FROM t LEFT JOIN kept k USING (doc_id)""")),
    // exact n-gram (3-shingle) Jaccard near-dup pairs
    QueryDef("q_jaccard_pairs", (s, d) =>
      NearDup.jaccardPairs(documents(s, d), col("doc_id"), col("text"), 0.1),
      Oracle(jaccardSql(""))),
    // incremental dedup: the doc_id%10==0 batch arrives against the rest of
    // the corpus — pairs touching an incoming doc only, existing↔existing
    // never re-formed (oracled: full-pairs SQL restricted to the batch)
    QueryDef("q_incremental_dedup", (s, d) => {
      val docs = documents(s, d)
      NearDup.jaccardPairsIncremental(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), 0.1)
    },
      // incremental = the full pair set restricted to pairs touching the
      // incoming batch (doc_id % 10 = 0)
      Oracle(jaccardSql(" AND (id1 % 10 = 0 OR id2 % 10 = 0)"))),
    // daily corpus increment, end to end: the doc_id%10==0 batch admitted
    // against the rest (exact anti-dedup → incremental near-dup with
    // cluster-wide drop on existing contact → quality floor). Fully
    // oracled — every stage is SQL-expressible, clustering via the same
    // recursive CTE as q_dedup_clusters.
    QueryDef("q_daily_increment", (s, d) => {
      val docs = documents(s, d)
      val en = TextOps.langMarkers.toMap.apply("en")
      Flows.dailyCorpusIncrement(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), en)
        .select(col("doc_id"), col("source"), col("quality"))
    },
      // the full daily-increment composition in SQL: exact anti-dedup, the
      // restricted pair set, recursive-CTE clustering of batch↔batch pairs,
      // cluster-wide drop on existing contact, quality floor
      Oracle(s"""WITH RECURSIVE
         exh AS (SELECT DISTINCT md5(text) AS h FROM documents
                 WHERE doc_id % 10 <> 0),
         kex AS (SELECT md5(text) AS h, min(doc_id) AS kid FROM documents
                 WHERE doc_id % 10 = 0 GROUP BY 1),
         batch AS (SELECT d.* FROM documents d
                   JOIN kex ON d.doc_id = kex.kid
                   WHERE kex.h NOT IN (SELECT h FROM exh)),
         u AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
               UNION ALL SELECT doc_id, text FROM batch),
         ${shingleCtes("u")},
         $overlapCtes,
         p AS (SELECT id1, id2
               FROM inter
               JOIN sizes s1 ON s1.doc_id = id1
               JOIN sizes s2 ON s2.doc_id = id2
               WHERE round(c::DOUBLE / (s1.n + s2.n - c), 6) >= 0.1
                 AND (id1 IN (SELECT doc_id FROM batch)
                   OR id2 IN (SELECT doc_id FROM batch))),
         bothnew AS (SELECT id1, id2 FROM p
                     WHERE id1 IN (SELECT doc_id FROM batch)
                       AND id2 IN (SELECT doc_id FROM batch)),
         mixdrop AS (SELECT CASE WHEN id1 IN (SELECT doc_id FROM batch)
                                 THEN id1 ELSE id2 END AS d
                     FROM p
                     WHERE NOT (id1 IN (SELECT doc_id FROM batch)
                            AND id2 IN (SELECT doc_id FROM batch))),
         ${componentCtes("bothnew", "idv")},
         clusters AS (SELECT b.doc_id,
                        coalesce(l.cluster, b.doc_id) AS cluster
                      FROM batch b LEFT JOIN lbl l ON l.idv = b.doc_id),
         bad AS (SELECT DISTINCT cluster FROM clusters
                 WHERE doc_id IN (SELECT d FROM mixdrop)),
         keep AS (SELECT doc_id FROM clusters
                  WHERE cluster NOT IN (SELECT cluster FROM bad)
                    AND doc_id = cluster),
         q AS (SELECT b.doc_id, b.source,
                 ${qualitySql("b.text", "x")}
               FROM batch b
               WHERE b.doc_id IN (SELECT doc_id FROM keep))
         SELECT doc_id, source, quality FROM q WHERE quality >= 300""")),
    // benchmark decontamination: src0 docs as the "eval set", the rest as
    // the training corpus; containment >= 0.5 (oracled)
    QueryDef("q_contamination", (s, d) => {
      val docs = documents(s, d)
      NearDup.contaminationPairs(
        docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
        0.5)
    },
      Oracle(containmentSql(2,
        "t[i] || ' ' || t[i+1] || ' ' || t[i+2]"))),
    // Bloom-prefiltered 13-gram decontamination (the GPT-3/Llama long-n-gram
    // recipe): the bench filter is built once per dir (steady-state — the
    // bench suite outlives corpus snapshots) and the corpus drops every
    // doc with no might-contain shingle in a map-only pass, so the
    // posting-list shuffle runs over the contaminated sliver (0.5% of the
    // testdata corpus at n=13) instead of everything. EXACT: no false
    // negatives by Bloom construction; false positives die in the verify
    // join — hash-green oracled.
    QueryDef("q_bloom_contamination", (s, d) => {
      val docs = documents(s, d)
      NearDup.contaminationPairs(
        docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
        0.5, n = 13, prefilter = Some(src0Bloom(s, d)))
    },
      // same shape as q_contamination at n=13 (the long-n-gram recipe): the
      // Bloom prefilter is plan surgery, not a result change — the oracle is
      // the plain unfiltered containment scan
      Oracle(containmentSql(12,
        "list_aggregate(t[i:i+12], 'string_agg', ' ')"))),
    // MinHash+LSH near-dup pairs (xxhash64 signatures → rows-only + ScalaTest)
    QueryDef("q_minhash_pairs", (s, d) =>
      NearDup.jaccardPairs(documents(s, d), col("doc_id"), col("text"), 0.1,
        block = ShingleBlock.MinhashLsh()),
      RowsOnly("graft.NearDupSpec")),
    // MinHash MECHANISM over the FIXED md5 family: per-(doc, seed)
    // min(md5(shingle||':'||seed)), band = md5 of the band's mins,
    // candidate pairs + exact verify — all replayed in DuckDB, so the
    // flagship near-dup tier's banding/candidate/verify pipeline is
    // cross-engine hash-green (the q_semdedup_fixed pattern; the xxhash64
    // production kernel above stays the scale path — bit-parity with this
    // twin spec'd at sf0.001 in NearDupSpec)
    QueryDef("q_minhash_fixed", (s, d) =>
      NearDup.jaccardPairs(documents(s, d), col("doc_id"), col("text"),
        0.1,
        block = ShingleBlock.MinhashLsh(family = NearDup.HashFamily.Md5)),
      // the fixed-md5-family MinHash mechanism: 32 seeds, 8 bands x 4 rows;
      // signature entry = min md5(shingle||':'||seed) (lexicographic hex min
      // — binary collation in both engines), band hash = md5 of the band's
      // mins joined by '|', bucket-colliding pairs exact-verified by the
      // same jaccard replay as q_jaccard_pairs
      Oracle(minhashFixedSql(""))),
    // incremental md5 twin: the batch probes the union's buckets; equals
    // the full twin restricted to batch-touching pairs (the oracle = full
    // twin SQL + membership predicate — signatures are split-independent)
    QueryDef("q_minhash_incr_fixed", (s, d) => {
      val docs = documents(s, d)
      NearDup.jaccardPairsIncremental(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), 0.1,
        block = ShingleBlock.MinhashLsh(family = NearDup.HashFamily.Md5))
    },
      // incremental twin = the full fixed-family result restricted to pairs
      // touching the doc_id % 10 = 0 batch (signatures are pure functions of
      // the row, verification exact — the q_incremental_dedup argument)
      Oracle(minhashFixedSql(" AND (id1 % 10 = 0 OR id2 % 10 = 0)"))),
    // incremental MinHash+LSH: the scale twin of q_incremental_dedup — the
    // batch probes the union's buckets, existing↔existing never expands,
    // exact verify over candidate ids only (rows-only: xxhash64 signatures;
    // equality to the restricted full run is spec'd)
    QueryDef("q_incremental_minhash", (s, d) => {
      val docs = documents(s, d)
      NearDup.jaccardPairsIncremental(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"), 0.1, block = ShingleBlock.MinhashLsh())
    },
      RowsOnly("graft.NearDupSpec")),
    // SimHash signatures + banded Hamming pairs (rows-only + ScalaTest)
    QueryDef("q_simhash_pairs", (s, d) =>
      NearDup.simhashPairs(documents(s, d), col("doc_id"), col("text"), 20),
      RowsOnly("graft.NearDupSpec")),
    // SimHash MECHANISM over the FIXED 32-bit md5 family: bit sums, sign
    // packing, 4x8-bit banding and Hamming verify all replay in DuckDB
    // ('0x'||substr(md5,1,8) == conv(substring(md5,1,8),16,10)) — the
    // 64-bit xxhash64 production path above stays the scale kernel
    // maxHamming=3: this corpus's tiny vocabulary keeps all 32-bit
    // signatures close (candidate Hamming mode ~7), so the near-dup cut
    // sits at the tight head of the distribution
    QueryDef("q_simhash_fixed", (s, d) =>
      NearDup.simhashPairs(documents(s, d), col("doc_id"), col("text"),
        3, family = NearDup.HashFamily.Md5),
      // fixed 32-bit md5 SimHash: per-token hash = first 8 md5 hex chars as
      // an integer, bit sums -> sign -> packed signature, 4 bands of 8 bits,
      // Hamming via bit_count(xor)
      Oracle("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                       FROM documents),
         hv AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT AS BIGINT)
                    AS h
                FROM toks),
         bs AS (SELECT doc_id, b.b AS b,
                  SUM(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
                FROM hv CROSS JOIN (SELECT unnest(range(32)) AS b) b
                GROUP BY 1, 2),
         sig AS (SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0
                            THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                     AS BIGINT) AS sg
                 FROM bs GROUP BY 1),
         bnd AS (SELECT doc_id, sg, j.j AS band, (sg >> (8 * j.j)) & 255
                   AS chunk
                 FROM sig CROSS JOIN (SELECT unnest(range(4)) AS j) j),
         cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
                    l.sg AS s1, r.sg AS s2
                  FROM bnd l JOIN bnd r
                    ON l.band = r.band AND l.chunk = r.chunk
                       AND l.doc_id < r.doc_id)
         SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(s1, s2)) <= 3""")),
    // near-dup CLUSTERS: connected components over near-dup pairs + canonical
    // member per cluster (the corpus-dedup endgame). Edges come from the
    // EXACT jaccard detector so the whole composition is oracle-checkable
    // (DuckDB recursive-CTE min-label reachability over the same edge set);
    // the minhash scale block feeds the same clustering in q_corpus_release.
    QueryDef("q_dedup_clusters", (s, d) => {
      val docs = documents(s, d)
      val pairs = NearDup.jaccardPairs(docs, col("doc_id"), col("text"), 0.1)
      NearDup.dedupClusters(pairs, docs, col("doc_id"))
        .filter(col("doc_id") =!= col("cluster")) // non-canonical members
    },
      // connected components = min reachable node per doc, as a recursive
      // reachability fixpoint over the symmetric jaccard edge set (same CTE
      // chain as q_jaccard_pairs); UNION dedup bounds the recursion
      Oracle(s"""WITH RECURSIVE
         ${shingleCtes("documents")},
         $overlapCtes,
         $jaccardEdgesCte,
         ${componentCtes("j", "id")}
         SELECT id AS doc_id, cluster FROM lbl WHERE cluster <> id""")),
    // same contract through the ALTERNATING LARGE-STAR/SMALL-STAR engine
    // (O(log n) rounds vs O(component diameter) — the adversarial-chain
    // scale path); same edge set, same oracle SQL text as q_dedup_clusters,
    // so the cross-engine hash match IS the parity proof at sf scale
    QueryDef("q_dedup_clusters_star", (s, d) => {
      val docs = documents(s, d)
      val pairs = NearDup.jaccardPairs(docs, col("doc_id"), col("text"), 0.1)
      NearDup.dedupClustersStar(pairs, docs, col("doc_id"))
        .filter(col("doc_id") =!= col("cluster"))
    },
      // the star-alternation CC engine shares the propagation variant's
      // oracle VERBATIM — the hash match is the cross-engine parity proof
      SameAs("q_dedup_clusters")),
    // curation keep-rule over the duplicate clusters: canonical = argmax
    // quality (n_chars as the declared score, ties to the smaller id) —
    // one struct-max per cluster, no window sort; singletons keep
    // themselves (oracled)
    QueryDef("q_dedup_keep_best", (s, d) => {
      val docs = documents(s, d)
      val pairs = NearDup.jaccardPairs(docs, col("doc_id"), col("text"), 0.1)
      val labels = NearDup.dedupClusters(pairs, docs, col("doc_id"))
      NearDup.canonicalByQuality(labels,
        docs.select(col("doc_id"), col("n_chars")), col("doc_id"),
        col("n_chars"))
    },
      // same cluster CTE + the keep-rule: canonical = argmax (quality desc,
      // id asc), singletons (no edges) are their own cluster and keep
      Oracle(s"""WITH RECURSIVE
         ${shingleCtes("documents")},
         $overlapCtes,
         $jaccardEdgesCte,
         ${componentCtes("j", "id")},
         alldocs AS (SELECT d.doc_id,
             COALESCE(l.cluster, d.doc_id) AS cluster,
             CAST(d.n_chars AS BIGINT) AS q
           FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id),
         canon AS (SELECT cluster, doc_id AS canonical_id FROM (
             SELECT cluster, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster
                 ORDER BY q DESC, doc_id) AS rn
             FROM alldocs) WHERE rn = 1)
         SELECT a.doc_id, a.cluster, c.canonical_id,
           a.doc_id = c.canonical_id AS keep
         FROM alldocs a JOIN canon c ON c.cluster = a.cluster""")),
    // winnowing (rolling-hash) fingerprint pairs: shared-passage detection.
    // k=24 (~4-5 words) because this corpus's vocabulary is tiny — short
    // grams occur in every doc and would pair everything quadratically.
    QueryDef("q_winnow_pairs", (s, d) =>
      NearDup.winnowPairs(documents(s, d), col("doc_id"), col("text"),
        minShared = 5, k = 24, w = 8),
      RowsOnly("graft.WinnowSpec")),
    // winnowing MECHANISM over FIXED md5 gram hashes: char-24-gram md5,
    // window-of-8 min fingerprints, shared-fp pairs — the whole selection
    // replays as a SQL window function (the rolling polynomial hash is the
    // production kernel's speed trick, not part of the semantics)
    QueryDef("q_winnow_fixed", (s, d) =>
      NearDup.winnowPairs(documents(s, d), col("doc_id"), col("text"),
        minShared = 5, k = 24, w = 8, family = NearDup.HashFamily.Md5),
      // fixed md5 winnowing: char-24-gram md5 hashes, min per full window of
      // 8 (ROWS frame), distinct fingerprints, shared-fp pair counts
      Oracle("""WITH d AS (SELECT doc_id, text AS t FROM documents
                    WHERE len(text) >= 31),
         pos AS (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 23)) AS p
                 FROM d),
         g AS (SELECT doc_id, p, md5(substring(t, p, 24)) AS g,
                 len(t) - 30 AS pmax
               FROM pos),
         f AS (SELECT doc_id, p, pmax,
                 MIN(g) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
               FROM g),
         fps AS (SELECT DISTINCT doc_id, fp FROM f WHERE p <= pmax),
         pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                  count(*) AS n_shared
                FROM fps a JOIN fps b
                  ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT id1, id2, CAST(n_shared AS BIGINT) AS n_shared
         FROM pr WHERE n_shared >= 5""")),

    // ---- Training-data pipeline: composed corpus flows ----
    // end-to-end corpus clean: exact dedup → near-dup clusters → quality
    // floor. The EXACT Postings block is passed so the whole flagship
    // composition is oracle-checkable (recursive-CTE clustering, as in
    // q_dedup_clusters / q_daily_increment); the default minhash block
    // drives the same flow in q_corpus_release and FlowsSpec.
    QueryDef("q_corpus_clean", (s, d) => {
      val en = TextOps.langMarkers.toMap.apply("en")
      Flows.corpusClean(documents(s, d), col("doc_id"), col("text"), en,
          block = ShingleBlock.Postings())
        .select(col("doc_id"), col("source"), col("quality"))
    },
      // the flagship corpus-clean composition in SQL: exact-dedup keepers,
      // jaccard pairs among survivors, recursive-CTE clustering, cluster
      // canonical, quality floor
      Oracle(s"""WITH RECURSIVE
         kex AS (SELECT md5(text) AS h, min(doc_id) AS kid FROM documents
                 GROUP BY 1),
         ex AS (SELECT d.* FROM documents d JOIN kex ON d.doc_id = kex.kid),
         ${shingleCtes("ex")},
         $overlapCtes,
         $jaccardEdgesCte,
         ${componentCtes("j", "idv")},
         clusters AS (SELECT x.doc_id,
                        coalesce(l.cluster, x.doc_id) AS cluster
                      FROM ex x LEFT JOIN lbl l ON l.idv = x.doc_id),
         q AS (SELECT x.doc_id, x.source,
                 ${qualitySql("x.text", "t")}
               FROM ex x
               WHERE x.doc_id IN (SELECT doc_id FROM clusters
                                  WHERE doc_id = cluster))
         SELECT doc_id, source, quality FROM q WHERE quality >= 300""")),
    // END-TO-END corpus release: clean (exact dedup → near-dup canonicals →
    // quality floor) → 13-gram Bloom decontamination vs the src0 "bench"
    // slice → 90/5/5 split → per-split deterministic shuffle + round-robin
    // shard. Rows-only (trained minhash detector inside); FlowsSpec pins
    // bit-exact parity with the hand-composed stage chain, and every stage
    // is hash-green oracled on its own (q_corpus_clean,
    // q_bloom_contamination, q_train_val_split, q_global_shuffle).
    QueryDef("q_corpus_release", (s, d) => {
      val docs = documents(s, d)
      val en = TextOps.langMarkers.toMap.apply("en")
      Flows.corpusRelease(docs.filter(col("source") =!= "src0"),
          col("doc_id"), col("text"),
          docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
          en, Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)),
          seed = 42L, numShards = 4, contamTau = 0.5,
          benchBloom = Some(src0Bloom(s, d)))
        .select(col("doc_id"), col("quality"), col("split"), col("pos"),
          col("shard"))
    },
      RowsOnly("graft.FlowsSpec")),
  )
}
