package graft
package registry

import org.apache.spark.sql.functions._
import graft.engine._
import graft.registry.QueryDef._

/** Training-data pipeline: text analysis and deterministic mixing. */
private[graft] object TextQueries {
  import SparkEntry._
  import Tables._

  /** Hits of the English marker words in the token list `toks` (the
    * `TextOps.langMarkers("en")` stop-word count). */
  private val stopHitsSql =
    """len(list_filter(toks, x -> x = 'the'))
              + len(list_filter(toks, x -> x = 'a'))
              + len(list_filter(toks, x -> x = 'of'))
              + len(list_filter(toks, x -> x = 'and'))
              + len(list_filter(toks, x -> x = 'is'))"""

  /** The exact-integer quality-classifier features `f(doc_id, <extra>
    * n_tokens, n_chars, stop_hits, n_digits, n_word_tokens)` of every
    * document (`Classifier.docFeatures` in SQL; q_lr_margin, q_lr_sweep). */
  private def lrFeatureCtes(extra: String): String =
    s"""t AS (SELECT doc_id, ${extra}text, string_split(text, ' ') AS toks
                    FROM documents),
         f AS (SELECT doc_id, $extra
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST($stopHitsSql AS BIGINT) AS stop_hits,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
             AS n_word_tokens
           FROM t)"""

  /** The corpus unigram LM in SQL: tokens `tok(doc_id, tok)` and each
    * vocabulary token's add-one-smoothed NLL in integer micro-nats
    * `p(tok, nll)` (q_lm_score, q_quality_mix). */
  private val unigramNllCtes =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         v AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
         t AS (SELECT sum(c) AS total, count(*) AS vsz FROM v),
         p AS (SELECT tok,
                 round(-ln((c + 1.0) / (total + 1.0 * vsz)) * 1000000)::BIGINT
                   AS nll
               FROM v, t)"""

  val defs: Seq[QueryDef] = Seq(
    // ---- Training-data pipeline: text analysis ----
    // token counting (whitespace + regex + BPE estimate), quality scoring
    QueryDef("q_doc_stats", (s, d) => {
      val en = TextOps.langMarkers.toMap.apply("en")
      documents(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.wordTokenCount(col("text")).as("n_word_tokens"),
        TextOps.bpeTokenEstimate(col("text")).as("n_bpe_est"),
        TextOps.meanTokenLength(col("text")).as("mean_tok_len"),
        TextOps.stopwordRatio(col("text"), en).as("stop_ratio"),
        TextOps.qualityScore(col("text"), en).as("quality"))
    },
      Oracle(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                    FROM documents),
         c AS (SELECT doc_id, text, toks,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round((length(text) - (len(toks) - 1))::DOUBLE / len(toks), 6)
             AS mean_tok_len,
           ($stopHitsSql) AS n_hits,
           round(($stopHitsSql)::DOUBLE / len(toks), 6)
             AS stop_ratio
           FROM t)
         SELECT doc_id, n_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
             AS n_word_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est,
           mean_tok_len, stop_ratio,
           CAST(least(1000, greatest(0,
             200 + least(length(text), 500)
                 + (n_hits * 1500) // n_tokens
                 - (abs(length(text) - (n_tokens - 1) - 5 * n_tokens) * 50)
                   // n_tokens)) AS BIGINT) AS quality
         FROM c""")),
    // quality-classifier margin with a FIXED integer model: the map-only
    // scoring pass every trained-filter pipeline runs at corpus scale,
    // exact BIGINT arithmetic end to end → hash-green oracled (the trained
    // variant is q_lr_quality, rows-only — GD isn't SQL-expressible)
    QueryDef("q_lr_margin", (s, d) => {
      val en = TextOps.langMarkers.toMap.apply("en")
      // intMarginOf, not intMargin(docFeatures(...)): each feature subtree
      // must appear exactly ONCE in the plan — array indexing per weight
      // (even bound through a projection, which CollapseProject undoes)
      // trips a Janino codegen bug under subexpression elimination and the
      // scoring pass silently drops to interpreted
      documents(s, d).select(col("doc_id"),
        Classifier.intMarginOf(col("text"), en,
          Seq(-400L, 7L, -1L, 120L, -3L, 5L)).as("margin"))
    },
      // fixed integer model [-400, 7, -1, 120, -3, 5] over the exact-integer
      // features [1, n_tokens, n_chars, stop_hits, n_digits, n_word_tokens]
      // (feature mirrors identical to the green q_doc_stats oracle)
      Oracle(s"""WITH ${lrFeatureCtes("")}
         SELECT doc_id,
           CAST(-400 + 7 * n_tokens - n_chars + 120 * stop_hits
                - 3 * n_digits + 5 * n_word_tokens AS BIGINT) AS margin
         FROM f""")),
    // TRAINED curated-vs-crawl logistic regression (label: source == src0),
    // trained once per dir via distributed full-batch GD (driver holds only
    // the weight vector); per-doc keep decision + micro-unit margin
    // (rows-only; convergence/separation laws in ClassifierSpec)
    QueryDef("q_lr_quality", (s, d) => {
      val en = TextOps.langMarkers.toMap.apply("en")
      val w = lrModels.computeIfAbsent(d, dir =>
        Classifier.trainLogReg(
          documents(s, dir)
            .withColumn("label", (col("source") === "src0").cast("int")),
          Classifier.docFeatures(col("text"), en), col("label"),
          iters = 15)._1)
      // marginOf (single-use feature subtrees) bound once; the two
      // consumers reference the alias — CollapseProject keeps multi-use
      // non-cheap aliases bound, so nothing replicates
      documents(s, d)
        .select(col("doc_id"),
          Classifier.marginOf(col("text"), en, w).as("_m"))
        .select(col("doc_id"),
          floor(col("_m") * 1e6).cast("long").as("margin_micro"),
          (col("_m") >= 0).as("keep"))
    },
      RowsOnly("graft.ClassifierSpec")),
    // filter-calibration sweep: per candidate threshold, how many docs the
    // fixed-model gate keeps and how many of those are curated (src0) —
    // the precision/recall table every deployed quality filter is tuned
    // from; all-integer counts → hash-green oracle
    QueryDef("q_lr_sweep", (s, d) => {
      import s.implicits._
      val en = TextOps.langMarkers.toMap.apply("en")
      val scored = documents(s, d)
        .select(col("source"),
          Classifier.intMarginOf(col("text"), en,
            Seq(-400L, 7L, -1L, 120L, -3L, 5L)).as("margin"))
      scored
        .crossJoin(broadcast(
          Seq(-500L, -250L, 0L, 250L, 500L).toDF("threshold")))
        .filter(col("margin") >= col("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_kept"),
          sum(when(col("source") === "src0", 1L).otherwise(0L))
            .as("n_curated"))
    },
      // same fixed model and features as q_lr_margin, aggregated per
      // candidate threshold (all-integer counts)
      Oracle(s"""WITH ${lrFeatureCtes("source, ")},
         m AS (SELECT source,
           -400 + 7 * n_tokens - n_chars + 120 * stop_hits
               - 3 * n_digits + 5 * n_word_tokens AS margin
           FROM f),
         th AS (SELECT unnest([-500, -250, 0, 250, 500]) AS threshold)
         SELECT CAST(th.threshold AS BIGINT) AS threshold,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN m.source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_curated
         FROM m CROSS JOIN th
         WHERE m.margin >= th.threshold
         GROUP BY 1""")),
    // language-ID (marker-token heuristic)
    QueryDef("q_lang_id", (s, d) =>
      documents(s, d).select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred")),
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         s AS (SELECT doc_id,
           len(list_filter(toks, x -> x = 'der')) + len(list_filter(toks, x -> x = 'die'))
             + len(list_filter(toks, x -> x = 'das')) + len(list_filter(toks, x -> x = 'und'))
             + len(list_filter(toks, x -> x = 'ist')) AS s_de,
           len(list_filter(toks, x -> x = 'the')) + len(list_filter(toks, x -> x = 'a'))
             + len(list_filter(toks, x -> x = 'of')) + len(list_filter(toks, x -> x = 'and'))
             + len(list_filter(toks, x -> x = 'is')) AS s_en,
           len(list_filter(toks, x -> x = 'el')) + len(list_filter(toks, x -> x = 'los'))
             + len(list_filter(toks, x -> x = 'las')) + len(list_filter(toks, x -> x = 'y'))
             + len(list_filter(toks, x -> x = 'es')) AS s_es,
           len(list_filter(toks, x -> x = 'le')) + len(list_filter(toks, x -> x = 'les'))
             + len(list_filter(toks, x -> x = 'et')) + len(list_filter(toks, x -> x = 'est'))
             + len(list_filter(toks, x -> x = 'du')) AS s_fr
           FROM t)
         SELECT doc_id, CASE
           WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr THEN 'en'
           WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
           WHEN s_fr > 0 THEN 'fr'
           ELSE 'und' END AS lang_pred
         FROM s""")),
    // document fingerprinting
    QueryDef("q_doc_fingerprint", (s, d) =>
      documents(s, d).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp")),
      Oracle("SELECT doc_id, md5(text) AS fp FROM documents")),
    // Gopher-rule quality filter: symbol tokens synthesized from doc_id on
    // BOTH sides (the q_redact_pii precedent) so the symbol rule actually
    // fires instead of passing trivially on symbol-free synthetic text
    QueryDef("q_gopher_filter", (s, d) => {
      val mod = (col("doc_id") % 40).cast("int")
      val withSym = concat(col("text"),
        array_join(array_repeat(lit(" #"), mod), ""))
      TextOps.gopherFilter(
        documents(s, d).select(col("doc_id"), withSym.as("text")),
        col("doc_id"), col("text"), TextOps.langMarkers.toMap.apply("en"))
    },
      Oracle(s"""WITH t AS (SELECT doc_id,
           text || repeat(' #', CAST(doc_id % 40 AS INT)) AS text
         FROM documents),
         c AS (SELECT doc_id, string_split(text, ' ') AS toks,
            length(text) AS nc FROM t),
         m AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            nc - (len(toks) - 1) AS stl,
            len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
            len(list_filter(toks, x -> x = '#' OR x = '...')) AS n_sym,
            ($stopHitsSql) AS hits
         FROM c)
         SELECT doc_id, n_tokens,
           (n_tokens >= 50 AND n_tokens <= 100000) AS len_ok,
           (3 * n_tokens <= stl AND stl <= 10 * n_tokens) AS mean_len_ok,
           (5 * n_alpha >= 4 * n_tokens) AS alpha_ok,
           (10 * n_sym <= n_tokens) AS symbol_ok,
           (hits >= 2) AS stop_ok,
           (n_tokens >= 50 AND n_tokens <= 100000
            AND 3 * n_tokens <= stl AND stl <= 10 * n_tokens
            AND 5 * n_alpha >= 4 * n_tokens
            AND 10 * n_sym <= n_tokens AND hits >= 2) AS keep
         FROM m""")),
    // markup strip: tags + entities synthesized from doc_id on BOTH sides;
    // the double-escaped '&amp;lt;' must survive as '&lt;' (decode order)
    QueryDef("q_strip_markup", (s, d) =>
      documents(s, d).select(col("doc_id"),
        TextOps.stripMarkup(concat(
          lit("<p id=\""), col("doc_id"), lit("\">"), col("text"),
          lit("</p> <br/> say &amp;lt; &quot;hi&quot; &nbsp;done")))
          .as("clean_text")),
      Oracle("""WITH t AS (SELECT doc_id,
           '<p id="' || doc_id || '">' || text ||
           '</p> <br/> say &amp;lt; &quot;hi&quot; &nbsp;done' AS marked
         FROM documents)
         SELECT doc_id, trim(regexp_replace(
           regexp_replace(
            regexp_replace(
             regexp_replace(
              regexp_replace(
               regexp_replace(
                regexp_replace(
                 regexp_replace(marked, '<[^>]*>', ' ', 'g'),
                 '&lt;', '<', 'g'),
                '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
              '&#39;', '''', 'g'),
             '&nbsp;', ' ', 'g'),
            '&amp;', '&', 'g'),
           ' +', ' ', 'g')) AS clean_text
         FROM t""")),
    // top-k corpus vocabulary (tokenizer-training prep; oracled)
    QueryDef("q_vocab_topk", (s, d) =>
      TextOps.vocabulary(documents(s, d), col("text"), 500),
      Oracle("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
                    FROM documents)
         SELECT token, count(*)::BIGINT AS n FROM t
         GROUP BY 1 ORDER BY n DESC, token LIMIT 500""")),
    // TF-IDF top terms per doc — idf in integer micro-nats (oracled)
    QueryDef("q_tfidf_topk", (s, d) =>
      TextOps.tfidfTopTerms(documents(s, d), col("doc_id"), col("text"), 5),
      Oracle("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
                 GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (SELECT doc_id, term,
                      (tf * CAST(floor(ln(n.n::DOUBLE / df) * 1000000)
                        AS BIGINT))::BIGINT AS score_micro
                    FROM tf JOIN dfx USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, score_micro,
                 CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_micro DESC, term) AS BIGINT) AS rn
               FROM scored)
         SELECT doc_id, term, score_micro, rn FROM r WHERE rn <= 5""")),
    // Zipf coverage curve of the top-k vocab (tokenizer sizing; oracled)
    QueryDef("q_vocab_coverage", (s, d) =>
      TextOps.vocabCoverage(documents(s, d), col("text"), 500),
      Oracle("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
                    FROM documents),
         v AS (SELECT token, count(*)::BIGINT AS n FROM t
               GROUP BY 1 ORDER BY n DESC, token LIMIT 500),
         tot AS (SELECT count(*) AS total FROM t)
         SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
                  AS rnk,
           token, n,
           CAST(floor(sum(n) OVER (ORDER BY n DESC, token) * 1000000.0
                  / total) AS BIGINT) AS cum_frac_micro
         FROM v CROSS JOIN tot""")),
    // Gopher-style repetition quality filters: top-token dominance +
    // duplicate bi/tri-gram fractions (oracled)
    QueryDef("q_repetition_filter", (s, d) =>
      TextOps.repetitionStats(documents(s, d), col("doc_id"), col("text")),
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
         mx AS (SELECT doc_id, max(c) AS mxc, sum(c) AS tot FROM tc
                GROUP BY 1),
         b AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i
               FROM t),
         bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g FROM b),
         bs AS (SELECT doc_id, count(*) AS tot, count(DISTINCT g) AS dst
                FROM bg GROUP BY 1),
         tr AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i
               FROM t),
         tg AS (SELECT doc_id,
                  toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
                FROM tr),
         ts AS (SELECT doc_id, count(*) AS tot, count(DISTINCT g) AS dst
                FROM tg GROUP BY 1)
         SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
           round(mx.mxc::DOUBLE / mx.tot, 6) AS top_token_frac,
           coalesce(round(1 - bs.dst::DOUBLE / bs.tot, 6), 0.0)
             AS dup_bigram_frac,
           coalesce(round(1 - ts.dst::DOUBLE / ts.tot, 6), 0.0)
             AS dup_trigram_frac
         FROM t
         JOIN mx USING (doc_id)
         LEFT JOIN bs USING (doc_id)
         LEFT JOIN ts USING (doc_id)""")),
    // CCNet-style unigram-LM quality score, micro-nat quantized (oracled)
    QueryDef("q_lm_score", (s, d) =>
      TextOps.lmQualityScore(documents(s, d), col("doc_id"), col("text")),
      Oracle(s"""WITH $unigramNllCtes
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
                round(avg(nll), 2) AS mean_nll_micro
         FROM tok JOIN p USING (tok) GROUP BY 1""")),
    // trained bigram-LM score: add-one-smoothed P(w2|w1), per-bigram NLL in
    // integer micro-nats, mean per doc (oracled)
    QueryDef("q_bigram_lm", (s, d) =>
      TextOps.bigramLmScore(documents(s, d), col("doc_id"), col("text")),
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents),
         g AS (SELECT doc_id, tk,
                 unnest(generate_series(1, len(tk) - 1)) AS i FROM t),
         p AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg FROM g),
         bc AS (SELECT bg, count(*) AS c2 FROM p GROUP BY 1),
         uc AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
                FROM p GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS vsz
               FROM (SELECT unnest(tk) AS tok FROM t)),
         nl AS (SELECT bc.bg,
                  round(-ln((bc.c2 + 1.0) / (uc.c1 + 1.0 * v.vsz))
                    * 1000000)::BIGINT AS nll
                FROM bc JOIN uc ON split_part(bc.bg, ' ', 1) = uc.w1
                CROSS JOIN v)
         SELECT p.doc_id, count(*)::BIGINT AS n_bigrams,
                round(avg(nll), 2) AS mean_nll_micro
         FROM p JOIN nl USING (bg) GROUP BY 1""")),
    // collocation mining: top bigrams by count with micro-nat PMI — the
    // phrase / tokenizer-merge-candidate signal (oracled)
    QueryDef("q_collocations", (s, d) =>
      TextOps.collocations(documents(s, d), col("text"), minCount = 5L,
        k = 500),
      Oracle("""WITH p AS (SELECT doc_id,
             unnest(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents),
         bgs AS (SELECT term || ' ' ||
                   lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
                 FROM p),
         c2 AS (SELECT bg, count(*) AS n FROM bgs WHERE bg IS NOT NULL
                GROUP BY 1),
         uni AS (SELECT term, count(*) AS c FROM p GROUP BY 1),
         tot AS (SELECT (SELECT sum(n) FROM c2) AS nbi,
                        (SELECT sum(c) FROM uni) AS nuni)
         SELECT bg, CAST(n AS BIGINT) AS n,
           CAST(round(ln((CAST(n AS DOUBLE) * nuni * nuni) /
             (CAST(nbi AS DOUBLE) * u1.c * u2.c)) * 1e6) AS BIGINT)
             AS pmi_micro
         FROM c2, tot,
           uni u1, uni u2
         WHERE u1.term = string_split(bg, ' ')[1]
           AND u2.term = string_split(bg, ' ')[2]
           AND n >= 5
         ORDER BY n DESC, bg LIMIT 500""")),
    // inverted index: (term, doc_id, pos, df) postings above a df floor —
    // the search-index build pass (oracled; this corpus's 31-term synthetic
    // vocabulary is all mid-frequency, so the floor keeps the full index)
    QueryDef("q_inverted_index", (s, d) =>
      TextOps.invertedIndex(documents(s, d), col("doc_id"), col("text"),
        minDf = 5L, maxDf = 1000000L),
      Oracle("""WITH p AS (SELECT doc_id,
             unnest(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           FROM documents),
         d AS (SELECT term, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
         SELECT p.term, p.doc_id, CAST(p.pos AS BIGINT) AS pos,
           CAST(d.df AS BIGINT) AS df
         FROM p JOIN d ON d.term = p.term
         WHERE d.df BETWEEN 5 AND 1000000""")),
    // content-defined chunking: rolling-hash cut rule, shift-robust chunk
    // fingerprints for sub-document dedup. FULLY ORACLED since r7: the
    // polynomial window hash expands to a 16-term Σ code·B^j mod M against
    // a literal powers table, boundary selection is a next-hit lookup +
    // recursive CTE, and the length-salted chunk fingerprint is the same
    // Σ over a 256-entry powers table — bit-exact vs the kernel
    // (coverage/bounds/shift-resync laws additionally in TextPrepSpec)
    QueryDef("q_cdc_chunks", (s, d) =>
      TextOps.cdcChunks(documents(s, d), col("doc_id"), col("text"))
        .select(col("doc_id"), col("chunk_ix").cast("long").as("chunk_ix"),
          col("start").cast("long").as("start"),
          col("len").cast("long").as("len"), col("fp")),
      // content-defined chunking replay, bit-exact vs the TextOps.cdcChunks
      // kernel (k=16, mask 6 bits, minLen=32, maxLen=256, B=257, M=1e9+7):
      // window hash = Σ code·B^(15-j) mod M against a literal powers table;
      // a cut after 0-based char p needs the window ending at p to mask to
      // 63, p in [start+31, min(start+256, n)-2], earliest wins, else the
      // hard cut; boundary recursion via next-hit lookup + recursive CTE;
      // fp = (Σ code·B^(len-1-i) mod M)·131071 + len (length-salted)
      Oracle({
      val B = 257L
      val M = 1000000007L
      val pw = Iterator.iterate(1L)(p => p * B % M).take(256).toArray
      val wtab = (0 until 16)
        .map(j => s"($j, CAST(${pw(j)} AS BIGINT))").mkString(", ")
      val ptab = (0 until 256)
        .map(j => s"($j, CAST(${pw(j)} AS BIGINT))").mkString(", ")
      s"""WITH RECURSIVE
         d AS (SELECT doc_id, text AS t, len(text) AS nlen FROM documents
               WHERE len(text) > 0),
         codes AS (SELECT doc_id, i, CAST(ord(substr(t, i, 1)) AS BIGINT)
                     AS c, nlen
                   FROM (SELECT doc_id, t, nlen,
                           unnest(generate_series(1, nlen)) AS i FROM d)),
         wp(j, pw) AS (VALUES $wtab),
         wh AS (SELECT c0.doc_id, c0.i - 1 AS w,
                  SUM(cj.c * wp.pw) % $M AS h
                FROM codes c0
                JOIN wp ON TRUE
                JOIN codes cj ON cj.doc_id = c0.doc_id
                  AND cj.i = c0.i + (15 - wp.j)
                WHERE c0.i + 15 <= c0.nlen
                GROUP BY 1, 2),
         pos AS (SELECT doc_id, i - 1 AS p, nlen FROM codes),
         hits AS (SELECT p.doc_id, p.p, p.nlen,
                    CASE WHEN (wh.h & 63) = 63 THEN p.p END AS hp
                  FROM pos p LEFT JOIN wh
                    ON wh.doc_id = p.doc_id AND wh.w = p.p - 15),
         nh AS (SELECT doc_id, p, nlen,
                  MIN(hp) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
                FROM hits),
         nc AS (SELECT s.doc_id, s.p AS s, s.nlen,
                  CASE WHEN h31.nh IS NOT NULL
                        AND h31.nh <= LEAST(s.p + 256, s.nlen) - 2
                       THEN h31.nh + 1
                       ELSE LEAST(s.p + 256, s.nlen) END AS cut
                FROM pos s LEFT JOIN nh h31
                  ON h31.doc_id = s.doc_id AND h31.p = s.p + 31),
         ch(doc_id, ix, s, cut, nlen) AS (
           SELECT doc_id, 0, 0, cut, nlen FROM nc WHERE s = 0
           UNION ALL
           SELECT c.doc_id, c.ix + 1, c.cut, n.cut, c.nlen
           FROM ch c JOIN nc n ON n.doc_id = c.doc_id AND n.s = c.cut
           WHERE c.cut < c.nlen),
         bp(j, pw) AS (VALUES $ptab),
         fpx AS (SELECT ch.doc_id, ch.ix, ch.s, ch.cut - ch.s AS len,
                   (SUM(codes.c * bp.pw) % $M) * 131071 + (ch.cut - ch.s)
                     AS fp
                 FROM ch
                 JOIN codes ON codes.doc_id = ch.doc_id
                   AND codes.i > ch.s AND codes.i <= ch.cut
                 JOIN bp ON bp.j = ch.cut - codes.i
                 GROUP BY 1, 2, 3, ch.cut)
         SELECT doc_id, CAST(ix AS BIGINT) AS chunk_ix,
                CAST(s AS BIGINT) AS start, CAST(len AS BIGINT) AS len,
                CAST(fp AS BIGINT) AS fp
         FROM fpx"""
    })),
    // BPE tokenizer: train 200 merges on the corpus word table (once per
    // dataset — model-scale driver loop), segment every doc (rows-only —
    // the iterative trainer isn't SQL-expressible; laws in TextPrepSpec)
    QueryDef("q_bpe_segment", (s, d) => {
      val merges = bpeModels.computeIfAbsent(d, dir =>
        TextOps.bpeTrain(documents(s, dir), col("text"), 200))
      TextOps.bpeSegmentStats(documents(s, d), col("doc_id"), col("text"),
        merges)
    },
      RowsOnly("graft.TextPrepSpec")),
    // BPE segmentation MECHANISM under the FIXED merge table (oracled):
    // the SAME bpeSegmentWord kernel the trained variant runs, with a
    // SQL-expressible model — DuckDB replays per-word greedy merge
    // application as a recursive CTE over space-separated symbol strings
    // (min-rank merge present → one replace() pass → recurse; fixpoint
    // rows are the segmentations), then joins the word-piece table back
    // to the corpus token stream. The trained variant above stays
    // rows-only (the iterative trainer isn't SQL-expressible).
    QueryDef("q_bpe_segment_fixed", (s, d) =>
      TextOps.bpeSegmentStats(documents(s, d), col("doc_id"), col("text"),
        fixedBpeMerges),
      // NOTE: like every text oracle in this file (q_simhash_fixed,
      // q_minhash_fixed, q_doc_stats, ...), tokenization parity rests on
      // the corpus convention of single-space-separated text with no
      // leading/trailing whitespace — Java split(" ") drops TRAILING empty
      // tokens where DuckDB string_split keeps them (verified absent in
      // all testdata SFs; code-review r8).
      // fixed-merge-table BPE segmentation replay: per DISTINCT word, greedy
      // merge application as a recursive CTE over space-separated symbol
      // strings — each step picks the min-rank merge whose ' a b ' pattern
      // occurs and applies one replace() pass (boundary-shared occurrences
      // survive to the next step, where the same rank is re-picked — the
      // fixpoint equals the kernel's all-occurrences pass for a
      // prefix-closed table); fixpoint rows are the segmentations, joined
      // back to the corpus token stream (the merges VALUES are generated
      // from the same Scala literal the engine uses, so they cannot drift)
      Oracle({
      val vals = fixedBpeMerges.zipWithIndex.map { case ((a, b), r) =>
        s"($r, ' $a $b ', ' $a$b ')"
      }.mkString(",\n             ")
      s"""WITH RECURSIVE
         words AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
                   FROM documents),
         merges(rnk, pat, rep) AS (VALUES
             $vals),
         seg(w, cur) AS (
           SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g')
           FROM words WHERE w <> ''
           UNION ALL
           SELECT s.w, replace(s.cur, m.pat, m.rep)
           FROM (SELECT w, cur,
                   (SELECT min(mm.rnk) FROM merges mm
                    WHERE contains(cur, mm.pat)) AS br
                 FROM seg) s
           JOIN merges m ON m.rnk = s.br),
         fin AS (SELECT w, len(string_split(trim(cur), ' ')) AS np
                 FROM seg
                 WHERE NOT EXISTS (SELECT 1 FROM merges mm
                                   WHERE contains(seg.cur, mm.pat))),
         toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents),
         agg AS (SELECT t.doc_id, count(*) AS n_tokens,
                   SUM(CASE WHEN t.w = '' THEN 0 ELSE f.np END) AS n_pieces
                 FROM toks t LEFT JOIN fin f ON f.w = t.w
                 GROUP BY 1)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_pieces AS BIGINT) AS n_pieces,
           round(CAST(n_pieces AS DOUBLE) / greatest(n_tokens, 1), 6)
             AS pieces_per_token
         FROM agg"""
    })),
    // token-budget accounting: per (source, lang) doc/token/char
    // contribution — the mix dashboard behind Sampling.mixToShares (oracled)
    QueryDef("q_token_budget", (s, d) =>
      documents(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text"))).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars")),
      Oracle("""SELECT source, lang, count(*)::BIGINT AS n_docs,
                sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
                sum(length(text))::BIGINT AS n_chars
         FROM documents GROUP BY 1, 2""")),
    // PII redaction: emails/URLs/digit runs → typed placeholders. The PII is
    // synthesized from doc_id on BOTH sides so the oracle checks real
    // replacements, not a no-op pass over PII-free synthetic text (oracled)
    QueryDef("q_redact_pii", (s, d) =>
      documents(s, d).select(col("doc_id"),
        TextOps.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail-"), col("doc_id"),
          lit(".example.com via https://ex.io/d/"), col("doc_id"),
          lit(" ref 1234567"), col("doc_id"))).as("clean_text")),
      Oracle("""SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 text || ' contact user' || doc_id::VARCHAR || '@mail-' ||
                   doc_id::VARCHAR || '.example.com via https://ex.io/d/' ||
                   doc_id::VARCHAR || ' ref 1234567' || doc_id::VARCHAR,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                 '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
             '[0-9]{7,}', '<NUM>', 'g') AS clean_text
         FROM documents""")),
    // context-window chunking: 64-token windows, 16-token overlap (oracled)
    QueryDef("q_chunk_docs", (s, d) =>
      TextOps.chunkDocs(documents(s, d), col("doc_id"), col("text"), 64, 16),
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         c AS (SELECT doc_id, toks,
                 unnest(generate_series(0, len(toks) - 1, 48)) AS s
               FROM t)
         SELECT doc_id, (s // 48)::BIGINT AS chunk_ix,
                array_to_string(toks[s + 1 : s + 64], ' ') AS chunk_text,
                least(64, len(toks) - s)::BIGINT AS n_tokens
         FROM c""")),
    // greedy sequence packing: per-source token streams split into 512-token
    // training sequences, all integer arithmetic (oracled)
    QueryDef("q_pack_sequences", (s, d) =>
      TextOps.packSequences(documents(s, d), col("doc_id"), col("doc_id"),
        col("source"), col("text"), 512),
      Oracle("""WITH t AS (SELECT doc_id, source AS grp,
                      len(string_split(text, ' '))::BIGINT AS n_tokens
                    FROM documents),
         c AS (SELECT *,
                 coalesce(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS cum
               FROM t)
         SELECT doc_id, grp, n_tokens, (cum // 512)::BIGINT AS seq_ix,
                (cum % 512)::BIGINT AS seq_offset
         FROM c""")),

    // ---- Training-data pipeline: deterministic mixing ----
    // hash-stratified sample to target shares: md5-ppm keep decision +
    // ppm-floored fractions make the whole mix (counts → binding stratum →
    // per-stratum fraction → keep) reproducible in the oracle engine
    // (oracled; proportions/determinism/monotonicity laws in SamplingSpec)
    QueryDef("q_stratified_mix", (s, d) =>
      Sampling.mixToShares(documents(s, d), col("doc_id"), col("source"),
        Map("src1" -> 0.4, "src2" -> 0.3, "src3" -> 0.3)),
      // mixFractions replayed in SQL: same IEEE expression tree (cnt/wt min →
      // wt·total/cnt → floor-ppm) so the thresholds are bit-identical; the
      // keep decision is the shared md5-ppm integer comparison
      Oracle("""WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
         w(source, wt) AS (VALUES ('src1', CAST(0.4 AS DOUBLE)),
                                  ('src2', CAST(0.3 AS DOUBLE)),
                                  ('src3', CAST(0.3 AS DOUBLE))),
         t AS (SELECT min(cnt / wt) AS total
               FROM c JOIN w USING (source) WHERE wt > 0 AND cnt > 0),
         f AS (SELECT w.source,
                 CAST(floor(least(CAST(1.0 AS DOUBLE), wt * total / cnt)
                   * 1000000.0) AS BIGINT) AS thr
               FROM w JOIN c USING (source) CROSS JOIN t)
         SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         FROM documents d JOIN f USING (source)
         WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':0'), 1, 8))
           ::UBIGINT % 1000000 < thr""")),
    // exact-k deterministic sample per stratum (eval-set construction):
    // md5-ranked bounded top-k, oracled as row_number-over-md5-rank (the
    // q_domain_cap pattern); exactness/determinism/disjointness laws in
    // SamplingSpec
    QueryDef("q_exact_k_sample", (s, d) =>
      Sampling.exactKPerStratum(documents(s, d), col("doc_id"),
        col("source"), 10),
      Oracle("""WITH r AS (SELECT source AS stratum, doc_id AS id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))
             ::UBIGINT AS rk
         FROM documents)
         SELECT stratum, id FROM
           (SELECT stratum, id,
              row_number() OVER (PARTITION BY stratum ORDER BY rk, id) AS rn
            FROM r)
         WHERE rn <= 10""")),
    // Efraimidis–Spirakis weighted sampling WITHOUT replacement: E-S keys
    // in rank-equivalent integer form (md5 uniform, micro-nat-quantized
    // ln — the lm-score rule — then floorDiv by the integer weight), one
    // distributed top-k; replayed exactly in DuckDB
    QueryDef("q_weighted_sample", (s, d) =>
      Sampling.weightedSample(documents(s, d), col("doc_id"),
        col("n_chars"), k = 100, salt = 7L),
      // E-S weighted sample replay: identical md5 uniform, identical
      // micro-nat ln quantization (the one transcendental, quantized per
      // item), identical floor division — via the Euclidean-mod idiom,
      // because DuckDB integer `//` TRUNCATES toward zero on negatives
      // (measured: -7 // 2 = -3) while the key's lnq is negative
      Oracle("""WITH b AS (SELECT doc_id,
             CAST(n_chars AS BIGINT) AS w,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))
                ::UBIGINT + 1) / 4294967296.0 AS u
           FROM documents),
         q AS (SELECT doc_id, w,
             CAST(FLOOR(1000000 * ln(u)) AS BIGINT) AS lnq FROM b)
         SELECT doc_id AS id, w,
           CAST((lnq - (((lnq % w) + w) % w)) // w AS BIGINT) AS key_micro
         FROM q ORDER BY key_micro DESC, id LIMIT 100""")),
    // leakage-safe grouped k-fold: md5 fold per source so no group ever
    // straddles a train/eval boundary — pure map-side assignment
    QueryDef("q_group_kfold", (s, d) =>
      Sampling.groupKFold(documents(s, d), col("source"), k = 5, salt = 7L)
        .select(col("doc_id"), col("source"), col("fold")),
      Oracle("""SELECT doc_id, source,
           CAST(('0x' || substr(md5(source || ':7'), 1, 8))::UBIGINT % 5
             AS BIGINT) AS fold
         FROM documents""")),
    // quality-weighted corpus mixing: corpus-LM NLL buckets sampled at
    // per-bucket rates via the md5-uniform keep decision (oracled — both
    // the micro-nat NLL and md5 are cross-engine; cuts at the measured
    // NLL terciles of the synthetic corpus)
    QueryDef("q_quality_mix", (s, d) =>
      Flows.qualityMix(documents(s, d), col("doc_id"), col("text"),
        Seq((3400000L, 1.0), (3410000L, 0.5)), 0.1),
      Oracle(s"""WITH $unigramNllCtes,
         sc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                  round(avg(nll), 2) AS m
                FROM tok JOIN p USING (tok) GROUP BY 1),
         b AS (SELECT doc_id, n_tokens,
                 CASE WHEN m < 3400000 THEN 'q0'
                      WHEN m < 3410000 THEN 'q1'
                      ELSE 'tail' END AS bucket,
                 CASE WHEN m < 3400000 THEN 1.0
                      WHEN m < 3410000 THEN 0.5
                      ELSE 0.1 END AS rate,
                 (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT)
                   ::DOUBLE / 4294967296.0 AS u
               FROM sc)
         SELECT doc_id, bucket, n_tokens FROM b WHERE u < rate""")),
    // deterministic 90/5/5 train/val/test assignment by md5 bucket (oracled —
    // md5 is cross-engine, unlike xxhash64)
    QueryDef("q_train_val_split", (s, d) =>
      Sampling.assignSplit(documents(s, d), col("doc_id"),
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
        .select(col("doc_id"), col("source"), col("split")),
      Oracle("""SELECT doc_id, source,
           CASE WHEN u < 0.9 THEN 'train'
                WHEN u < 0.95 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                 (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT)
                   ::DOUBLE / 4294967296.0 AS u
               FROM documents)""")),
    // contrastive negative sampling: 3 deterministic self-pair-free uniform
    // negatives per doc via the seeded position index + one hash join (no
    // cartesian); md5/integer arithmetic end to end → oracled
    QueryDef("q_negative_pairs", (s, d) =>
      Sampling.negativeSamples(documents(s, d), col("doc_id"), k = 3,
        seed = 7L),
      Oracle("""WITH r AS (SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY
               md5(CAST(doc_id AS VARCHAR) || ':7')
                 || CAST(doc_id AS VARCHAR)) - 1 AS pos
           FROM documents),
         nn AS (SELECT count(*) AS n FROM documents),
         d AS (SELECT r.doc_id AS anchor_id, r.pos, t.t,
                 CAST(('0x' || substr(md5(CAST(r.doc_id AS VARCHAR) || ':' ||
                   CAST(t.t AS VARCHAR) || ':7'), 1, 8))::UBIGINT AS BIGINT)
                   % (nn.n - 1) AS j0
               FROM r, (SELECT unnest([1, 2, 3]) AS t) t, nn)
         SELECT d.anchor_id, CAST(d.t AS BIGINT) AS t, r2.doc_id AS neg_id
         FROM d JOIN r r2
           ON r2.pos = CASE WHEN d.j0 >= d.pos THEN d.j0 + 1 ELSE d.j0 END""")),
    // deterministic seeded corpus shuffle: exact global position under the
    // md5(id:seed) order + round-robin shard — distributed rank (range
    // repartition + zipWithIndex over one sort shuffle), never a
    // single-task global window (oracled — md5 order replays in SQL)
    QueryDef("q_global_shuffle", (s, d) =>
      Order.seededShuffle(documents(s, d).select(col("doc_id")),
          col("doc_id"), seed = 42L, numShards = 8, numParts = 8)
        .select(col("doc_id"), col("pos"), col("shard")),
      Oracle("""WITH r AS (SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY
               md5(CAST(doc_id AS VARCHAR) || ':42')
                 || CAST(doc_id AS VARCHAR)) - 1 AS pos
           FROM documents)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                CAST(pos % 8 AS BIGINT) AS shard
         FROM r""")),
    // per-domain frequency cap: URLs synthesized from doc_id on BOTH sides
    // (37 registrable domains), normalized (lowercase scheme/host, default
    // port, fragment, utm params), capped at 5 docs/domain by md5 rank via
    // the bounded top-k partial aggregation (oracled)
    QueryDef("q_domain_cap", (s, d) => {
      val url = concat(lit("HTTPS://WWW.Sub.Host"), col("doc_id") % 37,
        lit(".COM:443/p/"), col("doc_id"),
        lit("?utm_source=x&q="), col("doc_id"), lit("#frag"))
      val withDom = documents(s, d)
        .select(col("doc_id"), TextOps.normalizeUrl(url).as("url_norm"))
        .withColumn("domain", TextOps.registrableDomain(
          regexp_extract(col("url_norm"), "^[a-z]+://([^/?#]+)", 1)))
      Sampling.capPerKey(withDom, col("doc_id"), col("domain"), 5)
    },
      Oracle("""WITH u AS (SELECT doc_id,
           'HTTPS://WWW.Sub.Host' || (doc_id % 37) || '.COM:443/p/' || doc_id
             || '?utm_source=x&q=' || doc_id || '#frag' AS url
         FROM documents),
         n AS (SELECT doc_id,
            lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
            || '://' ||
            lower(regexp_replace(
              regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
              ':(443|80)$', '', 'g'))
            || regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+', '', 'g'),
                 '#.*', '', 'g'),
                 '\?(utm_[^&#]*&)+', '?', 'g'),
                 '&utm_[^&#]*', '', 'g'),
                 '\?utm_[^&#]*$', '', 'g') AS url_norm
         FROM u),
         dm AS (SELECT doc_id, url_norm,
            regexp_extract(regexp_extract(url_norm, '^[a-z]+://([^/?#]+)', 1),
              '([^.]+\.[^.]+)$', 1) AS domain
         FROM n),
         r AS (SELECT doc_id, url_norm, domain,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS rk
         FROM dm)
         SELECT doc_id, url_norm, domain FROM
           (SELECT doc_id, url_norm, domain,
              row_number() OVER (PARTITION BY domain ORDER BY rk, doc_id)
                AS rn
            FROM r)
         WHERE rn <= 5""")),
    // temperature-flattened source resampling (α = 1/2, c = 2): keep rate
    // min(1, 2/√n) per source, md5-uniform keep — √ is correctly-rounded
    // IEEE so the ppm-quantized rate is bit-exact cross-engine (oracled)
    QueryDef("q_temperature_mix", (s, d) =>
      Sampling.temperatureMix(
        documents(s, d).select(col("doc_id"), col("source")),
        col("doc_id"), col("source"), 2.0),
      Oracle("""WITH n AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
         r AS (SELECT source,
            CAST(floor(least(1.0, 2.0 / sqrt(cnt)) * 1000000.0) AS BIGINT)
              AS rate_ppm
         FROM n)
         SELECT d.doc_id, d.source, r.rate_ppm
         FROM documents d JOIN r USING (source)
         WHERE ('0x' || substr(md5('tmix:' || CAST(d.doc_id AS VARCHAR)),
                1, 8))::UBIGINT % 1000000 < r.rate_ppm""")),
  )
}
