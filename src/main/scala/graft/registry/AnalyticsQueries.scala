package graft
package registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.registry.QueryDef._

/** Aggregation and window queries (SURVEY §2.4, §2.5): the Grafana panel
  * rollups, the pandas analytics of the reference scripts and the VEE /
  * billing / forecasting compositions built on them. */
private[graft] object AnalyticsQueries {
  import SparkEntry._
  import Tables._

  /** The supplier→customer→nation link graph (src, dst) that q_pagerank,
    * q_pagerank_dangling and q_hits rank: supplier → ordering customer,
    * customer → nation. */
  private def linkGraph(s: SparkSession, d: String): DataFrame = {
    val sc = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"))
    val cn = customer(s, d)
      .select(concat(lit("c"), col("c_custkey")).as("src"),
        concat(lit("n"), col("c_nationkey")).as("dst"))
    sc.unionByName(cn)
  }

  /** The link graph's distinct edge CTE `e(src, dst)` in their oracles. */
  private val linkEdgesCte =
    """e AS (
           SELECT DISTINCT src, dst FROM (
             SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
             FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             UNION ALL
             SELECT 'c' || c_custkey, 'n' || c_nationkey FROM customer))"""

  /** The stale-register islands in SQL: 50-unit buckets `qq` of the
    * cents readings `t(key, ts, id, vc)`, bucket changes `c` under the
    * (ts, id) order, and the running island number `i(<cols>, island)`
    * (q_stuck_meter, q_vee_scorecard). */
  private def stuckIslandCtes(cols: String): String =
    s"""qq AS (SELECT key, ts, id,
             (vc - (((vc % 5000) + 5000) % 5000)) // 5000 AS q
           FROM t),
         c AS (SELECT key, ts, id, q,
             CASE WHEN LAG(q) OVER (PARTITION BY key ORDER BY ts, id)
                    IS DISTINCT FROM q THEN 1 ELSE 0 END AS chg
           FROM qq),
         i AS (SELECT $cols,
             CAST(SUM(chg) OVER (PARTITION BY key ORDER BY ts, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS island
           FROM c)"""

  /** The q_vee_scorecard oracle; q_vee_fleet wraps it verbatim. */
  private val veeScorecardSql =
    s"""WITH base AS (SELECT user_id AS key, ts, event_id AS id, value
           FROM events),
         t AS (SELECT key, ts, id, CAST(floor(value*100) AS BIGINT) AS vc
           FROM base WHERE value IS NOT NULL),
         tk AS (SELECT key, ts, vc,
             LAG(vc) OVER (PARTITION BY key ORDER BY ts, id) AS prev
           FROM t),
         pk AS (SELECT key,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
               AS days_present,
             CAST(date_diff('day', MIN(CAST(ts AS DATE)),
               MAX(CAST(ts AS DATE))) + 1 AS BIGINT) AS span_days,
             CAST(SUM(CASE WHEN prev IS NOT NULL AND abs(vc - prev) > 20000
               THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes
           FROM tk GROUP BY 1),
         ${stuckIslandCtes("key")},
         runs AS (SELECT key, island, COUNT(*) AS cnt
           FROM i GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         st AS (SELECT key, CAST(MAX(cnt) AS BIGINT) AS longest_stuck
           FROM runs GROUP BY 1),
         nl AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls
           FROM base GROUP BY 1)
         SELECT n.key, n.n_rows, n.n_nulls,
           CAST(COALESCE(p.days_present, 0) AS BIGINT) AS days_present,
           CAST(COALESCE(p.span_days, 0) AS BIGINT) AS span_days,
           CAST(CASE WHEN p.span_days > 0
             THEN (1000000 * p.days_present) // p.span_days
             ELSE 0 END AS BIGINT) AS completeness_ppm,
           CAST(COALESCE(p.n_spikes, 0) AS BIGINT) AS n_spikes,
           CAST(COALESCE(s.longest_stuck, 0) AS BIGINT) AS longest_stuck
         FROM nl n
         LEFT JOIN pk p ON p.key = n.key
         LEFT JOIN st s ON s.key = n.key"""

  /** The edge CTE plus each source's out-degree `o(src, d)` and the node
    * set `nodes(node)` (q_pagerank, q_pagerank_dangling). */
  private val linkGraphCtes =
    s"""$linkEdgesCte,
         o AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)"""

  /** PageRank round `k`'s contributions `c<k>(node, c)`: each node's round
    * k-1 rank floor-split over its out-edges. */
  private def rankContribCte(k: Int): String =
    s"""c$k AS (SELECT e.dst AS node, SUM(r${k - 1}.r // o.d) AS c
                FROM e JOIN o ON o.src = e.src
                JOIN r${k - 1} ON r${k - 1}.node = e.src GROUP BY 1)"""

  /** q_pagerank's round `k`: the contributions, then the damped rank
    * `r<k>(node, r)` = (15·10⁹ + 85·c) // 100. */
  private def pagerankRoundCtes(k: Int): String =
    s"""${rankContribCte(k)},
         r$k AS (SELECT n.node,
                  (15 * CAST(1000000000 AS BIGINT) + 85 * COALESCE(c$k.c, 0))
                    // 100 AS r
                FROM nodes n LEFT JOIN c$k ON c$k.node = n.node)"""

  /** Daily integer-cent sums `cell(grp, day, <v>)` per `key`, over the
    * non-NULL readings. */
  private def dailyCentsCell(key: String, v: String): String =
    s"""cell AS (SELECT $key AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS $v
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2)"""

  /** [[dailyCentsCell]] per event type as `x`, and each type's day count
    * and total `st(grp, day, x, n, s)` (q_acf, q_cusum). */
  private val dailyCentsCtes =
    s"""${dailyCentsCell("event_type", "x")},
         st AS (SELECT grp, day, x,
             CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n,
             CAST(SUM(x) OVER (PARTITION BY grp) AS BIGINT) AS s
           FROM cell)"""

  /** The hist-mean backtest in SQL: per (grp, day, hour) micro-unit sums
    * `g`, the strictly-earlier-days running sums `w`, and
    * `f(<keys>, actual_micro, pred_micro)` — exact floor means, NULL when a
    * cell has no readings (q_forecast_backtest, q_forecast_mae). */
  private def backtestCtes(keys: String): String =
    s"""g AS (
           SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
             SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS s,
             COUNT(value) AS n
           FROM events GROUP BY 1, 2, 3),
         w AS (
           SELECT grp, day, h, s, n,
             SUM(s) OVER (PARTITION BY grp, h ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ps,
             SUM(n) OVER (PARTITION BY grp, h ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pn
           FROM g),
         f AS (
           SELECT $keys,
             CASE WHEN n > 0 THEN
               CAST((s - (((s % n) + n) % n)) // n AS BIGINT) END
               AS actual_micro,
             CASE WHEN pn > 0 THEN
               CAST((ps - (((ps % pn) + pn) % pn)) // pn AS BIGINT) END
               AS pred_micro
           FROM w)"""

  val defs: Seq[QueryDef] = Seq(
    // ---- Aggregations (SURVEY §2.4) ----
    // A9 top-K by aggregate (Grafana piechart: GROUP BY plant ORDER BY SUM DESC LIMIT 10)
    QueryDef("q_topk_revenue", (s, d) =>
      Analytics.topKByGroup(lineitem(s, d), col("l_suppkey"),
        col("l_extendedprice") * (lit(1) - col("l_discount")), 10),
      Oracle("""SELECT l_suppkey AS grp,
         round(SUM(l_extendedprice * (1 - l_discount)), 2) AS total
         FROM lineitem GROUP BY 1 ORDER BY total DESC, grp LIMIT 10""")),
    // Exact heavy hitters via Misra-Gries sketch + candidate recount: the
    // derived key is two populations — 20 hot keys holding most of the mass
    // and a ~7919-key uniform cold tail — so the sketch (capacity 667 for
    // share=3000ppm) MUST evict constantly, and the MG superset guarantee is
    // what makes the exact recount complete. Oracle is the plain
    // GROUP BY ... HAVING over the same derived key: the sketch is plan
    // surgery, the answer is exact.
    QueryDef("q_heavy_hitters", (s, d) =>
      Analytics.heavyHitters(
        lineitem(s, d).select(
          when(col("l_linenumber") <= 3,
            concat(lit("hot_"), col("l_orderkey") % 20))
            .otherwise(concat(lit("cold_"), col("l_orderkey") % 7919))
            .as("k")),
        col("k"), 3000L),
      Oracle("""WITH k AS (SELECT CASE WHEN l_linenumber <= 3
                       THEN 'hot_' || (l_orderkey % 20)
                       ELSE 'cold_' || (l_orderkey % 7919) END AS key
                    FROM lineitem),
         tot AS (SELECT count(*) AS n FROM k)
         SELECT key, count(*)::BIGINT AS cnt FROM k GROUP BY 1
         HAVING count(*) * 1000000 >= (SELECT n FROM tot) * 3000""")),
    // A6 sum by group + hourly time bucket (Grafana timeseries panel)
    QueryDef("q_hourly_by_type", (s, d) =>
      Analytics.sumByTimeBucket(events(s, d), col("ts"), col("event_type"),
        col("value")),
      Oracle("""SELECT date_trunc('hour', ts) AS bucket, event_type AS grp,
         round(SUM(value), 2) AS total
         FROM events GROUP BY 1, 2""")),
    // A6 in KST — every reference dashboard panel buckets AT TIME ZONE
    // 'Asia/Seoul' (pv_dashboard.json); session TZ stays UTC throughout
    QueryDef("q_hourly_kst", (s, d) =>
      Analytics.sumByTimeBucketTz(events(s, d), col("ts"), col("event_type"),
        col("value"), "hour", "Asia/Seoul", "UTC"),
      // timezone(tz, TIMESTAMP→TIMESTAMPTZ) then timezone(tz, TIMESTAMPTZ→
      // TIMESTAMP): the inner call pins the instant to UTC independent of the
      // DuckDB session TimeZone, the outer renders Seoul wall time
      Oracle("""SELECT date_trunc('hour', timezone('Asia/Seoul', timezone('UTC', ts)))
           AS bucket_local,
         event_type AS grp, round(SUM(value), 2) AS total
         FROM events GROUP BY 1, 2""")),
    // A4 per-key high-watermark (daily_pv_automation.py:79-87)
    QueryDef("q_watermark", (s, d) =>
      Analytics.highWatermark(events(s, d), Seq(col("user_id").as("grp")),
        col("ts"), col("event_type")),
      Oracle("""SELECT user_id AS grp, max(ts) AS last_ts, max(event_type) AS carry
         FROM events GROUP BY 1""")),
    // A5 day-completeness probe (daily_pv_automation.py:52-71)
    QueryDef("q_day_completeness", (s, d) =>
      Analytics.dayCompleteness(events(s, d), col("ts"), 24),
      Oracle("""SELECT CAST(ts AS DATE) AS day,
         COUNT(DISTINCT EXTRACT(hour FROM ts)) AS n_hours
         FROM events GROUP BY 1 HAVING COUNT(DISTINCT EXTRACT(hour FROM ts)) >= 24""")),
    // A1 historical mean on (month,day,hour) (impute_missing.py:101-129)
    QueryDef("q_hist_mean_mdh", (s, d) =>
      Analytics.historicalMeanByMDH(events(s, d), col("event_type"),
        col("ts"), col("value")),
      Oracle("""WITH g AS (
           SELECT event_type AS grp, CAST(EXTRACT(month FROM ts) AS BIGINT) AS m,
             CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
             SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS s,
             COUNT(value) AS n
           FROM events GROUP BY 1, 2, 3, 4)
         SELECT grp, m, d, h,
           CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS hist_avg_micro
         FROM g""")),
    // A2 global stats: mean/stddev/null-count (impute_missing.py:240-257)
    QueryDef("q_global_stats", (s, d) =>
      events(s, d).agg(
        round(avg("value"), 6).as("mean_v"),
        round(stddev_samp("value"), 6).as("std_v"),
        sum(when(col("value").isNull, 1).otherwise(0)).as("n_null"),
        count(lit(1)).as("n_rows")),
      Oracle("""SELECT round(AVG(value), 6) AS mean_v,
         round(STDDEV_SAMP(value), 6) AS std_v,
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         COUNT(*) AS n_rows
         FROM events""")),
    // A3 group-by count-distinct (namdong_merge_pv_data.py:95-96)
    QueryDef("q_countdistinct_by_group", (s, d) =>
      events(s, d).groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).as("n_users")),
      Oracle("""SELECT event_type AS grp, COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1""")),
    // A7/P7 global sum over a timestamp range (Grafana stat panel) —
    // range-pruned at the scan via eventsRange (raw-long pushdown)
    QueryDef("q_sum_over_range", (s, d) =>
      Tables.eventsRange(s, d, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
        .agg(round(sum("value"), 2).as("total"), count(lit(1)).as("n")),
      Oracle("""SELECT round(SUM(value), 2) AS total, COUNT(*) AS n FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts <  TIMESTAMP '2024-01-20 00:00:00'""")),
    // A8/A11 global count-distinct + distinct values
    QueryDef("q_distinct_types", (s, d) =>
      events(s, d).select(col("event_type").as("t")).distinct(),
      Oracle("SELECT DISTINCT event_type AS t FROM events")),
    // A10-family: exact per-group percentiles (dashboard latency panels);
    // the mergeable-sketch twin is spec'd vs this exact form (oracled)
    QueryDef("q_percentiles", (s, d) =>
      Analytics.percentilesByGroup(events(s, d), col("event_type"),
        col("value")),
      Oracle("""SELECT event_type AS grp,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
         FROM events GROUP BY 1""")),
    // ordered funnel: view → click → purchase per user, stage i+1 counted
    // only at-or-after the user's stage-i time; integer-ppm conversions
    QueryDef("q_funnel", (s, d) =>
      Analytics.funnel(events(s, d), col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase")),
      Oracle("""WITH u AS (SELECT DISTINCT user_id FROM events),
         t0 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY 1),
         t1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN t0 ON t0.user_id = e.user_id
                WHERE e.event_type = 'click' AND e.ts >= t0.t GROUP BY 1),
         t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN t1 ON t1.user_id = e.user_id
                WHERE e.event_type = 'purchase' AND e.ts >= t1.t GROUP BY 1),
         n AS (SELECT (SELECT count(*) FROM u) AS total,
                      (SELECT count(*) FROM t0) AS n0,
                      (SELECT count(*) FROM t1) AS n1,
                      (SELECT count(*) FROM t2) AS n2)
         SELECT CAST(0 AS BIGINT) AS stage_ix, 'view' AS stage,
           CAST(n0 AS BIGINT) AS n_users,
           CAST(CASE WHEN total > 0 THEN (n0 * 1000000) // total
                     ELSE 0 END AS BIGINT) AS conv_ppm FROM n
         UNION ALL SELECT 1, 'click', CAST(n1 AS BIGINT),
           CAST(CASE WHEN n0 > 0 THEN (n1 * 1000000) // n0
                     ELSE 0 END AS BIGINT) FROM n
         UNION ALL SELECT 2, 'purchase', CAST(n2 AS BIGINT),
           CAST(CASE WHEN n1 > 0 THEN (n2 * 1000000) // n1
                     ELSE 0 END AS BIGINT) FROM n""")),
    // retention cohorts: first-activity-day cohorts × whole-week offsets —
    // integer day-diff//7, no calendar-week-convention ambiguity
    QueryDef("q_retention", (s, d) =>
      Analytics.retentionCohorts(events(s, d), col("user_id"), col("ts")),
      Oracle("""WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
                    FROM events GROUP BY 1)
         SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7
             AS BIGINT) AS offset_weeks,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
         FROM events e JOIN f ON f.user_id = e.user_id
         GROUP BY 1, 2""")),
    // winsorization: clamp values at per-group exact p05/p95 — integer-cent
    // compares, so no float boundary on the clamp (oracled)
    QueryDef("q_winsorize", (s, d) =>
      Analytics.winsorizeByGroup(
          events(s, d).select(col("event_id").as("id"),
            col("event_type").as("grp"), col("value")),
          col("grp"), col("value"), 0.05, 0.95)
        .select(col("id"), col("grp"), col("v_cents")),
      Oracle("""WITH b AS (SELECT event_type AS grp,
             CAST(floor(quantile_cont(value, 0.05) * 100) AS BIGINT) AS lo,
             CAST(floor(quantile_cont(value, 0.95) * 100) AS BIGINT) AS hi
           FROM events GROUP BY 1)
         SELECT e.event_id AS id, e.event_type AS grp,
           least(greatest(CAST(floor(e.value * 100) AS BIGINT), b.lo), b.hi)
             AS v_cents
         FROM events e JOIN b ON b.grp = e.event_type""")),
    // Fixed-iteration damped PageRank over the supplier→customer→nation
    // link graph (crawl-authority ranking for corpus curation, made
    // deterministic: ppb ranks, BIGINT floor arithmetic, 3 rounds —
    // replayed CTE-for-CTE in DuckDB)
    QueryDef("q_pagerank", (s, d) =>
      Graph.pageRank(linkGraph(s, d), col("src"), col("dst")),
      // 3 damped rounds unrolled CTE-for-CTE; every step BIGINT floor
      // arithmetic, so the replay is bit-exact (no float order to diverge)
      Oracle(s"""WITH $linkGraphCtes,
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         ${(1 to 3).map(pagerankRoundCtes).mkString(",\n         ")}
         SELECT node, CAST(r AS BIGINT) AS rank_ppb FROM r3""")),
    // dangling-mass-redistribution PageRank (the textbook variant): each
    // round the rank mass on no-out-edge nodes floor-splits across all
    // nodes and joins the contribution term — still all-BIGINT, replayed
    // CTE-for-CTE at iters=2 (the dangling sum is a one-row aggregate)
    QueryDef("q_pagerank_dangling", (s, d) =>
      Graph.pageRank(linkGraph(s, d), col("src"), col("dst"), iters = 2,
        redistributeDangling = true),
      // dangling-redistribution variant at iters=2: nn/dang are the node
      // count and the no-out-edge node set; each round's share is the
      // one-row dangling-mass sum floor-split across nodes (dm // n in
      // DuckDB == Spark div — both operands non-negative)
      Oracle(s"""WITH $linkGraphCtes,
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         dang AS (SELECT node FROM nodes
                  WHERE node NOT IN (SELECT src FROM e)),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         d1 AS (SELECT CAST(COALESCE(SUM(r0.r), 0) AS BIGINT) AS dm
                FROM r0 JOIN dang USING (node)),
         ${rankContribCte(1)},
         r1 AS (SELECT n.node,
                  (15 * CAST(1000000000 AS BIGINT)
                   + 85 * (COALESCE(c1.c, 0) + d1.dm // nn.n)) // 100 AS r
                FROM nodes n LEFT JOIN c1 ON c1.node = n.node
                CROSS JOIN d1 CROSS JOIN nn),
         d2 AS (SELECT CAST(COALESCE(SUM(r1.r), 0) AS BIGINT) AS dm
                FROM r1 JOIN dang USING (node)),
         ${rankContribCte(2)},
         r2 AS (SELECT n.node,
                  (15 * CAST(1000000000 AS BIGINT)
                   + 85 * (COALESCE(c2.c, 0) + d2.dm // nn.n)) // 100 AS r
                FROM nodes n LEFT JOIN c2 ON c2.node = n.node
                CROSS JOIN d2 CROSS JOIN nn)
         SELECT node, CAST(r AS BIGINT) AS rank_ppb FROM r2""")),
    // HITS hubs & authorities over the same link graph — the second
    // classic crawl-authority signal (Kleinberg 1999): fixed 2 iterations,
    // ppb integer scores, max-rescale per half-step — all BIGINT floor
    // arithmetic, replayed CTE-for-CTE in DuckDB
    QueryDef("q_hits", (s, d) =>
      Graph.hits(linkGraph(s, d), col("src"), col("dst"), iters = 2),
      // HITS replay, 2 iterations: auth_raw = Σ hub over in-edges, hub_raw =
      // Σ auth over out-edges, each half-step rescaled raw // max(1, max//R)
      // (floor at every step; round-1 hub is the constant R so auth_raw1 is
      // R·indeg straight off the edges — same shortcut as the engine)
      Oracle(s"""WITH $linkEdgesCte,
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         a1r AS (SELECT dst AS node, 1000000000 * COUNT(*) AS raw
                 FROM e GROUP BY 1),
         a1 AS (SELECT node, raw // GREATEST(1,
                    (SELECT MAX(raw) FROM a1r) // 1000000000) AS score
                FROM a1r),
         h1r AS (SELECT e.src AS node, CAST(SUM(a1.score) AS BIGINT) AS raw
                 FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
         h1 AS (SELECT node, raw // GREATEST(1,
                    (SELECT MAX(raw) FROM h1r) // 1000000000) AS score
                FROM h1r),
         a2r AS (SELECT e.dst AS node, CAST(SUM(h1.score) AS BIGINT) AS raw
                 FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
         a2 AS (SELECT node, raw // GREATEST(1,
                    (SELECT MAX(raw) FROM a2r) // 1000000000) AS score
                FROM a2r),
         h2r AS (SELECT e.src AS node, CAST(SUM(a2.score) AS BIGINT) AS raw
                 FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
         h2 AS (SELECT node, raw // GREATEST(1,
                    (SELECT MAX(raw) FROM h2r) // 1000000000) AS score
                FROM h2r)
         SELECT n.node,
           CAST(COALESCE(a2.score, 0) AS BIGINT) AS auth_ppb,
           CAST(COALESCE(h2.score, 0) AS BIGINT) AS hub_ppb
         FROM nodes n
         LEFT JOIN a2 ON a2.node = n.node
         LEFT JOIN h2 ON h2.node = n.node""")),
    // Incremental MV maintenance: prior rollup STATE + the new days' delta
    // merge into exactly the state a full rebuild produces — the corpus is
    // never re-read (both inputs are range-PRUNED scans via eventsRange).
    // Integer micro-unit state, exact floor mean derived at read time.
    QueryDef("q_incr_state", (s, d) => {
      def keys = Seq(to_date(col("ts")).as("day"), col("event_type").as("grp"))
      val prev = MatView.aggState(
        Tables.eventsRange(s, d, "2024-01-01 00:00:00", "2024-01-25 00:00:00"),
        keys, col("value"))
      val delta = MatView.aggState(
        Tables.eventsRange(s, d, "2024-01-25 00:00:00", "2030-01-01 00:00:00"),
        keys, col("value"))
      MatView.withMean(MatView.mergeStates(Seq(prev, delta), Seq("day", "grp")))
    },
      // the merged state is definitionally the full rebuild — the oracle IS
      // the one-shot GROUP BY; Euclidean floor mean matches pmod on Spark side
      Oracle("""WITH q AS (SELECT CAST(ts AS DATE) AS day, event_type AS grp,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
           FROM events)
         SELECT day, grp, CAST(SUM(vm) AS BIGINT) AS sum_micro,
           COUNT(vm) AS cnt, MIN(vm) AS min_micro, MAX(vm) AS max_micro,
           CASE WHEN COUNT(vm) > 0 THEN
             CAST((SUM(vm) - (((SUM(vm) % COUNT(vm)) + COUNT(vm))
               % COUNT(vm))) // COUNT(vm) AS BIGINT)
           END AS avg_micro
         FROM q GROUP BY 1, 2""")),
    // Incrementally-maintained percentiles: day-sliced histogram STATES
    // (range-pruned scans) merge into the month, then the quantile read
    // boundary — p25/p50/p90/p99 per event type, exact to one bucket
    // width, all integer. The slicing is invisible in the result (merge
    // law), so the oracle replays the one-shot math (oracled)
    QueryDef("q_quantile_state", (s, d) => {
      def keys = Seq(col("event_type").as("grp"))
      val a = MatView.histState(
        Tables.eventsRange(s, d, "2024-01-01 00:00:00", "2024-01-16 00:00:00"),
        keys, col("value"), 0L, 100000L, 1000)
      val b = MatView.histState(
        Tables.eventsRange(s, d, "2024-01-16 00:00:00", "2030-01-01 00:00:00"),
        keys, col("value"), 0L, 100000L, 1000)
      MatView.quantilesFromHistState(
        MatView.mergeHistStates(Seq(a, b), Seq("grp")), Seq("grp"),
        Seq(250000L, 500000L, 900000L, 990000L), 0L, 100000L, 1000)
    },
      Oracle("""WITH d0 AS (SELECT event_type AS grp,
             LEAST(99999, GREATEST(0, CAST(floor(value * 100) AS BIGINT)))
               AS d
           FROM events WHERE value IS NOT NULL),
         st AS (SELECT grp, CAST((d * 1000) // 100000 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM d0 GROUP BY 1, 2),
         e AS (SELECT grp, bucket, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n,
             CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket)
               AS BIGINT) AS cum
           FROM st),
         q AS (SELECT grp, bucket, n, cum,
             unnest([CAST(250000 AS BIGINT), CAST(500000 AS BIGINT),
                     CAST(900000 AS BIGINT), CAST(990000 AS BIGINT)])
               AS q_ppm
           FROM e),
         r AS (SELECT grp, q_ppm, n, MIN(bucket) AS bucket
           FROM q
           WHERE cum >= GREATEST(1, (q_ppm * n + 999999) // 1000000)
           GROUP BY 1, 2, 3)
         SELECT grp, q_ppm, n, bucket,
           CAST((bucket * 100000 + 999) // 1000 AS BIGINT) AS est_cents
         FROM r""")),
    // Data-quality expectation suite: all row rules ride ONE full-scan
    // aggregate; each uniqueness rule is one keyed shuffle (count-surplus).
    // The composite-key rule fails by design (32 surplus rows at sf0.01) —
    // a gate that can't fail verifies nothing.
    QueryDef("q_expectations", (s, d) =>
      Expectations.check(orders(s, d),
        rowRules = Seq(
          "not_null:o_custkey" -> col("o_custkey").isNull,
          "in_set:o_orderstatus" -> !col("o_orderstatus").isin("O", "F", "P"),
          "range:o_totalprice" ->
            (col("o_totalprice") < 0 || col("o_totalprice") > 450000)),
        uniqueRules = Seq(
          "unique:o_orderkey" -> Seq("o_orderkey"),
          "unique:o_custkey,o_orderdate" -> Seq("o_custkey", "o_orderdate"))),
      Oracle("""WITH n AS (SELECT count(*) AS n_rows FROM orders),
         rows_long AS (
           SELECT 'not_null:o_custkey' AS rule,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_violations FROM orders
           UNION ALL
           SELECT 'in_set:o_orderstatus',
             CAST(SUM(CASE WHEN NOT (o_orderstatus IN ('O','F','P'))
               THEN 1 ELSE 0 END) AS BIGINT) FROM orders
           UNION ALL
           SELECT 'range:o_totalprice',
             CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 450000
               THEN 1 ELSE 0 END) AS BIGINT) FROM orders),
         uniq AS (
           SELECT 'unique:o_orderkey' AS rule,
             (SELECT n_rows FROM n) - (SELECT count(*) FROM
               (SELECT 1 FROM orders GROUP BY o_orderkey)) AS n_violations
           UNION ALL
           SELECT 'unique:o_custkey,o_orderdate',
             (SELECT n_rows FROM n) - (SELECT count(*) FROM
               (SELECT 1 FROM orders GROUP BY o_custkey, o_orderdate))),
         allr AS (SELECT * FROM rows_long UNION ALL SELECT * FROM uniq)
         SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
           (SELECT n_rows FROM n) AS n_rows,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS pass
         FROM allr""")),
    // Blocked fuzzy record linkage over the part-name dictionary: distinct
    // names first (exact dupes are Dedup's job — raw pairing squares the
    // output), first-token blocking, length band, Levenshtein ≤ 4 (the
    // noun vocabulary's nearest in-block neighbors sit at distance 3)
    QueryDef("q_record_linkage", (s, d) =>
      Joins.blockedLinkage(part(s, d), col("p_partkey"), col("p_name"),
        n => split(n, " ").getItem(0), 4),
      Oracle("""WITH d AS (SELECT p_name AS nm, min(p_partkey) AS cid FROM part
                    GROUP BY 1),
         b AS (SELECT cid, nm, string_split(nm, ' ')[1] AS blk FROM d)
         SELECT l.cid AS l_id, r.cid AS r_id, l.nm AS l_name,
           r.nm AS r_name,
           CAST(levenshtein(l.nm, r.nm) AS BIGINT) AS dist
         FROM b l JOIN b r ON l.blk = r.blk AND l.cid < r.cid
         WHERE abs(length(l.nm) - length(r.nm)) <= 4
           AND levenshtein(l.nm, r.nm) <= 4""")),
    // Rolling 7-day MEDIAN baseline per type at the daily grain (twice the
    // median so the even-window .5 stays integer); RANGE frame over the
    // day index — calendar gaps shrink the window, never widen it
    QueryDef("q_rolling_median", (s, d) =>
      Analytics.rollingMedianDaily(events(s, d), col("event_type"),
        col("ts"), col("value"), 7),
      // 2·median of BIGINTs is integer-exact in DOUBLE (odd → 2·mid, even →
      // mid1+mid2, both far below 2^53) — cast back to BIGINT at the boundary
      Oracle("""WITH daily AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS s_cents,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS didx
           FROM events GROUP BY 1, 2, 4)
         SELECT grp, day, CAST(s_cents AS BIGINT) AS s_cents,
           CAST(2 * median(s_cents) OVER (PARTITION BY grp ORDER BY didx
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS twice_med_cents
         FROM daily""")),
    // Per-group feature scaling: percent-rank (rank(), ties shared) and
    // min-max, both integer ppm over cents — the ML-prep normalization pair
    QueryDef("q_feature_scaling", (s, d) =>
      Analytics.featureScaling(events(s, d), col("event_id"),
        col("event_type"), col("value")),
      Oracle("""WITH b AS (SELECT event_id AS id, event_type AS grp,
             CAST(floor(value * 100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL),
         r AS (SELECT id, grp, vc,
             rank() OVER (PARTITION BY grp ORDER BY vc) AS rk,
             count(*) OVER (PARTITION BY grp) AS n,
             min(vc) OVER (PARTITION BY grp) AS mn,
             max(vc) OVER (PARTITION BY grp) AS mx
           FROM b)
         SELECT id, grp,
           CAST(CASE WHEN n > 1 THEN ((rk - 1) * 1000000) // (n - 1)
                ELSE 0 END AS BIGINT) AS pr_ppm,
           CAST(CASE WHEN mx > mn THEN ((vc - mn) * 1000000) // (mx - mn)
                ELSE 0 END AS BIGINT) AS mm_ppm
         FROM r""")),
    // Generic per-group top-N rows via the BoundedTopK partial aggregate —
    // the window-rerank idiom without its per-group sort (bit-exact ties)
    QueryDef("q_topn_per_group", (s, d) =>
      Analytics.topNRowsPerGroup(events(s, d), col("event_type"),
        col("value"), col("event_id"), 5),
      Oracle("""WITH r AS (SELECT event_type AS grp, event_id AS id,
             value AS score,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id ASC) AS rn
           FROM events WHERE value IS NOT NULL)
         SELECT grp, id, score, rn FROM r WHERE rn <= 5""")),
    // Additive seasonal decomposition y = trend + seasonal + residual at
    // the hourly grain: ±12 h RANGE-frame trend, per-(type, hour-of-day)
    // seasonal profile, Euclidean floor means — all integer micro-units
    QueryDef("q_seasonal_decompose", (s, d) =>
      Forecast.seasonalDecompose(events(s, d), col("event_type"), col("ts"),
        col("value")),
      Oracle("""WITH g AS (SELECT event_type AS grp, date_trunc('hour', ts) AS h,
             SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS s,
             COUNT(value) AS n
           FROM events GROUP BY 1, 2),
         g2 AS (SELECT grp, h, s, n,
                  epoch_ns(h) // 3600000000000 AS hidx
                FROM g WHERE n > 0),
         t AS (SELECT grp, h, hidx, s, n,
                 CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS y,
                 SUM(s) OVER w AS ws, SUM(n) OVER w AS wn
               FROM g2 WINDOW w AS (PARTITION BY grp ORDER BY hidx
                 RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         t2 AS (SELECT grp, h, hidx, y,
                  CAST((ws - (((ws % wn) + wn) % wn)) // wn AS BIGINT)
                    AS trend
                FROM t),
         t3 AS (SELECT grp, h, hidx, y, trend, y - trend AS detr FROM t2),
         seas AS (SELECT grp, hidx % 24 AS hod, SUM(detr) AS sd,
                    COUNT(*) AS sn
                  FROM t3 GROUP BY 1, 2),
         s2 AS (SELECT grp, hod,
                  CAST((sd - (((sd % sn) + sn) % sn)) // sn AS BIGINT)
                    AS seasonal
                FROM seas)
         SELECT t3.grp, t3.h, t3.y AS y_micro, t3.trend AS trend_micro,
           s2.seasonal AS seasonal_micro,
           CAST(t3.y - t3.trend - s2.seasonal AS BIGINT) AS resid_micro
         FROM t3 JOIN s2 ON s2.grp = t3.grp AND s2.hod = t3.hidx % 24""")),
    // Daily-series autocorrelation at lags 1/2/7 per event type: the
    // persistence/weekly-cycle probe for lag-feature selection. Integer
    // ppm via n-scaled centering; DECIMAL stays internal (oracled)
    QueryDef("q_acf", (s, d) =>
      Forecast.acfByKey(events(s, d), col("event_type"), col("ts"),
        col("value"), Seq(1, 2, 7)),
      Oracle(s"""WITH $dailyCentsCtes,
         cc AS (SELECT grp, day, n, n*x - s AS c FROM st),
         l AS (SELECT grp, n, c,
             lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
             lag(c, 7) OVER w AS c7
           FROM cc WINDOW w AS (PARTITION BY grp ORDER BY day)),
         a AS (SELECT grp, n,
             SUM(CAST(c AS HUGEINT)*c) AS den,
             SUM(CAST(c AS HUGEINT)*c1) AS n1,
             SUM(CAST(c AS HUGEINT)*c2) AS n2,
             SUM(CAST(c AS HUGEINT)*c7) AS n7
           FROM l GROUP BY 1, 2),
         u AS (SELECT grp, n, den, CAST(1 AS BIGINT) AS lag_days,
                 n1 AS num FROM a
           UNION ALL SELECT grp, n, den, CAST(2 AS BIGINT), n2 FROM a
           UNION ALL SELECT grp, n, den, CAST(7 AS BIGINT), n7 FROM a)
         SELECT grp, lag_days, n,
           CASE WHEN den = 0 OR num IS NULL THEN NULL
                WHEN num >= 0 THEN CAST((1000000*num) // den AS BIGINT)
                ELSE -CAST((1000000*(-num)) // den AS BIGINT)
           END AS acf_ppm
         FROM u""")),
    // CUSUM level-shift monitor: prefix-sum-minus-running-min closed form
    // of the textbook clamped recursion, slack/alarm self-scaled in the
    // series' own mean absolute deviation — all BIGINT cents (oracled)
    QueryDef("q_cusum", (s, d) =>
      Forecast.cusumChangepoints(events(s, d), col("event_type"), col("ts"),
        col("value"), hMult = 3),
      Oracle(s"""WITH $dailyCentsCtes,
         -- Euclidean floor for mu: DuckDB integer `//` truncates toward
         -- zero (measured -7 // 2 = -3) while the engine floorDivs; s can
         -- be negative with net-metered readings. mad is an abs-sum (>= 0)
         -- so plain `//` is already the floor there.
         m AS (SELECT grp, day, x, n,
             (s - (((s % n) + n) % n)) // n AS mu,
             CAST(SUM(abs(x - ((s - (((s % n) + n) % n)) // n)))
               OVER (PARTITION BY grp) AS BIGINT) // n AS mad
           FROM st),
         rr AS (SELECT grp, day, x, mad,
             SUM(x - mu - (mad // 2)) OVER w AS su,
             SUM(x - mu + (mad // 2)) OVER w AS sd
           FROM m WINDOW w AS (PARTITION BY grp ORDER BY day)),
         h AS (SELECT grp, day, x, mad,
             su - LEAST(CAST(0 AS BIGINT),
               MIN(su) OVER w) AS up,
             GREATEST(CAST(0 AS BIGINT),
               MAX(sd) OVER w) - sd AS down
           FROM rr WINDOW w AS (PARTITION BY grp ORDER BY day))
         SELECT grp, day, x AS x_cents, mad AS mad_cents,
           CAST(up AS BIGINT) AS cusum_up_cents,
           CAST(down AS BIGINT) AS cusum_down_cents,
           CASE WHEN up > 3*mad AND down > 3*mad THEN 'both'
                WHEN up > 3*mad THEN 'up' ELSE 'down' END AS direction
         FROM h WHERE up > 3*mad OR down > 3*mad""")),
    // Integer OLS trend per event type: micro-cents/day slope, per-key
    // centered day index, DECIMAL-internal moments → BIGINT out (oracled)
    QueryDef("q_trend_slope", (s, d) =>
      Forecast.trendSlopeByKey(events(s, d), col("event_type"), col("ts"),
        col("value")),
      Oracle(s"""WITH ${dailyCentsCell("event_type", "y")},
         t AS (SELECT grp,
             CAST(date_diff('day', MIN(day) OVER (PARTITION BY grp), day)
               AS HUGEINT) AS t,
             CAST(y AS HUGEINT) AS y
           FROM cell),
         a AS (SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n, SUM(t) AS st,
             SUM(t*t) AS stt, SUM(y) AS sy, SUM(t*y) AS sty
           FROM t GROUP BY 1),
         b AS (SELECT grp, n, n*sty - st*sy AS num,
             n*stt - st*st AS den FROM a)
         SELECT grp, CAST(n AS BIGINT) AS n,
           CASE WHEN den = 0 THEN NULL
                WHEN num >= 0 THEN CAST((1000000*num) // den AS BIGINT)
                ELSE -CAST((1000000*(-num)) // den AS BIGINT)
           END AS slope_micro
         FROM b""")),
    // Calendar-correct lag-feature export: day−1/day−7 RANGE-frame lags
    // (gaps yield NULL, never a misaligned row), exact trailing-week
    // (sum, n), ISO day-of-week — the forecaster training table (oracled)
    QueryDef("q_lag_features", (s, d) =>
      Forecast.lagFeatures(events(s, d), col("event_type"), col("ts"),
        col("value")),
      Oracle(s"""WITH ${dailyCentsCell("event_type", "y")},
         d AS (SELECT grp, day, y,
             date_diff('day', DATE '1970-01-01', day) AS dd FROM cell)
         SELECT grp, day, y AS y_cents,
           MAX(y) OVER (PARTITION BY grp ORDER BY dd
             RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS lag1_cents,
           MAX(y) OVER (PARTITION BY grp ORDER BY dd
             RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS lag7_cents,
           CAST(SUM(y) OVER (PARTITION BY grp ORDER BY dd
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS wk_sum_cents,
           COUNT(*) OVER (PARTITION BY grp ORDER BY dd
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS wk_n,
           CAST(isodow(day) AS BIGINT) AS dow
         FROM d""")),
    // Theil–Sen robust trend: median of pairwise slopes (micro-cents/day,
    // sign-split integer quantization, twice-median so even-count
    // interpolation stays integer) — outlier-resistant OLS twin (oracled)
    QueryDef("q_theil_sen", (s, d) =>
      Forecast.theilSenSlopeByKey(events(s, d), col("event_type"),
        col("ts"), col("value")),
      Oracle(s"""WITH ${dailyCentsCell("event_type", "y")},
         t AS (SELECT grp,
             CAST(date_diff('day', MIN(day) OVER (PARTITION BY grp), day)
               AS BIGINT) AS t, y
           FROM cell),
         p AS (SELECT a.grp, b.y - a.y AS dy, b.t - a.t AS dt
           FROM t a JOIN t b ON a.grp = b.grp AND b.t > a.t),
         s AS (SELECT grp,
             CASE WHEN dy >= 0 THEN CAST((1000000*dy) // dt AS BIGINT)
                  ELSE -CAST((1000000*(-dy)) // dt AS BIGINT)
             END AS sm FROM p)
         SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(2 * median(sm) AS BIGINT) AS twice_med_slope_micro
         FROM s GROUP BY 1""")),
    // Bounded forward fill at the per-user daily grain: dense calendar
    // spine per user, carry ≤ 3 days — silent-beyond-horizon days stay
    // NULL; ROWS frame == calendar horizon because the spine is dense
    QueryDef("q_locf", (s, d) =>
      Impute.locfBounded(events(s, d), col("user_id"), col("ts"),
        col("value"), horizonDays = 3),
      Oracle("""WITH cell AS (SELECT user_id AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         sp AS (SELECT grp,
             UNNEST(generate_series(min(day), max(day), INTERVAL 1 DAY))
               AS dts
           FROM cell GROUP BY 1),
         j AS (SELECT sp.grp, CAST(sp.dts AS DATE) AS day, c.y,
             date_diff('day', DATE '1970-01-01', CAST(sp.dts AS DATE)) AS dd
           FROM sp LEFT JOIN cell c
             ON c.grp = sp.grp AND c.day = CAST(sp.dts AS DATE))
         SELECT grp, day, y AS y_cents,
           last_value(y IGNORE NULLS) OVER (PARTITION BY grp ORDER BY dd
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS filled_cents,
           dd - MAX(CASE WHEN y IS NOT NULL THEN dd END)
             OVER (PARTITION BY grp ORDER BY dd
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fill_age_days
         FROM j""")),
    // Demand-response 10-in-10 baseline: per (type, hour), mean of the
    // previous 10 same-hour WEEKDAY observations (ROWS frame — holidays
    // reach back, never shrink the sample); actual/baseline ppm (oracled)
    QueryDef("q_dr_baseline", (s, d) =>
      Forecast.drBaseline(events(s, d), col("event_type"), col("ts"),
        col("value"), nDays = 10),
      Oracle("""WITH g AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(extract(hour FROM ts) AS BIGINT) AS h,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT)
               AS x_cents
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
         wd AS (SELECT * FROM g WHERE isodow(day) <= 5),
         w AS (SELECT grp, day, h, x_cents,
             CAST(SUM(x_cents) OVER fr AS BIGINT) AS hs,
             COUNT(*) OVER fr AS n_hist
           FROM wd WINDOW fr AS (PARTITION BY grp, h ORDER BY day
             ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
         -- Euclidean floor on BOTH divisions: the engine floorDivs while
         -- DuckDB integer `//` truncates toward zero on negatives
         -- (net-metered export makes hs and x_cents negative)
         b AS (SELECT grp, day, h, x_cents, n_hist,
             CASE WHEN n_hist > 0 THEN CAST(
               (hs - (((hs % n_hist) + n_hist) % n_hist)) // n_hist
               AS BIGINT) END AS baseline_cents
           FROM w),
         x6 AS (SELECT grp, day, h, x_cents, baseline_cents, n_hist,
             1000000 * x_cents AS num FROM b)
         SELECT grp, day, h, x_cents, baseline_cents, n_hist,
           CASE WHEN baseline_cents > 0
             THEN CAST((num - (((num % baseline_cents) + baseline_cents)
               % baseline_cents)) // baseline_cents AS BIGINT)
           END AS ratio_ppm
         FROM x6""")),
    // Pairwise Spearman rank correlation of the type-level daily series:
    // all-integer rank statistic (doubled average ranks — no sqrt, no
    // float boundary), pairs aligned on common days only (oracled)
    QueryDef("q_spearman", (s, d) =>
      Forecast.spearmanCrossCorr(events(s, d), col("event_type"),
        col("ts"), col("value")),
      Oracle(s"""WITH ${dailyCentsCell("event_type", "y")},
         p AS (SELECT a.grp AS k1, b.grp AS k2, a.day, a.y AS x, b.y AS yv
           FROM cell a JOIN cell b ON a.day = b.day AND a.grp < b.grp),
         r AS (SELECT k1, k2,
             2*rank() OVER (PARTITION BY k1, k2 ORDER BY x)
               + COUNT(*) OVER (PARTITION BY k1, k2, x) - 1 AS rx,
             2*rank() OVER (PARTITION BY k1, k2 ORDER BY yv)
               + COUNT(*) OVER (PARTITION BY k1, k2, yv) - 1 AS ry
           FROM p),
         s AS (SELECT k1, k2, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((rx-ry)*(rx-ry)) AS BIGINT) AS sd2
           FROM r GROUP BY 1, 2)
         SELECT k1, k2, n AS n_common,
           CAST(1000000 - (6000000*sd2) // (4*n*(n*n-1)) AS BIGINT)
             AS spearman_ppm
         FROM s WHERE n >= 2""")),
    // degree-day weather sensitivity (IPMVP Option C simple regression):
    // daily load cents per type vs the 'view' series as the DECLARED
    // temperature proxy, hdd/cdd split at 150.00 units; integer OLS
    // slopes — decimal moments internal, sign-split division (the
    // trendSlope contract; oracled)
    QueryDef("q_degree_day", (s, d) => {
      val ev = events(s, d)
      Forecast.degreeDaySensitivity(
        ev.filter(col("event_type") =!= "view"), col("event_type"),
        col("ts"), col("value"),
        ev.filter(col("event_type") === "view"), col("ts"), col("value"),
        baseCents = 15000L)
    },
      Oracle("""WITH ld AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS y
           FROM events WHERE value IS NOT NULL AND event_type != 'view'
           GROUP BY 1, 2),
         tg AS (SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS tn
           FROM events WHERE value IS NOT NULL AND event_type = 'view'
           GROUP BY 1),
         td AS (SELECT day,
             (s - (((s % tn) + tn) % tn)) // tn AS t_cents FROM tg),
         j AS (SELECT grp,
             CAST(GREATEST(0, 15000 - t_cents) AS HUGEINT) AS h,
             CAST(GREATEST(0, t_cents - 15000) AS HUGEINT) AS c,
             CAST(y AS HUGEINT) AS y
           FROM ld JOIN td USING (day)),
         a AS (SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(h) AS sh, SUM(h*h) AS shh, SUM(c) AS sc, SUM(c*c) AS scc,
             SUM(y) AS sy, SUM(h*y) AS shy, SUM(c*y) AS scy
           FROM j GROUP BY 1),
         b AS (SELECT grp, n, n*shy - sh*sy AS numh, n*shh - sh*sh AS denh,
             n*scy - sc*sy AS numc, n*scc - sc*sc AS denc FROM a)
         SELECT grp, CAST(n AS BIGINT) AS n,
           CASE WHEN denh = 0 THEN NULL
                WHEN numh >= 0 THEN CAST((1000000*numh) // denh AS BIGINT)
                ELSE -CAST((1000000*(-numh)) // denh AS BIGINT)
           END AS hdd_slope_micro,
           CASE WHEN denc = 0 THEN NULL
                WHEN numc >= 0 THEN CAST((1000000*numc) // denc AS BIGINT)
                ELSE -CAST((1000000*(-numc)) // denc AS BIGINT)
           END AS cdd_slope_micro
         FROM b""")),
    // Per-user load-factor / peak-coincidence scorecard: mean/peak ppm +
    // share of own peak drawn on the system peak day (deterministic
    // struct-max argmax, min-day tiebreak) — all integer (oracled)
    QueryDef("q_load_factors", (s, d) =>
      Analytics.loadFactors(events(s, d), col("user_id"), col("ts"),
        col("value")),
      Oracle(s"""WITH ${dailyCentsCell("user_id", "x")},
         st AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS s, MAX(x) AS pk
           FROM cell GROUP BY 1),
         tot AS (SELECT day, CAST(SUM(x) AS BIGINT) AS t
           FROM cell GROUP BY 1),
         pd AS (SELECT day FROM tot ORDER BY t DESC, day ASC LIMIT 1),
         atp AS (SELECT grp, x AS xp FROM cell JOIN pd USING (day))
         SELECT st.grp, n_days, pk AS peak_cents,
           CASE WHEN pk > 0
             THEN CAST((1000000*s) // (n_days*pk) AS BIGINT) END
             AS load_factor_ppm,
           CASE WHEN pk > 0 AND xp IS NOT NULL
             THEN CAST((1000000*xp) // pk AS BIGINT) END
             AS coincidence_ppm
         FROM st LEFT JOIN atp USING (grp)""")),
    // Mix-diversity monitor: Shannon entropy (ppm shares, micro-nat ln)
    // of each day's event-type mix — collapse of a day's diversity is the
    // corpus-mix alarm
    QueryDef("q_mix_entropy", (s, d) =>
      Analytics.mixEntropy(
        events(s, d).select(to_date(col("ts")).as("day"), col("event_type")),
        col("day"), col("event_type")),
      Oracle("""WITH c AS (SELECT CAST(ts AS DATE) AS grp, event_type,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT grp, event_type, n, sum(n) OVER (PARTITION BY grp)
                 AS tot FROM c),
         p AS (SELECT grp, n, tot,
                 greatest(1, (n * 1000000) // tot) AS pp FROM t)
         SELECT grp, count(*) AS n_cats, CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(-sum(pp * CAST(round(ln(CAST(pp AS DOUBLE) / 1000000)
             * 1000000) AS BIGINT)) AS BIGINT) AS entropy_pn
         FROM p GROUP BY 1""")),
    // Markov transition matrix: which event type follows which, per-user
    // ordered streams under the (ts, event_id) total order — state²-sized
    // output from one window shuffle
    QueryDef("q_transitions", (s, d) =>
      Analytics.transitionCounts(events(s, d), col("user_id"), col("ts"),
        col("event_id"), col("event_type")),
      Oracle("""WITH o AS (SELECT event_type AS s,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
           FROM events)
         SELECT s AS from_state, nxt AS to_state, count(*) AS n
         FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2""")),
    // Distribution-drift monitor (PSI): value distribution of the first
    // half of January vs the second, per type, over the histogram's
    // declared buckets — ppm shares with a 1-ppm floor, micro-nat ln terms
    QueryDef("q_drift_psi", (s, d) =>
      Analytics.psiByGroup(
        Tables.eventsRange(s, d, "2024-01-01 00:00:00", "2024-01-16 00:00:00"),
        Tables.eventsRange(s, d, "2024-01-16 00:00:00", "2030-01-01 00:00:00"),
        col("event_type"), col("value"), 0L, 20000L, 20),
      Oracle("""WITH rh AS (SELECT event_type AS grp,
             (least(19999, greatest(0,
               CAST(floor(value * 100) AS BIGINT))) * 20) // 20000 AS bucket,
             count(*) AS rc
           FROM events
           WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16 00:00:00'
           GROUP BY 1, 2),
         ch AS (SELECT event_type AS grp,
             (least(19999, greatest(0,
               CAST(floor(value * 100) AS BIGINT))) * 20) // 20000 AS bucket,
             count(*) AS cc
           FROM events
           WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16 00:00:00'
           GROUP BY 1, 2),
         groups AS (SELECT grp FROM rh UNION SELECT grp FROM ch),
         spine AS (SELECT grp, gs.generate_series AS bucket
                   FROM groups CROSS JOIN generate_series(0, 19)
                     gs(generate_series)),
         rt AS (SELECT grp, sum(rc) AS rtot FROM rh GROUP BY 1),
         ct AS (SELECT grp, sum(cc) AS ctot FROM ch GROUP BY 1),
         j AS (SELECT s.grp, s.bucket,
                 greatest(1, (COALESCE(rh.rc, 0) * 1000000) // rt.rtot)
                   AS p_ppm,
                 greatest(1, (COALESCE(ch.cc, 0) * 1000000) // ct.ctot)
                   AS q_ppm
               FROM spine s
               LEFT JOIN rh ON rh.grp = s.grp AND rh.bucket = s.bucket
               LEFT JOIN ch ON ch.grp = s.grp AND ch.bucket = s.bucket
               JOIN rt ON rt.grp = s.grp JOIN ct ON ct.grp = s.grp)
         SELECT grp, CAST(bucket AS BIGINT) AS bucket,
           CAST(p_ppm AS BIGINT) AS p_ppm, CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST((p_ppm - q_ppm) *
             CAST(round(ln(CAST(p_ppm AS DOUBLE) / q_ppm) * 1000000)
               AS BIGINT) AS BIGINT) AS term
         FROM j""")),
    // Hashing-trick featurization: fixed 64-slot space, no vocabulary pass,
    // cross-engine md5 slots — sparse (doc, slot, cnt) long form
    QueryDef("q_hash_features", (s, d) =>
      TextOps.hashFeatures(documents(s, d), col("doc_id"), col("text"), 64),
      Oracle("""WITH tok AS (SELECT doc_id,
             unnest(string_split(text, ' ')) AS term
           FROM documents)
         SELECT doc_id,
           CAST(('0x' || substr(md5(term), 1, 8))::UBIGINT % 64 AS BIGINT)
             AS slot,
           count(*) AS cnt
         FROM tok GROUP BY 1, 2""")),
    // Equi-width histogram over a declared [0, 200.00) cent range, 20
    // buckets — one partial-agg pass, clamped integer bucket arithmetic
    QueryDef("q_histogram", (s, d) =>
      Analytics.histogram(events(s, d), col("event_type"), col("value"),
        0L, 20000L, 20),
      Oracle("""WITH p AS (SELECT event_type AS grp,
             least(19999, greatest(0,
               CAST(floor(value * 100) AS BIGINT) - 0)) AS d
           FROM events WHERE value IS NOT NULL)
         SELECT grp, CAST((d * 20) // 20000 AS BIGINT) AS bucket,
           count(*) AS cnt
         FROM p GROUP BY 1, 2""")),
    // Equi-depth bins (per-group ntile under the (value, id) total order) —
    // the ML feature-binning twin: equal counts per bin, group-bounded sort
    QueryDef("q_equidepth_bins", (s, d) =>
      Analytics.equiDepthBins(events(s, d), col("event_type"), col("value"),
        col("event_id"), 10),
      Oracle("""SELECT event_id AS id, event_type AS grp,
           CAST(ntile(10) OVER (PARTITION BY event_type
             ORDER BY value, event_id) AS BIGINT) AS bin
         FROM events WHERE value IS NOT NULL""")),
    // Runtime-filter selective join: the nation-3 customer sliver condenses
    // to a Bloom filter; the codegen'd might-contain probe prefilters the
    // orders scan map-side so only the sliver enters the join shuffle.
    // Exact: FPs die in the join — the oracle is the plain join.
    QueryDef("q_bloom_join", (s, d) => {
      val dim = customer(s, d).filter(col("c_nationkey") === 3)
        .select(col("c_custkey"), col("c_nationkey"))
      Joins.bloomPrefilteredJoin(
        orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("o_custkey"), dim, col("c_custkey"),
        expectedDistinct = 10000L)
        .select(col("o_orderkey"), col("c_custkey"))
    },
      Oracle("""SELECT o_orderkey, c_custkey FROM orders
         JOIN customer ON o_custkey = c_custkey
         WHERE c_nationkey = 3""")),
    // Multi-generation schema-drift ingest: two simulated feed generations
    // (one missing event_type + carrying an extra column, one with value
    // serialized as string) conform BY NAME to one target schema — typed
    // NULLs for missing columns, extras dropped, casts per field; map-only
    // per input, then union.
    QueryDef("q_conform_union", (s, d) => {
      import org.apache.spark.sql.types._
      val target = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val genA = events(s, d).filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("value"), col("props"))
      val genB = events(s, d).filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("event_type"),
          col("value").cast("string").as("value"))
      Ingest.conformUnion(Seq(genA, genB), target)
    },
      // string→double round-trips exactly in both engines (shortest-repr
      // printing), so genB's serialized values compare bit-equal
      Oracle("""SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS event_type, value
         FROM events WHERE event_id % 2 = 0
         UNION ALL
         SELECT event_id, CAST(NULL AS BIGINT), event_type,
           CAST(CAST(value AS VARCHAR) AS DOUBLE)
         FROM events WHERE event_id % 2 = 1""")),
    // Gap-filled 15-minute resample: corpus → (type, bucket) grain in one
    // partial-agg pass; the dense grid (keys × sequence) is grid-sized and
    // left-joins the grain with zero fill — missing intervals become
    // explicit (0.0, 0) rows, the dense-series contract downstream
    // imputers/models need.
    QueryDef("q_resample_fill", (s, d) =>
      Analytics.resampleFill(events(s, d), col("event_type"), col("ts"),
        col("value"), 900L, "2024-01-01 00:00:00", "2024-01-30 23:45:00"),
      Oracle("""WITH c AS (SELECT
             epoch_ns(TIMESTAMP '2024-01-01 00:00:00') // 1000000000 AS f,
             epoch_ns(TIMESTAMP '2024-01-30 23:45:00') // 1000000000 AS t),
         p AS (SELECT event_type AS grp,
                 epoch_ns(ts) // 1000000000 AS s, value
               FROM events, c
               WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
                 AND ts < TIMESTAMP '2024-01-31 00:00:00'),
         g AS (SELECT grp, s - (((s - f) % 900 + 900) % 900) AS bs,
                 round(SUM(value), 2) AS total, COUNT(value) AS n
               FROM p, c GROUP BY 1, 2),
         keys AS (SELECT DISTINCT grp FROM g),
         grid AS (SELECT keys.grp,
                    (f + 900 * gs.generate_series) AS bs
                  FROM keys, c CROSS JOIN
                    generate_series(0, 2879) gs(generate_series))
         SELECT grid.grp, make_timestamp(grid.bs * 1000000) AS bucket,
           coalesce(g.total, 0) AS total,
           CAST(coalesce(g.n, 0) AS BIGINT) AS n
         FROM grid LEFT JOIN g ON g.grp = grid.grp AND g.bs = grid.bs""")),
    // Referential-integrity gate rows (dbt relationships): the orderkey FK
    // holds; the supplier FK is checked against a RESTRICTED dim so it
    // fails by design — one key join + one-row aggregate per rule
    QueryDef("q_expectations_fk", (s, d) =>
      Expectations.checkFk(lineitem(s, d), col("l_orderkey"), orders(s, d),
          col("o_orderkey"), "fk:l_orderkey->orders")
        .unionByName(Expectations.checkFk(lineitem(s, d), col("l_suppkey"),
          supplier(s, d).filter(col("s_nationkey") < 20), col("s_suppkey"),
          "fk:l_suppkey->supplier[nation<20]")),
      Oracle("""WITH r1 AS (SELECT
             CAST((SELECT count(*) FROM lineitem l
                   WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
                     (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
               AS n_violations,
             (SELECT count(*) FROM lineitem) AS n_rows),
         r2 AS (SELECT
             CAST((SELECT count(*) FROM lineitem l
                   WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS
                     (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey
                        AND s.s_nationkey < 20)) AS BIGINT)
               AS n_violations,
             (SELECT count(*) FROM lineitem) AS n_rows)
         SELECT 'fk:l_orderkey->orders' AS rule, n_violations, n_rows,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS pass FROM r1
         UNION ALL
         SELECT 'fk:l_suppkey->supplier[nation<20]', n_violations, n_rows,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
         FROM r2""")),
    // Backtest of the reference's historical-mean forecaster: per (type,
    // day, hour) cell, the prediction is the expanding mean over STRICTLY
    // earlier days (no leakage); exact integer micro-units throughout. The
    // corpus collapses to the grain in one partial-agg pass; the window
    // runs over grain-sized data only.
    QueryDef("q_forecast_backtest", (s, d) =>
      Forecast.backtestHistMean(events(s, d), col("event_type"), col("ts"),
        col("value")),
      Oracle(s"""WITH ${backtestCtes("grp, day, h")}
         SELECT grp, day, h, actual_micro, pred_micro,
           CAST(abs(actual_micro - pred_micro) AS BIGINT) AS abs_err_micro
         FROM f""")),
    // per-key scorecard over the backtest: cells scored + floor MAE
    QueryDef("q_forecast_mae", (s, d) =>
      Forecast.maeByKey(Forecast.backtestHistMean(events(s, d),
        col("event_type"), col("ts"), col("value"))),
      Oracle(s"""WITH ${backtestCtes("grp")},
         e AS (SELECT grp, abs(actual_micro - pred_micro) AS err FROM f
               WHERE actual_micro IS NOT NULL AND pred_micro IS NOT NULL),
         m AS (SELECT grp, count(*) AS n_cells, SUM(err) AS se
               FROM e GROUP BY 1)
         SELECT grp, n_cells,
           CAST((se - (((se % n_cells) + n_cells) % n_cells)) // n_cells
             AS BIGINT) AS mae_micro
         FROM m""")),
    // Mergeable distinct-count rollup: daily HLL sketch STATE per type,
    // merged to the whole range and estimated only at the read boundary —
    // the non-additive MV pattern (daily sketch tables make COUNT DISTINCT
    // maintainable without corpus re-reads). Rows-only: Datasketches
    // registers aren't SQL-replayable; merge laws are spec'd (MatViewSpec).
    QueryDef("q_sketch_rollup", (s, d) => {
      val daily = MatView.distinctSketchState(events(s, d),
        Seq(col("event_type").as("grp"), to_date(col("ts")).as("day")),
        col("user_id"))
      MatView.sketchEstimate(
        MatView.mergeDistinctSketches(Seq(daily), Seq("grp")))
    },
      RowsOnly("graft.MatViewSpec")),
    // fixed twin of the HLL rollup mechanism (the last rows-only entry
    // without a cross-engine pin): Datasketches
    // HLL is EXACT below its sparse-mode promotion threshold, so on a
    // domain capped at 100 distincts per key the daily-sketch → merge →
    // estimate chain must equal DuckDB's COUNT(DISTINCT) — the MatViewSpec
    // "exact at small n" property lifted into the oracle. The production
    // q_sketch_rollup stays rows-only (real registers aren't replayable).
    QueryDef("q_sketch_rollup_fixed", (s, d) => {
      val daily = MatView.distinctSketchState(
        events(s, d).withColumn("uid_small", col("user_id") % 100),
        Seq(col("event_type").as("grp"), to_date(col("ts")).as("day")),
        col("uid_small"))
      MatView.sketchEstimate(
        MatView.mergeDistinctSketches(Seq(daily), Seq("grp")))
    },
      // HLL exact-mode twin: ≤100 distincts per key keeps every sketch in
      // sparse (coupon) mode, where merge + estimate is exact — COUNT
      // (DISTINCT) replays it
      Oracle("""SELECT event_type AS grp,
         CAST(COUNT(DISTINCT user_id % 100) AS BIGINT) AS n_distinct_est
         FROM events GROUP BY 1""")),
    // Semi-structured JSON extraction: events.props is a JSON payload
    // column; parse with an EXPLICIT schema (map-only codegen'd from_json —
    // inference is sample-bounded via Ingest.inferJsonSchema, never a
    // full-corpus scan) and aggregate on the extracted typed field.
    QueryDef("q_json_extract", (s, d) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      Ingest.withJsonFields(
        events(s, d).select(col("event_id"), col("value"), col("props")),
        "props", StructType(Seq(StructField("k", LongType))))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total"))
    },
      Oracle("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         COUNT(*) AS cnt, round(SUM(value), 2) AS total
         FROM events GROUP BY 1""")),
    // One-pass per-column dataset profile (row/null/distinct counts, numeric
    // min/max) — exact distincts here as the oracle twin; profileApprox
    // (HLL++, no Expand) is the corpus-scale default, spec'd against this.
    QueryDef("q_profile", (s, d) =>
      Analytics.profile(events(s, d),
        numericCols = Seq("event_id", "user_id", "value"),
        otherCols = Seq("event_type", "props")),
      Oracle("""SELECT 'event_id' AS col_name, count(*) AS n_rows,
           count(*) - count(event_id) AS n_null,
           count(DISTINCT event_id) AS n_distinct,
           min(event_id)::DOUBLE AS min_v, max(event_id)::DOUBLE AS max_v
         FROM events
         UNION ALL
         SELECT 'user_id', count(*), count(*) - count(user_id),
           count(DISTINCT user_id), min(user_id)::DOUBLE, max(user_id)::DOUBLE
         FROM events
         UNION ALL
         SELECT 'value', count(*), count(*) - count(value),
           count(DISTINCT value), min(value)::DOUBLE, max(value)::DOUBLE
         FROM events
         UNION ALL
         SELECT 'event_type', count(*), count(*) - count(event_type),
           count(DISTINCT event_type), NULL::DOUBLE, NULL::DOUBLE
         FROM events
         UNION ALL
         SELECT 'props', count(*), count(*) - count(props),
           count(DISTINCT props), NULL::DOUBLE, NULL::DOUBLE
         FROM events""")),
    // Z-order (Morton) layout key over (user_id, micro-quantized value):
    // the multi-dimensional clustering index behind Sink.writeZOrdered's
    // file-skipping layout. All-integer shift/interleave math with FIXED
    // caller-declared pow-2 ranges (stable across appends) — bit-exact in
    // SQL. Prunability of the written layout is measured in SinkIngestSpec;
    // this oracles the index math itself row by row.
    QueryDef("q_zorder", (s, d) =>
      events(s, d).select(col("event_id"),
        Order.zValue(
          Seq(col("user_id"), floor(col("value") * 1e6).cast("long")),
          Seq((0L, 2047L), (0L, (1L << 30) - 1)), bits = 8).as("z")),
      Oracle("""WITH b AS (SELECT event_id,
           least(255, greatest(0, coalesce(user_id, 0) >> 3)) AS b1,
           least(255, greatest(0,
             coalesce(CAST(floor(value * 1000000.0) AS BIGINT), 0) >> 22))
             AS b2
         FROM events)
         SELECT event_id,
           ((((b1 >> 0) & 1) << 1) | (((b2 >> 0) & 1) << 0) |
            (((b1 >> 1) & 1) << 3) | (((b2 >> 1) & 1) << 2) |
            (((b1 >> 2) & 1) << 5) | (((b2 >> 2) & 1) << 4) |
            (((b1 >> 3) & 1) << 7) | (((b2 >> 3) & 1) << 6) |
            (((b1 >> 4) & 1) << 9) | (((b2 >> 4) & 1) << 8) |
            (((b1 >> 5) & 1) << 11) | (((b2 >> 5) & 1) << 10) |
            (((b1 >> 6) & 1) << 13) | (((b2 >> 6) & 1) << 12) |
            (((b1 >> 7) & 1) << 15) | (((b2 >> 7) & 1) << 14))::BIGINT AS z
         FROM b""")),

    // ---- Windows (SURVEY §2.5) ----
    // A10 per-day summary stats as window aggregates (daily_pv_automation.py:176-179)
    QueryDef("q_daily_stats_window", (s, d) =>
      Analytics.dailyStatsWindow(events(s, d), col("event_type"), col("ts"),
        col("value")),
      Oracle("""SELECT event_type AS grp, ts, value AS v,
         round(SUM(value)  OVER w, 2) AS daily_total,
         round(AVG(value)  OVER w, 6) AS daily_avg,
         round(MAX(value)  OVER w, 6) AS daily_max,
         round(MIN(value)  OVER w, 6) AS daily_min
         FROM events
         WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE))""")),
    // P11 sliding recency window as a per-row RANGE-frame rolling aggregate
    QueryDef("q_rolling_window", (s, d) =>
      Analytics.rollingByKey(events(s, d), col("event_type"), col("ts"),
        col("value"), days = 7),
      Oracle("""WITH daily AS (
           SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             SUM(value) AS dv, COUNT(*) AS dn
           FROM events GROUP BY 1, 2)
         SELECT grp, day,
           round(SUM(dv) OVER w, 2) AS rolling_total,
           CAST(SUM(dn) OVER w AS BIGINT) AS rolling_n
         FROM daily
         WINDOW w AS (PARTITION BY grp
                      ORDER BY date_diff('day', DATE '1970-01-01', day)
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""")),
    // lag-based per-key delta (explicit total order)
    QueryDef("q_delta_lag", (s, d) =>
      Analytics.deltaVsPrev(events(s, d), col("event_type"), col("ts"),
        col("event_id"), col("value")),
      Oracle("""SELECT event_type AS grp, ts, event_id AS id,
         round(value, 2) AS v,
         round(value - LAG(value, 1) OVER (PARTITION BY event_type
           ORDER BY ts, event_id), 2) AS delta
         FROM events""")),
    // integer-exact EWMA smoothing per user (decay 1/2, depth 20): cents ×
    // power-of-two weights summed in BIGINT — bit-identical cross-engine,
    // one Window operator for all 21 lags
    QueryDef("q_ewma", (s, d) =>
      Analytics.ewmaScaledByKey(events(s, d), col("user_id"), col("ts"),
          col("event_id"), col("value"))
        .select(col("event_id").as("id"), col("user_id"),
          col("ewma_scaled")),
      Oracle({
      val terms = (0 to 20).map(k =>
        s"coalesce(lag(vc, $k) OVER w, 0) * ${1L << (20 - k)}")
        .mkString(" + ")
      s"""WITH c AS (SELECT event_id AS id, user_id, ts,
               CAST(floor(value * 100) AS BIGINT) AS vc FROM events)
         SELECT id, user_id, CAST($terms AS BIGINT) AS ewma_scaled
         FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, id)"""
    })),
    // cumulative rollover-meter → interval consumption: the register is
    // SIMULATED from events (running cents sum mod 1e5 per user — a wrapping
    // mechanical counter), then meterIntervals recovers per-tick usage with
    // wrap healing; all integer, oracled
    QueryDef("q_meter_intervals", (s, d) => {
      val m = 100000L
      val run = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val simulated = events(s, d)
        .withColumn("_reading", pmod(
          sum(round(col("value") * 100, 0).cast("long")).over(run), lit(m)))
      Analytics.meterIntervals(simulated, col("user_id"), col("ts"),
        col("event_id"), col("_reading"), wrapModulus = Some(m))
    },
      Oracle("""WITH c AS (SELECT user_id AS key, ts, event_id AS id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
         r AS (SELECT key, ts, id,
             SUM(cents) OVER (PARTITION BY key ORDER BY ts, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           FROM c),
         m AS (SELECT key, ts, id,
             CAST(((run % 100000) + 100000) % 100000 AS BIGINT)
               AS reading_cents
           FROM r),
         l AS (SELECT key, ts, id, reading_cents,
             LAG(reading_cents) OVER (PARTITION BY key ORDER BY ts, id)
               AS prev
           FROM m)
         SELECT key, ts, id, reading_cents,
           CAST(CASE WHEN prev IS NULL THEN NULL
                WHEN reading_cents - prev >= 0 THEN reading_cents - prev
                ELSE reading_cents - prev + 100000 END AS BIGINT)
             AS used_cents,
           COALESCE(reading_cents - prev < 0, FALSE) AS is_discontinuity
         FROM l""")),
    // meter cadence profile: exact integer stats of inter-arrival gaps
    // per key (doubled median, rank-exact p95, max) — the reporting-
    // regularity check; one key-window shuffle (oracled)
    QueryDef("q_cadence_profile", (s, d) =>
      Analytics.cadenceProfile(events(s, d), col("user_id"), col("ts"),
        col("event_id")),
      // rank-exact gap statistics: same (gap, ts, id) rank total order,
      // same doubled-median / ceil-p95 arithmetic (all operands positive,
      // so `//` is floor here)
      Oracle("""WITH g AS (SELECT user_id AS grp, ts, event_id AS id,
             epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
           FROM events),
         gg AS (SELECT grp, ts, id, CAST(gap_ms AS BIGINT) AS gap_ms
           FROM g WHERE gap_ms IS NOT NULL),
         r AS (SELECT grp, gap_ms,
             CAST(ROW_NUMBER() OVER (PARTITION BY grp
               ORDER BY gap_ms, ts, id) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
           FROM gg)
         SELECT grp, MAX(n) AS n_gaps,
           CAST(SUM(CASE
               WHEN n % 2 = 1 AND rn = (n + 1) // 2 THEN 2 * gap_ms
               WHEN n % 2 = 0 AND (rn = n // 2 OR rn = n // 2 + 1)
                 THEN gap_ms
               ELSE 0 END) AS BIGINT) AS twice_median_gap_ms,
           CAST(SUM(CASE WHEN rn = (95 * n + 99) // 100 THEN gap_ms
               ELSE 0 END) AS BIGINT) AS p95_gap_ms,
           MAX(gap_ms) AS max_gap_ms
         FROM r GROUP BY 1""")),
    // fleet-level VEE rollup: one row of meter counts by failure class
    // (90% completeness floor) — the ops-dashboard summary (oracled)
    QueryDef("q_vee_fleet", (s, d) =>
      Analytics.veeFleetRollup(
        Analytics.veeScorecard(events(s, d), col("user_id"), col("ts"),
          col("event_id"), col("value"))),
      // the fleet rollup wraps the scorecard oracle VERBATIM (shared text,
      // can't drift) in a one-row classification aggregate
      Oracle(s"""WITH sc AS ($veeScorecardSql)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_meters,
           CAST(SUM(CASE WHEN completeness_ppm < 900000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_incomplete,
           CAST(SUM(CASE WHEN n_spikes > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_spiky,
           CAST(SUM(CASE WHEN longest_stuck > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_stuck,
           CAST(SUM(CASE WHEN n_nulls > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_with_nulls
         FROM sc""")),
    // VEE stale-register check: maximal runs of >= 3 ticks in the same
    // 50-unit bucket per user under the (ts, event_id) total order —
    // gaps-and-islands, floorDiv bucketing (oracled, Euclidean idiom)
    QueryDef("q_stuck_meter", (s, d) =>
      Analytics.stuckRuns(events(s, d), col("user_id"), col("ts"),
        col("event_id"), col("value"), quantCents = 5000L, minLen = 3),
      // stuck-run replay: same floorDiv bucketing (Euclidean idiom — DuckDB
      // integer `//` truncates on negatives), same gaps-and-islands
      Oracle(s"""WITH t AS (SELECT user_id AS key, ts, event_id AS id,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL),
         ${stuckIslandCtes("key, ts, q")}
         SELECT key, CAST(MIN(q) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           MIN(ts) AS run_start, MAX(ts) AS run_end
         FROM i GROUP BY key, island
         HAVING COUNT(*) >= 3""")),
    // VEE quality scorecard: one row per meter — row/null counts, own-
    // window calendar completeness ppm, spike count, longest stuck run
    // (all integer; oracled)
    QueryDef("q_vee_scorecard", (s, d) =>
      Analytics.veeScorecard(events(s, d), col("user_id"), col("ts"),
        col("event_id"), col("value")),
      Oracle(veeScorecardSql)),
    // step-hold time-weighted daily mean per user: the honest average for
    // irregular sensor ticks; integer ms-weights, floor division (oracled)
    QueryDef("q_twa_daily", (s, d) =>
      Analytics.timeWeightedMeanDaily(events(s, d), col("user_id"),
        col("ts"), col("event_id"), col("value")),
      Oracle("""WITH c AS (SELECT user_id AS key, ts, event_id AS id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CAST(ts AS DATE) AS day, epoch_ms(ts) AS ts_ms FROM events
           WHERE value IS NOT NULL),
         l AS (SELECT key, day, cents, ts_ms,
             LEAD(ts_ms) OVER (PARTITION BY key ORDER BY ts, id) AS next_ms,
             (date_diff('day', DATE '1970-01-01', day) + 1) * 86400000
               AS day_end_ms
           FROM c),
         h AS (SELECT key, day, cents,
             LEAST(COALESCE(next_ms, day_end_ms), day_end_ms) - ts_ms
               AS hold_ms
           FROM l),
         g AS (SELECT key, day, COUNT(*) AS n_samples,
             CAST(SUM(hold_ms) AS BIGINT) AS covered_ms,
             SUM(cents * hold_ms) AS wsum
           FROM h GROUP BY 1, 2)
         SELECT key, day, n_samples, covered_ms,
           CASE WHEN covered_ms > 0 THEN
             CAST((wsum - (((wsum % covered_ms) + covered_ms) % covered_ms))
               // covered_ms AS BIGINT)
           END AS twa_cents
         FROM g""")),
    // monthly tariff statement: TOU energy split (weekday 9-21h peak)
    // priced at declared integer micro-rates + demand charge on the peak
    // hour of the cycle — all BIGINT money math (floor-cents energy,
    // literal rates), two shrinking-key partial-agg shuffles (oracled)
    QueryDef("q_billing_statement", (s, d) =>
      Billing.billingStatement(events(s, d), col("user_id"), col("ts"),
        col("value")),
      // the billing statement replay: same floor-cents quantizer, same
      // weekday-peak band (DuckDB dayofweek is 0=Sun..6=Sat vs Spark's
      // 1..7 — same calendar semantics), same literal integer rates
      Oracle("""WITH base AS (SELECT user_id AS grp, ts,
             CAST(FLOOR(value * 100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL),
         tou AS (SELECT grp, CAST(date_trunc('month', ts) AS DATE) AS month,
             CAST(SUM(CASE WHEN hour(ts) >= 9 AND hour(ts) < 21
                            AND dayofweek(ts) NOT IN (0, 6)
                           THEN vc ELSE 0 END) AS BIGINT) AS peak_cents,
             CAST(SUM(CASE WHEN hour(ts) >= 9 AND hour(ts) < 21
                            AND dayofweek(ts) NOT IN (0, 6)
                           THEN 0 ELSE vc END) AS BIGINT) AS off_cents
           FROM base GROUP BY 1, 2),
         hourly AS (SELECT grp, date_trunc('hour', ts) AS h,
             CAST(SUM(vc) AS BIGINT) AS h_cents
           FROM base GROUP BY 1, 2),
         dem AS (SELECT grp, CAST(date_trunc('month', h) AS DATE) AS month,
             MAX(h_cents) AS peak_hour_cents
           FROM hourly GROUP BY 1, 2)
         SELECT t.grp, t.month, t.peak_cents, t.off_cents,
           t.peak_cents * 180 + t.off_cents * 90 AS energy_charge_micro,
           d.peak_hour_cents,
           d.peak_hour_cents * 12000 AS demand_charge_micro,
           t.peak_cents * 180 + t.off_cents * 90
             + d.peak_hour_cents * 12000 AS total_micro
         FROM tou t JOIN dem d ON d.grp = t.grp AND d.month = t.month""")),
    // gap-based sessionization per user, 30-minute timeout (oracled)
    QueryDef("q_sessionize", (s, d) =>
      Analytics.sessionize(events(s, d), col("user_id"), col("ts"),
        col("value"), 30),
      Oracle("""WITH l AS (SELECT user_id, ts, value,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                    FROM events),
         m AS (SELECT user_id, ts, value,
                 CASE WHEN prev IS NULL
                        OR epoch_ms(ts) - epoch_ms(prev) > 1800000
                      THEN 1 ELSE 0 END AS brk
               FROM l),
         s AS (SELECT user_id, ts, value,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS six
               FROM m)
         SELECT user_id AS key, six::BIGINT AS session_ix,
                min(ts) AS session_start, max(ts) AS session_end,
                count(*)::BIGINT AS n_events, round(sum(value), 2) AS sum_value
         FROM s GROUP BY 1, 2""")),
    // robust per-key anomalies: > 3 MADs from the key median, integer cents
    // (oracled — exact arithmetic, no float boundary)
    QueryDef("q_anomalies", (s, d) =>
      Analytics.robustAnomalies(events(s, d), col("user_id"),
        col("event_id"), col("value"), 3),
      Oracle("""WITH c AS (SELECT user_id AS key, event_id,
                      CAST(round(value * 100, 0) AS BIGINT) AS v_cents
                    FROM events),
         m AS (SELECT key, median(v_cents) AS med FROM c GROUP BY 1),
         d AS (SELECT c.key, c.event_id, c.v_cents,
                 abs(c.v_cents - m.med) AS dev_cents
               FROM c JOIN m USING (key)),
         md AS (SELECT key, median(dev_cents) AS mad_c FROM d GROUP BY 1)
         SELECT d.key, d.event_id, d.v_cents,
                d.dev_cents::DOUBLE AS dev_cents, md.mad_c::DOUBLE AS mad_cents
         FROM d JOIN md USING (key)
         WHERE md.mad_c > 0 AND d.dev_cents > md.mad_c * 3""")),
    // W7 conditional suffix by group property (namdong_merge_pv_data.py:93-104)
    QueryDef("q_suffix_multi_unit", (s, d) =>
      Analytics.suffixWhenMultiUnit(
        part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("p_brand"), col("p_size"))
        .select(col("p_partkey"), col("display_name")),
      Oracle("""SELECT p.p_partkey,
         CASE WHEN b.n_units > 1
              THEN p.p_brand || '_' || CAST(p.p_size AS VARCHAR)
              ELSE p.p_brand END AS display_name
         FROM part p JOIN (SELECT p_brand, COUNT(DISTINCT p_size) AS n_units
                           FROM part GROUP BY 1) b USING (p_brand)""")),
  )
}
