package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.registry.QueryDef._

/** Row-level relational queries: the filter/predicate suite, joins,
  * reshapes, dedup/upsert, imputation, incremental watermarks and scalar
  * functions (SURVEY §2.2, §2.3, §2.5–§2.8). */
private[graft] object RelationalQueries {
  import SparkEntry._
  import Tables._

  /** The two versions of the orders table that the CDC pair (q_snapshot_diff,
    * q_apply_delta) diffs: A drops key%10==0; B drops key%7==0 and
    * re-grades key%3==0. */
  private def orderSnapshots(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val o = orders(s, d)
    val snapA = o.filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    val snapB = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 3 === 0, lit("RE-GRADED"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
    (snapA, snapB)
  }

  /** Snapshot B in SQL: q_apply_delta's whole oracle, q_snapshot_diff's `b`. */
  private val snapshotBSql =
    """SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 3 = 0 THEN 'RE-GRADED'
                ELSE o_orderpriority END AS o_orderpriority
         FROM orders WHERE o_orderkey % 7 <> 0"""

  val defs: Seq[QueryDef] = Seq(
    // ---- Filter/predicate suite (SURVEY §2.2: P5, P8, P9, P10) ----
    QueryDef("q_filter_suite", (s, d) =>
      orders(s, d)
        .na.drop(Seq("o_orderdate"))                                // P5
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))  // P8 isin
        .filter(!col("o_orderstatus").isin("X"))                    // P8 exclude
        .filter(Normalize.stripSeparators(                          // P9 strip-compare
          date_format(col("o_orderdate"), "yyyy-MM-dd")).startsWith("1996"))
        .filter(col("o_totalprice").isNotNull)                      // P10
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total")),
      Oracle("""SELECT o_orderpriority AS grp, COUNT(*) AS n,
         round(SUM(o_totalprice), 2) AS total
         FROM orders
         WHERE o_orderdate IS NOT NULL
           AND o_orderpriority IN ('1-URGENT', '2-HIGH')
           AND o_orderstatus NOT IN ('X')
           AND regexp_replace(CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                 '-', '', 'g') LIKE '1996%'
           AND o_totalprice IS NOT NULL
         GROUP BY 1""")),
    // P6 predicate on a group-agg result: keys active since a cutoff
    QueryDef("q_active_keys", (s, d) =>
      Analytics.highWatermark(events(s, d), Seq(col("user_id").as("grp")),
          col("ts"), col("event_type"))
        .filter(col("last_ts") >= lit("2024-01-25")),
      Oracle("""SELECT user_id AS grp, max(ts) AS last_ts, max(event_type) AS carry
         FROM events GROUP BY 1
         HAVING max(ts) >= TIMESTAMP '2024-01-25 00:00:00'""")),

    // ---- Joins (SURVEY §2.3) ----
    // J5 left join with range condition in ON + COALESCE(SUM,0) (geomap panel)
    QueryDef("q_dim_activity_range", (s, d) => {
      val li = lineitem(s, d)
      Analytics.dimWithRangeActivity(
        supplier(s, d), col("s_suppkey"), li, col("l_suppkey"),
        col("l_shipdate"), col("l_extendedprice"),
        lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
    },
      Oracle("""SELECT s.s_suppkey AS grp,
         round(COALESCE(SUM(l.l_extendedprice), 0), 2) AS total
         FROM supplier s LEFT JOIN lineitem l
           ON s.s_suppkey = l.l_suppkey
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <= TIMESTAMP '1996-12-31'
         GROUP BY 1""")),
    // J5 full geomap shape: dim attrs (lat/lon stand-ins) carried through the
    // agg, IS NOT NULL on a dim attr (pv_dashboard.json geomap panel)
    QueryDef("q_geomap_activity", (s, d) => {
      val li = lineitem(s, d)
      Analytics.dimWithRangeActivityAttrs(
        supplier(s, d), col("s_suppkey"), li, col("l_suppkey"),
        col("l_shipdate"), col("l_extendedprice"),
        lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"),
        Seq(col("s_name").as("name"), col("s_acctbal").as("acctbal")),
        Some(col("s_acctbal")))
    },
      Oracle("""SELECT s.s_suppkey AS grp, s.s_name AS name, s.s_acctbal AS acctbal,
         round(COALESCE(SUM(l.l_extendedprice), 0), 2) AS total
         FROM supplier s LEFT JOIN lineitem l
           ON s.s_suppkey = l.l_suppkey
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <= TIMESTAMP '1996-12-31'
         WHERE s.s_acctbal IS NOT NULL
         GROUP BY 1, 2, 3""")),
    // J7 anti-join on generated calendar → missing dates (nambu_bulk_sync.py:24-40)
    QueryDef("q_missing_dates", (s, d) =>
      Analytics.missingDates(orders(s, d), col("o_orderdate"),
        "2001-06-01", "2001-12-31"),
      Oracle("""SELECT cal.day AS day
         FROM (SELECT unnest(generate_series(DATE '2001-06-01', DATE '2001-12-31',
                      INTERVAL 1 DAY))::DATE AS day) cal
         LEFT JOIN (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders) o
           USING (day)
         WHERE o.day IS NULL""")),

    // ---- Reshape W1/W2 (SURVEY §2.5) ----
    // W1 melt + W2(a) 0-based hour parse: wide 24-hour-column rows (built by
    // pivot, the upstream API's shape) melted back to hourly rows. The
    // roundtrip equals a direct hourly aggregation — that's the oracle.
    QueryDef("q_melt_roundtrip", (s, d) => {
      val wide = Unpivot.pivotByHour(events(s, d), col("ts"), col("event_type"),
        col("value"))
      Unpivot.meltHours(wide, Seq("ymd", "grp"), Unpivot.hourNames)
        .filter(col("generation").isNotNull) // P5 dropna, as the reference does
        .select(col("grp"),
          Unpivot.tsZeroBased(col("ymd"), col("hour_col")).as("ts"),
          round(col("generation"), 2).as("total"))
    },
      Oracle("""SELECT event_type AS grp, date_trunc('hour', ts) AS ts,
         round(SUM(value), 2) AS total FROM events GROUP BY 1, 2""")),
    // W2(b) 1-based hour parse with the 24→next-day-00:00 rollover
    QueryDef("q_melt_rollover", (s, d) => {
      val wide = Unpivot.pivotByHour(events(s, d), col("ts"), col("event_type"),
        col("value"))
      Unpivot.meltHours(wide, Seq("ymd", "grp"), Unpivot.hourNames)
        .filter(col("generation").isNotNull)
        .select(col("grp"),
          Unpivot.tsOneBased(col("ymd"), col("hour_col")).as("ts"),
          round(col("generation"), 2).as("total"))
    },
      Oracle("""SELECT event_type AS grp,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS ts,
         round(SUM(value), 2) AS total FROM events GROUP BY 1, 2""")),

    // ---- Dedup / upsert (SURVEY §2.6, S14) ----
    // U2 keep-last on key with explicit deterministic order
    QueryDef("q_dedup_keep_last", (s, d) =>
      Dedup.keepLast(events(s, d).withColumn("day", to_date(col("ts"))),
          Seq(col("user_id"), col("event_type"), col("day")),
          Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("day"), col("ts"),
          col("value")),
      Oracle("""SELECT user_id, event_type, CAST(ts AS DATE) AS day, ts, value
         FROM events
         QUALIFY ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type, CAST(ts AS DATE)
           ORDER BY ts DESC, event_id DESC) = 1""")),
    // S14 keyed upsert as union + keep-last (new side wins on overlap)
    QueryDef("q_upsert", (s, d) => {
      val ev = events(s, d)
      val existing = ev.filter(col("ts") < lit("2024-01-20"))
        .select(col("event_id"), round(col("value"), 2).as("value"))
      val incoming = ev.filter(col("ts") >= lit("2024-01-15"))
        .select(col("event_id"), round(col("value") * 2, 2).as("value"))
      Dedup.upsert(existing, incoming, Seq("event_id"), Seq(col("event_id")))
    },
      Oracle("""WITH existing AS (
           SELECT event_id, round(value, 2) AS value, 0 AS src FROM events
           WHERE ts < TIMESTAMP '2024-01-20 00:00:00'),
         incoming AS (
           SELECT event_id, round(value * 2, 2) AS value, 1 AS src FROM events
           WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
         u AS (SELECT * FROM existing UNION ALL SELECT * FROM incoming)
         SELECT event_id, value FROM u
         QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY src DESC) = 1""")),

    // ---- Imputation W3/W5/W4 (SURVEY §2.5) ----
    // W3 consecutive-missing run detection (gap-and-islands)
    QueryDef("q_missing_runs", (s, d) => {
      val ev = events(s, d)
        .withColumn("v", Impute.withMissing(col("value"), col("event_id")))
      Impute.missingRuns(ev, col("event_type"),
        Seq(col("ts"), col("event_id")), col("v"))
    },
      Oracle("""WITH e AS (
           SELECT event_type, ts, event_id,
             CASE WHEN event_id % 23 = 0 THEN NULL ELSE value END AS v
           FROM events),
         g AS (
           SELECT *, SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM e)
         SELECT event_type AS grp, MIN(ts) AS run_start,
           CAST(COUNT(*) AS BIGINT) AS run_len
         FROM g WHERE v IS NULL GROUP BY event_type, isl""")),
    // W5 historical-average fill with key-mean/global-mean fallback chain
    QueryDef("q_hist_fill", (s, d) => {
      val ev = events(s, d)
        .withColumn("v", Impute.withMissing(col("value"), col("event_id")))
      Impute.historicalFill(ev, col("event_type"), col("ts"), col("v"))
    },
      Oracle("""WITH base AS (
           SELECT event_type AS grp, ts,
             CASE WHEN event_id % 23 = 0 THEN NULL ELSE value END AS v,
             EXTRACT(month FROM ts) AS m, EXTRACT(day FROM ts) AS d,
             EXTRACT(hour FROM ts) AS h
           FROM events),
         valid AS (SELECT * FROM base WHERE v IS NOT NULL),
         hist AS (SELECT grp, m, d, h, AVG(v) AS ha FROM valid GROUP BY 1,2,3,4),
         km AS (SELECT grp, AVG(v) AS kmean FROM valid GROUP BY 1),
         gm AS (SELECT AVG(v) AS gmean FROM valid)
         SELECT b.grp, b.ts, b.v,
           COALESCE(b.v, round(h.ha, 6), round(k.kmean, 6), round(g.gmean, 6))
             AS v_filled
         FROM base b
         LEFT JOIN hist h USING (grp, m, d, h)
         LEFT JOIN km k USING (grp)
         CROSS JOIN gm g""")),
    // full imputation dispatcher: run detection → spline (≤3) / historical
    // (≥4) routing, the reference's impute_missing_values end-to-end
    // (spline component → rows-only; routing/fills specced in FlowsSpec)
    QueryDef("q_impute_all", (s, d) => {
      val ev = events(s, d)
        .withColumn("v", Impute.withMissing(col("value"), col("event_id")))
      Impute.imputeAll(ev, col("event_type"), col("ts"), col("event_id"),
        col("v"))
    },
      RowsOnly("graft.FlowsSpec")),
    // W4 cubic-spline fill (non-SQL kernel → rows-only check + ScalaTest)
    QueryDef("q_spline_impute", (s, d) => {
      val ev = events(s, d)
        .withColumn("v", Impute.withMissing(col("value"), col("event_id")))
      Impute.splineImpute(ev, col("event_type"), col("ts"), col("event_id"),
        col("v"))
    },
      RowsOnly("graft.ImputeSpec")),

    // ---- Incremental watermarks (SURVEY §2.8) ----
    // A4+A5+P6 composite: per-key resume point
    QueryDef("q_resume_points", (s, d) =>
      Watermark.resumePoints(events(s, d), col("event_type"), col("ts")),
      Oracle("""WITH pd AS (
           SELECT event_type AS grp, CAST(ts AS DATE) AS day,
             COUNT(DISTINCT EXTRACT(hour FROM ts)) AS nh, MAX(ts) AS dm
           FROM events GROUP BY 1, 2)
         SELECT grp, dm AS last_ts,
           CASE WHEN nh >= 24 THEN day + 1 ELSE day END AS resume_day
         FROM pd
         QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day DESC) = 1""")),
    // A5 backfill probe: incomplete days in a range (range-pruned scan)
    QueryDef("q_incomplete_days", (s, d) =>
      Watermark.incompleteDays(
        Tables.eventsRange(s, d, "2024-01-05", "2024-01-12")
          .filter(col("event_type") === "error"),
        col("ts"), "2024-01-05", "2024-01-12"),
      Oracle("""SELECT CAST(ts AS DATE) AS day,
         COUNT(DISTINCT EXTRACT(hour FROM ts)) AS n_hours
         FROM events
         WHERE event_type = 'error'
           AND ts >= TIMESTAMP '2024-01-05 00:00:00'
           AND ts <  TIMESTAMP '2024-01-12 00:00:00'
         GROUP BY 1 HAVING COUNT(DISTINCT EXTRACT(hour FROM ts)) < 24""")),
    // E3 monthly backfill work list: fetch-
    // target days (missing ∪ incomplete, the backfillTargets law) tagged
    // with their split_by_month chunk clipped to the window — derived
    // per-row, no driver month loop; the scan is range-pruned through
    // eventsRange. The end-to-end flow (refetch → melt → S13 overwrite,
    // idempotent re-run) is pinned in FlowsSpec.
    QueryDef("q_monthly_backfill", (s, d) =>
      Flows.monthlyBackfillTargets(
        Tables.eventsRange(s, d, "2023-12-20", "2024-02-06")
          .filter(col("event_type") === "error"),
        col("ts"), "2023-12-20", "2024-02-05"),
      // E3 monthly backfill: missing ∪ incomplete fetch-target days, each
      // with its calendar-month chunk clipped to the window (split_by_month)
      Oracle("""WITH win AS (SELECT ts FROM events
           WHERE event_type = 'error'
             AND ts >= TIMESTAMP '2023-12-20 00:00:00'
             AND ts <  TIMESTAMP '2024-02-06 00:00:00'),
         missing AS (
           SELECT cal.day
           FROM (SELECT unnest(generate_series(DATE '2023-12-20',
                        DATE '2024-02-05', INTERVAL 1 DAY))::DATE AS day) cal
           LEFT JOIN (SELECT DISTINCT CAST(ts AS DATE) AS day FROM win) d
             USING (day)
           WHERE d.day IS NULL),
         incomplete AS (
           SELECT CAST(ts AS DATE) AS day FROM win
           GROUP BY 1
           HAVING COUNT(DISTINCT EXTRACT(hour FROM ts)) < 24),
         days AS (SELECT day FROM missing UNION SELECT day FROM incomplete)
         SELECT day,
           greatest(CAST(date_trunc('month', day) AS DATE),
                    DATE '2023-12-20') AS chunk_start,
           least(last_day(day), DATE '2024-02-05') AS chunk_end
         FROM days""")),

    // ---- Scalar functions (SURVEY §2.7) ----
    QueryDef("q_normalize_scalars", (s, d) =>
      part(s, d).select(col("p_partkey"),
        Normalize.normalizeName(col("p_type"),
          Seq("STANDARD\\s*", "POLISHED\\s*")).as("norm_type"),
        Normalize.cleanSpec(concat(col("p_brand"), lit(" x"), col("p_size")))
          .as("spec_num"),
        Normalize.zeroPad2(col("p_size") % 24).as("padded"),
        Normalize.extractDigits(col("p_brand")).as("brand_digits"),
        Normalize.extractCity(col("p_type"),
          Seq("BRASS", "COPPER", "NICKEL", "STEEL", "TIN")).as("city_like"),
        Normalize.sanitizeFilename(concat(col("p_name"), lit("/:*?"),
          col("p_brand"))).as("safe_name")),
      Oracle("""SELECT p_partkey,
         lower(regexp_replace(regexp_replace(regexp_replace(p_type,
           'STANDARD\s*', '', 'g'), 'POLISHED\s*', '', 'g'), '\s+', '', 'g'))
           AS norm_type,
         CAST(regexp_extract(p_brand || ' x' || CAST(p_size AS VARCHAR),
           '(\d+\.?\d*)', 1) AS DOUBLE) AS spec_num,
         lpad(CAST(p_size % 24 AS VARCHAR), 2, '0') AS padded,
         regexp_extract(p_brand, '(\d+)', 1) AS brand_digits,
         regexp_extract(p_type, '(BRASS|COPPER|NICKEL|STEEL|TIN)', 1)
           AS city_like,
         regexp_replace(p_name || '/:*?' || p_brand, '[^\w\-.가-힣 ]+', '', 'g')
           AS safe_name
         FROM part""")),
    QueryDef("q_prev_month_range", (s, d) =>
      orders(s, d).select(
        Normalize.prevMonthStart(col("o_orderdate")).as("m_start"),
        Normalize.prevMonthEnd(col("o_orderdate")).as("m_end")).distinct(),
      Oracle("""SELECT DISTINCT
         CAST(date_trunc('month', o_orderdate - INTERVAL 1 MONTH) AS DATE)
           AS m_start,
         last_day(CAST(o_orderdate AS DATE) - INTERVAL 1 MONTH) AS m_end
         FROM orders""")),

    // ---- More joins (SURVEY §2.3) ----
    // J1 equi-join on regex-normalized key
    QueryDef("q_join_normalized_key", (s, d) => {
      val p = part(s, d)
      val noisy = p.select(col("p_partkey"),
        concat(lit("  "), upper(col("p_brand")), lit(" ")).as("noisy_brand"))
      val dim = p.groupBy(col("p_brand"))
        .agg(round(avg(col("p_retailprice")), 2).as("brand_avg"))
      Joins.normalizedKeyJoin(noisy, col("noisy_brand"), dim, col("p_brand"),
          Seq.empty)
        .select(col("p_partkey"), col("brand_avg"))
    },
      Oracle("""SELECT p.p_partkey, b.brand_avg
         FROM part p
         JOIN (SELECT p_brand, round(AVG(p_retailprice), 2) AS brand_avg
               FROM part GROUP BY 1) b USING (p_brand)""")),
    // J2/J3 broadcast lookup with default
    QueryDef("q_lookup_default", (s, d) =>
      Joins.lookupWithDefault(supplier(s, d), col("s_nationkey"), nation(s, d),
          col("n_nationkey"), col("n_name"), lit("UNKNOWN"))
        .select(col("s_suppkey"), col("looked_up")),
      Oracle("""SELECT s_suppkey, COALESCE(n_name, 'UNKNOWN') AS looked_up
         FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey""")),
    // J4 fuzzy lookup: exact else containment else default
    QueryDef("q_fuzzy_lookup", (s, d) => {
      val brands = part(s, d).select(col("p_brand")).distinct()
      val dim = s.createDataFrame(Seq(
        ("Brand#1", "A"), ("Brand#2", "B"), ("Brand#3", "C"),
        ("Brand#45", "D"), ("ZZZ", "E"))).toDF("k", "v")
      Joins.fuzzyLookup(brands, col("p_brand"), col("p_brand"), dim, col("k"),
          col("v"), "DEFAULT")
        .select(col("p_brand"), col("matched"))
    },
      Oracle("""WITH dim(k, v) AS (VALUES
           ('Brand#1','A'), ('Brand#2','B'), ('Brand#3','C'),
           ('Brand#45','D'), ('ZZZ','E')),
         brands AS (SELECT DISTINCT p_brand FROM part),
         j AS (
           SELECT b.p_brand, d.k, d.v,
             CASE WHEN b.p_brand = d.k THEN 0 ELSE 1 END AS pri
           FROM brands b LEFT JOIN dim d
             ON b.p_brand = d.k OR contains(b.p_brand, d.k)
                OR contains(d.k, b.p_brand))
         SELECT p_brand, COALESCE(v, 'DEFAULT') AS matched FROM j
         QUALIFY ROW_NUMBER() OVER (
           PARTITION BY p_brand ORDER BY pri, length(k) DESC, k) = 1""")),
    // AS-OF join: each 'view' event enriched with the user's latest
    // preceding 'click' (merge-style union+window — no range-join blowup);
    // oracled against DuckDB's native ASOF JOIN
    QueryDef("q_asof_join", (s, d) => {
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value"), 2).as("v"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
          round(col("value"), 2).as("c_val"))
      Joins.asofJoin(views, col("user_id"), col("ts"), clicks, col("c_uid"),
          col("c_ts"), Seq("c_ts", "c_val"))
        .select(col("event_id"), col("user_id"), col("ts"), col("v"),
          col("asof_c_ts"), col("asof_c_val"))
    },
      Oracle("""WITH v AS (SELECT user_id, ts, event_id, round(value, 2) AS v
                    FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id AS c_uid, ts AS c_ts, round(value, 2) AS c_val
               FROM events WHERE event_type = 'click')
         SELECT v.event_id, v.user_id, v.ts, v.v,
           c.c_ts AS asof_c_ts, c.c_val AS asof_c_val
         FROM v ASOF LEFT JOIN c
           ON v.user_id = c.c_uid AND v.ts >= c.c_ts""")),
    // Point-in-time feature join: every event enriched with the user's
    // latest CLOSED hourly and daily rollups (published at window end — no
    // future leakage). ONE union + window pass serves both feature tables
    // (a fold of as-of joins would shuffle the fact once per table);
    // oracled against DuckDB's chained native ASOF JOINs.
    QueryDef("q_pit_join", (s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val hourly = ev
        .groupBy(col("user_id"),
          (date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR"))
            .as("avail_ts"))
        .agg(round(sum(col("value")), 2).as("sum_v"),
          count(lit(1)).as("n"))
      val daily = ev
        .groupBy(col("user_id"),
          (date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY"))
            .as("avail_ts"))
        .agg(round(sum(col("value")), 2).as("sum_v"))
      Joins.pointInTimeJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        col("user_id"), col("ts"),
        Seq(("hr", hourly, col("user_id"), col("avail_ts"), Seq("sum_v", "n")),
          ("day", daily, col("user_id"), col("avail_ts"), Seq("sum_v"))))
        .select(col("event_id"), col("user_id"), col("hr_sum_v"),
          col("hr_n"), col("day_sum_v"))
    },
      Oracle("""WITH hourly AS (SELECT user_id,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS avail_ts,
             round(sum(value), 2) AS sum_v, count(*) AS n
           FROM events GROUP BY 1, 2),
         daily AS (SELECT user_id,
             date_trunc('day', ts) + INTERVAL 1 DAY AS avail_ts,
             round(sum(value), 2) AS sum_v
           FROM events GROUP BY 1, 2)
         SELECT e.event_id, e.user_id,
           h.sum_v AS hr_sum_v, h.n AS hr_n, d.sum_v AS day_sum_v
         FROM events e
           ASOF LEFT JOIN hourly h
             ON e.user_id = h.user_id AND e.ts >= h.avail_ts
           ASOF LEFT JOIN daily d
             ON e.user_id = d.user_id AND e.ts >= d.avail_ts""")),
    // Interval-overlap join via time-grid bucketing: the theta join
    // (ls <= re AND rs <= le) made EQUI — each interval explodes onto
    // ≤2 grid cells, pairs hash-join on the cell, and each pair survives
    // only in the cell of its overlap start (exactly-once, no distinct).
    // Intervals: view/click events open a (event_id % 7 + 1)-minute window;
    // overlap measured exactly in epoch micros. Oracle is the plain
    // theta join — the grid is plan surgery, not semantics.
    QueryDef("q_interval_overlap", (s, d) => {
      val ev = events(s, d)
      def side(t: String, p: String) = ev.filter(col("event_type") === t)
        .select(col("event_id").as(s"${p}_id"), col("ts").as(s"${p}_s"),
          timestamp_micros(unix_micros(col("ts")) +
            (col("event_id") % 7 + 1) * lit(60000000L)).as(s"${p}_e"))
      Joins.intervalOverlapJoin(
          side("view", "l"), col("l_s"), col("l_e"),
          side("click", "r"), col("r_s"), col("r_e"), gridSeconds = 480)
        .select(col("l_id"), col("r_id"), col("overlap_us"))
    },
      Oracle("""WITH v AS (SELECT event_id AS l_id, ts AS l_s,
                      ts + to_minutes(event_id % 7 + 1) AS l_e
                    FROM events WHERE event_type = 'view'),
         c AS (SELECT event_id AS r_id, ts AS r_s,
                 ts + to_minutes(event_id % 7 + 1) AS r_e
               FROM events WHERE event_type = 'click')
         SELECT l_id, r_id,
           epoch_us(least(l_e, r_e)) - epoch_us(greatest(l_s, r_s)) AS overlap_us
         FROM v JOIN c ON l_s <= r_e AND r_s <= l_e""")),
    // Keyed snapshot diff (CDC between two table versions): full-outer on
    // the key, null-safe compare, unchanged keys dropped — delta-sized
    // output. Snapshots derived deterministically from orders (A drops
    // key%10==0, B drops key%7==0 and re-grades key%3==0).
    QueryDef("q_snapshot_diff", (s, d) => {
      val (snapA, snapB) = orderSnapshots(s, d)
      Cdc.snapshotDiff(snapA, snapB, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_orderpriority"))
    },
      Oracle(s"""WITH a AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
                    FROM orders WHERE o_orderkey % 10 <> 0),
         b AS ($snapshotBSql)
         SELECT * FROM (
           SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             a.o_orderstatus AS old_o_orderstatus,
             a.o_orderpriority AS old_o_orderpriority,
             b.o_orderstatus AS new_o_orderstatus,
             b.o_orderpriority AS new_o_orderpriority,
             CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                  WHEN b.o_orderkey IS NULL THEN 'delete'
                  WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                    OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
                  THEN 'update' END AS change_type
           FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey)
         WHERE change_type IS NOT NULL""")),
    // CDC MERGE round trip: applyDelta(A, snapshotDiff(A, B)) must BE B —
    // the algebraic law that makes delta-shipped replication sound. The
    // oracle is simply snapshot B itself.
    QueryDef("q_apply_delta", (s, d) => {
      val (snapA, snapB) = orderSnapshots(s, d)
      Cdc.applyDelta(snapA,
        Cdc.snapshotDiff(snapA, snapB, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_orderpriority")),
        Seq("o_orderkey"), Seq("o_orderstatus", "o_orderpriority"))
    },
      // the applied table IS snapshot B — the whole point of the law
      Oracle(snapshotBSql)),
    // SCD Type-2 build from a change log: consecutive same-state rows per
    // user collapse into versions carrying valid_from/valid_to/is_current —
    // the dimension shape q_pit_join/q_asof_join consume. Total order is
    // (ts, event_id) per the order-sensitivity rule.
    QueryDef("q_scd2", (s, d) =>
      Cdc.scd2(
          events(s, d).select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
          col("user_id"), col("ts"), col("event_id"), Seq("event_type"))
        .select(col("user_id"), col("event_type").as("attr"),
          col("valid_from"), col("valid_to"), col("is_current")),
      Oracle("""WITH marked AS (
           SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
           FROM events),
         starts AS (
           SELECT user_id, ts, event_id, event_type FROM marked
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type AS attr, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS is_current
         FROM starts""")),
    // Multi-level rollup report: all grouping prefixes in ONE Expand +
    // single-shuffle aggregate (vs one groupBy per level). Revenue summed
    // as exact integer cents — cross-engine bit-exact, no float-boundary
    // exposure on the grand total.
    QueryDef("q_rollup_report", (s, d) =>
      Analytics.rollupReport(orders(s, d),
        Seq((col("o_orderpriority"), "priority"),
          (col("o_orderstatus"), "status")), "ALL",
        Seq(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("revenue_cents"))),
      Oracle("""SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""")),
    // J6 anti-join: dimension rows absent from a fact subset (customers with
    // no urgent orders — nonempty, unlike the unrestricted variant)
    QueryDef("q_customers_no_orders", (s, d) =>
      customer(s, d).join(
          orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")),
      Oracle("""SELECT c_custkey FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""")),
  )
}
