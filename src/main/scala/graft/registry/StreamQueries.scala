package graft
package registry

import org.apache.spark.sql.functions._
import graft.engine._
import graft.registry.QueryDef._

/** Structured Streaming (SURVEY §2.8): AvailableNow streams, restart
  * rigs and stream sinks, each checked against its batch closed form. */
private[graft] object StreamQueries {
  import SparkEntry._
  import Tables._

  val defs: Seq[QueryDef] = Seq(
    // A6 as a stream: watermarked hourly tumbling windows over a file source,
    // run to completion with AvailableNow; windows whose end precedes the
    // final watermark (max ts - 2h) are emitted — that closed-form is the
    // oracle.
    QueryDef("q_stream_hourly", (s, d) => {
      val out = graft.streaming.Streams.hourlySumStream(
        streamingEvents(s, d), "ts", col("event_type"), col("value"))
      runAvailableNow(s, out, "hourly", d,
        _.select(col("bucket"), col("grp"), round(col("total"), 2).as("total")))
    },
      Oracle("""WITH mx AS (SELECT max(ts) AS m FROM events)
         SELECT date_trunc('hour', ts) AS bucket, event_type AS grp,
           round(SUM(value), 2) AS total
         FROM events, mx
         GROUP BY 1, 2, mx.m
         HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 2 HOUR""")),
    // the billing tier's streaming stage: daily TOU band cells emitted
    // once per (user, day) when the watermark clears the day — closed
    // form: the batch daily rollup restricted to days whose end clears
    // the final watermark max(ts) - lateness (oracled)
    QueryDef("q_stream_billing", (s, d) => {
      val out = graft.streaming.Streams.touDailyStream(
        streamingEvents(s, d), "ts", col("user_id"), col("value"))
      runAvailableNow(s, out, "billing", d, df => df)
    },
      Oracle("""WITH mx AS (SELECT max(ts) AS m FROM events)
         SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id AS grp,
           CAST(SUM(CASE WHEN hour(ts) >= 9 AND hour(ts) < 21
                          AND dayofweek(ts) NOT IN (0, 6)
                         THEN CAST(floor(value*100) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS peak_cents,
           CAST(SUM(CASE WHEN hour(ts) >= 9 AND hour(ts) < 21
                          AND dayofweek(ts) NOT IN (0, 6)
                         THEN 0 ELSE CAST(floor(value*100) AS BIGINT) END)
             AS BIGINT) AS off_cents
         FROM events, mx
         WHERE value IS NOT NULL
         GROUP BY 1, 2, mx.m
         HAVING CAST(date_trunc('day', ts) AS DATE) + INTERVAL 1 DAY
           <= m - INTERVAL 2 HOUR""")),
    // Sliding-window stream (2 h windows every 1 h): each event lands in 2
    // overlapping windows; append emits windows whose END clears the
    // watermark — closed form: per-event expansion onto both covering
    // window starts, same HAVING rule as the tumbling oracle
    QueryDef("q_stream_slide", (s, d) => {
      val out = graft.streaming.Streams.slidingSumStream(
        streamingEvents(s, d), "ts", col("event_type"), col("value"))
      runAvailableNow(s, out, "slide", d,
        _.select(col("win_start"), col("grp"),
          round(col("total"), 2).as("total"), col("n")))
    },
      Oracle("""WITH mx AS (SELECT max(ts) AS m FROM events),
         w AS (SELECT date_trunc('hour', ts) - to_hours(k.k) AS win_start,
                 event_type, value
               FROM events, (SELECT unnest([0, 1]) AS k) k)
         SELECT win_start, event_type AS grp, round(sum(value), 2) AS total,
           CAST(count(*) AS BIGINT) AS n
         FROM w, mx
         GROUP BY win_start, event_type, mx.m
         HAVING win_start + INTERVAL 2 HOUR <= m - INTERVAL 2 HOUR""")),
    // Stream-stream interval join: click events enriched with same-user view
    // events up to 1 h earlier. AvailableNow over one file = one micro-batch,
    // so the inner join emits every match — the closed-form oracle is the
    // plain interval join. Joined timestamps compare at MICROsecond
    // precision on both sides (the stream source truncates nanos → micros;
    // the oracle floor-divides raw nanos the same way).
    QueryDef("q_stream_interval_join", (s, d) => {
      val left = streamingEvents(s, d).filter(col("event_type") === "click")
        .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
          col("event_id").as("l_id"))
      val right = streamingEvents(s, d).filter(col("event_type") === "view")
        .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
          col("event_id").as("r_id"))
      val joined = graft.streaming.Streams.intervalJoinStreams(
        left, "l_user", "l_ts", right, "r_user", "r_ts")
      runAvailableNow(s, joined, "ivjoin", d,
        _.select(col("l_id"), col("r_id")))
    },
      Oracle("""WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_ns(ts) // 1000 AS us
                    FROM events)
         SELECT l.event_id AS l_id, r.event_id AS r_id
         FROM e l JOIN e r ON l.user_id = r.user_id
          AND l.event_type = 'click' AND r.event_type = 'view'
          AND r.us BETWEEN l.us - 3600000000 AND l.us""")),
    // Streaming idempotent re-delivery: dropDuplicates within the watermark
    // horizon. One AvailableNow batch → plain DISTINCT is the closed form
    // (µs-integer timestamps on both sides).
    QueryDef("q_stream_dedup", (s, d) => {
      val out = graft.streaming.Streams.dedupStream(
        streamingEvents(s, d), "ts", Seq("user_id", "event_type"))
      runAvailableNow(s, out, "dedup", d,
        _.select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us")))
    },
      Oracle("""SELECT DISTINCT user_id, event_type,
           (epoch_ns(ts) // 1000)::BIGINT AS ts_us
         FROM events""")),
    // Typed stateful resume tracker as a stream (Update mode): per-key
    // high-watermark + hour coverage of the most recent day. One batch →
    // one update per key; the closed-form batch rollup is the oracle
    // (epoch-millis integers on both sides — the tracker is ms-precision).
    QueryDef("q_stream_resume", (s, d) => {
      val out = graft.streaming.Streams.resumeTracker(
        streamingEvents(s, d), "ts", "user_id")
      runAvailableNow(s, out, "resume", d,
        _.select(col("grp"), unix_millis(col("lastTs")).as("last_ts_ms"),
          col("hoursSeen").cast("long").as("hours_seen"),
          col("lastDay").as("last_day")),
        graft.streaming.Streams.resumeTrackerMode)
    },
      Oracle("""WITH mx AS (SELECT CAST(user_id AS VARCHAR) AS grp,
                       (epoch_ns(max(ts)) // 1000000)::BIGINT AS last_ts_ms,
                       CAST(max(ts) AS DATE) AS last_day_d
                     FROM events GROUP BY 1),
         hs AS (SELECT CAST(e.user_id AS VARCHAR) AS grp,
                  count(DISTINCT extract(hour FROM e.ts))::BIGINT AS hours_seen
                FROM events e
                JOIN mx ON CAST(e.user_id AS VARCHAR) = mx.grp
                       AND CAST(e.ts AS DATE) = mx.last_day_d
                GROUP BY 1)
         SELECT grp, last_ts_ms, hours_seen,
                strftime(last_day_d, '%Y-%m-%d') AS last_day
         FROM mx JOIN hs USING (grp)""")),
    // Checkpointed restart (§2.8 incremental cron semantics): run 2 over
    // the SAME checkpoint emits only the windows newly closed by the
    // advanced watermark — totals for windows straddling the day cut carry
    // run-1 state across the restart. See [[runRestart]].
    QueryDef("q_stream_restart", (s, d) => runRestart(s, d),
      // run 2's emissions = full rollup restricted to windows whose end lies
      // in (wm after run 1, wm after run 2] — i.e. closed by the restart run.
      // Boundary windows aggregate BOTH runs' rows: state survived the
      // checkpoint restart iff the totals match.
      Oracle("""WITH m2 AS (SELECT max(ts) AS mx2 FROM events),
         c AS (SELECT date_trunc('day', mx2) AS cut, mx2 FROM m2),
         m1 AS (SELECT max(ts) AS mx1 FROM events, c WHERE ts < cut)
         SELECT date_trunc('hour', ts) AS bucket, event_type AS grp,
           round(SUM(value), 2) AS total
         FROM events, m1, c
         GROUP BY 1, 2, m1.mx1, c.mx2
         HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR > mx1 - INTERVAL 2 HOUR
            AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx2 - INTERVAL 2 HOUR""")),
    // LEFT OUTER stream-stream interval join over a checkpointed two-run
    // rig: run 2's advanced watermark both joins the new day and NULL-emits
    // every provably-unmatchable click (all admissible view times below the
    // watermark). See [[runLeftJoinRestart]] for the closed form + measured
    // boundary margins.
    QueryDef("q_stream_left_join", (s, d) => runLeftJoinRestart(s, d),
      // closed form for the two-run left-outer rig: full inner interval join
      // ∪ NULL rows for unmatched clicks below the FINAL watermark (min of
      // the two sides' whole-data maxima − 2 h lateness — AvailableNow runs a
      // trailing no-data batch, so the last watermark advance still evicts;
      // µs-integer time arithmetic)
      Oracle("""WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_ns(ts) // 1000 AS us
                    FROM events),
         wm AS (SELECT least(
             (SELECT max(us) FROM e WHERE event_type = 'click'),
             (SELECT max(us) FROM e WHERE event_type = 'view'))
             - 7200000000 AS w),
         ij AS (SELECT l.event_id AS l_id, r.event_id AS r_id
                FROM e l JOIN e r ON l.user_id = r.user_id
                 AND l.event_type = 'click' AND r.event_type = 'view'
                 AND r.us BETWEEN l.us - 3600000000 AND l.us),
         um AS (SELECT l.event_id AS l_id FROM e l, wm
                WHERE l.event_type = 'click' AND l.us < w
                  AND NOT EXISTS (SELECT 1 FROM e r
                    WHERE r.event_type = 'view' AND r.user_id = l.user_id
                      AND r.us BETWEEN l.us - 3600000000 AND l.us))
         SELECT l_id, r_id FROM ij
         UNION ALL SELECT l_id, CAST(NULL AS BIGINT) FROM um""")),
    // foreachBatch keyed-upsert sink over two cron ticks + one checkpoint:
    // at-least-once batch re-delivery made exactly-once by the last-batch
    // marker; the folded table equals the global keep-last per user.
    QueryDef("q_stream_sink_upsert", (s, d) => runStreamUpsert(s, d),
      Oracle("""WITH r AS (SELECT user_id AS k, event_id, round(value, 2) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT k, event_id, v FROM r WHERE rn = 1""")),
    // E1 ingestion as a stream: wide daily-PV deliveries melted per
    // micro-batch into the idempotent date-partition sink (S13) across two
    // cron ticks with an overlapping corrected re-delivery — see
    // runStreamMeltIngest for the closed form that is the oracle
    QueryDef("q_stream_melt_ingest", (s, d) => runStreamMeltIngest(s, d),
      // the closed form of the two-tick melt-ingest stream: hourly sums,
      // doubled from the corrected re-delivery's first day on (2·Σv == Σ2v
      // bit-exactly: power-of-two scaling commutes with IEEE rounding)
      Oracle("""WITH h AS (SELECT event_type AS grp, date_trunc('hour', ts) AS ts,
             SUM(value) AS sv FROM events GROUP BY 1, 2)
         SELECT grp, ts,
           round(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                 THEN sv * 2 ELSE sv END, 2) AS total
         FROM h""")),
    // Streaming flatline (stuck-meter) alarm: one alarm per stuck run,
    // fired at the reading where the same-bucket run first reaches 3 —
    // the VEE stale-register check in real time; two longs of state per
    // key. Single-batch AvailableNow == the batch gaps-and-islands
    // closed form with rank-within-island == 3 (oracled)
    QueryDef("q_stream_flatline", (s, d) => {
      val out = graft.streaming.Streams.flatlineStream(
        streamingEvents(s, d), "ts", "user_id", "value",
        quantCents = 5000L, minLen = 3)
      runAvailableNow(s, out, "flatline", d,
        _.select(col("grp"), col("tsUs").as("ts_us"), col("bucket"),
          col("runLen").as("run_len")))
    },
      // flatline alarm replay: the stuck-run gaps-and-islands in (us, vc)
      // fold order, alarms where rank-within-island == minLen
      Oracle("""WITH t AS (SELECT CAST(user_id AS VARCHAR) AS k,
             epoch_ns(ts)//1000 AS us,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         qq AS (SELECT k, us, vc,
             (vc - (((vc % 5000) + 5000) % 5000)) // 5000 AS q
           FROM t),
         c AS (SELECT k, us, vc, q,
             CASE WHEN LAG(q) OVER (PARTITION BY k ORDER BY us, vc)
                    IS DISTINCT FROM q THEN 1 ELSE 0 END AS chg
           FROM qq),
         i AS (SELECT k, us, vc, q,
             SUM(chg) OVER (PARTITION BY k ORDER BY us, vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM c),
         p AS (SELECT k, us, q, island,
             CAST(ROW_NUMBER() OVER (PARTITION BY k, island
               ORDER BY us, vc) AS BIGINT) AS rn
           FROM i)
         SELECT k AS grp, CAST(us AS BIGINT) AS ts_us,
           CAST(q AS BIGINT) AS bucket, rn AS run_len
         FROM p WHERE rn = 3""")),
    // Streaming degree-day grain: the M&V regression's daily input cells
    // computed incrementally — temp rows ('view') close as (day, hdd,
    // cdd) under the _temp sentinel, load rows as per-key (day,
    // load_cents); the batch regression consumes the closed cells.
    // Closed form: the batch daily rollup over days whose end clears the
    // final watermark (the q_stream_billing oracle shape).
    QueryDef("q_stream_degree_day", (s, d) => {
      val out = graft.streaming.Streams.degreeDayDailyStream(
        streamingEvents(s, d), "ts", col("event_type") === "view",
        col("event_type"), col("value"), baseCents = 15000L)
      runAvailableNow(s, out, "degree_day", d, df => df)
    },
      // degree-day grain replay: batch daily rollup (temp rows under the
      // _temp sentinel -> Euclidean-floor-mean vs base, load rows per key)
      // restricted to days whose end clears the final watermark
      Oracle("""WITH mx AS (SELECT max(ts) AS m FROM events),
         cells AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CASE WHEN event_type = 'view' THEN '_temp'
                  ELSE event_type END AS grp,
             CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events, mx
           WHERE value IS NOT NULL
           GROUP BY 1, 2, mx.m
           HAVING CAST(date_trunc('day', ts) AS DATE) + INTERVAL 1 DAY
             <= m - INTERVAL 2 HOUR),
         tm AS (SELECT day, grp, s, n,
             CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS tmean
           FROM cells)
         SELECT day, grp,
           CASE WHEN grp <> '_temp' THEN s END AS load_cents,
           CASE WHEN grp = '_temp'
                THEN GREATEST(CAST(0 AS BIGINT), 15000 - tmean)
             END AS hdd_cents,
           CASE WHEN grp = '_temp'
                THEN GREATEST(CAST(0 AS BIGINT), tmean - 15000)
             END AS cdd_cents,
           n
         FROM tm""")),
    // Streaming historical-mean fill: W5 (the reference's E2 imputation
    // flow) in real time — per micro-batch, readings left-join the
    // BROADCAST (key, month, day, hour) historical-mean lookup, then the
    // key mean, then the global mean (the batch coalesce chain).
    // Calibration = first half of January (the q_stream_cusum window);
    // micro-unit Euclidean floor means, so the whole chain is bit-exact
    // cross-engine. Stateless (the enrichStream regime) — the oracle is
    // the batch fallback-chain replay over ALL events, no watermark gate.
    QueryDef("q_stream_hist_fill", (s, d) => {
      val cal = Tables.eventsRange(s, d,
          "2024-01-01 00:00:00", "2024-01-16 00:00:00")
        .filter(col("value").isNotNull)
        .select(col("user_id").cast("string").as("grp"),
          month(col("ts")).as("m"), dayofmonth(col("ts")).as("d"),
          hour(col("ts")).as("h"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("vu"))
      val hist = cal.groupBy(col("grp"), col("m"), col("d"), col("h"))
        .agg(sum(col("vu")).as("su"), count(lit(1)).as("n"))
        .withColumn("hist_micro", expr("(su - pmod(su, n)) div n"))
        .select(col("grp"), col("m"), col("d"), col("h"), col("hist_micro"))
      val km = cal.groupBy(col("grp"))
        .agg(sum(col("vu")).as("su"), count(lit(1)).as("n"))
        .withColumn("key_micro", expr("(su - pmod(su, n)) div n"))
        .select(col("grp"), col("key_micro"))
      // corpus-mean fallback: one aggregate row to the driver (the
      // cusum-calibration model-sized pattern)
      val g = cal.agg(sum(col("vu")).as("su"), count(lit(1)).as("n")).first()
      val globalMicro =
        if (g.isNullAt(0) || g.getLong(1) == 0L) 0L
        else Math.floorDiv(g.getLong(0), g.getLong(1))
      val out = graft.streaming.Streams.histFillStream(
        streamingEvents(s, d), "ts", col("user_id"), col("value"),
        hist, km, globalMicro)
      runAvailableNow(s, out, "hist_fill", d, df => df)
    },
      // stateless historical-fill replay: the stream emits the batch
      // coalesce chain row-for-row (no watermark — the lookups are static
      // dimensions, not streams), so the oracle is the same chain over ALL
      // events with the calibration-window lookups rebuilt in SQL
      Oracle("""WITH cal AS (SELECT CAST(user_id AS VARCHAR) AS grp,
             EXTRACT(month FROM ts) AS m, EXTRACT(day FROM ts) AS d,
             EXTRACT(hour FROM ts) AS h,
             CAST(floor(value*1000000 + 0.5) AS BIGINT) AS vu
           FROM events
           WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-01'
             AND ts < TIMESTAMP '2024-01-16'),
         hist AS (SELECT grp, m, d, h,
             (s - (((s % n) + n) % n)) // n AS hist_micro
           FROM (SELECT grp, m, d, h, CAST(SUM(vu) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
                 FROM cal GROUP BY 1, 2, 3, 4)),
         km AS (SELECT grp, (s - (((s % n) + n) % n)) // n AS key_micro
           FROM (SELECT grp, CAST(SUM(vu) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n FROM cal GROUP BY 1)),
         gm AS (SELECT (s - (((s % n) + n) % n)) // n AS global_micro
           FROM (SELECT CAST(SUM(vu) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n FROM cal)),
         ev AS (SELECT CAST(user_id AS VARCHAR) AS grp, ts,
             EXTRACT(month FROM ts) AS m, EXTRACT(day FROM ts) AS d,
             EXTRACT(hour FROM ts) AS h,
             CAST(floor(value*1000000 + 0.5) AS BIGINT) AS v_micro
           FROM events)
         SELECT ev.grp, ev.ts, ev.v_micro,
           -- trailing 0: an EMPTY calibration window aggregates to a NULL
           -- global mean here, while the engine's driver-side fallback
           -- scalar is 0 in that case — keep the pair equivalent on any
           -- corpus, not just ones with January data
           CAST(COALESCE(ev.v_micro, hist.hist_micro, km.key_micro,
             gm.global_micro, 0) AS BIGINT) AS v_filled_micro,
           CASE WHEN ev.v_micro IS NOT NULL THEN 'present'
                WHEN hist.hist_micro IS NOT NULL THEN 'hist'
                WHEN km.key_micro IS NOT NULL THEN 'key'
                ELSE 'global' END AS fill_src
         FROM ev LEFT JOIN hist USING (grp, m, d, h)
           LEFT JOIN km USING (grp) CROSS JOIN gm""")),
    // Streaming demand-peak alerts: per-meter max-hourly-so-far per
    // calendar cycle in three longs of state — every CLOSED hour that
    // sets a new positive cycle maximum emits one row (the real-time
    // "new demand peak" alert behind Billing.demandCharge; closes the
    // VEE + billing-in-real-time story with q_stream_flatline /
    // q_stream_billing). Single-batch AvailableNow == the batch closed
    // form: hourly sums minus each key's open last hour, peaks strictly
    // above greatest(0, prior closed hours of the month) — the oracle.
    // SINGLE-BATCH ASSUMPTION: that equivalence holds because
    // streamingEvents exposes exactly ONE parquet file, which AvailableNow
    // processes as one micro-batch (well under the file source's
    // maxFilesPerTrigger default of 1000), so no key's rows can cross
    // batches out of hour order into the stream's late-drop path. A
    // multi-file source here would need the rig extended the
    // q_stream_restart way (explicit per-tick files, oracle restricted to
    // hours closed by each tick) — not silently reuse this oracle.
    QueryDef("q_stream_demand_peak", (s, d) => {
      val out = graft.streaming.Streams.demandPeakStream(
        streamingEvents(s, d), "ts", "user_id", "value")
      runAvailableNow(s, out, "demand_peak", d,
        _.select(col("grp"), col("month"), col("hourUs").as("hour_us"),
          col("peakCents").as("peak_cents")))
    },
      // demand-peak replay: hourly floor-cent sums, each key's LAST hour
      // dropped (never closed by a later reading), a peak = a closed hour
      // strictly above greatest(0, max of the month's PRIOR closed hours)
      // — greatest(0, ...) because the stream's running max starts at 0
      // per cycle, so an all-negative (net-export) month never alarms
      Oracle("""WITH t AS (SELECT CAST(user_id AS VARCHAR) AS grp, ts,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         h AS (SELECT grp, date_trunc('hour', ts) AS hstart,
               CAST(SUM(vc) AS BIGINT) AS hc
             FROM t GROUP BY 1, 2),
         lasth AS (SELECT grp, max(hstart) AS mh FROM h GROUP BY 1),
         closed AS (SELECT h.grp, h.hstart, h.hc
                    FROM h JOIN lasth USING (grp) WHERE h.hstart < lasth.mh),
         pk AS (SELECT grp, date_trunc('month', hstart) AS m, hstart, hc,
                  GREATEST(COALESCE(MAX(hc) OVER (PARTITION BY grp,
                      date_trunc('month', hstart)
                    ORDER BY hstart ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0), 0) AS prior
                FROM closed)
         SELECT grp, CAST(m AS DATE) AS month,
           CAST(epoch_ns(hstart)//1000 AS BIGINT) AS hour_us,
           hc AS peak_cents
         FROM pk WHERE hc > prior""")),
    // Per-key streaming anomaly alerts (flatMapGroupsWithState, Append):
    // a reading deviating > 50.00 from the key's RUNNING mean alerts, with
    // the mean accumulated in (ts, cents) order — integer cross-multiplied
    // test, so the single-batch run equals the cumulative-window SQL
    // closed form exactly.
    QueryDef("q_stream_alerts", (s, d) => {
      val out = graft.streaming.Streams.alertStream(
        streamingEvents(s, d), "ts", "event_type", "value", 5000L)
      runAvailableNow(s, out, "alerts", d,
        _.select(col("grp"), col("tsUs").as("ts_us"),
          col("vCents").as("v_cents"), col("nPrior").as("n_prior"),
          col("sumPriorCents").as("sum_prior_cents")),
        graft.streaming.Streams.alertStreamMode)
    },
      Oracle("""WITH p AS (SELECT event_type AS grp, epoch_ns(ts) // 1000 AS us,
             CAST(floor(value * 100) AS BIGINT) AS vc FROM events
           WHERE value IS NOT NULL AND ts IS NOT NULL),
         w AS (SELECT grp, us, vc,
             CAST(COALESCE(SUM(vc) OVER (PARTITION BY grp ORDER BY us, vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS sp,
             COUNT(*) OVER (PARTITION BY grp ORDER BY us, vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS np
           FROM p)
         SELECT grp, us AS ts_us, vc AS v_cents, np AS n_prior,
           sp AS sum_prior_cents
         FROM w WHERE np >= 5 AND abs(vc * np - sp) > 5000 * np""")),
    // Streaming CUSUM level-shift alarms: per-key FIXED calibration
    // (mu, mad from the first half of January — model-sized collect, the
    // IVF-centroid pattern), clamped recursions carried as four longs of
    // state. Single-batch AvailableNow == the cumulative ROWS-frame SQL
    // closed form (explicit frames — RANGE would merge tied peers).
    QueryDef("q_stream_cusum", (s, d) => {
      val calDf = Tables.eventsRange(s, d,
          "2024-01-01 00:00:00", "2024-01-16 00:00:00")
        .filter(col("value").isNotNull)
        .select(col("event_type").as("k"),
          floor(col("value") * lit(100.0)).cast("long").as("vc"))
      // sign-safe floor (s - pmod(s, n)) div n: matches the batch
      // cusumChangepoints floorDiv convention and the oracle's `//`
      // unconditionally, not just on non-negative readings
      val muDf = calDf.groupBy(col("k"))
        .agg(sum(col("vc")).as("s"), count(lit(1)).as("n"))
        .withColumn("mu", expr("(s - pmod(s, n)) div n"))
      val madDf = calDf.join(muDf.select(col("k"), col("mu"), col("n")), "k")
        .groupBy(col("k"), col("mu"), col("n"))
        .agg(sum(abs(col("vc") - col("mu"))).as("sa"))
        .withColumn("mad", expr("(sa - pmod(sa, n)) div n"))
      val calib = madDf.select("k", "mu", "mad").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val stream = streamingEvents(s, d)
        .filter(col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp"))
      val out = graft.streaming.Streams.cusumStream(stream, "ts",
        "event_type", "value", calib, hMult = 3)
      runAvailableNow(s, out, "cusum", d,
        _.select(col("grp"), col("tsUs").as("ts_us"),
          col("vCents").as("v_cents"), col("up").as("up_cents"),
          col("down").as("down_cents"), col("direction")),
        graft.streaming.Streams.cusumStreamMode)
    },
      Oracle("""WITH cal0 AS (SELECT event_type AS grp,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events
           WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-01'
             AND ts < TIMESTAMP '2024-01-16'),
         -- Euclidean floor (DuckDB integer `//` truncates on negatives;
         -- the engine's calibration mu floor-divides sign-safely)
         calmu AS (SELECT grp,
             (s - (((s % n) + n) % n)) // n AS mu
           FROM (SELECT grp, CAST(SUM(vc) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
                 FROM cal0 GROUP BY 1)),
         cal AS (SELECT c.grp, mu,
             CAST(SUM(abs(vc - mu)) AS BIGINT) // COUNT(*) AS mad
           FROM cal0 c JOIN calmu USING (grp) GROUP BY 1, 2),
         p AS (SELECT event_type AS grp, epoch_ns(ts)//1000 AS us,
             CAST(floor(value*100) AS BIGINT) AS vc
           FROM events
           WHERE value IS NOT NULL AND ts IS NOT NULL
             AND ts >= TIMESTAMP '2024-01-16'),
         w AS (SELECT p.grp, us, vc, mu, mad,
             CAST(SUM(vc - mu - (mad//2)) OVER (PARTITION BY p.grp
               ORDER BY us, vc ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS su,
             CAST(SUM(vc - mu + (mad//2)) OVER (PARTITION BY p.grp
               ORDER BY us, vc ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS sd
           FROM p JOIN cal ON cal.grp = p.grp),
         h AS (SELECT grp, us, vc, mad,
             su - LEAST(CAST(0 AS BIGINT), MIN(su) OVER (PARTITION BY grp
               ORDER BY us, vc ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)) AS up,
             GREATEST(CAST(0 AS BIGINT), MAX(sd) OVER (PARTITION BY grp
               ORDER BY us, vc ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)) - sd AS down
           FROM w)
         SELECT grp, us AS ts_us, vc AS v_cents,
           CAST(up AS BIGINT) AS up_cents, CAST(down AS BIGINT) AS down_cents,
           CASE WHEN up > 3*mad AND down > 3*mad THEN 'both'
                WHEN up > 3*mad THEN 'up' ELSE 'down' END AS direction
         FROM h WHERE up > 3*mad OR down > 3*mad""")),
    // Stream-static dim enrichment (J2 as a stream): events joined to the
    // customer dim on user_id. Stateless — no watermark, no join state; the
    // static side is re-planned (and broadcast) each micro-batch. One
    // AvailableNow batch == the plain batch left join, which is the oracle.
    QueryDef("q_stream_enrich", (s, d) => {
      val dim = Tables.customer(s, d).select(col("c_custkey").as("user_id"),
        col("c_name"), col("c_mktsegment"))
      val out = graft.streaming.Streams.enrichStream(
        streamingEvents(s, d), dim, Seq("user_id"))
      runAvailableNow(s, out, "enrich", d,
        _.select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment")))
    },
      Oracle("""SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
         FROM events e
         LEFT JOIN customer c ON c.c_custkey = e.user_id""")),
    // Session windows as a stream: gap-closed per-key sessions, append mode —
    // sessions whose end (last event + gap) precedes the final watermark are
    // emitted. Oracle = the closed-form batch sessionization (gaps-and-
    // islands with session_window's STRICT merge rule: a gap exactly equal
    // to 30 min splits) with the watermark cutoff applied.
    QueryDef("q_stream_sessions", (s, d) => {
      val out = graft.streaming.Streams.sessionSumStream(
        streamingEvents(s, d), "ts", col("event_type"), col("value"))
      runAvailableNow(s, out, "sessions", d,
        _.select(col("session_start"), col("session_end"), col("grp"),
          round(col("total"), 2).as("total"), col("n")))
    },
      // closed-form batch sessionization with session_window's STRICT merge
      // rule (gap == 30 min splits → break on >=), session_end = last event +
      // gap, emitted once the final watermark (max ts - 2h) passes the end
      Oracle("""WITH mx AS (SELECT max(ts) AS m FROM events),
         l AS (SELECT event_type, ts, value,
                 lag(ts) OVER (PARTITION BY event_type ORDER BY ts) AS prev
               FROM events),
         b AS (SELECT event_type, ts, value,
                 CASE WHEN prev IS NULL
                        OR epoch_ms(ts) - epoch_ms(prev) >= 1800000
                      THEN 1 ELSE 0 END AS brk
               FROM l),
         s AS (SELECT event_type, ts, value,
                 sum(brk) OVER (PARTITION BY event_type ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS six
               FROM b),
         g AS (SELECT event_type AS grp, min(ts) AS session_start,
                 max(ts) + INTERVAL 30 MINUTE AS session_end,
                 round(sum(value), 2) AS total, count(*)::BIGINT AS n
               FROM s GROUP BY event_type, six)
         SELECT session_start, session_end, grp, total, n FROM g, mx
         WHERE session_end <= m - INTERVAL 2 HOUR""")),
  )
}
