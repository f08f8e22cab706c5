package graft
package registry

import org.apache.spark.sql.functions._
import graft.engine._
import graft.registry.QueryDef._

/** SQL surface family: the same proven result contracts through the
  * `spark.sql` entry path — temp views for the tables and the
  * GraftExtensions function registry for the native expressions. Each
  * `q_sql_*` mirror checks against its DataFrame twin's DuckDB oracle
  * verbatim (`SameAs`), and SqlSurfaceSpec asserts the SQL plan returns
  * bit-identical rows to the DataFrame path on the same session. */
private[graft] object SqlSurfaceQueries {
  import SparkEntry._
  import Tables._

  /** q_sql_cosine_topk's statement: the top-5 (qid, cid, cos, rn) of the
    * `qids` rows of a (vec_id, embedding) `view`, under its twin
    * `annTopK`'s contract — broadcast queries, round(., 6), (cos DESC, cid)
    * ties, and a NULL cosine (a zero vector) is never ranked. */
  private[graft] def cosineTopKSql(view: String, qids: Seq[Long]): String =
    s"""WITH e AS (SELECT vec_id,
                     transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM $view),
        q AS (SELECT vec_id AS qid, v AS qv FROM e
              WHERE vec_id IN (${qids.mkString(", ")})),
        sc AS (SELECT /*+ BROADCAST(q) */ q.qid, e.vec_id AS cid,
                 round(graft_cosine(e.v, q.qv), 6) AS cos
               FROM e JOIN q ON e.vec_id != q.qid)
        SELECT qid, cid, cos, rn FROM (
          SELECT qid, cid, cos,
            CAST(row_number() OVER (PARTITION BY qid
              ORDER BY cos DESC, cid) AS BIGINT) AS rn
          FROM sc WHERE cos IS NOT NULL) WHERE rn <= 5"""

  val defs: Seq[QueryDef] = Seq(
    // SQL surface parity: the A9 top-K via spark.sql over a temp view
    QueryDef("q_sql_topk", (s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_suppkey AS grp,
               round(SUM(l_extendedprice * (1 - l_discount)), 2) AS total
               FROM lineitem_v GROUP BY 1 ORDER BY total DESC, grp LIMIT 10""")
    },
      SameAs("q_topk_revenue")),
    // A6 hourly rollup through SQL (twin: q_hourly_by_type)
    QueryDef("q_sql_hourly", (s, d) => {
      events(s, d).createOrReplaceTempView("events_v")
      s.sql("""SELECT date_trunc('hour', ts) AS bucket, event_type AS grp,
               round(SUM(value), 2) AS total
               FROM events_v GROUP BY 1, 2""")
    },
      SameAs("q_hourly_by_type")),
    // U2 keep-last dedup through SQL (twin: q_dedup_keep_last) — the same
    // explicit (ts, event_id) total order, window partitioned by the key
    QueryDef("q_sql_dedup_last", (s, d) => {
      events(s, d).createOrReplaceTempView("events_v")
      s.sql("""SELECT user_id, event_type, day, ts, value FROM (
                 SELECT user_id, event_type, to_date(ts) AS day, ts, value,
                   row_number() OVER (
                     PARTITION BY user_id, event_type, to_date(ts)
                     ORDER BY ts DESC, event_id DESC) AS rn
                 FROM events_v) WHERE rn = 1""")
    },
      SameAs("q_dedup_keep_last")),
    // brute-force cosine top-k through SQL via the registered native
    // graft_cosine expression (twin: q_ann_cosine_topk)
    QueryDef("q_sql_cosine_topk", (s, d) => {
      GraftExtensions.registerOn(s)
      embeddings(s, d).createOrReplaceTempView("embeddings_v")
      s.sql(cosineTopKSql("embeddings_v", Seq(0L, 1L, 2L)))
    },
      SameAs("q_ann_cosine_topk")),
    // A7 range-sum through SQL (twin: q_sum_over_range): the view wraps
    // Tables.eventsRange — the documented pushdown entry point for range
    // predicates on the nanos-physical events table — and
    // the SQL restates the same half-open predicate (a residual filter
    // over the already-pruned scan, keeping the statement self-contained)
    QueryDef("q_sql_sum_range", (s, d) => {
      Tables.eventsRange(s, d, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
        .createOrReplaceTempView("events_range_v")
      s.sql("""SELECT round(SUM(value), 2) AS total, COUNT(*) AS n
               FROM events_range_v
               WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                 AND ts <  TIMESTAMP '2024-01-20 00:00:00'""")
    },
      SameAs("q_sum_over_range")),
    // J5 dim-activity through SQL (twin: q_dim_activity_range): the same
    // left join with the range condition IN the ON clause (an unmatched
    // or out-of-range supplier keeps its zero row) and COALESCE(SUM,0)
    QueryDef("q_sql_dim_activity", (s, d) => {
      supplier(s, d).createOrReplaceTempView("supplier_v")
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT s.s_suppkey AS grp,
                 round(COALESCE(SUM(l.l_extendedprice), 0), 2) AS total
               FROM supplier_v s LEFT JOIN lineitem_v l
                 ON s.s_suppkey = l.l_suppkey
                AND l.l_shipdate >= TIMESTAMP '1996-01-01'
                AND l.l_shipdate <= TIMESTAMP '1996-12-31'
               GROUP BY 1""")
    },
      SameAs("q_dim_activity_range")),
    // A4 per-key high-watermark through SQL (twin: q_watermark) — the
    // reference's live resume probe (daily_pv_automation.py:79-87) reaches
    // the engine through both APIs
    QueryDef("q_sql_watermark", (s, d) => {
      events(s, d).createOrReplaceTempView("events_v")
      s.sql("""SELECT user_id AS grp, max(ts) AS last_ts,
               max(event_type) AS carry
               FROM events_v GROUP BY 1""")
    },
      // r9 mirrors: the remaining reference SQL consumers (Grafana recency
      // panel, automation watermark + backfill probes) through spark.sql
      SameAs("q_watermark")),
    // A5 backfill probe through SQL (twin: q_incomplete_days): the view
    // wraps Tables.eventsRange — the pushdown entry point for the
    // nanos-physical events table — and the SQL restates the half-open
    // range as a residual predicate (the q_sql_sum_range pattern)
    QueryDef("q_sql_incomplete_days", (s, d) => {
      Tables.eventsRange(s, d, "2024-01-05", "2024-01-12")
        .createOrReplaceTempView("events_backfill_v")
      s.sql("""SELECT to_date(ts) AS day,
                 COUNT(DISTINCT hour(ts)) AS n_hours
               FROM events_backfill_v
               WHERE event_type = 'error'
                 AND ts >= TIMESTAMP '2024-01-05 00:00:00'
                 AND ts <  TIMESTAMP '2024-01-12 00:00:00'
               GROUP BY 1
               HAVING COUNT(DISTINCT hour(ts)) < 24""")
    },
      SameAs("q_incomplete_days")),
    // P11 rolling recency panel through SQL (twin: q_rolling_window):
    // same daily pre-aggregate, same RANGE frame over the TZ-safe
    // datediff day index (see Analytics.rollingByKey's DST note)
    QueryDef("q_sql_rolling", (s, d) => {
      events(s, d).createOrReplaceTempView("events_v")
      s.sql("""WITH daily AS (
                 SELECT event_type AS grp, to_date(ts) AS day,
                   SUM(value) AS dv, COUNT(*) AS dn
                 FROM events_v GROUP BY 1, 2)
               SELECT grp, day,
                 round(SUM(dv) OVER w, 2) AS rolling_total,
                 SUM(dn) OVER w AS rolling_n
               FROM daily
               WINDOW w AS (PARTITION BY grp
                 ORDER BY CAST(datediff(day, DATE '1970-01-01') AS BIGINT)
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""")
    },
      SameAs("q_rolling_window")),
    // per-vector squared L2 norm through SQL via the registered native
    // graft_norm_sq expression — map-only scan, DuckDB replays the same
    // sequential sum of squares with list_inner_product(v, v)
    QueryDef("q_sql_embed_norm", (s, d) => {
      GraftExtensions.registerOn(s)
      embeddings(s, d).createOrReplaceTempView("embeddings_v")
      s.sql("""SELECT vec_id,
                 round(graft_norm_sq(
                   transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS norm_sq
               FROM embeddings_v""")
    },
      Oracle("""SELECT vec_id,
         round(list_inner_product(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS norm_sq
         FROM embeddings""")),
  )
}
