package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** §2.8 — the reference's scheduled-batch incremental semantics re-expressed
  * as Structured Streaming. The reference polls APIs on cron, keeps per-key
  * high-watermarks in the sink, and re-fetches incomplete days
  * (daily_pv_automation.py:74-126, nambu_backfill.py:161-182). Here the same
  * semantics are event-driven: watermarked tumbling windows for the hourly
  * rollup (A6), watermark+dropDuplicates for upsert-ish idempotency (S14),
  * and a typed stateful tracker for per-key resume points (A4/A5).
  *
  * All transforms take/return streaming DataFrames; run them with
  * `Trigger.AvailableNow()` for the reference's batch-cron behavior, or a
  * processing-time trigger for continuous ingest. State is bounded by the
  * watermark (old windows/dup-keys evicted), so executors hold O(keys ×
  * watermark-horizon) state regardless of total stream length.
  */
object Streams {

  /** A6 as a stream: hourly tumbling-window sum per key, late data admitted
    * up to `lateness`. Append-mode emits each window once, when the
    * watermark passes — the streaming analogue of the reference's
    * "re-fetch until the day is complete". */
  def hourlySumStream(events: DataFrame, ts: String, key: Column,
                      value: Column, lateness: String = "2 hours"): DataFrame =
    events.withWatermark(ts, lateness)
      .groupBy(window(col(ts), "1 hour").as("win"), key.as("grp"))
      .agg(sum(value).as("total"))
      .select(col("win.start").as("bucket"), col("grp"), col("total"))

  /** Sliding-window aggregate: overlapping windows of `size` advancing
    * every `slide` — the trailing-window rollup (A10/P11+'s rollingByKey)
    * as a stream. Spark expands each event onto its size/slide covering
    * windows map-side; state is bounded to windows still inside the
    * watermark horizon. Append emits each window exactly once, when the
    * watermark passes its end. */
  def slidingSumStream(events: DataFrame, ts: String, key: Column,
                       value: Column, size: String = "2 hours",
                       slide: String = "1 hour",
                       lateness: String = "2 hours"): DataFrame =
    events.withWatermark(ts, lateness)
      .groupBy(window(col(ts), size, slide).as("win"), key.as("grp"))
      .agg(sum(value).as("total"), count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col("grp"), col("total"), col("n"))

  /** The billing tier's streaming stage: daily TOU band rollup per key —
    * peak/off-peak energy cents accumulate as readings arrive; append
    * emits each (key, day) cell exactly once, when the watermark clears
    * the day. (Monthly statement assembly stays batch —
    * [[graft.engine.Billing.billingStatement]] — calendar months are not
    * fixed-length stream windows.) Integer contract matches
    * [[graft.engine.Billing.touEnergyCharges]]: floor-cents energy,
    * weekday 9–21h peak band (Spark dayofweek 1=Sun..7=Sat), so a day's
    * streamed cell is bit-identical to the batch rollup of the same day.
    */
  def touDailyStream(events: DataFrame, ts: String, key: Column,
                     value: Column, peakStartHour: Int = 9,
                     peakEndHour: Int = 21,
                     lateness: String = "2 hours"): DataFrame = {
    require(peakStartHour >= 0 && peakEndHour <= 24 &&
      peakStartHour < peakEndHour, "peak band must be a non-empty sub-day " +
        s"range: [$peakStartHour, $peakEndHour)")
    val cents = floor(value * lit(100.0)).cast("long")
    val isPeak = hour(col(ts)) >= peakStartHour &&
      hour(col(ts)) < peakEndHour && !dayofweek(col(ts)).isin(1, 7)
    events.filter(value.isNotNull).withWatermark(ts, lateness)
      .groupBy(window(col(ts), "1 day").as("win"), key.as("grp"))
      .agg(sum(when(isPeak, cents).otherwise(lit(0L))).as("peak_cents"),
        sum(when(isPeak, lit(0L)).otherwise(cents)).as("off_cents"))
      .select(col("win.start").cast("date").as("day"), col("grp"),
        col("peak_cents"), col("off_cents"))
  }

  /** Streaming daily degree-day grain — the incremental front half of
    * [[graft.engine.Forecast.degreeDaySensitivity]] (the regression itself
    * stays batch, like [[touDailyStream]] leaves monthly assembly batch:
    * model fitting over day-sized grain is not stream work). One
    * watermarked 1-day tumbling aggregation over the MIXED feed: rows
    * matching `isTemp` land in the sentinel `_temp` group and close as
    * (day, hdd_cents, cdd_cents) cells — Euclidean-floor-mean temperature
    * vs `baseCents`, the batch operator's exact arithmetic — while load
    * rows close as per-key (day, load_cents) cells. Append emits each
    * cell once when the watermark passes the day end; the single-run
    * closed form is the batch daily rollup restricted to closed days
    * (the oracle). Keys must not collide with the `_temp` sentinel. */
  def degreeDayDailyStream(events: DataFrame, ts: String, isTemp: Column,
                           key: Column, value: Column, baseCents: Long,
                           lateness: String = "2 hours"): DataFrame = {
    require(baseCents > 0, s"baseCents > 0: $baseCents")
    val cents = floor(value * lit(100.0)).cast("long")
    // sign-safe Euclidean floor mean in PURE integer arithmetic
    // (`div`, not `/`-then-cast: double division is exact only while a
    // day's cents sum stays ≤ 2⁵³ — ADVICE r8; the DuckDB oracle's `//`
    // and the batch operator's floorDiv hold unconditionally)
    val tmean = expr("(_s - pmod(_s, n)) div n")
    events.filter(value.isNotNull).withWatermark(ts, lateness)
      .groupBy(window(col(ts), "1 day").as("win"),
        when(isTemp, lit("_temp")).otherwise(key.cast("string")).as("grp"))
      .agg(sum(cents).as("_s"), count(lit(1)).as("n"))
      .select(col("win.start").cast("date").as("day"), col("grp"),
        when(col("grp") =!= "_temp", col("_s")).as("load_cents"),
        when(col("grp") === "_temp",
          greatest(lit(0L), lit(baseCents) - tmean)).as("hdd_cents"),
        when(col("grp") === "_temp",
          greatest(lit(0L), tmean - lit(baseCents))).as("cdd_cents"),
        col("n"))
  }

  /** S14/U3 as a stream: exactly-once-per-key within the watermark horizon
    * (duplicate re-deliveries from upstream retries are dropped). */
  def dedupStream(events: DataFrame, ts: String, keys: Seq[String],
                  lateness: String = "2 hours"): DataFrame =
    events.withWatermark(ts, lateness)
      .dropDuplicates(keys :+ ts)

  /** Session windows: per-key activity sessions closed after `gap` of
    * silence — the streaming shape of "collection sessions" (the reference's
    * per-run batches become dynamic sessions). State per open session only. */
  def sessionSumStream(events: DataFrame, ts: String, key: Column,
                       value: Column, gap: String = "30 minutes",
                       lateness: String = "2 hours"): DataFrame =
    events.withWatermark(ts, lateness)
      .groupBy(session_window(col(ts), gap).as("win"), key.as("grp"))
      .agg(sum(value).as("total"), count(lit(1)).as("n"))
      .select(col("win.start").as("session_start"),
        col("win.end").as("session_end"), col("grp"), col("total"), col("n"))

  /** Stream-static enrichment — J2 (broadcast lookup) as a stream, the
    * canonical dimension-join pattern. The static side is re-EXECUTED each
    * micro-batch and broadcast when small; the left join keeps unmatched
    * events with NULL dim attributes, so a missing dim row never drops
    * facts. Stateless by construction: no watermark, no join state to
    * evict — the dim is not a stream.
    *
    * Dim refresh caveat (MEASURED, pinned in StreamsSpec): a FILE-based
    * dim's listing is resolved once at stream start — later part files are
    * invisible to the running query even after `refreshByPath`, and an
    * in-place overwrite makes batches fail chasing deleted files. To
    * rotate a file-backed dim under a live stream, restart the query or
    * read the dim through an indirection the re-execution does see (a
    * catalog table / table format, or [[graft.engine.Sink]]'s
    * versioned-pointer layout resolved per batch). */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  /** W5 historical fill as a STREAM — the reference's E2 imputation flow
    * (impute_missing.py:147-184) in real time: each micro-batch LEFT-joins
    * the BROADCAST static (grp, m, d, h) historical-mean lookup, then the
    * per-key mean, then the global mean — the exact coalesce fallback
    * chain of [[graft.engine.Impute.historicalFill]] — so a gap is filled
    * the moment the reading (or its null placeholder) arrives. Stateless
    * by construction (the [[enrichStream]] regime: no watermark, no join
    * state to evict — the lookups are not streams), so a late row fills
    * identically to an on-time one and append emits every row exactly
    * once, in its own batch; the single-run AvailableNow output equals
    * the batch fallback-chain replay over the same rows (the oracle).
    *
    * Integer contract: readings quantize to micro-units on entry
    * (floor(v·10⁶ + ½), the q_hist_mean_mdh convention) and lookup means
    * are Euclidean floor means, so fills are bit-exact cross-engine —
    * no FP-accumulation sensitivity (the batch operator's round(·,6) at
    * micro precision). `hist`: (grp, m, d, h, hist_micro); `keyMeans`:
    * (grp, key_micro); `globalMicro`: the corpus-mean fallback scalar
    * (model-sized driver value, the cusum-calibration pattern). Lookups
    * are dimension-sized (≤ keys × 12·31·24 cells) — broadcast holds at
    * any corpus scale because the grid, not the corpus, bounds them.
    * Output: (grp, ts, v_micro, v_filled_micro, fill_src). */
  def histFillStream(events: DataFrame, ts: String, key: Column,
                     value: Column, hist: DataFrame, keyMeans: DataFrame,
                     globalMicro: Long): DataFrame =
    events.select(key.cast("string").as("grp"), col(ts).as("ts"),
        floor(value * lit(1000000.0) + lit(0.5)).cast("long").as("v_micro"))
      .withColumn("m", month(col("ts")))
      .withColumn("d", dayofmonth(col("ts")))
      .withColumn("h", hour(col("ts")))
      .join(broadcast(hist), Seq("grp", "m", "d", "h"), "left")
      .join(broadcast(keyMeans), Seq("grp"), "left")
      .select(col("grp"), col("ts"), col("v_micro"),
        coalesce(col("v_micro"), col("hist_micro"), col("key_micro"),
          lit(globalMicro)).as("v_filled_micro"),
        when(col("v_micro").isNotNull, lit("present"))
          .when(col("hist_micro").isNotNull, lit("hist"))
          .when(col("key_micro").isNotNull, lit("key"))
          .otherwise(lit("global")).as("fill_src"))

  /** Stream-stream interval join: each left event enriched with right events
    * of the same key within [left.ts - tolerance, left.ts] — the streaming
    * generation⋈weather overlay. Both sides watermarked so join state is
    * evicted past the horizon. Column names must be distinct across sides. */
  def intervalJoinStreams(left: DataFrame, lKey: String, lTs: String,
                          right: DataFrame, rKey: String, rTs: String,
                          tolerance: String = "1 hour",
                          lateness: String = "2 hours",
                          joinType: String = "inner"): DataFrame =
    left.withWatermark(lTs, lateness).join(
      right.withWatermark(rTs, lateness),
      expr(s"$lKey = $rKey AND $rTs BETWEEN $lTs - INTERVAL '$tolerance' " +
        s"AND $lTs"),
      joinType)

  /** Stream-stream LEFT OUTER interval join: like [[intervalJoinStreams]],
    * but a left event that the watermark proves can never match (every
    * admissible right timestamp `[lTs - tolerance, lTs]` is below the
    * watermark, i.e. `lTs < wm`) is emitted once with NULL right columns —
    * the streaming "activity without its trigger" probe. The null emission
    * necessarily happens in a LATER batch than the left row's own (only a
    * subsequent batch's advanced watermark can prove no-match) — under
    * AvailableNow that later batch is the trailing no-data batch each
    * execution appends, so a run's outer emissions reflect its FINAL
    * watermark; the two-run checkpointed rig (`q_stream_left_join`) pins
    * the semantics across a restart. Join state on both sides is evicted
    * at the same thresholds as the inner variant. */
  def leftOuterIntervalJoinStreams(left: DataFrame, lKey: String, lTs: String,
                                   right: DataFrame, rKey: String, rTs: String,
                                   tolerance: String = "1 hour",
                                   lateness: String = "2 hours"): DataFrame =
    intervalJoinStreams(left, lKey, lTs, right, rKey, rTs, tolerance,
      lateness, "leftOuter")

  case class KeyProgress(grp: String, lastTs: Timestamp, hoursSeen: Int,
                         lastDay: String)
  // state = (lastTsMs, hourMask, day) — a flat tuple keeps the state encoder
  // codegen-friendly (a nested private case class is not reachable from
  // generated code)
  private type ProgressState = (Long, Int, String)

  /** A4/A5 as typed streaming state: per key, track the high-watermark and an
    * hour-of-day bitmask for the most recent day — the streaming resume-point
    * tracker. Emits updated progress on every batch (Update mode).
    * State is one (long, int, string) per key — flat and GC-cheap. */
  def resumeTracker(events: DataFrame, ts: String, key: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr(s"CAST($key AS STRING) AS k", s"CAST($ts AS TIMESTAMP) AS t")
      .as[(String, Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[ProgressState, KeyProgress](
        GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[(String, Timestamp)],
         state: GroupState[ProgressState]) =>
          var (lastTsMs, hourMask, day) =
            state.getOption.getOrElse((Long.MinValue, 0, ""))
          rows.foreach { case (_, t) =>
            // pure UTC epoch math — Timestamp.toString/toLocalDateTime use
            // the JVM default zone and would diverge from the UTC session
            val sec = Math.floorDiv(t.getTime, 1000L)
            val d = java.time.LocalDate
              .ofEpochDay(Math.floorDiv(sec, 86400L)).toString
            val hour = (Math.floorMod(sec, 86400L) / 3600L).toInt
            lastTsMs = math.max(lastTsMs, t.getTime)
            if (d > day) { day = d; hourMask = 1 << hour }
            else if (d == day) hourMask |= (1 << hour)
          }
          state.update((lastTsMs, hourMask, day))
          KeyProgress(k, new Timestamp(lastTsMs),
            Integer.bitCount(hourMask), day)
      }
      .toDF()
  }

  /** Stream → keyed-upsert table, the production `foreachBatch` sink
    * pattern (the reference's psycopg2 `ON CONFLICT DO UPDATE` loop
    * becomes: each micro-batch MERGEs into the parquet table via
    * [[graft.engine.Sink.upsertParquet]]). Structured Streaming guarantees
    * foreachBatch AT-LEAST-once — after a crash between sink commit and
    * checkpoint commit, the SAME batchId is re-delivered — so exactly-once
    * needs the sink itself to dedupe: a `<path>._last_batch` marker records
    * the last applied batchId and a replay with `batchId <= marker` is a
    * no-op. (The keyed upsert is idempotent for identical re-deliveries
    * anyway; the marker also makes it safe when the table advanced in
    * between.) Runs under AvailableNow and blocks until the tick drains —
    * the cron-batch shape. At scale, swap the POSIX marker for the
    * versioned-pointer commit ([[graft.engine.Sink.PointerCommit]]) whose
    * pointer write is the atomic unit on object stores. */
  def upsertSink(stream: DataFrame, path: String, ckpt: String,
                 keys: Seq[String], tieBreak: Seq[String]): Unit = {
    val fn: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, batchId) => {
        val marker = new java.io.File(path + "._last_batch")
        val last =
          if (marker.exists())
            scala.io.Source.fromFile(marker).mkString.trim.toLong
          else -1L
        if (batchId > last) {
          // dedupe WITHIN the batch first: upsertParquet's no-table branch
          // writes incoming as-is, and a keyed table must be keyed from
          // batch one
          val deduped = graft.engine.Dedup.keepLast(batch,
            keys.map(col), tieBreak.map(col))
          graft.engine.Sink.upsertParquet(batch.sparkSession, deduped, path,
            keys, tieBreak.map(col))
          val w = new java.io.PrintWriter(marker)
          try w.print(batchId) finally w.close()
        }
      }
    val q = stream.writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** E1 daily-PV ingestion as a stream (VERDICT r9 missing #3 — the last
    * flow tier without a real-time counterpart): wide per-day rows with 24
    * hour-columns arrive per micro-batch exactly as the upstream API
    * delivers them (daily_pv_automation.py:169), are melted long + hour-
    * parsed (W1/W2 — stateless narrow maps, no state store), and sunk via
    * `foreachBatch` → [[graft.engine.Sink.overwriteDatePartitions]] (S13).
    *
    * Idempotency: foreachBatch is AT-LEAST-once, and the date-partition
    * overwrite is idempotent for re-delivered batches, so no batch marker
    * is needed — replaying a batch rewrites its days to the same bytes.
    * DAY-COMPLETE DELIVERY CONTRACT: a wide row carries a FULL day for its
    * group, and every row of a given `ymd` must arrive in ONE tick (the
    * reference's daily cron delivers whole days); a day split across ticks
    * would have the later tick's overwrite drop the earlier tick's groups.
    * Runs under AvailableNow and blocks until the tick drains — the
    * cron-batch shape, restartable from `ckpt` (processed files are
    * remembered by the file-source checkpoint, so the next tick melts only
    * new deliveries).
    *
    * `transform` maps the wide batch to melted rows carrying `tsCol`; it
    * MUST be stateless (pure per-row), which is what makes the AvailableNow
    * output equal the batch replay — the [[histFillStream]] oracle
    * argument. Scale: melt is a Generator (narrow), the sink shuffles one
    * day's rows per partition write — no stage depends on corpus size. */
  def meltIngestSink(wide: DataFrame, transform: DataFrame => DataFrame,
                     tsCol: String, path: String, ckpt: String): Unit = {
    val fn: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        // guard on the RAW batch: the check exists only to skip the
        // AvailableNow trailing no-data batch, and foreachBatch frames
        // re-execute per action — isEmpty on the TRANSFORMED frame would
        // re-read and re-melt the tick's files a second time
        if (!batch.isEmpty)
          graft.engine.Sink.overwriteDatePartitions(
            transform(batch), org.apache.spark.sql.functions.col(tsCol), path)
      }
    val q = wide.writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The one input of the four alarm streams: readings `(k, us, vc)` —
    * key as a string, event time in epoch micros, value floored to cents —
    * grouped by key. Rows with a NULL value or a NULL `ts` are dropped: a
    * null is a gap, not a reading (and the typed `Long` projection cannot
    * hold one — it would fail the query with NOT_NULL_ASSERT_VIOLATION). */
  private def readings(events: DataFrame, ts: String, key: String,
                       value: String)
      : KeyValueGroupedDataset[String, (String, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.where(s"$value IS NOT NULL AND $ts IS NOT NULL")
      .selectExpr(s"CAST($key AS STRING) AS k",
        s"unix_micros(CAST($ts AS TIMESTAMP)) AS us",
        s"CAST(floor($value * 100) AS LONG) AS vc")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
  }

  /** One key's batch rows in fold order, (ts, cents). Rows that tie on
    * both are identical to every alarm rule (same value, same instant), so
    * the order between them cannot change any stream's output multiset —
    * which is what lets each single-batch AvailableNow run equal its SQL
    * closed form, whose window frames order by the same pair. */
  private def inFoldOrder(rows: Iterator[(String, Long, Long)])
      : Array[(String, Long, Long)] =
    rows.toArray.sortBy(r => (r._2, r._3))

  case class Alert(grp: String, tsUs: Long, vCents: Long, nPrior: Long,
                   sumPriorCents: Long)
  // running (count, centSum) per key — flat tuple, codegen-friendly encoder
  private type AlertState = (Long, Long)

  /** Per-key streaming anomaly alerts via `flatMapGroupsWithState` — the
    * flatMap variant of the typed-state API ([[resumeTracker]] covers the
    * map variant): a group emits ZERO OR MORE alert rows per batch, one for
    * each reading that deviates from the key's RUNNING mean by more than
    * `thresholdCents`, judged against state accumulated across every prior
    * batch (and prior rows of this batch, in [[inFoldOrder]]) — the
    * streaming twin of the batch `Analytics.robustAnomalies` family, for
    * the reference's "flag a stuck/spiking plant while ingesting" need.
    *
    * Integer contract: values floor to cents; the deviation test
    * cross-multiplies (`|v·n − Σ| > thr·n`) so no division ever happens —
    * deterministic and exactly replayable as a cumulative-window SQL
    * closed form. NULL readings are dropped ([[readings]]).
    *
    * State is two longs per key. The per-batch, per-key row buffer is
    * sorted in the task (a micro-batch holds minutes of one key's data —
    * bounded by trigger cadence, not stream length). The cross-multiplied
    * magnitudes stay inside Long while `n × maxCents < 2⁶³` (~5×10¹⁴ rows
    * per key at 10⁴ cents) — beyond that, age out state by restarting the
    * accumulation window, which alerting semantics want anyway. */
  def alertStream(events: DataFrame, ts: String, key: String, value: String,
                  thresholdCents: Long, minHistory: Int = 5): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    readings(events, ts, key, value)
      .flatMapGroupsWithState[AlertState, Alert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[AlertState]) =>
          var (n, sum) = state.getOption.getOrElse((0L, 0L))
          val out = Seq.newBuilder[Alert]
          inFoldOrder(rows).foreach { case (_, us, vc) =>
            if (n >= minHistory &&
                math.abs(vc * n - sum) > thresholdCents * n)
              out += Alert(k, us, vc, n, sum)
            n += 1; sum += vc
          }
          state.update((n, sum))
          out.result().iterator
      }
      .toDF()
  }

  case class FlatlineAlarm(grp: String, tsUs: Long, bucket: Long,
                           runLen: Long)

  /** Streaming twin of `Analytics.stuckRuns` as an ALARM: per key, track
    * the current same-bucket run (bucket = floorDiv(cents, quantCents) —
    * the batch operator's quantizer) across batches in two longs of
    * state, and emit exactly ONE alarm per stuck run, at the reading
    * where the run first reaches `minLen`. A flatlined feed alarms once
    * and stays silent until the register moves again — the VEE
    * stale-register check in real time.
    *
    * Readings fold in [[inFoldOrder]] per batch, NULL readings are dropped
    * (a null is a gap, not a stuck reading), and the single-batch
    * AvailableNow run equals the batch gaps-and-islands closed form with
    * `rank-within-island == minLen` exactly (the oracle). State never
    * ages: two longs per key, the watermark-free [[cusumStream]] regime.
    */
  def flatlineStream(events: DataFrame, ts: String, key: String,
                     value: String, quantCents: Long,
                     minLen: Int): DataFrame = {
    require(quantCents >= 1, s"quantCents >= 1: $quantCents")
    require(minLen >= 2, s"minLen >= 2 (a single tick is never stuck): $minLen")
    val spark = events.sparkSession
    import spark.implicits._
    readings(events, ts, key, value)
      .flatMapGroupsWithState[(Long, Long), FlatlineAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          // (lastBucket, runLen); Long.MinValue = "no prior reading"
          var (last, n) = state.getOption.getOrElse((Long.MinValue, 0L))
          val out = Seq.newBuilder[FlatlineAlarm]
          inFoldOrder(rows).foreach { case (_, us, vc) =>
            val q = Math.floorDiv(vc, quantCents)
            if (q == last && n > 0) n += 1 else { last = q; n = 1L }
            if (n == minLen) out += FlatlineAlarm(k, us, q, n)
          }
          state.update((last, n))
          out.result().iterator
      }
      .toDF()
  }

  case class DemandPeak(grp: String, month: java.time.LocalDate,
                        hourUs: Long, peakCents: Long)

  /** Streaming twin of `Billing.demandCharge`'s max-hourly tracker: per
    * key, accumulate the current hour's energy and the billing cycle's
    * (calendar month's) running demand maximum in three longs of state —
    * (currentHourStartUs, currentHourCents, maxClosedHourCents) — and
    * emit one row whenever a CLOSED hour sets a new positive cycle peak.
    * That is the real-time "new demand peak" alert a commercial tariff
    * desk watches (every new peak raises the month's demand charge); the
    * batch statement stays the settlement source of truth.
    *
    * An hour CLOSES when a strictly later-hour reading for the key
    * arrives (the final in-flight hour never closes — emitted by the
    * next tick's data); a month change resets the running maximum AFTER
    * the crossing reading closes the previous month's last hour into its
    * own cycle. Peaks are STRICT improvements over max(0, closed hours
    * so far): a cycle of net-export (negative) hours never alarms.
    * Readings fold in [[inFoldOrder]] per batch; NULL readings are
    * dropped; a cross-batch reading OLDER
    * than the open hour is dropped too (watermark-free stream — zero
    * declared late-data tolerance; folding it would close the open hour
    * on a partial sum and corrupt the ratchet); hour/month boundaries are
    * UTC wall-clock (`unix_micros` grid / proleptic LocalDate — no
    * session-TZ dependence). The single-batch AvailableNow run equals the batch
    * closed form: hourly sums, drop each key's last hour, emit hours
    * exceeding `greatest(0, max of prior closed hours in the month)` —
    * the oracle. State never ages: three longs per key, the
    * watermark-free [[cusumStream]] regime. */
  def demandPeakStream(events: DataFrame, ts: String, key: String,
                       value: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val HourUs = 3600000000L
    def monthOf(hourUs: Long): java.time.LocalDate =
      java.time.Instant.ofEpochSecond(Math.floorDiv(hourUs, 1000000L))
        .atOffset(java.time.ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
    readings(events, ts, key, value)
      .flatMapGroupsWithState[(Long, Long, Long), DemandPeak](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          // (curHour, curSum, maxSoFar); Long.MinValue = "no open hour"
          var (curHour, curSum, maxSoFar) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L))
          val out = Seq.newBuilder[DemandPeak]
          inFoldOrder(rows).foreach { case (_, us, vc) =>
            val h = us - Math.floorMod(us, HourUs)
            if (curHour == Long.MinValue) { curHour = h; curSum = vc }
            else if (h == curHour) curSum += vc
            else if (h > curHour) {
              // close the open hour into ITS month's cycle max
              if (curSum > maxSoFar) {
                out += DemandPeak(k, monthOf(curHour), curHour, curSum)
                maxSoFar = curSum
              }
              if (monthOf(h) != monthOf(curHour)) maxSoFar = 0L
              curHour = h; curSum = vc
            }
            // h < curHour: a cross-batch LATE reading for an already-
            // closed hour. Dropped — closing the open hour on it would
            // emit a partial-sum peak, rewind the open hour, and (across
            // a month boundary) spuriously reset the cycle ratchet
            // (code-review r8 finding). This stream is watermark-free by
            // design (state never ages), so late-data tolerance is the
            // declared zero of the alertStream family.
          }
          state.update((curHour, curSum, maxSoFar))
          out.result().iterator
      }
      .toDF()
  }

  case class CusumAlarm(grp: String, tsUs: Long, vCents: Long, up: Long,
                        down: Long, direction: String)
  // (su, minSu, sd, maxSd) — the prefix-sum closed form of both clamped
  // CUSUM recursions in four longs (minSu/maxSd pre-clamped at 0 by init)
  private type CusumState = (Long, Long, Long, Long)

  /** Streaming twin of `Forecast.cusumChangepoints` at the reading grain:
    * per-key CUSUM level-shift alarms with FIXED calibration — (muCents,
    * madCents) per key from a reference window, the model-sized driver
    * pattern (IVF centroids, BPE table) — and the clamped recursions
    * carried as four longs of state across batches. `h_t = max(0,
    * h_{t−1}+y_t)` is kept in its prefix form (su − min(0, min prefix su);
    * see the batch operator's induction proof), so update is two adds and
    * two min/max per reading and the single-batch AvailableNow run equals
    * the cumulative-window SQL closed form EXACTLY (the oracle; explicit
    * ROWS frames — the default RANGE frame merges tied (ts, cents) peers,
    * the fold doesn't, and only identical rows may tie).
    *
    * One alarm row per reading whose up/down statistic exceeds
    * hMult·mad, while the statistic stays above — alarm-burst collapsing
    * is a downstream dedup concern, not state semantics. Keys without
    * calibration pass silently (no baseline — no alarm; the quarantine
    * convention). Slack is the batch operator's k = mad div 2. Readings
    * fold in [[inFoldOrder]] per batch; NULL readings are dropped, as the
    * batch operator drops them. State never ages: su drifts by
    * ±(reading − mu ∓ k) per event — restart the accumulation window (new
    * checkpoint) when a shift is acted on, which CUSUM practice wants
    * anyway. */
  def cusumStream(events: DataFrame, ts: String, key: String, value: String,
                  calibration: Map[String, (Long, Long)],
                  hMult: Int = 3): DataFrame = {
    require(hMult >= 1, s"hMult >= 1: $hMult")
    val spark = events.sparkSession
    import spark.implicits._
    val cal = calibration // stable reference for the closure
    readings(events, ts, key, value)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[CusumState]) =>
          cal.get(k) match {
            case None => Iterator.empty
            case Some((mu, mad)) =>
              val slack = mad / 2
              val h = mad * hMult
              var (su, minSu, sd, maxSd) =
                state.getOption.getOrElse((0L, 0L, 0L, 0L))
              val out = Seq.newBuilder[CusumAlarm]
              inFoldOrder(rows).foreach {
                case (_, us, vc) =>
                  su += vc - mu - slack
                  sd += vc - mu + slack
                  minSu = math.min(minSu, su)
                  maxSd = math.max(maxSd, sd)
                  val up = su - minSu
                  val down = maxSd - sd
                  if (up > h || down > h) {
                    val dir = if (up > h && down > h) "both"
                      else if (up > h) "up" else "down"
                    out += CusumAlarm(k, us, vc, up, down, dir)
                  }
              }
              state.update((su, minSu, sd, maxSd))
              out.result().iterator
          }
      }
      .toDF()
  }

  /** Preferred output mode per transform (append for windows, update for the
    * stateful tracker) — callers wire writeStream with these. */
  val hourlySumMode: OutputMode = OutputMode.Append()
  val resumeTrackerMode: OutputMode = OutputMode.Update()
  val alertStreamMode: OutputMode = OutputMode.Append()
  val cusumStreamMode: OutputMode = OutputMode.Append()
}
