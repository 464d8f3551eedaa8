package graft.queries

import org.apache.spark.sql.functions._

import graft.streaming.{CdcUpsert, EventStreams, SentinelFiles, StreamGate}
import DriverSide._

/** Oracle-gated streaming entries: the query fn drives a REAL
  * Structured Streaming run (readStream → watermark+window agg → memory
  * sink) to completion and returns the sink table, so streaming
  * semantics pass through the exact same DuckDB gate as batch. Round 1
  * pinned streaming only by stream==batch specs; this makes the
  * streaming path's numbers themselves hash-match the oracle.
  */
object StreamingQueries {

  /** q54: EventStreams.hourlyCounts driven as a stream over the events
    * fixture; oracle = batch q21's SQL. Complete output mode emits every
    * window at the end, which on a finite input equals the batch
    * grouping; `hour` is cast back to timestamp_ntz to match the batch
    * reader's type (UTC session ⇒ identical wall-clock values).
    */
  val queries: Seq[Q] = Seq(
    Q(
      "q54_streaming_hourly",
      (s, dir) => {
        // AvailableNow: plan ONE micro-batch over everything currently in
        // the source, then self-terminate — drops the continuous-trigger
        // poll/commit cycles that dominated the r02 bench (5.65s); the
        // streaming machinery (source offsets, state store, sink commit)
        // is unchanged, so the oracle row still gates real streaming.
        StreamGate.toMemory(s, "hourly", EventStreams.hourlyCounts(
            EventStreams.readStream(s, dir, globFilter = Some("events.parquet"))),
            "complete")
          .withColumn("hour", col("hour").cast("timestamp_ntz"))
          .orderBy("hour", "event_type")
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             |  count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY hour, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q74: STATEFUL streaming dedup — every event is planted twice into
    // the stream (explode×2), then `dropDuplicatesWithinWatermark` holds
    // keyed state and must emit each event exactly once; the oracle is
    // simply the batch events table. The WithinWatermark variant is the
    // one whose state the watermark actually evicts: plain
    // dropDuplicates("event_id") only applies the watermark to state
    // when the event-time column is among the dedup keys, so its state
    // would grow with every key ever seen. Append mode: rows flow
    // through on first sight, the state only suppresses repeats — the
    // streaming-ingest dedup shape (exact dedup at the door, near-dup
    // downstream in batch).
    Q(
      "q74_streaming_dedup",
      (s, dir) => {
        val deduped =
          EventStreams.readStream(s, dir, globFilter = Some("events.parquet"))
            .withColumn("__copy", explode(array(lit(1), lit(2)))) // plant dups
            .drop("__copy")
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark("event_id")
            .select("event_id", "user_id", "event_type", "value")
        StreamGate.rocksDbState(s) {
          StreamGate.toMemory(s, "dedup", deduped, "append")
        }.orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, value
             |FROM events
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q76: STATEFUL gap sessionization (flatMapGroupsWithState) driven
    // as a real stream and gated against batch q29's exact SQL — the
    // last operator family that was pinned only by a spec. Finalizing
    // every session deterministically on a finite stream needs the
    // watermark to pass every open session's timeout, so a SENTINEL
    // event far past the fixture's time range (user_id = -1, filtered
    // from output) is streamed in through a second source: after the
    // data batch the watermark jumps to sentinel−2h, the trailing
    // no-data micro-batch fires every event-time timeout, and each
    // user's final open session is emitted. Append mode: the sink holds
    // exactly one row per (user, session), no running updates.
    Q(
      "q76_streaming_sessions",
      (s, dir) => {
        import s.implicits._
        StreamGate.flushed(s, dir, "sessions") { events =>
          val stream = events
            .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "event_id", "value")
            .as[EventStreams.SessionEvent]
          EventStreams.gapSessions(stream).filter(col("user_id") >= 0)
        }.orderBy("user_id", "session_idx")
      },
      // the oracle IS batch q29's sessionization SQL: gap > 3600
      // fractional-epoch seconds, per-user (ts, event_id) order
      Some("""SELECT user_id, session_idx, count(*) AS n_events,
             |  round(sum(value), 2) AS session_value
             |FROM (
             |  SELECT user_id, value,
             |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
             |  FROM (
             |    SELECT user_id, ts, event_id, value,
             |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |             OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 3600
             |           THEN 1 ELSE 0 END AS new_session
             |    FROM events))
             |GROUP BY user_id, session_idx
             |ORDER BY user_id, session_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // q81: STREAM-STREAM time-bounded join — clicks joined to the
    // purchases that follow them within 1 hour per user, both sides
    // real watermarked streams. The watermark + time-range condition is
    // what lets Spark EVICT buffered join state (inner-join results
    // need no watermark for correctness, only for state cleanup — the
    // property that matters at 100 TB: each side buffers at most the
    // watermark horizon, not the stream's history). Oracle = the same
    // join as batch SQL; gap in exact micros, no float rounding needed.
    Q(
      "q81_stream_stream_join",
      (s, dir) => {
        // r15: both join sides derive from ONE source stream (a
        // stream-stream SELF-join) instead of two independent
        // readStream instances — one FileStreamSource in the offset
        // log, one directory listing per micro-batch instead of two
        val ev = EventStreams.readStream(s, dir,
          globFilter = Some("events.parquet"))
        val clicks = ev
          .where(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "2 hours")
        val purchases = ev
          .where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
        val joined = clicks.join(purchases,
            col("user_id") === col("p_user")
              && col("p_ts") >= col("c_ts")
              && col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
        StreamGate.rocksDbState(s) {
          StreamGate.toMemory(s, "join", joined, "append")
        }.orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             |  CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
             |FROM events c JOIN events p
             |  ON c.user_id = p.user_id
             |  AND c.event_type = 'click' AND p.event_type = 'purchase'
             |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
             |ORDER BY c.user_id, click_id, purchase_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q82: stream-stream LEFT OUTER join — q81 plus the subtle half: a
    // click with NO purchase within the hour must still emit (with
    // nulls), and in streaming that emission happens only when the
    // watermark passes the click's join window and evicts its buffered
    // state. On a finite stream that eviction is forced the q76 way:
    // sentinel events far past the fixture range on BOTH streams (the
    // global watermark is the MIN across watermark nodes, so each side
    // needs one). The sentinel filter must run BATCH-side on the sink
    // table, never inside the streaming plan: a `user_id >= 0` filter
    // above a left-outer join is legally pushed below the join — and
    // below the watermark nodes — on the left side, and the equi-join
    // condition lets Catalyst infer `p_user >= 0` for the right side
    // too, so both sentinels were deleted at the scan and the last
    // click's null row never emitted (caught by this query's own gate:
    // 209 vs 210 rows).
    Q(
      "q82_stream_outer_join",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.withScratch("graft_sso_sentinel") { case Seq(sentinelDir) =>
          // r15: driver-side constant-row write (see SentinelFiles)
          SentinelFiles.writeEvents(sentinelDir, Seq(
            (-1L, EventStreams.FlushSentinelNanos, -1L, "click", 0.0, "{}"),
            (-2L, EventStreams.FlushSentinelNanos, -2L, "purchase", 0.0, "{}")))
          // r15: ONE events source + ONE sentinel source shared by both
          // sides (a self-join over the union) instead of four
          // FileStreamSource instances — half the offset-log entries and
          // per-batch directory listings; watermark semantics unchanged
          // (each side still carries its own watermark node, global
          // watermark = min, and each side's typed sentinel survives the
          // event_type filter exactly as before)
          val base = EventStreams.readFlushed(s, dir, sentinelDir)
          def side(eventType: String) =
            base.where(col("event_type") === eventType)
          val clicks = side("click")
            .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
            .withWatermark("c_ts", "2 hours")
          val purchases = side("purchase")
            .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"))
            .withWatermark("p_ts", "2 hours")
          val plan = clicks.join(purchases,
              col("user_id") === col("p_user")
                && col("p_ts") >= col("c_ts")
                && col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
              "left_outer")
            .select(col("user_id"), col("click_id"), col("purchase_id"),
              (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
          StreamGate.rocksDbState(s) {
            StreamGate.toMemory(s, "outer", plan, "append")
          }
        }
        // batch-side sentinel filter (see scaladoc above — it must not
        // enter the streaming plan); the sentinel click never actually
        // emits (nothing later advances the watermark past its window),
        // so this is belt-and-braces
        out.where(col("user_id") >= 0)
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             |  CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
             |FROM (SELECT * FROM events WHERE event_type = 'click') c
             |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON c.user_id = p.user_id
             |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
             |ORDER BY c.user_id, click_id, purchase_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q102: Catalyst's NATIVE session_window under a real stream — the
    // streaming twin of batch q88 (as q76 is the streaming twin of the
    // hand-rolled q29), exercising the built-in merging-session state
    // operator instead of flatMapGroupsWithState. Append mode emits a
    // session only when the watermark passes its close, so a finite
    // stream needs the q76-style far-future sentinel to flush the tail;
    // the sentinel's own session never closes and is filtered BATCH-side
    // (a user_id filter above the agg would be pushed below the
    // watermark node and delete the sentinel — the q82 trap). Oracle =
    // q88's batch SQL: merge at gap == duration, session_end = last+gap.
    Q(
      "q102_streaming_session_window",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "sw") { events =>
          events
            .withWatermark("ts", "2 hours")
            .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("sw"))
            .agg(count(lit(1)).cast("long").as("n_events"),
              round(sum("value"), 2).as("session_value"))
            .select(col("user_id"),
              col("sw.start").cast("timestamp_ntz").as("session_start"),
              col("sw.end").cast("timestamp_ntz").as("session_end"),
              col("n_events"), col("session_value"))
        }
        out.where(col("user_id") >= 0)
          .orderBy("user_id", "session_start")
      },
      Some("""WITH marked AS (
             |  SELECT user_id, ts, event_id, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id, ts, value,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM marked)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 1 HOUR AS session_end,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  round(sum(value), 2) AS session_value
             |FROM sess
             |GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // ------------------------------------------------------------------
    // q109: stream-static enrichment — the most common production
    // streaming shape: a fact stream joined to a slowly-changing
    // dimension table at ingest (user → segment here). The static side
    // is a plain batch DataFrame broadcast into every micro-batch, so
    // the stream side never shuffles for the join and the dimension is
    // read once per batch, not per row; the aggregation then runs per
    // enriched key. Complete mode on a finite AvailableNow pass equals
    // the batch join+group, which is exactly what the oracle replays.
    Q(
      "q109_stream_static_enrich",
      (s, dir) => {
        val dim = broadcast(graft.io.Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        val plan = EventStreams
          .readStream(s, dir, globFilter = Some("events.parquet"))
          .join(dim, col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum("value"), 2).as("sum_value"))
        StreamGate.toMemory(s, "enrich", plan, "complete")
          .orderBy("c_mktsegment", "event_type")
      },
      Some("""SELECT c.c_mktsegment, e.event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(e.value), 2) AS sum_value
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1, 2
             |ORDER BY c_mktsegment, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q120: SLIDING windows under a real stream — the streaming twin of
    // batch q67 (as q102 is to q88): each event lands in the two
    // overlapping 1-hour/30-minute-slide windows, maintained as
    // per-(window, type) keyed state. Complete mode on a finite
    // AvailableNow pass equals the batch sliding grouping, which is
    // exactly q67's oracle.
    Q(
      "q120_streaming_sliding",
      (s, dir) => {
        val plan = EventStreams
          .readStream(s, dir, globFilter = Some("events.parquet"))
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
            col("event_type"))
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum("value"), 2).as("sum_value"))
          .select(col("w.start").cast("timestamp_ntz").as("w_start"),
            col("event_type"), col("n"), col("sum_value"))
        StreamGate.toMemory(s, "slide", plan, "complete")
          .orderBy("w_start", "event_type")
      },
      Some("""SELECT w_start, event_type,
             |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
             |FROM (
             |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
             |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
             |           AS w_start,
             |         event_type, value
             |  FROM events)
             |GROUP BY w_start, event_type
             |ORDER BY w_start, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q139: streaming conversion timeouts — every view is decided
    // EXACTLY ONCE: converted (a purchase by the same user within 30
    // minutes) or abandoned, decided only when the watermark proves no
    // admissible purchase can still arrive (EventStreams
    // .conversionTimeouts: per-item timeout state, both sides
    // watermark-evicted). The decided-FALSE rows are the business
    // signal a stream-stream outer join cannot produce with first-
    // match-only semantics. The sentinel (2100) seals every pending
    // view; the oracle replays the decision rule as a batch
    // first-purchase-in-window lookup.
    Q(
      "q139_streaming_conversions",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "conv") { events =>
          val stream = events
            .where(col("event_type").isin("view", "purchase") || col("user_id") < 0)
            .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
              "event_id", "event_type")
            .as[EventStreams.FlowEvent]
          EventStreams.conversionTimeouts(stream)
            .filter(col("user_id") >= 0)
        }
        out.orderBy("view_event_id")
      },
      Some("""WITH v AS (
             |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
             |p AS (
             |  SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
             |m AS (
             |  SELECT v.event_id, min(epoch_us(p.ts) - epoch_us(v.ts)) AS lag_us
             |  FROM v JOIN p ON p.user_id = v.user_id AND p.ts > v.ts
             |    AND epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
             |  GROUP BY 1)
             |SELECT v.user_id, v.event_id AS view_event_id,
             |  m.lag_us IS NOT NULL AS converted,
             |  CAST(m.lag_us AS BIGINT) AS lag_us
             |FROM v LEFT JOIN m USING (event_id)
             |ORDER BY view_event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q140: streaming daily active users — CHAINED stateful operators:
    // dropDuplicatesWithinWatermark on (user, type, day) feeding a
    // 1-day windowed count, both under one watermark (the Spark ≥3.5
    // multi-stateful-operator pipeline). Exact distinct-per-window with
    // state bounded by the watermark horizon on the dedup side and open
    // windows on the agg side — the streaming-cardinality shape that
    // needs NO sketch because the count is per-window, not all-time.
    // Oracle = batch count(DISTINCT user_id) per day per type.
    Q(
      "q140_streaming_daily_active",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "dau") { events =>
          events
            .withColumn("day", to_date(col("ts")))
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
            .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
            .agg(count(lit(1)).cast("long").as("active_users"))
            .select(col("w.start").cast("date").as("day"),
              col("event_type"), col("active_users"))
        }
        out.where(col("event_type") =!= "__flush")
          .orderBy("day", "event_type")
      },
      Some("""SELECT CAST(ts AS DATE) AS day, event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY day, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q167: streaming token-bucket rate limiting — q160's batch
    // semantics as a continuous stateful operator (EventStreams
    // .rateLimit): per-user bucket of 3, one token per 10 min, events
    // decided in (ts, id) order only once the watermark proves nothing
    // can precede them. Pending state is watermark-horizon-bounded (2 h
    // of one key), the carried fold state is two longs — the streaming
    // twin of the Folds secondary-sort shape, under RocksDB state.
    // Oracle = q160's integer recursive-CTE walk (every event folds
    // eventually, so the decisions match the batch rule exactly).
    Q(
      "q167_streaming_rate_limit",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "rate") { events =>
          val stream = events
            .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "event_id")
            .as[EventStreams.RateEvent]
          EventStreams.rateLimit(stream)
            .filter(col("user_id") >= 0)
        }
        out.orderBy("event_id")
      },
      Some("""WITH RECURSIVE ev AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS t,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS idx
             |  FROM events),
             |walk AS (
             |  SELECT user_id, idx, event_id, true AS allowed,
             |    CAST(2 AS BIGINT) AS tokens, t AS last_refill
             |  FROM ev WHERE idx = 1
             |  UNION ALL
             |  SELECT e.user_id, e.idx, e.event_id,
             |    least(3, w.tokens + (e.t - w.last_refill) // 600000000) > 0,
             |    CASE WHEN least(3, w.tokens +
             |        (e.t - w.last_refill) // 600000000) > 0
             |      THEN least(3, w.tokens +
             |        (e.t - w.last_refill) // 600000000) - 1
             |      ELSE least(3, w.tokens +
             |        (e.t - w.last_refill) // 600000000) END,
             |    w.last_refill +
             |      ((e.t - w.last_refill) // 600000000) * 600000000
             |  FROM walk w JOIN ev e ON e.user_id = w.user_id
             |    AND e.idx = w.idx + 1)
             |SELECT user_id, event_id, allowed FROM walk
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q174: streaming EWMA anomaly alerts — q105's exact-halving fold
    // run continuously (EventStreams.ewmaAnomalies): an alert fires
    // when an event deviates from the PRE-event EWMA by > 50 after a
    // 3-event warm-up, decided in (ts, id) order under the watermark
    // (q167's pending-buffer discipline, O(1) carried state). The
    // entire fold is the identical IEEE op sequence the oracle's
    // recursive-CTE walk executes, so alert decisions and the emitted
    // pre-event EWMA hash-match bit-exactly.
    Q(
      "q174_streaming_anomalies",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "anom") { events =>
          val stream = events
            .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
              "event_id", "value")
            .as[EventStreams.ValueEvent]
          EventStreams.ewmaAnomalies(stream)
            .filter(col("user_id") >= 0)
        }
        out.orderBy("event_id")
      },
      Some("""WITH RECURSIVE ev AS (
             |  SELECT user_id, event_id, value, epoch_us(ts) AS t,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS idx
             |  FROM events),
             |walk AS (
             |  SELECT user_id, idx, event_id, value,
             |    CAST(NULL AS DOUBLE) AS ewma_before, false AS alert,
             |    value AS acc, CAST(1 AS BIGINT) AS n
             |  FROM ev WHERE idx = 1
             |  UNION ALL
             |  SELECT e.user_id, e.idx, e.event_id, e.value,
             |    w.acc, w.n >= 3 AND abs(e.value - w.acc) > 50.0,
             |    w.acc * 0.5 + e.value * 0.5, w.n + 1
             |  FROM walk w JOIN ev e ON e.user_id = w.user_id
             |    AND e.idx = w.idx + 1)
             |SELECT user_id, event_id, value,
             |  floor(ewma_before * 1000000 + 0.5) / 1000000 AS ewma_before
             |FROM walk WHERE alert
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q209: streaming per-day top-k — the heavy-hitters report (q93's
    // family) as a continuous streaming operator: per-(1-day window,
    // user) counts accumulate as watermarked keyed state (exact, not
    // sketched — the count is per-window, so state is bounded by active
    // users per open window, the q140 argument), and when the watermark
    // closes a window its top-10 users by (count DESC, user_id) emit
    // from the SAME foreachBatch discipline as q202: append mode
    // delivers every (day, user) count of a closed window in one
    // micro-batch, the rank runs as a Spark window over that batch
    // (partitioned by day — never the stream's history), and only the
    // top-10 rows are collected. Oracle = the batch per-day rank.
    Q(
      "q209_streaming_topk",
      (s, dir) => {
        import s.implicits._
        val acc = new scala.collection.mutable.ArrayBuffer[
          (java.sql.Date, Long, Long, Long)]()
        StreamGate.withScratch("graft_topk_ckpt", "graft_topk_sentinel") {
          case Seq(ckptDir, sentinelDir) =>
            SentinelFiles.writeFlushSentinel(sentinelDir)
            val writer = EventStreams.readFlushed(s, dir, sentinelDir)
              .withWatermark("ts", "2 hours")
              .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
              .agg(count(lit(1)).as("n"))
              .select(col("w.start").cast("date").as("day"),
                col("user_id"), col("n"))
              .writeStream
              .foreachBatch { (batch: org.apache.spark.sql.Dataset[
                  org.apache.spark.sql.Row], _: Long) =>
                val byDay = org.apache.spark.sql.expressions.Window
                  .partitionBy("day").orderBy(desc("n"), col("user_id"))
                val top = batch.where(col("user_id") >= 0)
                  .withColumn("rank", row_number().over(byDay))
                  .where(col("rank") <= 10)
                  .select("day", "rank", "user_id", "n")
                  .collectBounded("per-day top-10 rows")
                  .map(r => (r.getDate(0), r.getInt(1).toLong, r.getLong(2),
                    r.getLong(3)))
                acc.synchronized { acc ++= top }
                ()
              }
              .outputMode("append")
            StreamGate.rocksDbState(s)(StreamGate.run(writer, ckptDir))
        }
        acc.synchronized { acc.toSeq }
          .toDF("day", "rank", "user_id", "n")
          .orderBy("day", "rank")
      },
      Some("""WITH c AS (
             |  SELECT CAST(ts AS DATE) AS day, user_id, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |r AS (
             |  SELECT day, user_id, n,
             |    row_number() OVER (PARTITION BY day
             |      ORDER BY n DESC, user_id) AS rank
             |  FROM c)
             |SELECT day, CAST(rank AS BIGINT) AS rank, user_id,
             |  CAST(n AS BIGINT) AS n
             |FROM r WHERE rank <= 10
             |ORDER BY day, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q219: CHAINED stateful streaming — a stream-stream time-bounded
    // join (q81's clicks⋈purchases-within-1h) feeding a tumbling-window
    // aggregation, both stateful operators under one pipeline (the
    // Spark ≥3.5 multi-stateful capability q140 exercises for
    // dedup→agg, here for join→agg): per hour of PURCHASE time, the
    // conversion count and the exact summed click→purchase latency.
    // The q82 dual sentinels advance both sides' watermarks (they join
    // nothing — different sentinel users — so they contribute no rows,
    // but watermark movement is metadata, not data) which first evicts
    // the join state and then closes the downstream windows. Output is
    // integer-exact (count + summed micros), no float anywhere.
    Q(
      "q219_streaming_conversion_rate",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.withScratch("graft_cvr_sentinel") { case Seq(sentinelDir) =>
          // r15: driver-side constant-row write (see SentinelFiles)
          SentinelFiles.writeEvents(sentinelDir, Seq(
            (-1L, EventStreams.FlushSentinelNanos, -1L, "click", 0.0, "{}"),
            (-2L, EventStreams.FlushSentinelNanos, -2L, "purchase", 0.0, "{}")))
          // r15: ONE events source + ONE sentinel source shared by both
          // sides (a self-join over the union) instead of four
          // FileStreamSource instances — half the offset-log entries and
          // per-batch directory listings; watermark semantics unchanged
          // (each side still carries its own watermark node, global
          // watermark = min, and each side's typed sentinel survives the
          // event_type filter exactly as before)
          val base = EventStreams.readFlushed(s, dir, sentinelDir)
          def side(eventType: String) =
            base.where(col("event_type") === eventType)
          val clicks = side("click")
            .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("c_ts"))
            .withWatermark("c_ts", "2 hours")
          val purchases = side("purchase")
            .select(col("user_id").as("p_user"),
              col("event_id").as("purchase_id"), col("ts").as("p_ts"))
            .withWatermark("p_ts", "2 hours")
          val plan = clicks.join(purchases,
              col("user_id") === col("p_user")
                && col("p_ts") >= col("c_ts")
                && col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
            .withColumn("gap_us",
              unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
            .groupBy(window(col("p_ts"), "1 hour").as("w"))
            .agg(count(lit(1)).cast("long").as("n_conversions"),
              sum("gap_us").cast("long").as("sum_gap_us"))
            .select(col("w.start").cast("timestamp_ntz").as("hour"),
              col("n_conversions"), col("sum_gap_us"))
          StreamGate.rocksDbState(s) {
            StreamGate.toMemory(s, "convrate", plan, "append")
          }
        }
        out.orderBy("hour")
      },
      Some("""SELECT time_bucket(INTERVAL 1 HOUR, p.ts) AS hour,
             |  CAST(count(*) AS BIGINT) AS n_conversions,
             |  CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT)
             |    AS sum_gap_us
             |FROM events c JOIN events p
             |  ON c.user_id = p.user_id
             |  AND c.event_type = 'click' AND p.event_type = 'purchase'
             |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
             |GROUP BY 1
             |ORDER BY hour""".stripMargin)),

    // ------------------------------------------------------------------
    // q220: streaming approx-distinct — DataSketches HLL as STREAMING
    // aggregation state: per (1-day window, type), hll_sketch_agg folds
    // user ids into a constant-size sketch (vs q140's exact
    // dedup→count chain whose state is bounded by distinct users per
    // open window — at 1e9 users/day the sketch is the only shape that
    // holds), emitted when the watermark closes the window. The
    // estimate is approximate, so the gate is the q206 self-audit: the
    // exact count (computed by q140's own chain in a second streaming
    // run — everything here flows through real streaming machinery)
    // plus a within-5%-of-exact boolean the oracle pins true.
    Q(
      "q220_streaming_hll_dau",
      (s, dir) => {
        import s.implicits._
        val (exact, sketch) =
          StreamGate.withScratch("graft_hlldau_sentinel") { case Seq(sentinelDir) =>
            SentinelFiles.writeFlushSentinel(sentinelDir)
            val src = EventStreams.readFlushed(s, dir, sentinelDir)
            StreamGate.rocksDbState(s) {
              // exact chain (q140's shape)
              val exact = StreamGate.toMemory(s, "hlldau_ex",
                src.withColumn("day", to_date(col("ts")))
                  .withWatermark("ts", "2 hours")
                  .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
                  .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
                  .agg(count(lit(1)).cast("long").as("active_users"))
                  .select(col("w.start").cast("date").as("day"),
                    col("event_type"), col("active_users")),
                "append")
              // sketch chain: constant-size state per (window, type)
              val sketch = StreamGate.toMemory(s, "hlldau_es",
                src.withWatermark("ts", "2 hours")
                  .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
                  .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
                    .as("est"))
                  .select(col("w.start").cast("date").as("day"),
                    col("event_type"), col("est")),
                "append")
              (exact, sketch)
            }
          }
        exact.where(col("event_type") =!= "__flush")
          .join(sketch, Seq("day", "event_type"))
          .select(col("day"), col("event_type"), col("active_users"),
            (abs(col("est").cast("double") /
              col("active_users").cast("double") - 1.0) <= 0.05)
              .as("within_tol"))
          .orderBy("day", "event_type")
      },
      Some("""SELECT CAST(ts AS DATE) AS day, event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
             |  true AS within_tol
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY day, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q213: streaming ingest-time decontamination — curation AT THE
    // DOOR: documents arrive as a file stream and every in-flight row
    // is fingerprinted by the compiled winnowing expression
    // (functions.WinnowedFingerprints — the same operator the batch
    // path q208 uses) and checked against a STATIC eval fingerprint
    // set, entirely STATELESS: no watermark, no keyed state, a pure
    // per-row decision — the ingest shape that scales to any stream
    // rate because each executor needs only the (benchmark-sized) eval
    // set. Here the set rides in as an array literal; at production
    // scale it is a broadcast variable or bloom handoff (q92's
    // discipline). n_shared counts DISTINCT shared hashes (vs q208's
    // per-print count — the at-the-door decision only needs set
    // overlap). Oracle = the full batch winnowing + split replay.
    Q(
      "q213_streaming_ingest_curation",
      (s, dir) => {
        // static side: the eval slice's distinct winnowed hashes
        val evalHashes = graft.ext.Dedup.winnowedFingerprints(
            graft.io.Tables.load(s, dir, "documents")
              .where(graft.ext.Sampling.bucket(col("doc_id"), "winnow1") < 2000),
            "text", "doc_id")
          .select("h").distinct()
          .collectBounded("eval winnowed hashes", cap = 100000)
          .map(_.getLong(0)).sorted
        val docsSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType)))
        // membership via a broadcast set + tiny UDF, NOT a typedLit
        // array: a several-thousand-element literal embedded in the plan
        // made analysis/planning dominate the run (measured 5.4s vs
        // q54's 0.85s for the same streaming machinery); the broadcast
        // keeps the plan constant-size — the q92 discipline (a UDF that
        // replaces data movement, not hot-path compute)
        val evalSet = s.sparkContext.broadcast(evalHashes.toSet)
        val nShared = udf((hs: Seq[Long]) =>
          if (hs == null) 0L else hs.toSet.count(evalSet.value.contains).toLong)
        val plan = s.readStream.schema(docsSchema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(dir)
          .where(graft.ext.Sampling.bucket(col("doc_id"), "winnow1") >= 2000)
          .withColumn("fps",
            graft.functions.WinnowedFingerprints(col("text"), 5, 4))
          .withColumn("shared", nShared(expr("transform(fps, fp -> fp.h)")))
          .select(col("doc_id"),
            size(col("fps")).cast("long").as("n_prints"),
            col("shared").as("n_shared"),
            (col("shared") > 0).as("flagged"))
        StreamGate.toMemory(s, "ingest", plan, "append")
          .where(col("n_prints") > 0).orderBy("doc_id")
      },
      Some {
        val gram5 = (1 to 5).map(j => s"arr[i+$j]").mkString(" || ' ' || ")
        val C = 1L << 20
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split(text, ' '), t -> t <> '') AS arr
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, i AS pos,
           |    ${graft.functions.PolyHash.duckSql(gram5)} AS h
           |  FROM (SELECT doc_id, arr, unnest(range(len(arr) - 4)) AS i
           |        FROM toks WHERE len(arr) >= 5)),
           |keys AS (
           |  SELECT doc_id, pos, h * $C + (${C - 1} - pos) AS key,
           |    count(*) OVER (PARTITION BY doc_id) AS n
           |  FROM grams),
           |sel AS (
           |  SELECT DISTINCT doc_id, sel // $C AS h,
           |    ${C - 1} - (sel % $C) AS fp_pos
           |  FROM (
           |    SELECT doc_id, pos, n,
           |      min(key) OVER (PARTITION BY doc_id ORDER BY pos
           |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
           |    FROM keys)
           |  WHERE pos <= n - 4),
           |bucketed AS (
           |  SELECT doc_id,
           |    ${graft.ext.Sampling.bucketDuckSql("winnow1", "doc_id")}
           |      AS bucket
           |  FROM documents),
           |fb AS (
           |  SELECT s.doc_id, s.h, b.bucket
           |  FROM sel s JOIN bucketed b USING (doc_id)),
           |ev AS (SELECT DISTINCT h FROM fb WHERE bucket < 2000)
           |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_prints,
           |  CAST(count(DISTINCT CASE WHEN ev.h IS NOT NULL THEN t.h END)
           |    AS BIGINT) AS n_shared,
           |  count(DISTINCT CASE WHEN ev.h IS NOT NULL THEN t.h END) > 0
           |    AS flagged
           |FROM (SELECT * FROM fb WHERE bucket >= 2000) t
           |LEFT JOIN ev ON ev.h = t.h
           |GROUP BY t.doc_id
           |ORDER BY t.doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q202: streaming histogram maintenance — per 6-hour window and
    // event type, the fixed-width value-bin counts accumulate as a
    // watermarked windowed aggregation (append mode emits a window's
    // bins only once the watermark CLOSES it — the streaming twin of
    // q164's mergeable histogram state: #(window, type, bin) rows,
    // never raw values). The p50/p90 walk runs INSIDE the streaming job
    // (r7 directive 6): a foreachBatch sink receives each micro-batch of
    // closed windows — append mode emits every bin of a (window, type)
    // group in the SAME micro-batch, because all its bins share the one
    // window-close instant — and walks the cumulative counts right
    // there, so the operator is usable without any batch-side postlude.
    // The walked frame per batch is #closed-windows × #types × #bins —
    // histogram-sized, never data-sized; the streaming agg still owns
    // the scale-relevant state. Oracle = the full batch replay of
    // binning + walk (unchanged from r7).
    Q(
      "q202_streaming_histogram",
      (s, dir) => {
        import s.implicits._
        // quantiles land here as (win_start, type, q, bin, est), appended
        // by the foreachBatch walk each time windows close; tiny by
        // construction (2 rows per closed (window, type))
        val acc = new scala.collection.mutable.ArrayBuffer[
          (java.sql.Timestamp, String, Double, Long, Double)]()
        StreamGate.withScratch("graft_hist_ckpt", "graft_hist_sentinel") {
          case Seq(ckptDir, sentinelDir) =>
            SentinelFiles.writeFlushSentinel(sentinelDir)
            val writer = EventStreams.readFlushed(s, dir, sentinelDir)
              .withWatermark("ts", "2 hours")
              .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"),
                floor(col("value") / 50.0).cast("long").as("bin"))
              .agg(count(lit(1)).as("c"))
              .select(col("w.start").as("win_start"), col("event_type"),
                col("bin"), col("c"))
              .writeStream
              .foreachBatch { (batch: org.apache.spark.sql.Dataset[
                  org.apache.spark.sql.Row], _: Long) =>
                // runs on the driver per micro-batch; the collect is the
                // closed windows' bin counts only (sentinel's own window
                // never closes, filtered defensively)
                val rows = batch.where(col("event_type") =!= "__flush")
                  .collectBounded("closed-window bin counts")
                val walked = rows
                  .groupBy(r => (r.getTimestamp(0), r.getString(1)))
                  .toSeq
                  .flatMap { case ((w, et), rs) =>
                    val bins = rs.map(r => (r.getLong(2), r.getLong(3)))
                      .sortBy(_._1)
                    val total = bins.map(_._2).sum
                    Seq(0.5, 0.9).map { qq =>
                      // same comparison the oracle runs: first bin whose
                      // cumulative count reaches q·total
                      var cum = 0L
                      val bin = bins.find { case (_, c) =>
                        cum += c; cum.toDouble >= qq * total.toDouble
                      }.get._1
                      (w, et, qq, bin, (bin + 0.5) * 50.0)
                    }
                  }
                acc.synchronized { acc ++= walked }
                ()
              }
              .outputMode("append")
            StreamGate.rocksDbState(s)(StreamGate.run(writer, ckptDir))
        }
        acc.synchronized { acc.toSeq }
          .toDF("win_start", "event_type", "q", "bin", "est")
          .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
          .orderBy("win_start", "event_type", "q")
      },
      Some("""WITH bins AS (
             |  SELECT time_bucket(INTERVAL 6 HOURS, ts) AS win_start,
             |    event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2, 3),
             |cum AS (
             |  SELECT win_start, event_type, bin, c,
             |    sum(c) OVER (PARTITION BY win_start, event_type
             |      ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(c) OVER (PARTITION BY win_start, event_type) AS total
             |  FROM bins),
             |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS q)
             |SELECT win_start, event_type, q, min(bin) AS bin,
             |  (min(bin) + 0.5) * 50.0 AS est
             |FROM cum CROSS JOIN qs
             |WHERE cum >= q * total
             |GROUP BY 1, 2, 3
             |ORDER BY win_start, event_type, q""".stripMargin)),

    // ------------------------------------------------------------------
    // q231: streaming ordered funnel — batch q72's three-stage rule run
    // as per-user incremental state (EventStreams.funnelStages): events
    // buffer until the watermark proves completeness, fold in (ts, id)
    // order, and each stage transition emits exactly once, so the
    // memory sink holds one row per (user, reached stage) and the
    // stage-count rollup is a histogram-sized batch agg over final
    // per-row streaming decisions. Oracle = q72's batch three-join SQL
    // verbatim — the stream and the batch compute the same funnel.
    Q(
      "q231_streaming_funnel",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "funnel") { events =>
          val stream = events
            .where(col("event_type").isin("view", "click", "purchase") ||
              col("user_id") < 0)
            .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
              "event_id", "event_type")
            .as[EventStreams.FlowEvent]
          EventStreams.funnelStages(stream)
            .filter(col("user_id") >= 0)
        }
        out.groupBy("stage")
          .agg(count(lit(1)).cast("long").as("users"))
          .orderBy("stage")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
             |          WHERE event_type = 'view' GROUP BY user_id),
             |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
             |      JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
             |      WHERE e.event_type = 'click' GROUP BY e.user_id),
             |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
             |      JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
             |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
             |SELECT stage, users FROM (
             |  SELECT '1_view' AS stage, count(*) AS users FROM v
             |  UNION ALL SELECT '2_click', count(*) FROM c
             |  UNION ALL SELECT '3_purchase', count(*) FROM p)
             |ORDER BY stage""".stripMargin)),

    // ------------------------------------------------------------------
    // q232: streaming CDC upsert — a change stream continuously
    // maintained as a bucket-partitioned latest-state snapshot
    // (graft.streaming.CdcUpsert): each micro-batch folds to
    // latest-per-key and read-modify-writes ONLY the hash buckets its
    // keys fall in (partition-pruned read, dynamic-partition
    // overwrite) — the MERGE-INTO shape on plain parquet, where rewrite
    // cost scales with the change set, not the table. The fixture is
    // staged as TWO files and streamed with maxFilesPerTrigger=1, so
    // the second micro-batch genuinely merges against batch one's
    // snapshot. Oracle = batch argmax by (ts, event_id) per user —
    // q165's compaction rule, here maintained incrementally.
    Q(
      "q232_streaming_cdc_upsert",
      (s, dir) => {
        StreamGate.withScratch("graft_cdc_staged", "graft_cdc_snap",
            "graft_cdc_ckpt") { case Seq(stagedDir, snapDir, ckptDir) =>
          val events = graft.io.Tables.load(s, dir, "events")
            .select("event_id", "ts", "user_id", "event_type", "value",
              "props")
          events.where(col("event_id") % 2 === 0)
            .coalesce(1).write.mode("overwrite").parquet(stagedDir.toString)
          events.where(col("event_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stagedDir.toString)
          val stagedSchema = events.schema
          StreamGate.run(s.readStream.schema(stagedSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stagedDir.toString)
            .writeStream
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], _: Long) =>
                CdcUpsert.mergeBatch(s, batch.toDF(), snapDir.toString)
            }, ckptDir)
          CdcUpsert.readSnapshot(s, snapDir.toString)
            .orderBy("user_id")
            .localCheckpoint()
        }
      },
      Some("""SELECT user_id, CAST(user_id % 8 AS BIGINT) AS bucket,
             |  event_id AS last_event_id, event_type AS last_type,
             |  value AS last_value, ts AS last_ts
             |FROM (
             |  SELECT *, row_number() OVER (PARTITION BY user_id
             |    ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |WHERE rn = 1
             |ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q237: streaming running moments — q233's Chan-mergeable variance
    // run as continuous per-key state (EventStreams.runningMoments):
    // every event folds into the carried (n, mean, M2) triple in
    // watermark-proven (ts, id) order, and the final triple emits when
    // the flush sentinel pushes the watermark past the stream. State is
    // O(1) per key FOREVER (three doubles), vs per-(key, window) for a
    // windowed agg — the all-time profile shape at 100 TB. Oracle =
    // batch avg/var_pop (the sequential Chan fold and the engines'
    // aggregates agree to ~1e-12 relative; stableRound6 absorbs it).
    Q(
      "q237_streaming_moments",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "mom") { events =>
          val stream = events
            .selectExpr("event_type AS etype", "ts",
              "unix_micros(ts) AS ts_us", "event_id", "value")
            .as[EventStreams.MomentsEvent]
          EventStreams.runningMoments(stream)
            .filter(col("event_type") =!= "__flush")
        }
        out
          .select(col("event_type"), col("n"),
            graft.functions.Rounding.stableRound6(col("mean")).as("mean"),
            graft.functions.Rounding.stableRound6(col("m2") / col("n"))
              .as("variance"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  ${graft.functions.Rounding.duckSql("avg(value)")} AS mean,
             |  ${graft.functions.Rounding.duckSql("var_pop(value)")} AS variance
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q240: streaming SCD-2 enrich — batch q179's point-in-time lookup
    // as a STREAM-STATIC INTERVAL JOIN: the balance dimension is
    // versioned batch-side into [valid_from, valid_to) rows (running
    // purchase sum + lead(), the SCD-2 build), broadcast, and each
    // streaming click matches the ONE version whose interval covers its
    // event time — stateless, no watermark, no state store; the
    // feature-serving join shape (training q179 vs serving THIS must
    // agree, which sharing the oracle proves). A zero-width version
    // (two purchases at one instant) can match no click, so the
    // later-event wins exactly as q179's max_by tiebreak. Oracle =
    // q179's batch SQL verbatim.
    Q(
      "q240_streaming_scd2_enrich",
      (s, dir) => {
        val wu = org.apache.spark.sql.expressions.Window
          .partitionBy("du").orderBy("t", "event_id")
        val dim = broadcast(graft.io.Tables.load(s, dir, "events")
          .where(col("event_type") === "purchase")
          .select(col("user_id").as("du"), col("event_id"), col("value"),
            unix_micros(col("ts").cast("timestamp")).as("t"))
          .withColumn("balance", sum("value").over(wu.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .withColumn("version_no", row_number().over(wu).cast("long"))
          .withColumn("valid_to", lead("t", 1).over(wu))
          .select(col("du"), col("t").as("valid_from"), col("valid_to"),
            col("version_no"), col("balance")))
        val plan = EventStreams
          .readStream(s, dir, globFilter = Some("events.parquet"))
          .where(col("event_type") === "click")
          .selectExpr("user_id", "event_id AS click_id",
            "unix_micros(ts) AS ct")
          .join(dim, col("user_id") === col("du") &&
            col("ct") >= col("valid_from") &&
            (col("valid_to").isNull || col("ct") < col("valid_to")))
          .select(col("user_id"), col("click_id"),
            col("valid_from").as("asof_time"),
            col("version_no").as("n_prior"),
            graft.functions.Rounding.stableRound6(col("balance"))
              .as("balance"))
        StreamGate.toMemory(s, "scd2", plan, "append")
          .orderBy("click_id")
      },
      Some(s"""WITH hist AS (
             |  SELECT user_id, epoch_us(ts) AS t, event_id,
             |    sum(value) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id
             |      ROWS UNBOUNDED PRECEDING) AS balance
             |  FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS ct
             |  FROM events WHERE event_type = 'click'),
             |m AS (
             |  SELECT c.user_id, c.click_id, max(h.t) AS asof_time,
             |    count(*) AS n_prior
             |  FROM clicks c JOIN hist h
             |    ON h.user_id = c.user_id AND h.t <= c.ct
             |  GROUP BY 1, 2)
             |SELECT m.user_id, m.click_id, m.asof_time,
             |  CAST(m.n_prior AS BIGINT) AS n_prior,
             |  ${graft.functions.Rounding.duckSql("max(h2.balance)")} AS balance
             |FROM m JOIN hist h2
             |  ON h2.user_id = m.user_id AND h2.t = m.asof_time
             |GROUP BY m.user_id, m.click_id, m.asof_time, m.n_prior
             |ORDER BY m.click_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q241: CDC tombstone compaction — q232's maintained snapshot under
    // DELETE semantics: a key whose LATEST change is an 'error' is
    // soft-deleted (q165's tombstone rule), remains as a marker through
    // the streaming merges (dynamic overwrite cannot write an absence),
    // and CdcUpsert.compact then physically drops the markers by
    // rewriting ONLY the buckets containing tombstones (a bucket left
    // empty is removed at the directory level). The served snapshot
    // afterwards is the active-keys-only view; compaction cost scales
    // with the delete set, not the table. Oracle = per-user argmax with
    // latest-error users excluded.
    Q(
      "q241_cdc_tombstone_compaction",
      (s, dir) => {
        StreamGate.withScratch("graft_cdc2_staged", "graft_cdc2_snap",
            "graft_cdc2_ckpt") { case Seq(stagedDir, snapDir, ckptDir) =>
          val events = graft.io.Tables.load(s, dir, "events")
            .select("event_id", "ts", "user_id", "event_type", "value",
              "props")
          events.where(col("event_id") % 2 === 0)
            .coalesce(1).write.mode("overwrite").parquet(stagedDir.toString)
          events.where(col("event_id") % 2 === 1)
            .coalesce(1).write.mode("append").parquet(stagedDir.toString)
          StreamGate.run(s.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stagedDir.toString)
            .writeStream
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], _: Long) =>
                CdcUpsert.mergeBatch(s, batch.toDF(), snapDir.toString)
            }, ckptDir)
          CdcUpsert.compact(s, snapDir.toString)
          CdcUpsert.readSnapshot(s, snapDir.toString)
            .orderBy("user_id")
            .localCheckpoint()
        }
      },
      Some("""SELECT user_id, CAST(user_id % 8 AS BIGINT) AS bucket,
             |  event_id AS last_event_id, event_type AS last_type,
             |  value AS last_value, ts AS last_ts
             |FROM (
             |  SELECT *, row_number() OVER (PARTITION BY user_id
             |    ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |WHERE rn = 1 AND event_type <> 'error'
             |ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q263: streaming windowed Count-Min — q256's point-frequency sketch
    // run IN the stream: per 6-hour window the 4×256 cell counts
    // accumulate as an ordinary windowed streaming aggregate (the
    // sketch IS a grouped count — mergeable, fixed-size state per
    // window, the same state-shape argument as the q202 histogram), and
    // when the watermark closes a window the foreachBatch hook probes
    // the sketch for a FIXED key set (users 0–9) with the min-over-rows
    // estimate. This is the streaming shape for "how often did key X
    // occur per window" over a key domain too large for exact per-key
    // counts: state is windows × 1024 cells regardless of the key
    // cardinality. The sketch is deterministic (squared PolyHash), so
    // the oracle replays window bucketing, cell hashing, and the
    // min-probe exactly; absent cells read 0 on both sides.
    Q(
      "q263_streaming_count_min",
      (s, dir) => {
        import s.implicits._
        val P = graft.functions.PolyHash.Mod
        def cellOf(j: Int, uid: Long): Long = {
          val h = graft.functions.PolyHash.hash(s"cm$j#$uid")
          h * h % P % 256
        }
        val acc = new scala.collection.mutable.ArrayBuffer[
          (java.sql.Timestamp, Long, Long)]()
        val cellExpr = {
          val h = graft.functions.PolyHash(concat(lit("cm"),
            col("j").cast("string"), lit("#"), col("user_id").cast("string")))
          h * h % P % 256
        }
        StreamGate.withScratch("graft_scm_ckpt", "graft_scm_sentinel") {
          case Seq(ckptDir, sentinelDir) =>
            SentinelFiles.writeFlushSentinel(sentinelDir)
            val writer = EventStreams.readFlushed(s, dir, sentinelDir)
              .withWatermark("ts", "2 hours")
              .select(col("ts"), col("user_id"),
                explode(sequence(lit(0), lit(3))).as("j"))
              .withColumn("cell", cellExpr)
              .groupBy(window(col("ts"), "6 hours").as("w"), col("j"),
                col("cell"))
              .agg(count(lit(1)).as("c"))
              .select(col("w.start").as("win_start"), col("j"), col("cell"),
                col("c"))
              .writeStream
              .foreachBatch { (batch: org.apache.spark.sql.Dataset[
                  org.apache.spark.sql.Row], _: Long) =>
                // closed windows only reach append output; the sentinel's
                // own 2100 window never closes (filtered defensively)
                val rows = batch
                  .where(col("win_start") <
                    lit("2090-01-01 00:00:00").cast("timestamp"))
                  // cap: windows x sketch depth x active cells -- a
                  // sketch-sized domain, larger than the default cap but
                  // still corpus-independent
                  .collectBounded("closed-window sketch rows", cap = 1000000)
                val sketch = rows.map(r => (r.getTimestamp(0), r.getInt(1),
                  r.getLong(2)) -> r.getLong(3)).toMap
                val probed = rows.map(_.getTimestamp(0)).distinct.flatMap {
                  win =>
                    (0L until 10L).map { uid =>
                      val est = (0 until 4).map(j =>
                        sketch.getOrElse((win, j, cellOf(j, uid)), 0L)).min
                      (win, uid, est)
                    }
                }
                acc.synchronized { acc ++= probed }
                ()
              }
              .outputMode("append")
            StreamGate.rocksDbState(s)(StreamGate.run(writer, ckptDir))
        }
        acc.synchronized { acc.toSeq }
          .toDF("win_start", "user_id", "est")
          .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
          .orderBy("win_start", "user_id")
      },
      Some({
        val P = graft.functions.PolyHash.Mod
        def cellSql(uExpr: String) = {
          val h = graft.functions.PolyHash.duckSql(
            s"'cm' || j::VARCHAR || '#' || $uExpr")
          s"(($h) * ($h) % $P) % 256"
        }
        s"""WITH e AS (
           |  SELECT time_bucket(INTERVAL 6 HOURS, ts) AS win_start, user_id
           |  FROM events),
           |cells AS (
           |  SELECT win_start, j, ${cellSql("user_id::VARCHAR")} AS cell,
           |    count(*) AS c
           |  FROM e CROSS JOIN (SELECT unnest(range(4)) AS j)
           |  GROUP BY 1, 2, 3),
           |probes AS (
           |  SELECT w.win_start, u.u AS user_id, j.j,
           |    ${cellSql("u.u::VARCHAR")} AS cell
           |  FROM (SELECT DISTINCT win_start FROM e) w
           |  CROSS JOIN (SELECT unnest(range(10)) AS u) u
           |  CROSS JOIN (SELECT unnest(range(4)) AS j) j)
           |SELECT p.win_start, CAST(p.user_id AS BIGINT) AS user_id,
           |  CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est
           |FROM probes p
           |LEFT JOIN cells c ON c.win_start = p.win_start AND c.j = p.j
           |  AND c.cell = p.cell
           |GROUP BY 1, 2
           |ORDER BY p.win_start, user_id""".stripMargin
      })),

    // ------------------------------------------------------------------
    // q268: streaming SPRT — batch q264's sequential test as per-variant
    // O(1) stateful streaming (EventStreams.sprtWalk): the LLR walk
    // folds in watermark-proven (ts, id) order, the first threshold
    // crossing freezes the decision, and one report per variant emits
    // at sentinel flush. Oracle = the q264 SQL with the walk ordered by
    // (event time, id) — the order a stream actually observes.
    Q(
      "q268_streaming_sprt",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "sprt") { events =>
          // the same grid constants the batch twin derives in-plan
          val a9 = math.floor(math.log(0.20 / 0.10) * 1e9 + 0.5).toLong
          val b9 = math.floor(math.log(0.80 / 0.90) * 1e9 + 0.5).toLong
          val t9 = math.floor(math.log(0.95 / 0.05) * 1e9 + 0.5).toLong
          val stream = events
            .selectExpr(
              "CASE WHEN user_id < 0 THEN user_id ELSE user_id % 2 END AS variant",
              "ts", "unix_micros(ts) AS ts_us", "event_id",
              "event_type = 'purchase' AS success")
            .as[EventStreams.SprtEvent]
          EventStreams.sprtWalk(stream, a9, b9, t9)
            .filter(col("variant") >= 0)
        }
        out
          .select(col("variant"), col("n_total").as("n_total"),
            col("n_success").as("n_purchases"), col("n_at_decision"),
            col("decision"),
            graft.functions.Rounding.stableRound6(
              col("llr9").cast("double") / lit(1000000000.0))
              .as("llr_at_decision"))
          .orderBy("variant")
      },
      Some(s"""WITH g AS (
             |  SELECT CAST(floor(ln(0.20 / 0.10) * 1000000000 + 0.5)
             |      AS BIGINT) AS a9,
             |    CAST(floor(ln(0.80 / 0.90) * 1000000000 + 0.5)
             |      AS BIGINT) AS b9,
             |    CAST(floor(ln(0.95 / 0.05) * 1000000000 + 0.5)
             |      AS BIGINT) AS t9),
             |e AS (
             |  SELECT user_id % 2 AS variant, epoch_us(ts) AS ts_us,
             |    event_id,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
             |  FROM events),
             |walk AS (
             |  SELECT variant, p,
             |    sum(p) OVER (PARTITION BY variant
             |      ORDER BY ts_us, event_id) AS k,
             |    row_number() OVER (PARTITION BY variant
             |      ORDER BY ts_us, event_id) AS i
             |  FROM e),
             |c AS (
             |  SELECT variant, p, k, i, k * a9 + (i - k) * b9 AS cum9,
             |    (k * a9 + (i - k) * b9 >= t9 OR
             |     k * a9 + (i - k) * b9 <= -t9) AS crossed
             |  FROM walk CROSS JOIN g),
             |fc AS (
             |  SELECT variant, min(i) AS n_at_decision FROM c
             |  WHERE crossed GROUP BY 1),
             |ac AS (
             |  SELECT c.variant, fc.n_at_decision, c.cum9 AS cum9_dec
             |  FROM c JOIN fc ON fc.variant = c.variant
             |    AND c.i = fc.n_at_decision),
             |tot AS (
             |  SELECT variant, count(*) AS n_total, sum(p) AS n_purchases
             |  FROM c GROUP BY 1)
             |SELECT CAST(tot.variant AS BIGINT) AS variant,
             |  CAST(n_total AS BIGINT) AS n_total,
             |  CAST(n_purchases AS BIGINT) AS n_purchases,
             |  CAST(coalesce(n_at_decision, -1) AS BIGINT)
             |    AS n_at_decision,
             |  CASE WHEN cum9_dec IS NULL THEN 'continue'
             |    WHEN cum9_dec >= (SELECT t9 FROM g) THEN 'accept_h1'
             |    ELSE 'accept_h0' END AS decision,
             |  ${graft.functions.Rounding.duckSql(
                  "coalesce(cum9_dec, 0)::DOUBLE / 1000000000")}
             |    AS llr_at_decision
             |FROM tot LEFT JOIN ac ON ac.variant = tot.variant
             |ORDER BY tot.variant""".stripMargin)),

    // ------------------------------------------------------------------
    // q277: streaming PSI drift monitor — the q143 population-stability
    // index run as a continuous data-quality monitor: the reference
    // value-bucket distribution comes from a batch read (the
    // stream-static shape of q109/q240 — in production the frozen
    // training-time profile), the stream folds 6-hour windows of
    // bucket counts, and each CLOSED window scores its smoothed
    // distribution against the reference. Per-bin PSI terms snap to
    // the 1e-9 LONG grid and sum exactly (both engines), so the walk
    // is deterministic; windows over the 0.2 alert threshold carry the
    // drift flag. State per window is the bounded bin frame — the
    // q202/q263 sketch-state argument.
    Q(
      "q277_streaming_psi",
      (s, dir) => {
        import s.implicits._
        // frozen reference profile: global value-bucket counts ordered
        // by bin (bounded: value domain / 50)
        val ref = graft.io.Tables.load(s, dir, "events")
          .select(floor(col("value") / 50.0).cast("long").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("c"))
          .collectBounded("value-bucket reference profile")
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val refN = ref.values.sum
        val bins = ref.keys.toSeq.sorted
        val acc = new scala.collection.mutable.ArrayBuffer[
          (java.sql.Timestamp, Long, Double, Boolean)]()
        StreamGate.withScratch("graft_psi_ckpt", "graft_psi_sentinel") {
          case Seq(ckptDir, sentinelDir) =>
            SentinelFiles.writeFlushSentinel(sentinelDir)
            val writer = EventStreams.readFlushed(s, dir, sentinelDir)
              .withWatermark("ts", "2 hours")
              .groupBy(window(col("ts"), "6 hours").as("w"),
                floor(col("value") / 50.0).cast("long").as("bin"))
              .agg(count(lit(1)).as("c"))
              .select(col("w.start").as("win_start"), col("bin"), col("c"))
              .writeStream
              .foreachBatch { (batch: org.apache.spark.sql.Dataset[
                  org.apache.spark.sql.Row], _: Long) =>
                val rows = batch
                  .where(col("win_start") <
                    lit("2090-01-01 00:00:00").cast("timestamp"))
                  .collectBounded("closed-window rows")
                val walked = rows.groupBy(_.getTimestamp(0)).toSeq.map {
                  case (win, rs) =>
                    val cnt = rs.map(r => r.getLong(1) -> r.getLong(2)).toMap
                    val n = cnt.values.sum
                    // add-half smoothing over the REFERENCE bin set, bins
                    // folded in sorted order — the exact op sequence the
                    // oracle replays, term-gridded so sum order is moot
                    val b = bins.size
                    val psi9 = bins.map { bin =>
                      val pw = (cnt.getOrElse(bin, 0L) + 0.5) /
                        (n + 0.5 * b)
                      val pr = (ref(bin) + 0.5) / (refN + 0.5 * b)
                      math.floor((pw - pr) * math.log(pw / pr) * 1e9 + 0.5)
                        .toLong
                    }.sum
                    val psi = math.floor(psi9.toDouble / 1e9 * 1e6 + 0.5) / 1e6
                    (win, n, psi, psi > 0.2)
                }
                acc.synchronized { acc ++= walked }
                ()
              }
              .outputMode("append")
            StreamGate.rocksDbState(s)(StreamGate.run(writer, ckptDir))
        }
        acc.synchronized { acc.toSeq }
          .toDF("win_start", "n_events", "psi", "drifted")
          .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
          .orderBy("win_start")
      },
      Some("""WITH ref AS (
             |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
             |    count(*) AS c
             |  FROM events GROUP BY 1),
             |refn AS (SELECT sum(c) AS rn, count(*) AS b FROM ref),
             |wins AS (
             |  SELECT time_bucket(INTERVAL 6 HOURS, ts) AS win_start,
             |    CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |wn AS (
             |  SELECT win_start, sum(c) AS n FROM wins GROUP BY 1),
             |terms AS (
             |  SELECT wn.win_start, wn.n,
             |    CAST(floor((
             |      ((coalesce(wins.c, 0) + 0.5) / (wn.n + 0.5 * refn.b)) -
             |      ((ref.c + 0.5) / (refn.rn + 0.5 * refn.b))
             |    ) * ln(
             |      ((coalesce(wins.c, 0) + 0.5) / (wn.n + 0.5 * refn.b)) /
             |      ((ref.c + 0.5) / (refn.rn + 0.5 * refn.b))
             |    ) * 1000000000 + 0.5) AS BIGINT) AS t9
             |  FROM wn CROSS JOIN refn CROSS JOIN ref
             |  LEFT JOIN wins ON wins.win_start = wn.win_start
             |    AND wins.bin = ref.bin)
             |SELECT win_start, CAST(any_value(n) AS BIGINT) AS n_events,
             |  floor(sum(t9)::DOUBLE / 1000000000 * 1000000 + 0.5)
             |    / 1000000 AS psi,
             |  floor(sum(t9)::DOUBLE / 1000000000 * 1000000 + 0.5)
             |    / 1000000 > 0.2 AS drifted
             |FROM terms
             |GROUP BY win_start
             |ORDER BY win_start""".stripMargin)),

    // ------------------------------------------------------------------
    // q292: streaming lateness router — the q249 multi-shard lateness
    // audit run as a LIVE admit/drop operator (EventStreams
    // .latenessRouter): per user, an event arriving more than 60 s
    // behind the key's maximum observed event time is dropped at the
    // door. Arrival is modeled as ts + (event_id % 4)·30 s (the
    // Kafka-partition-skew shape — within a user, arrival order
    // genuinely differs from event-time order, which is what makes the
    // decision non-trivial), the WATERMARK runs on the arrival column
    // because decisions depend on arrival order, and events fold in
    // watermark-proven (arr, id) order with O(1) counters + running
    // max per key. One summary row per user at sentinel flush; oracle
    // = the per-key window replay over the same integer micros.
    Q(
      "q292_streaming_lateness",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "late") { events =>
          val stream = events
            .selectExpr("user_id",
              "timestamp_micros(unix_micros(ts) + (event_id % 4) * 30000000)" +
                " AS arr",
              "unix_micros(ts) + (event_id % 4) * 30000000 AS arr_us",
              "unix_micros(ts) AS ts_us", "event_id")
            .as[EventStreams.LateEvent]
          EventStreams.latenessRouter(stream)
            .filter(col("user_id") >= 0)
        }
        out
          .select(col("user_id"), col("n_events"), col("n_admit"),
            col("n_drop"), col("max_late_us"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    epoch_us(ts) + (event_id % 4) * 30000000 AS arr_us
             |  FROM events),
             |w AS (
             |  SELECT user_id, ts_us,
             |    max(ts_us) OVER (PARTITION BY user_id
             |      ORDER BY arr_us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS runmax
             |  FROM e),
             |l AS (
             |  SELECT user_id,
             |    CASE WHEN runmax IS NULL OR runmax - ts_us < 0 THEN 0
             |         ELSE runmax - ts_us END AS late
             |  FROM w)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CASE WHEN late <= 60000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_admit,
             |  CAST(sum(CASE WHEN late > 60000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_drop,
             |  CAST(max(late) AS BIGINT) AS max_late_us
             |FROM l GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q311: streaming inter-event cadence monitor — the q310 bot audit
    // as a live stateful operator (EventStreams.cadenceMonitor): per
    // user the stream carries (last event time, gap count, Σgap, Σgap²)
    // and emits the exact sums at sentinel flush, so the CV
    // sqrt(n·Σg² − S²)/S is derived from integers the batch lag replay
    // reproduces bit-for-bit. Gaps are event-time differences, so
    // events buffer until the ts watermark proves their (ts, id) fold
    // position — the q292 pending discipline with the watermark on the
    // event-time column itself. The final select (filter n ≥ 5, rank by
    // rounded CV, top 30) is presentation over the emitted sums; the
    // oracle is IDENTICAL to q310's, which is the stream==batch claim.
    Q(
      "q311_streaming_cadence",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "cad") { events =>
          val stream = events
            .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
              "event_id")
            .as[EventStreams.CadenceEvent]
          EventStreams.cadenceMonitor(stream)
            .filter(col("user_id") >= 0)
        }
        out
          .where(col("n_gaps") >= 5 && col("sg") > 0)
          .withColumn("cv",
            sqrt((col("n_gaps") * col("sg2") - col("sg") * col("sg"))
              .cast("double")) / col("sg").cast("double"))
          .select(col("user_id"), col("n_gaps"),
            graft.functions.Rounding.stableRound6(col("sg").cast("double") /
              col("n_gaps").cast("double")).as("mean_gap_s"),
            graft.functions.Rounding.stableRound6(col("cv")).as("cv"))
          .orderBy(col("cv"), col("user_id"))
          .limit(30)
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id
             |  FROM events),
             |gaps AS (
             |  SELECT user_id, (us - prev) // 1000000 AS g FROM (
             |    SELECT user_id, us, lag(us) OVER (
             |      PARTITION BY user_id ORDER BY us, event_id) AS prev
             |    FROM e)
             |  WHERE prev IS NOT NULL),
             |agg AS (
             |  SELECT user_id, count(*) AS n,
             |    CAST(sum(g) AS BIGINT) AS sg,
             |    CAST(sum(g*g) AS BIGINT) AS sg2
             |  FROM gaps GROUP BY user_id
             |  HAVING count(*) >= 5 AND sum(g) > 0)
             |SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
             |  floor(sg::DOUBLE / n::DOUBLE * 1000000.0 + 0.5)
             |    / 1000000.0 AS mean_gap_s,
             |  floor(sqrt((n*sg2 - sg*sg)::DOUBLE) / sg::DOUBLE
             |    * 1000000.0 + 0.5) / 1000000.0 AS cv
             |FROM agg
             |ORDER BY cv, user_id
             |LIMIT 30""".stripMargin)),

    // ------------------------------------------------------------------
    // q342: streaming sample-ratio-mismatch monitor — q336's A/B
    // health check run LIVE: per event-day window, distinct users per
    // arm (user_id % 2) via watermarked dropDuplicates state (the q140
    // DAU discipline — state is one key per (user, arm, day) inside
    // the watermark horizon, evicted behind it), windowed arm counts
    // in append mode, and the tiny batch postlude folds each closed
    // day into the χ²₁ SRM statistic. An alarm here voids every
    // downstream readout for that day (q264/q268/q330/q335) — which
    // is why platforms stream it rather than discover it at analysis
    // time. Oracle = the batch per-day replay.
    Q(
      "q342_streaming_srm",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "srm") { events =>
          events
            .withColumn("day", to_date(col("ts")))
            .withColumn("arm", pmod(col("user_id"), lit(2)))
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark("user_id", "day")
            .groupBy(window(col("ts"), "1 day").as("w"))
            .agg(sum(when(col("arm") === 0 && col("user_id") >= 0, 1L)
              .otherwise(0L)).as("n0"),
              // the sentinel (user -1) must count in NEITHER arm — its
              // far-future window then carries n0 = n1 = 0 and the
              // postlude's n0 + n1 > 0 filter drops it
              sum(when(col("arm") === 1 && col("user_id") >= 0, 1L)
                .otherwise(0L)).as("n1"))
            .select(col("w.start").cast("date").as("day"),
              col("n0"), col("n1"))
        }
        // postlude over the memory sink only (no event re-scan): fold
        // each closed day into the chi-square; drop the sentinel's
        // empty far-future day
        val e = (col("n0") + col("n1")).cast("double") / 2.0
        out
          .where(col("n0") + col("n1") > 0)
          .select(col("day"), col("n0").cast("long").as("n0"),
            col("n1").cast("long").as("n1"),
            graft.functions.Rounding.stableRound6(
              (col("n0").cast("double") - e) * (col("n0").cast("double") - e)
                / e +
                (col("n1").cast("double") - e) *
                  (col("n1").cast("double") - e) / e).as("srm_chi2"))
          .withColumn("srm_alarm", col("srm_chi2") > 3.841)
          .orderBy("day")
      },
      Some("""WITH u AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id,
             |    user_id % 2 AS arm
             |  FROM events),
             |g AS (
             |  SELECT day,
             |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n0,
             |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n1
             |  FROM u GROUP BY day),
             |st AS (
             |  SELECT day, n0, n1, (n0 + n1)::DOUBLE / 2.0 AS e FROM g)
             |SELECT day, n0, n1,
             |  floor(((n0::DOUBLE - e) * (n0::DOUBLE - e) / e
             |    + (n1::DOUBLE - e) * (n1::DOUBLE - e) / e) * 1000000
             |    + 0.5) / 1000000 AS srm_chi2,
             |  floor(((n0::DOUBLE - e) * (n0::DOUBLE - e) / e
             |    + (n1::DOUBLE - e) * (n1::DOUBLE - e) / e) * 1000000
             |    + 0.5) / 1000000 > 3.841 AS srm_alarm
             |FROM st
             |ORDER BY day""".stripMargin)),

    // ------------------------------------------------------------------
    // q366: streaming clamped running balance — the SEQUENTIAL twin of
    // batch q354 (which computes the same max(0, b + dx) recurrence
    // through its associative parallel-scan identity): per-user O(1)
    // live state (balance, peak, floor hits, count) folded in event-time
    // order over the watermark-buffered pending events, one summary row
    // per user at sentinel flush. The two formulations sharing ONE
    // DuckDB oracle is the gate's point — the scan identity and the
    // stateful fold must agree to the bit.
    Q(
      "q366_streaming_balance",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "bal") { events =>
          val stream = events
            .where(col("event_type")
              .isin("purchase", "click", "view", "__flush"))
            .select(col("user_id"), col("ts"),
              expr("unix_micros(ts)").as("ts_us"), col("event_id"),
              when(col("event_type") === "purchase",
                floor(col("value") * 100 + 0.5).cast("long"))
                .otherwise(-floor(col("value") * 100 + 0.5).cast("long"))
                .as("dx"))
            .as[EventStreams.BalanceEvent]
          EventStreams.clampedBalance(stream)
            .filter(col("user_id") >= 0)
        }
        out
          .select(col("user_id"), col("n_tx"), col("final_cents"),
            col("peak_cents"), col("floor_hits"))
          .orderBy("user_id")
      },
      // the batch twin's oracle, verbatim — one truth for both
      // formulations
      ExtensionQueries54.queries
        .find(_.name == "q354_clamped_running_balance").get.oracle)
  )
}
