package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape
  * (SURVEY.md §2b row "Streaming": absent from the reference — the only
  * time concept there is the mapper barrier at `master.py:128-134` — so
  * this is pure extension surface, built on watermarks + windowed aggs +
  * keyed group-state folds).
  *
  * The transformations are shared with the batch path: q21 in
  * graft.queries.Relational runs the same grouping logic through the
  * DuckDB oracle; StreamingSpec proves stream/batch equivalence by pushing
  * the events fixture through `readStream` + memory sink.
  *
  * Scale notes: watermark + windowed agg is incremental state in the state
  * store, partitioned by group key — the 1000-executor shape is identical
  * to the batch shuffle. Sessionization state is one small case class per
  * user; `GroupStateTimeout.EventTimeTimeout` evicts sessions when the
  * watermark passes the gap, so state is bounded by active users, not
  * history.
  */
object EventStreams {

  /** The events schema as stored (ts arrives as nanos int64; see
    * graft.io.Tables — same conversion applied here for streams).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Far-future (2100-01-01) event time in epoch NANOS — the sentinel
    * planted by finite-stream queries to push the watermark past every
    * real event and flush pending state. Written to raw-INT64 sentinel
    * parquet files, so it re-enters [[readStream]] as a literal long and
    * the shared unit guard (magnitude ≥ Tables.NanosGuard ⇒ nanos)
    * converts it to the 2100 instant regardless of which unit the REAL
    * fixture column surfaces as.
    */
  val FlushSentinelNanos: Long = 4102444800000000000L

  /** Streaming read of an events parquet directory. `ts` becomes
    * TimestampType (not NTZ): watermarks require an event-time column of
    * TIMESTAMP type; with the UTC session timezone the wall-clock values
    * match the batch path's timestamp_ntz reads.
    *
    * The epoch-long → timestamp conversion is the SAME unit-guarded
    * expression the batch reader uses (graft.io.Tables.epochLongToTsSql):
    * the streaming file source under this explicit LongType schema
    * surfaces the fixture's TIMESTAMP(NANOS) column already in MICROS on
    * Spark 4.1.2, while sentinel files written as raw INT64 carry nanos —
    * a fixed `div 1000` is wrong for one of them no matter which you
    * pick (round 7 shipped the nanos assumption and every 2024 event
    * time collapsed to 1970-01-20, breaking 10 streaming gates).
    *
    * `globFilter` selects files inside `path` (the streaming file source
    * requires a directory — a bare file path fails with "basePath must
    * be a directory").
    */
  def readStream(spark: SparkSession, path: String,
                 globFilter: Option[String] = None): DataFrame = {
    val reader = spark.readStream.schema(rawSchema)
    globFilter.foreach(g => reader.option("pathGlobFilter", g))
    reader
      .parquet(path)
      .withColumn("ts", expr(graft.io.Tables.epochLongToTsSql("ts")))
  }

  /** The events fixture under `dir` as one stream with the flush
    * sentinel files under `sentinelDir` (SentinelFiles) unioned in: the
    * source of every finite gate whose state only emits once the
    * watermark passes it.
    */
  def readFlushed(spark: SparkSession, dir: String,
                  sentinelDir: java.nio.file.Path): DataFrame =
    readStream(spark, dir, globFilter = Some("events.parquet"))
      .unionByName(readStream(spark, sentinelDir.toString,
        globFilter = Some("*.parquet")))

  /** Tumbling 1-hour windowed counts with a 2-hour watermark — the
    * streaming twin of batch q21.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** One event on the stateful-session path. `ts` (TimestampType) exists
    * for the watermark; `ts_us` carries the same instant as epoch MICROS
    * because session-gap math must see sub-millisecond precision —
    * `java.sql.Timestamp.getTime` is millis, and a gap of 3600.0005s
    * must still read as > 1 hour (the batch twin q29 compares fractional
    * epoch seconds).
    */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
                          event_id: Long, value: Double)

  /** One finalized session, in the batch-sessionization (q29) output
    * shape: `session_idx` is the 1-based ordinal of the session within
    * its user's event-time order.
    */
  case class SessionOut(user_id: Long, session_idx: Long, n_events: Long,
                        session_value: Double)

  /** One session-in-progress (a maximal run of events with inter-event
    * gaps ≤ gap). Public only because the state encoder's generated code
    * must reach the accessors — not part of the API.
    */
  case class SessionSpan(firstUs: Long, lastUs: Long, n: Long, value: Double)

  /** Keyed state: the user's not-yet-sealed session spans (disjoint,
    * separated by > gap, kept sorted) plus how many sessions have
    * already been emitted — so every emission carries its per-user
    * ordinal without post-hoc renumbering.
    */
  case class SessionsState(closed: Long, spans: Seq[SessionSpan])

  private def round2(v: Double): Double =
    java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** One typed event on the conversion-tracking path (view or purchase). */
  case class FlowEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
                       event_id: Long, event_type: String)

  /** The decided fate of one view: did a purchase follow within the
    * window? `lag_us` is first-purchase latency (None when unconverted).
    */
  case class ConversionOut(user_id: Long, view_event_id: Long,
                           converted: Boolean, lag_us: Option[Long])

  /** Keyed state: undecided views + the purchases that could still
    * convert an undecided or legally-late view. Both lists are bounded
    * by the watermark horizon: a view seals (and leaves) once
    * `ts + window < watermark`, a purchase is useless (and dropped) once
    * `ts + window ≤ watermark` — no admissible view could still precede
    * it within the window. */
  case class FlowState(views: Seq[(Long, Long)], purchases: Seq[Long])

  /** Per-view conversion detection with timeout semantics — the
    * "abandoned flow" op (cart abandonment, un-actioned alerts,
    * SLA-breach detection): every `view` is decided EXACTLY ONCE as
    * converted (a purchase by the same user followed within `window`)
    * or timed out, decided only when the watermark proves no admissible
    * purchase can still arrive. Unlike [[gapSessions]] (one evolving
    * span set per user) this is per-ITEM timeout state: the state is
    * the set of undecided views plus the watermark-horizon purchases —
    * both evicted as the watermark advances, so state per user is
    * horizon-bounded, never history-bounded. A stream-stream left-outer
    * join gives the converted half; the decided-false half — the
    * business signal — is exactly what the join cannot emit per-row
    * without this state shape (it emits nulls only at state eviction,
    * with no first-match-only semantics).
    */
  def conversionTimeouts(events: Dataset[FlowEvent],
                         window: java.time.Duration =
                           java.time.Duration.ofMinutes(30)): Dataset[ConversionOut] = {
    import events.sparkSession.implicits._
    val winUs = window.toMillis * 1000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FlowState, ConversionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[FlowEvent], state: GroupState[FlowState]) =>
          val prev = state.getOption.getOrElse(FlowState(Seq.empty, Seq.empty))
          val evts = batch.toArray
          val views = prev.views ++ evts.filter(_.event_type == "view")
            .map(e => (e.ts_us, e.event_id))
          val purchases = prev.purchases ++
            evts.filter(_.event_type == "purchase").map(_.ts_us)
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // decide: no admissible purchase (ts >= watermark) can land in
          // (v, v + window] anymore once v + window < watermark
          val (ready, pending) = views.partition { case (ts, _) =>
            ts + winUs < wmUs }
          val out = ready.sortBy { case (ts, id) => (ts, id) }.map {
            case (vts, vid) =>
              val hit = purchases.filter(p => p > vts && p - vts <= winUs)
              ConversionOut(uid, vid, hit.nonEmpty,
                if (hit.nonEmpty) Some(hit.min - vts) else None)
          }
          // a purchase at p converts only views in [p - window, p); all
          // such views are decided once p + window <= watermark
          val keepP = purchases.filter(p => p + winUs > wmUs)
          if (pending.isEmpty && keepP.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(FlowState(pending, keepP))
            val nextUs =
              if (pending.nonEmpty) pending.map(_._1).min + winUs
              else keepP.max + winUs
            state.setTimeoutTimestamp(
              math.max(nextUs / 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** One valued event keyed by event type (running-moments path). */
  case class MomentsEvent(etype: String, ts: java.sql.Timestamp, ts_us: Long,
                          event_id: Long, value: Double)

  /** Final running moments for one key at stream flush. */
  case class MomentsOut(event_type: String, n: Long, mean: Double, m2: Double)

  /** Event-time micros past which a key treats the stream as flushed
    * (the 2100 sentinel minus its 2 h watermark lag is far beyond this
    * 2090-01-01 mark, every real event far below). */
  val FlushedThresholdUs: Long = 3786912000000000L

  /** The pending payload of a fold whose step needs only (t_us,
    * event_id); Spark has no encoder for Unit. */
  private val NoPayload: Byte = 0

  /** The one per-key fold under the eight ordered operators below — the
    * reference's pluggable `reducer(values for k)` run on a stream whose
    * reducer needs its values in event-time order. Arrivals buffer in
    * keyed state as pending `(t_us, event_id, payload)` rows next to the
    * operator's carry. Each call releases the rows STRICTLY below the
    * watermark (a row at exactly ts == watermark may still be preceded by
    * a same-ts arrival) and folds them in (t_us, event_id) order through
    * `step(key, carry, t_us, event_id, payload) → (carry, outputs)`, so
    * the outputs never depend on arrival order. Pending is bounded by the
    * watermark horizon (2 h of one key's events), not the key's history;
    * rows beyond the watermark are dropped by the watermark contract.
    *
    * Eviction follows one of two rules:
    *  - per-event operators (`flush` = None) emit only from `step`. A key
    *    whose carry is still `init` with nothing pending drops its state;
    *    a timeout is armed only while rows are pending, so a folded key
    *    keeps its O(1) carry without a timer (an idle-key TTL is the
    *    deployment eviction knob).
    *  - flush operators emit `flush(key, carry)` (possibly nothing) once
    *    the watermark passes [[FlushedThresholdUs]] with nothing pending,
    *    and drop the key. Until then a timeout stays armed at the
    *    earliest pending row, or just past the watermark, so the flush
    *    fires without new input; dropping keys that emit nothing keeps
    *    them from re-arming that timeout forever.
    */
  private def orderedFold[E, K: Encoder, C: TypeTag, P: TypeTag, O: Encoder](
      events: Dataset[E], init: C, timeCol: String = "ts")(
      key: E => K, row: E => (Long, Long, P))(
      step: (K, C, Long, Long, P) => (C, Seq[O]),
      flush: Option[(K, C) => Seq[O]] = None): Dataset[O] = {
    implicit val stateEncoder: Encoder[(C, Seq[(Long, Long, P)])] =
      Encoders.product
    events
      .withWatermark(timeCol, "2 hours")
      .groupByKey(key)
      .flatMapGroupsWithState[(C, Seq[(Long, Long, P)]), O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, batch: Iterator[E],
         state: GroupState[(C, Seq[(Long, Long, P)])]) =>
          val (prev, pending) =
            state.getOption.getOrElse((init, Seq.empty[(Long, Long, P)]))
          val wmMs = state.getCurrentWatermarkMs()
          val (ready, rest) =
            (pending ++ batch.map(row)).partition(_._1 < wmMs * 1000L)
          var carry = prev
          val out = ready.sortBy(r => (r._1, r._2)).flatMap {
            case (t, id, p) =>
              val (next, emitted) = step(k, carry, t, id, p)
              carry = next
              emitted
          }
          val flushed = flush.filter(_ =>
            rest.isEmpty && wmMs * 1000L > FlushedThresholdUs)
          if (flushed.nonEmpty ||
              (flush.isEmpty && rest.isEmpty && carry == init)) {
            state.remove()
            (out ++ flushed.toSeq.flatMap(_(k, carry))).iterator
          } else {
            state.update((carry, rest))
            if (flush.nonEmpty || rest.nonEmpty)
              state.setTimeoutTimestamp(math.max(
                if (rest.nonEmpty) rest.map(_._1).min / 1000L + 1L else 0L,
                wmMs + 1L))
            out.iterator
          }
      }
  }

  /** Streaming running moments — q233's Chan merge run continuously:
    * each event folds into the carried (n, mean, M2) triple as a
    * single-element Chan merge (δ = x − mean; mean' = (mean·n + x)/
    * (n+1); M2' = M2 + δ²·n/(n+1)), in watermark-proven (ts, id) order,
    * and the final triple emits once the watermark passes
    * [[FlushedThresholdUs]] (the flush sentinel's doing). This is the
    * per-key streaming aggregate whose state never grows with history —
    * the shape a 100 TB stream keeps per key where a windowed agg would
    * keep per (key, window).
    */
  def runningMoments(events: Dataset[MomentsEvent]): Dataset[MomentsOut] = {
    import events.sparkSession.implicits._
    orderedFold(events, (0.0, 0.0, 0.0))(
      _.etype, e => (e.ts_us, e.event_id, e.value))(
      { case (_, (n, mean, m2), _, _, x) =>
        // the SAME op sequence as q233's merge lambda with nb = 1, so
        // batch-merged and stream-folded moments agree to ulps
        val d = x - mean
        ((n + 1.0, (mean * n + x) / (n + 1.0), m2 + d * d * n / (n + 1.0)),
          Nil)
      },
      flush = Some({ case (key, (n, mean, m2)) =>
        if (n > 0.0) Seq(MomentsOut(key, n.toLong, mean, m2)) else Nil
      }))
  }

  /** One reached funnel stage for one user (emitted at most once per
    * (user, stage) — stage decisions are final by construction). */
  case class FunnelOut(user_id: Long, stage: String)

  /** Streaming ordered funnel — batch q72's rule ("first view, first
    * click after that view, first purchase after that click") run as
    * per-user incremental state. A later-arriving EARLIER view can
    * change which clicks qualify, so events fold in watermark-proven
    * (ts, id) order; each fold step advances the decided stage
    * timestamps (−1 = not yet reached; micros) and emits the stage
    * transition exactly once. Folding in complete ts order makes every
    * decision final: vTs is the true min view ts, cTs the min click ts
    * strictly after it, pTs the min purchase ts strictly after that —
    * identical to the batch three-join. The decided triple is 3 longs
    * per user forever (the same bounded carry-over class as
    * [[rateLimit]]'s token bucket).
    */
  def funnelStages(events: Dataset[FlowEvent]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    orderedFold(events, (-1L, -1L, -1L))(
      _.user_id, e => (e.ts_us, e.event_id, e.event_type))(
      { case (uid, stages @ (v, c, p), ts, _, tpe) =>
        tpe match {
          case "view" if v == -1L =>
            ((ts, c, p), Seq(FunnelOut(uid, "1_view")))
          case "click" if v != -1L && c == -1L && ts > v =>
            ((v, ts, p), Seq(FunnelOut(uid, "2_click")))
          case "purchase" if c != -1L && p == -1L && ts > c =>
            ((v, c, ts), Seq(FunnelOut(uid, "3_purchase")))
          case _ => (stages, Nil)
        }
      })
  }

  /** Custom stateful GAP sessionization as a keyed group-state fold
    * (the reference's "bring your own reducer" idea, streaming edition)
    * — the streaming twin of batch q29: a session ends when the gap to
    * the next event exceeds `gap` (strictly), sessions are numbered per
    * user in event-time order, and each session is emitted EXACTLY ONCE
    * (append semantics, no running updates).
    *
    * Emission is strictly WATERMARK-DRIVEN, never eager: a session is
    * emitted only once `last + gap < watermark`, i.e. once no legally
    * late event (the engine admits anything ≥ watermark) could still
    * extend it, start before it, or bridge into it. An earlier design
    * emitted a span the moment a later event split away from it — wrong
    * under multi-batch late arrival: an admissible late event landing
    * BETWEEN an already-emitted span and the open one would silently
    * merge into the wrong session. Until the watermark seals them,
    * finished-looking spans wait in state; each batch merges its
    * (event-time-sorted) events into the span list —
    * gap-sessionization of a point set is one sorted merge pass, so late
    * events within the watermark fall into exactly the session batch
    * q29 would give them.
    *
    * State per ACTIVE user is a handful of spans bounded by the
    * watermark horizon (everything older is sealed and emitted — the
    * event-time timeout fires at the earliest `last + gap`). After a
    * user's spans all seal, a counter-only tombstone (16 bytes) remains
    * so a returning user's `session_idx` continues the batch-equivalent
    * numbering — which means state grows with the number of distinct
    * users EVER seen, unbounded on a long-running stream. Pipelines that
    * key sessions by (user, first_ts) instead of ordinals should pass
    * `dropIdleTombstones = true`: state is then removed outright once a
    * user's spans all seal (strictly active-user-bounded), at the
    * documented cost that a user returning after going fully idle
    * restarts `session_idx` at 1.
    */
  def gapSessions(events: Dataset[SessionEvent],
                  gap: java.time.Duration = java.time.Duration.ofHours(1),
                  dropIdleTombstones: Boolean = false): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gap.toMillis * 1000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionsState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[SessionEvent], state: GroupState[SessionsState]) =>
          val prev = state.getOption.getOrElse(SessionsState(0L, Seq.empty))
          // merge new events (as unit spans) into the span list: sort,
          // then combine neighbors whose gap is ≤ gapUs — exactly the
          // batch gap rule, late events included
          val units = batch.toArray.sortBy(e => (e.ts_us, e.event_id))
            .map(e => SessionSpan(e.ts_us, e.ts_us, 1L, e.value))
          val merged = (prev.spans ++ units).sortBy(s => (s.firstUs, s.lastUs))
            .foldLeft(List.empty[SessionSpan]) {
              case (acc @ (cur :: rest), s) if s.firstUs - cur.lastUs <= gapUs =>
                SessionSpan(cur.firstUs, math.max(cur.lastUs, s.lastUs),
                  cur.n + s.n, cur.value + s.value) :: rest
              case (acc, s) => s :: acc
            }
            .reverse
          // seal: STRICTLY below the watermark — an event at exactly
          // ts == last + gap == watermark is still admissible and still
          // extends the session
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, open) = merged.partition(s => s.lastUs + gapUs < wmUs)
          val out = ready.zipWithIndex.map { case (s, i) =>
            SessionOut(uid, prev.closed + i + 1, s.n, round2(s.value))
          }
          if (open.isEmpty && dropIdleTombstones) {
            // fully-idle user: drop the counter tombstone so total state
            // is bounded by ACTIVE users, not users-ever-seen (numbering
            // restarts if this user returns — the caller opted in)
            if (state.exists) state.remove()
          } else {
            state.update(SessionsState(prev.closed + ready.size, open))
            if (open.nonEmpty) {
              // fire when the earliest retained span could seal; must be
              // strictly beyond the current watermark
              val nextMs = (open.map(_.lastUs).min + gapUs) / 1000L + 1L
              state.setTimeoutTimestamp(math.max(nextMs, state.getCurrentWatermarkMs() + 1L))
            }
          }
          out.iterator
      }
  }

  /** One event on the rate-limiting path. */
  case class RateEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
                       event_id: Long)

  /** One valued event on the anomaly path. */
  case class ValueEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
                        event_id: Long, value: Double)

  /** An anomaly alert: `value` deviated from the pre-event EWMA. */
  case class AnomalyAlert(user_id: Long, event_id: Long, value: Double,
                          ewma_before: Double)

  /** Streaming EWMA anomaly detection — q105's α = 1/2 fold (exact
    * halving, the identical IEEE op sequence the batch oracle replays)
    * run continuously per user, emitting an alert whenever an event
    * deviates from the PRE-event EWMA by more than `threshold` after a
    * warm-up of `warmup` events. Events fold in watermark-proven
    * (ts, id) order; the carry is (events folded, running EWMA) — O(1)
    * per key, pending bounded by the watermark horizon.
    */
  def ewmaAnomalies(events: Dataset[ValueEvent], threshold: Double = 50.0,
                    warmup: Long = 3L): Dataset[AnomalyAlert] = {
    import events.sparkSession.implicits._
    orderedFold(events, (0L, 0.0))(
      _.user_id, e => (e.ts_us, e.event_id, e.value))(
      { case (uid, (n, acc), _, id, v) =>
        val alert =
          if (n >= warmup && math.abs(v - acc) > threshold)
            Seq(AnomalyAlert(uid, id, v, math.floor(acc * 1e6 + 0.5) / 1e6))
          else Nil
        ((n + 1L, if (n == 0L) v else acc * 0.5 + v * 0.5), alert)
      })
  }

  /** One Bernoulli observation on the sequential-test path. */
  case class SprtEvent(variant: Long, ts: java.sql.Timestamp, ts_us: Long,
                       event_id: Long, success: Boolean)

  /** Final SPRT report for one variant at stream flush: `llr9` is the
    * 1e-9-grid LONG log-likelihood ratio at the decision point (0 when
    * the walk never crossed). */
  case class SprtOut(variant: Long, n_total: Long, n_success: Long,
                     n_at_decision: Long, decision: String, llr9: Long)

  /** Streaming SPRT — batch q264's sequential probability ratio walk
    * run as per-variant incremental state: each observation folds in
    * watermark-proven (ts, id) order, stepping the integer-grid LLR
    * cum9 = k·a9 + (n−k)·b9 over the carried (n, k, nDec, cumDec) —
    * observations, successes, and the decision point (nDec = −1 until
    * the walk crosses, cumDec the LLR there). The FIRST threshold
    * crossing freezes the decision (exactly the early-stopping semantics
    * — later drift cannot un-decide), and the final report emits once at
    * sentinel flush. This is the shape an experimentation platform
    * actually runs: O(1) live state per variant, decisions available the
    * moment the watermark passes the crossing, here read out at flush so
    * the finite gate has one row per variant.
    */
  def sprtWalk(events: Dataset[SprtEvent], a9: Long, b9: Long,
               t9: Long): Dataset[SprtOut] = {
    import events.sparkSession.implicits._
    orderedFold(events, (0L, 0L, -1L, 0L))(
      _.variant, e => (e.ts_us, e.event_id, e.success))(
      { case (_, (n0, k0, nDec, cumDec), _, _, succ) =>
        val n = n0 + 1L
        val k = if (succ) k0 + 1L else k0
        val cum = k * a9 + (n - k) * b9
        if (nDec == -1L && (cum >= t9 || cum <= -t9)) ((n, k, n, cum), Nil)
        else ((n, k, nDec, cumDec), Nil)
      },
      flush = Some({ case (variant, (n, k, nDec, cumDec)) =>
        val dec =
          if (nDec == -1L) "continue"
          else if (cumDec >= t9) "accept_h1"
          else "accept_h0"
        if (n > 0L) Seq(SprtOut(variant, n, k, nDec, dec, cumDec)) else Nil
      }))
  }

  /** The admit/deny decision for one event. */
  case class RateDecision(user_id: Long, event_id: Long, allowed: Boolean)

  /** Streaming token-bucket rate limiting — the q160 batch semantics
    * (capacity `cap`, one token per `periodUs`, whole periods credited,
    * the partial period banked via `lastRefill += k·period`) run as a
    * continuous stateful operator. The decision at event i depends on
    * every ADMIT before it, so events are decided IN (ts, id) ORDER and
    * only once the watermark proves nothing can precede them. The carry
    * is (tokens, lastRefill), `tokens == -1` until the first event finds
    * a full bucket; pending is bounded by the watermark horizon (2 h of
    * one key's events), NOT the key's history. Late events beyond the
    * watermark are dropped by the watermark contract (the price of a
    * bounded buffer; the batch twin q160 is the backfill-exact path).
    * All arithmetic is integer micros — bit-identical to the batch
    * oracle's recursive-CTE walk.
    */
  def rateLimit(events: Dataset[RateEvent], cap: Long = 3L,
                periodUs: Long = 600000000L): Dataset[RateDecision] = {
    import events.sparkSession.implicits._
    orderedFold(events, (-1L, 0L))(
      _.user_id, e => (e.ts_us, e.event_id, NoPayload))(
      { case (uid, (tokens0, last0), ts, id, _) =>
        val (tokens, last) =
          if (tokens0 == -1L) (cap, ts)
          else {
            // defensive clamp at 0: Spark 4.1 drops beyond-watermark
            // rows before the keyed fold (Extension13Spec
            // demonstrates it), but that filter is version-sensitive —
            // if a straggler ever reaches the fold it must read as
            // zero elapsed, not rewind the banked-credit clock
            val k = math.max(0L, (ts - last0) / periodUs)
            (math.min(cap, tokens0 + k), last0 + k * periodUs)
          }
        val allowed = tokens > 0L
        ((if (allowed) tokens - 1L else tokens, last),
          Seq(RateDecision(uid, id, allowed)))
      })
  }

  /** One event of a multi-shard ingest, keyed by user: `arr_us` is the
    * modeled ARRIVAL instant (event time + the shard's transport lag —
    * the q249 Kafka-partition-skew model), `ts_us` the event time. The
    * watermark runs on `arr` because the router's decisions depend on
    * arrival order, not event-time order. */
  case class LateEvent(user_id: Long, arr: java.sql.Timestamp,
                       arr_us: Long, ts_us: Long, event_id: Long)
  case class LateOut(user_id: Long, n_events: Long, n_admit: Long,
                     n_drop: Long, max_late_us: Long)

  /** Streaming lateness router — the admit/drop decision an ingest
    * stage makes per event under a bounded-lateness contract: an event
    * is DROPPED when it arrives more than `toleranceUs` behind the
    * maximum event time already observed for its key (the per-key
    * watermark proxy), the q249 audit run as a live operator instead
    * of a post-hoc report. Decisions depend on arrival order, so events
    * fold in ARRIVAL-watermark-proven (arr_us, event_id) order; the
    * carry is a running max plus three counters (events, admits, max
    * lateness). One summary row per key at sentinel flush. All
    * arithmetic is integer micros — bit-identical to the batch oracle's
    * per-key window replay.
    */
  def latenessRouter(events: Dataset[LateEvent],
                     toleranceUs: Long = 60000000L): Dataset[LateOut] = {
    import events.sparkSession.implicits._
    orderedFold(events, (Long.MinValue, 0L, 0L, 0L), timeCol = "arr")(
      _.user_id, e => (e.arr_us, e.event_id, e.ts_us))(
      { case (_, (runmax, nEv, nAdmit, maxLate), _, _, tsUs) =>
        val late =
          if (runmax == Long.MinValue || runmax - tsUs < 0L) 0L
          else runmax - tsUs
        ((math.max(runmax, tsUs), nEv + 1L,
          if (late <= toleranceUs) nAdmit + 1L else nAdmit,
          math.max(maxLate, late)), Nil)
      },
      flush = Some({ case (uid, (_, nEv, nAdmit, maxLate)) =>
        if (nEv > 0L) Seq(LateOut(uid, nEv, nAdmit, nEv - nAdmit, maxLate))
        else Nil
      }))
  }

  /** One event of the cadence monitor, keyed by user: gaps are
    * EVENT-TIME differences, so the fold sees events in (ts_us,
    * event_id) order, with the watermark on `ts` itself. */
  case class CadenceEvent(user_id: Long, ts: java.sql.Timestamp,
                          ts_us: Long, event_id: Long)
  case class CadenceOut(user_id: Long, n_gaps: Long, sg: Long, sg2: Long)

  /** Streaming inter-event cadence monitor — the q310 bot audit as a
    * live per-key operator: carries (last event time, gap count, Σgap,
    * Σgap²) so the exact-integer CV sqrt(n·Σg² − S²)/S is computable
    * the moment a key flushes, with O(1) live state per key beyond the
    * watermark-bounded pending buffer. Gaps are second-granularity
    * LONGs ((ts−prev) div 1e6 on micros) — bit-identical to the batch
    * lag replay, which is the oracle. One summary row per key at
    * sentinel flush (none for a single-event key, which has no gaps);
    * the caller derives mean/CV from the exact sums.
    */
  def cadenceMonitor(events: Dataset[CadenceEvent]): Dataset[CadenceOut] = {
    import events.sparkSession.implicits._
    orderedFold(events, (Long.MinValue, 0L, 0L, 0L))(
      _.user_id, e => (e.ts_us, e.event_id, NoPayload))(
      { case (_, (last, n, sg, sg2), tsUs, _, _) =>
        if (last == Long.MinValue) ((tsUs, n, sg, sg2), Nil)
        else {
          val g = (tsUs - last) / 1000000L
          ((tsUs, n + 1L, sg + g, sg2 + g * g), Nil)
        }
      },
      flush = Some({ case (uid, (_, n, sg, sg2)) =>
        if (n > 0L) Seq(CadenceOut(uid, n, sg, sg2)) else Nil
      }))
  }

  /** One event of the streaming ledger, keyed by user: `dx` is the
    * signed integer-cent delta (deposits positive, consumption
    * negative), pre-computed by the caller so the fold is pure LONG
    * arithmetic. */
  case class BalanceEvent(user_id: Long, ts: java.sql.Timestamp,
                          ts_us: Long, event_id: Long, dx: Long)
  case class BalanceOut(user_id: Long, n_tx: Long, final_cents: Long,
                        peak_cents: Long, floor_hits: Long)

  /** Streaming clamped running balance — the SEQUENTIAL twin of batch
    * q354: per user, b := max(0, b + dx) folded in (ts_us, event_id)
    * order, carrying (balance, peak, floor hits, count) as O(1) live
    * state per key. The batch side computes the SAME recurrence through
    * its associative parallel-scan identity (b_i = S_i − min(0, min
    * prefix S)); this operator IS the recurrence — the shared DuckDB
    * oracle proves the two formulations agree bit-for-bit, which is the
    * point of the pair. One summary row per key at sentinel flush.
    */
  def clampedBalance(events: Dataset[BalanceEvent]): Dataset[BalanceOut] = {
    import events.sparkSession.implicits._
    orderedFold(events, (0L, 0L, 0L, 0L))(
      _.user_id, e => (e.ts_us, e.event_id, e.dx))(
      { case (_, (bal0, peak, hits, n), _, _, dx) =>
        val bal = math.max(0L, bal0 + dx)
        ((bal, math.max(peak, bal),
          if (bal == 0L && dx < 0L) hits + 1L else hits, n + 1L), Nil)
      },
      flush = Some({ case (uid, (bal, peak, hits, n)) =>
        if (n > 0L) Seq(BalanceOut(uid, n, bal, peak, hits)) else Nil
      }))
  }
}
