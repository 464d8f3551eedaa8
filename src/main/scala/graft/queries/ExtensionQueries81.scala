package graft.queries

import org.apache.spark.sql.functions._

import graft.io.{Sources, Tables}
import graft.ops.{MaterializedView, VersionedTable}
import graft.streaming.{Milestones, StreamGate}

/** Round-10 second wave — new-primitive content only (the r9 rule):
  * q463 introduces ZONE-MAP FILE SKIPPING (per-file min/max manifest
  * consulted before the scan — the Delta/Iceberg data-skipping pattern),
  * q464 INCREMENTAL MATERIALIZED-VIEW MAINTENANCE (per-key additive MV
  * merged from insert/delete CDC deltas, base table never rescanned),
  * q465 SNAPSHOT-VERSIONED STORAGE with time travel (manifest-pinned
  * immutable snapshots + copy-on-write delete), and q466 the first use
  * of Spark 4.x's `transformWithState` arbitrary-state streaming API
  * (typed ListState/ValueState + event-time timers). Storage layout and
  * maintenance schedules are physical concerns — every oracle replays
  * the same LOGICAL result from the raw parquet, which is exactly the
  * contract these features must keep.
  */
object ExtensionQueries81 {

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q463: ZONE-MAP FILE SKIPPING — events are range-clustered on
    // `value` into 16 files with a per-file [min,max] manifest
    // (Sources.writeWithZoneMap); the band aggregate below consults the
    // manifest FIRST and scans only intersecting files (~2 of 16 for
    // this band; Extension81Spec pins selected < total, and that the
    // pruned read equals the full-scan filter). At 100 TB this is the
    // difference between opening every file of a table and opening the
    // handful whose zones cover the predicate — on top, parquet's own
    // row-group min/max prunes within each surviving file. The oracle
    // replays the plain WHERE from raw parquet: skipping is physical,
    // the answer must not move.
    Q(
      "q463_zonemap_file_skipping",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val base =
          s"${System.getProperty("java.io.tmpdir")}/graft_zonemap$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"), col("value"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        Sources.writeWithZoneMap(ev, base, "value", 16)
        Sources.readZoneMapped(s, base, "value", 30.0, 40.0)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |    AS BIGINT) AS sum_cents
             |FROM events
             |WHERE value >= 30.0 AND value < 40.0
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q464: INCREMENTAL MV MAINTENANCE — the per-user (count, cents)
    // rollup is materialized ONCE from a base slice, then two CDC delta
    // batches merge in: an insert batch (the held-out event slice) and
    // a delete batch (retracting even-id error events). applyDelta
    // reads ONLY the MV + the delta — the events table is not an input
    // to the merge (the API cannot name it), which is the O(delta)
    // property that makes a 100 TB rollup maintainable. The oracle is
    // the from-scratch recompute over exactly base ∪ inserts ∖ deletes:
    // delta-maintenance algebra says they must agree row-for-row.
    Q(
      "q464_incremental_mv_maintenance",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_mv$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val base = ev.where(col("event_id") % 10 =!= 3)
        val inserts = ev.where(col("event_id") % 10 === 3)
          .withColumn("op", lit(1L))
        val deletes = ev
          .where(col("event_type") === "error" && col("event_id") % 2 === 0)
          .withColumn("op", lit(-1L))
        MaterializedView.create(base, Seq("user_id"), "cents", path)
        MaterializedView.applyDelta(s, path, inserts,
          Seq("user_id"), "cents", "op")
        MaterializedView.applyDelta(s, path, deletes,
          Seq("user_id"), "cents", "op")
        MaterializedView.read(s, path)
          .select(col("user_id"), col("mv_n"), col("mv_sum"))
          .orderBy(col("mv_sum").desc, col("user_id"))
          .limit(100)
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |kept AS (
             |  SELECT * FROM ev
             |  WHERE NOT (event_type = 'error' AND event_id % 2 = 0))
             |SELECT user_id, CAST(count(*) AS BIGINT) AS mv_n,
             |  CAST(sum(cents) AS BIGINT) AS mv_sum
             |FROM kept
             |GROUP BY user_id
             |ORDER BY mv_sum DESC, user_id
             |LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // q465: SNAPSHOT-VERSIONED TABLE (time travel) — v0 = one event
    // slice, v1 = append of a second slice (no existing file touched),
    // v2 = copy-on-write DELETE of error events (only files containing
    // errors rewritten; clean files carry over by reference). The query
    // reads versions 1 AND 2 side by side: v1 — a snapshot pinned
    // BEFORE the delete — still shows its error rows, v2 shows none;
    // both aggregate from immutable manifests. The oracle reconstructs
    // both logical snapshots from raw events. Extension81Spec
    // additionally pins the copy-on-write contract at file granularity.
    Q(
      "q465_versioned_time_travel",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_vtab$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 3 === 0), path)
        VersionedTable.append(ev.where(col("event_id") % 3 === 1), path)
        VersionedTable.deleteWhere(s, path, col("event_type") === "error")
        def snap(v: Int) =
          VersionedTable.readVersion(s, path, v)
            .agg(count(lit(1)).cast("long").as("n_rows"),
              sum("cents").as("sum_cents"),
              sum(when(col("event_type") === "error", 1L).otherwise(0L))
                .as("n_err"))
            .select(lit(v.toLong).as("version"), col("n_rows"),
              col("sum_cents"), col("n_err"))
        snap(1).unionByName(snap(2)).orderBy("version")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |v1 AS (SELECT * FROM ev WHERE event_id % 3 IN (0, 1)),
             |v2 AS (SELECT * FROM v1 WHERE event_type <> 'error')
             |SELECT CAST(1 AS BIGINT) AS version,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_err
             |FROM v1
             |UNION ALL
             |SELECT CAST(2 AS BIGINT),
             |  CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT),
             |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |    AS BIGINT)
             |FROM v2
             |ORDER BY version""".stripMargin)),

    // ------------------------------------------------------------------
    // q466: transformWithState MILESTONES — every 4th event per user
    // with the running cents total, computed by the new arbitrary-state
    // processor (ListState reorder buffer + ValueState counter +
    // event-time timers; see graft.streaming.Milestones) driven as a
    // real stream: the q76 sentinel discipline pushes the watermark past
    // every fixture event so each user's buffer flushes exactly once
    // through the timer path, in event-time order regardless of arrival
    // order. Oracle = the batch window formulation: row_number and
    // running sum per user ordered by (ts, event_id), filtered to
    // multiples of 4.
    Q(
      "q466_tws_milestones",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "tws_ms") { events =>
          val stream = events
            .withWatermark("ts", "2 hours")
            .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
              "event_id", "value")
            .as[Milestones.MsEvent]
          Milestones.milestones(stream, 4L)
            .filter(col("user_id") >= 0)
        }
        out.orderBy("user_id", "milestone")
      },
      Some("""WITH ordered AS (
             |  SELECT user_id,
             |    CAST(row_number() OVER w AS BIGINT) AS milestone,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_cents
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT user_id, milestone, cum_cents
             |FROM ordered
             |WHERE milestone % 4 = 0
             |ORDER BY user_id, milestone""".stripMargin))
  )
}
