package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{MaterializedView, VersionedTable}
import graft.streaming.{FirstSeen, StreamGate}

/** Round-10 third wave — new-primitive content only: q467 EXACTLY-ONCE
  * STREAMING MV MAINTENANCE (`foreachBatch` + atomic batch-id commits —
  * the idempotent-sink protocol that upgrades at-least-once batch
  * redelivery to exactly-once, proven in-query by re-delivering both
  * batches after the stream), q468 FILE-PRUNED SNAPSHOT DIFF (what
  * changed between two versions, reading only non-shared manifest
  * files), q469 the MapState + stale-timer-guard side of
  * `transformWithState` (per-user first-seen event-type dictionary).
  */
object ExtensionQueries82 {

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q467: EXACTLY-ONCE STREAMING MV MAINTENANCE — the q464 view kept
    // current by a STREAM: the held-out event slice arrives as a 2-file
    // CDC stream (maxFilesPerTrigger=1 → two micro-batches), and
    // foreachBatch folds each batch into the MV through
    // applyDeltaIdempotent, whose _commit file atomically both
    // publishes the new version AND records the batch id. foreachBatch
    // is at-least-once — a crash between sink write and checkpoint
    // commit REPLAYS the batch — so after the stream finishes the query
    // re-delivers BOTH batch ids by hand; the no-op replay is what the
    // oracle (a full recompute over all events) then certifies. At
    // 100 TB this is the standing shape of every incremental rollup:
    // the fact stream is consumed once, the MV read per merge is
    // group-sized, and restarts cannot double-count.
    Q(
      "q467_streaming_mv_exactly_once",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_smv$tag"
        StreamGate.withScratch("graft_smv_delta", "graft_smv_ckpt") {
          case Seq(deltaDir, ckptDir) =>
            val ev = Tables.load(s, dir, "events")
              .select(col("user_id"), col("event_id"),
                floor(col("value") * 100 + 0.5).cast("long").as("cents"))
            MaterializedView.create(ev.where(col("event_id") % 10 =!= 3),
              Seq("user_id"), "cents", path)
            val delta = ev.where(col("event_id") % 10 === 3)
              .select("user_id", "cents")
            delta.repartition(2).write.mode("overwrite")
              .parquet(deltaDir.toString)
            val apply = (df: DataFrame, id: Long) =>
              MaterializedView.applyDeltaIdempotent(s, path,
                df.withColumn("op", lit(1L)), Seq("user_id"), "cents", "op", id)
            StreamGate.run(s.readStream.schema(delta.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(deltaDir.toString)
              .writeStream
              .foreachBatch(apply), ckptDir)
            // at-least-once redelivery drill: replay every batch id the
            // stream just committed — each must be a no-op
            MaterializedView.appliedBatches(path).foreach(id =>
              MaterializedView.applyDeltaIdempotent(s, path,
                delta.withColumn("op", lit(1L)),
                Seq("user_id"), "cents", "op", id))
        }
        MaterializedView.read(s, path)
          .select(col("user_id"), col("mv_n"), col("mv_sum"))
          .orderBy(col("mv_sum").desc, col("user_id"))
          .limit(100)
      },
      Some("""WITH ev AS (
             |  SELECT user_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS mv_n,
             |  CAST(sum(cents) AS BIGINT) AS mv_sum
             |FROM ev
             |GROUP BY user_id
             |ORDER BY mv_sum DESC, user_id
             |LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // q468: FILE-PRUNED SNAPSHOT DIFF — "what changed between corpus
    // snapshots" as a first-class read: the q465 lifecycle (init,
    // append, copy-on-write delete) followed by diffVersions over both
    // transitions. The diff never opens manifest-SHARED files (multiset
    // algebra: shared rows cancel), so its cost tracks the touched
    // files — the audit primitive that stays cheap when one commit
    // touches 0.1% of a 100 TB table. The oracle reconstructs both
    // logical diffs from raw events: v0→v1 adds exactly the appended
    // slice, v1→v2 removes exactly v1's error rows.
    Q(
      "q468_snapshot_diff",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_vdiff$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 3 === 0), path)
        VersionedTable.append(ev.where(col("event_id") % 3 === 1), path)
        VersionedTable.deleteWhere(s, path, col("event_type") === "error")
        def leg(vA: Int, vB: Int) =
          VersionedTable.diffVersions(s, path, vA, vB)
            .groupBy("change")
            .agg(count(lit(1)).cast("long").as("n_rows"),
              sum("cents").as("sum_cents"))
            .select(lit(vA.toLong).as("from_v"), lit(vB.toLong).as("to_v"),
              col("change"), col("n_rows"), col("sum_cents"))
        leg(0, 1).unionByName(leg(1, 2)).orderBy("from_v", "change")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |added01 AS (SELECT * FROM ev WHERE event_id % 3 = 1),
             |removed12 AS (
             |  SELECT * FROM ev
             |  WHERE event_id % 3 IN (0, 1) AND event_type = 'error')
             |SELECT CAST(0 AS BIGINT) AS from_v, CAST(1 AS BIGINT) AS to_v,
             |  'added' AS change, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM added01
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), CAST(2 AS BIGINT), 'removed',
             |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
             |FROM removed12
             |ORDER BY from_v, change""".stripMargin)),

    // ------------------------------------------------------------------
    // q469: transformWithState FIRST-SEEN DICTIONARY — per (user,
    // event_type) count + first-seen micros via MAP state (the third
    // typed state variable; q466 covered ListState/ValueState), with
    // the stale-timer guard: a timer set before newer events arrived
    // re-arms instead of flushing a still-growing dictionary. Both
    // accumulators are order-insensitive, so this is the
    // no-reorder-buffer half of the API's design space — state is
    // vocabulary-sized per user, never event-count-sized. Sentinel
    // discipline as in q76/q466; oracle = the batch groupBy.
    Q(
      "q469_tws_first_seen_dict",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "tws_fs") { events =>
          val stream = events
            .withWatermark("ts", "2 hours")
            .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
              "event_type")
            .as[FirstSeen.FsEvent]
          FirstSeen.firstSeen(stream)
            .filter(col("user_id") >= 0)
        }
        out.orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(epoch_us(ts)) AS BIGINT) AS first_us
             |FROM events
             |GROUP BY user_id, event_type
             |ORDER BY user_id, event_type""".stripMargin))
  )
}
