package graft.queries

import org.apache.spark.sql.functions._

import graft.io.{Sources, Tables}
import graft.streaming.{StreamGate, WarmStart}

/** Round-10 fourth wave — new-primitive content only: q470 TWO-D
  * zone-map skipping over a Z-ORDER-clustered layout (conjunctive box
  * predicates prune on both dimensions — the case 1-D clustering
  * cannot serve), q471 batch-to-streaming STATE BOOTSTRAP via
  * `StatefulProcessorWithInitialState` (the stream continues from a
  * batch-computed rollup without reprocessing history — the API's
  * migration primitive, and the last transformWithState surface the
  * engine hadn't exercised).
  */
object ExtensionQueries83 {

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q470: 2-D ZONE MAPS OVER Z-ORDER — events clustered on the Morton
    // interleave of (value, hour), manifest carrying per-file min/max
    // of BOTH columns; the box query (a value band × a 3-day hour
    // band) prunes files on both dimensions at once
    // (Sources.writeWithZoneMap2 / readZoneMapped2; Extension83Spec
    // pins that the box touches fewer files than EITHER single
    // dimension alone admits under the same manifest). hour is an
    // exact integer (micros div 3600e6) so both engines band
    // identically. Oracle = the plain conjunctive WHERE on raw events.
    Q(
      "q470_zorder_zonemap_box",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val base =
          s"${System.getProperty("java.io.tmpdir")}/graft_zonemap2$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"), col("value"),
            expr("unix_micros(cast(ts as timestamp)) div 3600000000")
              .as("hour"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        Sources.writeWithZoneMap2(ev, base, "value", "hour", 16)
        Sources.readZoneMapped2(s, base, "value", "hour",
          20.0, 60.0, 473400.0, 473472.0)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |    AS BIGINT) AS sum_cents
             |FROM events
             |WHERE value >= 20.0 AND value < 60.0
             |  AND epoch_us(ts) // 3600000000 >= 473400
             |  AND epoch_us(ts) // 3600000000 < 473472
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q471: STATE BOOTSTRAP — the per-user lifetime rollup computed in
    // batch over 90% of events (the "historical pipeline"), then the
    // held-out 10% slice streamed ON TOP through
    // StatefulProcessorWithInitialState: handleInitialState seeds each
    // user's counter from the batch frame before the first micro-batch,
    // and every user — including history-only users the stream never
    // mentions — reports once when the watermark passes the corpus end.
    // The oracle aggregates ALL events per user: it matches only if the
    // seed actually loaded (drop it and every history-only user
    // vanishes and every mixed user undercounts).
    Q(
      "q471_tws_state_bootstrap",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.flushed(s, dir, "tws_ws") { events =>
          val ev = Tables.load(s, dir, "events")
            .select(col("user_id"), col("event_id"), col("ts"),
              floor(col("value") * 100 + 0.5).cast("long").as("cents"))
          // the batch-era rollup (group-count-sized seed, not history)
          val history = ev.where(col("event_id") % 10 =!= 3)
            .groupBy("user_id")
            .agg(count(lit(1)).cast("long").as("n"),
              sum("cents").cast("long").as("cents"))
            .as[WarmStart.WsInit]
            .groupByKey(_.user_id)
          // flush once the watermark passes the last real event
          val flushAtMs = ev
            .agg(max(unix_micros(col("ts").cast("timestamp")))).head()
            .getLong(0) / 1000 + 1
          val stream = events
            .withWatermark("ts", "2 hours")
            .where(col("user_id") < 0 || col("event_id") % 10 === 3)
            .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
              "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
            .as[WarmStart.WsEvent]
          WarmStart.lifetimeTotals(stream, history, flushAtMs)
            .filter(col("user_id") >= 0)
        }
        out.orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS total_cents
             |FROM ev
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin))
  )
}
