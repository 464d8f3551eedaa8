package graft.queries

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.VersionedTable
import graft.streaming.StreamGate

/** Round-11 third wave — the storage layer becomes a full SQL citizen:
  * q481 drives the versioned table's WRITE path through the DataSource
  * V2 connector (DataFrameWriter append/overwrite minting manifest
  * versions), and q482 runs the whole lifecycle — CREATE TABLE, INSERT
  * INTO, SELECT, time travel — as plain SQL through a registered
  * `TableCatalog`, with `VERSION AS OF` resolving through the same
  * Catalyst hook Delta/Iceberg use. Zero graft API in the q482 SQL.
  */
object ExtensionQueries87 {

  private val vcdcRunId = new java.util.concurrent.atomic.AtomicInteger(0)

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q481: DSv2 WRITE path. The table is inited with the %4==0 slice,
    // then TWO DataFrameWriter appends (each a manifest commit: new
    // files by reference, nothing rewritten) bring in %4==1 and the
    // rest. A second table proves mode("overwrite"): a junk slice is
    // replaced wholesale by a SNAPSHOT COMMIT at latest+1 (r13: history
    // is preserved, the Delta INSERT OVERWRITE shape — nothing is
    // deleted at commit, so a racing appender's staged data can't be
    // destroyed; time travel still reaches the pre-overwrite junk,
    // pinned via pre_rows). The gated rows carry the post-write
    // latest-version numbers next to per-type logical aggregates of
    // BOTH tables, all replayed by the oracle from raw events.
    Q(
      "q481_dsv2_versioned_write",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val tmp = System.getProperty("java.io.tmpdir")
        val pathA = s"$tmp/graft_dsv2w_a$tag"
        val pathB = s"$tmp/graft_dsv2w_b$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        // table A: init + two connector APPENDS
        VersionedTable.init(ev.where(col("event_id") % 4 === 0), pathA)
        ev.where(col("event_id") % 4 === 1)
          .write.format("graft-versioned").mode("append").save(pathA)
        ev.where(col("event_id") % 4 > 1)
          .write.format("graft-versioned").mode("append").save(pathA)
        // table B: junk content, then a connector OVERWRITE — a
        // snapshot commit at latest+1 (v2); the pre-overwrite junk
        // stays time-travelable (pre_rows pins it via VERSION AS OF)
        VersionedTable.init(ev.where(col("event_id") % 10 === 0), pathB)
        VersionedTable.append(ev.where(col("event_id") % 10 === 1), pathB)
        ev.where(col("event_type") === "purchase")
          .write.format("graft-versioned").mode("overwrite").save(pathB)
        val preRows = s.read.format("graft-versioned")
          .option("versionAsOf", 1).load(pathB).count()
        def leg(label: Long, path: String, pre: Long) =
          s.read.format("graft-versioned").load(path)
            .groupBy("event_type")
            .agg(count(lit(1)).cast("long").as("n"),
              sum("cents").as("sum_cents"))
            .select(lit(label).as("tbl"),
              lit(VersionedTable.latestVersion(path).toLong)
                .as("latest_version"),
              col("event_type"), col("n"), col("sum_cents"),
              lit(pre).as("pre_rows"))
        leg(0L, pathA, 0L).unionByName(leg(1L, pathB, preRows))
          .orderBy("tbl", "event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT CAST(0 AS BIGINT) AS tbl,
             |  CAST(2 AS BIGINT) AS latest_version,
             |  event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(0 AS BIGINT) AS pre_rows
             |FROM ev GROUP BY event_type
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), CAST(2 AS BIGINT),
             |  event_type, CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT),
             |  (SELECT CAST(count(*) AS BIGINT) FROM ev
             |   WHERE event_id % 10 IN (0, 1))
             |FROM ev WHERE event_type = 'purchase'
             |GROUP BY event_type
             |ORDER BY tbl, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q482: CATALOG SQL LIFECYCLE + VERSION AS OF. A GraftCatalog is
    // registered under a fixed warehouse; from there everything is
    // plain SQL — DROP/CREATE TABLE, three INSERT INTO commits (each a
    // manifest version through the V1Write fallback), then THREE reads:
    // VERSION AS OF 1 (first insert only), VERSION AS OF 2 (first two),
    // and the latest — Catalyst resolves the version literal through
    // TableCatalog.loadTable(ident, version), the same hook
    // Delta/Iceberg use. The oracle replays the cumulative slices.
    Q(
      "q482_sql_catalog_time_travel",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        s.conf.set("spark.sql.catalog.graftcat",
          "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.graftcat.warehouse",
          s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
        val tbl = s"graftcat.ev_$tag"
        val src = s"graft_cat_src_$tag"
        Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
          .createOrReplaceTempView(src)
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE TABLE $tbl " +
          "(event_id BIGINT, event_type STRING, cents BIGINT)")
        s.sql(s"INSERT INTO $tbl SELECT * FROM $src WHERE event_id % 3 = 0")
        s.sql(s"INSERT INTO $tbl SELECT * FROM $src WHERE event_id % 3 = 1")
        s.sql(s"INSERT INTO $tbl SELECT * FROM $src WHERE event_id % 3 = 2")
        s.sql(
          s"""SELECT 1 AS as_of, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM $tbl VERSION AS OF 1
             |UNION ALL
             |SELECT 2, CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT)
             |FROM $tbl VERSION AS OF 2
             |UNION ALL
             |SELECT 3, CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT)
             |FROM $tbl
             |ORDER BY as_of""".stripMargin)
      },
      Some("""WITH ev AS (
             |  SELECT event_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT 1 AS as_of, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM ev WHERE event_id % 3 = 0
             |UNION ALL
             |SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
             |FROM ev WHERE event_id % 3 IN (0, 1)
             |UNION ALL
             |SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
             |FROM ev
             |ORDER BY as_of""".stripMargin)),

    // ------------------------------------------------------------------
    // q483: OPTIMIZE ZORDER BY under version history — the 2-D
    // clustering q470 proved on the standalone zone-map layout, now
    // composed with versioned snapshots: compactClusteredZOrder
    // rewrites the fragmented table clustered on the Morton interleave
    // of (x, y) and persists BOTH columns' per-file ranges in the
    // version manifest, so a conjunctive box probe prunes on two
    // dimensions at once (the case 1-D clustering can't serve: every
    // x-band file spans all of y). The box sits inside one z-quadrant,
    // so pruning is guaranteed at any SF: `pruned`=1 rides in the
    // gated row (exact per-SF file counts are pinned in
    // GraftVersionedSourceSpec — range-boundary sampling makes them
    // fixture-deterministic but not SF-invariant, so the oracle pins
    // the invariant part). Logical rows replay from raw events.
    Q(
      "q483_versioned_zorder_box",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_vzo$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"),
            (col("event_id") % 1000).as("x"),
            (floor(col("value") * 100 + 0.5).cast("long") % 1000).as("y"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 3 === 0)
          .repartition(4), path)
        VersionedTable.append(ev.where(col("event_id") % 3 === 1)
          .repartition(3), path)
        VersionedTable.append(ev.where(col("event_id") % 3 === 2)
          .repartition(3), path)
        VersionedTable.compactClusteredZOrder(s, path, 8, "x", "y")
        val (open, total) = VersionedTable.boxFiles(path, 3,
          "x", 50.0, 450.0, "y", 100.0, 500.0)
        VersionedTable.readVersionBox(s, path, 3,
          "x", 50.0, 450.0, "y", 100.0, 500.0)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum("cents").as("sum_cents"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .select(lit(total.toLong).as("files_total"),
            lit(if (open.length < total) 1L else 0L).as("pruned"),
            col("n_rows"), col("sum_cents"),
            col("min_x"), col("max_x"), col("min_y"), col("max_y"))
      },
      Some("""WITH ev AS (
             |  SELECT event_id % 1000 AS x,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) % 1000 AS y,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT CAST(8 AS BIGINT) AS files_total,
             |  CAST(1 AS BIGINT) AS pruned,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(min(x) AS BIGINT) AS min_x,
             |  CAST(max(x) AS BIGINT) AS max_x,
             |  CAST(min(y) AS BIGINT) AS min_y,
             |  CAST(max(y) AS BIGINT) AS max_y
             |FROM ev
             |WHERE x >= 50 AND x < 450 AND y >= 100 AND y < 500"""
        .stripMargin)),

    // ------------------------------------------------------------------
    // q484: VACUUM — retention for the versioned table. Three commits
    // (init 4 files, append 3, compact to 2) build a 9-file footprint
    // of which the latest snapshot references 2; vacuum(keepVersions=1)
    // must remove exactly the two pre-horizon manifests and the 7
    // payload files only they referenced — all three counts are
    // construction-deterministic and ride in the gated row next to the
    // surviving snapshot's per-type aggregates (proof the reclaim
    // touched ONLY unreferenced files). Time travel below the horizon
    // now fails loudly (pinned in GraftVersionedSourceSpec, along with
    // sidecar retention).
    Q(
      "q484_versioned_vacuum",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_vvac$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 3 === 0)
          .repartition(4), path)
        VersionedTable.append(ev.where(col("event_id") % 3 =!= 0)
          .repartition(3), path)
        VersionedTable.compact(s, path, 2)
        val (mRemoved, fRemoved) = VersionedTable.vacuum(path, 1)
        VersionedTable.read(s, path)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .select(col("event_type"), col("n"), col("sum_cents"),
            lit(mRemoved.toLong).as("manifests_removed"),
            lit(fRemoved.toLong).as("files_removed"),
            lit(VersionedTable.manifestFiles(path,
              VersionedTable.latestVersion(path)).length.toLong)
              .as("files_remaining"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(2 AS BIGINT) AS manifests_removed,
             |  CAST(7 AS BIGINT) AS files_removed,
             |  CAST(2 AS BIGINT) AS files_remaining
             |FROM ev
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q485: STREAMING CDC INTO THE VERSIONED TABLE — upserts AND
    // deletes applied ATOMICALLY, one manifest commit per micro-batch
    // (chaining deleteWhere + merge would mint two versions and expose
    // the half-applied middle state to time travel). The CDC feed
    // carries three kinds of rows: corrections (op=+1 re-keying base
    // purchases with bumped cents), inserts (op=+1, new keys), and
    // deletes (op=-1 for base error rows); it streams through
    // foreachBatch -> applyCdcIdempotent with keys colocated per batch
    // (hash repartition on event_id), so the final state is
    // batch-order-free. The redelivery drill replays every committed
    // batch id (must refuse, no version minted). Oracle = the fully
    // applied state per event_type.
    Q(
      "q485_versioned_streaming_cdc",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val id = vcdcRunId.incrementAndGet()
        val path = s"${System.getProperty("java.io.tmpdir")}" +
          s"/graft_vcdc${tag}_$id"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val base = ev.where(col("event_id") % 2 === 0)
        VersionedTable.init(base, path)
        val cdc = base.where(col("event_type") === "purchase")
          .withColumn("cents", col("cents") + 7L)
          .withColumn("op", lit(1))
          .unionByName(ev.where(col("event_id") % 4 === 1)
            .withColumn("op", lit(1)))
          .unionByName(base.where(col("event_type") === "error")
            .withColumn("op", lit(-1)))
        val replayNoop =
          StreamGate.withScratch("graft_vcdc_delta", "graft_vcdc_ckpt") {
            case Seq(deltaDir, ckptDir) =>
              cdc.repartition(3, col("event_id"))
                .write.mode("overwrite").parquet(deltaDir.toString)
              val apply = (df: org.apache.spark.sql.DataFrame, bid: Long) => {
                VersionedTable.applyCdcIdempotent(s, path, df,
                  Seq("event_id"), "op", bid)
                ()
              }
              StreamGate.run(s.readStream.schema(cdc.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(deltaDir.toString)
                .writeStream
                .foreachBatch(apply), ckptDir)
              val vBefore = VersionedTable.latestVersion(path)
              val refused = VersionedTable.appliedBatches(path).toSeq
                .map(b => !VersionedTable.applyCdcIdempotent(s, path, cdc,
                  Seq("event_id"), "op", b))
              if (refused.nonEmpty && refused.forall(identity) &&
                VersionedTable.latestVersion(path) == vBefore) 1L
              else 0L
          }
        VersionedTable.read(s, path)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .select(col("event_type"), col("n"), col("sum_cents"),
            lit(VersionedTable.appliedBatches(path).size.toLong)
              .as("n_batches"),
            lit(replayNoop).as("replay_noop"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |fin AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 2 = 0 AND event_type = 'purchase'
             |         THEN cents + 7 ELSE cents END AS cents
             |  FROM ev
             |  WHERE (event_id % 2 = 0 AND event_type <> 'error')
             |     OR event_id % 4 = 1)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(3 AS BIGINT) AS n_batches,
             |  CAST(1 AS BIGINT) AS replay_noop
             |FROM fin
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q486: METADATA-ONLY COUNT(*) — every commit records each new
    // file's parquet-footer row count as a manifest `rc` line, and the
    // DSv2 scan builder accepts COMPLETE aggregate pushdown for a bare
    // group-free COUNT(*): the answer is summed from the manifest, the
    // planned scan is GraftMetadataCountScan (one partition, one row,
    // ZERO data files opened — at 100 TB this is the difference between
    // milliseconds and a full-table scan). The query pins the plan
    // class per leg in the gated row (read off the physical BatchScan):
    // leg 0 is the bare count (metadata path), leg 1 the same count
    // WITH a residual filter — this source keeps every filter as a
    // residual, so Spark never offers the aggregate and the SQL falls
    // back to the real file scan (metadata_only=0, correct rows). The
    // DV interaction (vectors disable the shortcut) pins in the spec.
    Q(
      "q486_metadata_count_pushdown",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_mcount$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 4 === 0), path)
        VersionedTable.append(ev.where(col("event_id") % 4 =!= 0), path)
        val view = s"graft_mcount_view$tag"
        s.read.format("graft-versioned").load(path)
          .createOrReplaceTempView(view)
        def leg(label: Long, sql: String) = {
          val q = s.sql(sql)
          val scanClass = q.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.scan.getClass.getSimpleName
          }.getOrElse(sys.error("no V2 scan planned for count(*)"))
          q.select(lit(label).as("leg"), col("n_rows"),
            lit(if (scanClass == "GraftMetadataCountScan") 1L else 0L)
              .as("metadata_only"))
        }
        leg(0L, s"SELECT count(*) AS n_rows FROM $view")
          .unionByName(leg(1L,
            s"SELECT count(*) AS n_rows FROM $view " +
              "WHERE event_type <> 'error'"))
          .orderBy("leg")
      },
      Some("""WITH ev AS (SELECT event_type FROM events)
             |SELECT CAST(0 AS BIGINT) AS leg,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(1 AS BIGINT) AS metadata_only
             |FROM ev
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
             |  CAST(0 AS BIGINT)
             |FROM ev WHERE event_type <> 'error'
             |ORDER BY leg""".stripMargin)))
}
