package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.VersionedTable
import graft.streaming.StreamGate

/** Round-14 first wave — the r13 verdict's storage-scale items:
  *
  *  - q517 PARQUET CHECKPOINT MANIFESTS: a checkpoint of a table at/
  *    above the entry threshold commits as a `#ckpt=` pointer plus a
  *    columnar (dictionary+snappy) parquet sidecar instead of ~320
  *    text bytes per file parsed line-by-line on the driver — the
  *    Delta parquet-checkpoint shape. Every manifest field round-trips
  *    (zone stats keep pruning, row counts keep metadata-only verbs,
  *    DVs keep hiding rows), deltas keep folding off the columnar
  *    base, and time travel is unchanged.
  *
  *  - q519/q520: the r13 verdict-#5 split of the former q511 9s
  *    composite — the batch change-feed algebra over append+DV
  *    commit shapes (q519, no streaming) and the streaming-CDF
  *    checkpoint-RESTART drill (q520) each read on their own suite
  *    line, so a regression in either leg is visible instead of
  *    buried.
  *
  *  - q521 MERGE WITH SCHEMA EVOLUTION: the table advertises
  *    `AUTOMATIC_SCHEMA_EVOLUTION`, so Spark's analyzer routes a
  *    merge source's unmatched columns through the catalog's
  *    metadata-only ADD COLUMN commit before the row-level write
  *    resolves — the Delta mergeSchema shape, composed from q514's
  *    evolution commit and the CoW rewrite.
  *
  *  - q518 COLUMN MAPPING — SQL ALTER TABLE RENAME/DROP COLUMN: the
  *    manifest records an ordered logical→physical name map (`cm`
  *    lines), so a rename flips only the logical name and a drop
  *    removes only the map entry — metadata-only commits, not one
  *    data file touched, and every historical snapshot keeps ITS OWN
  *    map (schema-correct time travel across both). The
  *    Delta/Iceberg column-mapping shape.
  */
object ExtensionQueries95 {

  private val runId = new AtomicLong(0L)

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q517: PARQUET CHECKPOINT MANIFESTS. With the sidecar threshold
    // lowered to 8 entries, v0 (12 clustered files) commits as a
    // #ckpt= pointer (ckpt_parquet pins the form; the text commit
    // point stays tiny — ptr_small) whose parquet body carries the
    // band stats (prune_ok: a narrow band opens a strict subset of
    // files THROUGH the sidecar round-trip). An append then folds as a
    // plain text DELTA off the columnar base (delta_text), a DV
    // delete hides rows through it, and v0 stays time-travelable
    // (travel_ok). At a million files this is the difference between
    // a ~300MB driver-side string parse per cold read and one
    // columnar scan.
    Q(
      "q517_parquet_checkpoint",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val id = runId.incrementAndGet()
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_pqck${tag}_$id"
        graft.io.FsUtil.deleteRecursively(path)
        val saved = VersionedTable.parquetCheckpointMinEntries
        VersionedTable.parquetCheckpointMinEntries = 8
        try {
          // r15 (§2.4, verdict item 4): base feeds the init write, the
          // maxKey agg and the travel_ok count — three re-scans of the
          // projected lineitem slice before; staged once here.
          val li = Tables.load(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity"), col("l_returnflag"))
          val base = li.where(col("l_orderkey") % 3 =!= 0)
            .localCheckpoint()
          VersionedTable.init(
            base.repartitionByRange(12, col("l_orderkey"))
              .sortWithinPartitions("l_orderkey"),
            path, clusterBy = Some("l_orderkey"))
          val raw0 = graft.io.TableFs.readUtf8(
            s"$path/_manifests/v00000.txt")
          val ckptParquet =
            if (raw0.linesIterator.exists(_.startsWith("#ckpt=")) &&
              !raw0.contains("zs\t")) 1L
            else 0L
          val ptrSmall = if (raw0.length < 200) 1L else 0L
          // band stats survive the columnar round-trip and still prune
          val maxKey = base.agg(max("l_orderkey")).head().getLong(0)
          val (open, total) =
            VersionedTable.bandFiles(path, 0, "l_orderkey",
              0.0, maxKey / 8.0)
          val pruneOk = if (open.length < total && open.nonEmpty) 1L
            else 0L
          // an append off the columnar base is still a plain text delta
          VersionedTable.append(
            li.where(col("l_orderkey") % 3 === 0).repartition(2), path)
          val deltaText = if (graft.io.TableFs.readUtf8(
            s"$path/_manifests/v00001.txt").startsWith("#delta")) 1L
            else 0L
          // DV delete through the sidecar-backed snapshot
          VersionedTable.deleteWhereDV(s, path,
            col("l_returnflag") === "R" && col("l_orderkey") % 7 === 0)
          val travelOk =
            if (VersionedTable.readVersion(s, path, 0).count() ==
              base.count()) 1L
            else 0L
          VersionedTable.read(s, path)
            .groupBy("l_returnflag")
            .agg(count(lit(1)).cast("long").as("n"),
              sum("l_quantity").as("sum_qty"))
            .select(col("l_returnflag"), col("n"), col("sum_qty"),
              lit(ckptParquet).as("ckpt_parquet"),
              lit(ptrSmall).as("ptr_small"),
              lit(pruneOk).as("prune_ok"),
              lit(deltaText).as("delta_text"),
              lit(travelOk).as("travel_ok"))
            .orderBy("l_returnflag")
        } finally VersionedTable.parquetCheckpointMinEntries = saved
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  sum(l_quantity) AS sum_qty,
             |  CAST(1 AS BIGINT) AS ckpt_parquet,
             |  CAST(1 AS BIGINT) AS ptr_small,
             |  CAST(1 AS BIGINT) AS prune_ok,
             |  CAST(1 AS BIGINT) AS delta_text,
             |  CAST(1 AS BIGINT) AS travel_ok
             |FROM lineitem
             |WHERE NOT (l_returnflag = 'R' AND l_orderkey % 7 = 0)
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // q518: COLUMN MAPPING — SQL RENAME + DROP COLUMN. An INSERT
    // commits slice A under (k, qty, flag); RENAME qty→quantity and
    // DROP flag are then two metadata-only commits (files_same=1 pins
    // the manifest's file list identical across BOTH — the r13
    // verdict's literal done-criterion), a second INSERT writes under
    // the NEW 2-column logical schema (physical files keep the old
    // names — the map translates at the scan/write edge), and time
    // travel is schema-correct: VERSION AS OF the pre-rename commit
    // still serves (k, qty, flag) (old_schema_ok), the between-ALTERs
    // commit serves the renamed-but-undropped (k, quantity, flag)
    // (mid_schema_ok). The final aggregate filters and groups on the
    // RENAMED column through the DSv2 scan (filter translation +
    // manifest consult under the map). Oracle replays both slices.
    Q(
      "q518_sql_rename_drop_column",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val cat = s"gsql95$tag"
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh95$tag"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val path = s"$wh/t518"
        graft.io.FsUtil.deleteRecursively(path)
        val src = s"graft_q518_src_$tag"
        Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("k"),
            col("l_quantity").cast("bigint").as("qty"),
            col("l_returnflag").as("flag"))
          .createOrReplaceTempView(src)
        s.sql(s"CREATE TABLE $cat.t518 (k BIGINT, qty BIGINT, flag STRING)")
        s.sql(s"INSERT INTO $cat.t518 SELECT * FROM $src WHERE k % 3 != 0")
        val v1 = VersionedTable.latestVersion(path)
        val before = VersionedTable.manifestFiles(path, v1)
        s.sql(s"ALTER TABLE $cat.t518 RENAME COLUMN qty TO quantity")
        val v2 = VersionedTable.latestVersion(path)
        s.sql(s"ALTER TABLE $cat.t518 DROP COLUMN flag")
        val v3 = VersionedTable.latestVersion(path)
        val filesSame =
          if (v2 == v1 + 1 && v3 == v2 + 1 &&
            VersionedTable.manifestFiles(path, v2) == before &&
            VersionedTable.manifestFiles(path, v3) == before) 1L
          else 0L
        // INSERT under the post-ALTER logical schema (2 columns)
        s.sql(s"INSERT INTO $cat.t518 " +
          s"SELECT k, qty FROM $src WHERE k % 3 = 0")
        val oldSchemaOk =
          if (s.sql(s"SELECT * FROM $cat.t518 VERSION AS OF $v1")
            .columns.toSeq == Seq("k", "qty", "flag")) 1L
          else 0L
        val midSchemaOk =
          if (s.sql(s"SELECT * FROM $cat.t518 VERSION AS OF $v2")
            .columns.toSeq == Seq("k", "quantity", "flag")) 1L
          else 0L
        s.sql(
          s"""SELECT k % 10 AS bucket, count(*) AS n,
             |  sum(quantity) AS sum_qty
             |FROM $cat.t518 WHERE quantity > 10
             |GROUP BY k % 10""".stripMargin)
          .select(col("bucket"), col("n"), col("sum_qty"),
            lit(filesSame).as("files_same"),
            lit(oldSchemaOk).as("old_schema_ok"),
            lit(midSchemaOk).as("mid_schema_ok"))
          .orderBy("bucket")
      },
      Some("""SELECT l_orderkey % 10 AS bucket,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
             |    AS sum_qty,
             |  CAST(1 AS BIGINT) AS files_same,
             |  CAST(1 AS BIGINT) AS old_schema_ok,
             |  CAST(1 AS BIGINT) AS mid_schema_ok
             |FROM lineitem WHERE CAST(l_quantity AS BIGINT) > 10
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // q519: BATCH CHANGE FEED OVER APPEND+DV SHAPES — the batch leg of
    // the former q511 composite, with NO streaming run: tableChanges
    // over init/append/DV-delete/append/DV-delete renders each
    // commit's exact row diff (appends 'added', tombstoned positions
    // 'removed' — per-commit cost is the changed files only, never a
    // full-snapshot diff). q498 covers the CoW/merge shapes; this
    // pins the deletion-vector shapes the streaming-GDPR pipeline
    // produces. Oracle replays all four commits' effects.
    Q(
      "q519_batch_changes_dv",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val id = runId.incrementAndGet()
        val path = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_bcdv${tag}_$id"
        graft.io.FsUtil.deleteRecursively(path)
        // r15 note (verdict item 4, measured and REVERTED): staging this
        // slice with localCheckpoint read FLAT at 32c (5.01s -> min
        // 4.98/5.52/6.63 across 3 isolation runs) — the slice's upstream
        // is one cheap codegen'd scan+filter, so the eager checkpoint
        // job costs what the 3 saved re-scans cost (the r14 rule:
        // checkpoint pays only over an EXPENSIVE upstream). The gate's
        // seconds live in the commit/tableChanges machinery, not here.
        val ev = Tables.load(s, dir, "events")
          .where(col("event_id") % 5 === 0)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 2 === 0), path)
        VersionedTable.append(ev.where(col("event_id") % 2 === 1), path)
        VersionedTable.deleteWhereDV(s, path,
          col("event_type") === "error")
        VersionedTable.append(
          ev.where(col("event_type") === "view")
            .withColumn("cents", col("cents") + 7L), path)
        VersionedTable.deleteWhereDV(s, path,
          col("event_type") === "click" && col("event_id") % 7 === 0)
        VersionedTable.tableChanges(s, path, 0,
          VersionedTable.latestVersion(path))
          .groupBy("commit_version", "change", "event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .orderBy("commit_version", "change", "event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events WHERE event_id % 5 = 0)
             |SELECT CAST(1 AS BIGINT) AS commit_version,
             |  'added' AS change, event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM ev WHERE event_id % 2 = 1 GROUP BY event_type
             |UNION ALL
             |SELECT 2, 'removed', 'error', CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT)
             |FROM ev WHERE event_type = 'error'
             |UNION ALL
             |SELECT 3, 'added', 'view', CAST(count(*) AS BIGINT),
             |  CAST(sum(cents + 7) AS BIGINT)
             |FROM ev WHERE event_type = 'view'
             |UNION ALL
             |SELECT 4, 'removed', 'click', CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT)
             |FROM ev WHERE event_type = 'click' AND event_id % 7 = 0
             |ORDER BY commit_version, change, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q520: STREAMING-CDF CHECKPOINT RESTART — the restart leg of the
    // former q511 composite: run 1 serves the first append, then
    // MID-STREAM commits land (a second append and a DV delete) and a
    // checkpoint RESTART serves EXACTLY the increment (restart_ok pins
    // sink growth; the per-commit oracle pins the increment's exact
    // rows — a replayed or skipped commit would break the
    // commit_version totals). Two AvailableNow runs = an attributed
    // 2x single-stream floor (BENCH_NOTES).
    Q(
      "q520_cdf_checkpoint_restart",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val id = runId.incrementAndGet()
        val tmp = System.getProperty("java.io.tmpdir")
        val path = s"$tmp/graft_cdfr${tag}_$id"
        val out = s"$tmp/graft_cdfr_out${tag}_$id"
        graft.io.FsUtil.deleteRecursively(path)
        graft.io.FsUtil.deleteRecursively(out)
        // a 1-in-7 slice (odd ids included): restart exactness, not volume
        // (r15: a localCheckpoint staging here was measured 3.09s ->
        // 3.59-3.84s across 3 isolation runs and REVERTED — cheap-scan
        // upstream, same rationale as q519 above)
        val ev = Tables.load(s, dir, "events")
          .where(col("event_id") % 7 === 0)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 2 === 0), path)
        VersionedTable.append(ev.where(col("event_id") % 2 === 1), path)
        StreamGate.withScratch("graft_cdfr_ckpt") { case Seq(ckpt) =>
          def run(): Unit = StreamGate.run(
            s.readStream.format("graft-versioned")
              .option("readChangeFeed", "true").load(path)
              .writeStream.format("parquet").outputMode("append")
              .option("path", out), ckpt)
          run()
          val firstRows = s.read.parquet(out).count()
          VersionedTable.append(
            ev.where(col("event_type") === "view")
              .withColumn("cents", col("cents") + 7L), path)
          VersionedTable.deleteWhereDV(s, path,
            col("event_type") === "error")
          run()
          val sink = s.read.parquet(out)
          val restartOk =
            if (sink.count() > firstRows && firstRows > 0) 1L else 0L
          sink.groupBy("commit_version", "change", "event_type")
            .agg(count(lit(1)).cast("long").as("n"),
              sum("cents").as("sum_cents"))
            .select(col("commit_version"), col("change"),
              col("event_type"), col("n"), col("sum_cents"),
              lit(restartOk).as("restart_ok"))
            .orderBy("commit_version", "change", "event_type")
        }
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events WHERE event_id % 7 = 0)
             |SELECT CAST(1 AS BIGINT) AS commit_version,
             |  'added' AS change, event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(1 AS BIGINT) AS restart_ok
             |FROM ev WHERE event_id % 2 = 1 GROUP BY event_type
             |UNION ALL
             |SELECT 2, 'added', 'view', CAST(count(*) AS BIGINT),
             |  CAST(sum(cents + 7) AS BIGINT), 1
             |FROM ev WHERE event_type = 'view'
             |UNION ALL
             |SELECT 3, 'removed', 'error', CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT), 1
             |FROM ev WHERE event_type = 'error'
             |ORDER BY commit_version, change, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q521: MERGE WITH SCHEMA EVOLUTION. Slice A inserts under
    // (event_id, event_type, cents); the merge source carries a NEW
    // `origin` column (updated purchases + brand-new rows). With the
    // AUTOMATIC_SCHEMA_EVOLUTION capability, Spark's analyzer commits
    // the ADD COLUMN as its own METADATA-ONLY version (evo_meta_only=1
    // pins the file list unchanged across it) and the row-level
    // rewrite then materializes `origin` for touched rows while
    // untouched rows null-fill; the PRE-evolution snapshot keeps its
    // 3-column schema (old_schema_ok). Oracle replays insert + merge.
    Q(
      "q521_merge_schema_evolution",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val cat = s"gsql95$tag"
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh95$tag"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val path = s"$wh/t521"
        graft.io.FsUtil.deleteRecursively(path)
        val src = s"graft_q521_src_$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        ev.createOrReplaceTempView(src)
        s.sql(s"CREATE TABLE $cat.t521 " +
          "(event_id BIGINT, event_type STRING, cents BIGINT)")
        s.sql(s"INSERT INTO $cat.t521 SELECT * FROM $src " +
          "WHERE event_id % 2 = 0")
        val vIns = VersionedTable.latestVersion(path)
        val before = VersionedTable.manifestFiles(path, vIns)
        // merge source: matched purchases get +5 cents and an origin;
        // odd view events arrive as brand-new rows with an origin
        val upd = s"graft_q521_upd_$tag"
        s.sql(
          s"""SELECT event_id, event_type, cents + 5 AS cents,
             |  'crawl2' AS origin
             |FROM $src WHERE event_type = 'purchase' AND event_id % 2 = 0
             |UNION ALL
             |SELECT event_id, event_type, cents, 'crawl3' AS origin
             |FROM $src WHERE event_type = 'view' AND event_id % 2 = 1"""
            .stripMargin).createOrReplaceTempView(upd)
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t521 t
             |USING $upd u ON t.event_id = u.event_id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val vAfter = VersionedTable.latestVersion(path)
        // the evolution landed as its own metadata-only commit between
        // the insert and the rewrite: same file list, 4-column schema
        val evoMetaOnly =
          if (vAfter == vIns + 2 &&
            VersionedTable.manifestFiles(path, vIns + 1) == before &&
            VersionedTable.readVersion(s, path, vIns + 1)
              .columns.length == 4) 1L
          else 0L
        val oldSchemaOk =
          if (s.sql(s"SELECT * FROM $cat.t521 VERSION AS OF $vIns")
            .columns.toSeq ==
            Seq("event_id", "event_type", "cents")) 1L
          else 0L
        s.sql(
          s"""SELECT coalesce(origin, 'legacy') AS origin, event_type,
             |  count(*) AS n, sum(cents) AS sum_cents
             |FROM $cat.t521 GROUP BY 1, 2""".stripMargin)
          .select(col("origin"), col("event_type"), col("n"),
            col("sum_cents"),
            lit(evoMetaOnly).as("evo_meta_only"),
            lit(oldSchemaOk).as("old_schema_ok"))
          .orderBy("origin", "event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |merged AS (
             |  SELECT event_id, event_type, cents + 5 AS cents,
             |    'crawl2' AS origin
             |  FROM ev WHERE event_type = 'purchase' AND event_id % 2 = 0
             |  UNION ALL
             |  SELECT event_id, event_type, cents, 'crawl3' AS origin
             |  FROM ev WHERE event_type = 'view' AND event_id % 2 = 1
             |  UNION ALL
             |  SELECT event_id, event_type, cents, NULL AS origin
             |  FROM ev WHERE event_id % 2 = 0
             |    AND event_type <> 'purchase')
             |SELECT coalesce(origin, 'legacy') AS origin, event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(1 AS BIGINT) AS evo_meta_only,
             |  CAST(1 AS BIGINT) AS old_schema_ok
             |FROM merged GROUP BY 1, 2
             |ORDER BY origin, event_type""".stripMargin))
  )
}
