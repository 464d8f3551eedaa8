package graft.queries

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.VersionedTable
import graft.streaming.StreamGate

/** Round-12 first wave — SQL row-level DML through the catalog (the
  * r11 verdict's top item): q503 DELETE FROM on the deletion-vector
  * metadata path with the merge-on-read SELECT that follows; q504
  * UPDATE + MERGE INTO through the group-based copy-on-write rewrite,
  * with the carried-files pin proving only the touched band rewrote.
  */
object ExtensionQueries92 {

  private def catalogFor(s: org.apache.spark.sql.SparkSession,
                         tag: String): (String, String) = {
    val cat = s"gsql$tag"
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_sqlwh$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q503: SQL DELETE, METADATA PATH. A translatable predicate routes
    // through SupportsDeleteV2 (Catalyst's metadata-only delete
    // optimization) to a DELETION-VECTOR commit: the manifest's data
    // file list is UNCHANGED and a tombstone sidecar appears — at
    // 100 TB the point-delete writes bytes, not rewritten gigabytes.
    // The SELECT that follows serves through the merge-on-read scan
    // (GraftDvAwareScan — r11 refused DV snapshots outright), and time
    // travel still sees the pre-delete state. Pins: dv_path (files
    // unchanged + vector present), mor_scan (the planned scan class),
    // pre-delete row count via VERSION AS OF.
    Q(
      "q503_sql_delete_dv",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val (cat, wh) = catalogFor(s, tag)
        val path = s"$wh/t503"
        graft.io.FsUtil.deleteRecursively(path)
        VersionedTable.init(
          Tables.load(s, dir, "events")
            .select(col("event_id"),
              (col("event_id") % 100).as("bucket"),
              floor(col("value") * 100 + 0.5).cast("long").as("cents"))
            .repartition(4), path)
        val v0 = VersionedTable.latestVersion(path)
        val filesBefore = VersionedTable.manifestFiles(path, v0)
        s.sql(s"DELETE FROM $cat.t503 WHERE bucket >= 10 AND bucket <= 19")
        val v1 = VersionedTable.latestVersion(path)
        val m = VersionedTable.readManifest(path, v1)
        val dvPath =
          if (m.dvs.nonEmpty && m.data == filesBefore && v1 == v0 + 1) 1L
          else 0L
        val q = s.sql(
          s"""SELECT CAST(floor(bucket / 10) AS BIGINT) AS dec,
             |  count(*) AS n, sum(cents) AS s
             |FROM $cat.t503 GROUP BY 1""".stripMargin)
        val morScan = q.queryExecution.sparkPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b.scan.getClass.getSimpleName
        }.getOrElse("none")
        val preRows = s.sql(
          s"SELECT count(*) AS n FROM $cat.t503 VERSION AS OF $v0")
          .head().getLong(0)
        q.select(col("dec"), col("n"), col("s"),
          lit(dvPath).as("dv_path"),
          lit(if (morScan == "GraftDvAwareScan") 1L else 0L)
            .as("mor_scan"),
          lit(preRows).as("pre_rows"))
          .orderBy("dec")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_id % 100 AS bucket,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |kept AS (SELECT * FROM ev WHERE bucket < 10 OR bucket > 19)
             |SELECT CAST(floor(bucket / 10) AS BIGINT) AS dec,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS s,
             |  CAST(1 AS BIGINT) AS dv_path,
             |  CAST(1 AS BIGINT) AS mor_scan,
             |  (SELECT CAST(count(*) AS BIGINT) FROM ev) AS pre_rows
             |FROM kept GROUP BY 1
             |ORDER BY dec""".stripMargin)),

    // ------------------------------------------------------------------
    // q504: SQL UPDATE + MERGE INTO, GROUP-BASED CoW. The row-level
    // scan prunes the file list with the command condition (band
    // stats), so `UPDATE ... WHERE bucket < 20` on a range-clustered
    // table rewrites ONE BAND and carries the rest by reference — the
    // carried_ok pin counts surviving manifest entries. MERGE then
    // updates matched keys and inserts unmatched ones in a single
    // manifest version. Everything from SQL; oracle recomputes the
    // final table in DuckDB.
    Q(
      "q504_sql_update_merge",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val (cat, wh) = catalogFor(s, tag)
        val path = s"$wh/t504"
        graft.io.FsUtil.deleteRecursively(path)
        VersionedTable.init(
          Tables.load(s, dir, "events")
            .select(col("event_id"),
              (col("event_id") % 100).as("bucket"),
              floor(col("value") * 100 + 0.5).cast("long").as("cents"))
            .repartition(4), path)
        VersionedTable.compactClustered(s, path, 8, "bucket")
        val v0 = VersionedTable.latestVersion(path)
        val before = VersionedTable.manifestFiles(path, v0)
        s.sql(s"UPDATE $cat.t504 SET cents = cents + 1000000 " +
          "WHERE bucket < 20")
        val v1 = VersionedTable.latestVersion(path)
        val carried = VersionedTable.manifestFiles(path, v1)
          .toSet.intersect(before.toSet).size
        // 8 clustered files over bucket 0..99: a 20-wide band touches
        // 1-3 of them; at least half the table must carry by reference
        val carriedOk = if (carried >= 4 && carried < 8) 1L else 0L
        import s.implicits._
        Tables.load(s, dir, "events")
          .select(col("event_id"),
            (col("event_id") % 100).as("bucket"))
          .where(col("bucket") === 50)
          .select(col("event_id"), lit(0L).as("new_cents"))
          .unionByName(Seq(-1L, -2L, -3L).toDF("event_id")
            .select(col("event_id"), lit(5L).as("new_cents")))
          .createOrReplaceTempView(s"q504_src$tag")
        s.sql(
          s"""MERGE INTO $cat.t504 t USING q504_src$tag r
             |ON t.event_id = r.event_id
             |WHEN MATCHED THEN UPDATE SET cents = r.new_cents
             |WHEN NOT MATCHED THEN
             |  INSERT (event_id, bucket, cents)
             |  VALUES (r.event_id, 999, r.new_cents)
             |""".stripMargin)
        val oneVersionEach =
          if (VersionedTable.latestVersion(path) == v0 + 2) 1L else 0L
        s.sql(
          s"""SELECT CASE WHEN bucket < 20 THEN 0
             |            WHEN bucket = 50 THEN 1
             |            WHEN bucket = 999 THEN 2
             |            ELSE 3 END AS band,
             |  count(*) AS n, sum(cents) AS s
             |FROM $cat.t504 GROUP BY 1""".stripMargin)
          .select(col("band").cast("long").as("band"), col("n"),
            col("s"), lit(carriedOk).as("carried_ok"),
            lit(oneVersionEach).as("one_version_each"))
          .orderBy("band")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_id % 100 AS bucket,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |updated AS (
             |  SELECT event_id, bucket,
             |    CASE WHEN bucket = 50 THEN 0
             |         WHEN bucket < 20 THEN cents + 1000000
             |         ELSE cents END AS cents
             |  FROM ev),
             |final AS (
             |  SELECT * FROM updated
             |  UNION ALL
             |  SELECT v.i, 999, 5 FROM (VALUES (-1), (-2), (-3)) v(i))
             |SELECT CAST(CASE WHEN bucket < 20 THEN 0
             |            WHEN bucket = 50 THEN 1
             |            WHEN bucket = 999 THEN 2
             |            ELSE 3 END AS BIGINT) AS band,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS s,
             |  CAST(1 AS BIGINT) AS carried_ok,
             |  CAST(1 AS BIGINT) AS one_version_each
             |FROM final GROUP BY 1
             |ORDER BY band""".stripMargin)),

    // ------------------------------------------------------------------
    // q505: STREAM ADMISSION CONTROL (DSv2 MicroBatchStream). The
    // versioned-table stream now rides the public connector API with
    // rate limiting: a standing 3-version backlog under
    // maxVersionsPerTrigger=1 catches up in THREE batches instead of
    // one giant first batch (paced_ok pins applied-batch count), the
    // progress log proves the DSv2 stream served it (dsv2_engaged),
    // and a commit made while the stream is DOWN arrives alone after
    // the checkpoint restart (the q492 exactly-once discipline, now
    // rate-limited). Oracle = the full source table.
    Q(
      "q505_stream_admission",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val tmp = System.getProperty("java.io.tmpdir")
        val src = s"$tmp/graft_adm_src$tag"
        val dst = s"$tmp/graft_adm_dst$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 4 === 0), src)
        VersionedTable.append(ev.where(col("event_id") % 4 === 1), src)
        VersionedTable.append(ev.where(col("event_id") % 4 === 2), src)
        VersionedTable.init(ev.limit(0), dst)
        val (pacedOk, dsv2) =
          StreamGate.withScratch("graft_adm_ckpt") { case Seq(ckpt) =>
            def runOnce(): String = StreamGate.run(
              s.readStream.format("graft-versioned")
                .option("maxVersionsPerTrigger", "1").load(src)
                .writeStream
                .foreachBatch((df: org.apache.spark.sql.DataFrame,
                               bid: Long) => {
                  VersionedTable.appendIdempotent(df, dst, bid); ()
                }), ckpt)
              .recentProgress.flatMap(_.sources.map(_.description))
              .mkString("\n")
            val descr = runOnce() // 3 backlog versions, 1 per batch
            val afterCatchup = VersionedTable.appliedBatches(dst).size
            VersionedTable.append(ev.where(col("event_id") % 4 === 3), src)
            runOnce() // only the while-down commit
            val afterResume = VersionedTable.appliedBatches(dst).size
            (if (afterCatchup == 3 && afterResume == 4) 1L else 0L,
              if (descr.contains("GraftVersionedMicroBatchStream")) 1L
              else 0L)
          }
        VersionedTable.read(s, dst)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .select(col("event_type"), col("n"), col("sum_cents"),
            lit(pacedOk).as("paced_ok"), lit(dsv2).as("dsv2_engaged"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(1 AS BIGINT) AS paced_ok,
             |  CAST(1 AS BIGINT) AS dsv2_engaged
             |FROM ev
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q506: WRITE-SIDE CLUSTERING. df.write with clusterBy declares
    // RequiresDistributionAndOrdering on a TRUE DSv2 batch write, so
    // Catalyst range-partitions + sorts the batch before the files
    // land, and the commit records each file's [min, max] straight
    // from its parquet FOOTER (zero extra scan). Result: both the
    // initial load AND a later append are band-prunable IMMEDIATELY —
    // no OPTIMIZE between ingest and pruned serving (at 100 TB that
    // deletes the second full pass every fresh corpus used to need).
    // Pins: all files statted, band probe opens a strict fraction,
    // the DSv2 SELECT's planned file count agrees.
    Q(
      "q506_write_side_clustering",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_wcluster$tag"
        graft.io.FsUtil.deleteRecursively(path)
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"),
            (col("event_id") % 100).as("bucket"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        ev.where(col("event_id") % 2 === 0)
          .repartition(4) // deliberately scrambled input
          .write.format("graft-versioned")
          .option("clusterBy", "bucket")
          .option("clusterPartitions", "6")
          .mode("overwrite").save(path)
        ev.where(col("event_id") % 2 === 1)
          .repartition(4)
          .write.format("graft-versioned")
          .option("clusterBy", "bucket")
          .option("clusterPartitions", "6")
          .mode("append").save(path)
        val v = VersionedTable.latestVersion(path)
        val m = VersionedTable.readManifest(path, v)
        val allStatted =
          if (m.data.nonEmpty && m.data.forall(r =>
            m.stats.get(r).exists(_.contains("bucket")))) 1L
          else 0L
        val (open, total) = VersionedTable.bandFiles(path, v, "bucket",
          20, 40)
        val pruned = if (open.length < total && open.nonEmpty) 1L else 0L
        val q = s.read.format("graft-versioned").load(path)
          .where(col("bucket") >= 20 && col("bucket") < 40)
          .groupBy((col("bucket") % 4).as("g"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("s2"))
        val planned = q.queryExecution.sparkPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec =>
            b.scan.asInstanceOf[graft.sources.GraftVersionedFileScan]
              .fileIndex.inputFiles.length
        }.getOrElse(-1)
        q.select(col("g"), col("n"), col("s2"),
          lit(allStatted).as("all_statted"),
          lit(pruned).as("band_pruned"),
          lit(if (planned == open.length) 1L else 0L)
            .as("plan_agrees"))
          .orderBy("g")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_id % 100 AS bucket,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT bucket % 4 AS g, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS s2,
             |  CAST(1 AS BIGINT) AS all_statted,
             |  CAST(1 AS BIGINT) AS band_pruned,
             |  CAST(1 AS BIGINT) AS plan_agrees
             |FROM ev WHERE bucket >= 20 AND bucket < 40
             |GROUP BY 1
             |ORDER BY g""".stripMargin)),

    // ------------------------------------------------------------------
    // q507: CHANGE FEED THROUGH READ OPTIONS. CDC consumers stay in
    // spark.read (readChangeFeed=true + startingVersion/endingVersion)
    // instead of calling the library: the extension rule substitutes
    // the per-commit multiset-diff plan for the relation during
    // analysis (the Delta CDF shape). Same commit script as q498 —
    // append 'added', CoW delete 'removed' (rewritten survivors
    // cancel), MERGE old-'removed' + new-'added' per matched key —
    // but read back through options, with leg 1 proving the
    // startingVersion range serves ONLY the merge commit.
    Q(
      "q507_change_feed_options",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_cdfopt$tag"
        graft.io.FsUtil.deleteRecursively(path)
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 2 === 0), path)
        VersionedTable.append(ev.where(col("event_id") % 2 === 1), path)
        VersionedTable.deleteWhere(s, path, col("event_type") === "error")
        VersionedTable.merge(s, path,
          ev.where(col("event_type") === "purchase")
            .withColumn("cents", col("cents") + 5L),
          Seq("event_id"))
        val latest = VersionedTable.latestVersion(path)
        val full = s.read.format("graft-versioned")
          .option("readChangeFeed", "true").load(path)
          .groupBy("commit_version", "change", "event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .select(lit(0L).as("leg"), col("commit_version"),
            col("change"), col("event_type"), col("n"), col("sum_cents"))
        val rangeOnly = s.read.format("graft-versioned")
          .option("readChangeFeed", "true")
          .option("startingVersion", latest.toString)
          .option("endingVersion", latest.toString).load(path)
          .groupBy("commit_version", "change", "event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .select(lit(1L).as("leg"), col("commit_version"),
            col("change"), col("event_type"), col("n"), col("sum_cents"))
        full.unionByName(rangeOnly)
          .orderBy("leg", "commit_version", "change", "event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |feed AS (
             |  SELECT CAST(1 AS BIGINT) AS commit_version,
             |    'added' AS change, event_type,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(cents) AS BIGINT) AS sum_cents
             |  FROM ev WHERE event_id % 2 = 1 GROUP BY event_type
             |  UNION ALL
             |  SELECT 2, 'removed', event_type, CAST(count(*) AS BIGINT),
             |    CAST(sum(cents) AS BIGINT)
             |  FROM ev WHERE event_type = 'error' GROUP BY event_type
             |  UNION ALL
             |  SELECT 3, 'added', 'purchase', CAST(count(*) AS BIGINT),
             |    CAST(sum(cents + 5) AS BIGINT)
             |  FROM ev WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT 3, 'removed', 'purchase', CAST(count(*) AS BIGINT),
             |    CAST(sum(cents) AS BIGINT)
             |  FROM ev WHERE event_type = 'purchase')
             |SELECT CAST(0 AS BIGINT) AS leg, commit_version, change,
             |  event_type, n, sum_cents
             |FROM feed
             |UNION ALL
             |SELECT 1, commit_version, change, event_type, n, sum_cents
             |FROM feed WHERE commit_version = 3
             |ORDER BY leg, commit_version, change, event_type"""
        .stripMargin)),

    // ------------------------------------------------------------------
    // q508: OPTIMISTIC CONCURRENT APPENDS. Two appenders race from the
    // same base version: data lands in UNIQUE directories (never
    // version-coupled — no clobber is possible by construction), the
    // manifest commit is an atomic no-overwrite rename, and the loser
    // REBASES onto the winner — both succeed, serialized into
    // consecutive versions (the Delta retry discipline for the one
    // always-safe conflict class; at 100 TB this is "ingest pipelines
    // don't take a table lock"). SQL TRUNCATE then proves the DV
    // metadata path one more way: all rows gone, zero data files
    // written, and VERSION AS OF still serves the pre-truncate state.
    Q(
      "q508_concurrent_appends",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_concwh$tag"
        val cat = s"gconc$tag"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val path = s"$wh/t508"
        graft.io.FsUtil.deleteRecursively(path)
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 3 === 0), path)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val gate = new java.util.concurrent.CountDownLatch(1)
        val bothCommitted =
          try {
            val futures = Seq(1, 2).map { slice =>
              pool.submit(new java.util.concurrent.Callable[Int] {
                override def call(): Int = {
                  gate.await()
                  VersionedTable.appendConcurrent(
                    ev.where(col("event_id") % 3 === slice), path)
                }
              })
            }
            gate.countDown()
            val versions = futures
              .map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
              .sorted
            if (versions == Seq(1, 2)) 1L else 0L
          } finally pool.shutdownNow()
        val preTruncate = VersionedTable.latestVersion(path)
        val full = VersionedTable.read(s, path)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .select(lit(0L).as("leg"), col("event_type"), col("n"),
            col("sum_cents"))
        s.sql(s"TRUNCATE TABLE $cat.t508")
        val mAfter = VersionedTable.readManifest(path,
          VersionedTable.latestVersion(path))
        val truncDv =
          if (mAfter.dvs.nonEmpty &&
            mAfter.data == VersionedTable.manifestFiles(path, preTruncate) &&
            s.sql(s"SELECT count(*) FROM $cat.t508").head().getLong(0) == 0L)
            1L
          else 0L
        val preImage = s.sql(
          s"SELECT count(*) FROM $cat.t508 VERSION AS OF $preTruncate")
          .head().getLong(0)
        full
          .withColumn("both_committed", lit(bothCommitted))
          .withColumn("truncate_dv", lit(truncDv))
          .withColumn("pre_image_rows", lit(preImage))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT CAST(0 AS BIGINT) AS leg, event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(1 AS BIGINT) AS both_committed,
             |  CAST(1 AS BIGINT) AS truncate_dv,
             |  (SELECT CAST(count(*) AS BIGINT) FROM ev) AS pre_image_rows
             |FROM ev
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)))
}
