package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.VersionedTable
import graft.streaming.StreamGate

/** Round-13 first wave — the r12 verdict's top two items:
  *
  *  - q509 DELTA-LOG MANIFESTS: commit cost is O(delta), not
  *    O(table-files) — an append to a 40-file table writes a manifest
  *    a fraction of the checkpoint's size, `commitChanges` surfaces a
  *    commit's actions without folding, time travel still reads every
  *    version, and vacuum materializes the fold base before dropping
  *    ancestors.
  *  - q510 NATIVE STREAMING WRITE (`STREAMING_WRITE` capability):
  *    `writeStream.format("graft-versioned")` with no foreachBatch —
  *    a versioned-source → versioned-sink pipeline whose every epoch
  *    is one manifest version tagged with the epoch id, restart
  *    resumes from the checkpoint, and redelivery is a pinned no-op.
  */
object ExtensionQueries93 {

  private val runId = new AtomicLong(0L)

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q509: DELTA-LOG MANIFESTS. The table inits with 40 files (a v0
    // CHECKPOINT listing all of them with rc/nc metadata); one append
    // then commits v1 as a DELTA — pinned at 5x smaller than the
    // checkpoint (delta_small). commitChanges(v1) returns exactly the
    // appended files with no removals and no predecessor fold
    // (changes_ok); v0 stays time-travelable through the fold
    // (travel_ok computed before vacuum); vacuum(keep=1) then
    // materializes the kept tail and drops v0 (vacuum_ok: v1 still
    // reads, v0 refuses). At 100 TB this is the difference between an
    // append writing bytes and the driver rebuilding a million-line
    // file list per commit.
    Q(
      "q509_delta_log_manifests",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val id = runId.incrementAndGet()
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_dlog${tag}_$id"
        graft.io.FsUtil.deleteRecursively(path)
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val base = ev.where(col("event_id") % 4 =!= 3)
        VersionedTable.init(base.repartition(40), path)
        VersionedTable.append(
          ev.where(col("event_id") % 4 === 3).repartition(1), path)
        def bytes(v: Int) = java.nio.file.Files.size(
          java.nio.file.Paths.get(f"$path/_manifests/v$v%05d.txt"))
        val deltaSmall = if (bytes(1) * 5 < bytes(0)) 1L else 0L
        val (added, removed, dvChanged) =
          VersionedTable.commitChanges(path, 1)
        val changesOk =
          if (removed.isEmpty && !dvChanged &&
            VersionedTable.manifestFiles(path, 1).toSet ==
              (VersionedTable.manifestFiles(path, 0) ++ added).toSet) 1L
          else 0L
        val travelOk =
          if (VersionedTable.readVersion(s, path, 0).count() ==
            base.count()) 1L
          else 0L
        VersionedTable.vacuum(path, 1)
        val vacuumOk =
          if (!graft.io.TableFs.exists(s"$path/_manifests/v00000.txt") &&
            VersionedTable.latestVersion(path) == 1) 1L
          else 0L
        VersionedTable.read(s, path)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .select(col("event_type"), col("n"), col("sum_cents"),
            lit(deltaSmall).as("delta_small"),
            lit(changesOk).as("changes_ok"),
            lit(travelOk).as("travel_ok"),
            lit(vacuumOk).as("vacuum_ok"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(1 AS BIGINT) AS delta_small,
             |  CAST(1 AS BIGINT) AS changes_ok,
             |  CAST(1 AS BIGINT) AS travel_ok,
             |  CAST(1 AS BIGINT) AS vacuum_ok
             |FROM ev
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q510: NATIVE STREAMING WRITE. The source table carries an init +
    // three appends; the stream reads it with maxVersionsPerTrigger=2
    // (so the backlog paces into >= 2 epochs) and writes STRAIGHT into
    // a second versioned table via writeStream.format — no foreachBatch
    // anywhere. Every epoch is one manifest version carrying the epoch
    // id as its #batch tag (n_batches pins the pacing). A SECOND run on
    // the same checkpoint with no new source commits mints NO new
    // version (restart_noop); a third run after two more source
    // appends resumes incrementally. The redelivery drill replays
    // every committed epoch id through the sink's own idempotence
    // surface — each refuses, no version minted (replay_noop), the
    // q477 contract with the sink native.
    Q(
      "q510_native_streaming_sink",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val id = runId.incrementAndGet()
        val tmp = System.getProperty("java.io.tmpdir")
        val src = s"$tmp/graft_nss_src${tag}_$id"
        val dst = s"$tmp/graft_nss_dst${tag}_$id"
        graft.io.FsUtil.deleteRecursively(src)
        graft.io.FsUtil.deleteRecursively(dst)
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 6 === 0), src)
        (1 to 3).foreach(i => VersionedTable.append(
          ev.where(col("event_id") % 6 === i), src))
        // repartition(1) forces one schema-bearing part file (a
        // zero-partition empty frame would write none)
        VersionedTable.init(ev.limit(0).repartition(1), dst)
        StreamGate.withScratch("graft_nss_ckpt") { case Seq(ckpt) =>
          def run(): Unit = StreamGate.run(
            s.readStream.format("graft-versioned")
              .option("maxVersionsPerTrigger", 2).load(src)
              .writeStream.format("graft-versioned")
              .option("path", dst), ckpt)
          run()
          val paced = VersionedTable.appliedBatches(dst).size
          val vAfter1 = VersionedTable.latestVersion(dst)
          // restart with nothing new: no version minted
          run()
          val restartNoop =
            if (VersionedTable.latestVersion(dst) == vAfter1) 1L else 0L
          // two more source commits, resume incrementally
          (4 to 5).foreach(i => VersionedTable.append(
            ev.where(col("event_id") % 6 === i), src))
          run()
          // redelivery drill: every committed epoch refuses a replay
          val vBefore = VersionedTable.latestVersion(dst)
          val refused = VersionedTable.appliedBatches(dst).toSeq.map(b =>
            !VersionedTable.appendIdempotent(ev.limit(1), dst, b))
          val replayNoop =
            if (refused.nonEmpty && refused.forall(identity) &&
              VersionedTable.latestVersion(dst) == vBefore) 1L
            else 0L
          VersionedTable.read(s, dst)
            .groupBy("event_type")
            .agg(count(lit(1)).cast("long").as("n"),
              sum("cents").as("sum_cents"))
            .select(col("event_type"), col("n"), col("sum_cents"),
              lit(if (paced >= 2) 1L else 0L).as("paced"),
              lit(restartNoop).as("restart_noop"),
              lit(replayNoop).as("replay_noop"))
            .orderBy("event_type")
        }
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(1 AS BIGINT) AS paced,
             |  CAST(1 AS BIGINT) AS restart_noop,
             |  CAST(1 AS BIGINT) AS replay_noop
             |FROM ev
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q511: STREAMING CHANGE FEED. readStream + readChangeFeed=true
    // serves PER-COMMIT row diffs as micro-batches: the append commit
    // arrives 'added' (its files, scan-only), the deletion-vector
    // commit arrives as the EXACT 'removed' rows (a storage-order
    // position scan of this commit's tombstones — no join, no state).
    // ONE streaming run serving v1+v2, pinned row-exact by the oracle.
    // Copy-on-write commits refuse by design unless the table opted
    // into write-time CDC sidecars (q515) — Delta's streaming-CDF
    // stance; batch readChangeFeed handles any shape. This pipeline
    // uses append+DV shapes, the 100 TB streaming-GDPR pattern.
    // r13 verdict #5 split: the checkpoint-RESTART drill is q520, the
    // batch-CDF algebra over the same DV shapes is q519 — each leg of
    // the former 9s composite now reads on its own line.
    Q(
      "q511_streaming_change_feed",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val id = runId.incrementAndGet()
        val tmp = System.getProperty("java.io.tmpdir")
        val path = s"$tmp/graft_scdf${tag}_$id"
        val out = s"$tmp/graft_scdf_out${tag}_$id"
        graft.io.FsUtil.deleteRecursively(path)
        graft.io.FsUtil.deleteRecursively(out)
        // a 1-in-5 slice: the gate's value is the per-commit diff
        // algebra, not sink volume — the full-table shape is q498's
        // (batch); restart is q520, batch-vs-stream algebra is q519
        val ev = Tables.load(s, dir, "events")
          .where(col("event_id") % 5 === 0)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 2 === 0), path)
        VersionedTable.append(ev.where(col("event_id") % 2 === 1), path)
        VersionedTable.deleteWhereDV(s, path,
          col("event_type") === "error")
        StreamGate.withScratch("graft_scdf_ckpt") { case Seq(ckpt) =>
          StreamGate.run(s.readStream.format("graft-versioned")
            .option("readChangeFeed", "true").load(path)
            .writeStream.format("parquet").outputMode("append")
            .option("path", out), ckpt)
        }
        s.read.parquet(out)
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
             |ORDER BY commit_version, change, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q512: MERGE-ON-READ SQL UPDATE (SupportsDelta / WriteDelta). With
    // spark.graft.rowLevel.mode=merge-on-read, a banded UPDATE on a
    // range-clustered table writes TOMBSTONES + the replaced band's new
    // rows — every pre-update data file survives in the new manifest
    // (data_files_same=1: write bytes ∝ changed rows, the Delta-3.x DV
    // shape; the default group-CoW rewrites whole files, pinned by
    // q504), their clustering stats stay valid, the pre-image is one
    // VERSION AS OF away (pre_sum), and OPTIMIZE folds the vectors in
    // (folded=1: no dvs after compaction, totals unchanged). Oracle
    // replays the post-update table.
    Q(
      "q512_mor_sql_update",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val cat = s"gmor$tag"
        val wh = s"${System.getProperty("java.io.tmpdir")}/graft_morwh$tag"
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val path = s"$wh/t512"
        graft.io.FsUtil.deleteRecursively(path)
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"),
            (col("event_id") % 100).as("bucket"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.repartition(4), path)
        VersionedTable.compactClustered(s, path, 8, "bucket")
        val v0 = VersionedTable.latestVersion(path)
        val before = VersionedTable.manifestFiles(path, v0)
        s.conf.set("spark.graft.rowLevel.mode", "merge-on-read")
        try
          s.sql(s"UPDATE $cat.t512 SET cents = cents + 1000000 " +
            "WHERE bucket = 7")
        finally s.conf.unset("spark.graft.rowLevel.mode")
        val v1 = VersionedTable.latestVersion(path)
        val m = VersionedTable.readManifest(path, v1)
        val dataFilesSame =
          if (before.forall(m.data.contains) && m.dvs.nonEmpty &&
            v1 == v0 + 1) 1L
          else 0L
        val preSum = s.sql(
          s"SELECT sum(cents) FROM $cat.t512 VERSION AS OF $v0")
          .head().getLong(0)
        val postSum = s.sql(s"SELECT sum(cents) FROM $cat.t512")
          .head().getLong(0)
        VersionedTable.compact(s, path, 4)
        val mOpt = VersionedTable.readManifest(path,
          VersionedTable.latestVersion(path))
        val folded =
          if (mOpt.dvs.isEmpty &&
            s.sql(s"SELECT sum(cents) FROM $cat.t512")
              .head().getLong(0) == postSum) 1L
          else 0L
        s.sql(
          s"""SELECT CAST(bucket % 10 AS BIGINT) AS bd,
             |  count(*) AS n, sum(cents) AS sum_cents
             |FROM $cat.t512 GROUP BY 1""".stripMargin)
          .select(col("bd"), col("n"), col("sum_cents"),
            lit(dataFilesSame).as("data_files_same"),
            lit(if (postSum > preSum) 1L else 0L).as("pre_image_ok"),
            lit(folded).as("folded"))
          .orderBy("bd")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_id % 100 AS bucket,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |upd AS (
             |  SELECT bucket,
             |    CASE WHEN bucket = 7 THEN cents + 1000000 ELSE cents
             |    END AS cents
             |  FROM ev)
             |SELECT CAST(bucket % 10 AS BIGINT) AS bd,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(1 AS BIGINT) AS data_files_same,
             |  CAST(1 AS BIGINT) AS pre_image_ok,
             |  CAST(1 AS BIGINT) AS folded
             |FROM upd GROUP BY 1
             |ORDER BY bd""".stripMargin)))
}
