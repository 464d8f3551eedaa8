package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.VersionedTable
import graft.streaming.StreamGate

/** Round-11 first wave — the storage-layer upgrades the r10 verdict
  * directed, each gated on BOTH logical correctness (DuckDB oracle
  * replay) and the PHYSICAL claim that makes it worth shipping (file
  * counts in the gated row, the q473 discipline):
  *
  *  - q475 DELETION VECTORS: a selective delete that writes NO data
  *    file — only a (file, row-position) tombstone sidecar + manifest —
  *    while reads stay row-identical to the copy-on-write result. The
  *    GDPR point-delete shape: at 100 TB copy-on-write rewrites GBs per
  *    deleted row; a vector writes bytes.
  *  - q476 CLUSTERING-PRESERVING OPTIMIZE: compaction that
  *    range-clusters on a zone column and persists per-file [min, max]
  *    INTO THE VERSION MANIFEST, so zone-map file skipping and version
  *    history finally compose (r10 shipped them as separate layouts
  *    with separate manifests).
  *  - q477 EXACTLY-ONCE STREAMING APPEND into the versioned table: the
  *    q467 foreachBatch batch-id discipline applied to
  *    `VersionedTable.appendIdempotent` — the manifest line is the
  *    commit marker, redelivered batch ids are certified no-ops by an
  *    in-query replay drill.
  */
object ExtensionQueries85 {

  private val vsaRunId = new AtomicInteger(0)

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q475: MERGE-ON-READ DELETE via deletion vectors. v0 is a 4-file
    // events slice; deleteWhereDV tombstones every 'error' row. The
    // gated row pins the physical contract: v1's DATA file list is
    // BYTE-IDENTICAL to v0's (data_files_same = 1 — no copy-on-write
    // rewrite happened), a vector sidecar exists only at v1, and the
    // logical rows equal the oracle's plain filter. Time travel still
    // serves v0 complete (first output row).
    Q(
      "q475_versioned_delete_vectors",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_vdv$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.repartition(4), path)
        VersionedTable.deleteWhereDV(s, path, col("event_type") === "error")
        val f0 = VersionedTable.manifestFiles(path, 0)
        val f1 = VersionedTable.manifestFiles(path, 1)
        val sameData = if (f0.sorted == f1.sorted) 1L else 0L
        def snap(v: Int) = {
          val nDv = VersionedTable.manifestDvFiles(path, v).length
          VersionedTable.readVersion(s, path, v)
            .agg(count(lit(1)).cast("long").as("n_rows"),
              sum("cents").as("sum_cents"),
              sum(when(col("event_type") === "error", 1L).otherwise(0L))
                .as("n_err"))
            .select(lit(v.toLong).as("version"),
              lit(VersionedTable.manifestFiles(path, v).length.toLong)
                .as("n_data_files"),
              lit(sameData).as("data_files_same"),
              lit(if (nDv > 0) 1L else 0L).as("dv_present"),
              col("n_rows"), col("sum_cents"), col("n_err"))
        }
        snap(0).unionByName(snap(1)).orderBy("version")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT CAST(0 AS BIGINT) AS version,
             |  CAST(4 AS BIGINT) AS n_data_files,
             |  CAST(1 AS BIGINT) AS data_files_same,
             |  CAST(0 AS BIGINT) AS dv_present,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_err
             |FROM ev
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), CAST(4 AS BIGINT),
             |  CAST(1 AS BIGINT), CAST(1 AS BIGINT),
             |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
             |  CAST(0 AS BIGINT)
             |FROM ev WHERE event_type <> 'error'
             |ORDER BY version""".stripMargin)),

    // ------------------------------------------------------------------
    // q476: CLUSTERING-PRESERVING OPTIMIZE + manifest zone stats. Three
    // fragmenting commits (10 files, arrival order — no clustering),
    // then compactClustered(8, bucket) rewrites v3 range-clustered with
    // per-file [min, max] persisted in the manifest. The band probe
    // [300, 700) over bucket = event_id % 1000 (uniform) must open only
    // the intersecting files: files_opened is IN the gated row (4 of 8
    // — deterministic: the range partitioner's sampling is seeded, the
    // fixture is fixed), alongside the band rows' logical aggregate,
    // so a compaction that silently stopped clustering OR a stats pass
    // that stopped pruning fails the hash, not just a spec.
    Q(
      "q476_versioned_clustered_compact",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_vcc$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), (col("event_id") % 1000).as("bucket"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 3 === 0)
          .repartition(4), path)
        VersionedTable.append(ev.where(col("event_id") % 3 === 1)
          .repartition(3), path)
        VersionedTable.append(ev.where(col("event_id") % 3 === 2)
          .repartition(3), path)
        VersionedTable.compactClustered(s, path, 8, "bucket")
        val (open, total) = VersionedTable.bandFiles(path, 3, "bucket",
          300.0, 700.0)
        VersionedTable.readVersionBand(s, path, 3, "bucket", 300.0, 700.0)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum("cents").as("sum_cents"),
            min("bucket").as("min_bucket"), max("bucket").as("max_bucket"))
          .select(lit(open.length.toLong).as("files_opened"),
            lit(total.toLong).as("files_total"),
            col("n_rows"), col("sum_cents"),
            col("min_bucket"), col("max_bucket"))
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_id % 1000 AS bucket,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT CAST(4 AS BIGINT) AS files_opened,
             |  CAST(8 AS BIGINT) AS files_total,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(min(bucket) AS BIGINT) AS min_bucket,
             |  CAST(max(bucket) AS BIGINT) AS max_bucket
             |FROM ev WHERE bucket >= 300 AND bucket < 700""".stripMargin)),

    // ------------------------------------------------------------------
    // q477: EXACTLY-ONCE STREAMING APPEND into the versioned table. A
    // real AvailableNow file stream delivers three delta files through
    // foreachBatch -> VersionedTable.appendIdempotent (the batch id
    // rides in the manifest — one atomic create-exclusive commits both
    // the files and the idempotence record). After termination the
    // query REPLAYS every committed batch id (foreachBatch is
    // at-least-once: that replay is exactly what a crash between sink
    // write and checkpoint commit produces) and pins that each was a
    // no-op: no new version, appendIdempotent returned false. The
    // logical gate: the final snapshot equals the full source, per
    // event_type.
    Q(
      "q477_versioned_streaming_append",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val id = vsaRunId.incrementAndGet()
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_vsa${tag}_$id"
        val replayNoop =
          StreamGate.withScratch("graft_vsa_delta", "graft_vsa_ckpt") {
            case Seq(deltaDir, ckptDir) =>
              val ev = Tables.load(s, dir, "events")
                .select(col("event_id"), col("event_type"),
                  floor(col("value") * 100 + 0.5).cast("long").as("cents"))
              VersionedTable.init(ev.where(col("event_id") % 4 === 0), path)
              val delta = ev.where(col("event_id") % 4 =!= 0)
              delta.repartition(3).write.mode("overwrite")
                .parquet(deltaDir.toString)
              val apply = (df: DataFrame, batchId: Long) => {
                VersionedTable.appendIdempotent(df, path, batchId); ()
              }
              StreamGate.run(s.readStream.schema(delta.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(deltaDir.toString)
                .writeStream
                .foreachBatch(apply), ckptDir)
              // at-least-once redelivery drill: replay every committed
              // batch id — each must refuse (false) and mint no version
              val vBefore = VersionedTable.latestVersion(path)
              val refused = VersionedTable.appliedBatches(path).toSeq
                .map(b => !VersionedTable.appendIdempotent(delta, path, b))
              val vAfter = VersionedTable.latestVersion(path)
              if (refused.nonEmpty && refused.forall(identity) &&
                vBefore == vAfter) 1L
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
             |  SELECT event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(3 AS BIGINT) AS n_batches,
             |  CAST(1 AS BIGINT) AS replay_noop
             |FROM ev
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)))
}
