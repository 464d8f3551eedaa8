package graft.queries

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.VersionedTable
import graft.streaming.StreamGate

/** Round-11 fifth wave — manifest metadata drives the PLANNER, not
  * just the file listing: q490 pins that manifest file skipping feeds
  * join-strategy selection (a band-pruned versioned scan reports the
  * pruned size/EXACT row count through `SupportsReportStatistics`, so
  * it drops under the broadcast threshold while the full table stays
  * above), and q491 extends the metadata-only aggregate pushdown from
  * COUNT(*) to MIN/MAX answered from the per-file clustering stats —
  * zero data files opened for either.
  */
object ExtensionQueries89 {

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q490: FILE SKIPPING COMPOSES WITH JOIN PLANNING. The versioned
    // scan reports manifest-derived statistics (pruned-file bytes +
    // exact footer row counts), so Catalyst's broadcast decision sees
    // the PRUNED size: with the threshold set strictly between the
    // pruned band's measured plan size and the full table's, the same
    // join flips BroadcastHashJoin (leg 0, dim = 10% bucket band,
    // broadcast=1) vs SortMergeJoin (leg 1, dim = full table,
    // broadcast=0) — at 100 TB this is the difference between
    // shuffling the fact table and not. Join aggregates replay in the
    // oracle; the strategy pins are read off the static physical plan.
    Q(
      "q490_stats_join_strategy_flip",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_statflip$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"),
            (col("event_id") % 1000).as("bucket"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.repartition(4), path)
        VersionedTable.compactClustered(s, path, 8, "bucket")
        def dimOf(t: org.apache.spark.sql.DataFrame, full: Boolean) =
          (if (full) t else t.where(col("bucket") >= 300 &&
            col("bucket") < 400))
            .select(col("event_id").as("did"), col("bucket").as("dbucket"))
        // measure the two dim sides' PLANNED sizes and aim between them
        val t0 = s.read.format("graft-versioned").load(path)
        val szPruned =
          dimOf(t0, full = false).queryExecution.optimizedPlan
            .stats.sizeInBytes
        val szFull =
          dimOf(t0, full = true).queryExecution.optimizedPlan
            .stats.sizeInBytes
        require(szPruned < szFull,
          s"pruned side ($szPruned) not under full ($szFull)")
        val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold",
          ((szPruned + szFull) / 2).toString)
        try {
          def leg(full: Boolean, label: Long) = {
            val t = s.read.format("graft-versioned").load(path)
            val j = t.join(dimOf(t0, full), col("event_id") === col("did"))
              .agg(count(lit(1)).cast("long").as("n_rows"),
                sum("cents").as("sum_cents"),
                sum(col("dbucket")).as("sum_bucket"))
            val bhj = j.queryExecution.sparkPlan.collectFirst {
              case _: org.apache.spark.sql.execution.joins
                .BroadcastHashJoinExec => 1L
            }.getOrElse(0L)
            j.select(lit(label).as("leg"), lit(bhj).as("broadcast"),
              col("n_rows"), col("sum_cents"), col("sum_bucket"))
          }
          leg(full = false, 0L).unionByName(leg(full = true, 1L))
            .orderBy("leg")
        } finally
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      },
      Some("""WITH ev AS (
             |  SELECT event_id, event_id % 1000 AS bucket,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT CAST(0 AS BIGINT) AS leg,
             |  CAST(1 AS BIGINT) AS broadcast,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(sum(bucket) AS BIGINT) AS sum_bucket
             |FROM ev WHERE bucket >= 300 AND bucket < 400
             |UNION ALL
             |SELECT 1, CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
             |  CAST(sum(cents) AS BIGINT), CAST(sum(bucket) AS BIGINT)
             |FROM ev
             |ORDER BY leg""".stripMargin)),

    // ------------------------------------------------------------------
    // q491: METADATA-ONLY MIN/MAX. After a clustered OPTIMIZE, every
    // data file carries [min,max] stats for the zone column in the
    // manifest — so a group-free, filter-free MIN/MAX folds them with
    // ZERO data files opened (the planned scan is GraftMetadataAggScan,
    // pinned per leg in the gated rows). Leg 0: min+max of the statted
    // column. Leg 1: COUNT(*)+min+max mixed — footer counts and stats
    // answered together. Leg 2: min of an UNstatted column — falls back
    // to the real file scan (metadata_only=0) and still answers right.
    Q(
      "q491_metadata_minmax_pushdown",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_minmax$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"),
            (col("event_id") % 1000).as("bucket"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.repartition(4), path)
        VersionedTable.compactClustered(s, path, 6, "bucket")
        val view = s"graft_minmax_view$tag"
        s.read.format("graft-versioned").load(path)
          .createOrReplaceTempView(view)
        def leg(label: Long, sql: String, metadataClass: String) = {
          val q = s.sql(sql)
          val scanClass = q.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.scan.getClass.getSimpleName
          }.getOrElse(sys.error("no V2 scan planned"))
          q.select(lit(label).as("leg"), col("v1"), col("v2"), col("v3"),
            lit(if (scanClass == metadataClass) 1L else 0L)
              .as("metadata_only"))
        }
        leg(0L,
          s"SELECT min(bucket) AS v1, max(bucket) AS v2, " +
            s"CAST(0 AS BIGINT) AS v3 FROM $view",
          "GraftMetadataAggScan")
          .unionByName(leg(1L,
            s"SELECT count(*) AS v1, min(bucket) AS v2, " +
              s"max(bucket) AS v3 FROM $view",
            "GraftMetadataAggScan"))
          .unionByName(leg(2L,
            s"SELECT min(cents) AS v1, CAST(0 AS BIGINT) AS v2, " +
              s"CAST(0 AS BIGINT) AS v3 FROM $view",
            "GraftMetadataAggScan"))
          .orderBy("leg")
      },
      Some("""WITH ev AS (
             |  SELECT event_id % 1000 AS bucket,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events)
             |SELECT CAST(0 AS BIGINT) AS leg,
             |  CAST(min(bucket) AS BIGINT) AS v1,
             |  CAST(max(bucket) AS BIGINT) AS v2,
             |  CAST(0 AS BIGINT) AS v3,
             |  CAST(1 AS BIGINT) AS metadata_only
             |FROM ev
             |UNION ALL
             |SELECT 1, CAST(count(*) AS BIGINT),
             |  CAST(min(bucket) AS BIGINT), CAST(max(bucket) AS BIGINT),
             |  CAST(1 AS BIGINT)
             |FROM ev
             |UNION ALL
             |SELECT 2, CAST(min(cents) AS BIGINT), CAST(0 AS BIGINT),
             |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
             |FROM ev
             |ORDER BY leg""".stripMargin)),

    // ------------------------------------------------------------------
    // q492: STREAMING READ FROM THE VERSIONED TABLE — versions are
    // micro-batch offsets (readStream.format("graft-versioned")), the
    // other half of the q477/q485 streaming-in story: a committed
    // manifest version becomes change-feed input, and because each
    // batch's file list is a pure function of the manifest pair, the
    // feed composes with appendIdempotent into an end-to-end
    // EXACTLY-ONCE table-to-table pipeline. Run 1 streams the two
    // pre-stream commits into a result table (one AvailableNow batch);
    // a third commit lands while the stream is DOWN; run 2 resumes
    // from the same checkpoint and emits ONLY that commit (batch 2 of
    // 2, n_batches pins it). The redelivery drill replays every
    // committed sink batch id — all refused, no version minted
    // (replay_noop=1). Oracle = the full source table.
    Q(
      "q492_versioned_stream_source",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val tmp = System.getProperty("java.io.tmpdir")
        val src = s"$tmp/graft_vstream_src$tag"
        val dst = s"$tmp/graft_vstream_dst$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 3 === 0), src)
        VersionedTable.append(ev.where(col("event_id") % 3 === 1), src)
        VersionedTable.init(ev.limit(0), dst)
        val replayNoop =
          StreamGate.withScratch("graft_vstream_ckpt") { case Seq(ckpt) =>
            def runOnce(): Unit = StreamGate.run(
              s.readStream.format("graft-versioned").load(src)
                .writeStream
                .foreachBatch((df: org.apache.spark.sql.DataFrame,
                               bid: Long) => {
                  VersionedTable.appendIdempotent(df, dst, bid); ()
                }), ckpt)
            runOnce() // batch 0: the two pre-stream commits
            VersionedTable.append(ev.where(col("event_id") % 3 === 2), src)
            runOnce() // batch 1: only the commit made while down
            val vBefore = VersionedTable.latestVersion(dst)
            val refused = VersionedTable.appliedBatches(dst).toSeq
              .map(b => !VersionedTable.appendIdempotent(
                ev.limit(5), dst, b))
            if (refused.nonEmpty && refused.forall(identity) &&
              VersionedTable.latestVersion(dst) == vBefore) 1L
            else 0L
          }
        VersionedTable.read(s, dst)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .select(col("event_type"), col("n"), col("sum_cents"),
            lit(VersionedTable.appliedBatches(dst).size.toLong)
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
             |  CAST(2 AS BIGINT) AS n_batches,
             |  CAST(1 AS BIGINT) AS replay_noop
             |FROM ev
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q493: CHECK CONSTRAINTS — write-side data-quality gates on the
    // versioned table (the Delta ALTER TABLE ADD CONSTRAINT shape). Two
    // constraints are added (existing data validated first); a good
    // append passes; an append carrying negated cents is REFUSED with
    // the constraint named, and the refusal is ATOMIC — no data file,
    // no manifest, version unchanged (no_partial=1 rides in the gated
    // row next to refused=1). At 100 TB the point is the gate runs on
    // the DELTA only (one batch-sized validation pass), never on the
    // table. Oracle = the good state; a corrupt row never lands.
    Q(
      "q493_check_constraints",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_check$tag"
        // full removal, not just re-init: constraints SURVIVE overwrite
        // since r12, so a prior run's table would refuse the re-add
        graft.io.FsUtil.deleteRecursively(path)
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            abs(floor(col("value") * 100 + 0.5)).cast("long").as("cents"))
        VersionedTable.init(ev.where(col("event_id") % 2 === 0), path)
        VersionedTable.addConstraint(s, path, "cents_nonneg", "cents >= 0")
        VersionedTable.addConstraint(s, path, "typed",
          "event_type IS NOT NULL")
        VersionedTable.append(ev.where(col("event_id") % 2 === 1), path)
        val vBefore = VersionedTable.latestVersion(path)
        val refused =
          try {
            VersionedTable.append(
              ev.where(col("event_id") % 2 === 1)
                .withColumn("cents", -col("cents") - 1L), path)
            0L
          } catch {
            case e: IllegalArgumentException
              if e.getMessage.contains("cents_nonneg") => 1L
          }
        val noPartial =
          if (VersionedTable.latestVersion(path) == vBefore) 1L else 0L
        VersionedTable.read(s, path)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").as("sum_cents"))
          .select(col("event_type"), col("n"), col("sum_cents"),
            lit(refused).as("refused"), lit(noPartial).as("no_partial"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    CAST(abs(floor(value * 100 + 0.5)) AS BIGINT) AS cents
             |  FROM events)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(1 AS BIGINT) AS refused,
             |  CAST(1 AS BIGINT) AS no_partial
             |FROM ev
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)))
}
