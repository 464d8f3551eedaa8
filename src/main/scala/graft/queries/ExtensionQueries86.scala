package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Sampling}
import graft.io.Tables
import graft.streaming.StreamGate

/** Round-11 second wave — exactly-once streaming ingest for the
  * persisted MinHash band index (q478): the last at-least-once write
  * path in the storage layer gets the batch-id commit-marker protocol,
  * so a crawler pipeline can stream crawl batches INTO the dedup index
  * with redelivery safety. Serve correctness is gated against the same
  * from-scratch MinHash recompute oracle as q459 — an index fed by
  * streaming commits must be indistinguishable from one built in one
  * shot.
  */
object ExtensionQueries86 {

  private val bsaRunId = new AtomicInteger(0)

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q478: EXACTLY-ONCE STREAMING APPEND into the band index. Base =
    // corpus minus the %7 slice (built in one shot); the %7 slice
    // arrives as a real AvailableNow file stream, two delta files ->
    // two foreachBatch deliveries -> appendToBandIndexIdempotent (each
    // batch in its own deltas/b<id> dir, committed by an atomic
    // create-exclusive marker). After termination the query REPLAYS
    // every committed batch id — each must refuse (at-least-once
    // redelivery is a no-op) — and then serves an incoming batch
    // through nearDupJoinIndexed, which unions base + committed deltas.
    // The oracle is the from-scratch recompute over the FULL corpus:
    // any double-append (duplicate candidates surviving the distinct?
    // duplicate hash rows changing a verify) or lost batch fails the
    // row hash.
    Q(
      "q478_band_index_streaming_append",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val id = bsaRunId.incrementAndGet()
        val path = s"${System.getProperty("java.io.tmpdir")}" +
          s"/graft_bandsa${tag}_$id"
        val d = Sampling.hashSplit(Tables.load(s, dir, "documents"),
          "doc_id", "inc", Seq(("corpus", 0.8), ("incoming", 0.2)))
        val incoming = d.filter(col("split") === "incoming")
          .select("doc_id", "text")
        val corpus = d.filter(col("split") === "corpus")
          .select("doc_id", "text")
        StreamGate.withScratch("graft_bandsa_delta", "graft_bandsa_ckpt") {
          case Seq(deltaDir, ckptDir) =>
            Dedup.writeBandIndex(corpus.where(col("doc_id") % 7 =!= 0),
              "text", "doc_id", path)
            val delta = corpus.where(col("doc_id") % 7 === 0)
            delta.repartition(2).write.mode("overwrite")
              .parquet(deltaDir.toString)
            val apply = (df: DataFrame, batchId: Long) => {
              Dedup.appendToBandIndexIdempotent(df, "text", "doc_id",
                path, batchId)
              ()
            }
            StreamGate.run(s.readStream.schema(delta.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(deltaDir.toString)
              .writeStream
              .foreachBatch(apply), ckptDir)
            // at-least-once redelivery drill: every committed id refuses
            val batches = Dedup.bandIndexAppliedBatches(path)
            require(batches.size == 2,
              s"expected 2 streamed batches, got ${batches.size}")
            batches.foreach(b => require(
              !Dedup.appendToBandIndexIdempotent(delta, "text", "doc_id",
                path, b),
              s"replayed batch $b appended again"))
        }
        Dedup.nearDupJoinIndexed(incoming, s, path, "text", "doc_id", 0.5)
          .orderBy("da", "db")
      },
      Some(ExtensionQueries.NearDupJoinOracle)),

    // ------------------------------------------------------------------
    // q479: DATASOURCE V2 READ of the versioned table — time travel and
    // zone-stat file skipping running INSIDE Catalyst (r10 verdict item
    // 1). The table is built exactly like q476 (3 fragmenting commits,
    // clustered compaction to 8 statted files at v3) plus a late v4
    // append (2 stats-less files, bucket >= 900 only). Both legs go
    // through `spark.read.format("graft-versioned")` + a SQL WHERE on
    // the clustered column over a temp view — no graft read API:
    //   leg v3 (versionAsOf=3): the planner opens 4 of 8 files;
    //   leg v4 (latest):        4 statted + the 2 conservative
    //                           stats-less appends = 6 of 10, and the
    //                           residual filter drops the late rows
    //                           (bucket >= 900 is outside the band), so
    //                           both legs return the SAME logical rows.
    // files_opened/files_total come off the physical plan's BatchScan
    // (fail-loud if the source ever stops planning a V2 scan), so a
    // regression in planner-side pruning fails the row hash, not just a
    // spec.
    Q(
      "q479_dsv2_versioned_read",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_dsv2$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"), (col("event_id") % 1000).as("bucket"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        graft.ops.VersionedTable.init(
          ev.where(col("event_id") % 3 === 0).repartition(4), path)
        graft.ops.VersionedTable.append(
          ev.where(col("event_id") % 3 === 1).repartition(3), path)
        graft.ops.VersionedTable.append(
          ev.where(col("event_id") % 3 === 2).repartition(3), path)
        graft.ops.VersionedTable.compactClustered(s, path, 8, "bucket")
        graft.ops.VersionedTable.append(
          ev.where(col("bucket") >= 900).repartition(2), path)
        def leg(versionAsOf: Option[Int], label: Long) = {
          val r = versionAsOf
            .foldLeft(s.read.format("graft-versioned"))(
              (rd, v) => rd.option("versionAsOf", v.toString))
            .load(path)
          r.createOrReplaceTempView(s"graft_dsv2_view$tag")
          val q = s.sql(
            s"SELECT count(*) AS n_rows, sum(cents) AS sum_cents " +
              s"FROM graft_dsv2_view$tag " +
              "WHERE bucket >= 300 AND bucket < 700")
          val (opened, total) = q.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec =>
              val idx = b.scan.asInstanceOf[graft.sources
                .GraftVersionedFileScan].fileIndex
              (idx.inputFiles.length.toLong,
                graft.ops.VersionedTable.manifestFiles(path,
                  versionAsOf.getOrElse(
                    graft.ops.VersionedTable.latestVersion(path)))
                  .length.toLong)
          }.getOrElse(sys.error("graft-versioned did not plan a V2 scan"))
          q.select(lit(label).as("version_read"),
            lit(opened).as("files_opened"), lit(total).as("files_total"),
            col("n_rows"), col("sum_cents"))
        }
        leg(Some(3), 3L).unionByName(leg(None, 4L))
          .orderBy("version_read")
      },
      Some("""WITH ev AS (
             |  SELECT event_id % 1000 AS bucket,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |band AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(sum(cents) AS BIGINT) AS sum_cents
             |  FROM ev WHERE bucket >= 300 AND bucket < 700)
             |SELECT CAST(3 AS BIGINT) AS version_read,
             |  CAST(4 AS BIGINT) AS files_opened,
             |  CAST(8 AS BIGINT) AS files_total,
             |  n_rows, sum_cents FROM band
             |UNION ALL
             |SELECT CAST(4 AS BIGINT), CAST(6 AS BIGINT),
             |  CAST(10 AS BIGINT), n_rows, sum_cents FROM band
             |ORDER BY version_read""".stripMargin)),

    // ------------------------------------------------------------------
    // q480: BLOOM FILE-SKIPPING for point lookups on an UNCLUSTERED
    // key (r10 'what's wrong' item 1: zone stats only serve the
    // clustered column — a `key = k` probe opened every file). The
    // table is the q476 fragmented shape (10 files across 3 commits);
    // buildBloomIndex('event_id') commits per-file bloom sidecars as
    // v3. The present-key probe (the oracle-replayable min event_id of
    // the %3==2 slice — a key living in exactly ONE of the 10 files)
    // must open 1 file; the absent-key probe (max+1000) must open ZERO
    // files — the short-circuit where no data file is touched at all.
    // Both pruned counts ride in the gated row next to the looked-up
    // row's logical payload.
    Q(
      "q480_bloom_point_lookup",
      (s, dir) => {
        val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
        val path =
          s"${System.getProperty("java.io.tmpdir")}/graft_bloom$tag"
        val ev = Tables.load(s, dir, "events")
          .select(col("event_id"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        graft.ops.VersionedTable.init(
          ev.where(col("event_id") % 3 === 0).repartition(4), path)
        graft.ops.VersionedTable.append(
          ev.where(col("event_id") % 3 === 1).repartition(3), path)
        graft.ops.VersionedTable.append(
          ev.where(col("event_id") % 3 === 2).repartition(3), path)
        graft.ops.VersionedTable.buildBloomIndex(s, path, "event_id")
        val present = ev.where(col("event_id") % 3 === 2)
          .agg(min("event_id")).head().getLong(0)
        val absent = ev.agg(max("event_id")).head().getLong(0) + 1000L
        def leg(label: Long, k: Long) = {
          val (open, total) = graft.ops.VersionedTable.keyLookupFiles(
            s, path, 3, "event_id", lit(k))
          graft.ops.VersionedTable
            .readVersionKeyLookup(s, path, 3, "event_id", lit(k))
            .agg(count(lit(1)).cast("long").as("n_rows"),
              coalesce(sum("cents"), lit(0L)).as("sum_cents"))
            .select(lit(label).as("leg"),
              lit(open.length.toLong).as("files_opened"),
              lit(total.toLong).as("files_total"),
              col("n_rows"), col("sum_cents"))
        }
        leg(0L, present).unionByName(leg(1L, absent)).orderBy("leg")
      },
      Some("""WITH ev AS (
             |  SELECT event_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |k AS (SELECT min(event_id) AS kk FROM ev
             |      WHERE event_id % 3 = 2)
             |SELECT CAST(0 AS BIGINT) AS leg,
             |  CAST(1 AS BIGINT) AS files_opened,
             |  CAST(10 AS BIGINT) AS files_total,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents
             |FROM ev, k WHERE ev.event_id = k.kk
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT),
             |  CAST(10 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
             |ORDER BY leg""".stripMargin)))
}
