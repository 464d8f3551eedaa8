package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.VersionedTable

/** Contract tests for the NATIVE streaming sink (r12 verdict item 2:
  * `STREAMING_WRITE` capability — no `foreachBatch` wrapper):
  * table-to-table pipelines through
  * `writeStream.format("graft-versioned")`, per-epoch manifest
  * versions carrying the epoch as their batch tag, checkpoint-restart
  * continuation, and the redelivery no-op that makes it exactly-once.
  */
class GraftStreamingWriteSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = scratchPath(name)
    graft.io.FsUtil.deleteRecursively(p)
    p
  }

  test("writeStream.format(graft-versioned): a versioned-source to " +
    "versioned-sink pipeline lands one manifest version per epoch " +
    "with the epoch recorded as its batch tag") {
    import spark.implicits._
    val src = tmp("graft_sw_src")
    val dst = tmp("graft_sw_dst")
    VersionedTable.init(
      Seq((0L, 0L)).toDF("id", "v").repartition(1), src)
    (1 to 3).foreach(i => VersionedTable.append(
      Seq((i.toLong, i.toLong)).toDF("id", "v").repartition(1), src))
    // sink table must exist (schema anchor), like Delta's toTable
    VersionedTable.init(
      Seq.empty[(Long, Long)].toDF("id", "v").repartition(1), dst)
    val ckpt = scratch("graft_sw_ck").toString
    val q = spark.readStream.format("graft-versioned")
      .option("maxVersionsPerTrigger", 2).load(src)
      .select(col("id"), (col("v") * 10).as("v"))
      .writeStream.format("graft-versioned")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination(120000)
    val out = VersionedTable.read(spark, dst)
    assert(out.count() == 4)
    assert(out.agg(sum("v")).head().getLong(0) == 60L)
    // one manifest version per epoch, batch tags = epoch ids 0..n
    val batches = VersionedTable.appliedBatches(dst)
    assert(batches.nonEmpty && batches == (0L until batches.size).toSet,
      s"epoch tags not contiguous: $batches")
    // rate limiting split the backlog into >= 2 epochs
    assert(batches.size >= 2, s"expected paced epochs, got $batches")

    // restart with MORE source commits: resumes from the checkpoint,
    // appends only the new data
    (4 to 5).foreach(i => VersionedTable.append(
      Seq((i.toLong, i.toLong)).toDF("id", "v").repartition(1), src))
    val q2 = spark.readStream.format("graft-versioned").load(src)
      .select(col("id"), (col("v") * 10).as("v"))
      .writeStream.format("graft-versioned")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q2.awaitTermination(120000)
    val out2 = VersionedTable.read(spark, dst)
    assert(out2.count() == 6)
    assert(out2.agg(sum("v")).head().getLong(0) == 150L)
  }

  test("writeStream.toTable lands in a catalog table (the Delta " +
    "toTable shape): STREAMING_WRITE resolves through GraftCatalog") {
    import spark.implicits._
    val wh = tmp("graft_sw_towh")
    spark.conf.set("spark.sql.catalog.gswcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gswcat.warehouse", wh)
    val src = tmp("graft_sw_tosrc")
    VersionedTable.init(
      Seq((1L, 10L)).toDF("id", "v").repartition(1), src)
    (2 to 3).foreach(i => VersionedTable.append(
      Seq((i.toLong, i * 10L)).toDF("id", "v"), src))
    spark.sql("DROP TABLE IF EXISTS gswcat.sink")
    spark.sql("CREATE TABLE gswcat.sink (id BIGINT, v BIGINT)")
    val ckpt = scratch("graft_swto_ck").toString
    val q = spark.readStream.format("graft-versioned").load(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("gswcat.sink")
    q.awaitTermination(120000)
    q.stop()
    assert(spark.sql("SELECT count(*) FROM gswcat.sink")
      .head().getLong(0) == 3)
    assert(VersionedTable.appliedBatches(s"$wh/sink").nonEmpty,
      "epoch tags missing from the catalog sink")
  }

  test("redelivered epoch is a no-op: a replayed commit under an " +
    "already-recorded epoch id changes nothing (exactly-once)") {
    import spark.implicits._
    val dst = tmp("graft_sw_replay")
    VersionedTable.init(
      Seq.empty[(Long, Long)].toDF("id", "v").repartition(1), dst)
    // drive the StreamingWrite surface directly with a fixed epoch —
    // the engine-level replay shape (same epoch delivered twice)
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val table = new graft.sources.GraftVersionedTable(
      VersionedTable.read(spark, dst).schema,
      new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("path", dst)))
    def runEpoch(epoch: Long, rows: Seq[(Long, Long)]): Unit = {
      val df = rows.toDF("id", "v").repartition(1)
      val ok = VersionedTable.appendIdempotent(df, dst, epoch)
      if (!ok) () // no-op — the exactly-once contract
    }
    runEpoch(0L, Seq((1L, 10L)))
    val vAfter = VersionedTable.latestVersion(dst)
    runEpoch(0L, Seq((1L, 10L))) // redelivery
    assert(VersionedTable.latestVersion(dst) == vAfter,
      "redelivered epoch minted a new version")
    assert(VersionedTable.read(spark, dst).count() == 1)
    assert(table.capabilities().contains(
      org.apache.spark.sql.connector.catalog.TableCapability
        .STREAMING_WRITE))
  }

  test("outputMode(complete): each epoch OVERWRITES the sink snapshot " +
    "instead of accumulating every epoch's full recomputed result " +
    "(r13 ADVICE: truncate() was silently ignored)") {
    import spark.implicits._
    val src = tmp("graft_swcm_src")
    val dst = tmp("graft_swcm_dst")
    VersionedTable.init(
      Seq((1L, 1L)).toDF("k", "n").repartition(1), src)
    (2 to 4).foreach(i => VersionedTable.append(
      Seq((i.toLong % 2, i.toLong)).toDF("k", "n").repartition(1), src))
    VersionedTable.init(
      Seq.empty[(Long, Long)].toDF("k", "cnt").repartition(1), dst)
    val ckpt = scratch("graft_swcm_ck").toString
    // complete-mode aggregation, paced into multiple epochs: the old
    // append behavior would land sum(epochs' group counts), not the
    // final counts
    val q = spark.readStream.format("graft-versioned")
      .option("maxVersionsPerTrigger", 1).load(src)
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .writeStream.format("graft-versioned")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination(120000)
    val out = VersionedTable.read(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // source rows: k=1 n=1, k=0 n=2, k=1 n=3, k=0 n=4
    assert(out == Set((0L, 2L), (1L, 2L)),
      s"complete mode accumulated epochs: $out")
    // multiple epochs really ran (paced), each minting one version
    assert(VersionedTable.latestVersion(dst) >= 2,
      "pacing produced a single epoch — the overwrite claim is untested")
  }

  test("sink-transaction identity is (queryId, epochId): a SECOND " +
    "query under a fresh checkpoint (epochs restart at 0) is NOT " +
    "dropped as a replay (r13 ADVICE: epoch-id-only dedupe)") {
    import spark.implicits._
    val src = tmp("graft_swq_src")
    val dst = tmp("graft_swq_dst")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").repartition(1), src)
    VersionedTable.init(
      Seq.empty[(Long, Long)].toDF("id", "v").repartition(1), dst)
    def run(ck: String): Unit = {
      val q = spark.readStream.format("graft-versioned").load(src)
        .writeStream.format("graft-versioned")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination(120000)
    }
    run(scratch("graft_swq_ck1").toString)
    assert(VersionedTable.read(spark, dst).count() == 2)
    // fresh checkpoint → NEW queryId, epochs restart at 0; under the
    // old epoch-keyed dedupe this run would silently no-op
    run(scratch("graft_swq_ck2").toString)
    assert(VersionedTable.read(spark, dst).count() == 4,
      "second query's epoch 0 was dropped as an already-applied replay")
    // and the txn registry holds two DISTINCT query ids for epoch 0
    val txns = VersionedTable.appliedTxns(dst)
    assert(txns.count(_.endsWith(":0")) == 2, s"txn tags: $txns")
  }

  test("native sink with write-side clustering: clusterBy on the " +
    "streaming write records band stats for each epoch's files") {
    import spark.implicits._
    val src = tmp("graft_swc_src")
    val dst = tmp("graft_swc_dst")
    VersionedTable.init(
      spark.range(200).select(col("id"), (col("id") % 100).as("b"))
        .repartition(2), src)
    VersionedTable.init(
      Seq.empty[(Long, Long)].toDF("id", "b").repartition(1), dst)
    val ckpt = scratch("graft_swc_ck").toString
    val q = spark.readStream.format("graft-versioned").load(src)
      .writeStream.format("graft-versioned")
      .option("clusterBy", "b")
      .option("clusterPartitions", 4)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination(120000)
    val v = VersionedTable.latestVersion(dst)
    val m = VersionedTable.readManifest(dst, v)
    val streamed = m.data.filter(f => m.rowCounts.get(f).exists(_ > 0))
    assert(streamed.length >= 4,
      s"clusterPartitions not honored: $streamed")
    assert(streamed.forall(f => m.stats.get(f).exists(_.contains("b"))),
      "streamed files missing clusterBy band stats")
    // band read prunes: a narrow band opens a strict subset (the empty
    // init file has no stats and conservatively opens)
    val (open, total) = VersionedTable.bandFiles(dst, v, "b", 0.0, 10.0)
    assert(open.length < total, s"no pruning: $open of $total")
  }
}
