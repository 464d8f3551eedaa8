package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.TableFs
import graft.ops.VersionedTable

/** Contract pins for the graft-versioned STREAMING source (q492):
  * versions are micro-batch offsets, restarts resume from the
  * checkpoint with no duplicates, non-append commits refuse loudly
  * unless ignoreChanges, and metadata-only commits yield empty
  * batches.
  */
class GraftVersionedStreamSpec extends SparkSpec {

  private def runOnce(path: String, ckpt: String, sink: String,
                      options: Map[String, String] = Map.empty): Unit = {
    val reader = options.foldLeft(
      spark.readStream.format("graft-versioned"))(
      (r, kv) => r.option(kv._1, kv._2))
    val q = reader.load(path)
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
  }

  test("versions stream as micro-batches; a restart from the same " +
    "checkpoint emits ONLY the commits made in between — no " +
    "duplicates, no loss") {
    import spark.implicits._
    val path = scratchPath("graft_stream_src")
    val ckpt = scratchPath("graft_stream_ckpt")
    val sink = scratchPath("graft_stream_sink")
    TableFs.deleteRecursive(ckpt); TableFs.deleteRecursive(sink)
    val df = (0L until 900L).map(i => (i, i % 9, i * 2L))
      .toDF("id", "b", "cents")
    VersionedTable.init(df.where(col("id") < 300).repartition(2), path)
    VersionedTable.append(
      df.where(col("id") >= 300 && col("id") < 600).repartition(2), path)
    runOnce(path, ckpt, sink)
    val got1 = spark.read.parquet(sink)
    assert(got1.count() == 600)
    assert(got1.select("id").distinct().count() == 600, "duplicates")
    // commits between runs flow on resume — and ONLY them
    VersionedTable.append(df.where(col("id") >= 600).repartition(2), path)
    runOnce(path, ckpt, sink)
    val got2 = spark.read.parquet(sink)
    assert(got2.count() == 900)
    assert(got2.select("id").distinct().count() == 900, "duplicates")
    // a third run with nothing new adds nothing
    runOnce(path, ckpt, sink)
    assert(spark.read.parquet(sink).count() == 900)
  }

  test("startingVersion=latest serves only post-creation commits; " +
    "metadata-only commits (bloom build) yield empty batches") {
    import spark.implicits._
    val path = scratchPath("graft_stream_src2")
    val ckpt = scratchPath("graft_stream_ckpt2")
    val sink = scratchPath("graft_stream_sink2")
    TableFs.deleteRecursive(ckpt); TableFs.deleteRecursive(sink)
    val df = (0L until 400L).map(i => (i, i % 9, i)).toDF("id", "b", "c")
    VersionedTable.init(df.where(col("id") < 200).repartition(2), path)
    // latest resolves at STREAM START (source creation): the backlog
    // (v0) is skipped, the post-creation append flows
    VersionedTable.buildBloomIndex(spark, path, "id") // v1: metadata-only
    runOnce(path, ckpt, sink, Map("startingVersion" -> "latest"))
    // nothing new after creation: the start-marker batch is EMPTY
    // (the file sink may still write a zero-row part file)
    assert(!TableFs.exists(sink) ||
      TableFs.listNames(sink).forall(!_.endsWith(".parquet")) ||
      spark.read.parquet(sink).isEmpty)
    VersionedTable.append(df.where(col("id") >= 200).repartition(2), path)
    runOnce(path, ckpt, sink, Map("startingVersion" -> "latest"))
    val got = spark.read.parquet(sink)
    assert(got.count() == 200)
    assert(got.agg(min("id")).head().getLong(0) == 200L)
  }

  test("non-append commits refuse loudly by default; " +
    "ignoreChanges=true streams only the ADDED files (rewritten " +
    "survivors re-emit, pure deletes vanish)") {
    import spark.implicits._
    val path = scratchPath("graft_stream_src3")
    val ckpt = scratchPath("graft_stream_ckpt3")
    val sink = scratchPath("graft_stream_sink3")
    val ckpt2 = scratchPath("graft_stream_ckpt3b")
    val sink2 = scratchPath("graft_stream_sink3b")
    Seq(ckpt, sink, ckpt2, sink2).foreach(TableFs.deleteRecursive)
    val df = (0L until 300L).map(i => (i, i % 3, i)).toDF("id", "b", "c")
    VersionedTable.init(df.where(col("id") < 100).repartition(1), path)
    VersionedTable.append(
      df.where(col("id") >= 100 && col("id") < 200).repartition(1), path)
    VersionedTable.deleteWhere(spark, path, col("id") < 50) // CoW: v2
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] {
      runOnce(path, ckpt, sink)
    }
    assert(e.getCause.getMessage.contains("not append-only"),
      s"wrong refusal: ${e.getCause.getMessage}")
    // ignoreChanges: v0's file was rewritten by the CoW delete — its
    // SURVIVORS re-emit (the rewritten file is "added"), v1 carries
    // over untouched, nothing is emitted twice
    runOnce(path, ckpt2, sink2, Map("ignoreChanges" -> "true"))
    val got = spark.read.parquet(sink2)
    // v0 files (ids 0..99) + v1 files (100..199) + rewritten (50..99)
    assert(got.count() == 100 + 100 + 50)
    // the deleted rows appear only in the pre-delete snapshot's files
    assert(got.where(col("id") < 50).count() == 50)
    assert(got.where(col("id") >= 50 && col("id") < 100).count() == 100)
  }
}
