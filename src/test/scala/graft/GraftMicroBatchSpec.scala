package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.VersionedTable

/** Contract tests for the DSv2 micro-batch stream (r12 verdict item 2:
  * the V1 Source port with ADMISSION CONTROL): the DSv2 path must
  * actually engage (progress descriptions name the new stream),
  * maxVersionsPerTrigger paces a standing backlog into multiple
  * batches under Trigger.AvailableNow, maxFilesPerTrigger bounds by
  * added files, and a checkpoint restart resumes exactly where the
  * rate-limited run stopped.
  */
class GraftMicroBatchSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = scratchPath(name)
    graft.io.FsUtil.deleteRecursively(p)
    p
  }

  /** A table with 1 + n append commits of one row each. */
  private def backlog(path: String, appends: Int): Unit = {
    import spark.implicits._
    VersionedTable.init(
      Seq((0L, 0L)).toDF("id", "v").repartition(1), path)
    (1 to appends).foreach(i =>
      VersionedTable.append(
        Seq((i.toLong, i.toLong)).toDF("id", "v").repartition(1), path))
  }

  test("readStream plans the DSv2 GraftVersionedMicroBatchStream (not " +
    "the V1 Source) and serves the whole history exactly once") {
    val path = tmp("graft_mb_engage")
    backlog(path, 4) // versions 0..4, 5 rows
    val ckpt = scratch("graft_mb_engage_ck").toString
    val q = spark.readStream.format("graft-versioned").load(path)
      .groupBy().agg(count(lit(1)).as("n"), sum("v").as("s"))
      .writeStream.format("memory").queryName("mb_engage")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val descr = q.recentProgress.flatMap(_.sources.map(_.description))
      .mkString("\n")
    assert(descr.contains("GraftVersionedMicroBatchStream"),
      s"V1 source still serving:\n$descr")
    val r = spark.table("mb_engage").head()
    assert((r.getLong(0), r.getLong(1)) == (5L, 10L))
  }

  test("maxVersionsPerTrigger paces a cold-start backlog: AvailableNow " +
    "catches up in ceil(versions/limit) batches, rows exactly once, " +
    "and commits made AFTER start are left for the next run") {
    import spark.implicits._
    val path = tmp("graft_mb_pace")
    backlog(path, 7) // versions 0..7, 8 rows
    val ckpt = scratch("graft_mb_pace_ck").toString
    val out = tmp("graft_mb_pace_out")
    val q = spark.readStream.format("graft-versioned")
      .option("maxVersionsPerTrigger", "2").load(path)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // 8 versions at <=2 per trigger: at least 4 data batches
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 4,
      s"backlog served in $dataBatches batches — not rate-limited")
    assert(spark.read.parquet(out).count() == 8)
    // post-start commits are NOT in this run; a restarted stream
    // resumes from the checkpoint and serves exactly the delta
    VersionedTable.append(
      Seq((100L, 100L)).toDF("id", "v").repartition(1), path)
    VersionedTable.append(
      Seq((101L, 101L)).toDF("id", "v").repartition(1), path)
    val q2 = spark.readStream.format("graft-versioned")
      .option("maxVersionsPerTrigger", "2").load(path)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 8L) ++ Seq(100L, 101L),
      s"restart replayed or lost rows: ${ids.mkString(",")}")
  }

  test("maxFilesPerTrigger bounds batches by ADDED files and always " +
    "admits at least one version (single oversized commits progress)") {
    import spark.implicits._
    val path = tmp("graft_mb_files")
    VersionedTable.init(
      (0L until 8L).map(i => (i, i)).toDF("id", "v")
        .repartition(4), path) // v0: 4 files
    VersionedTable.append(
      Seq((8L, 8L)).toDF("id", "v").repartition(1), path) // v1: 1 file
    VersionedTable.append(
      (9L until 12L).map(i => (i, i)).toDF("id", "v")
        .repartition(3), path) // v2: 3 files
    val ckpt = scratch("graft_mb_files_ck").toString
    val out = tmp("graft_mb_files_out")
    val q = spark.readStream.format("graft-versioned")
      .option("maxFilesPerTrigger", "2").load(path)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // v0 alone exceeds the budget (4 files) but must be admitted as
    // its own batch; v1+v2 split by the budget -> >= 2 data batches
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 2,
      s"file budget not applied: $dataBatches batches")
    assert(spark.read.parquet(out).count() == 12)
  }

  test("DSv2 stream keeps the V1 semantics: startingVersion=latest " +
    "skips the backlog durably, and non-append commits refuse loudly") {
    import spark.implicits._
    val path = tmp("graft_mb_sem")
    backlog(path, 2)
    val ckpt = scratch("graft_mb_sem_ck").toString
    // latest: the existing 3 versions are skipped, later commits serve
    val out = tmp("graft_mb_sem_out")
    val q = spark.readStream.format("graft-versioned")
      .option("startingVersion", "latest").load(path)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(out).isEmpty)
    VersionedTable.append(
      Seq((50L, 50L)).toDF("id", "v").repartition(1), path)
    val q2 = spark.readStream.format("graft-versioned")
      .option("startingVersion", "latest").load(path)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).toSeq ==
      Seq(50L))
    // a copy-on-write delete mid-stream refuses loudly
    VersionedTable.deleteWhere(spark, path, col("id") === 0L)
    val q3 = spark.readStream.format("graft-versioned").load(path)
      .writeStream.format("memory").queryName("mb_sem3")
      .option("checkpointLocation",
        scratch("graft_mb_sem_ck3").toString)
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[Exception] { q3.awaitTermination(120000) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not append-only")),
      s"wrong failure: ${msgs(e).mkString(" | ")}")
  }
  test("startingTimestamp serves the first commit AT or AFTER the " +
    "probe (Delta semantics); a future timestamp serves only new " +
    "commits; startingVersion wins when both are set") {
    val path = tmp("graft_mb_start_ts")
    backlog(path, 3) // versions 0..3
    val ts2 = VersionedTable.history(path)
      .find(_.version == 2).get.tsMillis.get
    def run(name: String, opts: Map[String, String]): Long = {
      val ckpt = scratch(s"graft_mbts_$name").toString
      var r = spark.readStream.format("graft-versioned")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(path)
        .groupBy().agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(s"mbts_$name")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.stop()
      spark.table(s"mbts_$name").head().getLong(0)
    }
    // v2's stamp: serves v2 + v3 = 2 rows (one row per append)
    assert(run("at2", Map("startingTimestamp" -> ts2.toString)) == 2)
    // far future: nothing in the backlog qualifies
    assert(run("future", Map(
      "startingTimestamp" -> (ts2 + 1000L * 3600 * 24 * 365).toString)) == 0)
    // startingVersion wins over startingTimestamp
    assert(run("both", Map("startingTimestamp" -> ts2.toString,
      "startingVersion" -> "1")) == 3)
  }
}
