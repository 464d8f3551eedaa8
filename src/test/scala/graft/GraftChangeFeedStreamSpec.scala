package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.VersionedTable

/** Contract tests for the STREAMING change feed (r12 verdict item 3):
  * per-commit row diffs as micro-batches through plain readStream
  * options — appends emit 'added', deletion-vector commits emit the
  * EXACT 'removed' rows (position scans, no joins), the result equals
  * the batch readChangeFeed over the same range, restarts resume from
  * the checkpoint, and copy-on-write commits serve their write-time
  * CDC sidecars when the table opted in (enableChangeDataFeed) or
  * refuse loudly unless skipChangeCommits skips them.
  */
class GraftChangeFeedStreamSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = scratchPath(name)
    graft.io.FsUtil.deleteRecursively(p)
    p
  }

  /** Drive the feed into a parquet sink (recoverable, unlike memory)
    * and return the sink's accumulated rows.
    */
  private def runFeed(path: String, ckpt: String, out: String,
                      extra: Map[String, String] = Map.empty)
      : Set[(Long, Long, String, Long)] = {
    var r = spark.readStream.format("graft-versioned")
      .option("readChangeFeed", "true")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.load(path)
      .writeStream.format("parquet")
      .outputMode("append")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    spark.read.parquet(out)
      .select("id", "v", "change", "commit_version")
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1),
        r2.getString(2), r2.getLong(3))).toSet
  }

  test("streaming CDF == batch readChangeFeed: appends emit 'added', " +
    "a DV delete emits the exact 'removed' rows, commit_version tags " +
    "match, and a restart serves only new commits") {
    import spark.implicits._
    val path = tmp("graft_cdf_stream")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
        .repartition(2), path)
    VersionedTable.append(Seq((4L, 40L), (5L, 50L)).toDF("id", "v"), path)
    VersionedTable.deleteWhereDV(spark, path, col("id") === 2L)
    VersionedTable.append(Seq((6L, 60L)).toDF("id", "v"), path)
    val ckpt = scratch("graft_cdf_ck").toString
    val out = tmp("graft_cdf_stream_out")
    val got = runFeed(path, ckpt, out)
    val expected = VersionedTable.tableChanges(spark, path, 0, 3)
      .select("id", "v", "change", "commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == expected,
      s"stream diff != batch diff:\n got=$got\n exp=$expected")
    assert(got.contains((2L, 20L, "removed", 2L)),
      "DV-removed row missing or mistagged")
    // restart: two more commits, only they are served
    VersionedTable.append(Seq((7L, 70L)).toDF("id", "v"), path)
    VersionedTable.deleteWhereDV(spark, path, col("id") === 4L)
    val got2 = runFeed(path, ckpt, out)
    assert(got2 == expected ++ Set(
      (7L, 70L, "added", 4L), (4L, 40L, "removed", 5L)),
      s"restart served wrong increment: ${got2 -- expected}")
  }

  test("write-time CDC sidecars: with enableChangeDataFeed, CoW " +
    "delete/merge/CDC commits stream their exact diffs and equal the " +
    "batch feed; vacuum keeps referenced sidecars") {
    import spark.implicits._
    val path = tmp("graft_cdf_sidecar")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "v")
        .repartition(2), path)
    VersionedTable.enableChangeDataFeed(path)
    VersionedTable.append(Seq((5L, 50L)).toDF("id", "v"), path) // v1
    VersionedTable.deleteWhere(spark, path, col("id") === 2L)   // v2 CoW
    VersionedTable.merge(spark, path,                            // v3 CoW
      Seq((3L, 333L), (9L, 900L)).toDF("id", "v"), Seq("id"))
    VersionedTable.applyCdc(spark, path,                         // v4 CoW
      Seq((4L, 0L, -1), (6L, 600L, 1)).toDF("id", "v", "op"),
      Seq("id"), "op")
    val ckpt = scratch("graft_cdfsc_ck").toString
    val got = runFeed(path, ckpt, tmp("graft_cdf_sidecar_out"))
    val expected = VersionedTable.tableChanges(spark, path, 0, 4)
      .select("id", "v", "change", "commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == expected,
      s"CDC stream != batch feed:\n got=$got\n exp=$expected")
    // the CoW legs really are in there
    assert(got.contains((2L, 20L, "removed", 2L)))
    assert(got.contains((3L, 30L, "removed", 3L)))
    assert(got.contains((3L, 333L, "added", 3L)))
    assert(got.contains((9L, 900L, "added", 3L)))
    assert(got.contains((4L, 40L, "removed", 4L)))
    assert(got.contains((6L, 600L, "added", 4L)))
    // vacuum keeps kept versions' sidecars, reclaims evicted ones
    val (_, reclaimed) = VersionedTable.vacuum(path, 2)
    assert(reclaimed > 0)
    assert(VersionedTable.readCdc(spark, path, 4).count() == 2)
  }

  test("no-op updates cancel in write-time sidecars: a merge/CDC row " +
    "identical to its pre-image contributes NOTHING, so stream CDF == " +
    "batch CDF exactly (r13 ADVICE: preimage/postimage divergence)") {
    import spark.implicits._
    val path = tmp("graft_cdf_noop")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
        .repartition(1), path)
    VersionedTable.enableChangeDataFeed(path)
    // v1: merge with one NO-OP row (1,10 == current) and one real
    // update (2,222) — the sidecar must carry only key 2's pair
    VersionedTable.merge(spark, path,
      Seq((1L, 10L), (2L, 222L)).toDF("id", "v"), Seq("id"))
    val mergeCdc = VersionedTable.readCdc(spark, path, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(mergeCdc == Set((2L, 20L, "removed"), (2L, 222L, "added")),
      s"no-op merge row leaked into the sidecar: $mergeCdc")
    // v2: applyCdc with a no-op upsert (3,30) and a delete (1)
    VersionedTable.applyCdc(spark, path,
      Seq((3L, 30L, 1), (1L, 0L, -1)).toDF("id", "v", "op"),
      Seq("id"), "op")
    val cdcCdc = VersionedTable.readCdc(spark, path, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(cdcCdc == Set((1L, 10L, "removed")),
      s"no-op upsert leaked into the sidecar: $cdcCdc")
    // and the invariant the gates pin: stream == batch over the range
    val ckpt = scratch("graft_cdfno_ck").toString
    val got = runFeed(path, ckpt, tmp("graft_cdf_noop_out"))
    val expected = VersionedTable.tableChanges(spark, path, 0, 2)
      .select("id", "v", "change", "commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == expected,
      s"no-op CDC stream != batch feed:\n got=$got\n exp=$expected")
  }

  test("SQL group-CoW commits record CDC sidecars too: UPDATE via " +
    "ReplaceData on a CDF-enabled table streams its exact diff") {
    import spark.implicits._
    val wh = tmp("graft_cdf_sqlwh")
    spark.conf.set("spark.sql.catalog.gcdf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdf.warehouse", wh)
    val path = s"$wh/t"
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
        .repartition(1), path)
    // enable via SQL TBLPROPERTIES (the Delta shape)
    spark.sql("ALTER TABLE gcdf.t SET TBLPROPERTIES(" +
      "'graft.enableChangeDataFeed' = 'true')")
    assert(VersionedTable.changeDataFeedEnabled(path))
    VersionedTable.append(Seq((4L, 40L)).toDF("id", "v"), path) // v1
    spark.sql("UPDATE gcdf.t SET v = 999 WHERE id = 2")         // v2 CoW
    val ckpt = scratch("graft_cdfsql_ck").toString
    val got = runFeed(path, ckpt, tmp("graft_cdf_sql_out"))
    val expected = VersionedTable.tableChanges(spark, path, 0, 2)
      .select("id", "v", "change", "commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == expected,
      s"SQL-CoW CDC stream != batch feed:\n got=$got\n exp=$expected")
    assert(got.contains((2L, 20L, "removed", 2L)))
    assert(got.contains((2L, 999L, "added", 2L)))
    // survivors of the rewritten file (1, 3) cancel — never emitted
    assert(!got.exists(t => t._1 == 1L && t._4 == 2L))
  }

  test("write-time sidecars equal the two-way exceptAll multiset for " +
    "merge, applyCdc and SQL UPDATE: duplicate rows, NULLs, a no-op " +
    "update, NaN and -0.0") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    // the reference diff, computed here the way the sidecars once were
    def exceptAllDiff(removed: DataFrame, added: DataFrame): Seq[String] = {
      val a = added.select(removed.columns.map(col).toSeq: _*)
      removed.exceptAll(a).withColumn("_change", lit("removed"))
        .unionByName(a.exceptAll(removed).withColumn("_change", lit("added")))
        .collect().map(_.toString).toSeq.sorted
    }
    def sidecar(path: String, v: Int): Seq[String] =
      VersionedTable.readCdc(spark, path, v)
        .select("id", "x", "name", "_change")
        .collect().map(_.toString).toSeq.sorted
    def snapshot(path: String, v: Int): DataFrame =
      VersionedTable.readVersion(spark, path, v).select("id", "x", "name")
    val rows = Seq[(Long, Double, String)](
      (1L, 1.0, "a"), (1L, 1.0, "a"),          // duplicate identical rows
      (2L, Double.NaN, null),                  // NaN and NULL
      (3L, -0.0, "c"),                         // -0.0
      (4L, 4.0, null), (5L, 5.0, "e"), (7L, -0.0, "g"))
    def fresh(name: String): String = {
      val p = scratch(name).resolve("t").toString
      VersionedTable.init(rows.toDF("id", "x", "name").repartition(1), p)
      VersionedTable.enableChangeDataFeed(p)
      p
    }
    val updates = Seq[(Long, Double, String)](
      (1L, 1.0, "a"),                          // one copy of the duplicate
      (2L, Double.NaN, null),                  // no-op through NaN and NULL
      (3L, 0.0, "c"),                          // -0.0 -> 0.0
      (4L, 44.0, null), (6L, 6.0, null), (7L, 7.0, "g"))
      .toDF("id", "x", "name")
    val keys = updates.select("id").as[Long].collect().toSeq

    val m = fresh("graft_cdf_parity_merge")
    VersionedTable.merge(spark, m, updates, Seq("id"))
    val mergeExp = exceptAllDiff(
      snapshot(m, 0).where(col("id").isin(keys: _*)), updates)
    assert(mergeExp.exists(_.startsWith("[1,1.0,a,removed")),
      s"the duplicate's net removal is missing: $mergeExp")
    assert(sidecar(m, 1) == mergeExp, "merge sidecar")

    val c = fresh("graft_cdf_parity_cdc")
    val batch = updates.withColumn("op", lit(1))
      .unionByName(Seq((5L, 0.0, "", -1)).toDF("id", "x", "name", "op"))
    VersionedTable.applyCdc(spark, c, batch, Seq("id"), "op")
    val cdcExp = exceptAllDiff(
      snapshot(c, 0).where(col("id").isin(keys :+ 5L: _*)), updates)
    assert(cdcExp.contains("[5,5.0,e,removed]"), cdcExp)
    assert(sidecar(c, 1) == cdcExp, "applyCdc sidecar")

    // one data file, so the group rewrite replaces the whole snapshot
    val wh = scratch("graft_cdf_parity_wh").toString
    spark.conf.set("spark.sql.catalog.gcdfp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdfp.warehouse", wh)
    val t = s"$wh/t"
    VersionedTable.init(rows.toDF("id", "x", "name").repartition(1), t)
    VersionedTable.enableChangeDataFeed(t)
    spark.sql("UPDATE gcdfp.t SET x = x + 1 WHERE id IN (1, 4, 7)")
    val sqlExp = exceptAllDiff(snapshot(t, 0), snapshot(t, 1))
    assert(sqlExp.count(_ == "[1,1.0,a,removed]") == 2, sqlExp)
    assert(sidecar(t, 1) == sqlExp, "SQL UPDATE sidecar")
  }

  test("copy-on-write commits refuse loudly; skipChangeCommits skips " +
    "them; pacing splits the backlog per maxVersionsPerTrigger") {
    import spark.implicits._
    val path = tmp("graft_cdf_cow")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").repartition(1), path)
    VersionedTable.append(Seq((3L, 30L)).toDF("id", "v"), path)
    VersionedTable.deleteWhere(spark, path, col("id") === 1L) // CoW: v2
    VersionedTable.append(Seq((4L, 40L)).toDF("id", "v"), path)
    val ckpt1 = scratch("graft_cdf_cow_ck1").toString
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] {
      runFeed(path, ckpt1, tmp("graft_cdf_cow_fail_out"))
    }
    assert(e.getCause.getMessage.contains("without CDC sidecars"),
      s"wrong refusal: ${e.getCause}")
    // skipChangeCommits: the CoW commit vanishes, appends still serve
    val ckpt2 = scratch("graft_cdf_cow_ck2").toString
    val got = runFeed(path, ckpt2, tmp("graft_cdf_cow_skip_out"),
      Map("skipChangeCommits" -> "true", "maxVersionsPerTrigger" -> "1"))
      .map(t => (t._1, t._3, t._4))
    assert(got == Set((3L, "added", 1L), (4L, "added", 3L)),
      s"skip served: $got")
  }

  test("endingVersion bounds the change-feed replay: the stream " +
    "serves exactly start..ending and terminates; a later run from " +
    "the same checkpoint without the bound serves the rest") {
    import spark.implicits._
    val path = tmp("graft_cdf_ending")
    VersionedTable.init(
      Seq((1L, 10L)).toDF("id", "v").repartition(1), path)
    VersionedTable.append(Seq((2L, 20L)).toDF("id", "v"), path) // v1
    VersionedTable.append(Seq((3L, 30L)).toDF("id", "v"), path) // v2
    VersionedTable.deleteWhereDV(spark, path, col("id") === 1L) // v3
    VersionedTable.append(Seq((4L, 40L)).toDF("id", "v"), path) // v4
    val ckpt = scratch("graft_cdf_end_ck").toString
    val out = tmp("graft_cdf_ending_out")
    val bounded = runFeed(path, ckpt, out,
      Map("endingVersion" -> "2"))
    assert(bounded == Set((2L, 20L, "added", 1L),
      (3L, 30L, "added", 2L)),
      s"bounded replay served past endingVersion: $bounded")
    // same checkpoint, bound lifted: exactly the remaining commits
    val rest = runFeed(path, ckpt, out)
    assert(rest == bounded ++ Set((1L, 10L, "removed", 3L),
      (4L, 40L, "added", 4L)),
      s"unbounded continuation wrong: ${rest -- bounded}")
    // a bound below the start refuses loudly
    val ckpt2 = scratch("graft_cdf_end_ck2").toString
    val bad = intercept[Exception](
      runFeed(path, ckpt2, tmp("graft_cdf_ending_bad_out"),
        Map("startingVersion" -> "3", "endingVersion" -> "2")))
    assert(bad.getMessage != null || bad.getCause != null)
  }

  test("maxVersionsPerTrigger paces the CHANGE-FEED stream: a " +
    "3-commit backlog under AvailableNow lands as three one-version " +
    "micro-batches, each serving its commit's exact diff") {
    import spark.implicits._
    val path = tmp("graft_cdf_paced")
    VersionedTable.init(
      Seq((1L, 10L)).toDF("id", "v").repartition(1), path)
    VersionedTable.append(Seq((2L, 20L)).toDF("id", "v"), path) // v1
    VersionedTable.deleteWhereDV(spark, path, col("id") === 1L) // v2
    VersionedTable.append(Seq((3L, 30L)).toDF("id", "v"), path) // v3
    val ckpt = scratch("graft_cdf_pace_ck").toString
    val out = tmp("graft_cdf_paced_out")
    val q = spark.readStream.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load(path)
      .writeStream.format("parquet")
      .outputMode("append")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val servingBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(servingBatches == 3,
      s"expected 3 paced one-version micro-batches, got " +
        s"$servingBatches: ${q.recentProgress.map(_.numInputRows).toSeq}")
    val got = spark.read.parquet(out)
      .select("id", "v", "change", "commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == Set((2L, 20L, "added", 1L), (1L, 10L, "removed", 2L),
      (3L, 30L, "added", 3L)), s"paced feed served: $got")
  }
}
