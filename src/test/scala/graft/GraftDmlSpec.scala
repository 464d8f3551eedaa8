package graft

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Contract tests for SQL row-level DML through the catalog (r12):
  * DELETE FROM routes translatable predicates to the deletion-vector
  * metadata path (zero data files written); UPDATE / MERGE INTO /
  * non-translatable DELETE run the group-based copy-on-write
  * ReplaceData plan, rewriting ONLY the files the pruned row-level
  * scan read; a stale snapshot aborts the commit loudly.
  */
class GraftDmlSpec extends SparkSpec {

  private lazy val warehouse = {
    val w = scratchPath("graft_dml_wh")
    spark.conf.set("spark.sql.catalog.gdml", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdml.warehouse", w)
    w
  }

  private def freshTable(name: String, clustered: Boolean = false)
      : String = {
    import spark.implicits._
    warehouse
    val path = s"$warehouse/$name"
    graft.io.FsUtil.deleteRecursively(path)
    VersionedTable.init(
      (0L until 1000L).map(i => (i, i % 100, i * 3L))
        .toDF("id", "bucket", "cents").repartition(4), path)
    if (clustered) VersionedTable.compactClustered(spark, path, 5, "bucket")
    path
  }

  test("SQL DELETE with a translatable predicate takes the METADATA " +
    "path: a deletion-vector commit, zero data files written, rows " +
    "gone; TRUNCATE-grade DELETE without WHERE also works") {
    val path = freshTable("del_dv")
    val v0 = VersionedTable.latestVersion(path)
    val filesBefore = VersionedTable.manifestFiles(path, v0)
    spark.sql("DELETE FROM gdml.del_dv WHERE bucket = 7")
    val v1 = VersionedTable.latestVersion(path)
    assert(v1 == v0 + 1, "DELETE must mint exactly one version")
    val m = VersionedTable.readManifest(path, v1)
    assert(m.dvs.nonEmpty, "translatable DELETE must commit a DV")
    assert(m.data == filesBefore,
      "DV delete must not rewrite or add data files")
    assert(spark.sql("SELECT count(*) FROM gdml.del_dv")
      .head().getLong(0) == 990)
    assert(spark.sql(
      "SELECT count(*) FROM gdml.del_dv WHERE bucket = 7")
      .head().getLong(0) == 0)
    // time travel still sees the pre-delete snapshot
    assert(spark.sql(
      s"SELECT count(*) FROM gdml.del_dv VERSION AS OF $v0")
      .head().getLong(0) == 1000)
    // unconditional DELETE = truncate-by-DV
    spark.sql("DELETE FROM gdml.del_dv")
    assert(spark.sql("SELECT count(*) FROM gdml.del_dv")
      .head().getLong(0) == 0)
  }

  test("SQL UPDATE runs group-based CoW: only the files the pruned " +
    "row-level scan read are rewritten (clustered band -> one band of " +
    "files), carried files stay by reference, rows exact") {
    val path = freshTable("upd_cow", clustered = true)
    val v0 = VersionedTable.latestVersion(path)
    val before = VersionedTable.manifestFiles(path, v0)
    assert(before.length == 5)
    spark.sql(
      "UPDATE gdml.upd_cow SET cents = cents + 1000000 WHERE bucket < 20")
    val v1 = VersionedTable.latestVersion(path)
    assert(v1 == v0 + 1)
    val after = VersionedTable.manifestFiles(path, v1)
    val carried = after.toSet.intersect(before.toSet)
    // 5 range-clustered files over bucket 0..99: bucket < 20 is ~1
    // band — at least 3 files must carry over UNREWRITTEN
    assert(carried.size >= 3,
      s"banded UPDATE rewrote ${before.length - carried.size} of 5 files")
    assert(carried.size < 5, "some file must have been rewritten")
    // row correctness: updated band bumped, rest untouched
    val got = spark.sql(
      "SELECT sum(cents) AS s FROM gdml.upd_cow").head().getLong(0)
    val want = (0L until 1000L).map(i =>
      if (i % 100 < 20) i * 3L + 1000000L else i * 3L).sum
    assert(got == want)
    assert(spark.sql("SELECT count(*) FROM gdml.upd_cow")
      .head().getLong(0) == 1000)
  }

  test("SQL MERGE INTO: matched rows update, unmatched rows insert, " +
    "one manifest version, oracle-exact result") {
    import spark.implicits._
    val path = freshTable("merge_t")
    val v0 = VersionedTable.latestVersion(path)
    Seq((5L, 999L), (1500L, 111L))
      .toDF("id", "new_cents").createOrReplaceTempView("merge_src")
    spark.sql(
      """MERGE INTO gdml.merge_t t USING merge_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET cents = s.new_cents
        |WHEN NOT MATCHED THEN
        |  INSERT (id, bucket, cents) VALUES (s.id, s.id % 100, s.new_cents)
        |""".stripMargin)
    assert(VersionedTable.latestVersion(path) == v0 + 1)
    val rows = spark.sql(
      "SELECT id, bucket, cents FROM gdml.merge_t " +
        "WHERE id IN (5, 1500) ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((5L, 5L, 999L), (1500L, 0L, 111L)))
    assert(spark.sql("SELECT count(*) FROM gdml.merge_t")
      .head().getLong(0) == 1001)
    // untouched row sanity
    assert(spark.sql("SELECT cents FROM gdml.merge_t WHERE id = 6")
      .head().getLong(0) == 18L)
  }

  test("non-translatable DELETE (IN subquery) falls through to the " +
    "group-based rewrite: rows gone, NO deletion vector minted") {
    import spark.implicits._
    val path = freshTable("del_cow")
    val v0 = VersionedTable.latestVersion(path)
    Seq(3L, 4L, 5L).toDF("kid").createOrReplaceTempView("del_keys")
    spark.sql(
      "DELETE FROM gdml.del_cow WHERE id IN (SELECT kid FROM del_keys)")
    val v1 = VersionedTable.latestVersion(path)
    assert(v1 == v0 + 1)
    assert(VersionedTable.readManifest(path, v1).dvs.isEmpty,
      "group-based DELETE must not mint a DV")
    assert(spark.sql("SELECT count(*) FROM gdml.del_cow")
      .head().getLong(0) == 997)
    assert(spark.sql(
      "SELECT count(*) FROM gdml.del_cow WHERE id IN (3, 4, 5)")
      .head().getLong(0) == 0)
  }

  test("a stale row-level commit aborts loudly: commitReplace refuses " +
    "when the table moved past the scanned version, and the staged " +
    "lost-update never becomes visible") {
    import spark.implicits._
    val path = freshTable("stale_rlo")
    val v0 = VersionedTable.latestVersion(path)
    val victim = VersionedTable.manifestFiles(path, v0).head
    // another writer commits first
    VersionedTable.append(
      Seq((5000L, 1L, 1L)).toDF("id", "bucket", "cents"), path)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitReplace(path, v0, Seq(victim), Nil)
    }
    assert(e.getMessage.contains("concurrent write"))
    // the conflicting append's row is intact
    assert(spark.sql("SELECT count(*) FROM gdml.stale_rlo")
      .head().getLong(0) == 1001)
  }

  test("SQL DML composes across engine paths: UPDATE after a DV " +
    "DELETE reads through the merge-on-read scan (no resurrection, no " +
    "OPTIMIZE needed), carries the vectors for unscanned files, and " +
    "the deleted row stays gone") {
    val path = freshTable("dv_then_upd")
    spark.sql("DELETE FROM gdml.dv_then_upd WHERE id = 1") // DV commit
    // group-based UPDATE straight on the DV snapshot: the row-level
    // scan applies the tombstones, so the rewrite cannot resurrect
    spark.sql("UPDATE gdml.dv_then_upd SET cents = 0 WHERE id = 2")
    assert(spark.sql("SELECT cents FROM gdml.dv_then_upd WHERE id = 2")
      .head().getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM gdml.dv_then_upd")
      .head().getLong(0) == 999)
    assert(spark.sql("SELECT count(*) FROM gdml.dv_then_upd WHERE id = 1")
      .head().getLong(0) == 0, "DV'd row resurrected by the rewrite")
    // a second DV delete then MERGE also composes
    spark.sql("DELETE FROM gdml.dv_then_upd WHERE id = 3")
    import spark.implicits._
    Seq((4L, 777L)).toDF("id", "nc")
      .createOrReplaceTempView("dv_merge_src")
    spark.sql(
      """MERGE INTO gdml.dv_then_upd t USING dv_merge_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET cents = s.nc
        |""".stripMargin)
    assert(spark.sql("SELECT cents FROM gdml.dv_then_upd WHERE id = 4")
      .head().getLong(0) == 777L)
    assert(spark.sql("SELECT count(*) FROM gdml.dv_then_upd")
      .head().getLong(0) == 998)
    assert(spark.sql(
      "SELECT count(*) FROM gdml.dv_then_upd WHERE id IN (1, 3)")
      .head().getLong(0) == 0)
  }
  test("change feed through read options: readChangeFeed=true + " +
    "version range equals tableChanges, including the MERGE commit's " +
    "removed+added pairing; bad ranges and extension-less scans fail " +
    "loudly") {
    import spark.implicits._
    val path = tmp2("graft_cdf_options")
    VersionedTable.init(
      (0L until 100L).map(i => (i, i % 10, i)).toDF("id", "bucket", "cents")
        .repartition(2), path)
    VersionedTable.append(
      (100L until 120L).map(i => (i, i % 10, i)).toDF("id", "bucket", "cents"), path)
    VersionedTable.merge(spark,path,
      Seq((5L, 99L, 0L)).toDF("id", "bucket", "cents"), Seq("id"))
    val latest = VersionedTable.latestVersion(path)
    val viaOptions = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true").load(path)
    val expect = VersionedTable.tableChanges(spark, path, 0, latest)
    assert(viaOptions.exceptAll(expect).isEmpty &&
      expect.exceptAll(viaOptions).isEmpty,
      "options CDF != tableChanges")
    // MERGE pairing: the matched key shows old 'removed' + new 'added'
    val pair = viaOptions.where(col("id") === 5L)
      .orderBy("change")
      .collect().map(r => (r.getAs[String]("change"),
        r.getAs[Long]("bucket")))
    assert(pair.toSeq == Seq(("added", 99L), ("removed", 5L)),
      s"merge pairing wrong: ${pair.toSeq}")
    // range selection: only the merge commit
    val lastOnly = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingVersion", latest.toString).load(path)
    assert(lastOnly.select("commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(latest.toLong))
    assert(lastOnly.count() == 2)
    // projection/filter compose through the substituted plan
    assert(spark.read.format("graft-versioned")
      .option("readChangeFeed", "true").load(path)
      .where(col("change") === "added")
      .groupBy().count().head().getLong(0) ==
      expect.where(col("change") === "added").count())
    // bad range fails loudly
    val e = intercept[Exception] {
      spark.read.format("graft-versioned")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0").load(path)
    }
    assert(e.getMessage.contains("startingVersion"))
    // TIMESTAMP range forms (Delta semantics): startingTimestamp =
    // first commit AT/AFTER the probe, endingTimestamp = last commit
    // AT/BEFORE — resolved through the strictly-monotonic commit clock
    val hist = VersionedTable.history(path)
    val tsOfMerge = hist.find(_.version == latest).get.tsMillis.get
    val fromTs = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", tsOfMerge.toString).load(path)
    assert(fromTs.select("commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(latest.toLong),
      "startingTimestamp did not resolve to the merge commit")
    val untilAppend = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("endingTimestamp", (tsOfMerge - 1).toString).load(path)
    assert(untilAppend.select("commit_version").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L),
      "endingTimestamp served past the probe")
    // a probe at/before creation clamps to the first diffable commit;
    // a probe after the last commit refuses loudly
    assert(spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", "0").load(path)
      .select("commit_version").distinct().count() == latest.toLong)
    val e2 = intercept[Exception] {
      spark.read.format("graft-versioned")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", (tsOfMerge + 100000).toString)
        .load(path)
    }
    assert(e2.getMessage.contains("startingTimestamp"), e2.getMessage)
  }

  private def tmp2(name: String): String = {
    val p = scratchPath(name)
    graft.io.FsUtil.deleteRecursively(p)
    p
  }
  test("SQL TRUNCATE TABLE routes through the deletion-vector path: " +
    "all rows gone, zero data files written, history intact") {
    val path = freshTable("trunc_t")
    val v0 = VersionedTable.latestVersion(path)
    val filesBefore = VersionedTable.manifestFiles(path, v0)
    spark.sql("TRUNCATE TABLE gdml.trunc_t")
    val v1 = VersionedTable.latestVersion(path)
    assert(v1 == v0 + 1)
    val m = VersionedTable.readManifest(path, v1)
    assert(m.data == filesBefore && m.dvs.nonEmpty,
      "TRUNCATE must be a DV commit, not a rewrite")
    assert(spark.sql("SELECT count(*) FROM gdml.trunc_t")
      .head().getLong(0) == 0)
    assert(spark.sql(
      s"SELECT count(*) FROM gdml.trunc_t VERSION AS OF $v0")
      .head().getLong(0) == 1000)
    // the table accepts inserts again
    spark.sql("INSERT INTO gdml.trunc_t VALUES (7, 7, 7)")
    assert(spark.sql("SELECT count(*) FROM gdml.trunc_t")
      .head().getLong(0) == 1)
  }
}
