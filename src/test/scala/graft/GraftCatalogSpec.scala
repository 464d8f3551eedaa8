package graft

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Contract tests for the SQL catalog surface (q482) and the DSv2
  * write path (q481): lifecycle verbs, time travel through the
  * Catalyst `VERSION AS OF` hook, write-path commit semantics, and the
  * loud refusals (rename/alter/static partitioning).
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val warehouse = {
    val w = scratchPath("graft_wh_spec")
    spark.conf.set("spark.sql.catalog.gtest", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.warehouse", w)
    w
  }

  test("SQL lifecycle: CREATE / INSERT INTO (versioned commits) / " +
    "VERSION AS OF / INSERT OVERWRITE / DROP") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS gtest.lifecycle")
    spark.sql("CREATE TABLE gtest.lifecycle (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gtest.lifecycle VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO gtest.lifecycle VALUES (3, 30)")
    // three manifest versions: empty create, then two inserts
    assert(VersionedTable.latestVersion(s"$warehouse/lifecycle") == 2)
    assert(spark.sql("SELECT count(*) FROM gtest.lifecycle")
      .head().getLong(0) == 3)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.lifecycle VERSION AS OF 1")
      .head().getLong(0) == 2)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.lifecycle VERSION AS OF 0")
      .head().getLong(0) == 0, "the CREATE version must be empty")
    // overwrite commits a replacement SNAPSHOT at latest+1 (r13):
    // history is preserved and the pre-overwrite state stays
    // time-travelable
    spark.sql("INSERT OVERWRITE gtest.lifecycle VALUES (9, 90)")
    assert(VersionedTable.latestVersion(s"$warehouse/lifecycle") == 3)
    assert(spark.sql("SELECT sum(v) FROM gtest.lifecycle")
      .head().getLong(0) == 90)
    assert(spark.sql(
      "SELECT count(*) FROM gtest.lifecycle VERSION AS OF 2")
      .head().getLong(0) == 3,
      "pre-overwrite snapshot must stay time-travelable")
    assert(spark.sql("SHOW TABLES IN gtest").collect()
      .map(_.getString(1)).contains("lifecycle"))
    spark.sql("DROP TABLE gtest.lifecycle")
    assert(!spark.catalog.tableExists("gtest.lifecycle"))
  }

  test("catalog reads keep the planner-side file skipping: a clustered " +
    "band through catalog SQL prunes the BatchScan") {
    import spark.implicits._
    warehouse
    val path = s"$warehouse/clustered"
    graft.io.FsUtil.deleteRecursively(path)
    VersionedTable.init(
      (0L until 1000L).map(i => (i, i % 100, i)).toDF("id", "b", "c")
        .repartition(4), path)
    VersionedTable.compactClustered(spark, path, 5, "b")
    val q = spark.sql(
      "SELECT count(*) FROM gtest.clustered WHERE b >= 20 AND b < 40")
    val opened = q.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec =>
        s.scan.asInstanceOf[graft.sources.GraftVersionedFileScan]
          .fileIndex.inputFiles.length
    }.get
    assert(opened < 5, s"catalog SQL scan opened $opened of 5")
    assert(q.head().getLong(0) == 200)
  }

  test("refusals are loud: rename, destructive ALTER, static " +
    "partitioning, missing table") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS gtest.refuse")
    spark.sql("CREATE TABLE gtest.refuse (id BIGINT)")
    // ADD COLUMN is supported since r13 (GraftAlterTableSpec); the
    // destructive shapes still refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE gtest.refuse DROP COLUMN id")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gtest.refuse RENAME TO refuse2")
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE gtest.refuse_p (id BIGINT) PARTITIONED BY (id)")
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM gtest.nope").collect()
    }
    spark.sql("DROP TABLE gtest.refuse")
  }

  test("DSv2 writer: append commits a manifest version without " +
    "rewriting existing files; overwrite commits a replacement " +
    "snapshot with history preserved") {
    import spark.implicits._
    val path = scratchPath("graft_w_spec")
    graft.io.FsUtil.deleteRecursively(path)
    VersionedTable.init(Seq((1L, 10L)).toDF("id", "v"), path)
    val f0 = VersionedTable.manifestFiles(path, 0)
    Seq((2L, 20L)).toDF("id", "v")
      .write.format("graft-versioned").mode("append").save(path)
    assert(VersionedTable.latestVersion(path) == 1)
    assert(f0.toSet.subsetOf(
      VersionedTable.manifestFiles(path, 1).toSet),
      "connector append rewrote an existing file")
    assert(spark.read.format("graft-versioned").load(path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    Seq((9L, 90L)).toDF("id", "v")
      .write.format("graft-versioned").mode("overwrite").save(path)
    assert(VersionedTable.latestVersion(path) == 2)
    assert(spark.read.format("graft-versioned").load(path)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // the replaced snapshot is still one VERSION AS OF away
    assert(spark.read.format("graft-versioned")
      .option("versionAsOf", 1).load(path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    // and vacuum reclaims the replaced files once retention expires
    val (_, reclaimed) = VersionedTable.vacuum(path, 1)
    assert(reclaimed >= 1, "vacuum must reclaim the replaced files")
    intercept[IllegalArgumentException] {
      VersionedTable.readManifest(path, 1)
    }
  }
}
