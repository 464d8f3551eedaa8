package graft

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Contract tests for ALTER TABLE ADD COLUMN (r12 verdict item 8): a
  * metadata-only commit — no data file touched, reads null-fill until
  * writes materialize, old snapshots keep their schema, constraints
  * survive, and the delta log records it as a tiny delta.
  */
class GraftAlterTableSpec extends SparkSpec {

  private def freshCatalog(name: String): String = {
    val wh = scratchPath(s"graft_altwh_$name")
    graft.io.FsUtil.deleteRecursively(wh)
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  test("SQL ALTER TABLE ADD COLUMN: metadata-only commit, null-filled " +
    "reads, INSERT materializes, time travel keeps the old schema, " +
    "constraints survive") {
    val wh = freshCatalog("galt")
    val path = s"$wh/t"
    spark.sql("CREATE TABLE galt.t (id BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO galt.t VALUES (1, 10), (2, 20)")
    VersionedTable.addConstraint(spark, path, "nonneg", "cents >= 0")
    val v1 = VersionedTable.latestVersion(path)
    val filesBefore = VersionedTable.manifestFiles(path, v1)
    spark.sql("ALTER TABLE galt.t ADD COLUMN tag STRING")
    val v2 = VersionedTable.latestVersion(path)
    assert(v2 == v1 + 1)
    assert(VersionedTable.manifestFiles(path, v2) == filesBefore,
      "ALTER touched data files")
    // pre-evolution rows null-fill through SQL and the library path
    val rows = spark.sql("SELECT id, cents, tag FROM galt.t ORDER BY id")
      .collect()
    assert(rows.length == 2 && rows.forall(_.isNullAt(2)))
    assert(VersionedTable.read(spark, path).columns.contains("tag"))
    // INSERT after the ALTER materializes the column
    spark.sql("INSERT INTO galt.t VALUES (3, 30, 'x')")
    val got = spark.sql(
      "SELECT id, tag FROM galt.t WHERE tag IS NOT NULL").collect()
    assert(got.length == 1 && got.head.getString(1) == "x")
    assert(spark.sql("SELECT count(*) FROM galt.t").head().getLong(0) == 3)
    // old snapshots keep their schema
    assert(!spark.sql(s"SELECT * FROM galt.t VERSION AS OF $v1")
      .columns.contains("tag"))
    // constraints survived and still gate
    val e = intercept[Exception] {
      spark.sql("INSERT INTO galt.t VALUES (4, -1, 'y')")
    }
    assert(e.getMessage.contains("nonneg"))
    // the ALTER commit itself is a tiny delta manifest
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$path/_manifests/v$v2%05d.txt")), "UTF-8")
    assert(raw.startsWith("#delta") && raw.contains("xc\ttag"),
      s"ALTER manifest not a delta:\n$raw")
    // unsupported shapes refuse loudly
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE galt.t DROP COLUMN cents")
    }
    assert(e2.getMessage.toLowerCase.contains("unsupported") ||
      e2.getMessage.contains("ADD COLUMN"))
  }

  test("evolution interplay: CoW delete and OPTIMIZE preserve the " +
    "added column; clone carries it") {
    import spark.implicits._
    val wh = freshCatalog("galt2")
    val path = s"$wh/t"
    VersionedTable.init(
      spark.range(20).select(col("id"), lit(1L).as("cents"))
        .repartition(2), path)
    VersionedTable.addColumn(spark, path, "tag",
      org.apache.spark.sql.types.StringType)
    // CoW delete rewrites one band; carried files still lack the
    // column — the manifest's xc line must survive the commit
    VersionedTable.deleteWhere(spark, path, col("id") === 3L)
    val now = VersionedTable.read(spark, path)
    assert(now.columns.contains("tag") && now.count() == 19)
    // clone carries the evolution
    val dst = s"$wh/t2"
    VersionedTable.cloneTable(path, dst)
    assert(VersionedTable.read(spark, dst).columns.contains("tag"))
    // OPTIMIZE materializes the column into the rewritten files
    VersionedTable.compact(spark, path, 2)
    val m = VersionedTable.readManifest(path,
      VersionedTable.latestVersion(path))
    assert(VersionedTable.read(spark, path).columns.contains("tag"))
    assert(VersionedTable.read(spark, path).count() == 19)
  }
}
