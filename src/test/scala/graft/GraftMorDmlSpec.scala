package graft

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Contract tests for MERGE-ON-READ row-level DML (r12 verdict item 4,
  * SupportsDelta): under `spark.graft.rowLevel.mode=merge-on-read` a
  * SQL UPDATE leaves every data file untouched (data_files_same) and
  * lands tombstones + replacement rows; time travel sees the
  * pre-image; OPTIMIZE folds the vectors; MERGE and non-translatable
  * DELETE ride the same path; the default mode stays group CoW.
  */
class GraftMorDmlSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = scratchPath(name)
    graft.io.FsUtil.deleteRecursively(p)
    p
  }

  private def withCatalog(name: String)(body: String => Unit): Unit = {
    val wh = tmp(s"graft_morwh_$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    try body(wh)
    finally spark.conf.unset("spark.graft.rowLevel.mode")
  }

  test("merge-on-read UPDATE: data files untouched, tombstones + " +
    "replacement rows land in one version, pre-image time-travels, " +
    "OPTIMIZE folds the vectors") {
    import spark.implicits._
    withCatalog("gmor1") { wh =>
      val path = s"$wh/t1"
      VersionedTable.init(
        spark.range(100).select(col("id"), (col("id") % 10).as("b"),
          lit(0L).as("cents")).repartition(4), path)
      val v0 = VersionedTable.latestVersion(path)
      val before = VersionedTable.manifestFiles(path, v0)
      spark.conf.set("spark.graft.rowLevel.mode", "merge-on-read")
      spark.sql("UPDATE gmor1.t1 SET cents = 777 WHERE id = 42")
      val v1 = VersionedTable.latestVersion(path)
      assert(v1 == v0 + 1)
      val m = VersionedTable.readManifest(path, v1)
      assert(before.forall(m.data.contains),
        "merge-on-read UPDATE rewrote a data file")
      assert(m.dvs.nonEmpty, "no deletion vector landed")
      assert(m.data.size == before.size + 1,
        s"expected exactly one replacement file, got ${m.data.size - before.size}")
      // content: the update applied, nothing else changed
      val now = VersionedTable.read(spark, path)
      assert(now.count() == 100)
      assert(now.where(col("id") === 42).head().getLong(2) == 777L)
      assert(now.where(col("cents") =!= 0L).count() == 1)
      // DSv2 merge-on-read SELECT agrees
      val sql = spark.sql("SELECT sum(cents) FROM gmor1.t1").head().getLong(0)
      assert(sql == 777L)
      // pre-image
      assert(VersionedTable.readVersion(spark, path, v0)
        .where(col("id") === 42).head().getLong(2) == 0L)
      // OPTIMIZE folds the vectors
      VersionedTable.compact(spark, path, 2)
      val m2 = VersionedTable.readManifest(path,
        VersionedTable.latestVersion(path))
      assert(m2.dvs.isEmpty)
      assert(VersionedTable.read(spark, path).count() == 100)
      assert(VersionedTable.read(spark, path)
        .where(col("id") === 42).head().getLong(2) == 777L)
    }
  }

  test("merge-on-read MERGE INTO and a second UPDATE over an existing " +
    "vector: updates tombstone + re-add, inserts append, prior " +
    "tombstones respected") {
    import spark.implicits._
    withCatalog("gmor2") { wh =>
      val path = s"$wh/t2"
      VersionedTable.init(
        spark.range(50).select(col("id"), lit(1L).as("cents"))
          .repartition(2), path)
      spark.conf.set("spark.graft.rowLevel.mode", "merge-on-read")
      spark.sql("UPDATE gmor2.t2 SET cents = 100 WHERE id < 5")
      Seq((3L, 1000L), (60L, 2000L), (61L, 3000L))
        .toDF("id", "cents").createOrReplaceTempView("mor_updates")
      spark.sql(
        """MERGE INTO gmor2.t2 t USING mor_updates u ON t.id = u.id
          |WHEN MATCHED THEN UPDATE SET t.cents = u.cents
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val now = VersionedTable.read(spark, path)
      assert(now.count() == 52)
      assert(now.where(col("id") === 3).head().getLong(1) == 1000L)
      assert(now.where(col("id") === 4).head().getLong(1) == 100L)
      assert(now.where(col("id") === 60).head().getLong(1) == 2000L)
      assert(now.agg(sum("cents")).head().getLong(0) ==
        45L * 1 + 4 * 100 + 1000 + 2000 + 3000)
      // a non-translatable DELETE rides the delta path too (no file
      // rewritten, tombstones only)
      val filesBefore = VersionedTable.manifestFiles(path,
        VersionedTable.latestVersion(path))
      spark.sql("DELETE FROM gmor2.t2 WHERE cents = 100 AND id % 2 = 0")
      val m = VersionedTable.readManifest(path,
        VersionedTable.latestVersion(path))
      assert(filesBefore.forall(m.data.contains))
      // cents=100 rows are ids 0,1,2,4 — the even ones (0,2,4) go
      assert(VersionedTable.read(spark, path).count() == 49)
    }
  }

  test("merge-on-read UPDATE over a Hive-escaped partitioned layout: " +
    "position identities and tombstones use consistent encodings") {
    import spark.implicits._
    withCatalog("gmor4") { wh =>
      val path = s"$wh/t4"
      VersionedTable.init(
        spark.range(30).select(col("id"),
          concat(lit("k:"), (col("id") % 3).cast("string")).as("grp"),
          lit(0L).as("cents")).repartition(2), path)
      VersionedTable.compactPartitioned(spark, path, "grp")
      // pre-existing DV on an escaped key, then a MoR UPDATE over it
      VersionedTable.deleteWhereDV(spark, path, col("id") === 7L)
      spark.conf.set("spark.graft.rowLevel.mode", "merge-on-read")
      spark.sql("UPDATE gmor4.t4 SET cents = 5 WHERE grp = 'k:1'")
      val now = VersionedTable.read(spark, path)
      assert(now.count() == 29)
      // k:1 ids are 1,4,...,28 (10 of them) minus deleted id=7 → 9
      assert(now.where(col("cents") === 5L).count() == 9)
      assert(now.where(col("id") === 7L).count() == 0,
        "MoR update resurrected a tombstoned row on an escaped key")
      // DSv2 scan agrees
      assert(spark.sql("SELECT sum(cents) FROM gmor4.t4")
        .head().getLong(0) == 45L)
    }
  }

  test("metadata columns on plain reads: SELECT __graft_file/__graft_pos " +
    "serves true position identity (DV-aware), never silent nulls") {
    import spark.implicits._
    val path = tmp("graft_metacol_read")
    VersionedTable.init(
      spark.range(20).select(col("id"), (col("id") % 4).as("b"))
        .repartition(2), path)
    VersionedTable.deleteWhereDV(spark, path, col("id") === 5L)
    val df = spark.read.format("graft-versioned").load(path)
      .select(col("id"), col("__graft_file"), col("__graft_pos"))
    val rows = df.collect()
    assert(rows.length == 19)
    assert(rows.forall(r => !r.isNullAt(1) && !r.isNullAt(2)),
      "metadata columns null-filled")
    // positions are per-file storage ordinals: within a file they are
    // distinct, and the tombstoned row's position is absent
    val byFile = rows.groupBy(_.getString(1))
    assert(byFile.size == 2)
    byFile.values.foreach { rs =>
      val ps = rs.map(_.getLong(2)).sorted
      assert(ps.distinct.length == ps.length, "duplicate positions")
    }
    // file names join back to the manifest (encoded rel form)
    val m = VersionedTable.readManifest(path, 1)
    assert(byFile.keySet.map(graft.ops.VersionedTable.percentDecode)
      .subsetOf(m.data.toSet))
    // filters still apply (as residuals above the position scan)
    assert(spark.read.format("graft-versioned").load(path)
      .where(col("b") === 2L)
      .select(col("id"), col("__graft_pos")).count() == 5)
  }

  test("pruned projection ordering (pos, file): the reader slots each " +
    "metadata column at its PROJECTED index, not a hardcoded one " +
    "(r13 ADVICE: a (pos, file) order mis-slotted a string into the " +
    "long column)") {
    import org.apache.spark.sql.types._
    val path = tmp("graft_metacol_order")
    VersionedTable.init(
      spark.range(10).toDF("id").repartition(1), path)
    val m = VersionedTable.readManifest(path, 0)
    val dataSchema = StructType(Seq(StructField("id", LongType)))
    // projection with the metadata columns trailing but REVERSED:
    // (id, __graft_pos, __graft_file)
    val proj = StructType(Seq(
      StructField("id", LongType),
      StructField(graft.sources.GraftDelta.PosCol, LongType,
        nullable = false),
      StructField(graft.sources.GraftDelta.FileCol, StringType,
        nullable = false)))
    val scan = new graft.sources.GraftDeltaScan(spark, path, m.data,
      dataSchema, Map.empty, None, Some(proj))
    val rf = scan.createReaderFactory()
    val got = scan.planInputPartitions().flatMap { p =>
      val r = rf.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, String)]
      while (r.next()) {
        val row = r.get()
        buf += ((row.getLong(0), row.getLong(1),
          row.getUTF8String(2).toString))
      }
      r.close()
      buf
    }
    assert(got.length == 10)
    assert(got.map(_._2).toSet == (0L until 10L).toSet,
      s"positions wrong under reversed projection: ${got.toSeq}")
    assert(got.forall(t => graft.ops.VersionedTable
      .percentDecode(t._3) == m.data.head),
      s"file rel wrong under reversed projection: ${got.toSeq}")
  }

  test("default mode stays group copy-on-write (q504 contract)") {
    import spark.implicits._
    withCatalog("gmor3") { wh =>
      val path = s"$wh/t3"
      VersionedTable.init(
        spark.range(40).select(col("id"), lit(0L).as("cents"))
          .repartition(2), path)
      val before = VersionedTable.manifestFiles(path, 0)
      spark.sql("UPDATE gmor3.t3 SET cents = 5 WHERE id = 7")
      val m = VersionedTable.readManifest(path,
        VersionedTable.latestVersion(path))
      assert(m.dvs.isEmpty, "CoW mode must not write deletion vectors")
      assert(!before.forall(m.data.contains),
        "CoW UPDATE must rewrite the matched file")
      assert(VersionedTable.read(spark, path)
        .where(col("id") === 7).head().getLong(1) == 5L)
    }
  }
}
