package graft

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Round-14 column-mapping pins: ALTER TABLE RENAME/DROP COLUMN as
  * metadata-only map rewrites (the Delta/Iceberg column-mapping
  * shape), schema-correct time travel across both, write-side
  * physicalization, filter/pruning translation through the DSv2 scan,
  * the no-resurrection discipline on re-add after drop, and the loud
  * refusals on the paths that are not mapping-aware.
  */
class Extension95Spec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = scratchPath(name)
    graft.io.FsUtil.deleteRecursively(p)
    p
  }

  test("column mapping: rename + drop are metadata-only commits; " +
    "every snapshot keeps its own schema; appends physicalize; " +
    "re-add after drop does not resurrect dropped data") {
    import spark.implicits._
    val path = tmp("graft_cm_lib_spec")
    VersionedTable.init(
      spark.range(100).select(col("id"), (col("id") % 5).as("grp"),
        (col("id") * 2).as("payload")),
      path)
    val files0 = VersionedTable.manifestFiles(path, 0)

    VersionedTable.renameColumn(spark, path, "payload", "cents")
    VersionedTable.dropColumn(spark, path, "grp")
    assert(VersionedTable.manifestFiles(path, 1) == files0 &&
      VersionedTable.manifestFiles(path, 2) == files0,
      "rename/drop touched data files")

    // logical view after both: (id, cents); physical files unchanged
    val cur = VersionedTable.read(spark, path)
    assert(cur.columns.toSeq == Seq("id", "cents"))
    assert(cur.agg(sum("cents")).head().getLong(0) == 9900L)
    // snapshots keep their own maps
    assert(VersionedTable.readVersion(spark, path, 0).columns.toSeq ==
      Seq("id", "grp", "payload"))
    // rename preserves the column's POSITION (map order = schema order)
    assert(VersionedTable.readVersion(spark, path, 1).columns.toSeq ==
      Seq("id", "grp", "cents"))

    // append speaks LOGICAL names, files store PHYSICAL
    VersionedTable.append(
      Seq((1000L, 7L)).toDF("id", "cents"), path)
    assert(VersionedTable.read(spark, path).count() == 101)
    val appended = VersionedTable.manifestFiles(path, 3)
      .filterNot(files0.contains)
    val raw = spark.read.parquet(
      appended.map(r => VersionedTable.absPath(path, r)): _*)
    assert(raw.columns.toSeq.contains("payload") &&
      !raw.columns.toSeq.contains("cents"),
      s"append did not physicalize: ${raw.columns.mkString(",")}")

    // re-add a column named like the dropped one: fresh physical name,
    // pre-drop values must NOT resurrect
    VersionedTable.addColumn(spark, path, "grp",
      org.apache.spark.sql.types.LongType)
    val readd = VersionedTable.read(spark, path)
    assert(readd.columns.toSeq == Seq("id", "cents", "grp"))
    assert(readd.where(col("grp").isNotNull).count() == 0,
      "dropped column's data resurrected through re-add")

    // rename collision + unknown-column refusals
    val e1 = intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, path, "cents", "grp"))
    assert(e1.getMessage.contains("already exists"))
    val e2 = intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, path, "nope"))
    assert(e2.getMessage.contains("no column"))
  }

  test("column mapping: CHECK-constrained columns refuse rename/drop; " +
    "constraints keep validating logical batches after an unrelated " +
    "rename") {
    import spark.implicits._
    val path = tmp("graft_cm_constraint_spec")
    VersionedTable.init(
      spark.range(10).select(col("id"), (col("id") + 100).as("score")),
      path)
    VersionedTable.addConstraint(spark, path, "score_pos", "score >= 0")
    val e = intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, path, "score", "quality"))
    assert(e.getMessage.contains("score_pos"))
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, path, "score"))
    // renaming the OTHER column is fine, and the constraint still
    // gates logical batches afterward
    VersionedTable.renameColumn(spark, path, "id", "doc_id")
    val bad = intercept[IllegalArgumentException](
      VersionedTable.append(
        Seq((11L, -5L)).toDF("doc_id", "score"), path))
    assert(bad.getMessage.contains("score_pos"))
    VersionedTable.append(Seq((11L, 5L)).toDF("doc_id", "score"), path)
    assert(VersionedTable.read(spark, path).count() == 11)
  }

  test("column mapping through the DSv2 scan: filters on renamed " +
    "columns band-prune files, COUNT(*) stays metadata-only, and " +
    "time travel reads pre-rename schema") {
    val path = tmp("graft_cm_dsv2_spec")
    VersionedTable.init(
      spark.range(1000).select(col("id"), (col("id") % 3).as("tag")),
      path)
    VersionedTable.compactClustered(spark, path, 8, "id")
    val vClustered = VersionedTable.latestVersion(path)
    VersionedTable.renameColumn(spark, path, "id", "doc_id")

    val df = spark.read.format("graft-versioned").load(path)
    assert(df.columns.toSeq == Seq("doc_id", "tag"))
    // band pruning on the RENAMED column: the pushed filter
    // physicalizes before the manifest consult
    val pruned = df.where(col("doc_id") < 125)
    assert(pruned.count() == 125)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec => b.scan
    }.get
    val opened = scan
      .asInstanceOf[graft.sources.GraftVersionedFileScan]
      .fileIndex.allFiles().length
    assert(opened < 8 && opened >= 1,
      s"expected band pruning through the rename, opened $opened/8")
    // logical attribute names serve through the mapped scan
    assert(df.where(col("doc_id") === 500).select("tag")
      .head().getLong(0) == 500 % 3)
    // metadata-only COUNT(*) survives the mapping
    val cntPlan = df.groupBy().count().queryExecution.executedPlan
    assert(cntPlan.toString.contains("graft_versioned_metadata_count"),
      s"metadata count not engaged:\n$cntPlan")
    // MIN/MAX metadata answer translates the probe column
    val mmPlan = df.agg(min("doc_id"), max("doc_id"))
      .queryExecution.executedPlan
    assert(mmPlan.toString.contains("graft_versioned_metadata_agg"),
      s"metadata agg not engaged:\n$mmPlan")
    assert(df.agg(min("doc_id"), max("doc_id")).head()
      == org.apache.spark.sql.Row(0L, 999L))
    // versionAsOf: pre-rename snapshot serves the OLD name
    val old = spark.read.format("graft-versioned")
      .option("versionAsOf", vClustered).load(path)
    assert(old.columns.toSeq == Seq("id", "tag"))
    assert(old.where(col("id") < 10).count() == 10)
  }

  test("column mapping DML: copy-on-write UPDATE/MERGE work on a " +
    "mapped table (translated scan + physicalized staging); " +
    "merge-on-read and streaming paths refuse loudly; batch CDF " +
    "serves the logical view; translatable SQL DELETE uses deletion " +
    "vectors") {
    val path = tmp("graft_cm_refusal_spec")
    VersionedTable.init(
      spark.range(50).select(col("id"), (col("id") % 5).as("grp")),
      path)
    VersionedTable.renameColumn(spark, path, "grp", "bucket")
    // batch CDF under the map: the rename itself is no change; a DV
    // delete shows up under LOGICAL names
    VersionedTable.deleteWhereDV(spark, path, col("bucket") === 4)
    val changes = VersionedTable.tableChanges(spark, path, 0,
      VersionedTable.latestVersion(path))
    assert(changes.columns.contains("bucket") &&
      !changes.columns.contains("grp"))
    assert(changes.where(col("change") === "removed").count() == 10)
    assert(changes.where(col("change") === "added").count() == 0)

    val cat = "gcm95"
    val wh = tmp("graft_cm_refusal_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, grp BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN grp TO bucket")
    // copy-on-write UPDATE on the RENAMED column: the row-level scan
    // physicalizes the condition, the write stages physical names
    spark.sql(s"UPDATE $cat.t SET bucket = bucket + 1 WHERE id = 1")
    assert(spark.sql(s"SELECT bucket FROM $cat.t WHERE id = 1")
      .head().getLong(0) == 11L)
    // the rewrite's staged files keep PHYSICAL names on disk
    val latest = VersionedTable.latestVersion(s"$wh/t")
    val rawCols = spark.read.option("mergeSchema", "true")
      .parquet(VersionedTable.manifestFiles(s"$wh/t", latest)
        .map(r => VersionedTable.absPath(s"$wh/t", r)): _*).columns.toSeq
    assert(rawCols.contains("grp") && !rawCols.contains("bucket"),
      s"CoW rewrite leaked logical names into files: $rawCols")
    // MERGE-ON-READ refuses with the actionable message
    spark.conf.set("spark.graft.rowLevel.mode", "merge-on-read")
    val e =
      try intercept[Exception](
        spark.sql(s"UPDATE $cat.t SET bucket = 0 WHERE id = 1"))
      finally spark.conf.unset("spark.graft.rowLevel.mode")
    assert(e.getMessage.contains("column mapping"), e.getMessage)
    // translatable DELETE routes through SupportsDeleteV2 →
    // deleteWhereDV, which IS mapping-aware
    spark.sql(s"DELETE FROM $cat.t WHERE id = 2")
    assert(spark.sql(s"SELECT sum(bucket) FROM $cat.t")
      .head().getLong(0) == 41L)
    // streaming read refused
    val se = intercept[Exception] {
      val q = spark.readStream.format("graft-versioned")
        .load(s"$wh/t").writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    assert(se.getMessage != null &&
      (se.getMessage.contains("column mapping") ||
        se.getCause != null &&
          se.getCause.getMessage.contains("column mapping")),
      s"streaming read did not refuse: ${se.getMessage}")
    // OPTIMIZE (compact) materializes the logical schema and clears
    // the map — DML works again
    VersionedTable.compact(spark, s"$wh/t", 1)
    spark.sql(s"UPDATE $cat.t SET bucket = 0 WHERE id = 1")
    assert(spark.sql(s"SELECT sum(bucket) FROM $cat.t")
      .head().getLong(0) == 30L)
  }

  test("format-feature guard: manifests tag the features they use " +
    "(#requires=) and a reader refuses an unknown tag loudly instead " +
    "of misreading") {
    import spark.implicits._
    val path = tmp("graft_requires_spec")
    VersionedTable.init(
      spark.range(20).select(col("id"), (col("id") * 3).as("v")), path)
    // introducing a mapping tags the delta that carries it
    VersionedTable.renameColumn(spark, path, "v", "cents")
    val renameRaw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_manifests/v00001.txt")), "UTF-8")
    assert(renameRaw.contains("#requires=column-mapping"),
      s"rename commit untagged:\n$renameRaw")
    assert(VersionedTable.read(spark, path).columns.toSeq ==
      Seq("id", "cents"))
    // a parquet-checkpoint commit point tags its pointer form
    val saved = VersionedTable.parquetCheckpointMinEntries
    VersionedTable.parquetCheckpointMinEntries = 1
    val path2 = tmp("graft_requires_pq_spec")
    try {
      VersionedTable.init(
        spark.range(10).select(col("id"), col("id").as("k"))
          .repartition(2), path2)
      val raw0 = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$path2/_manifests/v00000.txt")),
        "UTF-8")
      assert(raw0.contains("#requires=ckpt-parquet") &&
        raw0.contains("#ckpt="), s"pointer checkpoint untagged:\n$raw0")
      assert(VersionedTable.read(spark, path2).count() == 10)
    } finally VersionedTable.parquetCheckpointMinEntries = saved
    // a FUTURE feature tag refuses loudly — the hazard class is a
    // reader silently filtering an unknown form as a comment and
    // serving an empty table
    graft.io.TableFs.writeUtf8Exclusive(
      s"$path/_manifests/v00002.txt",
      "#delta\n#requires=frobnicated-manifests\n+c00002/part-0.parquet")
    val e = intercept[IllegalArgumentException](
      VersionedTable.read(spark, path))
    assert(e.getMessage.contains("frobnicated-manifests") &&
      e.getMessage.contains("unsupported format feature"), e.getMessage)
    // older versions stay readable (the guard is per-manifest)
    assert(VersionedTable.readVersion(spark, path, 1).count() == 20)
  }

  test("MERGE WITH SCHEMA EVOLUTION under merge-on-read: the ADD " +
    "COLUMN commit is metadata-only, the delta write leaves every " +
    "pre-merge data file in place, and untouched rows null-fill") {
    val cat = "gmse95"
    val wh = tmp("graft_mse_wh")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val path = s"$wh/t"
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, cents BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20), (3, 30)")
    val vIns = VersionedTable.latestVersion(path)
    val before = VersionedTable.manifestFiles(path, vIns)
    import spark.implicits._
    Seq((2L, 25L, "crawl"), (9L, 90L, "web"))
      .toDF("id", "cents", "src").createOrReplaceTempView("mse_u")
    val saved = spark.conf.getOption("spark.graft.rowLevel.mode")
    spark.conf.set("spark.graft.rowLevel.mode", "merge-on-read")
    try {
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
           |USING mse_u u ON t.id = u.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.graft.rowLevel.mode", v)
      case None => spark.conf.unset("spark.graft.rowLevel.mode")
    }
    val vAfter = VersionedTable.latestVersion(path)
    // evolution commit: same files, wider schema
    assert(VersionedTable.manifestFiles(path, vIns + 1) == before)
    // merge-on-read delta: every pre-merge data file SURVIVES (the
    // rewrite is tombstones + replacement rows, not file replacement)
    assert(before.forall(
      VersionedTable.manifestFiles(path, vAfter).contains),
      "MoR merge rewrote pre-merge data files")
    val got = spark.sql(
      s"SELECT id, cents, src FROM $cat.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("-"))).toSeq
    assert(got == Seq((1L, 10L, "-"), (2L, 25L, "crawl"),
      (3L, 30L, "-"), (9L, 90L, "web")), got.toString)
    // pre-evolution snapshot keeps its 2-column schema
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $vIns")
      .columns.toSeq == Seq("id", "cents"))
  }
}
