package graft

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Round-13 storage-layer pins: delta-log manifests (commit cost is
  * O(delta), reads fold checkpoint + delta tail, vacuum materializes
  * the fold base), the DV tombstone representation fix on Hive-escaped
  * partition keys, the TOP-N NULLS FIRST zero-row-file guard, and the
  * single-validation concurrent-append contract.
  */
class Extension93Spec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = scratchPath(name)
    graft.io.FsUtil.deleteRecursively(p)
    p
  }

  private def manifestBytes(path: String, v: Int): Long =
    java.nio.file.Files.size(java.nio.file.Paths.get(
      f"$path/_manifests/v$v%05d.txt"))

  private def manifestText(path: String, v: Int): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      f"$path/_manifests/v$v%05d.txt")), "UTF-8")

  test("delta-log manifests: an append commit writes O(delta) bytes, " +
    "reads fold correctly across the chain, checkpoint lands at the " +
    "interval, commitChanges is exact") {
    import spark.implicits._
    val path = tmp("graft_deltalog_spec")
    // 40-file base so the checkpoint is visibly larger than a delta
    VersionedTable.init(
      spark.range(4000).select(col("id"), (col("id") % 97).as("k"))
        .repartition(40), path)
    val v0Bytes = manifestBytes(path, 0)
    VersionedTable.append(Seq((99999L, 1L)).toDF("id", "k"), path)
    // the delta commit is a handful of lines; the v0 checkpoint lists
    // 40 files with rc/nc metadata — pin a wide margin
    assert(manifestText(path, 1).startsWith("#delta"),
      "append did not write a delta manifest")
    assert(manifestBytes(path, 1) * 5 < v0Bytes,
      s"delta commit not O(delta): v1=${manifestBytes(path, 1)}B " +
        s"vs v0=$v0Bytes B")
    // fold correctness: v1 sees base + appended row
    assert(VersionedTable.read(spark, path).count() == 4001)
    assert(VersionedTable.readVersion(spark, path, 0).count() == 4000)
    // commitChanges: exactly the appended files, no removals
    val (add1, rem1, dv1) = VersionedTable.commitChanges(path, 1)
    assert(add1.nonEmpty && rem1.isEmpty && !dv1)
    assert(VersionedTable.manifestFiles(path, 1).toSet ==
      (VersionedTable.manifestFiles(path, 0) ++ add1).toSet)
    // run the chain through a CoW delete, a DV delete, and more
    // appends past the checkpoint interval
    VersionedTable.deleteWhere(spark, path, col("id") === 7L) // v2
    assert(VersionedTable.read(spark, path).count() == 4000)
    VersionedTable.deleteWhereDV(spark, path, col("id") === 11L) // v3
    assert(VersionedTable.read(spark, path).count() == 3999)
    val (_, _, dvChanged) = VersionedTable.commitChanges(path, 3)
    assert(dvChanged, "DV commit not reported by commitChanges")
    assert(manifestText(path, 3).startsWith("#delta"),
      "a deletion-vector commit should be a tiny delta")
    (4 to 11).foreach { i =>
      VersionedTable.append(Seq((100000L + i, 2L)).toDF("id", "k"), path)
    }
    assert(VersionedTable.latestVersion(path) == 11)
    // the interval checkpoint: v10 is a full snapshot, v11 a delta
    assert(!manifestText(path, 10).startsWith("#delta"),
      "v10 should be an interval checkpoint")
    assert(manifestText(path, 11).startsWith("#delta"))
    assert(VersionedTable.read(spark, path).count() == 3999 + 8)
    // time travel through the middle of the chain still folds
    assert(VersionedTable.readVersion(spark, path, 5).count() == 4001)
    // history reads every version
    assert(VersionedTable.history(path).map(_.version) == (0 to 11))
  }

  test("delta-log + vacuum: the earliest kept delta materializes into " +
    "a checkpoint so the kept tail folds after its ancestors vanish; " +
    "restore and clone keep working off the log") {
    import spark.implicits._
    val path = tmp("graft_deltalog_vacuum_spec")
    VersionedTable.init(
      spark.range(100).select(col("id"), (col("id") % 7).as("k"))
        .repartition(4), path)
    (1 to 6).foreach { i =>
      VersionedTable.append(Seq((1000L + i, 1L)).toDF("id", "k"), path)
    }
    // keep the last 3 (v4..v6) — v4 is a delta whose base chain
    // (v0..v3) is vacuumed
    assert(manifestText(path, 4).startsWith("#delta"))
    val (mRemoved, _) = VersionedTable.vacuum(path, 3)
    assert(mRemoved == 4)
    assert(!manifestText(path, 4).startsWith("#delta"),
      "vacuum must materialize the earliest kept delta")
    assert(VersionedTable.readVersion(spark, path, 4).count() == 104)
    assert(VersionedTable.readVersion(spark, path, 6).count() == 106)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, path, 3).count()
    }
    // restore a kept version as a new commit (delta against v6)
    VersionedTable.restore(path, 4)
    assert(VersionedTable.latestVersion(path) == 7)
    assert(VersionedTable.read(spark, path).count() == 104)
    // shallow clone still snapshots correctly
    val dst = tmp("graft_deltalog_clone_spec")
    VersionedTable.cloneTable(path, dst)
    assert(VersionedTable.read(spark, dst).count() == 104)
    // the materialization was an atomic temp+rename (r13 ADVICE: the
    // in-place truncating write could leave a torn fold base) — no
    // temp residue in the manifest dir, and the checkpoint parses
    assert(!graft.io.TableFs.listNames(s"$path/_manifests")
      .exists(_.endsWith(".tmp")), "atomic replace left temp files")
  }

  test("parquet checkpoint manifests: at/above the entry threshold a " +
    "checkpoint commits as a #ckpt= pointer + columnar sidecar that " +
    "round-trips every manifest field; vacuum reclaims removed and " +
    "orphan sidecars") {
    import spark.implicits._
    val path = tmp("graft_pq_ckpt_spec")
    val saved = VersionedTable.parquetCheckpointMinEntries
    VersionedTable.parquetCheckpointMinEntries = 4
    try {
      // v0: 6 files with cluster stats → parquet checkpoint
      VersionedTable.init(
        spark.range(600).select(col("id"), (col("id") % 7).as("k"))
          .repartitionByRange(6, col("id")).sortWithinPartitions("id"),
        path, clusterBy = Some("id"))
      val raw0 = manifestText(path, 0)
      assert(raw0.linesIterator.exists(_.startsWith("#ckpt=")),
        s"expected a parquet checkpoint pointer, got:\n$raw0")
      assert(!raw0.contains("zs\t"), "stats leaked into the text form")
      val m0 = VersionedTable.readManifest(path, 0)
      assert(m0.data.length == 6)
      assert(m0.data.forall(m0.rowCounts.contains), "rowCounts lost")
      assert(m0.data.forall(f => m0.stats.get(f).exists(_.contains("id"))),
        "zone stats lost through the parquet round-trip")
      assert(m0.data.forall(f => m0.nullCounts.contains(f)),
        "null counts lost")
      assert(VersionedTable.read(spark, path).count() == 600)
      // deltas on top still fold off the parquet base
      (1 to 3).foreach(i => VersionedTable.append(
        Seq((10000L + i, 1L)).toDF("id", "k"), path))
      assert(manifestText(path, 2).startsWith("#delta"))
      assert(VersionedTable.readVersion(spark, path, 3).count() == 603)
      // DVs + extra columns + blooms survive the sidecar form: force a
      // checkpoint by bumping to the interval boundary
      VersionedTable.deleteWhereDV(spark, path, col("id") === 5L)
      VersionedTable.addColumn(spark, path, "note",
        org.apache.spark.sql.types.StringType)
      VersionedTable.buildBloomIndex(spark, path, "k")
      (7 to 10).foreach(i => VersionedTable.append(
        Seq((20000L + i, 2L)).toDF("id", "k"), path))
      val v = VersionedTable.latestVersion(path)
      assert(v >= 10)
      assert(manifestText(path, 10).linesIterator
        .exists(_.startsWith("#ckpt=")), "interval checkpoint not parquet")
      val m10 = VersionedTable.readManifest(path, 10)
      assert(m10.dvs.nonEmpty, "DV refs lost")
      assert(m10.blooms.nonEmpty, "bloom refs lost")
      assert(m10.extraCols.map(_._1) == Seq("note"), "extraCols lost")
      assert(VersionedTable.read(spark, path).count() == 606)
      // orphan sidecar (crashed commit) + pre-horizon sidecars reclaim
      graft.io.TableFs.writeUtf8Overwrite(
        s"$path/_manifests/v00010.deadbeef.checkpoint.parquet", "junk")
      val (_, reclaimed) = VersionedTable.vacuum(path, 2)
      assert(reclaimed > 0)
      val left = graft.io.TableFs.listNames(s"$path/_manifests")
        .filter(_.endsWith(".checkpoint.parquet"))
      assert(!left.contains("v00010.deadbeef.checkpoint.parquet"),
        "orphan sidecar survived vacuum")
      assert(left.forall(_.slice(1, 6).toInt >= v - 1),
        s"pre-horizon sidecars survived: $left")
      assert(VersionedTable.read(spark, path).count() == 606)
    } finally VersionedTable.parquetCheckpointMinEntries = saved
  }

  test("writeUtf8Replace: atomically replaces existing content and " +
    "creates fresh files; target is never observed torn") {
    val dir = tmp("graft_replace_spec")
    val f = s"$dir/m.txt"
    graft.io.TableFs.writeUtf8Replace(f, "first")
    assert(graft.io.TableFs.readUtf8(f) == "first")
    graft.io.TableFs.writeUtf8Replace(f, "second-longer-content")
    assert(graft.io.TableFs.readUtf8(f) == "second-longer-content")
    assert(!graft.io.TableFs.listNames(dir).exists(_.endsWith(".tmp")))
  }

  test("delta-log: idempotent streaming appends keep their batch tags " +
    "per version (appliedBatches scans raw text) and a bloom rebuild " +
    "commits as a delta") {
    import spark.implicits._
    val path = tmp("graft_deltalog_batch_spec")
    VersionedTable.init(
      spark.range(200).select(col("id"), (col("id") % 13).as("k"))
        .repartition(4), path)
    assert(VersionedTable.appendIdempotent(
      Seq((900L, 1L)).toDF("id", "k"), path, batchId = 0L))
    assert(!VersionedTable.appendIdempotent(
      Seq((900L, 1L)).toDF("id", "k"), path, batchId = 0L))
    assert(VersionedTable.appendIdempotent(
      Seq((901L, 1L)).toDF("id", "k"), path, batchId = 1L))
    assert(VersionedTable.appliedBatches(path) == Set(0L, 1L))
    assert(VersionedTable.read(spark, path).count() == 202)
    // bloom rebuild: metadata-only commit rides a delta (bfx + bf adds)
    VersionedTable.buildBloomIndex(spark, path, "id", bits = 1 << 12)
    val vb = VersionedTable.latestVersion(path)
    assert(manifestText(path, vb).startsWith("#delta"),
      "bloom rebuild should commit as a delta")
    val (open, total) = VersionedTable.keyLookupFiles(
      spark, path, vb, "id", lit(900L))
    assert(open.nonEmpty && open.length < total)
  }

  test("DV tombstones survive Hive-escaped partition keys: " +
    "deleteWhereDV on a compactPartitioned table with ':' in the key, " +
    "read through the DSv2 merge-on-read scan (r12 ADVICE)") {
    import spark.implicits._
    val path = tmp("graft_dv_escape_spec")
    VersionedTable.init(
      spark.range(60).select(col("id"),
        concat(lit("ns:"), (col("id") % 3).cast("string")).as("grp"))
        .repartition(3), path)
    VersionedTable.compactPartitioned(spark, path, "grp")
    // on-disk dirs are Hive-escaped: __pv=ns%3A0 etc.
    VersionedTable.deleteWhereDV(spark, path, col("grp") === "ns:1")
    // library read path
    assert(VersionedTable.read(spark, path)
      .where(col("grp") === "ns:1").count() == 0)
    assert(VersionedTable.read(spark, path).count() == 40)
    // DSv2 merge-on-read scan (the representation the bug hit)
    val viaScan = spark.read.format("graft-versioned").load(path)
    assert(viaScan.where(col("grp") === "ns:1").count() == 0,
      "DSv2 MoR scan resurrected tombstoned rows on an escaped key")
    assert(viaScan.count() == 40)
    // and the row-level rewrite scan: a SQL-style CoW over the DV'd
    // snapshot must not resurrect the deleted partition either
    VersionedTable.deleteWhere(spark, path, col("id") === 0L)
    assert(VersionedTable.read(spark, path).count() == 39)
    assert(VersionedTable.read(spark, path)
      .where(col("grp") === "ns:1").count() == 0)
  }

  test("TOP-N pushdown: a zero-row file (init(limit(0)) + appends) " +
    "does not crash NULLS FIRST capping (r12 ADVICE)") {
    import spark.implicits._
    val path = tmp("graft_topn_zerorow_spec")
    val base = spark.range(0).select(col("id"), col("id").as("v"))
    VersionedTable.init(base.repartition(1), path)
    VersionedTable.append(
      spark.range(100).select(col("id"),
        when(col("id") < 5, lit(null).cast("long"))
          .otherwise(col("id")).as("v"))
        .repartitionByRange(4, col("v")).sortWithinPartitions("v"),
      path, clusterBy = Some("v"))
    val df = spark.read.format("graft-versioned").load(path)
      .orderBy(col("v").asc_nulls_first).limit(3)
    // before the fix this threw NoSuchElementException at scan build
    val rows = df.collect()
    assert(rows.length == 3 && rows.forall(_.isNullAt(1)))
    // NULLS LAST leg over the same layout stays correct too
    val last = spark.read.format("graft-versioned").load(path)
      .orderBy(col("v").asc_nulls_last).limit(3).collect()
    assert(last.map(_.getLong(1)).toSeq == Seq(5L, 6L, 7L))
  }

  test("overwrite vs in-flight append (r12 ADVICE): the overwrite " +
    "deletes nothing, the append's staged files survive, both commits " +
    "land in order, and history stays time-travelable") {
    import spark.implicits._
    val path = tmp("graft_ow_race_spec")
    VersionedTable.init(
      spark.range(10).select(col("id"), lit(0L).as("tag")), path)
    // an appender stages its data (pre-commit)...
    val dir = VersionedTable.newAppendDir()
    spark.range(100, 105).select(col("id"), lit(1L).as("tag"))
      .write.parquet(s"$path/$dir")
    val staged = VersionedTable.listStagedFiles(path, dir)
    // ...and the overwrite lands FIRST (the race the old
    // delete-everything overwrite corrupted: it destroyed the staged
    // files, then the append committed a manifest referencing them)
    Seq((500L, 2L)).toDF("id", "tag")
      .write.format("graft-versioned").mode("overwrite").save(path)
    assert(VersionedTable.latestVersion(path) == 1)
    // the append rebases cleanly onto the overwritten snapshot
    val vAppend = VersionedTable.commitStagedAppend(path, staged)
    assert(vAppend == 2)
    val now = VersionedTable.read(spark, path)
    assert(now.count() == 6)
    assert(now.where(col("tag") === 2L).count() == 1)
    assert(now.where(col("tag") === 1L).count() == 5)
    // pre-overwrite snapshot still reachable
    assert(VersionedTable.readVersion(spark, path, 0).count() == 10)
  }

  test("appendConcurrent validates constraints exactly once and still " +
    "refuses a violating batch (r12 ADVICE)") {
    import spark.implicits._
    val path = tmp("graft_prevalidated_spec")
    VersionedTable.init(Seq((1L, 10L)).toDF("id", "cents"), path)
    VersionedTable.addConstraint(spark, path, "nonneg", "cents >= 0")
    val v = VersionedTable.appendConcurrent(
      Seq((2L, 20L)).toDF("id", "cents"), path)
    assert(v == 1 && VersionedTable.read(spark, path).count() == 2)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.appendConcurrent(
        Seq((3L, -1L)).toDF("id", "cents"), path)
    }
    assert(e.getMessage.contains("nonneg"))
    assert(VersionedTable.latestVersion(path) == 1)
  }
}
