package graft

import org.apache.spark.sql.functions._

import graft.io.TableFs
import graft.ops.{MaterializedView, VersionedTable}

/** Physical-contract tests for the round-11 storage wave: deletion
  * vectors (q475), clustering-preserving OPTIMIZE (q476), exactly-once
  * streaming append (q477), and the hardened commit protocol (r10
  * ADVICE: exclusive commit points, orphan-commit recovery).
  */
class Extension85Spec extends SparkSpec {

  test("deletion vectors: delete writes NO data file, stacks across " +
    "commits, survives an append, and compaction folds vectors in") {
    import spark.implicits._
    val path = scratchPath("graft_dv_spec")
    VersionedTable.init(
      (1L to 20L).map(i => (i, i * 10L)).toDF("id", "cents")
        .repartition(2), path)
    val f0 = VersionedTable.manifestFiles(path, 0)

    VersionedTable.deleteWhereDV(spark, path, col("id") <= 5)
    assert(VersionedTable.manifestFiles(path, 1) == f0,
      "DV delete changed the data file list")
    assert(VersionedTable.manifestDvFiles(path, 1).nonEmpty)
    assert(VersionedTable.read(spark, path)
      .agg(count(lit(1))).head().getLong(0) == 15)

    // second, stacked vector
    VersionedTable.deleteWhereDV(spark, path, col("id") === 6)
    assert(VersionedTable.manifestFiles(path, 2) == f0)
    assert(VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (7L to 20L))

    // append: vectors carry over, deleted rows stay dead
    VersionedTable.append(
      Seq((21L, 210L)).toDF("id", "cents"), path)
    assert(VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (7L to 21L))
    // time travel before the deletes still serves everything
    assert(VersionedTable.readVersion(spark, path, 0)
      .agg(count(lit(1))).head().getLong(0) == 20)

    // compaction folds vectors in: no dv refs, same live rows
    VersionedTable.compact(spark, path, 2)
    val v4 = VersionedTable.latestVersion(path)
    assert(VersionedTable.manifestDvFiles(path, v4).isEmpty,
      "compaction kept deletion-vector refs")
    assert(VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (7L to 21L))
  }

  test("deletion vectors: merge and copy-on-write delete respect " +
    "existing vectors (no resurrection through the probe or rewrite)") {
    import spark.implicits._
    val path = scratchPath("graft_dv_spec2")
    VersionedTable.init(
      (1L to 10L).map(i => (i, i * 10L)).toDF("id", "cents"), path)
    VersionedTable.deleteWhereDV(spark, path, col("id") === 3)
    // merge touches the file containing id 3; the rewrite must not
    // bring id 3 back
    VersionedTable.merge(spark, path,
      Seq((5L, 999L)).toDF("id", "cents"), Seq("id"))
    val rows = VersionedTable.read(spark, path)
      .select("id", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(!rows.exists(_._1 == 3L), "merge resurrected a DV-deleted row")
    assert(rows.contains((5L, 999L)))
    // copy-on-write delete likewise
    VersionedTable.deleteWhereDV(spark, path, col("id") === 7)
    VersionedTable.deleteWhere(spark, path, col("id") === 8)
    val ids = VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L, 5L, 6L, 9L, 10L))
  }

  test("snapshot diff sees DV-only changes: rows deleted by a vector " +
    "report as removed even though the file list is unchanged") {
    import spark.implicits._
    val path = scratchPath("graft_dv_spec3")
    VersionedTable.init(
      (1L to 10L).map(i => (i, i * 10L)).toDF("id", "cents"), path)
    VersionedTable.deleteWhereDV(spark, path, col("id") <= 2)
    val d = VersionedTable.diffVersions(spark, path, 0, 1)
      .select("change", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(d == Seq(("removed", 1L), ("removed", 2L)))
  }

  test("clustered compaction: empty band intersection opens ZERO " +
    "files; post-compaction appends are read unconditionally") {
    import spark.implicits._
    val path = scratchPath("graft_cc_spec")
    VersionedTable.init(
      (0L until 100L).map(i => (i, i % 10)).toDF("id", "b")
        .repartition(4), path)
    VersionedTable.compactClustered(spark, path, 4, "id")
    val v1 = VersionedTable.latestVersion(path)
    // out-of-range band: no file intersects -> zero opened, empty read
    val (none, total) = VersionedTable.bandFiles(path, v1, "id", 1e6, 2e6)
    assert(none.isEmpty && total == 4)
    assert(VersionedTable.readVersionBand(spark, path, v1, "id", 1e6, 2e6)
      .isEmpty)
    // in-range band prunes below total
    val (some, _) = VersionedTable.bandFiles(path, v1, "id", 0.0, 10.0)
    assert(some.nonEmpty && some.length < total,
      s"band [0,10) over 4 range-clustered files opened ${some.length}")
    // an append has no stats: band probes must still read it
    VersionedTable.append(Seq((5L, 5L)).toDF("id", "b"), path)
    val v2 = VersionedTable.latestVersion(path)
    val got = VersionedTable
      .readVersionBand(spark, path, v2, "id", 5.0, 6.0)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(5L, 5L),
      "post-compaction append was pruned away (unstatted files must open)")
  }

  test("appendIdempotent: replayed batch is a no-op; a crashed commit " +
    "(orphan data dir, no manifest) recovers on replay") {
    import spark.implicits._
    val path = scratchPath("graft_ai_spec")
    VersionedTable.init(Seq((1L, 1L)).toDF("id", "v"), path)
    assert(VersionedTable.appendIdempotent(
      Seq((2L, 2L)).toDF("id", "v"), path, 7L))
    assert(!VersionedTable.appendIdempotent(
      Seq((2L, 2L)).toDF("id", "v"), path, 7L),
      "replayed batch id appended again")
    assert(VersionedTable.latestVersion(path) == 1)
    assert(VersionedTable.appliedBatches(path) == Set(7L))

    // crash simulation: data for v2 lands but the manifest never does
    Seq((3L, 3L)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$path/c00002")
    // replayed commit must overwrite the orphan and commit cleanly
    assert(VersionedTable.appendIdempotent(
      Seq((3L, 3L)).toDF("id", "v"), path, 8L))
    assert(VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("manifest commit is create-exclusive: a second writer racing " +
    "the same version fails loudly instead of clobbering") {
    import spark.implicits._
    val path = scratchPath("graft_excl_spec")
    VersionedTable.init(Seq((1L, 1L)).toDF("id", "v"), path)
    // both 'writers' saw v0; writer A commits v1...
    VersionedTable.append(Seq((2L, 2L)).toDF("id", "v"), path)
    // ...writer B tries to commit v1 directly (same manifest file)
    intercept[Exception] {
      TableFs.writeUtf8Exclusive(s"$path/_manifests/v00001.txt", "evil")
    }
    // the committed manifest is intact
    assert(VersionedTable.read(spark, path)
      .agg(count(lit(1))).head().getLong(0) == 2)
  }

  test("MaterializedView commit is create-exclusive too") {
    import spark.implicits._
    val path = scratchPath("graft_mv_excl_spec")
    MaterializedView.create(
      Seq((1L, 10L)).toDF("k", "v"), Seq("k"), "v", path)
    intercept[Exception] {
      TableFs.writeUtf8Exclusive(s"$path/v00000/_commit", "evil")
    }
    assert(MaterializedView.read(spark, path).count() == 1)
  }

  test("applyCdc: upserts and deletes land in ONE commit; a key with " +
    "both ops resolves to the upsert; unseen deletes no-op; replay " +
    "refuses") {
    import spark.implicits._
    val path = scratchPath("graft_cdc_spec")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "cents"), path)
    val batch = Seq(
      (2L, 99L, 1),   // update id 2
      (3L, 0L, -1),   // delete id 3
      (4L, 40L, 1),   // insert id 4
      (5L, 1L, -1),   // delete of an unseen key: no-op
      (6L, 7L, -1), (6L, 60L, 1) // both ops on one key: +1 wins
    ).toDF("id", "cents", "op")
    assert(VersionedTable.applyCdcIdempotent(spark, path, batch,
      Seq("id"), "op", 0L))
    // EXACTLY one new version — upserts and deletes were atomic
    assert(VersionedTable.latestVersion(path) == 1)
    val rows = VersionedTable.read(spark, path)
      .select("id", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows == Seq((1L, 10L), (2L, 99L), (4L, 40L), (6L, 60L)))
    // time travel: the pre-CDC snapshot is intact
    assert(VersionedTable.readVersion(spark, path, 0)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // redelivery refuses, no version minted
    assert(!VersionedTable.applyCdcIdempotent(spark, path, batch,
      Seq("id"), "op", 0L))
    assert(VersionedTable.latestVersion(path) == 1)
  }

  test("URI-encoded table paths: deletes apply on a path containing " +
    "a space (the r10 silent-corruption shape)") {
    import spark.implicits._
    val path = scratchPath("graft dv spec enc")
    VersionedTable.init(
      (1L to 10L).map(i => (i, i * 10L)).toDF("id", "cents"), path)
    VersionedTable.deleteWhere(spark, path, col("id") <= 3)
    assert(VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (4L to 10L),
      "copy-on-write delete missed on an encodable path")
    VersionedTable.deleteWhereDV(spark, path, col("id") === 4)
    assert(VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (5L to 10L),
      "DV delete missed on an encodable path")
    VersionedTable.merge(spark, path,
      Seq((5L, 555L)).toDF("id", "cents"), Seq("id"))
    val rows = VersionedTable.read(spark, path)
      .select("id", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows(5L) == 555L && rows.size == 6,
      "merge left duplicate/stale keys on an encodable path")
  }
}
