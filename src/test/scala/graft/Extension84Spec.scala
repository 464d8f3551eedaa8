package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Physical-contract tests for the round-10 fifth wave: MERGE upsert
  * (q472) and OPTIMIZE compaction (q473) on the versioned table.
  */
class Extension84Spec extends SparkSpec {

  private def dataFilesOnDisk(path: String): Set[String] = {
    val p = Paths.get(path)
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      .map(f => p.relativize(f).toString).toSet
  }

  test("merge: files with no matched key carry over BY REFERENCE; " +
    "matched keys are replaced, new keys appended, and the pre-merge " +
    "snapshot still reads the old payloads") {
    import spark.implicits._
    val path = scratchPath("graft_vmerge_spec")
    // two files: flag=0 rows (ids 1,2) and flag=1 rows (ids 3,4)
    val base = Seq((1L, 0, 10L), (2L, 0, 20L), (3L, 1, 30L), (4L, 1, 40L))
      .toDF("id", "flag", "cents").repartitionByRange(2, col("flag"))
    VersionedTable.init(base, path)
    val v0Files = VersionedTable.manifestFiles(path, 0)
    assert(v0Files.length == 2)

    // update id 3 (lives in the flag=1 file only) and insert id 5
    val updates = Seq((3L, 1, 99L), (5L, 0, 50L))
      .toDF("id", "flag", "cents")
    VersionedTable.merge(spark, path, updates, Seq("id"))

    val v1Files = VersionedTable.manifestFiles(path, 1)
    val carried = v0Files.toSet.intersect(v1Files.toSet)
    assert(carried.size == 1,
      s"expected exactly the untouched flag=0 file carried, got $carried")

    val v1 = VersionedTable.read(spark, path)
      .select("id", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(v1.toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 99L), (4L, 40L), (5L, 50L)))

    // time travel: v0 still shows the pre-merge payload of id 3
    val v0 = VersionedTable.readVersion(spark, path, 0)
      .select("id", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(v0.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
  }

  test("merge with keys matching NOTHING appends without rewriting " +
    "any existing file") {
    import spark.implicits._
    val path = scratchPath("graft_vmerge_spec2")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "cents"), path)
    val v0Files = VersionedTable.manifestFiles(path, 0)
    VersionedTable.merge(spark, path,
      Seq((9L, 90L)).toDF("id", "cents"), Seq("id"))
    val v1Files = VersionedTable.manifestFiles(path, 1)
    assert(v0Files.toSet.subsetOf(v1Files.toSet),
      "pure-insert merge rewrote an existing file")
    val v1 = VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(v1.toSeq == Seq(1L, 2L, 9L))
  }

  test("compaction: the new version has the target file count and " +
    "identical data; every pre-compaction snapshot stays readable " +
    "from files still on disk") {
    import spark.implicits._
    val path = scratchPath("graft_vcompact_spec")
    VersionedTable.init(
      (1L to 20L).map(i => (i, i * 10L)).toDF("id", "cents")
        .repartition(4), path)
    VersionedTable.append(
      (21L to 30L).map(i => (i, i * 10L)).toDF("id", "cents")
        .repartition(3), path)
    assert(VersionedTable.manifestFiles(path, 1).length == 7)

    VersionedTable.compact(spark, path, 2)
    assert(VersionedTable.manifestFiles(path, 2).length == 2)
    val after = VersionedTable.read(spark, path)
      .select("id", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(after.toSeq == (1L to 30L).map(i => (i, i * 10L)))

    // history intact: v1's fragmented files survive on disk and read
    val v1 = VersionedTable.readVersion(spark, path, 1)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(v1.toSeq == (1L to 30L))
    val disk = dataFilesOnDisk(path)
    VersionedTable.manifestFiles(path, 1).foreach(f =>
      assert(disk.contains(f), s"compaction deleted historical file $f"))
  }

  test("schema evolution: merge carrying a NEW column null-fills the " +
    "rewritten survivors; old snapshots keep their original schema") {
    import spark.implicits._
    val path = scratchPath("graft_vevolve_spec")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "cents"), path)
    // the update batch introduces `tag` — replaces id 2, inserts id 3
    VersionedTable.merge(spark, path,
      Seq((2L, 25L, "fix"), (3L, 30L, "new")).toDF("id", "cents", "tag"),
      Seq("id"))
    val v1 = VersionedTable.read(spark, path)
      .select("id", "cents", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      .sortBy(_._1)
    assert(v1.toSeq == Seq((1L, 10L, None), (2L, 25L, Some("fix")),
      (3L, 30L, Some("new"))))
    // time travel: v0 never learns the new column
    assert(VersionedTable.readVersion(spark, path, 0)
      .columns.toSeq == Seq("id", "cents"))
  }

  test("schema evolution: a diff straddling the evolving commit " +
    "reports the real changes only — legacy rows and their " +
    "null-extended selves never diff") {
    import spark.implicits._
    val path = scratchPath("graft_vevolve_spec2")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "cents"), path)
    VersionedTable.append(
      Seq((3L, 30L, "s1")).toDF("id", "cents", "src"), path)
    val d01 = VersionedTable.diffVersions(spark, path, 0, 1)
      .select("change", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(d01.toSeq == Seq(("added", 3L)),
      s"evolution-straddling diff reported phantoms: ${d01.toSeq}")
    // and the diff output carries the union schema
    assert(VersionedTable.diffVersions(spark, path, 0, 1)
      .columns.toSet == Set("id", "cents", "src", "change"))
  }
}
