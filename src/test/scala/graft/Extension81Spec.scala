package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.io.{Sources, Tables}
import graft.ops.{MaterializedView, VersionedTable}

/** Physical-contract tests for the round-10 second wave: zone-map file
  * skipping (q463), incremental MV maintenance (q464), versioned
  * snapshot storage (q465). Value-vs-oracle equality is the driver
  * gate's job; these pin what the oracle CANNOT see — which files a
  * read touches, which files a maintenance cycle rewrites, and that
  * historical snapshots stay immutable.
  */
class Extension81Spec extends SparkSpec {

  test("zone map: the band read consults the manifest and PRUNES — " +
    "few files selected, result identical to the full-scan filter") {
    val base = scratchPath("graft_zonemap_spec")
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("value"))
    Sources.writeWithZoneMap(ev, base, "value", 16)

    val (sel, total) = Sources.zoneMapFiles(spark, base, 30.0, 40.0)
    assert(total == 16, s"expected 16 data files, manifest saw $total")
    // range clustering puts a ~10-unit band of a ~330-unit range into a
    // handful of zones; > half the files pruned is the loose invariant
    assert(sel.nonEmpty && sel.length <= total / 2,
      s"band selected ${sel.length} of $total files — no skipping")

    val pruned = Sources.readZoneMapped(spark, base, "value", 30.0, 40.0)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val full = ev.where(col("value") >= 30.0 && col("value") < 40.0)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(pruned.nonEmpty && pruned.sameElements(full))
  }

  test("zone map: a band outside every zone opens ZERO files and " +
    "returns an empty frame with the table schema") {
    val base = scratchPath("graft_zonemap_spec2")
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("value"))
    Sources.writeWithZoneMap(ev, base, "value", 8)
    val (sel, total) = Sources.zoneMapFiles(spark, base, 1.0e9, 2.0e9)
    assert(sel.isEmpty && total == 8)
    val out = Sources.readZoneMapped(spark, base, "value", 1.0e9, 2.0e9)
    assert(out.columns.toSeq == Seq("event_id", "value"))
    assert(out.count() == 0L)
  }

  test("MV maintenance: applyDelta commits a NEW version and leaves " +
    "the previous one intact; emptied groups disappear") {
    import spark.implicits._
    val path = scratchPath("graft_mv_spec")
    val base = Seq((1L, 10L), (1L, 20L), (2L, 5L))
      .toDF("k", "cents")
    MaterializedView.create(base, Seq("k"), "cents", path)
    assert(MaterializedView.latestVersion(path) == 0)

    // delete BOTH of key 1's rows and insert a new key 3
    val delta = Seq((1L, 10L, -1L), (1L, 20L, -1L), (3L, 7L, 1L))
      .toDF("k", "cents", "op")
    MaterializedView.applyDelta(spark, path, delta, Seq("k"), "cents", "op")
    assert(MaterializedView.latestVersion(path) == 1)

    // previous version still serves yesterday's answer (write-then-swap)
    val v0 = spark.read.parquet(s"$path/v00000")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(v0.toSeq == Seq((1L, 2L, 30L), (2L, 1L, 5L)))

    val v1 = MaterializedView.read(spark, path)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // key 1 reached zero count and is GONE, exactly as a recompute
    assert(v1.toSeq == Seq((2L, 1L, 5L), (3L, 1L, 7L)))
  }

  test("MV maintenance: a second delta merges associatively — chained " +
    "deltas equal the one-shot recompute") {
    import spark.implicits._
    val path = scratchPath("graft_mv_spec2")
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    MaterializedView.create(ev.where(col("event_id") % 4 =!= 0),
      Seq("user_id"), "cents", path)
    MaterializedView.applyDelta(spark, path,
      ev.where(col("event_id") % 4 === 0).withColumn("op", lit(1L)),
      Seq("user_id"), "cents", "op")
    MaterializedView.applyDelta(spark, path,
      ev.where(col("event_id") % 5 === 0).withColumn("op", lit(-1L)),
      Seq("user_id"), "cents", "op")
    val got = MaterializedView.read(spark, path)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = ev.where(col("event_id") % 5 =!= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("mv_n"),
        sum("cents").as("mv_sum"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  private def dataFilesOnDisk(path: String): Set[String] = {
    val p = Paths.get(path)
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      .map(f => p.relativize(f).toString).toSet
  }

  test("versioned table: copy-on-write delete rewrites ONLY files that " +
    "contain matching rows; clean files carry over by reference and " +
    "historical snapshots stay readable") {
    import spark.implicits._
    val path = scratchPath("graft_vtab_spec")
    // two files per commit, keyed so one file holds all the deletions:
    // repartitionByRange on flag puts flag=1 rows into their own file
    val base = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1))
      .toDF("id", "flag").repartitionByRange(2, col("flag"))
    VersionedTable.init(base, path)
    val add = Seq((5L, 0), (6L, 0)).toDF("id", "flag")
      .repartitionByRange(1, col("flag"))
    VersionedTable.append(add, path)
    val v1Files = VersionedTable.manifestFiles(path, 1)
    val v0Files = VersionedTable.manifestFiles(path, 0)
    assert(v0Files.toSet.subsetOf(v1Files.toSet),
      "append must not touch existing files")

    VersionedTable.deleteWhere(spark, path, col("flag") === 1)
    val v2Files = VersionedTable.manifestFiles(path, 2)
    // the flag=0 files (base's clean file + the appended file) carry
    // over by reference; the flag=1 file is de-referenced
    val carried = v1Files.toSet.intersect(v2Files.toSet)
    assert(carried.nonEmpty, "no clean file carried over by reference")
    val dropped = v1Files.toSet.diff(v2Files.toSet)
    assert(dropped.nonEmpty, "delete de-referenced no file")

    // current snapshot: flag=1 rows gone
    val v2 = VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(v2.toSeq == Seq(1L, 2L, 5L, 6L))
    // time travel: v1 still shows the deleted rows — its files were
    // de-referenced, never removed from disk
    val v1 = VersionedTable.readVersion(spark, path, 1)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(v1.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val v0 = VersionedTable.readVersion(spark, path, 0)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(v0.toSeq == Seq(1L, 2L, 3L, 4L))
    // every historical file is still on disk
    val disk = dataFilesOnDisk(path)
    (v0Files ++ v1Files ++ v2Files).foreach(f =>
      assert(disk.contains(f), s"historical data file missing: $f"))
  }

  test("versioned table: deleteWhere with no matching rows commits a " +
    "pure-reference manifest (zero files rewritten)") {
    import spark.implicits._
    val path = scratchPath("graft_vtab_spec2")
    VersionedTable.init(Seq((1L, 0), (2L, 0)).toDF("id", "flag"), path)
    val before = dataFilesOnDisk(path)
    VersionedTable.deleteWhere(spark, path, col("flag") === 99)
    assert(VersionedTable.manifestFiles(path, 1) ==
      VersionedTable.manifestFiles(path, 0))
    assert(dataFilesOnDisk(path) == before,
      "no-op delete must write no data file")
  }
}
