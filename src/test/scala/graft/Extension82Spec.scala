package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{MaterializedView, VersionedTable}

/** Physical-contract tests for the round-10 third wave: exactly-once MV
  * maintenance (q467), file-pruned snapshot diff (q468), and the
  * MapState dictionary (q469). As with Extension81Spec, the driver gate
  * owns value-vs-oracle equality; these pin the redelivery, pruning,
  * and state contracts the oracle can't observe.
  */
class Extension82Spec extends SparkSpec {

  test("exactly-once MV: a re-delivered batch id is a NO-OP — no new " +
    "version, identical contents; a fresh id still applies") {
    import spark.implicits._
    val path = scratchPath("graft_smv_spec")
    MaterializedView.create(
      Seq((1L, 10L), (2L, 5L)).toDF("k", "cents"), Seq("k"), "cents", path)
    val delta = Seq((1L, 7L, 1L), (3L, 2L, 1L)).toDF("k", "cents", "op")

    MaterializedView.applyDeltaIdempotent(spark, path, delta,
      Seq("k"), "cents", "op", batchId = 0L)
    val vAfterFirst = MaterializedView.latestVersion(path)
    val afterFirst = MaterializedView.read(spark, path)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(vAfterFirst == 1)
    assert(afterFirst.toSeq == Seq((1L, 2L, 17L), (2L, 1L, 5L), (3L, 1L, 2L)))
    assert(MaterializedView.appliedBatches(path) == Set(0L))

    // redelivery: same batch id, same delta — MUST change nothing
    MaterializedView.applyDeltaIdempotent(spark, path, delta,
      Seq("k"), "cents", "op", batchId = 0L)
    assert(MaterializedView.latestVersion(path) == vAfterFirst,
      "re-delivered batch created a new version")
    val afterReplay = MaterializedView.read(spark, path)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(afterReplay.sameElements(afterFirst),
      "re-delivered batch changed the MV")

    // a genuinely new batch still applies
    MaterializedView.applyDeltaIdempotent(spark, path,
      Seq((2L, 5L, -1L)).toDF("k", "cents", "op"),
      Seq("k"), "cents", "op", batchId = 1L)
    assert(MaterializedView.latestVersion(path) == 2)
    assert(MaterializedView.appliedBatches(path) == Set(0L, 1L))
    val afterSecond = MaterializedView.read(spark, path)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(afterSecond.toSeq == Seq((1L, 2L, 17L), (3L, 1L, 2L)))
  }

  test("snapshot diff: shared manifest files never enter the scan, and " +
    "the diff of a version with itself reads nothing and returns " +
    "nothing") {
    import spark.implicits._
    val path = scratchPath("graft_vdiff_spec")
    val base = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1))
      .toDF("id", "flag").repartitionByRange(2, col("flag"))
    VersionedTable.init(base, path)
    VersionedTable.append(
      Seq((5L, 0)).toDF("id", "flag").repartitionByRange(1, col("flag")),
      path)
    VersionedTable.deleteWhere(spark, path, col("flag") === 1)

    // v1 -> v2: only the flag=1 file was de-referenced; the diff scans
    // the non-shared files only — assert by VALUE that shared rows
    // (ids 1,2 in base's clean file; id 5 appended) never surface
    val d12 = VersionedTable.diffVersions(spark, path, 1, 2)
      .select("change", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(d12.toSeq == Seq(("removed", 3L), ("removed", 4L)))

    // v0 -> v1: pure append — diff is exactly the appended rows
    val d01 = VersionedTable.diffVersions(spark, path, 0, 1)
      .select("change", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(d01.toSeq == Seq(("added", 5L)))

    // identical snapshots: every file shared → both legs empty
    val d22 = VersionedTable.diffVersions(spark, path, 2, 2)
    assert(d22.count() == 0L)
  }

  test("q469 dictionary equals the batch groupBy (count + first-seen " +
    "micros) computed in-Spark") {
    val got = SparkEntry.queries("q469_tws_first_seen_dict")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val want = Tables.load(spark, sf0001, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).cast("long").as("n"),
        min(unix_micros(col("ts").cast("timestamp"))).as("first_us"))
      .orderBy("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(got.nonEmpty && got.sameElements(want))
  }
}
