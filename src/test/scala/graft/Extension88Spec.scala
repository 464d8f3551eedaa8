package graft

import org.apache.spark.sql.functions._

import graft.io.TableFs
import graft.ops.VersionedTable

/** Contract pins for the round-11 fourth-wave verbs: timestamp time
  * travel (q487), RESTORE (q488), shallow CLONE (q489) — the edge
  * behavior the oracle queries can't express (refusals, monotonicity,
  * source-intactness at the byte level, clone-of-clone).
  */
class Extension88Spec extends SparkSpec {

  private def mk(path: String): Unit = {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, i % 10, i * 2L))
      .toDF("id", "b", "cents")
    VersionedTable.init(df.where(col("id") < 100).repartition(2), path)
    VersionedTable.append(
      df.where(col("id") >= 100 && col("id") < 200).repartition(2), path)
    VersionedTable.append(df.where(col("id") >= 200).repartition(2), path)
  }

  test("commit timestamps are strictly monotonic; timestamp time " +
    "travel resolves between-commit probes to the EARLIER version and " +
    "refuses probes before the first commit") {
    val path = scratchPath("graft_ts_spec")
    mk(path)
    val h = VersionedTable.history(path)
    assert(h.map(_.version) == Seq(0, 1, 2))
    val ts = h.map(_.tsMillis.get)
    assert(ts == ts.sorted && ts.distinct == ts,
      s"timestamps not strictly monotonic: $ts")
    // exact hit
    assert(VersionedTable.versionAsOfTimestamp(path, ts(1)) == 1)
    // between commits → earlier version
    assert(VersionedTable.versionAsOfTimestamp(path, ts(2) - 1) == 1)
    // after the last → latest
    assert(VersionedTable.versionAsOfTimestamp(path, ts(2) + 1000) == 2)
    // before the first → loud refusal
    val e = intercept[IllegalArgumentException] {
      VersionedTable.versionAsOfTimestamp(path, ts(0) - 1)
    }
    assert(e.getMessage.contains("no committed version"))
    // row-level: as-of ts(0) sees only v0
    assert(VersionedTable.readAsOfTimestamp(spark, path, ts(0))
      .count() == 100)
    // DSv2 option resolves through the same clock
    assert(spark.read.format("graft-versioned")
      .option("timestampAsOf", ts(1).toString).load(path).count() == 200)
  }

  test("restore re-commits a historical manifest as a NEW version: " +
    "zero data files written, bad state stays in history, deletion " +
    "vectors carry through the restore") {
    val path = scratchPath("graft_restore_spec")
    mk(path) // v0..v2: 300 rows
    VersionedTable.deleteWhereDV(spark, path, col("b") === 3) // v3
    val withDv = VersionedTable.read(spark, path).count()
    assert(withDv == 270)
    VersionedTable.deleteWhere(spark, path, col("id") < 150) // v4: bad
    val dirsBefore = TableFs.listNames(path).filter(_.matches("c\\d{5}|a[0-9a-f]{12}"))
    VersionedTable.restore(path, 3) // v5 == v3
    // no new commit directory appeared
    assert(TableFs.listNames(path).filter(_.matches("c\\d{5}|a[0-9a-f]{12}"))
      == dirsBefore)
    assert(VersionedTable.latestVersion(path) == 5)
    // restored state == v3 exactly, DV still applied
    assert(VersionedTable.read(spark, path).count() == 270)
    assert(VersionedTable.read(spark, path)
      .where(col("b") === 3).isEmpty)
    // the bad intermediate state is still reachable for audit
    assert(VersionedTable.readVersion(spark, path, 4).count() < 270)
    // file lists of v5 and v3 are identical
    assert(VersionedTable.manifestFiles(path, 5).sorted ==
      VersionedTable.manifestFiles(path, 3).sorted)
    // restoring a vacuumed version refuses loudly
    VersionedTable.vacuum(path, 2)
    val e = intercept[Exception] { VersionedTable.restore(path, 0) }
    assert(e.getMessage.contains("no version"))
  }

  test("shallow clone: zero data copied, divergence is two-way " +
    "isolated (clone CoW never touches source bytes; source mutations " +
    "never reach the clone), metadata count carries, clone-of-clone " +
    "works, existing target refuses") {
    import spark.implicits._
    val src = scratchPath("graft_clone_spec_src")
    val dst = scratchPath("graft_clone_spec_dst")
    val dst2 = scratchPath("graft_clone_spec_dst2")
    mk(src)
    TableFs.deleteRecursive(dst)
    TableFs.deleteRecursive(dst2)
    VersionedTable.cloneTable(src, dst)
    // zero-copy: no local commit dirs in the clone
    assert(!TableFs.listNames(dst).exists(_.matches("c\\d{5}|a[0-9a-f]{12}")))
    assert(VersionedTable.read(spark, dst).count() == 300)
    // manifest row counts carried → metadata count works on the clone
    assert(VersionedTable.metadataCount(dst, 0).contains(300L))
    // CoW delete on the clone rewrites INTO the clone
    val srcBytes = TableFs.listNames(s"$src/c00000")
    VersionedTable.deleteWhere(spark, dst, col("b") === 0)
    assert(TableFs.listNames(dst).exists(_.matches("c\\d{5}|a[0-9a-f]{12}")),
      "clone CoW did not write locally")
    assert(TableFs.listNames(s"$src/c00000") == srcBytes,
      "clone CoW touched the source commit dir")
    assert(VersionedTable.read(spark, dst).count() == 270)
    assert(VersionedTable.read(spark, src).count() == 300,
      "source changed after clone mutation")
    // source mutations never reach the clone
    VersionedTable.append(
      Seq((9999L, 5L, 1L)).toDF("id", "b", "cents"), src)
    assert(VersionedTable.read(spark, src).count() == 301)
    assert(VersionedTable.read(spark, dst).count() == 270)
    // clone-of-clone: absolute refs pass through
    VersionedTable.cloneTable(dst, dst2)
    assert(VersionedTable.read(spark, dst2).count() == 270)
    // existing target refuses
    val e = intercept[IllegalArgumentException] {
      VersionedTable.cloneTable(src, dst)
    }
    assert(e.getMessage.contains("already exists"))
  }
}
