package graft

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Contract pins for CHECK constraints on the versioned table (q493):
  * SQL-standard NULL semantics, refusal atomicity across every write
  * verb, add-time validation of existing data, drop re-allows, and the
  * streaming interplay (a refused batch stays unrecorded so the fixed
  * batch can re-commit under the same id).
  */
class Extension89Spec extends SparkSpec {

  test("CHECK constraints: SQL NULL semantics, per-verb atomic " +
    "refusal (append / merge / CDC / idempotent append), add-time " +
    "validation, drop re-allows") {
    import spark.implicits._
    val path = scratchPath("graft_check_spec")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "cents"), path)
    // add-time validation: existing data already violates → refused
    val e0 = intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, path, "big", "cents >= 100")
    }
    assert(e0.getMessage.contains("existing data violates"))
    assert(VersionedTable.constraints(path).isEmpty)
    VersionedTable.addConstraint(spark, path, "nonneg", "cents >= 0")
    // NULL passes (SQL CHECK: violated only when FALSE)
    VersionedTable.append(
      Seq((3L, Option.empty[Long])).toDF("id", "cents"), path)
    assert(VersionedTable.read(spark, path).count() == 3)
    // append refusal is atomic
    val v1 = VersionedTable.latestVersion(path)
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((4L, -5L)).toDF("id", "cents"), path)
    }
    assert(e1.getMessage.contains("nonneg"))
    assert(VersionedTable.latestVersion(path) == v1)
    // merge refusal: a violating UPDATE batch never lands
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, path,
        Seq((1L, -1L)).toDF("id", "cents"), Seq("id"))
    }
    assert(e2.getMessage.contains("nonneg"))
    assert(VersionedTable.latestVersion(path) == v1)
    // CDC refusal: upsert rows are gated (delete rows are not data)
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.applyCdc(spark, path,
        Seq((2L, -7L, 1)).toDF("id", "cents", "op"), Seq("id"), "op")
    }
    assert(e3.getMessage.contains("nonneg"))
    // ...but a delete-only CDC batch passes (op=-1 rows carry no data)
    VersionedTable.applyCdc(spark, path,
      Seq((3L, 0L, -1)).toDF("id", "cents", "op"), Seq("id"), "op")
    assert(VersionedTable.read(spark, path).count() == 2)
    // idempotent append refusal leaves the batch UNRECORDED, so the
    // fixed batch re-commits under the same id
    intercept[IllegalArgumentException] {
      VersionedTable.appendIdempotent(
        Seq((9L, -9L)).toDF("id", "cents"), path, 7L)
    }
    assert(!VersionedTable.appliedBatches(path).contains(7L))
    assert(VersionedTable.appendIdempotent(
      Seq((9L, 9L)).toDF("id", "cents"), path, 7L))
    // drop re-allows
    VersionedTable.dropConstraint(path, "nonneg")
    VersionedTable.append(Seq((10L, -1L)).toDF("id", "cents"), path)
    assert(VersionedTable.read(spark, path)
      .where(col("cents") < 0).count() == 1)
  }
  test("CHECK constraints survive a data OVERWRITE and gate the " +
    "overwriting batch (r11 ADVICE: init silently dropped them)") {
    import spark.implicits._
    val path = scratchPath("graft_constraint_overwrite_spec")
    // constraints now SURVIVE overwrite, so a prior run's table must
    // be fully removed, not just re-inited
    graft.io.FsUtil.deleteRecursively(path)
    VersionedTable.init(Seq((1L, 5L)).toDF("id", "cents"), path)
    VersionedTable.addConstraint(spark, path, "nonneg", "cents >= 0")
    // violating overwrite: refused, table unchanged, constraint intact
    val e = intercept[IllegalArgumentException] {
      VersionedTable.init(Seq((2L, -3L)).toDF("id", "cents"), path)
    }
    assert(e.getMessage.contains("nonneg"))
    assert(VersionedTable.read(spark, path).count() == 1)
    assert(VersionedTable.constraints(path).map(_._1) == Seq("nonneg"))
    // clean overwrite: data replaced, constraint STILL gates appends
    VersionedTable.init(Seq((3L, 7L)).toDF("id", "cents"), path)
    assert(VersionedTable.read(spark, path).head().getLong(0) == 3L)
    assert(VersionedTable.constraints(path).map(_._1) == Seq("nonneg"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((4L, -1L)).toDF("id", "cents"), path)
    }
    assert(e2.getMessage.contains("nonneg"))
    // the DSv2 overwrite path rides the same verb
    val e3 = intercept[Exception] {
      Seq((5L, -9L)).toDF("id", "cents").write
        .format("graft-versioned").mode("overwrite").save(path)
    }
    assert(e3.getMessage.contains("nonneg") ||
      Option(e3.getCause).exists(_.getMessage.contains("nonneg")))
    assert(VersionedTable.read(spark, path).head().getLong(0) == 3L)
  }
}
