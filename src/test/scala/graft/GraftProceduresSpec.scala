package graft

import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Contract tests for SQL maintenance procedures (r12 verdict item 7):
  * CALL graft.system.optimize / vacuum / restore / clone through
  * Spark's stored-procedure API, each returning a one-row result set.
  */
class GraftProceduresSpec extends SparkSpec {

  private def freshCatalog(name: String): String = {
    val wh = scratchPath(s"graft_procwh_$name")
    graft.io.FsUtil.deleteRecursively(wh)
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  test("CALL graft.system.optimize/vacuum/restore/clone drive the " +
    "full maintenance lifecycle from SQL") {
    import spark.implicits._
    val wh = freshCatalog("gproc")
    val path = s"$wh/t"
    VersionedTable.init(
      spark.range(200).select(col("id"), (col("id") % 50).as("b"))
        .repartition(6), path)
    (1 to 3).foreach(i => VersionedTable.append(
      Seq((1000L + i, 1L)).toDF("id", "b"), path))
    // optimize with clustering: one new version, banded files
    val opt = spark.sql(
      "CALL gproc.system.optimize(table => 't', target_files => 4, " +
        "cluster_by => 'b')").head()
    assert(opt.getInt(0) == 4 && opt.getInt(1) == 4,
      s"optimize result: $opt")
    val m = VersionedTable.readManifest(path, 4)
    assert(m.data.forall(f => m.stats.get(f).exists(_.contains("b"))),
      "optimize(cluster_by) left unstatted files")
    // restore the pre-optimize state as a new commit
    val rst = spark.sql(
      "CALL gproc.system.restore(table => 't', version => 3)").head()
    assert(rst.getInt(0) == 3 && rst.getInt(1) == 5)
    assert(VersionedTable.read(spark, path).count() == 203)
    // positional args + defaults work too (plain round-robin optimize)
    val opt2 = spark.sql("CALL gproc.system.optimize('t')").head()
    assert(opt2.getInt(1) == 8, s"default target_files: $opt2")
    // zorder leg
    val opt3 = spark.sql(
      "CALL gproc.system.optimize(table => 't', target_files => 4, " +
        "zorder_by => 'id,b')").head()
    val mz = VersionedTable.readManifest(path, opt3.getInt(0))
    assert(mz.data.forall(f => mz.stats.get(f).exists(byCol =>
      byCol.contains("id") && byCol.contains("b"))),
      "zorder optimize missing 2-D stats")
    // clone, then vacuum the source: the pre-optimize originals and
    // the v4 clustered files fall out of retention and reclaim
    val cl = spark.sql(
      "CALL gproc.system.clone(source => 't', target => 't2')").head()
    assert(cl.getInt(0) > 0)
    assert(VersionedTable.read(spark, s"$wh/t2").count() == 203)
    val vac = spark.sql(
      "CALL gproc.system.vacuum(table => 't', keep_versions => 2)")
      .head()
    assert(vac.getInt(0) == 6, s"vacuum removed ${vac.getInt(0)} manifests")
    assert(vac.getInt(1) > 0, "vacuum reclaimed no files")
    assert(VersionedTable.read(spark, path).count() == 203)
    intercept[Exception] {
      VersionedTable.readVersion(spark, path, 0).count()
    }
    // history procedure: the commit log from SQL (kept versions only)
    val hist = spark.sql("CALL gproc.system.history(table => 't')")
      .collect()
    assert(hist.length == 2, s"history rows: ${hist.length}")
    assert(hist.map(_.getInt(0)).sorted.toSeq ==
      VersionedTable.history(path).map(_.version))
    assert(hist.forall(!_.isNullAt(1)), "history missing timestamps")
    // SHOW PROCEDURES lists the system namespace
    val listed = spark.sql("SHOW PROCEDURES IN gproc.system")
      .collect().map(_.toString).mkString("\n")
    Seq("optimize", "vacuum", "restore", "clone", "history").foreach(n =>
      assert(listed.contains(n), s"SHOW PROCEDURES missing $n:\n$listed"))
    // unknown procedure refuses loudly
    val e = intercept[Exception] {
      spark.sql("CALL gproc.system.nope()").collect()
    }
    assert(e.getMessage.contains("unknown graft procedure") ||
      e.getMessage.toLowerCase.contains("nope"))
  }
}
