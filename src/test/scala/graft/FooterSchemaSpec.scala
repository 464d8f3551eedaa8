package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.io.Footers
import graft.ops.VersionedTable

/** Versioned-table reads take their schema from the listed files'
  * parquet footers on the driver (graft.io.Footers), not from a
  * `mergeSchema` inference job. Each case checks the schemas of
  * `readVersion`, `readCdc` and the `graft-versioned` source against that
  * inference over the same files — kept here only as the reference —
  * and that building the reads starts no Spark job.
  */
class FooterSchemaSpec extends SparkSpec {

  import spark.implicits._

  private def abs(path: String, rels: Seq[String]): Seq[String] =
    rels.map(VersionedTable.absPath(path, _))

  private def inferred(path: String, rels: Seq[String]): StructType =
    spark.read.option("mergeSchema", "true").parquet(abs(path, rels): _*)
      .schema

  /** What `readVersion(v)` serves, built from the inferred file schema:
    * ALTER-added columns appended, then the column map applied.
    */
  private def expectedSchema(path: String, v: Int): StructType = {
    val m = VersionedTable.readManifest(path, v)
    val full = m.extraCols.foldLeft(inferred(path, m.data)) {
      case (st, (n, dt)) => if (st.fieldNames.contains(n)) st else st.add(n, dt)
    }
    if (m.colMap.isEmpty) full
    else StructType(m.colMap.map { case (l, p) => full(p).copy(name = l) })
  }

  private var groups = 0

  /** Spark jobs started by `body`, counted by job group (fresh names per
    * call: a group keeps its jobs). The positive control, an inferring
    * read of `control` in a second group, does start one, and the
    * listener bus is FIFO: once its job is visible, any job `body`
    * started is too.
    */
  private def jobsStarted(control: Seq[String])(body: => Unit): Int = {
    val sc = spark.sparkContext
    groups += 1
    val (read, infer) = (s"graft_footer_read_$groups", s"graft_footer_infer_$groups")
    try {
      sc.setJobGroup(read, "footer-schema read")
      body
      sc.setJobGroup(infer, "inferring read")
      spark.read.parquet(control: _*)
      val deadline = System.nanoTime() + 30000000000L
      while (sc.statusTracker.getJobIdsForGroup(infer).isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup(infer).nonEmpty,
        "inference job never seen: the count means nothing")
      sc.statusTracker.getJobIdsForGroup(read).length
    } finally sc.clearJobGroup()
  }

  /** The parity and zero-job checks for version `v` of the table `t` in
    * catalog `cat` (at `path`), plus `readCdc` when the commit wrote a
    * CDC sidecar.
    */
  private def check(cat: String, path: String, v: Int): Unit = {
    val m = VersionedTable.readManifest(path, v)
    val cdc = VersionedTable.commitActions(path, v).cdcFiles
    assert(Footers.schema(spark, abs(path, m.data)) == inferred(path, m.data))
    var read: DataFrame = null
    var cdcRead: DataFrame = null
    val jobs = jobsStarted(abs(path, m.data)) {
      read = VersionedTable.readVersion(spark, path, v)
      if (cdc.nonEmpty) cdcRead = VersionedTable.readCdc(spark, path, v)
    }
    assert(jobs == 0, s"building the reads of v$v started $jobs job(s)")
    val expected = expectedSchema(path, v)
    assert(read.schema == expected, s"v$v readVersion")
    if (cdc.nonEmpty)
      assert(cdcRead.schema == inferred(path, cdc), s"v$v readCdc")
    assert(spark.read.format("graft-versioned")
      .option("versionAsOf", v.toString).load(path).schema == expected,
      s"v$v graft-versioned")
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $v").schema ==
      expected, s"v$v catalog")
  }

  /** The path of table `t` in a GraftCatalog named `cat`. */
  private def table(cat: String): String = {
    val wh = scratch(cat).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s"$wh/t"
  }

  test("plain table: init and append") {
    val path = table("fs_plain")
    VersionedTable.init(Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("id", "cents", "name").repartition(2), path)
    VersionedTable.append(Seq((3L, 30L, "c")).toDF("id", "cents", "name"), path)
    (0 to 1).foreach(check("fs_plain", path, _))
  }

  test("merge carrying a new column, then an append carrying another: " +
    "the footers merge in manifest order; the CDC sidecars match too") {
    val path = table("fs_evolve")
    VersionedTable.init(Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("id", "cents").repartition(1), path)
    VersionedTable.enableChangeDataFeed(path)
    VersionedTable.merge(spark, path,
      Seq((2L, 22L, "n2"), (4L, 40L, "n4")).toDF("id", "cents", "note"),
      Seq("id"))
    VersionedTable.append(
      Seq((5L, "t5", 50L)).toDF("id", "tag", "cents"), path)
    VersionedTable.merge(spark, path,
      Seq((1L, 11L, "n1", "t1")).toDF("id", "cents", "note", "tag"),
      Seq("id"))
    (0 to 3).foreach(check("fs_evolve", path, _))
    assert(VersionedTable.readVersion(spark, path, 2).columns.toSeq ==
      Seq("id", "cents", "note", "tag"))
  }

  test("ALTER-added column, renamed and dropped columns, deletion vectors") {
    val path = table("fs_alter")
    VersionedTable.init(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("id", "cents", "name").repartition(2), path)
    VersionedTable.addColumn(spark, path, "tag", StringType)       // v1
    VersionedTable.renameColumn(spark, path, "cents", "amount")    // v2
    VersionedTable.dropColumn(spark, path, "name")                 // v3
    VersionedTable.deleteWhereDV(spark, path, col("id") === 2L)    // v4
    VersionedTable.append(Seq((4L, 40L, "x"))
      .toDF("id", "amount", "tag"), path)                          // v5
    (0 to 5).foreach(check("fs_alter", path, _))
    assert(VersionedTable.readVersion(spark, path, 5).columns.toSeq ==
      Seq("id", "amount", "tag"))
    assert(VersionedTable.readVersion(spark, path, 5).count() == 3)
  }

  test("applyCdc and a CoW delete on a CDF-enabled table") {
    val path = table("fs_cdc")
    VersionedTable.init(Seq((1L, 1.5, "a"), (2L, 2.5, "b"))
      .toDF("id", "x", "name").repartition(2), path)
    VersionedTable.enableChangeDataFeed(path)
    VersionedTable.applyCdc(spark, path,
      Seq((1L, 9.5, "z", 1), (2L, 0.0, "", -1), (3L, 3.5, "c", 1))
        .toDF("id", "x", "name", "op"), Seq("id"), "op")
    VersionedTable.deleteWhere(spark, path, col("id") === 3L)
    (0 to 2).foreach(check("fs_cdc", path, _))
  }
}
