package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Planner-level contract tests for the graft-versioned DataSource V2
  * read path: manifest consultation (versionAsOf + zone-stat file
  * skipping) must happen INSIDE Catalyst — the pruned file count is
  * read off the physical plan's BatchScan, not off library helpers —
  * and EXPLAIN must show the pushed filters.
  */
class GraftVersionedSourceSpec extends SparkSpec {

  /** Files the plan's scan will open (manifest-pruned), straight off
    * the physical BatchScan.
    */
  private def scanFiles(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b.scan match {
        case s: graft.sources.GraftVersionedFileScan =>
          s.fileIndex.inputFiles.length
        case d: graft.sources.GraftDvAwareScan =>
          d.fileIndex.inputFiles.length
        case other => fail(s"unexpected scan ${other.getClass}")
      }
    }.getOrElse(fail("no BatchScanExec in the plan"))

  private def buildTable(path: String): Unit = {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, i % 100, i * 3L))
      .toDF("id", "bucket", "cents")
    VersionedTable.init(df.where(col("id") < 600).repartition(3), path)
    VersionedTable.append(df.where(col("id") >= 600).repartition(2), path)
    VersionedTable.compactClustered(spark, path, 5, "bucket") // v2
  }

  test("SQL range predicate on the clustered column prunes the scan " +
    "to intersecting files, inside the planner, with residual filters " +
    "kept and PushedFilters visible in EXPLAIN") {
    val path = scratchPath("graft_dsv2_spec")
    buildTable(path)
    val t = spark.read.format("graft-versioned").load(path)
    t.createOrReplaceTempView("graft_dsv2_t")
    val q = spark.sql(
      "SELECT count(*) AS n, sum(cents) AS s FROM graft_dsv2_t " +
        "WHERE bucket >= 20 AND bucket < 40")
    // 5 range-clustered files over uniform bucket 0..99: a 20-wide
    // band intersects 1-2 of them, never all 5
    val opened = scanFiles(q)
    assert(opened < 5 && opened >= 1, s"opened $opened of 5")
    // correctness: residual predicate still applied post-scan
    val r = q.head()
    val expectN = (0L until 1000L).count(i => i % 100 >= 20 && i % 100 < 40)
    assert(r.getLong(0) == expectN)
    assert(r.getLong(1) ==
      (0L until 1000L).filter(i => i % 100 >= 20 && i % 100 < 40)
        .map(_ * 3L).sum)
    val explained = q.queryExecution.executedPlan.toString
    assert(explained.contains("PushedFilters:") &&
      explained.contains("bucket"),
      s"no pushed filters visible in plan:\n$explained")
  }

  test("an unsatisfiable band opens ZERO files; a full scan opens all") {
    val path = scratchPath("graft_dsv2_spec2")
    buildTable(path)
    val t = spark.read.format("graft-versioned").load(path)
    assert(scanFiles(t.where(col("bucket") > 10000)) == 0)
    assert(t.where(col("bucket") > 10000).isEmpty)
    assert(scanFiles(t) == 5)
  }

  test("versionAsOf pins a snapshot: the fragmented v1 serves its " +
    "own 5 files and pre-compaction rows; stats-less files never prune") {
    val path = scratchPath("graft_dsv2_spec3")
    buildTable(path)
    val v1 = spark.read.format("graft-versioned")
      .option("versionAsOf", "1").load(path)
    // v1 has 3 + 2 unclustered (stats-less) files: a selective band
    // must still open ALL of them — conservative, never wrong
    assert(scanFiles(v1.where(col("bucket") >= 20 && col("bucket") < 40))
      == 5)
    assert(v1.count() == 1000)
    // latest equals the time-travel read of v2
    val latest = spark.read.format("graft-versioned").load(path)
    assert(latest.count() == 1000)
    assert(latest.agg(sum("cents")).head().getLong(0) ==
      v1.agg(sum("cents")).head().getLong(0))
  }

  test("appends after a clustered compaction scan conservatively: " +
    "statted files prune, the new stats-less files always open") {
    import spark.implicits._
    val path = scratchPath("graft_dsv2_spec4")
    buildTable(path)
    VersionedTable.append(
      Seq((2000L, 55L, 6000L)).toDF("id", "bucket", "cents")
        .repartition(1), path) // v3: 5 statted + 1 unstatted
    val t = spark.read.format("graft-versioned").load(path)
    val q = t.where(col("bucket") >= 20 && col("bucket") < 40)
    val opened = scanFiles(q)
    // the unstatted appended file must be among the opened set
    assert(opened >= 2 && opened < 6, s"opened $opened of 6")
    // and the residual filter drops its out-of-band row
    assert(q.count() ==
      (0L until 1000L).count(i => i % 100 >= 20 && i % 100 < 40))
    // an in-band append row IS served
    val q2 = t.where(col("bucket") === 55)
    assert(q2.count() ==
      (0L until 1000L).count(_ % 100 == 55) + 1)
  }

  test("bloom point lookups: present key opens its file(s) only, " +
    "absent key opens ZERO files, uncovered appends stay conservative " +
    "— through both the library path and the DSv2 EqualTo consult") {
    import spark.implicits._
    val path = scratchPath("graft_dsv2_bloom")
    buildTable(path) // v2: 5 clustered files over id 0..999
    VersionedTable.buildBloomIndex(spark, path, "id") // v3
    val v = VersionedTable.latestVersion(path)
    // library path: present key — 1 file (id unique, fp-free at 2^20)
    val (openP, total) = VersionedTable.keyLookupFiles(
      spark, path, v, "id", lit(123L))
    assert(total == 5 && openP.length == 1, s"present: $openP")
    assert(VersionedTable.readVersionKeyLookup(
      spark, path, v, "id", lit(123L)).count() == 1)
    // absent key — zero-file short-circuit
    val (openA, _) = VersionedTable.keyLookupFiles(
      spark, path, v, "id", lit(99999L))
    assert(openA.isEmpty, s"absent key opened $openA")
    assert(VersionedTable.readVersionKeyLookup(
      spark, path, v, "id", lit(99999L)).isEmpty)
    // DSv2 composition: the EqualTo filter consults the same sidecar
    val t = spark.read.format("graft-versioned").load(path)
    assert(scanFiles(t.where(col("id") === 123L)) == 1)
    assert(scanFiles(t.where(col("id") === 99999L)) == 0)
    assert(t.where(col("id") === 123L).count() == 1)
    // an uncovered append must open (bloom can't rule it out)...
    VersionedTable.append(
      Seq((99999L, 7L, 1L)).toDF("id", "bucket", "cents")
        .repartition(1), path)
    val v2 = VersionedTable.latestVersion(path)
    val (openU, totalU) = VersionedTable.keyLookupFiles(
      spark, path, v2, "id", lit(99999L))
    assert(totalU == 6 && openU.length == 1,
      s"uncovered append not opened: $openU")
    // ...and the probe finds the appended row
    assert(VersionedTable.readVersionKeyLookup(
      spark, path, v2, "id", lit(99999L)).count() == 1)
  }

  test("z-order OPTIMIZE: a one-quadrant box prunes on BOTH columns " +
    "at once — library boxFiles, readVersionBox rows, and the DSv2 " +
    "conjunctive scan all agree; an out-of-space box opens zero files") {
    import spark.implicits._
    val path = scratchPath("graft_dsv2_zorder")
    // uniform 100x100 grid, one row per cell — every quadrant equally
    // loaded, so z-order boundaries are clean
    val grid = (0L until 10000L)
      .map(i => (i, i % 100, i / 100, i))
      .toDF("id", "x", "y", "c")
    VersionedTable.init(grid.repartition(4), path)
    VersionedTable.compactClusteredZOrder(spark, path, 16, "x", "y")
    val v = VersionedTable.latestVersion(path)
    // 16 files over the z-curve ≈ a 4x4 grid of (x, y) blocks: a
    // low-low box spanning ~2x2 blocks opens ~4-6 files (range-sample
    // boundary wobble allowed), never a full stripe
    val (open, total) = VersionedTable.boxFiles(path, v,
      "x", 10.0, 40.0, "y", 10.0, 40.0)
    assert(total == 16 && open.length <= 6,
      s"2x2-block box opened ${open.length} of $total")
    val rows = VersionedTable.readVersionBox(spark, path, v,
      "x", 10.0, 40.0, "y", 10.0, 40.0)
    assert(rows.count() == 30L * 30L)
    // the 2-D claim: the box opens STRICTLY fewer files than its
    // x-band alone — 1-D stats would pay the x-stripe (all y blocks)
    val (xOnly, _) = VersionedTable.bandFiles(path, v, "x", 10.0, 40.0)
    assert(open.length < xOnly.length,
      s"box (${open.length}) not below x-stripe (${xOnly.length}) — " +
        "2-D pruning added nothing on this fixture")
    // DSv2: the conjunctive SQL box prunes the BatchScan identically
    val t = spark.read.format("graft-versioned").load(path)
    val q = t.where(col("x") >= 10 && col("x") < 40 &&
      col("y") >= 10 && col("y") < 40)
    assert(scanFiles(q) == open.length,
      "DSv2 conjunctive box and library consult disagree")
    assert(q.count() == 900)
    // out-of-space box: zero files
    assert(VersionedTable.boxFiles(path, v,
      "x", 5000.0, 6000.0, "y", 0.0, 10.0)._1.isEmpty)
    assert(VersionedTable.readVersionBox(spark, path, v,
      "x", 5000.0, 6000.0, "y", 0.0, 10.0).isEmpty)
  }

  test("metadata COUNT(*): answered from manifest footer counts with " +
    "ZERO data files, disabled by deletion vectors / filters / " +
    "group-bys, and exact across every commit verb") {
    import spark.implicits._
    val path = scratchPath("graft_mcount_spec")
    VersionedTable.init(
      (1L to 100L).map(i => (i, i % 7, i)).toDF("id", "b", "c")
        .repartition(3), path)
    VersionedTable.append(
      (101L to 130L).map(i => (i, i % 7, i)).toDF("id", "b", "c"), path)
    assert(VersionedTable.metadataCount(path, 1).contains(130L))
    def scanClassOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.sparkPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.scan.getClass.getSimpleName
      }.get
    val t = spark.read.format("graft-versioned").load(path)
    t.createOrReplaceTempView("graft_mcount_t")
    val bare = spark.sql("SELECT count(*) AS n FROM graft_mcount_t")
    assert(scanClassOf(bare) == "GraftMetadataCountScan",
      s"bare count planned ${scanClassOf(bare)}")
    assert(bare.head().getLong(0) == 130L)
    // filters keep the real scan (this source returns all filters as
    // residuals, so the aggregate is never offered)
    val filtered = spark.sql(
      "SELECT count(*) AS n FROM graft_mcount_t WHERE b = 3")
    assert(scanClassOf(filtered) == "GraftVersionedFileScan")
    assert(filtered.head().getLong(0) ==
      (1L to 130L).count(_ % 7 == 3))
    // group-bys keep the real scan
    val grouped = spark.sql(
      "SELECT b, count(*) AS n FROM graft_mcount_t GROUP BY b")
    assert(scanClassOf(grouped) == "GraftVersionedFileScan")
    // a CoW delete re-counts the rewritten files exactly
    VersionedTable.deleteWhere(spark, path, col("id") <= 10)
    assert(VersionedTable.metadataCount(path,
      VersionedTable.latestVersion(path)).contains(120L))
    // a deletion vector disables the shortcut (footers overcount)
    VersionedTable.deleteWhereDV(spark, path, col("id") === 50)
    assert(VersionedTable.metadataCount(path,
      VersionedTable.latestVersion(path)).isEmpty)
    // ...and compaction folds it back in, restoring the shortcut
    VersionedTable.compact(spark, path, 2)
    assert(VersionedTable.metadataCount(path,
      VersionedTable.latestVersion(path)).contains(119L))
  }

  test("vacuum: reclaims only unreferenced payload (data, DV, bloom " +
    "sidecars), kept snapshots read identically, time travel below " +
    "the horizon fails loudly") {
    import spark.implicits._
    val path = scratchPath("graft_vacuum_spec")
    VersionedTable.init(
      (1L to 20L).map(i => (i, i * 10L)).toDF("id", "cents")
        .repartition(2), path) // v0
    VersionedTable.deleteWhereDV(spark, path, col("id") <= 3) // v1: +DV
    VersionedTable.buildBloomIndex(spark, path, "id") // v2: +bloom
    val before = VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // keep v1..v2: nothing is unreferenced yet (v0's files are v1/v2's)
    val (m1, f1) = VersionedTable.vacuum(path, 2)
    assert(m1 == 1 && f1 == 0,
      s"vacuum removed referenced payload: manifests=$m1 files=$f1")
    assert(VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == before)
    // the DV and bloom sidecars survived (still referenced)
    val v2 = VersionedTable.latestVersion(path)
    assert(VersionedTable.manifestDvFiles(path, v2).nonEmpty)
    assert(VersionedTable.readVersionKeyLookup(
      spark, path, v2, "id", lit(10L)).count() == 1)
    // time travel below the horizon fails loudly
    val e = intercept[Exception] {
      VersionedTable.readVersion(spark, path, 0)
    }
    assert(e.getMessage.contains("no version"), e.getMessage)
    // fold the DV in, vacuum to 1: the old data files AND the stale
    // DV/bloom sidecars are reclaimed
    VersionedTable.compact(spark, path, 1) // v3
    val (m2, f2) = VersionedTable.vacuum(path, 1)
    assert(m2 == 2 && f2 >= 3, // 2 old data files + >=1 DV + bloom
      s"fold+vacuum reclaimed manifests=$m2 files=$f2")
    assert(VersionedTable.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == before)
  }

  test("the scan reports manifest-exact statistics: numRows is the " +
    "footer-count sum of the KEPT files, and a band-pruned side flips " +
    "the join to broadcast under a threshold the full table exceeds") {
    val path = scratchPath("graft_stats_spec")
    buildTable(path) // v2: 5 clustered files, 1000 rows, bucket 0..99
    def scanOf(df: DataFrame): graft.sources.GraftVersionedFileScan =
      df.queryExecution.sparkPlan.collectFirst {
        case b: BatchScanExec =>
          b.scan.asInstanceOf[graft.sources.GraftVersionedFileScan]
      }.getOrElse(fail("no GraftVersionedFileScan planned"))
    val t = spark.read.format("graft-versioned").load(path)
    val full = scanOf(t).estimateStatistics()
    assert(full.numRows().getAsLong == 1000L)
    val band = t.where(col("bucket") >= 20 && col("bucket") < 40)
    val pruned = scanOf(band).estimateStatistics()
    // the kept files' exact footer counts — a 20-wide band over 5
    // range-clustered files keeps 1-2 files of ~200 rows each
    assert(pruned.numRows().getAsLong < 1000L &&
      pruned.numRows().getAsLong >= 200L,
      s"pruned numRows ${pruned.numRows()}")
    assert(pruned.sizeInBytes().getAsLong < full.sizeInBytes().getAsLong)
    // join flip: threshold between pruned and full plan sizes
    val dimP = band.select(col("id").as("did"))
    val dimF = t.select(col("id").as("did"))
    val szP = dimP.queryExecution.optimizedPlan.stats.sizeInBytes
    val szF = dimF.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(szP < szF, s"pruned $szP not under full $szF")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      ((szP + szF) / 2).toString)
    try {
      def isBhj(dim: DataFrame): Boolean =
        t.join(dim, col("id") === col("did"))
          .queryExecution.sparkPlan.collectFirst {
            case _: org.apache.spark.sql.execution.joins
              .BroadcastHashJoinExec => true
          }.getOrElse(false)
      assert(isBhj(dimP), "pruned dim did not broadcast")
      assert(!isBhj(dimF), "full dim broadcast despite threshold")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("metadata MIN/MAX: answered from clustering stats with zero " +
    "data files; disabled by deletion vectors, uncovered appends, and " +
    "unstatted columns; exact values either way") {
    import spark.implicits._
    val path = scratchPath("graft_minmax_spec")
    buildTable(path) // v2: clustered on bucket (0..99), ids 0..999
    def scanClassOf(df: DataFrame): String =
      df.queryExecution.sparkPlan.collectFirst {
        case b: BatchScanExec => b.scan.getClass.getSimpleName
      }.get
    val t = spark.read.format("graft-versioned").load(path)
    t.createOrReplaceTempView("graft_minmax_t")
    val mm = spark.sql(
      "SELECT min(bucket) AS lo, max(bucket) AS hi FROM graft_minmax_t")
    assert(scanClassOf(mm) == "GraftMetadataAggScan",
      s"min/max planned ${scanClassOf(mm)}")
    assert(mm.head() == org.apache.spark.sql.Row(0L, 99L))
    // mixed count + min + max also metadata-only
    val mixed = spark.sql("SELECT count(*) AS n, min(bucket) AS lo, " +
      "max(bucket) AS hi FROM graft_minmax_t")
    assert(scanClassOf(mixed) == "GraftMetadataAggScan")
    assert(mixed.head() == org.apache.spark.sql.Row(1000L, 0L, 99L))
    // unstatted column falls back and still answers
    val un = spark.sql("SELECT min(cents) AS c FROM graft_minmax_t")
    assert(scanClassOf(un) == "GraftVersionedFileScan")
    assert(un.head().getLong(0) == 0L)
    // an uncovered append disables the shortcut (no stats for the new
    // file) — and the value reflects the appended row
    VersionedTable.append(
      Seq((5000L, 500L, 1L)).toDF("id", "bucket", "cents")
        .repartition(1), path)
    val t2 = spark.read.format("graft-versioned").load(path)
    t2.createOrReplaceTempView("graft_minmax_t2")
    val mm2 = spark.sql("SELECT max(bucket) AS hi FROM graft_minmax_t2")
    assert(scanClassOf(mm2) == "GraftVersionedFileScan")
    assert(mm2.head().getLong(0) == 500L)
    // re-OPTIMIZE re-covers; a deletion vector then disables again
    VersionedTable.compactClustered(spark, path, 4, "bucket")
    val t3 = spark.read.format("graft-versioned").load(path)
    t3.createOrReplaceTempView("graft_minmax_t3")
    assert(scanClassOf(spark.sql(
      "SELECT max(bucket) AS hi FROM graft_minmax_t3"))
      == "GraftMetadataAggScan")
    VersionedTable.deleteWhereDV(spark, path, col("id") === 1L)
    // a DV disables the metadata shortcut (a vector could hide the
    // extreme row) — since r12 the query still ANSWERS, through the
    // merge-on-read scan, with the deleted row excluded
    val t4 = spark.read.format("graft-versioned").load(path)
    t4.createOrReplaceTempView("graft_minmax_t4")
    val mm4 = spark.sql(
      "SELECT max(bucket) AS hi, count(*) AS n FROM graft_minmax_t4")
    assert(scanClassOf(mm4) == "GraftDvAwareScan",
      s"DV snapshot planned ${scanClassOf(mm4)}")
    assert(mm4.head() == org.apache.spark.sql.Row(500L, 1000L))
  }

  test("LIMIT pushdown caps the planned file list via footer counts; " +
    "a residual filter disables the cap (raw counts would be the " +
    "wrong budget); a limit past the table opens everything") {
    import spark.implicits._
    val path = scratchPath("graft_limit_spec")
    VersionedTable.init(
      (0L until 1000L).map(i => (i, i % 7)).toDF("id", "b")
        .repartition(10), path)
    val t = spark.read.format("graft-versioned").load(path)
    t.createOrReplaceTempView("graft_limit_t")
    val lim = spark.sql("SELECT * FROM graft_limit_t LIMIT 5")
    assert(scanFiles(lim) == 1, s"LIMIT 5 opened ${scanFiles(lim)}")
    assert(lim.collect().length == 5)
    // limit spanning several files takes just enough
    val lim2 = spark.sql("SELECT * FROM graft_limit_t LIMIT 250")
    val opened2 = scanFiles(lim2)
    assert(opened2 >= 3 && opened2 < 10, s"LIMIT 250 opened $opened2")
    assert(lim2.collect().length == 250)
    // a filter disables the cap — every file scans (the filter is
    // residual, so the limit is never even offered to the source)
    val filtered = spark.sql(
      "SELECT * FROM graft_limit_t WHERE b = 3 LIMIT 5")
    assert(scanFiles(filtered) == 10,
      s"filtered LIMIT capped to ${scanFiles(filtered)} files")
    assert(filtered.collect().length == 5)
    // a limit past the table opens everything and returns everything
    val big = spark.sql("SELECT * FROM graft_limit_t LIMIT 99999")
    assert(scanFiles(big) == 10)
    assert(big.collect().length == 1000)
  }

  test("TOP-N pushdown: ORDER BY the clustered column opens only the " +
    "band that can hold the top k (both directions); default NULLS " +
    "FIRST engages on a null-free table via the nc lines; rows exact") {
    val path = scratchPath("graft_topn_spec")
    buildTable(path) // 5 range-clustered files, bucket 0..99, 1000 rows
    val t = spark.read.format("graft-versioned").load(path)
    t.createOrReplaceTempView("graft_topn_t")
    val asc = spark.sql("SELECT id, bucket FROM graft_topn_t " +
      "ORDER BY bucket ASC NULLS LAST, id LIMIT 5")
    assert(scanFiles(asc) < 5 && scanFiles(asc) >= 1,
      s"asc top-5 opened ${scanFiles(asc)} of 5")
    assert(asc.collect().map(_.getLong(1)).forall(_ == 0L))
    assert(asc.collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 100L, 200L, 300L, 400L))
    val desc = spark.sql("SELECT id, bucket FROM graft_topn_t " +
      "ORDER BY bucket DESC, id LIMIT 5")
    assert(scanFiles(desc) < 5 && scanFiles(desc) >= 1,
      s"desc top-5 opened ${scanFiles(desc)} of 5")
    assert(desc.collect().map(_.getLong(1)).forall(_ == 99L))
    // Spark's default ASC is NULLS FIRST — on a null-free table the
    // manifest null counts prove the null prefix is empty, so the cap
    // ENGAGES (r11: this case refused; the nc lines make it sound)
    val nf = spark.sql("SELECT id, bucket FROM graft_topn_t " +
      "ORDER BY bucket LIMIT 5")
    assert(scanFiles(nf) < 5 && scanFiles(nf) >= 1,
      s"null-free NULLS FIRST top-5 opened ${scanFiles(nf)} of 5")
    assert(nf.collect().map(_.getLong(1)).forall(_ == 0L))
  }

  test("TOP-N null algebra: NULLS LAST budgets count NON-NULL rows " +
    "only (r11 ADVICE: inflated budgets dropped live files); NULLS " +
    "FIRST keeps the null prefix and caps past it") {
    import spark.implicits._
    val path = scratchPath("graft_topn_nulls_spec")
    // bucket: 5 nulls + 0..9 low band, 10..19 high band; clustered
    // compaction range-partitions nulls into the FIRST file
    val rows =
      (0L until 5L).map(i => (i, Option.empty[Long])) ++
        (0L until 15L).map(i => (100L + i, Some(i))) ++
        (0L until 15L).map(i => (200L + i, Some(15L + i)))
    VersionedTable.init(
      rows.toDF("id", "bucket").repartition(2), path)
    VersionedTable.compactClustered(spark, path, 3, "bucket")
    val t = spark.read.format("graft-versioned").load(path)
    t.createOrReplaceTempView("graft_topn_nulls_t")
    // ASC NULLS LAST LIMIT 8: top-8 = buckets 0..7. The first file
    // holds ~5 nulls + the low values; the r11 budget counted its
    // nulls and dropped the next band — rows must span into it when
    // k exceeds the first file's non-null count
    val nl = spark.sql("SELECT id, bucket FROM graft_topn_nulls_t " +
      "ORDER BY bucket ASC NULLS LAST, id LIMIT 8")
    assert(nl.collect().map(_.getLong(1)).toSeq == (0L until 8L),
      s"NULLS LAST top-8 wrong: ${nl.collect().mkString(",")}")
    // ASC NULLS FIRST LIMIT 3: the 5 nulls cover k — only
    // null-carrying files are kept, and the rows are all null
    val nf3 = spark.sql("SELECT id, bucket FROM graft_topn_nulls_t " +
      "ORDER BY bucket ASC NULLS FIRST, id LIMIT 3")
    assert(nf3.collect().forall(_.isNullAt(1)))
    assert(nf3.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(scanFiles(nf3) < 3,
      s"null-prefix top-3 opened ${scanFiles(nf3)} of 3")
    // ASC NULLS FIRST LIMIT 8: 5 nulls + buckets 0..2 — the high band
    // is provably past the budget and drops; rows exact
    val nf8 = spark.sql("SELECT id, bucket FROM graft_topn_nulls_t " +
      "ORDER BY bucket ASC NULLS FIRST, id LIMIT 8")
    assert(scanFiles(nf8) < 3,
      s"NULLS FIRST top-8 opened ${scanFiles(nf8)} of 3")
    val got = nf8.collect().map(r =>
      if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq
    assert(got == Seq(-1L, -1L, -1L, -1L, -1L, 0L, 1L, 2L),
      s"NULLS FIRST top-8 wrong: $got")
  }

  test("metadata GROUP BY the partition key: per-key COUNT(*) answered " +
    "from pv + footer counts with zero data files; non-count aggs and " +
    "uncovered appends fall back") {
    import spark.implicits._
    val path = scratchPath("graft_gcount_spec")
    VersionedTable.init(
      (0L until 640L).map(i => (i % 8, i, i * 2L))
        .toDF("pk", "id", "cents").repartition(3), path)
    VersionedTable.compactPartitioned(spark, path, "pk")
    def scanClassOf(df: DataFrame): String =
      df.queryExecution.sparkPlan.collectFirst {
        case b: BatchScanExec => b.scan.getClass.getSimpleName
      }.get
    val t = spark.read.format("graft-versioned").load(path)
    t.createOrReplaceTempView("graft_gcount_t")
    val g = spark.sql("SELECT pk, count(*) AS n FROM graft_gcount_t " +
      "GROUP BY pk ORDER BY pk")
    assert(scanClassOf(g) == "GraftMetadataAggScan",
      s"grouped count planned ${scanClassOf(g)}")
    assert(g.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 8L).map(k => (k, 80L)))
    // a non-count aggregate falls back to the real scan
    val sums = spark.sql("SELECT pk, sum(cents) AS s " +
      "FROM graft_gcount_t GROUP BY pk")
    assert(scanClassOf(sums) != "GraftMetadataAggScan")
    // an uncovered append disables the shortcut and stays correct
    VersionedTable.append(Seq((3L, 9999L, 1L))
      .toDF("pk", "id", "cents"), path)
    val t2 = spark.read.format("graft-versioned").load(path)
    t2.createOrReplaceTempView("graft_gcount_t2")
    val g2 = spark.sql("SELECT pk, count(*) AS n FROM graft_gcount_t2 " +
      "GROUP BY pk ORDER BY pk")
    assert(scanClassOf(g2) != "GraftMetadataAggScan")
    assert(g2.where(col("pk") === 3L).head().getLong(1) == 81L)
  }

  test("metadata COUNT(col): answered from footer null counts (rows " +
    "minus nulls), bare and grouped; DISTINCT and uncovered manifests " +
    "fall back") {
    import spark.implicits._
    val path = scratchPath("graft_ccount_spec")
    // cents null on every 3rd row
    VersionedTable.init(
      (0L until 600L).map(i => (i % 6, i,
        if (i % 3 == 0) Option.empty[Long] else Some(i)))
        .toDF("pk", "id", "cents").repartition(3), path)
    VersionedTable.compactPartitioned(spark, path, "pk")
    def scanClassOf(df: DataFrame): String =
      df.queryExecution.sparkPlan.collectFirst {
        case b: BatchScanExec => b.scan.getClass.getSimpleName
      }.get
    spark.read.format("graft-versioned").load(path)
      .createOrReplaceTempView("graft_ccount_t")
    val bare = spark.sql(
      "SELECT count(*) AS a, count(cents) AS b FROM graft_ccount_t")
    assert(scanClassOf(bare) == "GraftMetadataAggScan",
      s"count(col) planned ${scanClassOf(bare)}")
    assert(bare.head() == org.apache.spark.sql.Row(600L, 400L))
    val grouped = spark.sql("SELECT pk, count(*) AS a, " +
      "count(cents) AS b FROM graft_ccount_t GROUP BY pk ORDER BY pk")
    assert(scanClassOf(grouped) == "GraftMetadataAggScan")
    // pk k holds ids ≡ k (mod 6); of its 100 rows, those with
    // id % 3 == 0 are null — a third when 3 | gcd steps align:
    // ids k, k+6, ... → id % 3 cycles {k%3} only, so nulls are ALL
    // (k%3==0) or NONE (k%3!=0)
    val exp = (0L until 6L).map(k =>
      (k, 100L, if (k % 3 == 0) 0L else 100L))
    assert(grouped.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == exp)
    // DISTINCT falls back
    val dist = spark.sql(
      "SELECT count(DISTINCT cents) AS d FROM graft_ccount_t")
    assert(scanClassOf(dist) != "GraftMetadataAggScan")
    assert(dist.head().getLong(0) == 400L)
  }

  test("a snapshot carrying deletion vectors SERVES through the " +
    "merge-on-read scan (r12): tombstoned rows gone, residual filters " +
    "exact, band pruning still prunes, stacked DVs compose; OPTIMIZE " +
    "folds back to the plain scan") {
    val path = scratchPath("graft_dsv2_spec5")
    buildTable(path)
    VersionedTable.deleteWhereDV(spark, path, col("bucket") === 7)
    val t = spark.read.format("graft-versioned").load(path)
    assert(t.count() == 1000 - 10)
    assert(t.where(col("bucket") === 7).isEmpty)
    assert(t.where(col("bucket") === 8).count() == 10)
    assert(t.agg(sum("cents")).head().getLong(0) ==
      (0L until 1000L).filter(_ % 100 != 7).map(_ * 3L).sum)
    // stacked second vector composes
    VersionedTable.deleteWhereDV(spark, path, col("id") === 8L)
    val t2 = spark.read.format("graft-versioned").load(path)
    assert(t2.count() == 1000 - 11)
    // band pruning still engages under DVs (file skipping unaffected)
    val banded = t2.where(col("bucket") >= 20 && col("bucket") < 40)
    assert(scanFiles(banded) < 5 && scanFiles(banded) >= 1)
    assert(banded.count() ==
      (0L until 1000L).count(i => i % 100 >= 20 && i % 100 < 40))
    // OPTIMIZE folds the vectors in; the plain columnar scan returns
    VersionedTable.compact(spark, path, 2)
    val served = spark.read.format("graft-versioned").load(path)
    assert(served.count() == 1000 - 11)
    assert(served.where(col("bucket") === 7).isEmpty)
  }
  test("grouped metadata COUNT over an ESCAPABLE string partition key " +
    "returns UNESCAPED key values, matching the file-scan path " +
    "(r11 ADVICE: raw __pv dir names leaked through)") {
    import spark.implicits._
    val path = scratchPath("graft_gcount_escape_spec")
    // ':' and '%' are Hive-escaped in partition dir names
    val keys = Seq("a:b", "p%q", "plain")
    VersionedTable.init(
      (0L until 30L).map(i => (keys((i % 3).toInt), i))
        .toDF("pk", "id").repartition(2), path)
    VersionedTable.compactPartitioned(spark, path, "pk")
    val t = spark.read.format("graft-versioned").load(path)
    t.createOrReplaceTempView("graft_gcount_escape_t")
    val g = spark.sql("SELECT pk, count(*) AS n " +
      "FROM graft_gcount_escape_t GROUP BY pk ORDER BY pk")
    val scanClass = g.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b.scan.getClass.getSimpleName
    }.get
    assert(scanClass == "GraftMetadataAggScan",
      s"grouped count planned $scanClass")
    assert(g.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      keys.sorted.map(k => (k, 10L)))
    // and the file-scan path agrees (sum forces real data)
    val f = spark.sql("SELECT pk, count(id) + 0 * sum(id) AS n " +
      "FROM graft_gcount_escape_t GROUP BY pk ORDER BY pk")
    assert(f.collect().map(_.getString(0)).toSeq == keys.sorted)
  }

  test("metadata MIN/MAX refuses Long stats at or past 2^53 (Double " +
    "stats round there — r11 ADVICE) and falls back to the file scan " +
    "with the exact answer") {
    import spark.implicits._
    val path = scratchPath("graft_minmax_bigint_spec")
    val big = (1L << 53) + 1L // rounds DOWN to 2^53 in Double stats
    VersionedTable.init(
      Seq((1L, 10L), (2L, big), (3L, 20L)).toDF("id", "v")
        .repartition(1), path)
    VersionedTable.compactClustered(spark, path, 2, "v")
    val t = spark.read.format("graft-versioned").load(path)
    t.createOrReplaceTempView("graft_minmax_bigint_t")
    def scanClassOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.sparkPlan.collectFirst {
        case b: BatchScanExec => b.scan.getClass.getSimpleName
      }.get
    val mx = spark.sql("SELECT max(v) AS hi FROM graft_minmax_bigint_t")
    assert(scanClassOf(mx) != "GraftMetadataAggScan",
      "MAX past 2^53 wrongly served from rounded Double stats")
    assert(mx.head().getLong(0) == big)
    // min is small and provably exact, but the ANSWER set is per-scan:
    // min+max together must fall back too (max is unservable)
    val both = spark.sql(
      "SELECT min(v) AS lo, max(v) AS hi FROM graft_minmax_bigint_t")
    assert(scanClassOf(both) != "GraftMetadataAggScan")
    assert(both.head().getLong(1) == big)
    // a safely-ranged table still serves from metadata
    val path2 = scratchPath("graft_minmax_bigint_spec2")
    VersionedTable.init(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").repartition(1), path2)
    VersionedTable.compactClustered(spark, path2, 1, "v")
    val t2 = spark.read.format("graft-versioned").load(path2)
    t2.createOrReplaceTempView("graft_minmax_bigint_t2")
    val ok = spark.sql("SELECT max(v) AS hi FROM graft_minmax_bigint_t2")
    assert(scanClassOf(ok) == "GraftMetadataAggScan")
    assert(ok.head().getLong(0) == 20L)
  }

  test("write-side clustering: df.write with clusterBy range-sorts the " +
    "batch (RequiresDistributionAndOrdering) and records footer zone " +
    "stats at commit — band-prunable with NO OPTIMIZE; plain appends " +
    "stay unstatted and conservative") {
    import spark.implicits._
    val path = scratchPath("graft_writecluster_spec")
    graft.io.FsUtil.deleteRecursively(path)
    val df = (0L until 1000L).map(i => (i, i % 100, i * 3L))
      .toDF("id", "bucket", "cents")
    df.repartition(7) // deliberately scrambled input
      .write.format("graft-versioned")
      .option("clusterBy", "bucket")
      .option("clusterPartitions", "5")
      .mode("overwrite").save(path)
    val v0 = VersionedTable.latestVersion(path)
    val m = VersionedTable.readManifest(path, v0)
    assert(m.data.length == 5, s"expected 5 files, got ${m.data.length}")
    assert(m.data.forall(r => m.stats.get(r).exists(_.contains("bucket"))),
      "every written file must carry footer zone stats")
    // band probe opens a fraction immediately — no OPTIMIZE ran
    val (open, total) = VersionedTable.bandFiles(path, v0, "bucket", 20, 40)
    assert(total == 5 && open.length < 5 && open.nonEmpty,
      s"write-side clustering not prunable: ${open.length} of $total")
    // the DSv2 SELECT prunes too, rows exact
    val t = spark.read.format("graft-versioned").load(path)
    val banded = t.where(col("bucket") >= 20 && col("bucket") < 40)
    assert(scanFiles(banded) < 5 && scanFiles(banded) >= 1)
    assert(banded.count() ==
      (0L until 1000L).count(i => i % 100 >= 20 && i % 100 < 40))
    // clustered APPEND extends coverage: new files also get stats
    Seq((5000L, 55L, 1L), (5001L, 85L, 2L)).toDF("id", "bucket", "cents")
      .write.format("graft-versioned")
      .option("clusterBy", "bucket")
      .mode("append").save(path)
    val v1 = VersionedTable.latestVersion(path)
    val m1 = VersionedTable.readManifest(path, v1)
    assert(m1.data.forall(r => m1.stats.get(r).exists(_.contains("bucket"))))
    val (open2, total2) = VersionedTable.bandFiles(path, v1, "bucket", 0, 5)
    assert(open2.length < total2,
      s"clustered append broke pruning: ${open2.length} of $total2")
    // a PLAIN append has no stats and always opens (conservative)
    Seq((6000L, 7L, 1L)).toDF("id", "bucket", "cents")
      .write.format("graft-versioned").mode("append").save(path)
    val v2 = VersionedTable.latestVersion(path)
    val (open3, total3) = VersionedTable.bandFiles(path, v2, "bucket", 90, 95)
    assert(open3.exists(r =>
      !VersionedTable.readManifest(path, v2).stats.contains(r)),
      "unstatted plain-append file must open unconditionally")
    assert(total3 == total2 + 1)
    // rows exact across the mixed layouts
    val all = spark.read.format("graft-versioned").load(path)
    assert(all.count() == 1003)
  }
}
