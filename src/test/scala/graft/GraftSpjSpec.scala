package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.ops.VersionedTable

/** Storage-partitioned join pins (q494): two versioned tables
  * compacted on the same key report KeyGroupedPartitioning and join
  * with ZERO shuffle; uncovered appends demote conservatively.
  */
class GraftSpjSpec extends SparkSpec {

  /** Exchanges in the EXECUTED plan — sparkPlan predates
    * EnsureRequirements and never shows them (AQE is disabled inside
    * withSpj so executedPlan is the final physical tree).
    */
  private def exchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case _: ShuffleExchangeExec => 1
    }.sum

  private def withSpj[T](body: => T): T = {
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("same-key compacted tables join with ZERO Exchange under " +
    "v2 bucketing; the same join shuffles with it disabled; results " +
    "identical") {
    import spark.implicits._
    val p1 = scratchPath("graft_spj_a")
    val p2 = scratchPath("graft_spj_b")
    VersionedTable.init(
      (0L until 1000L).map(i => (i % 8, i, i * 2L))
        .toDF("pk", "id", "cents").repartition(4), p1)
    VersionedTable.compactPartitioned(spark, p1, "pk")
    VersionedTable.init(
      (0L until 8L).map(k => (k, k * 100L)).toDF("pk", "factor")
        .repartition(2), p2)
    VersionedTable.compactPartitioned(spark, p2, "pk")
    val expect = (0L until 1000L)
      .map(i => i * 2L + (i % 8) * 100L).sum
    withSpj {
      val t1 = spark.read.format("graft-versioned").load(p1)
      val t2 = spark.read.format("graft-versioned").load(p2)
      val j = t1.join(t2, "pk")
      assert(exchanges(j) == 0,
        s"SPJ join planned ${exchanges(j)} exchanges:\n" +
          j.queryExecution.sparkPlan)
      assert(j.agg(sum(col("cents") + col("factor"))).head().getLong(0)
        == expect)
      // contrast: disable v2 bucketing → the same join shuffles
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val t1b = spark.read.format("graft-versioned").load(p1)
      val t2b = spark.read.format("graft-versioned").load(p2)
      val jb = t1b.join(t2b, "pk")
      assert(exchanges(jb) > 0, "non-SPJ join planned no exchange")
      assert(jb.agg(sum(col("cents") + col("factor"))).head().getLong(0)
        == expect)
    }
  }

  test("an append after compactPartitioned demotes the scan to the " +
    "plain shape (uncovered file has no key) — joins shuffle again " +
    "but stay correct; re-OPTIMIZE restores SPJ") {
    import spark.implicits._
    val p1 = scratchPath("graft_spj_c")
    val p2 = scratchPath("graft_spj_d")
    VersionedTable.init(
      (0L until 100L).map(i => (i % 4, i)).toDF("pk", "v")
        .repartition(2), p1)
    VersionedTable.compactPartitioned(spark, p1, "pk")
    VersionedTable.init(
      (0L until 4L).map(k => (k, k)).toDF("pk", "w").repartition(1), p2)
    VersionedTable.compactPartitioned(spark, p2, "pk")
    VersionedTable.append(Seq((2L, 1000L)).toDF("pk", "v"), p1)
    withSpj {
      val t1 = spark.read.format("graft-versioned").load(p1)
      val t2 = spark.read.format("graft-versioned").load(p2)
      val j = t1.join(t2, "pk")
      assert(exchanges(j) > 0, "uncovered append still planned SPJ")
      assert(j.count() == 101)
      VersionedTable.compactPartitioned(spark, p1, "pk")
      val t1c = spark.read.format("graft-versioned").load(p1)
      val jc = t1c.join(t2, "pk")
      assert(exchanges(jc) == 0, "re-OPTIMIZE did not restore SPJ")
      assert(jc.count() == 101)
    }
  }

  test("runtime (dynamic) partition pruning: a broadcast join with a " +
    "filtered dim hands its key set to the scan at RUNTIME — splits " +
    "of non-matching keys never open; results match the shuffled plan") {
    import spark.implicits._
    val pf = scratchPath("graft_dpp_fact")
    val pd = scratchPath("graft_dpp_dim")
    VersionedTable.init(
      (0L until 1600L).map(i => (i % 16, i, i * 2L))
        .toDF("pk", "id", "cents").repartition(4), pf)
    VersionedTable.compactPartitioned(spark, pf, "pk")
    VersionedTable.init(
      (0L until 16L).map(k => (k, k % 5)).toDF("pk", "tag")
        .repartition(1), pd)
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val fact = spark.read.format("graft-versioned").load(pf)
    val dim = spark.read.format("graft-versioned").load(pd)
      .where(col("tag") === 0) // keys 0,5,10,15
    val j = fact.join(broadcast(dim), "pk")
    // collect() executes THIS DataFrame's own queryExecution — the
    // scan instance inspected below is the one that actually ran
    // (count() would plan a different tree with a different scan)
    assert(j.collect().length == 4 * 100)
    val scan = j.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec
        if b.scan.isInstanceOf[graft.sources.GraftPartitionedScan] =>
        b.scan.asInstanceOf[graft.sources.GraftPartitionedScan]
    }.getOrElse(fail("no key-grouped scan in the DPP plan"))
    val (before, after) = scan.splitCounts
    assert(before == 16 && after == 4,
      s"runtime pruning kept $after of $before splits")
    } finally spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("partition-value file skipping composes: an equality filter on " +
    "the partition column opens only that key's files") {
    import spark.implicits._
    val p = scratchPath("graft_spj_e")
    VersionedTable.init(
      (0L until 800L).map(i => (i % 8, i)).toDF("pk", "v")
        .repartition(3), p)
    VersionedTable.compactPartitioned(spark, p, "pk")
    val t = spark.read.format("graft-versioned").load(p)
    val q = t.where(col("pk") === 3L)
    val opened = q.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.GraftVersionedFileScan]
          .fileIndex.inputFiles.length
    }.get
    assert(opened == 1, s"pk=3 opened $opened of 8")
    assert(q.count() == 100)
  }
}
