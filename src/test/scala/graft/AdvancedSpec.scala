package graft

import org.apache.spark.sql.functions._

import graft.io.{Sources, Tables}
import graft.tools.JobProgress

/** Coverage for the second wave: approx-distinct accuracy, multi-format
  * round-trips, and the listener (op-15 parity).
  */
class AdvancedSpec extends SparkSpec {

  test("approx_count_distinct within 5% of exact") {
    val li = Tables.load(spark, sf0001, "lineitem")
    val row = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).first()
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("csv and json round-trip preserves data") {
    val dir = scratch("graft_io").toString
    val orig = Tables.load(spark, sf0001, "nation")
    Sources.writeCsv(orig, s"$dir/nation_csv")
    Sources.writeJsonLines(orig, s"$dir/nation_json")
    val fromCsv = Sources.readCsv(spark, s"$dir/nation_csv", orig.schema)
    val fromJson = Sources.readJsonLines(spark, s"$dir/nation_json", orig.schema)
    val want = orig.collect().map(_.toSeq).toSet
    assert(fromCsv.collect().map(_.toSeq).toSet == want)
    assert(fromJson.collect().map(_.toSeq).toSet == want)
    assert(fromCsv.schema == orig.schema)
  }

  test("orc round-trip preserves data, schema, and pushes filters") {
    val dir = scratch("graft_orc").toString
    val orig = Tables.load(spark, sf0001, "nation")
    Sources.writeOrc(orig, s"$dir/nation_orc")
    val back = Sources.readOrc(spark, s"$dir/nation_orc")
    assert(back.collect().map(_.toSeq).toSet == orig.collect().map(_.toSeq).toSet)
    assert(back.schema == orig.schema)
    val plan = back.filter(col("n_regionkey") === 1)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,1)]"),
      plan.take(800))
  }

  test("writeCompacted sizes the file count to the target") {
    val dir = scratch("graft_compact").toString
    val li = Tables.load(spark, sf0001, "lineitem")
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    // huge target -> exactly one file
    Sources.writeCompacted(li, s"$dir/one", targetBytes = Long.MaxValue / 2)
    assert(parquetFiles(s"$dir/one") == 1)
    // tiny target -> several files (the estimate is the ~115KB scan),
    // and the data round-trips
    Sources.writeCompacted(li, s"$dir/many", targetBytes = 16 * 1024)
    assert(parquetFiles(s"$dir/many") >= 4)
    assert(Sources.readParquet(spark, s"$dir/many").count() == li.count())
  }

  test("partitioned write prunes partitions at the scan") {
    val dir = scratch("graft_part").toString
    val orders = Tables.load(spark, sf0001, "orders")
    Sources.writePartitionedParquet(orders, s"$dir/orders_p", "o_orderstatus")
    val back = Sources.readParquet(spark, s"$dir/orders_p")
      .filter(col("o_orderstatus") === "F")
    val plan = back.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("o_orderstatus")),
      "status predicate did not become a partition filter")
    val want = orders.filter(col("o_orderstatus") === "F").count()
    assert(back.count() == want)
  }

  test("JobProgress listener observes task/stage completions (op 15 parity)") {
    val (n, progress) = JobProgress.observe(spark) {
      Tables.load(spark, sf0001, "lineitem")
        .groupBy("l_returnflag").count().collect().length
    }
    assert(n > 0)
    assert(progress.tasksCompleted.get() > 0)
    assert(progress.stagesCompleted.get() >= 2) // scan+partial, final agg
    assert(progress.recordsRead.get() >= 6000L) // the whole lineitem scan
  }

  test("TopKAggregator equals window top-k on a synthetic group") {
    import spark.implicits._
    val data = Seq(
      (1L, 10L, 5.0), (1L, 11L, 9.0), (1L, 12L, 9.0), (1L, 13L, 1.0),
      (2L, 20L, 3.0))
      .toDF("g", "id", "score").as[(Long, Long, Double)]
    val topk = new graft.functions.TopKAggregator(2).toColumn
    val got = data.groupByKey(_._1).mapValues(t => (t._2, t._3)).agg(topk)
      .collect().toMap
    // group 1: ties at 9.0 broken by ascending id → 11 before 12
    assert(got(1L) == Seq((11L, 9.0), (12L, 9.0)))
    assert(got(2L) == Seq((20L, 3.0)))
  }
}
