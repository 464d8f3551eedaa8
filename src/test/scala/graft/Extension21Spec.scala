package graft

import org.apache.spark.sql.functions._

/** Round-7 fifteenth wave: TWAP, backlog aging, peak concurrency. */
class Extension21Spec extends SparkSpec {

  import spark.implicits._

  test("twap: step-hold weighting beats plain avg on a planted burst; " +
    "hand-computed value exact") {
    val dir = scratch("graft_twap")
    val base = java.time.LocalDateTime.parse("2024-06-01T00:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC)
    // user 1: value 10.00 held 100s, then a 1s burst at 99.00, then
    // 10.00 for 99s -> twap = (10*100 + 99*1 + 10*99) / 200 = 10.445;
    // plain avg of values would say 39.67
    val evs = Seq(
      (1L, 0L, 10.0), (2L, 100L, 99.0), (3L, 101L, 10.0), (4L, 200L, 0.0))
    evs.map { case (id, tS, v) =>
      (id, (base + tS) * 1000000000L, 1L, "e", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q196_twap")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val expected = (1000L * 100000000L + 9900L * 1000000L +
      1000L * 99000000L).toDouble / 200000000.0 / 100.0
    assert(out(1L) == ((3L, 200000000L,
      math.floor(expected * 1e6 + 0.5) / 1e6)), s"got ${out(1L)}")
  }

  test("backlog aging: snapshot keeps only open orders, ages bucket " +
    "correctly vs a direct recompute on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q197_backlog_aging")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val closes = graft.io.Tables.load(spark, sf, "lineitem")
      .groupBy("l_orderkey").agg(max("l_shipdate").as("ship_ts"))
    val open = graft.io.Tables.load(spark, sf, "orders")
      .join(closes, col("o_orderkey") === col("l_orderkey"))
      .where(col("o_orderdate") <= lit("1998-01-01").cast("timestamp") &&
        greatest(col("ship_ts").cast("timestamp"),
          col("o_orderdate").cast("timestamp")) >
          lit("1998-01-01").cast("timestamp"))
      .count()
    assert(open > 0, "snapshot must catch open orders")
    assert(out.values.map(_._1).sum == open,
      s"bucket counts must cover all $open open orders")
    out.keys.foreach(k => assert(Set("0-30", "31-90", "90+")(k)))
  }

  test("peak concurrency: delta walk equals a direct per-day stab " +
    "count at every reported peak") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q198_peak_concurrency")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getDate(1), r.getLong(2)))
    assert(out.length == 10 && out.map(_._1).toSeq == (1 to 10))
    val closes = graft.io.Tables.load(spark, sf, "lineitem")
      .groupBy("l_orderkey").agg(max("l_shipdate").as("ship_ts"))
    val intervals = graft.io.Tables.load(spark, sf, "orders")
      .join(closes, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderdate").cast("date"),
        greatest(col("ship_ts").cast("timestamp"),
          col("o_orderdate").cast("timestamp")).cast("date"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate))
    out.foreach { case (_, day, n) =>
      val d = day.toLocalDate
      val stab = intervals.count { case (a, b) =>
        !d.isBefore(a) && !d.isAfter(b) }
      assert(stab.toLong == n, s"$day: walk $n vs stab $stab")
    }
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted.reverse)
  }
}
