package graft

import org.apache.spark.sql.functions._

import graft.io.{Sources, Tables}

/** Physical-contract tests for the round-10 fourth wave: 2-D z-order
  * zone maps (q470) and streaming state bootstrap (q471).
  */
class Extension83Spec extends SparkSpec {

  test("2-D zone map: the box prunes on BOTH dimensions — fewer files " +
    "than either single-dimension band admits, result == plain filter") {
    val base = scratchPath("graft_zonemap2_spec")
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("value"),
        expr("unix_micros(cast(ts as timestamp)) div 3600000000")
          .as("hour"))
    Sources.writeWithZoneMap2(ev, base, "value", "hour", 16)

    val (box, total) = Sources.zoneMapFiles2(spark, base,
      20.0, 60.0, 473400.0, 473472.0)
    val (xOnly, _) = Sources.zoneMapFiles2(spark, base,
      20.0, 60.0, Double.MinValue, Double.MaxValue)
    val (yOnly, _) = Sources.zoneMapFiles2(spark, base,
      Double.MinValue, Double.MaxValue, 473400.0, 473472.0)
    assert(total == 16)
    assert(box.nonEmpty && box.length < total,
      s"box selected ${box.length}/$total files — no skipping")
    // z-order's reason to exist: ONE layout serves BOTH single-dimension
    // bands (a 1-D sort prunes only its own column), and the box never
    // costs more than the better band
    assert(xOnly.length < total,
      s"x-band alone selected all $total files — x carries no zones")
    assert(yOnly.length < total,
      s"y-band alone selected all $total files — y carries no zones")
    assert(box.length <= math.min(xOnly.length, yOnly.length),
      s"box ${box.length} files > a single band " +
        s"(${xOnly.length}/${yOnly.length})")

    val got = Sources.readZoneMapped2(spark, base, "value", "hour",
      20.0, 60.0, 473400.0, 473472.0)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val want = ev.where(col("value") >= 20.0 && col("value") < 60.0 &&
        col("hour") >= 473400L && col("hour") < 473472L)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("state bootstrap: q471 equals the batch rollup over ALL events " +
    "(seed + stream), computed in-Spark") {
    val got = SparkEntry.queries("q471_tws_state_bootstrap")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val want = ev.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n"),
        sum("cents").as("total_cents"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("state bootstrap: a HISTORY-ONLY user (never in the stream) " +
    "still reports via the handleInitialState timer — the fixture's " +
    "id-spread leaves no such user, so pin it synthetically") {
    import spark.implicits._
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    def rm(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => Files.deleteIfExists(f))
    val t0 = 1704067200L * 1000000000L // 2024-01-01T00:00Z ns
    // stream: only user 2 (+ sentinel); history: users 1 AND 2
    val streamDir = scratch("graft_ws_spec_stream")
    val ckpt = scratch("graft_ws_spec_ckpt")
    Seq(
      (201L, t0 + 60L * 1000000000L, 2L, "click", 3.50, "{}"),
      (202L, t0 + 120L * 1000000000L, 2L, "click", 1.25, "{}"),
      (-1L, graft.streaming.EventStreams.FlushSentinelNanos, -1L,
        "__flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(streamDir.toString)
    val history = Seq(
      graft.streaming.WarmStart.WsInit(1L, 5L, 1000L),
      graft.streaming.WarmStart.WsInit(2L, 2L, 700L))
      .toDS().groupByKey(_.user_id)
    val flushAtMs = (t0 + 120L * 1000000000L) / 1000000L + 1
    val name = "graft_ws_spec_sink"
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream
        .schema(graft.streaming.EventStreams.rawSchema)
        .parquet(streamDir.toString)
        .withColumn("ts", expr(Tables.epochLongToTsSql("ts")))
        .withWatermark("ts", "2 hours")
        .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
          "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        .as[graft.streaming.WarmStart.WsEvent]
      val q = graft.streaming.WarmStart
        .lifetimeTotals(stream, history, flushAtMs)
        .filter(col("user_id") >= 0)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val got = spark.table(name).orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // user 1: pure seed (5, 1000); user 2: seed + 2 streamed events
      assert(got.toSeq == Seq((1L, 5L, 1000L), (2L, 4L, 1175L)),
        s"got ${got.toSeq}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
      spark.catalog.dropTempView(name)
      rm(ckpt); rm(streamDir)
    }
  }
}
