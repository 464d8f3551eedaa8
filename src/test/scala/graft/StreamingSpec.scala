package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.streaming.EventStreams

/** Streaming/batch equivalence: the events fixture pushed through
  * `readStream` + memory sink must produce exactly the batch aggregation
  * (q21's grouping), and the stateful session path must match a batch
  * groupBy summary. FileStreamSource wants a directory, so the fixture
  * file is staged into a temp dir.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private lazy val eventsDir: String = {
    val dir = scratch("graft_events")
    Files.copy(
      Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("TRIPWIRE: streaming and batch readers agree on the events ts envelope") {
    // Round 7 post-mortem: the streaming reader's assumed epoch unit went
    // stale when the environment's Spark changed how an explicit-LONG
    // schema surfaces a TIMESTAMP(NANOS) column, and 10 oracle gates went
    // red at once. Any future unit divergence is a 1000× min/max
    // disagreement — this probe turns it into a seconds-fast failure.
    val env = graft.tools.StreamBatchTripwire.probe(spark, eventsDir, sf0001)
    assert(env.consistent,
      s"stream/batch ts divergence — a reader path's epoch unit is wrong: $env")
    // and neither path may be consistently wrong: the fixture's event
    // times are 2024 wall-clock (micros ~1.7e15), not 1970 or year-54k
    val yr = java.time.Instant.ofEpochMilli(env.streamMinUs / 1000L)
      .atZone(java.time.ZoneOffset.UTC).getYear
    assert(yr >= 2020 && yr <= 2030, s"implausible event-time year $yr: $env")
  }

  test("streaming hourly counts == batch hourly counts (complete mode)") {
    val q = EventStreams.hourlyCounts(EventStreams.readStream(spark, eventsDir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("hourly")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val got = spark.table("hourly")
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm").as("h"),
        col("event_type"), col("n"), col("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    val batch = Tables.load(spark, sf0001, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm").as("h"),
        col("event_type"), col("n"), col("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("stateful gap sessions (flatMapGroupsWithState) == batch sessionization") {
    // the registered q76 pipeline (real stream + sentinel watermark
    // flush) must equal the registered batch q29 pipeline row-for-row
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
      .toSeq

    val got = canon(SparkEntry.queries("q76_streaming_sessions")(spark, sf0001))
    val batch = canon(SparkEntry.queries("q29_sessionization")(spark, sf0001))
    assert(got == batch)
    assert(got.nonEmpty)
    // multiple sessions per user must actually occur in the fixture —
    // otherwise the gap-split path was never exercised
    assert(got.exists(_._2 > 1))
  }

  test("gapSessions: admissible late event lands in its own session (round-4 review)") {
    // the failure the watermark-driven redesign fixes: user 1 has events
    // at 10:00 and 13:00 in batch 1 (watermark after it: 11:00); batch 2
    // delivers a legally-late 11:15 event. Correct sessionization gives
    // THREE singleton sessions; the old eager-emit design had already
    // emitted {10:00} and merged 11:15 into the open 13:00 session.
    import spark.implicits._
    def nanos(s: String): Long =
      java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val dir = scratch("graft_late_sess")
    val staging = scratch("graft_late_stage")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val stage = staging.resolve(name)
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    writeBatch("b1", Seq(
      (1L, nanos("2024-05-01T10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, nanos("2024-05-01T13:00:00"), 1L, "view", 4.0, "{}")))
    val stream = EventStreams.readStream(spark, dir.toString, globFilter = Some("*.parquet"))
      .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "event_id", "value")
      .as[EventStreams.SessionEvent]
    val q = EventStreams.gapSessions(stream)
      .writeStream.outputMode("append").format("memory").queryName("late_sess").start()
    try {
      q.processAllAvailable() // batch 1: watermark -> 11:00
      writeBatch("b2", Seq(
        (3L, nanos("2024-05-01T11:15:00"), 1L, "view", 2.0, "{}"),
        // sentinel far past everything: seals every session
        (99L, nanos("2030-01-01T00:00:00"), -1L, "view", 0.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("late_sess")
      .where(col("user_id") === 1L)
      .orderBy("session_idx")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq((1L, 1L, 1.0), (2L, 1L, 2.0), (3L, 1L, 4.0)),
      s"expected three singleton sessions in event-time order, got $got")
  }

  test("gapSessions dropIdleTombstones: state removed after seal, numbering restarts") {
    // the advised opt-out of the forever-tombstone: with the flag, a user
    // whose spans all sealed leaves NO state behind, so a much-later
    // return restarts session_idx at 1 (the documented trade for strictly
    // active-user-bounded state)
    import spark.implicits._
    def nanos(s: String): Long =
      java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val dir = scratch("graft_tomb_sess")
    val staging = scratch("graft_tomb_stage")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val stage = staging.resolve(name)
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    writeBatch("b1", Seq(
      (1L, nanos("2024-05-01T10:00:00"), 1L, "view", 1.0, "{}"),
      // sentinel seals user 1's session and (with the flag) removes state
      (90L, nanos("2026-01-01T00:00:00"), -1L, "view", 0.0, "{}")))
    val stream = EventStreams.readStream(spark, dir.toString, globFilter = Some("*.parquet"))
      .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "event_id", "value")
      .as[EventStreams.SessionEvent]
    val q = EventStreams.gapSessions(stream, dropIdleTombstones = true)
      .writeStream.outputMode("append").format("memory").queryName("tomb_sess").start()
    try {
      q.processAllAvailable()
      writeBatch("b2", Seq(
        (2L, nanos("2026-06-01T00:00:00"), 1L, "view", 2.0, "{}"),
        (91L, nanos("2030-01-01T00:00:00"), -1L, "view", 0.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("tomb_sess")
      .where(col("user_id") === 1L)
      .orderBy("n_events", "session_value")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // two singleton sessions, BOTH numbered 1: the second emission proves
    // the tombstone was dropped (the default path would number it 2)
    assert(got == Seq((1L, 1L, 1.0), (1L, 1L, 2.0)),
      s"expected restarted numbering after tombstone drop, got $got")
  }

  test("RECOVERY: restart from checkpoint restores dedup state — " +
    "exactly-once output across a stop/start (file sink)") {
    import spark.implicits._
    def nanos(s: String): Long =
      java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val dir = scratch("graft_rec_src")
    val staging = scratch("graft_rec_stage")
    val ckpt = scratch("graft_rec_ckpt")
    val out = scratch("graft_rec_out")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val stage = staging.resolve(name)
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def runOnce(): Unit = {
      val q = EventStreams.readStream(spark, dir.toString, globFilter = Some("*.parquet"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .select("event_id", "user_id", "event_type")
        .writeStream
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    // run 1: events 1 and 2 flow through, dedup state remembers them
    writeBatch("b1", Seq(
      (1L, nanos("2024-05-01T10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, nanos("2024-05-01T10:30:00"), 1L, "view", 1.0, "{}")))
    runOnce() // terminates — simulates the job stopping
    // run 2, SAME checkpoint: a duplicate of event 1 (within the 2h
    // horizon) plus a genuinely new event 3; only restored state can
    // suppress the duplicate
    writeBatch("b2", Seq(
      (1L, nanos("2024-05-01T10:00:00"), 1L, "view", 1.0, "{}"),
      (3L, nanos("2024-05-01T11:00:00"), 1L, "view", 1.0, "{}")))
    runOnce()
    val ids = spark.read.parquet(out.toString)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"restart broke exactly-once (state not restored?): $ids")
  }

  test("RECOVERY: q167 rateLimit kill-and-resume under RocksDB+changelog " +
    "— split-run output == single-run, no drops, no double decisions") {
    // the r8 verdict's open item: the RocksDB/changelog configuration
    // CLAIMS restart safety but nothing exercised it. This runs the
    // real q167 operator over the real fixture, stops the query with
    // half the stream ingested (token state + the 2h pending buffer
    // live only in the checkpoint at that point), restarts from the
    // SAME checkpoint with the rest + flush sentinel, and gates the
    // union of the two runs' outputs against an uninterrupted single
    // run. Lost state shifts token decisions for boundary-spanning
    // users; re-read files double-decide events — either fails here.
    // the explicit LongType schema (the streaming source's own read
    // path) surfaces ts as a raw epoch long whatever the parquet
    // logical type is; the halves re-enter readStream as raw INT64 and
    // the shared unit guard converts them
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$sf0001/events.parquet")
    val ts50 = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0)
    val sentinel = Seq(
      (-1L, EventStreams.FlushSentinelNanos, -1L, "__flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val staging = scratch("graft_rr_stage")
    def stageDf(name: String,
                df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val p = staging.resolve(name)
      df.coalesce(1).write.mode("overwrite").parquet(p.toString)
      p
    }
    val h1 = stageDf("h1", raw.where(col("ts") <= ts50))
    val h2 = stageDf("h2", raw.where(col("ts") > ts50))
    val sn = stageDf("sn", sentinel)
    def copyIn(dst: java.nio.file.Path, src: java.nio.file.Path,
               prefix: String): Unit =
      src.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
          Files.copy(f.toPath, dst.resolve(s"$prefix$i.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
        }
    def run(src: java.nio.file.Path, ckpt: java.nio.file.Path,
            out: java.nio.file.Path): Unit = {
      // file sink, not memory: the memory sink refuses checkpoint
      // recovery, and recovery is the thing under test
      val stream = EventStreams
        .readStream(spark, src.toString, globFilter = Some("*.parquet"))
        .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "event_id")
        .as[EventStreams.RateEvent]
      val q = EventStreams.rateLimit(stream)
        .filter(col("user_id") >= 0)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val srcSplit = scratch("graft_rr_split")
      val ckptSplit = scratch("graft_rr_ckpt1")
      val outSplit = scratch("graft_rr_out1")
      copyIn(srcSplit, h1, "a")
      run(srcSplit, ckptSplit, outSplit) // the "kill": stop mid-stream
      val n1 = spark.read.parquet(outSplit.toString).count()
      copyIn(srcSplit, h2, "b"); copyIn(srcSplit, sn, "c")
      run(srcSplit, ckptSplit, outSplit) // resume from the checkpoint
      val srcAll = scratch("graft_rr_all")
      val ckptAll = scratch("graft_rr_ckpt2")
      val outAll = scratch("graft_rr_out2")
      copyIn(srcAll, h1, "a"); copyIn(srcAll, h2, "b"); copyIn(srcAll, sn, "c")
      run(srcAll, ckptAll, outAll)
      def decisions(out: java.nio.file.Path): Seq[(Long, Long, Boolean)] =
        spark.read.parquet(out.toString).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
          .sorted.toSeq
      val split = decisions(outSplit)
      val single = decisions(outAll)
      assert(split.map(_._2).distinct.size == split.size,
        "an event was decided twice across the restart")
      assert(n1 > 0 && n1 < single.size,
        s"kill point must land mid-stream (run1 emitted $n1 of " +
          s"${single.size}) or the test proves nothing")
      assert(split.size == raw.count(),
        s"dropped decisions: ${split.size} of ${raw.count()}")
      assert(split == single,
        "restored state diverged from the uninterrupted run")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("RECOVERY: gapSessions kill-and-resume under RocksDB+changelog " +
    "— split-run sessions == single-run == the batch q29 oracle") {
    // r9 verdict item 5: the most state-heavy operator is the
    // flatMapGroupsWithState sessionizer — per-user open-span buffers,
    // a closed-session counter, and event-time timeouts all live in the
    // checkpoint at the kill point. Stop with half the stream ingested,
    // restart from the SAME checkpoint with the rest + flush sentinel,
    // and the union of both runs' sealed sessions must equal an
    // uninterrupted run AND the registered batch q29 pipeline
    // row-for-row (numbering continuity proves the closed counter was
    // restored, not just the spans).
    import spark.implicits._
    val raw = spark.read.schema(EventStreams.rawSchema)
      .parquet(s"$sf0001/events.parquet")
    val ts50 = raw.stat.approxQuantile("ts", Array(0.5), 0.0)(0)
    val sentinel = Seq(
      (-1L, EventStreams.FlushSentinelNanos, -1L, "__flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val staging = scratch("graft_sr_stage")
    def stageDf(name: String,
                df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val p = staging.resolve(name)
      df.coalesce(1).write.mode("overwrite").parquet(p.toString)
      p
    }
    val h1 = stageDf("h1", raw.where(col("ts") <= ts50))
    val h2 = stageDf("h2", raw.where(col("ts") > ts50))
    val sn = stageDf("sn", sentinel)
    def copyIn(dst: java.nio.file.Path, src: java.nio.file.Path,
               prefix: String): Unit =
      src.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
          Files.copy(f.toPath, dst.resolve(s"$prefix$i.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
        }
    def run(src: java.nio.file.Path, ckpt: java.nio.file.Path,
            out: java.nio.file.Path): Unit = {
      val stream = EventStreams
        .readStream(spark, src.toString, globFilter = Some("*.parquet"))
        .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us",
          "event_id", "value")
        .as[EventStreams.SessionEvent]
      val q = EventStreams.gapSessions(stream)
        .filter(col("user_id") >= 0)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val srcSplit = scratch("graft_sr_split")
      val ckptSplit = scratch("graft_sr_ckpt1")
      val outSplit = scratch("graft_sr_out1")
      copyIn(srcSplit, h1, "a")
      run(srcSplit, ckptSplit, outSplit) // the "kill": stop mid-stream
      val n1 = spark.read.parquet(outSplit.toString).count()
      copyIn(srcSplit, h2, "b"); copyIn(srcSplit, sn, "c")
      run(srcSplit, ckptSplit, outSplit) // resume from the checkpoint
      val srcAll = scratch("graft_sr_all")
      val ckptAll = scratch("graft_sr_ckpt2")
      val outAll = scratch("graft_sr_out2")
      copyIn(srcAll, h1, "a"); copyIn(srcAll, h2, "b")
      copyIn(srcAll, sn, "c")
      run(srcAll, ckptAll, outAll)
      def sessions(out: java.nio.file.Path): Seq[(Long, Long, Long, Double)] =
        spark.read.parquet(out.toString).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3)))
          .sorted.toSeq
      val split = sessions(outSplit)
      val single = sessions(outAll)
      assert(n1 > 0 && n1 < single.size,
        s"kill point must land mid-stream (run1 sealed $n1 of " +
          s"${single.size}) or the test proves nothing")
      assert(split == single,
        "restored sessionizer state diverged from the uninterrupted run")
      val batch = SparkEntry.queries("q29_sessionization")(spark, sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
        .sorted.toSeq
      assert(split == batch,
        s"split-run sessions diverge from the batch q29 oracle " +
          s"(${split.size} vs ${batch.size} rows)")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("rateLimit: bucket state carries across micro-batches, pending " +
    "buffer re-orders within-horizon arrivals") {
    def nanos(epochS: Long): Long = epochS * 1000000000L
    val base = java.time.LocalDateTime.parse("2024-05-01T10:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val dir = scratch("graft_rate_sess")
    val staging = scratch("graft_rate_stage")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val stage = staging.resolve(name)
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val stream = EventStreams.readStream(spark, dir.toString, globFilter = Some("*.parquet"))
      .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "event_id")
      .as[EventStreams.RateEvent]
    // b1: user 1 bursts 4 at 1s spacing; a user-2 event far ahead pushes
    // the watermark past the burst so it folds on b2's invocation
    writeBatch("b1", Seq(
      (1L, nanos(base), 1L, "e", 0.0, "{}"),
      (2L, nanos(base + 1), 1L, "e", 0.0, "{}"),
      (3L, nanos(base + 2), 1L, "e", 0.0, "{}"),
      (4L, nanos(base + 3), 1L, "e", 0.0, "{}"),
      (50L, nanos(base + 10000), 2L, "e", 0.0, "{}")))
    val q = EventStreams.rateLimit(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("rate_stream").start()
    try {
      q.processAllAvailable()
      // b2: OUT-OF-ORDER above-watermark pair (3000s before 2900s in id
      // order) — the pending buffer must fold them in ts order; sentinel
      // flushes everything
      writeBatch("b2", Seq(
        (5L, nanos(base + 3000), 1L, "e", 0.0, "{}"),
        (6L, nanos(base + 2900), 1L, "e", 0.0, "{}"),
        (99L, nanos(base + 63072000), -1L, "__flush", 0.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rate_stream").where(col("user_id") === 1L)
      .collect().map(r => r.getLong(1) -> r.getBoolean(2)).toMap
    // burst: 3 admitted then denied; t+2900: k=(2900-0)/600=4 whole
    // periods -> full bucket (admit, tokens 2, last=t+2400); t+3000:
    // k=1 -> admit
    assert(got == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false,
      6L -> true, 5L -> true), s"got $got")
  }

  test("q292 latenessRouter: hand-computed arrival-inversion drop") {
    def nanos(epochS: Long): Long = epochS * 1000000000L
    val base = java.time.LocalDateTime.parse("2024-06-01T12:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val dir = scratch("graft_late_micro")
    val staging = scratch("graft_late_stage")
    // arr = ts + (id % 4)*30s. id=4 -> arr base+230; id=3 (lag 90s) ->
    // arr base+240 but ts base+150 — 80s behind the id=4 event that
    // arrived first -> DROP; id=0 -> arr/ts base+300 -> admit
    val stage = staging.resolve("events")
    Seq(
      (4L, nanos(base + 230), 1L, "e", 0.0, "{}"),
      (3L, nanos(base + 150), 1L, "e", 0.0, "{}"),
      (0L, nanos(base + 300), 1L, "e", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val got = SparkEntry.queries("q292_streaming_lateness")(
      spark, dir.toString).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((3L, 2L, 1L, 80000000L)),
      s"got (${r.getLong(1)}, ${r.getLong(2)}, ${r.getLong(3)}, " +
        s"${r.getLong(4)})")
  }

  test("SentinelFiles direct writer == the Spark-job sentinel write " +
    "(r15: gates plant sentinels without a Spark job)") {
    // the r15 optimization swaps every gate's Seq(..).toDF.write.parquet
    // sentinel job for a driver-side ParquetWriter; both paths must read
    // back identically under the stream reader's explicit raw schema —
    // including the ts NANOS unit the shared guard keys on
    val rows = Seq(
      (-1L, EventStreams.FlushSentinelNanos, -1L, "__flush", 0.0, "{}"),
      (-2L, EventStreams.FlushSentinelNanos, -2L, "purchase", 0.5, "{}"))
    val sparkDir = scratch("graft_sent_spark")
    val directDir = scratch("graft_sent_direct")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(sparkDir.toString)
    graft.streaming.SentinelFiles.writeEvents(directDir, rows)
    def readBack(d: java.nio.file.Path) =
      spark.read.schema(EventStreams.rawSchema).parquet(d.toString)
        .orderBy("event_id").collect().toSeq
    assert(readBack(directDir) == readBack(sparkDir))
    // and through the STREAMING reader (unit guard: the 2100 sentinel
    // must surface as the 2100 instant, not 1970)
    val ckpt = scratch("graft_sent_ckpt")
    val name = "graft_sentinel_files_spec"
    val q = EventStreams.readStream(spark, directDir.toString,
        globFilter = Some("*.parquet"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val yrs = spark.table(name).select(year(col("ts"))).collect()
      .map(_.getInt(0)).toSeq
    assert(yrs == Seq(2100, 2100), s"sentinel ts years: $yrs")
  }
  test("SentinelFiles.writeEvents refuses a dir holding other *.parquet " +
    "files and leaves them in place") {
    // the gates read their sentinel dir with a *.parquet glob, so a stray
    // parquet file there would be read as (more) sentinel rows
    val dir = scratch("graft_sent_stray")
    val row = Seq(
      (-1L, EventStreams.FlushSentinelNanos, -1L, "__flush", 0.0, "{}"))
    graft.streaming.SentinelFiles.writeEvents(dir, row)
    // rewriting its own sentinel.parquet stays allowed
    graft.streaming.SentinelFiles.writeEvents(dir, row)
    val stray = dir.resolve("part-00000.parquet")
    Files.copy(dir.resolve("sentinel.parquet"), stray)
    val bytes = Files.readAllBytes(stray).toSeq
    val e = intercept[IllegalStateException](
      graft.streaming.SentinelFiles.writeFlushSentinel(dir))
    assert(e.getMessage.contains("part-00000.parquet"), e.getMessage)
    assert(Files.readAllBytes(stray).toSeq == bytes)
    assert(Files.exists(dir.resolve("sentinel.parquet")))
  }
}
