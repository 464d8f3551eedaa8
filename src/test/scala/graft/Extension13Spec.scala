package graft

import org.apache.spark.sql.functions._

/** Round-7 seventh wave: partition planner, curation impact, plus the
  * streaming anomaly operator's multi-batch behavior.
  */
class Extension13Spec extends SparkSpec {

  import spark.implicits._

  test("partition planner: exact ceiling file counts and the 4x-mean " +
    "skew flag on a planted layout") {
    val dir = scratch("graft_pplan")
    // eight 1000-byte cells + a 4096 exact-multiple cell + a 10000-byte
    // hot cell: total 22096 over 10 cells, 4x-mean 8838 -> only the hot
    // cell flags; 10000 -> ceil(10000/4096) = 3 files
    val rows = (0 until 8).map(i =>
      (i.toLong, "a", s"l$i", "s", 1000L)) ++ Seq(
      (8L, "a", "l8", "s", 4096L), (9L, "a", "hot", "s", 10000L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q175_partition_planner")(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(("l0", "s")) == ((1L, 1000L, 1L, false)))
    assert(out(("l8", "s")) == ((1L, 4096L, 1L, false)),
      "exact multiple needs exactly one file")
    // total 22096 over 10 cells: 10000 * 10 > 22096 * 4 -> skewed
    assert(out(("hot", "s")) == ((1L, 10000L, 3L, true)))
    assert(out.values.count(_._4) == 1, "only the hot cell flags")
  }

  test("curation impact: planted dup and contaminated docs are counted " +
    "once each and once in the union") {
    val dir = scratch("graft_cimpact")
    val banner = "one two three four five six"
    // doc 0 (id%25==0) is the benchmark; doc 1 embeds its grams
    // (contaminated); docs 2,3 are exact dups (3 removed, 2 kept);
    // doc 4 is both contaminated and a dup of itself - keep simple:
    // doc 4 clean
    val dir2 = Seq(
      (0L, banner, "en", "s1", 1L),
      (1L, s"intro $banner outro", "en", "s1", 1L),
      (2L, "identical text here padded to length", "en", "s1", 1L),
      (3L, "identical  text here padded to length", "en", "s2", 1L),
      (4L, "completely unrelated clean document text", "en", "s2", 1L))
    dir2.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q176_curation_impact")(spark, dir.toString)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    // s1: docs 1 (contam: 6 of 4+... grams hit -> ratio >= 0.2) and 2
    // (kept canon); s2: doc 3 (dup) and 4 (clean)
    val s1 = out("s1")
    assert(s1._1 == 2L && s1._3 == 0L && s1._4 == 1L && s1._5 == 1L,
      s"s1 expects 1 contaminated removal, got $s1")
    val s2 = out("s2")
    assert(s2._1 == 2L && s2._3 == 1L && s2._4 == 0L && s2._5 == 1L,
      s"s2 expects 1 dup removal, got $s2")
    assert(s2._6 == s2._2 - dir2(3)._2.replaceAll("[^a-zA-Z0-9 ]", "")
      .split(" ").count(_.nonEmpty), "tokens_after drops exactly doc 3")
  }

  test("ewmaAnomalies: alerts fire only after warmup and against the " +
    "pre-event ewma, across micro-batches") {
    import java.nio.file.{Files, StandardCopyOption}
    def nanos(epochS: Long): Long = epochS * 1000000000L
    val base = java.time.LocalDateTime.parse("2024-05-01T10:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val dir = scratch("graft_anom_dir")
    val staging = scratch("graft_anom_stage")
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      val stage = staging.resolve(name)
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // user 1: 100,100,100 (warmup), spike 200 (alert, ewma 100), then
    // 100 (|100-150|<=50 no alert); spike 90 in batch 2 -> ewma by then
    // (((100,100)->100,100)->100,200)->150, then 100 -> 125; |90-125|
    // = 35 <= 50 no alert; 300 -> alert vs 107.5
    // user 2's marker puts the post-b1 watermark at base+100 (+2h lag),
    // so b1's burst folds at b2 while b2's own events (base+150/160)
    // stay ABOVE the watermark (a late-dropped b2 would silently lose
    // them: flatMapGroupsWithState drops beyond-watermark input)
    writeBatch("b1", Seq(
      (1L, nanos(base), 1L, "e", 100.0, "{}"),
      (2L, nanos(base + 10), 1L, "e", 100.0, "{}"),
      (3L, nanos(base + 20), 1L, "e", 100.0, "{}"),
      (4L, nanos(base + 30), 1L, "e", 200.0, "{}"),
      (5L, nanos(base + 40), 1L, "e", 100.0, "{}"),
      (50L, nanos(base + 7300), 2L, "e", 0.0, "{}")))
    val stream = graft.streaming.EventStreams
      .readStream(spark, dir.toString, globFilter = Some("*.parquet"))
      .selectExpr("user_id", "ts", "unix_micros(ts) AS ts_us", "event_id", "value")
      .as[graft.streaming.EventStreams.ValueEvent]
    val q = graft.streaming.EventStreams.ewmaAnomalies(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("anom_stream").start()
    try {
      q.processAllAvailable()
      writeBatch("b2", Seq(
        (6L, nanos(base + 150), 1L, "e", 90.0, "{}"),
        (7L, nanos(base + 160), 1L, "e", 300.0, "{}"),
        (99L, nanos(base + 63072000), -1L, "e", 0.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("anom_stream").where(col("user_id") === 1L)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // ewma before event 7: fold 100,100,100,200,100,90 ->
    // 100,100,100,150,125,107.5
    assert(got == Map(4L -> 100.0, 7L -> 107.5), s"got $got")
  }
}
