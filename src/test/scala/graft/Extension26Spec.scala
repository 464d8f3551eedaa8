package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.FsUtil
import graft.streaming.CdcUpsert

/** Semantics tests for the round-8 continuation wave: the streaming
  * funnel's out-of-arrival-order robustness (q231), the CDC upsert's
  * bucket-pruned rewrite (q232), and the q225 sketch-Jaccard margin —
  * the properties the DuckDB oracle can't see (it replays the batch
  * rule on the fixture, not arrival order, file-level rewrite scope, or
  * the estimate's distance to exact).
  */
class Extension26Spec extends SparkSpec {

  import spark.implicits._

  test("streaming funnel: scrambled arrival order and click-before-view " +
    "users fold to the batch rule") {
    val dir = scratch("graft_funnel_fixture")
    try {
      // epoch NANOS (2024-01-15T00:00Z ≈ 1.7052768e18) — the raw-long
      // form EventStreams.readStream's unit guard classifies as nanos
      val base = 1705276800L * 1000000000L
      def ns(min: Long): Long = base + min * 60L * 1000000000L
      // file row order is deliberately NOT event-time order
      Seq(
        // user 1 completes the funnel; purchase row arrives FIRST
        (103L, ns(30), 1L, "purchase", 5.0, "{}"),
        (101L, ns(10), 1L, "view", 0.0, "{}"),
        (102L, ns(20), 1L, "click", 0.0, "{}"),
        // user 2: only click precedes the first view in EVENT time and
        // the purchase follows the view with no click in between —
        // stages 2/3 must NOT fire
        (201L, ns(10), 2L, "click", 0.0, "{}"),
        (202L, ns(20), 2L, "view", 0.0, "{}"),
        (203L, ns(30), 2L, "purchase", 7.0, "{}"),
        // user 3: view only
        (301L, ns(15), 3L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/stage")
      // the query's pathGlobFilter matches a FILE named events.parquet
      // (the fixture layout) — promote the single part file to that name
      val part = new java.io.File(s"$dir/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve("events.parquet"))
      FsUtil.deleteRecursively(s"$dir/stage")
      val got = SparkEntry.queries("q231_streaming_funnel")(spark, dir.toString)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("1_view" -> 3L, "2_click" -> 1L, "3_purchase" -> 1L),
        s"funnel decisions diverged from the batch rule: $got")
    } finally FsUtil.deleteRecursively(dir)
  }

  test("cdc upsert: second merge rewrites ONLY the affected buckets and " +
    "newer (ts, event_id) wins") {
    val snap = scratch("graft_cdc_spec_snap")
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val batchA = (0L until 16L).map(u =>
          (u, ts("2024-01-01 00:00:00"), 1000L + u, "view", 1.0))
        .toDF("user_id", "ts", "event_id", "event_type", "value")
      CdcUpsert.mergeBatch(spark, batchA, snap.toString)
      def bucketFiles(b: Long): Set[String] = {
        val d = new java.io.File(s"$snap/bucket=$b")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getName}:${f.length}:${f.lastModified}").toSet
      }
      val before = (0L until 8L).map(b => b -> bucketFiles(b)).toMap
      // users 8 and 16 both hash to bucket 0; everything else untouched
      val batchB = Seq(
          (8L, ts("2024-01-02 00:00:00"), 2001L, "purchase", 9.0),
          (16L, ts("2024-01-02 00:00:00"), 2002L, "click", 3.0))
        .toDF("user_id", "ts", "event_id", "event_type", "value")
      CdcUpsert.mergeBatch(spark, batchB, snap.toString)
      val after = (0L until 8L).map(b => b -> bucketFiles(b)).toMap
      assert(after(0L) != before(0L), "affected bucket 0 was not rewritten")
      (1L until 8L).foreach(b =>
        assert(after(b) == before(b),
          s"bucket $b was rewritten by a merge that touched no key in it"))
      val out = CdcUpsert.readSnapshot(spark, snap.toString)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(2), r.getString(3), r.getDouble(4))).toMap
      assert(out.size == 17)
      assert(out(8L) == ((2001L, "purchase", 9.0)), s"user 8 not upserted: $out")
      assert(out(16L) == ((2002L, "click", 3.0)), s"user 16 not inserted: $out")
      assert(out(7L) == ((1007L, "view", 1.0)), s"untouched user 7 changed: $out")
    } finally FsUtil.deleteRecursively(snap)
  }

  test("cdc compaction: drops tombstoned keys, removes a fully-deleted " +
    "bucket's directory, leaves clean buckets untouched") {
    val snap = scratch("graft_cdc_compact_snap")
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // bucket 0: user 0 live, user 8 tombstoned; bucket 1: user 1
      // tombstoned, user 9 tombstoned (fully deleted); bucket 2: clean
      val batch = Seq(
          (0L, ts("2024-01-01 00:00:00"), 10L, "view", 1.0),
          (8L, ts("2024-01-01 00:00:00"), 11L, "error", 0.0),
          (1L, ts("2024-01-01 00:00:00"), 12L, "error", 0.0),
          (9L, ts("2024-01-01 00:00:00"), 13L, "error", 0.0),
          (2L, ts("2024-01-01 00:00:00"), 14L, "click", 2.0))
        .toDF("user_id", "ts", "event_id", "event_type", "value")
      CdcUpsert.mergeBatch(spark, batch, snap.toString)
      def files(b: Long): Set[String] = {
        val d = new java.io.File(s"$snap/bucket=$b")
        if (!d.exists()) Set.empty
        else d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getName}:${f.lastModified}").toSet
      }
      val clean2 = files(2L)
      CdcUpsert.compact(spark, snap.toString)
      assert(!new java.io.File(s"$snap/bucket=1").exists(),
        "fully-tombstoned bucket directory not removed")
      assert(files(2L) == clean2, "tombstone-free bucket was rewritten")
      val out = CdcUpsert.readSnapshot(spark, snap.toString)
        .collect().map(_.getLong(0)).toSet
      assert(out == Set(0L, 2L), s"post-compaction keys wrong: $out")
    } finally FsUtil.deleteRecursively(snap)
  }

  test("cdc compaction removes a fully tombstoned bucket whose " +
    "directory also holds a nested subdirectory") {
    val snap = scratch("graft_cdc_compact_nested")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    CdcUpsert.mergeBatch(spark, Seq(
        (0L, ts("2024-01-01 00:00:00"), 10L, "view", 1.0),
        (1L, ts("2024-01-01 00:00:00"), 12L, "error", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value"),
      snap.toString)
    // a nested dir in tombstoned bucket 1, holding a copy of its part file
    val bucket = snap.resolve("bucket=1")
    val nested = Files.createDirectory(bucket.resolve("nested"))
    val part = new java.io.File(bucket.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Files.copy(part, nested.resolve(part.getFileName))
    CdcUpsert.compact(spark, snap.toString)
    assert(!Files.exists(bucket), "tombstoned bucket directory survived")
    val out = CdcUpsert.readSnapshot(spark, snap.toString)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(0L), s"tombstoned rows left in the snapshot: $out")
  }

  test("streaming moments: scrambled arrival folds to the batch moments") {
    val dir = scratch("graft_moments_fixture")
    try {
      val base = 1705276800L * 1000000000L
      def ns(min: Long): Long = base + min * 60L * 1000000000L
      val rows = Seq(
        (3L, ns(30), 1L, "a", 9.0, "{}"), (1L, ns(10), 1L, "a", 1.0, "{}"),
        (2L, ns(20), 2L, "a", 5.0, "{}"), (6L, ns(25), 3L, "b", 2.0, "{}"),
        (5L, ns(15), 1L, "b", 4.0, "{}"), (4L, ns(5), 2L, "b", 6.0, "{}"))
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stage")
      val part = new java.io.File(s"$dir/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve("events.parquet"))
      FsUtil.deleteRecursively(s"$dir/stage")
      val got = SparkEntry.queries("q237_streaming_moments")(spark, dir.toString)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      // a: {1,5,9} → mean 5, var_pop 32/3; b: {2,4,6} → mean 4, var 8/3
      assert(got("a") == ((3L, 5.0, math.floor(32.0 / 3.0 * 1e6 + 0.5) / 1e6)),
        s"type a moments diverged: $got")
      assert(got("b") == ((3L, 4.0, math.floor(8.0 / 3.0 * 1e6 + 0.5) / 1e6)),
        s"type b moments diverged: $got")
    } finally FsUtil.deleteRecursively(dir)
  }

  test("q225 sketch Jaccard sits at least 2x inside the gate tolerance") {
    import graft.io.Tables
    import graft.ops.Text
    val sw = Tables.load(spark, sf0001, "documents")
      .select(col("source"),
        explode(Text.words(Text.clean(col("text")))).as("word"))
      .distinct().localCheckpoint()
    val sk = sw.groupBy("source")
      .agg(hll_sketch_agg(col("word")).as("sk"), count(lit(1)).as("vocab"))
    val pairs = sk.select(col("source").as("sa"), col("sk").as("ska"),
        col("vocab").as("va"))
      .join(sk.select(col("source").as("sb"), col("sk").as("skb"),
        col("vocab").as("vb")), col("sa") < col("sb"))
      .select(col("sa"), col("sb"), col("va"), col("vb"),
        hll_sketch_estimate(col("ska")).as("ea"),
        hll_sketch_estimate(col("skb")).as("eb"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("eu"))
    val exact = sw.select(col("source").as("sa"), col("word"))
      .join(sw.select(col("source").as("sb"), col("word")), "word")
      .where(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("common"))
    val errs = pairs.join(exact, Seq("sa", "sb"))
      .select(abs((col("ea") + col("eb") - col("eu")) / col("eu") -
        col("common").cast("double") /
          (col("va") + col("vb") - col("common")).cast("double")))
      .collect().map(_.getDouble(0))
    assert(errs.nonEmpty)
    val worst = errs.max
    assert(worst <= 0.075,
      f"sketch Jaccard error $worst%.4f exceeds half the 0.15 gate bound")
  }
}
