package graft

import org.apache.spark.sql.functions._

/** Round-7 fourth wave: histogram merge, CDC compaction, leakage-safe
  * splits.
  */
class Extension10Spec extends SparkSpec {

  import spark.implicits._

  test("histogram merge: merged base+delta quantiles equal a full " +
    "single-pass recompute at every sf0.001 (event_type, q)") {
    val dir = "/root/testdata/sf0.001"
    val merged = SparkEntry.queries("q164_histogram_merge")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // independent full recompute: exact bin walk over ALL events per type
    val full = graft.io.Tables.load(spark, dir, "events")
      .select(col("event_type"), floor(col("value") / 10.0).as("bin"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).flatMap { case (t, rows) =>
        val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong)
          .toSeq.sortBy(_._1)
        val total = counts.map(_._2).sum
        Seq(0.5, 0.9, 0.99).map { q =>
          var cum = 0L
          val bin = counts.collectFirst {
            case (b, c) if { cum += c; cum >= q * total } => b
          }.get
          (t, q) -> ((bin, (bin + 0.5) * 10.0))
        }
      }
    assert(merged == full.toMap)
  }

  test("cdc compaction: latest event wins, a latest error tombstones " +
    "the user") {
    val dir = scratch("graft_cdc")
    // user 1: latest is a purchase (kept, value rides along); user 2:
    // latest is an error (tombstoned); user 3: single signup (kept);
    // same-ts tie for user 1 breaks by event_id
    Seq(
      (1L, 1L, 0L, "signup", 1.0), (2L, 1L, 100L, "purchase", 9.5),
      (3L, 1L, 100L, "click", 2.0),
      (4L, 2L, 0L, "purchase", 5.0), (5L, 2L, 50L, "error", 0.0),
      (6L, 3L, 10L, "signup", 7.25))
      .toDF("event_id", "user_id", "t_s", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("t_s") * 1000000L).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q165_cdc_compaction")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
    assert(out == Map(
      1L -> ((3L, "click", 2.0)),
      3L -> ((6L, "signup", 7.25))))
  }

  test("leakage-safe split: every member of a duplicate group gets its " +
    "canonical id's split; splits cover train/val/test on real data") {
    val dir = scratch("graft_split")
    // docs 0,1,7 are one group (whitespace/case variants) -> all three
    // must share doc 0's split; 2..6 singletons
    val rows = Seq(
      (0L, "shared   text alpha", "en", "s1", 1L),
      (1L, "Shared Text Alpha", "en", "s1", 1L),
      (7L, " shared text  alpha ", "en", "s2", 1L)) ++
      (2L to 6L).map(i => (i, s"unique text number $i", "en", "s1", 1L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q166_leakage_safe_split")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out(0L)._1 == 0L && out(1L) == out(0L) && out(7L) == out(0L),
      "duplicate group shares the canonical split")
    assert((2L to 6L).forall(i => out(i)._1 == i), "singletons are canonical")
    // real data: group-invariance holds corpus-wide
    val real = SparkEntry.queries("q166_leakage_safe_split")(
      spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCanon = real.groupBy(_._2)
    assert(byCanon.forall { case (_, g) => g.map(_._3).distinct.size == 1 },
      "every dedup group maps to exactly one split")
    assert(real.map(_._3).distinct.toSet.subsetOf(Set("train", "val", "test")))
  }
}
