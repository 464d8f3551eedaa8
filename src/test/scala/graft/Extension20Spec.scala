package graft

import org.apache.spark.sql.functions._

/** Round-7 fourteenth wave: event cadence, split balance. */
class Extension20Spec extends SparkSpec {

  import spark.implicits._

  test("event cadence: planted regular stream lands its quantiles in " +
    "the right 60s bin; cross-type streams independent") {
    val dir = scratch("graft_cadence")
    val base = java.time.LocalDateTime.parse("2024-03-01T00:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC)
    // user 1 clicks every 90s (bin 1: 60-120s); user 1 views every
    // 400s (bin 6: 360-420s) — types must not mix
    val clicks = (0 until 21).map(i =>
      (i.toLong, (base + i * 90L) * 1000000000L, 1L, "click", 0.0, "{}"))
    val views = (0 until 11).map(i =>
      (100L + i, (base + i * 400L) * 1000000000L, 1L, "view", 0.0, "{}"))
    (clicks ++ views)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q194_event_cadence")(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    // constant gaps: every quantile sits in the gap's own bin midpoint
    Seq(0.5, 0.9, 0.99).foreach { q =>
      assert(out(("click", q)) == 90.0, s"click q$q: ${out(("click", q))}")
      assert(out(("view", q)) == 390.0, s"view q$q: ${out(("view", q))}")
    }
  }

  test("split balance: assignments replay q166's splits; chi-square " +
    "contributions are small for the hash split and exact vs recompute") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q195_split_balance")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSet == Set("test", "train", "val"))
    val splits = SparkEntry.queries("q166_leakage_safe_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val langs = graft.io.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // per-split doc counts match q166
    val bySplit = splits.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    out.foreach { case (s, n, _) => assert(n == bySplit(s), s"$s count") }
    // independent chi-square recompute
    val cells = splits.toSeq.map { case (id, s) => (s, langs(id)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ss = cells.keys.map(_._1).toSeq.distinct
    val ls = cells.keys.map(_._2).toSeq.distinct
    val n = cells.values.sum
    val expect = ss.map { s =>
      val rm = ls.map(l => cells.getOrElse((s, l), 0L)).sum
      val contrib = ls.map { l =>
        val cm = ss.map(s2 => cells.getOrElse((s2, l), 0L)).sum
        val o = cells.getOrElse((s, l), 0L)
        val d = (o * n - rm * cm).toDouble
        d * d / (rm * cm).toDouble / n.toDouble
      }.sum
      s -> math.floor(contrib * 1e6 + 0.5) / 1e6
    }.toMap
    out.foreach { case (s, _, chi) =>
      assert(math.abs(chi - expect(s)) <= 1e-6, s"$s: $chi vs ${expect(s)}")
    }
  }
}
