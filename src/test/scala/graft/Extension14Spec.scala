package graft

import org.apache.spark.sql.functions._

/** Round-7 eighth wave: k-anonymity ladder, multi-touch attribution,
  * temporal join.
  */
class Extension14Spec extends SparkSpec {

  import spark.implicits._

  test("k-anonymity ladder: generalization monotonically shrinks the " +
    "suppressed set; planted small group fires only at level 0") {
    val dir = scratch("graft_kanon")
    // (en, s1) x6 (safe), (en, s2) x2 (small at level 0); level 1 (en)
    // has 8 (safe); level 2 has 8 (safe)
    val rows = (0 until 6).map(i => (i.toLong, "t", "en", "s1", 1L)) ++
      Seq((6L, "t", "en", "s2", 1L), (7L, "t", "en", "s2", 1L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q177_k_anonymity")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((2L, 1L, 2L)), "level 0: (en,s2) is small")
    assert(out(1L) == ((1L, 0L, 0L)), "level 1: (en) safe")
    assert(out(3L) == ((1L, 0L, 0L)), "level 2: all rows one group")
  }

  test("multi-touch attribution: dyadic weights sum to exactly 1 per " +
    "purchase, recency order, window cutoff") {
    val dir = scratch("graft_mta")
    def ev(id: Long, uid: Long, tS: Long, typ: String, v: Double) =
      (id, tS * 1000000000L + 1714558400L * 1000000000L, uid, typ, v, "{}")
    // user 1: views at t-100, t-50, t-10 before purchase at t; a view
    // outside the 30-min window at t-2000s; user 2: single view -> the
    // last-touch degenerate weight 1.0
    Seq(
      ev(1L, 1L, 0L, "view", 0.0), ev(2L, 1L, 1900L, "view", 0.0),
      ev(3L, 1L, 1950L, "view", 0.0), ev(4L, 1L, 1990L, "view", 0.0),
      ev(5L, 1L, 2000L, "purchase", 8.0),
      ev(6L, 2L, 10L, "view", 0.0), ev(7L, 2L, 20L, "purchase", 5.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q178_multitouch_attribution")(
      spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4)))
    val p5 = out.filter(_._1 == 5L)
    // ranks: view 4 (most recent) 1/2, view 3 1/4, view 2 1/8 + 1/8
    // tail = 1/4; view 1 outside the window
    assert(p5.map(_._4).sum == 1.0, "weights sum to exactly 1")
    assert(p5.map(x => x._2 -> ((x._4, x._5))).toMap ==
      Map(4L -> ((0.5, 4.0)), 3L -> ((0.25, 2.0)), 2L -> ((0.25, 2.0))))
    assert(!p5.exists(_._2 == 1L), "outside-window view gets no credit")
    val p7 = out.filter(_._1 == 7L)
    assert(p7.length == 1 && p7.head._4 == 1.0 && p7.head._5 == 5.0,
      "single view takes full credit")
  }

  test("temporal join: click sees the balance as of its instant, never " +
    "the future; n_prior counts history rows") {
    val dir = scratch("graft_tjoin")
    def ev(id: Long, uid: Long, tS: Long, typ: String, v: Double) =
      (id, tS * 1000000000L + 1714558400L * 1000000000L, uid, typ, v, "{}")
    Seq(
      ev(1L, 1L, 0L, "purchase", 10.0), ev(2L, 1L, 100L, "purchase", 5.5),
      ev(3L, 1L, 50L, "click", 0.0),   // between p1 and p2 -> 10.0
      ev(4L, 1L, 200L, "click", 0.0),  // after p2 -> 15.5
      ev(5L, 2L, 10L, "click", 0.0))   // no history -> absent (inner)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q179_temporal_join")(spark, dir.toString)
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out == Map(3L -> ((1L, 10.0)), 4L -> ((2L, 15.5))))
  }
}
