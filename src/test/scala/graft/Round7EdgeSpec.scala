package graft

import org.apache.spark.sql.functions._

/** Degenerate-input hardening for the round-7 operator families: the
  * inputs a 100-TB pipeline WILL eventually see — single-member strata,
  * all-one-value columns, keys with one event, empty signal sets — must
  * produce defined output, not exceptions or silent wrong answers.
  */
class Round7EdgeSpec extends SparkSpec {

  import spark.implicits._

  private def writeDocs(dir: java.nio.file.Path,
                        rows: Seq[(Long, String, String, String, Long)]): Unit =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

  test("twap: single-event users are excluded (no zero-span division), " +
    "two-event user defined") {
    val dir = scratch("graft_e_twap")
    Seq(
      (1L, 1714558400000000000L, 1L, "e", 5.0, "{}"),
      (2L, 1714558400000000000L, 2L, "e", 3.0, "{}"),
      (3L, 1714558500000000000L, 2L, "e", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q196_twap")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out == Map(2L -> 3.0), s"only user 2 has a span: $out")
  }

  test("neyman: a single stratum takes the whole budget even with " +
    "zero spread") {
    val dir = scratch("graft_e_ney")
    // one source, all docs identical length -> sd 0, total weight 0:
    // the 0/0 seat share falls back to count-proportional allocation
    // (this spec CAUGHT the unguarded divide-by-zero under ANSI mode)
    writeDocs(dir, (0 until 4).map(i =>
      (i.toLong, "one two three", "en", "only", 1L)))
    val out = SparkEntry.queries("q201_neyman_allocation")(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.length == 1 && out.head._2 == 4L)
    assert(out.head._3 == 1000L,
      s"zero-spread degenerate goes proportional, got ${out.head}")
  }

  test("prefix containment: corpus of identical docs flags all but " +
    "the lexicographic last") {
    val dir = scratch("graft_e_prefix")
    writeDocs(dir, (0 until 5).map(i =>
      (i.toLong, "same text", "en", "s", 1L)))
    val out = SparkEntry.queries("q168_prefix_containment")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // equal strings: each doc contained in its (norm, id)-successor
    assert(out.toMap == Map(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L))
  }

  test("pareto frontier: all docs identical collapses to the full set " +
    "(nothing dominates anything)") {
    val dir = scratch("graft_e_pareto")
    writeDocs(dir, (0 until 3).map(i =>
      (i.toLong, "alpha beta gamma", "en", "s", 1L)))
    val got = SparkEntry.queries("q183_pareto_frontier")(spark, dir.toString)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L, 2L))
  }

  test("k-anonymity: k larger than every group suppresses everything " +
    "at level 0 and the ladder recovers at full generalization") {
    val dir = scratch("graft_e_kanon")
    writeDocs(dir, Seq(
      (0L, "t", "en", "s1", 1L), (1L, "t", "fr", "s2", 1L),
      (2L, "t", "de", "s3", 1L), (3L, "t", "es", "s4", 1L),
      (4L, "t", "zh", "s5", 1L), (5L, "t", "en", "s6", 1L)))
    val out = SparkEntry.queries("q177_k_anonymity")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(0L) == ((6L, 6L)), "every (lang, source) cell is small")
    assert(out(3L) == ((0L, 0L)), "the fully-generalized rung is safe")
  }

  test("rate limit: a single event per user is always admitted") {
    val dir = scratch("graft_e_rate")
    (1 to 5).map(i =>
      (i.toLong, 1714558400000000000L + i * 1000000000L, i.toLong,
        "e", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q160_rate_limit")(spark, dir.toString)
      .collect().map(r => r.getBoolean(2))
    assert(out.length == 5 && out.forall(identity))
  }
}
