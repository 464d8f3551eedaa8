package graft

import org.apache.spark.sql.functions._

/** Round-7 second wave: DSIR importance weights, per-source duplication
  * report, token-bucket rate limiting.
  */
class Extension8Spec extends SparkSpec {

  import spark.implicits._

  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  test("dsir weights: hand-computed add-1-smoothed log-ratios on a " +
    "planted corpus") {
    val dir = scratch("graft_dsir")
    // vocab: cat (c_all=3, c_tgt=2), dog (c_all=3, c_tgt=0);
    // n_all=6, n_tgt=2, |V|=2
    Seq(
      (0L, "cat cat", "en", "s1", 7L),
      (1L, "dog dog", "fr", "s1", 7L),
      (2L, "cat dog", "fr", "s2", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val lrCat = math.log(3.0 / 4.0) - math.log(4.0 / 8.0)
    val lrDog = math.log(1.0 / 4.0) - math.log(4.0 / 8.0)
    val out = SparkEntry.queries("q158_dsir_weights")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out(0L) == ((2L, r6(lrCat))), "pure-target doc")
    assert(out(1L) == ((2L, r6(lrDog))), "pure-non-target doc")
    assert(out(2L) == ((2L, r6((lrCat + lrDog) / 2))), "mixed doc")
    assert(out(0L)._2 > out(2L)._2 && out(2L)._2 > out(1L)._2,
      "weights order by target-likeness")
  }

  test("dup rate by source: duplicate groups counted once per member, " +
    "cross-source flag, whitespace/case normalization") {
    val dir = scratch("graft_duprate")
    // fp(A) spans s1 (×2, one case/whitespace variant) and s2 (×1);
    // B and C are singletons
    Seq(
      (0L, "Hello  World", "en", "s1", 12L),
      (1L, " hello world ", "en", "s1", 13L),
      (2L, "unique text b", "en", "s1", 13L),
      (3L, "hello world", "en", "s2", 11L),
      (4L, "unique text c", "en", "s2", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q159_dup_rate_by_source")(spark, dir.toString)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("s1") == ((3L, 2L, 2L, r6(2.0 / 3.0))))
    assert(out("s2") == ((2L, 1L, 1L, r6(0.5))))
  }

  test("rate limit: burst admits capacity, whole-period refills bank " +
    "the partial period") {
    val dir = scratch("graft_ratelimit")
    // user 1: burst of 5 at 1s spacing (3 admitted), refill at +10 min
    // (1 admitted, then denied), double refill at +30 min (admitted);
    // user 2: isolated event (admitted) proves key isolation
    val evs = Seq(
      (1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 2L), (4L, 1L, 3L), (5L, 1L, 4L),
      (6L, 1L, 600L), (7L, 1L, 601L), (8L, 1L, 1800L),
      (9L, 2L, 5L))
    evs.toDF("event_id", "user_id", "t_s")
      .select(col("event_id"), timestamp_micros(col("t_s") * 1000000L).as("ts"),
        col("user_id"), lit("e").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q160_rate_limit")(spark, dir.toString)
      .collect().map(r => r.getLong(1) -> r.getBoolean(2)).toMap
    val expected = Map(
      1L -> true, 2L -> true, 3L -> true, 4L -> false, 5L -> false,
      6L -> true, 7L -> false, 8L -> true, 9L -> true)
    assert(out == expected)
  }
}
