package graft

import java.nio.file.Files

import graft.queries.ExtensionQueries38

/** Semantics tests for the round-8 thirteenth continuation wave. */
class Extension38Spec extends SparkSpec {

  import spark.implicits._

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))
  }

  test("q311 streaming cadence folds scrambled arrival into exact " +
    "event-time gap sums (hand-computed CV)") {
    val dir = scratch("graft_cadence_fixture")
    try {
      val base = 1705276800L * 1000000000L // 2024-01-15T00:00Z in nanos
      def ns(min: Long): Long = base + min * 60L * 1000000000L
      // file row order deliberately scrambled vs event time
      Seq(
        // user 1: six events every 10 min -> 5 gaps of 600 s, CV = 0
        (105L, ns(40), 1L, "view", 0.0, "{}"),
        (101L, ns(0), 1L, "view", 0.0, "{}"),
        (104L, ns(30), 1L, "view", 0.0, "{}"),
        (102L, ns(10), 1L, "view", 0.0, "{}"),
        (106L, ns(50), 1L, "view", 0.0, "{}"),
        (103L, ns(20), 1L, "view", 0.0, "{}"),
        // user 2: gaps 60,120,180,240,300 s -> CV = sqrt(180000)/900
        (205L, ns(10), 2L, "view", 0.0, "{}"),
        (201L, ns(0), 2L, "view", 0.0, "{}"),
        (204L, ns(6), 2L, "view", 0.0, "{}"),
        (206L, ns(15), 2L, "view", 0.0, "{}"),
        (202L, ns(1), 2L, "view", 0.0, "{}"),
        (203L, ns(3), 2L, "view", 0.0, "{}"),
        // user 3: too few gaps -> filtered by the n >= 5 floor
        (301L, ns(0), 3L, "view", 0.0, "{}"),
        (302L, ns(5), 3L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/stage")
      val part = new java.io.File(s"$dir/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve("events.parquet"))
      deleteRecursively(java.nio.file.Paths.get(s"$dir/stage"))
      val got = SparkEntry.queries("q311_streaming_cadence")(
        spark, dir.toString).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      val expectedCv2 =
        math.floor(math.sqrt(180000.0) / 900.0 * 1e6 + 0.5) / 1e6
      assert(got == Map(
        1L -> ((5L, 600.0, 0.0)),
        2L -> ((5L, 180.0, expectedCv2))),
        s"cadence sums diverged from the hand computation: $got")
    } finally deleteRecursively(dir)
  }

  test("q308 MRR is bounded by the hit rate from both sides") {
    val out = ExtensionQueries38.queries.find(_.name ==
      "q308_retrieval_mrr").get.fn(spark, sf0001).collect()
    assert(out.length == 10)
    out.foreach { r =>
      val nQ = r.getLong(1)
      val nHit = r.getLong(2)
      val mrr = r.getDouble(3)
      assert(nHit <= nQ)
      assert(mrr >= 0.0 && mrr <= 1.0)
      // each hit contributes rr in [1/10, 1]
      assert(mrr <= nHit.toDouble / nQ + 1e-6)
      assert(mrr >= nHit.toDouble / (10.0 * nQ) - 1e-6)
    }
  }

  test("q309 RBO is bounded by the truncated-at-10 maximum (identical " +
    "rankings ceiling)") {
    val maxRbo = 0.1 * (1 to 10).map(d => math.pow(0.9, d - 1)).sum
    val out = ExtensionQueries38.queries.find(_.name ==
      "q309_rank_biased_overlap").get.fn(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val rbo = r.getDouble(1)
      assert(rbo >= 0.0 && rbo <= maxRbo + 1e-6,
        s"${r.getString(0)}: $rbo outside [0, $maxRbo]")
    }
  }

  test("q310's exact integer CV formula equals the naive two-pass " +
    "population CV") {
    val cases = Seq(
      Seq(10L, 10L, 10L, 10L, 10L), // constant cadence -> cv 0
      Seq(1L, 2L, 3L, 4L, 100L),
      Seq(7L, 13L, 42L, 5L, 5L, 5L, 90L),
      Seq(3600L, 3600L, 3599L, 3601L, 3600L))
    cases.foreach { gs =>
      val n = gs.length.toLong
      val s = gs.sum
      val s2 = gs.map(g => g * g).sum
      val exact = math.sqrt((n * s2 - s * s).toDouble) / s.toDouble
      val mean = s.toDouble / n
      val naive = math.sqrt(
        gs.map(g => (g - mean) * (g - mean)).sum / n) / mean
      assert(math.abs(exact - naive) < 1e-9, s"$gs: $exact vs $naive")
    }
  }

  test("q310 output is cv-sorted and the most regular users sit on top") {
    val out = ExtensionQueries38.queries.find(_.name == "q310_bot_cadence")
      .get.fn(spark, sf0001).collect()
    assert(out.nonEmpty)
    val cvs = out.map(_.getDouble(3))
    assert(cvs.forall(_ >= 0.0))
    assert(cvs.zip(cvs.tail).forall { case (a, b) => a <= b })
  }
}
