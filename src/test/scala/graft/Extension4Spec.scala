package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Ranking, SimilaritySearch}
import graft.io.Tables

/** Round-5 third-wave operators: distributed global rank, IVF-PQ,
  * int8 quantization, resample-interpolate, mixture selection.
  */
class Extension4Spec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // --- Ranking ------------------------------------------------------

  test("withGlobalRank equals the row_number window and is partition invariant") {
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_extendedprice").as("price"),
        col("l_orderkey"), col("l_linenumber"))
    val keys = Seq(col("price"), col("l_orderkey"), col("l_linenumber"))
    val windowed = li.withColumn("rn", row_number().over(
        Window.orderBy(keys: _*)))
      .select("l_orderkey", "l_linenumber", "rn")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2).toLong).toMap
    def viaRanking(parts: Int) = Ranking.withGlobalRank(li, keys, parts)
      .select("l_orderkey", "l_linenumber", "global_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val a = viaRanking(32)
    assert(a == windowed)
    assert(viaRanking(5) == a)
    assert(viaRanking(1) == a)
  }

  test("ntileFromRank matches Spark's ntile window for uneven and tiny n") {
    for ((n, b) <- Seq((23L, 10), (40L, 10), (7L, 10), (100L, 7))) {
      val df = (1L to n).toDF("r")
      val viaWindow = df.withColumn("t", ntile(b).over(Window.orderBy("r")))
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      val viaForm = df.select(col("r"),
          Ranking.ntileFromRank(col("r"), n, b).as("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaForm == viaWindow, s"n=$n buckets=$b")
    }
  }

  // --- IVF-PQ -------------------------------------------------------

  test("ivfPqTopK scores agree with pqTopK and degrade to it at nProbe >= C") {
    val e = Tables.load(spark, sf, "embeddings")
    val qs = e.filter(col("vec_id") < 5)
    val full = SimilaritySearch.pqTopK(qs, e, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = SimilaritySearch.ivfPqTopK(qs, e, 5,
      nCentroids = 16, nProbe = 4).collect()
    assert(ivf.nonEmpty)
    // every retrieved pair's ADC score must equal the full-scan score
    // (cells prune candidates, never change scores). Top-5 of a pruned
    // set can include pairs outside the full top-5, so compare via a
    // fresh unranked ADC of the same pair set when absent
    val fullAll = SimilaritySearch.pqTopK(qs, e, 500).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(fullAll(key) == r.getDouble(3), s"score drift for $key")
    }
    // probing every cell makes the candidate set the whole corpus
    val all = SimilaritySearch.ivfPqTopK(qs, e, 5,
        nCentroids = 16, nProbe = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val fullTop = SimilaritySearch.pqTopK(qs, e, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(all.sortBy(t => (t._1, t._2)) sameElements fullTop.sortBy(t => (t._1, t._2)))
  }

  // --- int8 quantization --------------------------------------------

  test("int8 quantization reconstruction error is bounded by half a step") {
    val out = SparkEntry.queries("q112_int8_quantize")(spark, sf).collect()
    val e = Tables.load(spark, sf, "embeddings")
    val dim = SimilaritySearch.deriveDim(e, "embedding")
    assert(out.length == e.count())
    // worst-case per-dim error is scale/2, so mse <= max_scale^2 / 4
    val aggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col("embedding"), i + 1)),
      max(element_at(col("embedding"), i + 1))))
    val r = e.agg(aggs.head, aggs.tail: _*).head()
    val maxScale = (0 until dim).map(i =>
      (r.getFloat(2 * i + 1).toDouble - r.getFloat(2 * i).toDouble) / 255.0).max
    val bound = maxScale * maxScale / 4.0 + 1e-9
    out.foreach { row =>
      val codes = row.getString(1).split(",").map(_.toInt)
      assert(codes.length == dim && codes.forall(c => c >= 0 && c <= 255))
      assert(row.getDouble(2) <= bound,
        s"vec ${row.getLong(0)} mse ${row.getDouble(2)} > $bound")
    }
  }

  // --- resample + interpolate ---------------------------------------

  test("resample interpolates linearly and reproduces exact-grid events") {
    val q = SparkEntry.queries("q113_resample_interpolate")
    val dir = scratch("graft_resample")
    // events at 00:00 (v=10) and 02:00 (v=20): grid points 00:00, 01:00,
    // 02:00 → 10 (exact hit), 15 (midpoint), 20 (exact hit)
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "a", 10.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 7L, "a", 20.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    try {
      // the tiny fixture is written as TIMESTAMP_MICROS (reads back as
      // java.sql.Timestamp), unlike the driver fixture's NANOS→ntz path
      val out = q(spark, dir.toString).collect()
        .map(r => (r.get(1) match {
          case t: java.sql.Timestamp => t.toLocalDateTime
          case l: java.time.LocalDateTime => l
        }).toString -> r.getDouble(2))
      assert(out.toSeq == Seq(
        "2024-01-01T00:00" -> 10.0,
        "2024-01-01T01:00" -> 15.0,
        "2024-01-01T02:00" -> 20.0), out.toSeq.toString)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    // fixture invariant: every interpolated value lies within the value
    // range of its user's events
    val e = Tables.load(spark, sf, "events")
    val rng = e.groupBy("user_id")
      .agg(min("value").as("lo"), max("value").as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    q(spark, sf).collect().foreach { r =>
      val (lo, hi) = rng(r.getLong(0))
      val v = r.getDouble(2)
      assert(v >= lo - 1e-6 && v <= hi + 1e-6,
        s"user ${r.getLong(0)} interp $v outside [$lo, $hi]")
    }
  }

  // --- mixture selection --------------------------------------------

  test("mixture selection caps acceptance at 1 and selects deterministically") {
    val out = SparkEntry.queries("q114_mixture_select")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    out.foreach { case (src, nDocs, toks, accept, nSel, toksSel) =>
      assert(accept > 0.0 && accept <= 1.0, s"$src accept $accept")
      assert(nSel <= nDocs && toksSel <= toks, s"$src over-selected")
      if (accept == 1.0) assert(nSel == nDocs, s"$src accept=1 must keep all")
      // selection rate should be in the neighborhood of the acceptance
      // rate (hash buckets are near-uniform; sf0.001 sources hold only
      // ~50 docs, so binomial noise needs generous slack — observed
      // worst deviation 0.27)
      val rate = nSel.toDouble / nDocs
      assert(math.abs(rate - accept) < 0.35, s"$src rate $rate vs accept $accept")
    }
    val again = SparkEntry.queries("q114_mixture_select")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(4)))
    assert(again.toSeq == out.map(t => (t._1, t._5)).toSeq)
  }

  // --- quality normalization ----------------------------------------

  test("quality normalization equals the percent_rank window") {
    val viaQuery = SparkEntry.queries("q115_quality_normalize")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        graft.ext.TextAnalysis.qualityScore(col("text")).as("q"))
    val viaWindow = docs.withColumn("pr",
        percent_rank().over(Window.partitionBy("source")
          .orderBy(col("q"), col("doc_id"))))
      .select(col("doc_id"),
        graft.functions.Rounding.stableRound6(col("pr")).as("pr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaQuery == viaWindow)
  }

  // --- equi-depth histogram -----------------------------------------

  test("equi-depth buckets are balanced and partition the table") {
    val out = SparkEntry.queries("q116_equidepth_histogram")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 10)
    val total = Tables.load(spark, sf, "lineitem").count()
    assert(out.map(_._2).sum == total)
    assert(out.map(_._2).max - out.map(_._2).min <= 1)
    // bucket value ranges are non-overlapping and ordered
    out.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3, s"overlap: $a vs $b")
      case _ =>
    }
  }
}
