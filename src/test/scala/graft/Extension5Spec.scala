package graft

import org.apache.spark.sql.functions._

import graft.io.Tables

/** Round-5 fourth-wave operators: trigram fuzzy pairs, dedup
  * survivorship, trailing-range windows.
  */
class Extension5Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("trigram fuzzy pairs: ordered, thresholded, and a known pair exact") {
    val out = SparkEntry.queries("q117_trigram_fuzzy_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (na, nb, jacc, dist) =>
      assert(na < nb, s"unordered pair ($na, $nb)")
      assert(jacc > 0.0 && jacc <= 1.0, s"jacc $jacc")
      assert(dist >= 1 && dist <= 4, s"dist $dist")
    }
    // hand check: 'cold widget' (9 distinct trigrams) vs 'old widget'
    // (8), all of old widget's inside cold widget's → 8 / (9+8-8)
    val known = out.find(t => t._1 == "cold widget" && t._2 == "old widget")
    assert(known.isDefined, "expected (cold widget, old widget) pair")
    assert(known.get._3 == math.floor(8.0 / 9.0 * 1e6 + 0.5) / 1e6)
    assert(known.get._4 == 1L)
  }

  test("dedup survivorship keeps exactly one highest-quality doc per cluster") {
    val out = SparkEntry.queries("q118_dedup_survivorship")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))
    val total = Tables.load(spark, sf, "documents").count()
    assert(out.length == total)
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (c, rows) =>
      // one survivor, every member maps to it, size is consistent
      val kept = rows.filter(_._4)
      assert(kept.length == 1, s"cluster $c kept ${kept.length}")
      assert(rows.forall(_._3 == kept.head._1), s"cluster $c survivor drift")
      assert(rows.forall(_._5 == rows.length), s"cluster $c size")
    }
    // survivor quality is the cluster max (tie → larger doc_id)
    val quality = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.ext.TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    byCluster.foreach { case (c, rows) =>
      val survivor = rows.find(_._4).get._1
      val best = rows.map(r => (quality(r._1), r._1)).max
      assert((quality(survivor), survivor) == best, s"cluster $c survivor")
    }
  }

  test("trailing-hour range window matches a brute recompute") {
    val e = Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "ts", "value").collect()
      .map { r =>
        // exact MICROsecond epoch — Timestamp.getTime*1000 would truncate
        // to millis and disagree with the query's unix_micros at frame
        // boundaries that land inside a millisecond
        val ldt = r.getAs[java.time.LocalDateTime](2)
        val us = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
        (r.getLong(0), r.getLong(1), us, r.getDouble(3))
      }
    val expected = e.groupBy(_._2).iterator.flatMap { case (_, rows) =>
      rows.iterator.map { r =>
        val fr = rows.filter(o => o._3 >= r._3 - 3600000000L && o._3 <= r._3)
        r._1 -> (fr.length.toLong,
          math.round(fr.map(_._4).sum * 100.0) / 100.0)
      }
    }.toMap
    val got = SparkEntry.queries("q119_trailing_hour")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (n, s0)) =>
      assert(n == expected(id)._1, s"event $id count")
      assert(math.abs(s0 - expected(id)._2) < 1e-9, s"event $id sum")
    }
  }

  test("dataset diff statuses agree with the bucket memberships") {
    val out = SparkEntry.queries("q121_dataset_diff")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val buckets = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.ext.Sampling.bucket(col("doc_id"), "ver1").as("b1"),
        graft.ext.Sampling.bucket(col("doc_id"), "ver2").as("b2"),
        graft.ext.Sampling.bucket(col("doc_id"), "edit1").as("b3"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    buckets.foreach { case (id, (b1, b2, b3)) =>
      val expected =
        if (b1 >= 9000 && b2 >= 9000) None // in neither version
        else if (b1 >= 9000) Some("added")
        else if (b2 >= 9000) Some("removed")
        else if (b3 < 1000) Some("changed")
        else Some("unchanged")
      assert(out.get(id) == expected, s"doc $id: ${out.get(id)} vs $expected")
    }
    assert(Set("added", "removed", "changed", "unchanged") == out.values.toSet)
  }

  test("hashing_tf buckets match a driver-side PolyHash recompute") {
    val got = SparkEntry.queries("q122_hashing_tf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, t) =>
      t.replaceAll("[^a-zA-Z0-9 ]", "").split(" ").filter(_.nonEmpty)
        .map(w => (id, graft.functions.PolyHash.hash(w) % 64))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(got == expected)
  }

  test("label centroid report is balanced and cohesion is a valid cosine") {
    val out = SparkEntry.queries("q123_label_centroids")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = Tables.load(spark, sf, "embeddings").count()
    assert(out.map(_._2).sum == total)
    out.foreach { case (label, n, norm, cos) =>
      assert(n > 0, s"label $label empty")
      assert(norm > 0.0, s"label $label degenerate centroid")
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9, s"label $label cos $cos")
    }
    // members should on average lean TOWARD their own centroid
    assert(out.forall(_._4 > 0.0))
  }

  test("repeated spans recover a planted cross-doc duplicate exactly") {
    val q = SparkEntry.queries("q124_repeated_spans")
    val dir = scratch("graft_spans")
    // docs 1 and 2 share tokens 10..21 (a 12-token run: 5 overlapping
    // 8-grams in doc 1 at positions 10..14); all other tokens unique
    val shared = (0 until 12).map(i => s"dup$i").mkString(" ")
    def uniq(tag: String, n: Int, from: Int = 0) =
      (from until from + n).map(i => s"$tag$i").mkString(" ")
    import spark.implicits._
    val df = Seq(
      (1L, s"${uniq("a", 10)} $shared ${uniq("a", 10, 10)}", "en", "s", 0L),
      (2L, s"${uniq("b", 4)} $shared ${uniq("b", 4, 4)}", "en", "s", 0L),
      (3L, uniq("c", 30), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val out = q(spark, dir.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // doc 1: hits at positions 10..14 → one span [10, 22), 5 grams
      // doc 2: hits at positions 4..8 → one span [4, 16), 5 grams
      assert(out.toSeq == Seq((1L, 10L, 22L, 5L), (2L, 4L, 16L, 5L)),
        out.toSeq.toString)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("winsorize clips ~1% per tail and keeps the mean inside the data range") {
    val out = SparkEntry.queries("q125_winsorize")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val total = Tables.load(spark, sf, "orders").count()
    assert(out.map(_._2).sum == total)
    out.foreach { case (st, n, lo, hi, avgW) =>
      assert(lo <= n / 20 && hi <= n / 20, s"$st clipped too much: $lo/$hi of $n")
      assert(lo > 0 || hi > 0 || n < 100, s"$st clipped nothing at n=$n")
      assert(avgW > 0, s"$st avg $avgW")
    }
  }

  test("mad outliers satisfy the robust criterion under a brute recompute") {
    val e = Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def medianOf(xs: Seq[Double]): Double = {
      val s0 = xs.sorted
      val n = s0.length
      // percentile/quantile_cont linear interpolation at p=0.5
      val pos = 0.5 * (n - 1)
      val lo = s0(pos.toInt)
      val hi = s0(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - pos.toInt)
    }
    val expected = e.groupBy(_._2).iterator.flatMap { case (_, rows) =>
      val med = medianOf(rows.map(_._3).toSeq)
      val mad = medianOf(rows.map(r => math.abs(r._3 - med)).toSeq)
      if (mad <= 0) Iterator.empty
      else rows.iterator.filter(r => math.abs(r._3 - med) > mad * 3).map(_._1)
    }.toSet
    val got = SparkEntry.queries("q126_mad_outliers")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("per-type regression matches brute least squares") {
    val e = Tables.load(spark, sf, "events")
      .select("event_type", "ts", "value").collect()
      .map { r =>
        val ldt = r.getAs[java.time.LocalDateTime](1)
        (r.getString(0),
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L,
          r.getDouble(2))
      }
    val t0 = e.map(_._2).min
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = e.groupBy(_._1).view.mapValues { rows =>
      val xs = rows.map(r => (r._2 - t0).toDouble / 3600000000.0)
      val ys = rows.map(_._3)
      val n = xs.length
      val mx = xs.sum / n; val my = ys.sum / n
      val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      val slope = sxy / sxx
      (r6(slope), r6(my - slope * mx))
    }.toMap
    val got = SparkEntry.queries("q127_regr_per_type")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (t, (sl, ic)) =>
      assert(math.abs(sl - expected(t)._1) < 1e-5, s"$t slope $sl vs ${expected(t)._1}")
      assert(math.abs(ic - expected(t)._2) < 1e-5, s"$t intercept $ic vs ${expected(t)._2}")
    }
  }
}
