package graft

import org.apache.spark.sql.functions._

/** Round-7 twelfth wave: ANN recall, cluster purity, lag correlation. */
class Extension18Spec extends SparkSpec {

  import spark.implicits._

  test("ann recall: per-probe recall equals a direct brute-vs-lsh " +
    "set intersection; bounds hold") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q189_ann_recall")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == (0L until 20L).toSet)
    val e = graft.io.Tables.load(spark, sf, "embeddings")
    val probes = e.filter(col("vec_id") < 20)
    val brute = graft.ext.SimilaritySearch.bruteTopK(probes, e, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val lsh = graft.ext.SimilaritySearch.lshTopK(probes, e, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { case (q, (nLsh, nHit, rec)) =>
      val expectHit = lsh.getOrElse(q, Set.empty)
        .intersect(brute.getOrElse(q, Set.empty)).size.toLong
      assert(nHit == expectHit, s"probe $q: $nHit vs $expectHit")
      assert(nLsh == lsh.getOrElse(q, Set.empty).size.toLong)
      assert(rec == math.floor(nHit / 10.0 * 1e6 + 0.5) / 1e6)
    }
    assert(out.values.map(_._3).sum > 0.0, "some probe must recall > 0")
  }

  test("cluster purity: planted mixed cluster scores its majority " +
    "fraction with smallest-lang tie rule") {
    val dir = scratch("graft_purity")
    val vec = Seq(1.0f, 0.0f)
    // cluster 0: langs en,en,fr -> purity 2/3 en; cluster 1: de,fr tie
    // -> majority 'de' (smallest lang), purity 1/2
    Seq((0L, vec, 0), (1L, vec, 0), (2L, vec, 0), (3L, vec, 1), (4L, vec, 1))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label").cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Seq((0L, "a", "en", "s", 1L), (1L, "a", "en", "s", 1L),
      (2L, "a", "fr", "s", 1L), (3L, "a", "de", "s", 1L),
      (4L, "a", "fr", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q190_cluster_purity")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(0L) == ((3L, "en", 2L, math.floor(2.0 / 3 * 1e6 + 0.5) / 1e6)))
    assert(out(1L) == ((2L, "de", 1L, 0.5)))
  }

  test("lag correlation: planted shifted-copy series peaks exactly at " +
    "its lag") {
    val dir = scratch("graft_lagcorr")
    // views pulse on hours {2,5,9,14,20} of Jan 1; purchases pulse
    // exactly 2 hours later -> r(lag=2) = 1.0 on the pulse pattern
    val base = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val pulses = Seq(2, 5, 9, 14, 20)
    val evs = pulses.zipWithIndex.map { case (h, i) =>
      (i.toLong, (base + h * 3600L) * 1000000000L, 1L, "view", 0.0, "{}")
    } ++ pulses.zipWithIndex.map { case (h, i) =>
      (100L + i, (base + (h + 2) * 3600L) * 1000000000L, 1L,
        "purchase", 0.0, "{}")
    }
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q191_lag_correlation")(spark, dir.toString)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(out(2) == 1.0, s"shifted copy must correlate 1.0 at lag 2: $out")
    assert(out(0) < 1.0 && out(1) < 1.0, s"off-lag correlation below 1: $out")
  }
}
