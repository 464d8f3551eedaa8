package graft

import org.apache.spark.sql.functions._

/** Round-7 operators: SemDeDup prune, n-gram contamination, label audit. */
class Extension7Spec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("semdedup: kept set is a within-cluster independent set at tau, " +
    "keep-first survivors") {
    val e = graft.io.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.floor(d / math.sqrt(na * nb) * 1000000.0 + 0.5) / 1000000.0
    }
    val kept = SparkEntry.queries("q155_semdedup")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < e.length, "some but not all dropped")
    val byId = e.map(x => x._1 -> x).toMap
    // kept vectors: no kept-or-dropped LOWER-id cluster mate at >= tau
    // (the keep-first rule); in particular kept x kept pairs are all < tau
    for ((id, lab, v) <- e if kept(id);
         (id2, lab2, v2) <- e if id2 < id && lab2 == lab)
      assert(cos(v, v2) < 0.3, s"$id kept despite lower mate $id2 at >= tau")
    // dropped vectors: at least one lower-id cluster mate at >= tau
    for ((id, lab, v) <- e if !kept(id)) {
      val hasLower = e.exists { case (id2, lab2, v2) =>
        id2 < id && lab2 == lab && cos(v, v2) >= 0.3 }
      assert(hasLower, s"$id dropped without a lower-id mate at >= tau")
      assert(byId(id)._2 == lab)
    }
  }

  test("ngram overlap: planted benchmark 5-gram is found, counts exact") {
    val dir = scratch("graft_ngram")
    // doc 0 is benchmark (0 % 25 == 0); doc 1 shares exactly one of its
    // two 5-grams; doc 2 shares none; doc 3 is too short for any gram
    Seq(
      (0L, "a b c d e f", "en", "s1", 11L),
      (1L, "x a b c d e y", "en", "s1", 13L),
      (2L, "p q r s t u", "en", "s2", 11L),
      (3L, "tiny doc", "en", "s2", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q156_ngram_overlap")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1 has grams {x a b c d, a b c d e, b c d e y}: 1 of 3 hits
    assert(out(1L) == ((3L, 1L, math.floor(1.0 / 3 * 1e6 + 0.5) / 1e6)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(!out.contains(0L), "benchmark docs are not scored")
    assert(!out.contains(3L), "sub-5-token docs have no grams")
  }

  test("lang agreement: fixture rates bounded; planted docs agree/disagree " +
    "exactly as the marker heuristic dictates") {
    val rows = SparkEntry.queries("q157_lang_agreement")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == 500L, "every doc audited once")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // planted: marker-only texts make the prediction certain; zh has no
    // marker set so a zh label can never agree
    val dir = scratch("graft_langaudit")
    Seq(
      (0L, "the cat and the dog", "en", "s1", 19L), // pred en, agrees
      (1L, "der hund und die katze", "en", "s1", 22L), // pred de, disagrees
      (2L, "no markers here xyz", "zh", "s2", 19L)) // pred unknown
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = SparkEntry.queries("q157_lang_agreement")(spark, dir.toString)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(planted("s1") == ((2L, 1L)))
    assert(planted("s2") == ((1L, 0L)))
  }
}
