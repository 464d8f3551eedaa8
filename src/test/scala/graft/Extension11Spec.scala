package graft

import org.apache.spark.sql.functions._

/** Round-7 fifth wave: prefix containment, boilerplate grams, quality
  * sweep.
  */
class Extension11Spec extends SparkSpec {

  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String, String, Long)]) = {
    val dir = scratch("graft_ext11")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("prefix containment: chains flag every extendable doc, equal " +
    "texts flag, non-prefixes do not") {
    // chain: "alpha beta" < "alpha beta gamma" < "alpha beta gamma x";
    // doc 3 equals doc 0 after normalization; doc 4 unrelated
    val dir = writeDocs(Seq(
      (0L, "alpha beta", "en", "s1", 1L),
      (1L, "alpha beta gamma", "en", "s1", 1L),
      (2L, "alpha beta gamma x", "en", "s1", 1L),
      (3L, "Alpha   Beta", "en", "s2", 1L),
      (4L, "zeta omega", "en", "s2", 1L)))
    val out = SparkEntry.queries("q168_prefix_containment")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sorted: [0 "alpha beta", 3 "alpha beta", 1 "... gamma", 2 "... x"]
    assert(out == Map(0L -> 3L, 3L -> 1L, 1L -> 2L),
      s"expected the chain 0->3->1->2, got $out")
  }

  test("boilerplate grams: per-doc-distinct df, repeated banner in one " +
    "doc counts once, df>=2 filter") {
    // "the cookie banner text here" appears in docs 0,1 (and TWICE in
    // doc 0 -> still df 2); doc 2's unique gram has df 1 -> excluded
    val banner = "the cookie banner text here"
    val dir = writeDocs(Seq(
      (0L, s"$banner $banner", "en", "s1", 1L),
      (1L, s"intro words then $banner", "en", "s1", 1L),
      (2L, "totally unrelated text in this document", "en", "s1", 1L)))
    val out = SparkEntry.queries("q169_boilerplate_grams")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3)))
    assert(out.forall(_._4 == 2L), s"only df=2 grams survive: $out")
    assert(out.exists(_._3 == banner), "the shared banner gram is found")
    assert(out.length <= 3 && out.map(_._2).toSeq == (1 to out.length),
      "ranks are dense from 1")
  }

  test("quality sweep: retention counts match a direct filter at every " +
    "threshold on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q170_quality_sweep")(spark, dir)
      .collect().map(r => math.round(r.getDouble(0) * 10).toInt ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == (1 to 9).toSet)
    // monotone: higher threshold never retains more
    (1 to 8).foreach { i =>
      assert(out(i)._1 >= out(i + 1)._1 && out(i)._2 >= out(i + 1)._2,
        s"retention must be non-increasing at t=${(i + 1) / 10.0}")
    }
    // spot-check t=0.5 against an independent recompute
    val docs = graft.io.Tables.load(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val scored = docs.map { t =>
      val ws = t.replaceAll("[^a-zA-Z0-9 ]", "").split(" ").filter(_.nonEmpty)
      val score = math.floor(
        ws.distinct.length.toDouble / ws.length * 1e6 + 0.5) / 1e6
      (ws.length.toLong, score)
    }
    val keep = scored.filter(_._2 >= 0.5)
    assert(out(5) == ((keep.length.toLong, keep.map(_._1).sum)))
  }
}
