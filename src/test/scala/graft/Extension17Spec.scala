package graft

import org.apache.spark.sql.functions._

/** Round-7 eleventh wave: eval-set construction, Cohen's kappa. */
class Extension17Spec extends SparkSpec {

  import spark.implicits._

  test("eval set: exactly min(20, stratum size) per language, " +
    "stable across re-derivation, disjoint strata") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q187_eval_set")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val byLang = out.groupBy(_._1)
    val sizes = graft.io.Tables.load(spark, sf, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (lang, rows) =>
      assert(rows.length == math.min(20L, sizes(lang)),
        s"$lang: ${rows.length} of expected ${math.min(20L, sizes(lang))}")
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length))
    }
    assert(out.map(_._3).distinct.length == out.length, "no doc in two strata")
    // re-derivation returns the identical set (frozen eval contract)
    val again = SparkEntry.queries("q187_eval_set")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
  }

  test("label kappa: hand-computed kappa on a planted confusion matrix; " +
    "kappa <= raw agreement") {
    val dir = scratch("graft_kappa")
    // source s1: 6 docs en-labeled: 4 predicted en ('the' marker), 2
    // predicted fr ('le la est' markers); 2 docs fr-labeled predicted
    // fr. Contingency: en:{en:4, fr:2}, fr:{fr:2}
    // po = 6/8; row marginals en=6, fr=2; col marginals en=4, fr=4;
    // pe = (6*4 + 2*4)/64 = 32/64 = 0.5; kappa = (0.75-0.5)/0.5 = 0.5
    val en = "the quick result of the day"
    val fr = "le jour est la pour le moment"
    val rows = (1 to 4).map(i => (i.toLong, en, "en", "s1", 1L)) ++
      Seq((5L, fr, "en", "s1", 1L), (6L, fr, "en", "s1", 1L),
        (7L, fr, "fr", "s1", 1L), (8L, fr, "fr", "s1", 1L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q188_label_kappa")(spark, dir.toString)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("s1") == ((8L, 6L, 0.5)), s"got ${out("s1")}")
    // real corpus: kappa is chance-corrected, so never above raw
    // agreement (and the fixture has real disagreement)
    val real = SparkEntry.queries("q188_label_kappa")(
      spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    real.foreach { case (src, n, agree, kappa) =>
      assert(kappa <= agree.toDouble / n + 1e-9,
        s"$src: kappa $kappa above raw ${agree.toDouble / n}")
    }
  }
}
