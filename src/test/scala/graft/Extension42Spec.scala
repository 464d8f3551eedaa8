package graft

import graft.queries.ExtensionQueries42

/** Semantics tests for the round-8 seventeenth continuation wave. */
class Extension42Spec extends SparkSpec {

  test("q320 dispersion identity: chi2 = n * dispersion (the exact " +
    "rational relationship) and means are positive") {
    val out = ExtensionQueries42.queries.find(_.name ==
      "q320_dispersion_test").get.fn(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getLong(1)
      val mean = r.getDouble(2)
      val disp = r.getDouble(3)
      val chi2 = r.getDouble(4)
      assert(mean > 0.0 && disp >= 0.0)
      // chi2 = (n*sx2 - S^2)/S and D = (n*sx2 - S^2)/(n*S)
      assert(math.abs(chi2 - n * disp) < n * 2e-6,
        s"${r.getString(0)}: chi2 $chi2 != n*D ${n * disp}")
      val flag = r.getLong(5)
      val cut = (n - 1).toDouble + 3.0 * math.sqrt(2.0 * (n - 1))
      assert((flag == 1L) == (chi2 > cut + 1e-6) ||
        math.abs(chi2 - cut) < 1e-3)
    }
  }

  test("the three round-8 continuation expressions are SQL-registered " +
    "(jaro_winkler, l2_distance, hilbert_index)") {
    val r = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS jw, " +
        "l2_distance(array(cast(3.0 as float), cast(0.0 as float)), " +
        "array(cast(0.0 as float), cast(4.0 as float))) AS d, " +
        "hilbert_index(3L, 4L, 6) AS h").head()
    assert(r.getDouble(0) == 0.9611111111111111)
    assert(r.getDouble(1) == 5.0)
    assert(r.getLong(2) ==
      graft.functions.HilbertIndex.xy2d(6, 3L, 4L))
  }

  test("q321 CCF values are valid correlations, lag 0 is computed on " +
    "the full overlap, and best_lag attains the maximum") {
    val out = ExtensionQueries42.queries.find(_.name == "q321_ccf_leadlag")
      .get.fn(spark, sf0001).orderBy("lag").collect()
    assert(out.length == 15)
    assert(out.map(_.getLong(0)).toSeq == (-7L to 7L))
    val ccfs = out.map(_.getDouble(1))
    assert(ccfs.forall(v => v >= -1.0 - 1e-6 && v <= 1.0 + 1e-6))
    val bestLag = out.head.getLong(2)
    assert(out.map(_.getLong(2)).distinct.length == 1)
    val bestCcf = out.find(_.getLong(0) == bestLag).get.getDouble(1)
    assert(ccfs.forall(_ <= bestCcf + 1e-9),
      s"best_lag $bestLag ccf $bestCcf not maximal in ${ccfs.toSeq}")
  }
}
