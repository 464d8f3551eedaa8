package graft

import org.apache.spark.sql.functions._

/** Round-7 sixteenth wave: referential audit, training manifest. */
class Extension22Spec extends SparkSpec {

  import spark.implicits._

  test("referential audit: planted orphans counted per edge; clean " +
    "fixture reports zero") {
    // clean fixture first
    val sf = "/root/testdata/sf0.001"
    val clean = SparkEntry.queries("q199_referential_audit")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(clean.values.forall(_._2 == 0L), s"fixture is clean: $clean")
    // planted: one orphan lineitem, one orphan order
    val dir = scratch("graft_refaudit")
    Seq(Tuple1(1L)).toDF("c_custkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L), (11L, 999L)).toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 1), (888L, 1)).toDF("l_orderkey", "l_linenumber")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q199_referential_audit")(spark, dir.toString)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("lineitem->orders") == ((2L, 1L, 0.5)))
    assert(out("orders->customer") == ((2L, 1L, 0.5)))
  }

  test("training manifest: signals agree with their standalone queries " +
    "and the keep rule is their conjunction") {
    val sf = "/root/testdata/sf0.001"
    val m = SparkEntry.queries("q200_training_manifest")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), r.getBoolean(3), r.getBoolean(4), r.getDouble(5),
          r.getBoolean(7)))).toMap
    assert(m.nonEmpty && m.keys.forall(_ % 25 != 0))
    // splits agree with q166 on the shared (non-benchmark) docs
    val splits = SparkEntry.queries("q166_leakage_safe_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    m.foreach { case (id, (split, _, _, _, _)) =>
      assert(split == splits(id), s"doc $id split mismatch")
    }
    // contamination flags agree with q156's ratio at the 0.2 cut
    val overlap = SparkEntry.queries("q156_ngram_overlap")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    m.foreach { case (id, (_, _, contam, _, _)) =>
      val expected = overlap.get(id)
        .exists { case (g, h) => h * 5L >= g }
      assert(contam == expected, s"doc $id contam mismatch")
    }
    // the keep rule is exactly the conjunction
    m.foreach { case (id, (split, dup, contam, q, kept)) =>
      assert(kept == (split == "train" && !dup && !contam && q >= 0.5),
        s"doc $id keep rule")
    }
    assert(m.values.exists(_._5) && m.values.exists(!_._5),
      "fixture exercises both keep outcomes")
  }
}
