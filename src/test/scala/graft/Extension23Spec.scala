package graft

import org.apache.spark.sql.functions._

/** Round-7 seventeenth wave: Neyman allocation. */
class Extension23Spec extends SparkSpec {

  import spark.implicits._

  test("neyman allocation: seats sum exactly to the budget, high-spread " +
    "stratum beats equal-size low-spread stratum, hand-check on a " +
    "planted corpus") {
    val dir = scratch("graft_neyman")
    def doc(id: Long, n: Int, src: String) =
      (id, (1 to n).map(i => s"w$i").mkString(" "), "en", src, 1L)
    // s1: 10 docs alternating 10/90 tokens (high spread, sd = 40);
    // s2: 10 docs all 50 tokens (sd = 0) -> all seats go to s1
    val rows = (0 until 10).map(i =>
      doc(i.toLong, if (i % 2 == 0) 10 else 90, "s1")) ++
      (10 until 20).map(i => doc(i.toLong, 50, "s2"))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q201_neyman_allocation")(spark, dir.toString)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(out("s1") == ((10L, 40.0, 1000L)), s"got ${out("s1")}")
    assert(out("s2") == ((10L, 0.0, 0L)), s"got ${out("s2")}")
    // real corpus: seats sum exactly to 1000, no stratum negative
    val real = SparkEntry.queries("q201_neyman_allocation")(
      spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(3))
    assert(real.sum == 1000L, s"seats must sum to the budget: ${real.sum}")
    assert(real.forall(_ >= 0L))
  }
}
