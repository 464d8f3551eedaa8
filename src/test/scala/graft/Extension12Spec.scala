package graft

import org.apache.spark.sql.functions._

/** Round-7 sixth wave: semantic contamination, embedding audit,
  * curriculum assembly.
  */
class Extension12Spec extends SparkSpec {

  import spark.implicits._

  test("semantic contamination: flagged test vectors exactly match a " +
    "naive cluster-bounded recompute on sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val e = graft.io.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.floor(d / math.sqrt(na * nb) * 1e6 + 0.5) / 1e6
    }
    // replay the salted split via the engine's own bucket expression
    val buckets = graft.io.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.ext.Sampling.bucket(col("vec_id"), "semcon7").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val train = e.filter(v => buckets(v._1) < 9000)
    val test = e.filter(v => buckets(v._1) >= 9000)
    val expected = test.flatMap { case (id, lab, v) =>
      val hits = train.filter(t => t._2 == lab && cos(v, t._3) >= 0.3)
      if (hits.isEmpty) None
      else Some(id -> ((hits.length.toLong, hits.map(t => cos(v, t._3)).max)))
    }.toMap
    val got = SparkEntry.queries("q171_semantic_contamination")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(expected.nonEmpty, "fixture must produce contaminated vectors")
    assert(got == expected)
  }

  test("embedding audit: planted corrupt and ragged vectors fire the " +
    "n_corrupt and dim-bound columns") {
    val dir = scratch("graft_embaudit")
    val unit = Array.fill(4)(0.5f) // norm 1
    val zeroish = Array(0.1f, 0.0f, 0.0f, 0.0f) // norm 0.1 -> corrupt
    val ragged = Array(1.0f, 0.0f) // 2 dims
    Seq((0L, unit.toSeq, 0), (1L, zeroish.toSeq, 0), (2L, ragged.toSeq, 1),
      (3L, unit.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label").cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q172_embedding_audit")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getLong(7)))).toMap
    // cluster 0: norms {1.0, 0.1} -> one corrupt, mean 0.55
    assert(out(0L) == ((2L, 4, 4, 0.1, 1.0, 0.55, 1L)))
    assert(out(1L)._2 == 2 && out(1L)._3 == 4, "ragged dims surface")
    assert(out(1L)._7 == 0L, "cluster 1 has no corrupt vectors")
  }

  test("curriculum: phases are contiguous easy->hard quartiles and " +
    "within-phase keys are spread") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q173_curriculum")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2),
        r.getLong(3)))
    assert(got.length == 500)
    // phase boundaries respect difficulty order (ties broken by doc_id)
    val byOrder = got.sortBy(x => (x._2, x._1))
    assert(byOrder.map(_._3).toSeq == byOrder.map(_._3).toSeq.sorted,
      "phase must be monotone along the difficulty order")
    val sizes = got.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes == Map(1 -> 125, 2 -> 125, 3 -> 125, 4 -> 125),
      s"500 docs cut into equal quartiles, got $sizes")
    // the shuffle key actually shuffles: many distinct values per phase
    assert(got.filter(_._3 == 1).map(_._4).distinct.length > 100)
  }
}
