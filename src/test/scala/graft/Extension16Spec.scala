package graft

import org.apache.spark.sql.functions._

/** Round-7 tenth wave: share-of-parent, vocab coverage, dataset
  * fingerprint.
  */
class Extension16Spec extends SparkSpec {

  import spark.implicits._

  test("share of parent: nation shares sum to 1 per region, region " +
    "shares sum to 1 globally, cents exact vs direct recompute") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q184_share_of_parent")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (region, rows) =>
      val s = rows.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-4,
        s"$region nation shares sum to $s, expected ~1")
      assert(rows.map(_._5).distinct.length == 1,
        "region share constant within region")
    }
    val regionShares = out.groupBy(_._1).map(_._2.head._5)
    assert(math.abs(regionShares.sum - 1.0) < 1e-4)
    // revenue cross-check in exact cents against a direct recompute
    val direct = graft.io.Tables.load(spark, sf, "orders")
      .join(graft.io.Tables.load(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.io.Tables.load(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { case (_, n, rev, _, _) =>
      assert(math.round(rev * 100) == direct(n), s"revenue mismatch for $n")
    }
  }

  test("vocab coverage: planted OOV-heavy source floors the rate; " +
    "all-vocab source hits 1.0") {
    val dir = scratch("graft_vocab")
    // 'common' dominates the counts -> it IS the vocab (top-10 of 11
    // distinct); rare1..10 + common = 11 words, the ten next words tie
    // at 1 so the (n DESC, w) tiebreak keeps rare01..rare09 and drops
    // rare10 (lexicographic) — source s2 owns the dropped type
    val commons = (1 to 50).map(i => (i.toLong, "common common common",
      "en", "s1", 1L))
    val rare = Seq((100L, (1 to 9).map(i => f"rare$i%02d").mkString(" "),
      "en", "s1", 1L), (101L, "rare10 common", "en", "s2", 1L))
    (commons ++ rare).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q185_vocab_coverage")(spark, dir.toString)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // vocab = common + rare01..rare09 (10 types); s2's rare10 is OOV
    assert(out("s2") == ((2L, 1L, 1L, 0.5)), s"s2: ${out("s2")}")
    assert(out("s1")._3 == 0L && out("s1")._4 == 1.0,
      s"s1 fully covered: ${out("s1")}")
  }

  test("dataset fingerprint: order-independent, change-sensitive") {
    val sf = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("q186_dataset_fingerprint")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // recompute with a different partitioning: identical hashes
    val d = graft.io.Tables.load(spark, sf, "documents").repartition(7)
    val b = d.select(col("source"),
        graft.functions.PolyHash(concat_ws("#", lit("v1"),
          col("doc_id").cast("string"), md5(col("text")), col("lang")))
          .as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("h").as("ch"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(a == b, "fingerprint is partition/order independent")
    // a one-row change moves its source's hash
    val c = d.withColumn("text",
        when(col("doc_id") === 1L, concat(col("text"), lit("X")))
          .otherwise(col("text")))
      .select(col("source"), col("doc_id"),
        graft.functions.PolyHash(concat_ws("#", lit("v1"),
          col("doc_id").cast("string"), md5(col("text")), col("lang")))
          .as("h"))
    val changedSource = d.where(col("doc_id") === 1L)
      .select("source").collect().head.getString(0)
    val c2 = c.groupBy("source").agg(sum("h").as("ch"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c2(changedSource) != a(changedSource)._2,
      "a changed row changes its source's fingerprint")
    assert(a.filter { case (k, _) => k != changedSource }.forall {
      case (k, v) => c2(k) == v._2 },
      "untouched sources keep their fingerprint")
  }
}
