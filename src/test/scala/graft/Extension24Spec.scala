package graft

/** Semantics tests for the round-7 eighteenth wave (q203–q205):
  * hand-computed AUC cases, calibration-identity checks, and RFM tile
  * balance on crafted fixtures — the properties the DuckDB oracle can't
  * see because it replays the same formula.
  */
class Extension24Spec extends SparkSpec {

  import spark.implicits._

  private def writeDocs(dir: java.nio.file.Path,
                        rows: Seq[(Long, String, String, String, Long)]): Unit =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

  test("group auc: perfect separation is 1, reversed is 0, tie case " +
    "matches the hand-computed Mann-Whitney value, one-class excluded") {
    val dir = scratch("graft_auc")
    writeDocs(dir,
      // "sep": every en doc longer than every non-en doc -> AUC 1
      Seq((1L, "t", "en", "sep", 100L), (2L, "t", "en", "sep", 90L),
        (3L, "t", "de", "sep", 10L), (4L, "t", "fr", "sep", 20L)) ++
        // "anti": every en doc SHORTER -> AUC 0
        Seq((5L, "t", "en", "anti", 1L), (6L, "t", "de", "anti", 50L)) ++
        // "mix": en {10,20}, non-en {10,30}: pairs (10,10)=0.5,
        // (10,30)=0, (20,10)=1, (20,30)=0 -> U=1.5, AUC=0.375
        Seq((7L, "t", "en", "mix", 10L), (8L, "t", "en", "mix", 20L),
          (9L, "t", "de", "mix", 10L), (10L, "t", "fr", "mix", 30L)) ++
        // "only": single class -> undefined, excluded
        Seq((11L, "t", "en", "only", 5L)))
    val out = SparkEntry.queries("q203_group_auc")(spark, dir.toString)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out == Map("sep" -> 1.0, "anti" -> 0.0, "mix" -> 0.375),
      s"got $out")
  }

  test("calibration bins: bin ids in [0,9], counts cover the corpus, " +
    "gap is |avg_p - obs_rate|, ece is the count-weighted gap mean") {
    val dir = scratch("graft_cal")
    writeDocs(dir, (1 to 40).map { i =>
      (i.toLong, "t", if (i % 3 == 0) "en" else "de", "s", (i * 97).toLong)
    })
    val rows = SparkEntry.queries("q204_calibration_bins")(spark, dir.toString)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.map(_._2).sum == 40L, "bin counts must cover every doc")
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 9))
    rows.foreach { r =>
      assert(math.abs(math.abs(r._4 - r._5) - r._6) < 2e-6,
        s"gap must be |avg_p - obs_rate| up to rounding: $r")
    }
    val n = rows.map(_._2).sum.toDouble
    val ece = rows.map(r => r._2 * r._6).sum / n
    assert(rows.forall(r => math.abs(r._7 - ece) < 2e-6),
      "ece must equal the count-weighted mean of the rounded gaps")
  }

  test("calibration bins: result is partition-count-invariant (exact " +
    "1e-9-grid accumulation, r7 verdict item 3)") {
    // the r7 hazard: sum(p) as an unordered distributed DOUBLE sum could
    // flip a 1e-6 rounding boundary across partition counts; the
    // integer-grid fix makes the accumulation exact, so ANY partitioning
    // of the same corpus must produce byte-identical rows
    def run(parts: Int): Seq[(Long, Long, Long, Double, Double, Double, Double)] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try SparkEntry.queries("q204_calibration_bins")(
          spark, "/root/testdata/sf0.001")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6)))
        .toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = run(1)
    val b = run(7)
    val c = run(32)
    assert(a.nonEmpty)
    assert(a == b && b == c,
      s"q204 must be partition-count-invariant:\n1: $a\n7: $b\n32: $c")
  }

  test("rfm quintiles: tiles balanced over 10 customers, every segment " +
    "digit in 1..5, customer counts cover the population") {
    val dir = scratch("graft_rfm")
    // 10 customers, one order each: recency/frequency/monetary all
    // fully tiebroken by custkey -> each quintile holds exactly 2
    val day = 86400000L
    (1 to 10).map { c =>
      (c.toLong, c.toLong, "O", c * 10.0,
        new java.sql.Timestamp(1704067200000L + c * day), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = SparkEntry.queries("q205_rfm_quintiles")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._2).sum == 10L, "every customer lands in a segment")
    rows.foreach { case (seg, _, _) =>
      val (r, f, m) = ((seg / 100).toInt, ((seg / 10) % 10).toInt,
        (seg % 10).toInt)
      assert(Seq(r, f, m).forall(t => t >= 1 && t <= 5), s"segment $seg")
    }
    // freq is constant 1 -> f tile decided by custkey tiebreak; customer
    // 10 is most recent (r=1) and highest spend (m=1)
    val byR = rows.groupBy(t => (t._1 / 100).toInt)
      .view.mapValues(_.map(_._2).sum).toMap
    assert(byR == Map(1 -> 2L, 2 -> 2L, 3 -> 2L, 4 -> 2L, 5 -> 2L),
      s"recency quintiles must hold 2 customers each: $byR")
  }
}
