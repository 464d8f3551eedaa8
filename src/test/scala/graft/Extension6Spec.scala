package graft

import org.apache.spark.sql.functions._

/** Round-6 operators: config-file job dispatch. */
class Extension6Spec extends SparkSpec {

  // --- config-file job dispatch -------------------------------------

  test("reference input_info.json dispatches the inverted-index job") {
    // the reference's OWN config file, unmodified: relative input path,
    // stringly-typed counts, python script names — the dispatcher must
    // resolve all of it (input_info.json names mapper_inverted_index.py)
    val infoPath = "/root/reference/input_info.json"
    assume(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(infoPath)),
      s"$infoPath is absent")
    val out = graft.api.JobConfig
      .run(spark, infoPath)
    assert(out.columns.toSeq == Seq("word", "postings"))
    // same result as driving the job directly
    val direct = graft.jobs.InvertedIndex(
      graft.io.TextRecords.read(spark, "/root/reference/input.txt"))
    assert(out.orderBy("word").collect().toSeq ==
      direct.orderBy("word").collect().toSeq)
  }

  test("job spec parsing: job field wins, mismatched pair rejected") {
    val dir = scratch("graft_jobspec_t")
    def write(name: String, body: String) = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, body)
      p.toString
    }
    val ok = write("a.json",
      """{"job": "word_count", "mapper_file": "mapper_inverted_index.py",
        |"input_file_location": "in.txt"}""".stripMargin)
    val spec = graft.api.JobConfig.load(spark, ok)
    assert(spec.job == "word_count")
    assert(spec.inputPath == dir.resolve("in.txt").toString)

    val bad = write("b.json",
      """{"mapper_file": "mapper_word_count.py",
        |"reducer_file": "reducer_inverted_index.py",
        |"input_file_location": "in.txt"}""".stripMargin)
    intercept[IllegalArgumentException] {
      graft.api.JobConfig.load(spark, bad)
    }
    val unknown = write("c.json",
      """{"job": "nope", "input_file_location": "in.txt"}""")
    intercept[IllegalArgumentException] {
      graft.api.JobConfig.run(spark, unknown)
    }

    // process counts: JSON numbers and numeric strings are accepted;
    // anything present that is not a positive integer is rejected with
    // the field and the config path in the message
    val counts = write("d.json",
      """{"job": "word_count", "input_file_location": "in.txt",
        |"no_of_mappers": 3, "no_of_reducers": "2"}""".stripMargin)
    val cspec = graft.api.JobConfig.load(spark, counts)
    assert((cspec.mappers, cspec.reducers) == (3, 2))
    assert(spec.mappers == 0 && spec.reducers == 0)
    Seq(
      "no_of_mappers" -> "\"three\"",
      "no_of_mappers" -> "-2",
      "no_of_mappers" -> "0",
      "no_of_mappers" -> "\"\"",
      "no_of_reducers" -> "\"2.5\"",
      "no_of_reducers" -> "\"99999999999\"").zipWithIndex.foreach {
      case ((field, value), i) =>
        val p = write(s"bad_count_$i.json",
          s"""{"job": "word_count", "input_file_location": "in.txt",
             |"$field": $value}""".stripMargin)
        val e = intercept[IllegalArgumentException] {
          graft.api.JobConfig.load(spark, p)
        }
        assert(e.getMessage.contains(field) && e.getMessage.contains(p),
          e.getMessage)
    }
  }

  private val sf = "/root/testdata/sf0.001"

  // --- BM25 ---------------------------------------------------------

  test("bm25: positive scores, only docs containing a query term, idf sane") {
    val out = SparkEntry.queries("q129_bm25")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(1) > 0.0,
      s"doc ${r.getLong(0)} non-positive score"))
    // docs scored == docs containing >= 1 query term
    val expected = graft.io.Tables.load(spark, sf, "documents")
      .where(org.apache.spark.sql.functions.expr(
        "exists(split(regexp_replace(text, '[^a-zA-Z0-9 ]', ''), ' '), " +
          "w -> w IN ('spark', 'join', 'window'))"))
      .count()
    assert(out.length.toLong == expected)
  }

  // --- data-quality constraints -------------------------------------

  test("dq constraints: acctbal check fails with real counts, FKs pass") {
    val rows = SparkEntry.queries("q130_dq_constraints")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val (accV, accT, accPass) = rows("customer_acctbal_nonneg")
    assert(accV > 0 && !accPass && accV < accT)
    Seq("orders_custkey_fk", "lineitem_orderkey_fk",
        "customer_custkey_unique", "events_type_domain").foreach { c =>
      val (v, t, pass) = rows(c)
      assert(v == 0L && pass && t > 0, s"$c: ($v, $t, $pass)")
    }
  }

  // --- inclusion dependencies ---------------------------------------

  test("inclusion deps: FK pairs at 1.0, reverse pair strictly partial") {
    val rows = SparkEntry.queries("q131_inclusion_deps")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rows("lineitem.l_orderkey->orders.o_orderkey") == 1.0)
    assert(rows("orders.o_custkey->customer.c_custkey") == 1.0)
    assert(rows("events.user_id->customer.c_custkey") == 1.0)
    val rev = rows("customer.c_custkey->events.user_id")
    assert(rev > 0.0 && rev < 1.0, s"expected partial coverage, got $rev")
  }

  // --- cohort retention ---------------------------------------------

  test("cohort retention: offset 0 is 1.0 and active never exceeds cohort") {
    val out = SparkEntry.queries("q132_cohort_retention")(spark, sf)
      .collect().map(r => (r.getDate(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty)
    out.foreach { case (_, off, active, size, ret) =>
      assert(active <= size)
      assert(ret > 0.0 && ret <= 1.0)
      if (off == 0) assert(ret == 1.0, "cohort week must retain itself fully")
    }
  }

  // --- key-skew report ----------------------------------------------

  test("key skew: 5 ranked keys per column, shares ordered and bounded") {
    val out = SparkEntry.queries("q133_key_skew_report")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(4),
        r.getInt(5)))
    val byCol = out.groupBy(_._1)
    assert(byCol.keySet == Set("user_id", "l_suppkey"))
    byCol.values.foreach { rs =>
      assert(rs.length == 5)
      assert(rs.map(_._4).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      val ns = rs.sortBy(_._4).map(_._2)
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
        "counts must be non-increasing in rank")
      rs.foreach(r => assert(r._3 > 0.0 && r._3 <= 1.0))
    }
  }

  // --- grouped histogram quantiles ----------------------------------

  test("grouped quantiles: within binWidth of the exact group quantile") {
    val li = graft.io.Tables.load(spark, sf, "lineitem")
    val est = graft.ext.Sketches.groupedHistogramQuantiles(
        li, "l_returnflag", "l_extendedprice", 100.0, Seq(0.5, 0.95))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3))
      .toMap
    val exact = li.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.expr(
          "percentile(l_extendedprice, 0.5)").as("p50"),
        org.apache.spark.sql.functions.expr(
          "percentile(l_extendedprice, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
    exact.foreach { case (flag, (p50, p95)) =>
      assert(math.abs(est((flag, 0.5)) - p50) <= 100.0,
        s"$flag p50 est ${est((flag, 0.5))} vs exact $p50")
      assert(math.abs(est((flag, 0.95)) - p95) <= 100.0,
        s"$flag p95 est ${est((flag, 0.95))} vs exact $p95")
    }
  }

  // --- association rules --------------------------------------------

  test("association rules: metrics consistent and support threshold held") {
    val out = SparkEntry.queries("q135_association_rules")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.nonEmpty)
    out.foreach { case (pa, pb, cnt, sup, conf, lift) =>
      assert(pa < pb)
      assert(cnt >= 3)
      assert(sup > 0.0 && sup <= 1.0)
      assert(conf >= sup - 1e-9, "confidence >= support always")
      assert(conf <= 1.0 && lift > 0.0)
    }
  }

  // --- BFS taint propagation ----------------------------------------

  test("bfs distances: hand-built graph gets exact min-hop counts") {
    import spark.implicits._
    // 1-2-3-4 chain plus isolated 5<->6; seeds {1, 6}
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (5L, 6L), (6L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L, 6L).toDF("id")
    val d = graft.ext.Graph.bfsDistances(edges, seeds, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 2, 6L -> 0, 5L -> 1),
      s"got $d")
  }

  test("bfs taint: seeds at hop 0, hops within cap") {
    val out = SparkEntry.queries("q136_taint_bfs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val seeds = graft.io.Tables.load(spark, sf, "documents")
      .where(org.apache.spark.sql.functions.col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byDoc = out.toMap
    assert(seeds.forall(d => byDoc.get(d).contains(0)),
      "every quarantined doc must be at hop 0")
    out.foreach { case (_, h) => assert(h >= 0 && h <= 4) }
    assert(out.exists(_._2 > 0), "expected some propagation beyond seeds")
  }

  // --- Wilson intervals ---------------------------------------------

  test("wilson ci: interval brackets the rate and stays in [0, 1]") {
    val out = SparkEntry.queries("q138_rate_wilson_ci")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.map(_._1).toSet ==
      Set("view", "click", "purchase", "signup", "error"))
    out.foreach { case (t, n, s0, rate, lo, hi) =>
      assert(s0 <= n)
      assert(lo <= rate + 1e-9 && rate <= hi + 1e-9, s"$t: $lo $rate $hi")
      assert(lo >= 0.0 && hi <= 1.0)
      assert(hi - lo < 0.2, s"$t: interval too wide for n=$n")
    }
  }

  // --- chi-square / gini / psi --------------------------------------

  test("chi square: expecteds reproduce the marginals, contribs non-negative") {
    val out = SparkEntry.queries("q141_chi_square")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val total = out.map(_._3).sum
    val expectedSum = out.map(_._4).sum
    assert(math.abs(total - expectedSum) < 1e-3,
      s"sum(expected)=$expectedSum must equal N=$total")
    out.foreach(r => assert(r._5 >= 0.0))
  }

  test("gini: bounded in [0,1) and counts every customer") {
    val r = SparkEntry.queries("q142_gini_concentration")(spark, sf).head()
    val n = graft.io.Tables.load(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(r.getLong(0) == n)
    val gini = r.getDouble(2)
    assert(gini >= 0.0 && gini < 1.0, s"gini $gini")
  }

  test("psi: per-bin contributions are always non-negative") {
    val out = SparkEntry.queries("q143_psi_drift")(spark, sf)
      .collect().map(r => r.getDouble(3))
    assert(out.nonEmpty)
    // (pa-pb) and ln(pa/pb) always share sign, so each term is >= 0
    out.foreach(c => assert(c >= 0.0, s"negative PSI term $c"))
  }

  // --- streaks / label propagation / mixture rates ------------------

  test("purchase streaks: spans consistent and multi-day streaks exist") {
    val out = SparkEntry.queries("q144_purchase_streaks")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDate(1), r.getDate(2),
        r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, start, end, days) =>
      val span = (end.toLocalDate.toEpochDay - start.toLocalDate.toEpochDay) + 1
      assert(span == days, s"span $span != days $days")
    }
    assert(out.exists(_._4 >= 2), "expected at least one multi-day streak")
    // per user, streaks must not overlap
    out.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2.toLocalDate.toEpochDay)
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(b._2.toLocalDate.toEpochDay > a._3.toLocalDate.toEpochDay + 1,
          "streaks must be separated by a gap")
      }
    }
  }

  test("label propagation: labels are node ids, clusters merge labels") {
    val out = SparkEntry.queries("q145_label_propagation")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    val nodes = out.map(_._1).toSet
    out.foreach { case (_, l) => assert(nodes.contains(l),
      s"label $l is not a node id") }
    assert(out.map(_._2).toSet.size < nodes.size,
      "propagation must merge at least some labels")
  }

  test("mixture rates: capped at 1, expected = rate * supply, under budget") {
    val out = SparkEntry.queries("q146_mixture_rates")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(out.length == 5)
    val totalTokens = out.map(_._2).sum
    out.foreach { case (_, tl, rate, exp) =>
      assert(rate > 0.0 && rate <= 1.0)
      assert(math.abs(exp - rate * tl) < 1.0)
    }
    assert(out.map(_._4).sum <= 0.5 * totalTokens + 1.0,
      "expected yield must not exceed the budget")
  }

  // --- MMR rerank ---------------------------------------------------

  test("mmr: 5 unique picks per query from the top-10, pick 1 = top relevance") {
    val mmr = SparkEntry.queries("q147_mmr_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val knn = SparkEntry.queries("q48_knn_brute")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    mmr.groupBy(_._1).foreach { case (qid, picks) =>
      assert(picks.length == 5)
      assert(picks.map(_._3).distinct.length == 5, "picks must be unique")
      val top10 = knn.filter(_._1 == qid).map(_._3).toSet
      picks.foreach(p => assert(top10.contains(p._3),
        s"pick ${p._3} not in query $qid's top-10"))
      val top1 = knn.find(k => k._1 == qid && k._2 == 1).get._3
      assert(picks.find(_._2 == 1).get._3 == top1,
        "first pick must be the most relevant candidate")
    }
  }

  // --- pareto cut ---------------------------------------------------

  test("pareto cut: crosses 80% minimally, running total matches a window") {
    val r = SparkEntry.queries("q148_pareto_cut")(spark, sf).head()
    val n = r.getLong(0); val k = r.getLong(2)
    val share = r.getDouble(3); val revShare = r.getDouble(4)
    assert(k >= 1 && k <= n)
    assert(revShare >= 0.8, "cut must reach 80% of revenue")
    assert(math.abs(share - k.toDouble / n) < 1e-9)
    // withRunningTotal == the window cumsum it replaces
    import org.apache.spark.sql.expressions.Window
    val spend = graft.io.Tables.load(spark, sf, "lineitem")
      .groupBy("l_partkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("rev"))
      .select(col("l_partkey"), round(col("rev") * 100).cast("long").as("cents"))
    val (ranked, (cnt, total)) = graft.ext.Ranking.withRunningTotal(
      spend, Seq(desc("cents"), col("l_partkey")), "cents")
    val w = Window.orderBy(desc("cents"), col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = spend.withColumn("cum", sum("cents").over(w))
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(2)).toMap
    val twoPass = ranked.collect()
      .map(r2 => r2.getLong(0) -> r2.getLong(3)).toMap
    assert(twoPass == windowed, "two-pass running total must equal the window")
    assert(cnt == spend.count() && total == windowed.values.max)
  }

  // --- rolling distinct / vocab overlap / MI ------------------------

  test("rolling 7-day distinct: bounded by daily and total uniques") {
    val wau = SparkEntry.queries("q149_rolling_distinct_users")(spark, sf)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val e = graft.io.Tables.load(spark, sf, "events")
    val totalUsers = e.select("user_id").distinct().count()
    val daily = e.select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().groupBy("day").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(wau.nonEmpty && wau.keySet == daily.keySet)
    wau.foreach { case (day, n) =>
      assert(n >= daily(day), s"$day: WAU $n < daily ${daily(day)}")
      assert(n <= totalUsers)
    }
  }

  test("vocab overlap: all source pairs present, jaccard in (0, 1]") {
    val out = SparkEntry.queries("q150_source_vocab_overlap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.length == 190, s"expected C(20,2)=190 pairs, got ${out.length}")
    out.foreach { case (sa, sb, common, j) =>
      assert(sa < sb && common > 0 && j > 0.0 && j <= 1.0)
    }
  }

  test("mutual information: total MI is non-negative, grid complete") {
    val out = SparkEntry.queries("q151_mutual_information")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val types = out.map(_._1).distinct.length
    val bands = out.map(_._2).distinct.length
    assert(out.length == types * bands, "cell grid must be complete")
    val mi = out.map(_._4).sum
    assert(mi >= -1e-9, s"total MI $mi must be non-negative")
  }

  // --- clustering coefficient / incremental merge / debounce --------

  test("clustering coefficient: bounded and consistent with degree") {
    val out = SparkEntry.queries("q152_clustering_coefficient")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, deg, tri, lcc) =>
      assert(deg >= 1)
      assert(tri <= deg * (deg - 1) / 2, "triangles exceed neighbor pairs")
      assert(lcc >= 0.0 && lcc <= 1.0)
      if (deg < 2) assert(lcc == 0.0 && tri == 0)
    }
  }

  test("incremental merge equals the full recompute") {
    val merged = SparkEntry.queries("q153_incremental_agg_merge")(spark, sf)
      .collect().map(r => (r.get(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val full = graft.io.Tables.load(spark, sf, "events")
      .withColumn("c", round(col("value") * 100).cast("long"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"), (sum("c") / 100.0).as("s"))
      .collect().map(r => (r.get(0).toString, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(merged == full, "merged partials must equal the full recompute")
  }

  test("debounce keeps the kept-anchor rule, not the lag rule") {
    import spark.implicits._
    val dir = scratch("graft_debounce")
    val t0 = 1704067200L * 1000000L // micros
    def ns(offsetUs: Long) = (t0 + offsetUs) * 1000L
    // chain 4 min apart: kept-anchor keeps {0, +8min}; the lag rule
    // would keep only the first (every event within 5 min of its
    // predecessor)
    Seq(
      (0L, ns(0L), 7L, "view", 1.0, "{}"),
      (1L, ns(240000000L), 7L, "view", 1.0, "{}"), // +4min: dropped
      (2L, ns(480000000L), 7L, "view", 1.0, "{}"), // +8min: KEPT
      (3L, ns(720000000L), 7L, "view", 1.0, "{}")) // +12min: dropped
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val kept = SparkEntry.queries("q154_debounce")(spark, dir.toString)
      .collect().map(_.getLong(2)).toSet
    assert(kept == Set(0L, 2L), s"got $kept")
  }

  // --- streaming conversion timeouts --------------------------------

  test("conversion window boundary: exactly 30min converts, 30min+1us not") {
    import spark.implicits._
    val dir = scratch("graft_conv_edge")
    val t0 = 1704067200L * 1000000000L // 2024-01-01 00:00:00 UTC, nanos
    def ns(offsetUs: Long) = t0 + offsetUs * 1000L
    // raw events schema: ts as int64 NANOS (the fixture's layout)
    Seq(
      (1L, ns(0L), 7L, "view", 1.0, "{}"),
      (2L, ns(1800000000L), 7L, "purchase", 1.0, "{}"), // exactly +30min
      (3L, ns(0L), 8L, "view", 1.0, "{}"),
      (4L, ns(1800000001L), 8L, "purchase", 1.0, "{}"), // +30min +1us
      (5L, ns(0L), 9L, "view", 1.0, "{}"), // never purchases
      (6L, ns(1700000000L), 7L, "view", 1.0, "{}")) // converts in 100s
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/raw")
    // the streaming source lists FILES; place a literal events.parquet
    // file (not a directory) where the registered query's glob expects it
    val part = java.nio.file.Files.list(dir.resolve("raw")).iterator()
    val partFile = Iterator.continually(part).takeWhile(_.hasNext)
      .map(_.next()).find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(partFile, dir.resolve("events.parquet"))
    val out = SparkEntry.queries("q139_streaming_conversions")(
        spark, dir.toString)
      .collect()
      .map(r => r.getLong(1) -> (r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(1L) == ((true, Some(1800000000L))),
      "purchase at exactly +window must convert")
    assert(out(3L) == ((false, None)),
      "purchase 1us past the window must NOT convert")
    assert(out(5L) == ((false, None)))
    assert(out(6L) == ((true, Some(100000000L))))
  }

  test("custom registered jobs are spec-addressable") {
    graft.api.JobConfig.register("line_count",
      records => records.agg(count(lit(1)).as("n")))
    val dir = scratch("graft_jobspec_c")
    try {
      // own input: a few lines, blank ones among them
      val input = dir.resolve("input.txt")
      java.nio.file.Files.writeString(input,
        "The quick brown fox.\n\njumps over\n\n\nthe lazy dog!\nend\n")
      val cfg = dir.resolve("spec.json")
      java.nio.file.Files.writeString(cfg,
        s"""{"job": "line_count",
          |"input_file_location": "$input"}""".stripMargin)
      val n = graft.api.JobConfig.run(spark, cfg.toString)
        .head().getLong(0)
      val expected = graft.io.TextRecords
        .read(spark, input.toString).count()
      assert(n == expected && n > 0)
    } finally graft.io.FsUtil.deleteRecursively(dir)
  }
}
