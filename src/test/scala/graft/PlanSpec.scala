package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.SkewJoin

/** Plan-quality regression gate: the physical-plan properties the 100 TB
  * design depends on, asserted so a refactor can't silently lose them
  * (SURVEY.md §4 / build-rule "push down and prune").
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    // formatted mode prints PushedFilters/ReadSchema untruncated
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q02: filters and projection reach the parquet scan") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters:"), p.take(400))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    assert(p.contains("GreaterThan(l_discount,0.05)"), "discount filter not pushed")
    // pruned read schema: no l_tax / l_returnflag in the scan
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q03: dimension joins broadcast (no shuffle of the fact side for dims)") {
    val p = planOf("q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("q05: all four dimension joins broadcast — exactly one shuffle (orders⋈lineitem)") {
    // r02 regression: customer un-hinted flapped to a shuffle join under
    // AQE (1.33s→3.31s at sf0.1). Pin the shape: the ONLY hash-partition
    // exchanges allowed are the fact-side orders⋈lineitem pair; customer/
    // supplier/nation/region must all arrive via broadcast.
    val df = SparkEntry.queries("q05_local_supplier_volume")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString()
    val dimExchanges = plan.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")
        && Seq("c_custkey", "s_suppkey", "s_nationkey", "n_nationkey", "r_regionkey")
          .exists(l.contains)).toSeq
    assert(dimExchanges.isEmpty,
      s"dimension table shuffled instead of broadcast:\n${dimExchanges.mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(400))
  }

  test("q09: global sort+limit plans as TakeOrderedAndProject") {
    val p = planOf("q09_top_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("q06: selective scalar agg has no shuffle exchange beyond the single-value agg") {
    val p = planOf("q06_forecast_revenue")
    // partial+final agg over a pushed-down scan; no rangepartitioning/sort
    assert(!p.contains("rangepartitioning"), p.take(600))
  }

  test("q32/q44: text pipeline stays inside whole-stage codegen (no fallback)") {
    // ShingleHashes (q44) / TokenizeWithOffsets (q32) must not be
    // CodegenFallback: CollapseCodegenStages kicks an operator out of
    // WSCG when any of its expressions is CodegenFallback, forcing the
    // scan+project+explode stage into interpreted row-at-a-time eval.
    // AQE defers codegen collapse until stage execution, so snapshot the
    // plan with AQE off; `*(n)` stars mark codegen stages.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq("q32_inverted_offsets", "q44_jaccard_pairs").foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf0001)
          .queryExecution.executedPlan.toString()
        assert(plan.contains("*("), s"$name has no codegen stage:\n${plan.take(600)}")
        // FileScan leaves list pushed DataFilters in their metadata but
        // never carry codegen stars; the evaluating Filter/Project/
        // Generate operators above them are what must be starred
        val exprLines = plan.linesIterator.filter(l =>
          (l.contains("shingle_hashes") || l.contains("tokenize_with_offsets"))
            && !l.contains("FileScan")).toSeq
        assert(exprLines.nonEmpty, s"$name: expected the custom expression in:\n$plan")
        exprLines.foreach(l =>
          assert(l.contains("*("), s"$name: expression evaluated outside codegen:\n$l"))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    Seq(graft.functions.ShingleHashes(
        org.apache.spark.sql.catalyst.expressions.Literal("a b c d"), 3),
      graft.functions.TokenizeWithOffsets(
        org.apache.spark.sql.catalyst.expressions.Literal("a b"),
        org.apache.spark.sql.catalyst.expressions.Literal(0L)),
      graft.functions.WordNgrams(
        org.apache.spark.sql.catalyst.expressions.Literal("a b c d"), 2,
        distinct = false),
      graft.functions.SortedIntersectCount(
        org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1L, 2L),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(Array(2L, 3L),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))
      .foreach { e =>
        assert(!e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback],
          s"${e.prettyName} regressed to CodegenFallback")
      }
  }

  test("word_ngrams compiles under CODEGEN_ONLY (no interpreted fallback)") {
    val prior = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val docs = Tables.load(spark, sf0001, "documents")
      // executing is the assertion (see the vector-expression gate): a
      // corrupt generated line would throw instead of silently
      // interpreting — covers both the distinct (q78) and multiplicity
      // (q80) variants
      assert(docs.select(explode(graft.ext.Dedup.shingles(col("text"), 8))).count() > 0)
      assert(graft.ext.TextAnalysis.repetitionStats(docs, "text", "doc_id").count() > 0)
      // r8: the one-pass winnowing expression (q208's fingerprint side)
      assert(graft.ext.Dedup.winnowedFingerprints(
        docs, "text", "doc_id").count() > 0)
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("q208: winnowing fingerprint side is one compiled projection — " +
    "no Window operator, no exchange below the fingerprint explode") {
    // the r8 second iteration: winnowing state is doc-local, so the
    // per-doc selection must NOT appear as a window function (that shape
    // paid a full shuffle + per-doc sort); the only exchanges allowed in
    // the whole query are the downstream groupBy/join ones
    val p = planOf("q208_winnowing_contamination")
    assert(!p.contains("Window"),
      s"winnowing regressed to a window formulation:\n${p.take(800)}")
    val fps = graft.ext.Dedup.winnowedFingerprints(
      Tables.load(spark, sf0001, "documents"), "text", "doc_id")
    val fpPlan = fps.queryExecution.executedPlan.toString()
    assert(!fpPlan.contains("Exchange"),
      s"fingerprint extraction should be shuffle-free:\n${fpPlan.take(800)}")
  }

  test("vector expressions compile under CODEGEN_ONLY (no interpreted fallback)") {
    // r03 find: CentroidRanks generated a line starting with '||'; codegen
    // Blocks stripMargin the assembled source a second time, so the Java
    // was corrupt and every q64 stage fell back to the interpreter —
    // silently, because the default factoryMode is FALLBACK. CODEGEN_ONLY
    // turns that compile failure into a hard error.
    val prior = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val e = Tables.load(spark, sf0001, "embeddings")
      val ivf = graft.ext.SimilaritySearch.ivfTopK(
        e.filter(col("vec_id") < 3), e, 3, nCentroids = 8, nProbe = 2)
      assert(ivf.count() > 0)
      // executing at all is the assertion: CODEGEN_ONLY turns any codegen
      // compile failure in the bucket/cosine path into a thrown error
      graft.ext.SimilaritySearch.lshTopK(
        e.filter(col("vec_id") < 3), e, 3).count()
      // PQ family: encode (corpus scan), LUT (query side), ADC lookup
      // all carry doGenCode — a corrupt generated line must throw here,
      // not silently fall back on the 100 TB scan path
      assert(graft.ext.SimilaritySearch.pqTopK(
        e.filter(col("vec_id") < 3), e, 3).count() > 0)
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("q56/q68: banded range joins plan as equi-joins, not nested loops") {
    Seq("q56_interval_attribution", "q68_interval_overlap").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name fell back to all-pairs:\n${plan.take(800)}")
      assert(plan.contains("Join") || plan.contains("join"), plan.take(400))
    }
  }

  test("salted join == plain join (skew utility preserves semantics)") {
    val o = Tables.load(spark, sf0001, "orders")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
    val c = Tables.load(spark, sf0001, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    val plain = o.join(c, "custkey")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("t"))
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.salted(o, c, "custkey", buckets = 8)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("t"))
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = scratch("graft_wh").toString
    val s2 = spark.newSession()
    val o = Tables.load(s2, sf0001, "orders")
    val c = Tables.load(s2, sf0001, "customer")
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").mode("overwrite").saveAsTable("orders_b")
    c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").mode("overwrite").saveAsTable("customer_b")
    val joined = s2.table("orders_b")
      .join(s2.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${plan.take(800)}")
    assert(joined.count() > 0)
  }

  test("q91: weighted sampling is one scan + TakeOrderedAndProject (no shuffle)") {
    val p = planOf("q91_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(!p.contains("Exchange hashpartitioning"),
      "weighted top-k must not shuffle — per-partition heaps + driver merge")
  }

  test("q90: all three SCD2 key joins broadcast the change batch") {
    val p = planOf("q90_scd2")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"),
      "small change batch must broadcast, not sort-merge")
  }

  test("q93: heavy-hitter recount joins a broadcast candidate set off a persisted sketch") {
    // the scale properties: the exact-recheck join must build on the tiny
    // candidate side (never shuffle the corpus token stream), and the
    // sketch pass must be persisted so candidates + totals come from ONE
    // corpus scan, not one each
    val p = planOf("q93_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(p.contains("InMemoryTableScan"),
      "single-pass sketch output must be persisted (candidates + totals)")
  }

  test("q99: multi-column profile is ONE scan (a single Expand aggregation)") {
    // the audit must not re-scan the table per column — Spark compiles
    // multiple count(DISTINCT col) into one Expand over one scan
    val p = planOf("q99_profile")
    assert(p.contains("Expand"), p.take(400))
    // count node-detail headers ("(n) Scan parquet"), not tree lines —
    // formatted mode prints every node twice
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"profile re-scans the table: $scans scans\n${p.take(800)}")
  }

  test("q95: k-means final assignment is shuffle-free up to the broadcast centroid join") {
    // assignment = CentroidRanks projection; the only join is against the
    // k-row broadcast centroid frame — the corpus must never hash-shuffle
    val p = planOf("q95_kmeans")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"),
      "centroid join must broadcast — k rows vs the corpus")
  }

  test("q98: transition matrix shuffles by user once, then by from-state once") {
    val df = SparkEntry.queries("q98_markov_transitions")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString()
    val hashEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // user-window + group count can reuse one exchange lineage; the
    // from-state probability window adds one more. >3 means a lost reuse.
    assert(hashEx <= 3, s"unexpected extra shuffles ($hashEx):\n${plan.take(800)}")
  }

  test("q104/q111: PQ scans broadcast the query side and push top-k map-side") {
    Seq("q104_pq_ann", "q111_ivfpq").foreach { name =>
      val p = planOf(name)
      // the tiny query side (LUT) must broadcast; the corpus/codes side
      // must stream through without a pre-join shuffle
      assert(p.contains("BroadcastExchange"), s"$name:\n${p.take(600)}")
      // WindowGroupLimit = per-partition top-k BEFORE the rank shuffle —
      // the plan property that keeps the top-k exchange k-sized per query
      assert(p.contains("WindowGroupLimit"), s"$name lost the group-limit pushdown")
    }
  }

  test("q115/q116: Ranking-based queries contain NO window operator at all") {
    // the whole point of ext.Ranking: rank/ntile computed by the two-pass
    // prefix count, so no WindowExec (and especially no single-partition
    // Window.orderBy) may appear anywhere in the executed plan
    Seq("q115_quality_normalize", "q116_equidepth_histogram").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("Window"),
        s"$name regressed to a window operator:\n${plan.take(800)}")
    }
  }

  test("q165: CDC argmax pre-aggregates BEFORE the key exchange (shuffle " +
    "carries winners, not the changelog)") {
    // executedPlan (not formatted) keeps "Exchange hashpartitioning"
    // inline with its tree position
    val plan = SparkEntry.queries("q165_cdc_compaction")(spark, sf0001)
      .queryExecution.executedPlan.toString()
    // partial SortAggregate below the exchange, final above — the
    // max(struct) two-phase shape; a row_number regression would show a
    // Window and shuffle every changelog row
    val lines = plan.linesIterator.toSeq
    val aggIdxs = lines.zipWithIndex.filter(_._1.contains("SortAggregate")).map(_._2)
    val exIdx = lines.indexWhere(l => l.contains("Exchange hashpartitioning"))
    assert(aggIdxs.size >= 2 && exIdx >= 0, plan.take(600))
    // tree prints top-down: the FINAL agg appears above (index <) the
    // exchange, the PARTIAL agg below it
    assert(aggIdxs.exists(_ > exIdx) && aggIdxs.exists(_ < exIdx),
      "lost the partial/final aggregate split around the exchange")
    assert(!plan.contains("Window"), "argmax regressed to a window sort")
  }

  test("q168: prefix containment has NO join — one blocked window") {
    val p = planOf("q168_prefix_containment")
    assert(!p.contains("Join"), s"sorted-neighborhood gained a join:\n${p.take(600)}")
    assert(p.contains("Window"), p.take(400))
  }

  test("q161/q183: single-scan shapes stay explode-free") {
    // token counts come from array size, never explode: a Generate node
    // means the corpus got row-multiplied for a per-doc scalar
    Seq("q161_padding_waste", "q183_pareto_frontier").foreach { name =>
      val p = planOf(name)
      assert(!p.contains("Generate"), s"$name explodes the corpus:\n${p.take(600)}")
    }
  }

  test("q180: fused top-k keeps the WindowGroupLimit pushdown on every rank") {
    val p = planOf("q180_hybrid_rrf")
    // three ranked cuts (lex, sem, fused) — each must push the limit
    // below the full sort; count the group-limit nodes
    val n = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(n >= 3, s"expected >=3 WindowGroupLimit nodes, got $n:\n${p.take(800)}")
  }

  test("q182: deletion cascade hops are semi joins (no payload fanout)") {
    val p = planOf("q182_deletion_cascade")
    assert(p.contains("LeftSemi"), p.take(600))
    assert(!p.contains("SortMergeJoin FullOuter"), p.take(400))
  }

  test("q207: persisted IVF-PQ codes read prunes to the probed cells' " +
    "partitions") {
    // the 100 TB serving property: a probe batch's scan must plan only
    // its nProbe cells' hive directories, never the whole index
    val idx = scratch("graft_planspec_idx")
    try {
      val emb = Tables.load(spark, sf0001, "embeddings")
      graft.ext.SimilaritySearch.writeIvfPqIndex(emb, idx.toString)
      val scan = graft.ext.SimilaritySearch
        .prunedCodesScan(spark, idx.toString, Seq(1, 3, 5))
      val p = scan.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pf = p.linesIterator.find(_.contains("PartitionFilters"))
        .getOrElse("")
      assert(pf.contains("cell") && pf.toUpperCase.contains(" IN "),
        s"probed cells not pushed as partition filters:\n$p")
      // and the pruning is REAL: the pruned scan must touch strictly
      // fewer files than the full index read
      val full = spark.read.parquet(s"$idx/codes")
      val prunedFiles = scan.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics.get("numFiles") }.flatten
      scan.collect() // populate metrics
      val fullCount = full.inputFiles.length
      assert(prunedFiles.nonEmpty &&
        prunedFiles.head.value < fullCount,
        s"pruned scan read ${prunedFiles.map(_.value)} of $fullCount files")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(idx).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("q158: the LM pipeline broadcasts the vocab to the token stream") {
    // (q173 shares the scoring subplan but its FINAL plan is an RDD scan
    // by design — Ranking's two-pass materializes upstream lineage)
    val p = planOf("q158_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n${p.take(600)}")
  }

  test("q225: pairwise sketch algebra runs on a broadcast frame, no " +
    "cartesian product") {
    // the P×P pair merge must be the broadcast of the P-row sketch frame
    // (KB-sized registers), never a CartesianProduct of data
    val p = planOf("q225_vocab_overlap_sketch")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"),
      s"sketch pair frame planned as cartesian:\n${p.take(600)}")
  }

  test("q234: hard-negative mining scores the corpus cross product ONCE") {
    // the pos/neg halves pivot out of one ranked scan — a pos⋈neg
    // self-join would re-derive the broadcast score twice (two Cross
    // joins in the plan)
    val p = planOf("q234_hard_negatives")
    val crosses = p.linesIterator.count(l =>
      l.contains("Join type: Cross"))
    assert(crosses == 1, s"expected exactly 1 cross score, got $crosses")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  // the r12 verdict's bigram-LM scale pin: distinct bigrams grow with
  // the corpus (Heaps' law), so the count frame may NOT carry a
  // broadcast hint (size-based/AQE planning stays free to broadcast at
  // tiny SF — that's legitimate; the HINT is the 100 TB OOM) and no
  // window may funnel it into a single partition. The only allowed
  // hint is the 1-row scalar vocab-count cross join.
  private def assertBigramScaleShape(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    val hints = df.queryExecution.optimizedPlan.toString
      .linesIterator.count(_.contains("strategy=broadcast"))
    assert(hints <= 1,
      s"$name: ${hints} broadcast hints — the corpus-growing " +
        "bigram-count frame must be AQE-decided, only the 1-row vocab " +
        "scalar may be hinted")
    val p = planOf(name)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"scalar vocab count not a 1-row broadcast cross join:\n${p.take(600)}")
    assert(!p.contains("windowspecdefinition(specifiedwindowframe"),
      s"single-partition window in the plan:\n${p.take(600)}")
  }

  test("q235: no broadcast hint on the corpus-growing bigram-count " +
    "frame and no single-partition window (r12 verdict)") {
    assertBigramScaleShape("q235_perplexity_buckets")
  }

  test("q110: no broadcast hint on the bigram-count frame and no " +
    "single-partition window (r12 verdict)") {
    assertBigramScaleShape("q110_bigram_logprob")
  }

  test("q236: the top-100 token frame plans as TakeOrderedAndProject") {
    val p = planOf("q236_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      s"zipf top-k is a global sort:\n${p.take(600)}")
  }

  test("q249: the block-prefix frame reaches the data via broadcast — " +
    "the data-sized side never exchanges for the prefix join") {
    val p = planOf("q249_lateness_audit")
    assert(p.contains("BroadcastHashJoin"),
      s"block-prefix join not broadcast:\n${p.take(600)}")
  }

  test("q256: the 4096-cell sketch meets the probe frame via broadcast " +
    "and the top-20 exact frame is TakeOrderedAndProject") {
    val p = planOf("q256_count_min")
    assert(p.contains("BroadcastHashJoin"),
      s"sketch probe join not broadcast:\n${p.take(600)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-word frame is a global sort:\n${p.take(600)}")
  }

  test("q264: the SPRT block-prefix frame broadcasts and the walk " +
    "windows keep their (variant, blk) partition keys") {
    val p = planOf("q264_sprt_ab_test")
    assert(p.contains("BroadcastHashJoin"),
      s"prefix join not broadcast:\n${p.take(600)}")
    // the in-block walk must be a keyed window — partition spec renders
    // as windowspecdefinition(variant…, blk…, …) in formatted mode
    assert(p.contains("windowspecdefinition(variant"),
      s"walk window lost its partition keys:\n${p.take(600)}")
  }

  test("q267: the sweep's probe/size frames broadcast; no cartesian " +
    "over the corpus") {
    // the centroid pick itself runs in hashPickedCentroids' own bounded
    // TakeOrdered job (16 rows collected), so the registered plan only
    // shows the assignment + sweep joins
    val p = planOf("q267_ivf_probe_sweep")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"),
      s"sweep planned a cartesian:\n${p.take(600)}")
  }

  test("q279: linkage pairs come from a keyed block join, never a " +
    "cartesian over documents") {
    val p = planOf("q279_record_linkage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"linkage planned an all-pairs join:\n${p.take(600)}")
  }

  test("q284: IPS scoring stays shuffle-free up to the segment agg " +
    "(exactly one exchange)") {
    val p = planOf("q284_ips_offline_eval")
    // count tree nodes ("Exchange (8)"), not the repeated detail
    // headers ("(8) Exchange") formatted mode prints for each node
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    // one shuffle for the 4-key groupBy; the final orderBy on ≤4 rows
    // may add a range exchange — anything beyond that is a regression
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges")
  }

  test("q286: the 100-row pooled grid reaches the ranked docs via " +
    "broadcast") {
    val p = planOf("q286_quantile_normalize")
    assert(p.contains("BroadcastHashJoin"),
      s"pooled-grid join not broadcast:\n${p.take(600)}")
  }

  test("q298: Jaro-Winkler pairs come from the (lang, prefix) block " +
    "equi-join, never an all-pairs scan") {
    val p = planOf("q298_jw_blocked_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"JW linkage planned an all-pairs join:\n${p.take(600)}")
    // the scorer itself must be the codegen'd expression, not a UDF
    assert(p.contains("jaro_winkler"), "JaroWinkler expression not in plan")
  }

  test("q299: the covariance-sketch scans read ONLY the embedding " +
    "column (pruned past vec_id/label)") {
    // build the first-pass frame the query derives — the same scan shape
    val e = Tables.load(spark, sf0001, "embeddings")
      .select(explode(transform(sequence(lit(1), lit(16)), i =>
        struct(i.as("i"),
          floor(element_at(col("embedding"), i).cast("double") *
            lit(1000000000.0) + lit(0.5)).as("x9")))).as("e"))
      .groupBy(col("e.i")).agg(sum("e.x9"))
    val p = e.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("")
    assert(readSchema.contains("embedding") &&
      !readSchema.contains("label") && !readSchema.contains("vec_id"),
      s"covariance scan reads unneeded columns: $readSchema")
  }

  test("q305: the consecutive-id pair join is an equi hash join, and " +
    "the projection stays in the scan-side select") {
    val p = planOf("q305_jl_distortion")
    assert(!p.contains("CartesianProduct"),
      s"JL pair join planned a cartesian:\n${p.take(600)}")
    assert(p.contains("dot_product"), "DotProduct expression not in plan")
    assert(p.contains("l2_distance"), "L2Distance expression not in plan")
  }

  test("q311: streaming cadence summary is stateful flatMapGroups, " +
    "not a collected batch") {
    // shape probe on the stateless prefix: the cadence query's batch
    // postlude must not re-read events — it operates on the memory
    // sink table only. Assert the operator exists on the streaming
    // side by checking the state class is wired (compile-time) and
    // the batch postlude's plan has no parquet scan of events.
    val out = SparkEntry.queries("q311_streaming_cadence")(spark, sf0001)
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Location"), // no file scan in the postlude
      s"cadence postlude re-scans files:\n${p.take(600)}")
  }

  test("q248: every window ranks the (priority, ship_days) value-domain " +
    "counts frame — never the joined rows") {
    // the r8 shape sorted the whole lineitem⋈orders join through 5
    // priority partitions; the r9 shape aggregates to value-domain
    // counts FIRST, so each WindowExec's child subtree must contain
    // the 2-key (priority, ship_days) hash aggregate — i.e. the
    // corpus-sized frame never reaches a window
    // textual tree order (printed top-down): every Window must sit
    // ABOVE the (priority, ship_days) aggregate, which must sit ABOVE
    // the join — so the join's rows reach a window only through the
    // value-domain collapse. (executedPlan is AQE-wrapped, so a typed
    // collect() sees no WindowExec; the string form shows the full tree.)
    val plan = SparkEntry.queries("q248_order_cycle_sla")(spark, sf0001)
      .queryExecution.executedPlan.toString()
    val winIdxs = "Window".r.findAllMatchIn(plan).map(_.start).toSeq
    assert(winIdxs.nonEmpty, "expected value-domain windows in q248")
    val aggIdx = "HashAggregate\\(keys=\\[priority#\\d+, ship_days#\\d+".r
      .findFirstMatchIn(plan).map(_.start)
    assert(aggIdx.isDefined,
      s"no (priority, ship_days) aggregate in the plan:\n${plan.take(800)}")
    val joinIdxs = Seq("SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin").map(plan.indexOf).filter(_ >= 0)
    assert(joinIdxs.nonEmpty, "expected the lineitem⋈orders join")
    assert(winIdxs.forall(_ < aggIdx.get),
      "a q248 window runs below the value-domain aggregate (over joined rows)")
    assert(aggIdx.get < joinIdxs.min,
      "the value-domain aggregate must collapse the join before any window")
  }

  test("q283: the post-checkpoint plan carries NO window operator " +
    "(vocab ids and the top-20 rank both use the two-pass global rank)") {
    val plan = SparkEntry.queries("q283_textrank_keywords")(spark, sf0001)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"q283 regressed to a window operator:\n${plan.take(800)}")
  }

  test("q343/q345: prefix-cache and threshold-sweep candidate frames " +
    "come from keyed joins — no cartesian/nested-loop anywhere") {
    Seq("q343_prefix_cache_savings", "q345_dedup_threshold_sweep")
      .foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf0001)
          .queryExecution.executedPlan.toString()
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a cartesian product")
        // nested-loop joins are tolerable ONLY against 1-row frames
        // (the summary cross joins); a data-sized one would print with
        // a build side that is not a single-row aggregate — cheap
        // textual guard: the plan may contain BroadcastNestedLoopJoin
        // only if the query also shows the 1-row HashAggregate feeds
        assert(!plan.contains("CartesianProduct"), name)
      }
  }

  test("q354: every scan window is user-partitioned — the clamp " +
    "identity must never plan a global (single-partition) window") {
    val plan = SparkEntry.queries("q354_clamped_running_balance")(
      spark, sf0001).queryExecution.executedPlan.toString()
    val winLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty, "expected per-user running windows")
    winLines.foreach(l => assert(l.contains("user_id"),
      s"window without user_id partition key:\n$l"))
  }

  test("q356: rank fusion plans as TakeOrderedAndProject top-ks + " +
    "broadcast counting — no global sort, no cartesian product") {
    val plan = SparkEntry.queries("q356_borda_fusion")(spark, sf0001)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    assert(!plan.contains("CartesianProduct"),
      "q356 plans a cartesian product")
    assert(!plan.contains("Exchange rangepartitioning"),
      "q356 plans a global sort — ranks must come from broadcast counting")
  }

  test("q362/q391: tail and QTE windows run over the cents value " +
    "domain — cumulative counts above a cents-keyed aggregate, " +
    "never over raw rows") {
    Seq("q362_p99_exceedance", "q391_quantile_treatment_effect")
      .foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf0001)
          .queryExecution.executedPlan.toString()
        val winLines = plan.linesIterator
          .filter(_.contains("Window [")).toSeq
        assert(winLines.nonEmpty, s"$name: expected value-domain windows")
        winLines.foreach(l => assert(l.contains("cents#"),
          s"$name: a window does not rank the cents domain:\n$l"))
        assert("HashAggregate\\(keys=\\[(arm#\\d+, )?cents#\\d+".r
          .findFirstIn(plan).isDefined,
          s"$name: no cents-domain aggregate below the windows")
    }
  }

  test("q396: vocabulary ranks come from the two-pass global rank — " +
    "no window operator anywhere in the plan") {
    val plan = SparkEntry.queries("q396_vocab_truncation_sweep")(
      spark, sf0001).queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"q396 regressed to a window rank:\n${plan.take(600)}")
  }

  test("q386: the LSH planner never plans a cartesian product — pairs " +
    "come from banded candidates") {
    val plan = SparkEntry.queries("q386_lsh_planner")(spark, sf0001)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"),
      "q386 plans a cartesian product")
  }

  test("q451: the Mahalanobis pass is one scan with a BROADCAST " +
    "statistics row — no shuffle of the lineitem side") {
    val plan = SparkEntry.queries("q451_mahalanobis_outliers")(
      spark, sf0001).queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastExchange"),
      s"statistics row not broadcast:\n${plan.take(600)}")
    assert(!plan.contains("SortMergeJoin"),
      "the per-row distance pass must not sort-merge the corpus")
  }

  test("q422: Cook's distance carries no Window operator — leverage is " +
    "closed-form, never a ranking pass") {
    val plan = SparkEntry.queries("q422_cooks_distance")(spark, sf0001)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"),
      s"unexpected window in the influence pass:\n${plan.take(600)}")
  }

  test("q425/q441: k-fold train means come from the fold-sums frame — " +
    "one corpus aggregation, broadcast joins back") {
    Seq("q425_kfold_cv", "q441_cv_paired_ttest").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString()
      assert(plan.contains("BroadcastHashJoin")
        || plan.contains("BroadcastExchange"),
        s"$name: train means not broadcast:\n${plan.take(600)}")
      assert(!plan.contains("Window"),
        s"$name: CV must not rank anything")
    }
  }

  test("q458: pre-bucketed tables join with ZERO exchange on either " +
    "side — the scan satisfies the SMJ's distribution") {
    val df = SparkEntry.queries("q458_bucketed_colocated_join")(
      spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("SortMergeJoin"), plan.take(600))
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.isEmpty,
      s"bucketed join still shuffles:\n${exchanges.mkString("\n")}")
    // and the scans actually use the bucket spec
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"scan not bucketed:\n${plan.take(800)}")
  }

  test("q462: per-user aggregation over the bucketed event store " +
    "needs no user_id exchange — storage satisfies the distribution") {
    val df = SparkEntry.queries("q462_bucketed_user_rollup")(
      spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString()
    val userExchanges = plan.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
      .toSeq
    assert(userExchanges.isEmpty,
      s"per-user agg still shuffles:\n${userExchanges.mkString("\n")}")
  }

  test("q460: equality on the bucket key prunes the scan to one " +
    "bucket (SelectedBucketsCount 1 of 8)") {
    val p = planOf("q460_bucket_pruned_serve")
    assert(p.contains("SelectedBucketsCount: 1 out of 8"),
      p.linesIterator.filter(_.contains("Bucket")).mkString("\n"))
  }

  test("q365: candidate join keys on the compound (p_brand, bkey) — " +
    "no brand-only equi-join anywhere (the r9 quadratic shape)") {
    val plan = SparkEntry.queries("q365_dl_fuzzy_pairs")(spark, sf0001)
      .queryExecution.executedPlan.toString()
    // the positional-token posting join must carry bkey in its key list
    assert("Join \\[[^\\]]*bkey#\\d+".r.findFirstIn(plan).isDefined,
      s"no join keyed on bkey:\n${plan.take(800)}")
    // and no join may key on p_brand ALONE — that is the Σ(n/25)² pair
    // space the r9 verdict flagged
    val brandOnly = "Join \\[p_brand#\\d+\\],".r.findFirstIn(plan)
    assert(brandOnly.isEmpty,
      s"brand-only equi-join found: ${brandOnly.getOrElse("")}")
  }

  test("q392: sampled audit materializes no corpus-pair frame — no " +
    "checkpoint scan, and the pair join runs on the fixed-size sample") {
    val df = SparkEntry.queries("q392_blocking_quality")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString()
    // the r9 shape localCheckpoint'ed ALL same-brand pairs (an eager
    // ~8M-row RDD scan at sf0.1); the rewrite must plan as pure joins
    // over the 64-per-brand window sample
    assert(!plan.contains("Checkpoint") && !plan.contains("ExistingRDD"),
      s"checkpointed pair frame still in plan:\n${plan.take(600)}")
    assert(plan.contains("row_number"),
      s"hash-drawn sample window missing:\n${plan.take(600)}")
  }

  test("q351: trimming windows rank the (event_type, cents) value " +
    "domain — never the raw event rows") {
    val plan = SparkEntry.queries("q351_trimmed_mean")(spark, sf0001)
      .queryExecution.executedPlan.toString()
    val winIdxs = "Window".r.findAllMatchIn(plan).map(_.start).toSeq
    assert(winIdxs.nonEmpty, "expected value-domain windows in q351")
    val aggIdx = "HashAggregate\\(keys=\\[event_type#\\d+, cents#\\d+"
      .r.findFirstMatchIn(plan).map(_.start)
    assert(aggIdx.isDefined,
      s"no (event_type, cents) aggregate:\n${plan.take(600)}")
    assert(winIdxs.forall(_ < aggIdx.get),
      "a q351 window runs below the value-domain aggregate")
  }

  test("q463: the zone-mapped read's SCAN enumerates exactly the " +
    "manifest-selected files — pruning is in the plan, not post-hoc") {
    val base =
      scratchPath("graft_zm_plan")
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("value"))
    graft.io.Sources.writeWithZoneMap(ev, base, "value", 16)
    val (sel, total) = graft.io.Sources.zoneMapFiles(spark, base, 30.0, 40.0)
    assert(sel.nonEmpty && sel.length < total)
    val scanned = graft.io.Sources
      .readZoneMapped(spark, base, "value", 30.0, 40.0)
      .inputFiles.map(_.stripPrefix("file:")).toSet
    val selNorm = sel.map(_.stripPrefix("file://").stripPrefix("file:")).toSet
    assert(scanned.size == sel.length &&
      scanned.map(f => f.substring(f.lastIndexOf('/'))) ==
        selNorm.map(f => f.substring(f.lastIndexOf('/'))),
      s"scan lists ${scanned.size} files, manifest selected ${sel.length}")
  }

  test("q468: the snapshot diff's scans exclude every manifest-SHARED " +
    "file — diff cost tracks changed files") {
    import spark.implicits._
    val path =
      scratchPath("graft_vdiff_plan")
    val base = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1))
      .toDF("id", "flag").repartitionByRange(2, col("flag"))
    graft.ops.VersionedTable.init(base, path)
    graft.ops.VersionedTable.append(
      Seq((5L, 0)).toDF("id", "flag").repartitionByRange(1, col("flag")),
      path)
    graft.ops.VersionedTable.deleteWhere(spark, path, col("flag") === 1)
    val shared = graft.ops.VersionedTable.manifestFiles(path, 1).toSet
      .intersect(graft.ops.VersionedTable.manifestFiles(path, 2).toSet)
    assert(shared.nonEmpty, "fixture produced no shared file")
    val diffInputs = graft.ops.VersionedTable
      .diffVersions(spark, path, 1, 2).inputFiles.toSet
    shared.foreach(rel => assert(!diffInputs.exists(_.endsWith(rel)),
      s"diff scanned a shared file: $rel"))
  }

  test("q479: the graft-versioned DSv2 scan is manifest-pruned INSIDE " +
    "the planner — BatchScan file count 4 of 8 for the 40% band, " +
    "pushed filters visible, zero files for an unsatisfiable band") {
    val path =
      scratchPath("graft_dsv2_plan")
    val ev = Tables.load(spark, sf0001, "events")
      .select(col("event_id"), (col("event_id") % 1000).as("bucket"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    graft.ops.VersionedTable.init(ev.repartition(4), path)
    graft.ops.VersionedTable.compactClustered(spark, path, 8, "bucket")
    def scanFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec =>
          b.scan.asInstanceOf[graft.sources.GraftVersionedFileScan]
            .fileIndex.inputFiles.length
      }.getOrElse(fail("graft-versioned did not plan a V2 BatchScan"))
    val t = spark.read.format("graft-versioned").load(path)
    val band = t.where(col("bucket") >= 300 && col("bucket") < 700)
    assert(scanFiles(band) == 4, "40% band must open 4 of 8 files")
    assert(scanFiles(t) == 8)
    assert(scanFiles(t.where(col("bucket") > 100000)) == 0,
      "unsatisfiable band must plan a zero-file scan")
    val p = band.select("bucket", "cents").queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(bucket,300)"),
      s"band predicate not pushed:\n${p.take(600)}")
  }
}
