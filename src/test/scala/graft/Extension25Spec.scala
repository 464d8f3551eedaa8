package graft

import org.apache.spark.sql.functions._

import graft.ext.SimilaritySearch
import graft.io.Tables

/** Semantics tests for the round-8 wave (q206–q207): sketch-merge
  * equivalence and the persisted-ANN-index round-trip — the properties
  * the DuckDB oracle can't see (it replays exact counts / the in-session
  * formula, not the sketch or the on-disk form).
  */
class Extension25Spec extends SparkSpec {

  test("hll merge: union of per-shard sketches == full-recompute sketch, " +
    "and the gate's within_tol self-audit holds") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "events")
    // full recompute: one sketch over all rows per type
    val full = e.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // merged: five hash shards folded independently, then unioned —
    // the q206 shape
    val merged = e
      .withColumn("shard", col("event_id") % 5)
      .groupBy("event_type", "shard")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full.keySet == merged.keySet && full.nonEmpty)
    full.foreach { case (t, est) =>
      val m = merged(t)
      assert(math.abs(m.toDouble / est.toDouble - 1.0) < 0.005,
        s"merged sketch estimate diverged from full recompute for $t: " +
          s"$m vs $est")
    }
    // the registered gate's self-audit: every within_tol row true
    val out = SparkEntry.queries("q206_hll_merge")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(3)),
      s"hll estimate left the documented 5% envelope: ${out.mkString(",")}")
    // base 4 shards + delta shard all contributed partials
    assert(out.forall(_.getLong(2) == 5L),
      s"expected 5 merged partials per type: ${out.mkString(",")}")
  }

  test("winnowing: a shared run of w+k-1 words is always caught, " +
    "density is sub-gram, disjoint docs are not flagged") {
    import spark.implicits._
    val common = "alpha bravo charlie delta echo foxtrot golf hotel" // 8 = w+k-1 words
    val docs = Seq(
      // doc 1 embeds the run mid-text; doc 2 (the "eval" side by
      // bucket assignment below) shares it verbatim
      (1L, s"zero one two $common nine ten eleven twelve thirteen"),
      (2L, s"$common completely different tail words here okay"),
      // doc 3 shares nothing with anyone
      (3L, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"))
      .toDF("doc_id", "text")
    val fps = graft.ext.Dedup.winnowedFingerprints(docs, "text", "doc_id",
      k = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // MOSS guarantee: >= w+k-1 shared words => >= 1 shared fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      s"shared 8-word run produced no shared winnowed fingerprint: $byDoc")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty,
      "disjoint docs must not share fingerprints")
    // winnowing stores FEWER prints than grams (density ~2/(w+1))
    val grams1 = 16 - 4 // doc 1: 16 words -> 12 5-grams
    assert(byDoc(1L).size < grams1,
      s"winnowing kept ${byDoc(1L).size} of $grams1 grams — no compression")
  }

  test("streaming top-k: tie on count resolves by user_id, late window " +
    "emission covers every fixture day") {
    import spark.implicits._
    def nanos(s: String): Long =
      java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val dir = scratch("graft_topk_fix")
    val staging = scratch("graft_topk_stage")
    // day one: users 7 and 3 tie at 2 events, user 5 has 1 -> rank order
    // must be (3, 7, 5) by the (n DESC, user_id) rule
    Seq(
      (1L, nanos("2024-03-01T01:00:00"), 7L, "view", 0.0, "{}"),
      (2L, nanos("2024-03-01T02:00:00"), 7L, "view", 0.0, "{}"),
      (3L, nanos("2024-03-01T03:00:00"), 3L, "view", 0.0, "{}"),
      (4L, nanos("2024-03-01T04:00:00"), 3L, "view", 0.0, "{}"),
      (5L, nanos("2024-03-01T05:00:00"), 5L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    // the streaming source globs leaf FILES named events.parquet — stage
    // the single part file under that name (the fixture layout)
    val part = staging.toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, dir.resolve("events.parquet"))
    val out = SparkEntry.queries("q209_streaming_topk")(spark, dir.toString)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, 3L, 2L), (2L, 7L, 2L), (3L, 5L, 1L)),
      s"tie-break/emission wrong: $out")
  }

  test("approx-quantile audit: result is partition-count-invariant and " +
    "the guarantee verdict holds under direct recomputation") {
    val sf = "/root/testdata/sf0.001"
    def run(parts: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try SparkEntry.queries("q210_approx_quantile_audit")(spark, sf)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
          r.getBoolean(3))).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = run(2)
    val b = run(17)
    assert(a.nonEmpty && a == b,
      s"sketch merge-order drift leaked into the gated output:\n$a\n$b")
    assert(a.forall(_._4), s"guarantee violated: $a")
    // direct recomputation of the guarantee for one group
    val e = Tables.load(spark, sf, "events").select("event_type", "value")
    val row = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("est"))
      .collect().head
    val (et, n, est) = (row.getString(0), row.getLong(1), row.getDouble(2))
    val rankLe = e.where(col("event_type") === et && col("value") <= est)
      .count()
    assert(math.abs(rankLe - 0.5 * n) <= n / 1000.0 + 1.0,
      s"percentile_approx rank guarantee broken: $et rank $rankLe of $n")
  }

  test("l-diversity: homogeneous group flagged, diverse group passes, " +
    "rows_at_risk counts only risky-group members") {
    import spark.implicits._
    val dir = scratch("graft_ldiv")
    // group (1, A): 4 members all in band 0 -> risky (1 < 3 bands)
    // group (2, B): 3 members in bands 0/1/2 -> diverse
    Seq(
      (1L, "A", 100.0), (1L, "A", 200.0), (1L, "A", 300.0), (1L, "A", 400.0),
      (2L, "B", 100.0), (2L, "B", 2100.0), (2L, "B", 4100.0))
      .toDF("c_nationkey", "c_mktsegment", "c_acctbal")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    val r = SparkEntry.queries("q211_l_diversity")(spark, dir.toString)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 4L, 1L)),
      s"expected 2 groups / 1 risky / 4 rows at risk / min diversity 1, " +
        s"got $r")
  }

  test("ann ndcg: identical-direction corpus makes LSH == brute, " +
    "ndcg exactly 1.0 for every probe") {
    import spark.implicits._
    val dir = scratch("graft_ndcg")
    // 12 colinear vectors (same direction, different scales): cosine is
    // 1 for every pair so both rankings are the pure id tiebreak, and
    // one LSH bucket holds everyone -> the system run IS the ideal run
    (0 until 12).map { i =>
      (i.toLong, Array.fill(64)(((i % 3) + 1) * 0.125f))
    }.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q212_ann_ndcg")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 12)
    assert(out.forall(t => t._2 == 10L && t._3 == 1.0),
      s"expected full top-10 and ndcg 1.0 everywhere: ${out.mkString(",")}")
  }

  test("degenerate inputs: winnowing on short docs is empty not crashed, " +
    "empty-corpus index build refuses loudly") {
    import spark.implicits._
    // every doc shorter than k words, plus one with exactly k (one gram
    // but no full w-window): winnowing yields NO fingerprints — and must
    // not throw
    val docs = Seq((1L, "two words"), (2L, ""),
      (3L, "exactly five words right here")).toDF("doc_id", "text")
    val fps = graft.ext.Dedup.winnowedFingerprints(docs, "text", "doc_id",
      k = 5, w = 4)
    assert(fps.count() == 0L)
    // empty corpus: the index builder must refuse (a silently empty
    // index would serve zero neighbors forever)
    val idx = scratch("graft_empty_idx")
    try {
      val empty = spark.emptyDataFrame
        .withColumn("vec_id", lit(0L)).withColumn("embedding",
          lit(null).cast("array<float>")).limit(0)
      intercept[IllegalArgumentException] {
        SimilaritySearch.writeIvfPqIndex(empty, idx.toString)
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(idx).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("source similarity: colinear sources score 1, orthogonal score 0") {
    import spark.implicits._
    val dir = scratch("graft_srcsim")
    def vec(hot: Int, scale: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(hot) = scale; a
    }
    // sources A and B point the same way (different magnitudes), C is
    // orthogonal to both
    Seq((0L, vec(0, 0.5f)), (1L, vec(0, 0.25f)), (2L, vec(0, 1.0f)),
      (3L, vec(1, 0.75f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    Seq((0L, "t", "en", "A", 1L), (1L, "t", "en", "A", 1L),
      (2L, "t", "en", "B", 1L), (3L, "t", "en", "C", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q214_source_similarity")(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSeq
    assert(out == Seq(("A", "B", 1.0), ("A", "C", 0.0), ("B", "C", 0.0)),
      s"got $out")
  }

  test("capped allocation: hand-checked water level, budget exactly " +
    "spent, nobody over availability") {
    import spark.implicits._
    val dir = scratch("graft_wfill")
    // availabilities (tokens = n_chars div 4): A=100, B1=10000, B2=10000
    // budget 20000: A drains (100), residual 19900 splits 9950/9950
    Seq((1L, "t", "en", "A", 400L), (2L, "t", "en", "B1", 20000L),
      (3L, "t", "en", "B1", 20000L), (4L, "t", "en", "B2", 40000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q215_capped_allocation")(spark, dir.toString)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(out == Seq(("A", 100L, 100L, true), ("B1", 10000L, 9950L, false),
      ("B2", 10000L, 9950L, false)), s"got $out")
    assert(out.map(_._3).sum == 20000L, "budget must be spent exactly")
    assert(out.forall(t => t._3 <= t._2), "nobody gives more than they have")
  }

  test("rendezvous resharding: every moved key moves TO the new shard, " +
    "assignments are id-dependent (no affine collapse)") {
    val ids = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        graft.ext.Sampling.rendezvousShard(col("doc_id"), 8).as("a8"),
        graft.ext.Sampling.rendezvousShard(col("doc_id"), 9).as("a9"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // HRW minimality: growing 8 -> 9 only ever moves INTO shard 8
    val moved = ids.filter(t => t._1 != t._2)
    assert(moved.nonEmpty && moved.forall(_._2 == 8L),
      s"a key moved between surviving shards: ${moved.take(5).mkString(",")}")
    // the affine trap (caught by this spec's first run): raw PolyHash
    // made the candidate order id-independent and 500 docs landed on 2
    // shards; square-mixed weights must spread over all 8
    assert(ids.map(_._1).distinct.length == 8,
      s"8-shard layout left shards empty: ${ids.map(_._1).distinct.sorted}")
  }

  test("dynamic-gap sessions: a purchase holds the session open 2h " +
    "(boundary merges), a view only 30min (boundary+1us splits)") {
    import spark.implicits._
    def nanos(s: String): Long =
      java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    val dir = scratch("graft_dyngap")
    Seq(
      // user 1: purchase at 10:00 (2h hold) + view at exactly 12:00 ->
      // ONE session (the q88 equality-merges rule, dynamic edition)
      (1L, nanos("2024-05-01T10:00:00"), 1L, "purchase", 10.0, "{}"),
      (2L, nanos("2024-05-01T12:00:00"), 1L, "view", 1.0, "{}"),
      // user 2: view at 10:00 (30min hold) + view at 12:00 -> TWO
      // sessions (same spacing, smaller gap)
      (3L, nanos("2024-05-01T10:00:00"), 2L, "view", 1.0, "{}"),
      (4L, nanos("2024-05-01T12:00:00"), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q217_dynamic_gap_sessions")(
        spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(out == Seq((1L, 2L), (2L, 1L), (2L, 1L)),
      s"expected one 2-event session for user 1 and two singletons for " +
        s"user 2, got $out")
  }

  test("gopher rules: each rule fires independently on a crafted doc") {
    import spark.implicits._
    val dir = scratch("graft_gopher")
    val good = ("the quick brown fox jumps over the lazy dog and runs " +
      "to a big field in the sun that shines bright every day now then")
    Seq(
      (1L, good),                               // passes everything
      (2L, "the and of to"),                    // too short
      (3L, good.replace("quick", "q" * 30)),    // max word length
      (4L, Seq.fill(25)("zx qv wk jm").mkString(" ")), // no stopwords
      (5L, Seq.fill(30)("a").mkString(" "))     // mean word len < 3
    ).map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q218_gopher_rules")(spark, dir.toString)
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    assert(out(1L) == ((true, true, true, true, true)), s"doc1 ${out(1L)}")
    assert(!out(2L)._1 && !out(2L)._5, s"doc2 ${out(2L)}")
    assert(!out(3L)._4 && !out(3L)._5, s"doc3 ${out(3L)}")
    assert(!out(4L)._3 && !out(4L)._5, s"doc4 ${out(4L)}")
    assert(!out(5L)._2 && !out(5L)._5, s"doc5 ${out(5L)}")
  }

  test("capped allocation, everything-fits branch: budget >= total " +
    "availability drains every source exactly") {
    import spark.implicits._
    val dir = scratch("graft_wfill2")
    // availabilities 25 + 50 tokens, far under the 20000 budget: the
    // drain test must mark every source (k = S) and allocated == a
    Seq((1L, "t", "en", "A", 100L), (2L, "t", "en", "B", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q215_capped_allocation")(spark, dir.toString)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(out == Seq(("A", 25L, 25L, true), ("B", 50L, 50L, true)),
      s"got $out")
  }

  test("rendezvous shard: n=1 degenerates to shard 0 for every id") {
    val ids = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(graft.ext.Sampling.rendezvousShard(col("doc_id"), 1).as("s"))
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L))
  }

  test("persisted ivf-pq index round-trip == in-session ivfPqTopK") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val probes = e.filter(col("vec_id") < 5)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val inSession = canon(SimilaritySearch.ivfPqTopK(probes, e, 5,
      nCentroids = 16, nProbe = 4, m = 8, ksub = 16))
    val idx = scratch("graft_rt_idx")
    try {
      SimilaritySearch.writeIvfPqIndex(e, idx.toString,
        nCentroids = 16, m = 8, ksub = 16)
      val fromDisk = canon(SimilaritySearch.ivfPqTopKFromIndex(
        probes, idx.toString, 5, nProbe = 4))
      assert(fromDisk.nonEmpty)
      assert(fromDisk == inSession,
        "the persisted index must serve byte-identical results")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(idx).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("ivf-pq incremental append: touched cells only, batch-split " +
    "invariant, and frozen sidecars") {
    import scala.jdk.CollectionConverters._
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val base = e.where(col("vec_id") % 10 =!= 0)
    val delta = e.where(col("vec_id") % 10 === 0)
    val probes = e.filter(col("vec_id") < 5)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    def cellFiles(idx: java.nio.file.Path): Map[String, Set[String]] = {
      val codes = idx.resolve("codes")
      java.nio.file.Files.list(codes).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("cell="))
        .map { p =>
          p.getFileName.toString ->
            java.nio.file.Files.list(p).iterator().asScala
              .map(_.getFileName.toString)
              .filter(_.endsWith(".parquet")).toSet
        }.toMap
    }
    def rmAll(p: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    val idx1 = scratch("graft_inc1")
    val idx2 = scratch("graft_inc2")
    try {
      SimilaritySearch.writeIvfPqIndex(base, idx1.toString,
        nCentroids = 16, m = 8, ksub = 16)
      val sideBefore = SimilaritySearch.readIvfPqSidecars(spark, idx1.toString)
      val before = cellFiles(idx1)
      SimilaritySearch.appendToIvfPqIndex(delta, idx1.toString)
      val after = cellFiles(idx1)
      // which cells SHOULD the delta touch (encode against the frozen
      // centroids, exactly as appendToIvfPqIndex does)
      val touched = delta.select(
          element_at(graft.functions.VectorFunctions.centroidRanks(
            col("embedding"), sideBefore._1, 1), 1).as("cell"))
        .distinct().collect().map(r => s"cell=${r.getInt(0)}").toSet
      assert(touched.nonEmpty, "fixture delta must land in some cell")
      // 1) no pre-existing file is ever rewritten or removed
      before.foreach { case (cell, files) =>
        assert(files.subsetOf(after(cell)),
          s"append must not rewrite $cell's existing files")
      }
      // 2) ONLY the delta's cells gain files
      after.foreach { case (cell, files) =>
        val gained = files -- before.getOrElse(cell, Set.empty)
        assert(gained.isEmpty == !touched.contains(cell),
          s"$cell gained ${gained.size} files but touched=$touched")
      }
      // 3) sidecars are FROZEN — byte-identical read-back
      assert(SimilaritySearch.readIvfPqSidecars(spark, idx1.toString) ==
        sideBefore, "append must not alter centroids/codebook")
      // 4) serving is invariant to delta batching: one append == two
      val served1 = canon(SimilaritySearch.ivfPqTopKFromIndex(
        probes, idx1.toString, 5, nProbe = 4))
      SimilaritySearch.writeIvfPqIndex(base, idx2.toString,
        nCentroids = 16, m = 8, ksub = 16)
      SimilaritySearch.appendToIvfPqIndex(
        delta.where(col("vec_id") % 20 === 0), idx2.toString)
      SimilaritySearch.appendToIvfPqIndex(
        delta.where(col("vec_id") % 20 =!= 0), idx2.toString)
      val served2 = canon(SimilaritySearch.ivfPqTopKFromIndex(
        probes, idx2.toString, 5, nProbe = 4))
      assert(served1.nonEmpty && served1 == served2,
        "served results must not depend on how the delta was batched")
    } finally { rmAll(idx1); rmAll(idx2) }
  }

  test("ivf-pq tombstone delete + compaction: serve-time filtering, " +
    "affected-cells-only rewrite, sidecar dropped") {
    import scala.jdk.CollectionConverters._
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val probes = e.filter(col("vec_id") < 5)
    val deadIds = e.where(col("vec_id") % 20 === 5).select("vec_id")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    def cellFiles(idx: java.nio.file.Path): Map[String, Set[String]] = {
      java.nio.file.Files.list(idx.resolve("codes")).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("cell="))
        .map { p =>
          p.getFileName.toString ->
            java.nio.file.Files.list(p).iterator().asScala
              .map(_.getFileName.toString)
              .filter(_.endsWith(".parquet")).toSet
        }.toMap
    }
    def rmAll(p: java.nio.file.Path): Unit =
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    val idx = scratch("graft_del1")
    try {
      SimilaritySearch.writeIvfPqIndex(e, idx.toString,
        nCentroids = 16, m = 8, ksub = 16)
      val servedFull = canon(SimilaritySearch.ivfPqTopKFromIndex(
        probes, idx.toString, 5, nProbe = 4))
      SimilaritySearch.deleteFromIvfPqIndex(deadIds, idx.toString)
      // 1) pending tombstones filter at serve time — no dead neighbor
      val servedTomb = canon(SimilaritySearch.ivfPqTopKFromIndex(
        probes, idx.toString, 5, nProbe = 4))
      val dead = deadIds.collect().map(_.getLong(0)).toSet
      assert(dead.nonEmpty && servedTomb.nonEmpty)
      assert(!servedTomb.exists(r => dead.contains(r._3)),
        "a tombstoned id was served")
      assert(servedTomb != servedFull,
        "fixture delete slice must actually change some top-k or the " +
          "test proves nothing")
      // which cells hold dead rows (the compaction's rewrite set)
      val affected = spark.read.parquet(s"$idx/codes")
        .join(broadcast(deadIds.withColumnRenamed("vec_id", "id")), "id")
        .select("cell").distinct().collect()
        .map(r => s"cell=${r.getInt(0)}").toSet
      val before = cellFiles(idx)
      SimilaritySearch.compactIvfPqIndex(spark, idx.toString)
      val after = cellFiles(idx)
      // 2) ONLY affected cells were rewritten; unaffected untouched
      before.foreach { case (cell, files) =>
        if (affected.contains(cell))
          assert(after.getOrElse(cell, Set.empty) != files || files.isEmpty,
            s"$cell held dead rows but was not rewritten")
        else
          assert(after.get(cell).contains(files),
            s"unaffected $cell was rewritten by compaction")
      }
      // 3) tombstone sidecar folded away, dead rows physically gone
      assert(!java.nio.file.Files.exists(idx.resolve("tombstones")) ||
        java.nio.file.Files.list(idx.resolve("tombstones")).iterator()
          .asScala.isEmpty, "tombstones survived compaction")
      val idsLeft = spark.read.parquet(s"$idx/codes")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(idsLeft.intersect(dead).isEmpty,
        "dead rows survived compaction in the codes files")
      // 4) serving is unchanged by compaction
      val servedCompact = canon(SimilaritySearch.ivfPqTopKFromIndex(
        probes, idx.toString, 5, nProbe = 4))
      assert(servedCompact == servedTomb,
        "compaction changed served results")
    } finally rmAll(idx)
  }
}
