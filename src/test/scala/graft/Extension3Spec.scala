package graft

import org.apache.spark.sql.functions._

import graft.ext.{Clustering, Packing, Sampling}
import graft.functions.ZOrder
import graft.io.Tables

/** Round-5 second-wave operators: spherical k-means, sequence spans,
  * domain capping, Z-order interleave.
  */
class Extension3Spec extends SparkSpec {

  import spark.implicits._

  // --- Clustering ---------------------------------------------------

  test("kmeans recovers well-separated planted clusters") {
    // three tight groups on orthogonal axes, ids interleaved so the
    // hash-picked init can't rely on ordering
    val vecs = (0 until 30).map { i =>
      val g = i % 3
      val base = Array.fill(8)(0f)
      base(g * 2) = 10f
      base(g * 2 + 1) = (i / 3).toFloat * 0.01f // tiny within-group spread
      (i.toLong, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Clustering.kmeans(df, "vec_id", "embedding", k = 3, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 30)
    // every planted group maps to exactly one cluster id, all distinct
    val byGroup = (0 until 3).map(g =>
      (0 until 30).filter(_ % 3 == g).map(i => got(i.toLong)).distinct)
    byGroup.foreach(ids => assert(ids.size == 1, s"split planted group: $byGroup"))
    assert(byGroup.flatten.distinct.size == 3)
  }

  test("kmeans is deterministic run-to-run and assigns every vector once") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val a = Clustering.kmeans(e, "vec_id", "embedding", k = 8, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val b = Clustering.kmeans(e, "vec_id", "embedding", k = 8, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(a.sameElements(b))
    assert(a.length == e.count())
    assert(a.map(_._1).distinct.length == a.length)
  }

  test("kmeans survives k > distinct points (empty clusters carry forward)") {
    val df = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(1f, 0.01f)), (3L, Seq(0f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Clustering.kmeans(df, "vec_id", "embedding", k = 8, iters = 3)
      .collect()
    assert(got.length == 3)
    assert(got.map(_.getLong(1)).forall(c => c >= 0 && c < 8))
  }

  test("normQuant: unit norm, float-exact components, zero passthrough") {
    val q = Clustering.normQuant(Seq(3.0, 4.0))
    assert(q.forall(x => x == x.toFloat.toDouble))
    val n = math.sqrt(q.map(x => x * x).sum)
    assert(math.abs(n - 1.0) < 1e-6)
    assert(Clustering.normQuant(Seq(0.0, 0.0)) == Seq(0.0, 0.0))
  }

  // --- Sequence spans ----------------------------------------------

  test("packSequences spans tile each doc and each sequence exactly") {
    val docs = Seq((1L, 100L), (2L, 300L), (3L, 0L), (4L, 56L), (5L, 512L),
      (6L, 1L)).toDF("doc_id", "tokens")
    val spans = Packing.packSequences(docs, "doc_id", "tokens", seqLen = 256)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // zero-token doc emits nothing
    assert(!spans.exists(_._2 == 3L))
    // per doc: spans cover [0, tokens) contiguously in seq order
    val byDoc = spans.groupBy(_._2)
    Map(1L -> 100L, 2L -> 300L, 4L -> 56L, 5L -> 512L, 6L -> 1L).foreach {
      case (id, toks) =>
        val ds = byDoc(id).sortBy(_._1)
        assert(ds.head._3 == 0L && ds.last._4 == toks)
        ds.sliding(2).foreach {
          case Array(a, b) => assert(a._4 == b._3 && b._1 == a._1 + 1)
          case _ =>
        }
    }
    // per sequence: spans tile [0, 256) with no gaps (except the tail)
    val total = 100L + 300L + 0L + 56L + 512L + 1L
    val lastSeq = (total - 1) / 256
    spans.groupBy(_._1).foreach { case (seq, ss) =>
      val sorted = ss.sortBy(_._5)
      assert(sorted.head._5 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + (a._4 - a._3) == b._5)
        case _ =>
      }
      val filled = sorted.map(s => s._4 - s._3).sum
      if (seq < lastSeq) assert(filled == 256L)
      else assert(filled == total - lastSeq * 256)
    }
  }

  test("packSequences is partition-count invariant") {
    val docs = (1L to 97L).map(i => (i, i * 7 % 301)).toDF("doc_id", "tokens")
    val ref = Packing.packSequences(docs, "doc_id", "tokens", 64, partitions = 1)
      .collect().map(_.toSeq).toSet
    Seq(3, 17).foreach { p =>
      val got = Packing.packSequences(docs, "doc_id", "tokens", 64, partitions = p)
        .collect().map(_.toSeq).toSet
      assert(got == ref, s"partitions=$p diverged")
    }
  }

  // --- Domain capping ----------------------------------------------

  test("capPerGroup caps each group deterministically with a pure-hash rank") {
    val df = (1L to 200L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    val got = Sampling.capPerGroup(df, "id", "src", "t1", 20)
    val counts = got.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 20))
    // survivors are a pure function of (salt, id): re-run identical
    val a = got.select("id").collect().map(_.getLong(0)).sorted
    val b = Sampling.capPerGroup(df, "id", "src", "t1", 20)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
    // a different salt picks a different survivor set
    val c = Sampling.capPerGroup(df, "id", "src", "t2", 20)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(!a.sameElements(c))
    // groups smaller than the cap keep everything
    val small = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "src")
    assert(Sampling.capPerGroup(small, "id", "src", "s", 10).count() == 3)
  }

  // --- Z-order ------------------------------------------------------

  test("interleave16 matches the naive bit-interleave reference") {
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z
    }
    val rnd = new scala.util.Random(11)
    val cases = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = cases.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.interleave16(col("x"), col("y")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == ref(r.getLong(0), r.getLong(1)),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("stretch16 maps a narrow domain monotonically across the 16-bit range") {
    val vals = (0L to 99L).toDF("v")
      .select(col("v"), ZOrder.stretch16(col("v"), 99L).as("s"))
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
    vals.foreach { case (v, s) => assert(s == v * 65536L / 100L) }
    assert(vals.head._2 == 0L && vals.last._2 == 64880L)
    assert(vals.sliding(2).forall { case Array(a, b) => a._2 < b._2; case _ => true })
  }

  // --- Product quantization -----------------------------------------

  test("pqTopK retrieves same-cluster neighbors on planted clusters") {
    // 3 well-separated clusters in 16-dim; PQ (m=4 subspaces) must keep
    // cluster structure through quantization even though exact ranks
    // inside a cluster may shuffle
    val vecs = (0 until 30).map { i =>
      val g = i % 3
      val base = Array.fill(16)(0f)
      base(g * 5) = 10f
      base(g * 5 + 1) = 1f + (i / 3).toFloat * 0.05f
      (i.toLong, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = graft.ext.SimilaritySearch
      .pqTopK(df.filter(col("vec_id") < 3), df, 5, m = 4, ksub = 8)
      .collect()
    assert(got.length == 15)
    got.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(2)
      assert(q % 3 == n % 3,
        s"query $q (cluster ${q % 3}) retrieved cross-cluster neighbor $n")
    }
  }

  test("pq codes are in range, deterministic under repartition, ADC exact") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cb = graft.ext.SimilaritySearch.pqCodebook(e, "vec_id", "embedding",
      m = 8, ksub = 16)
    assert(cb.length == 8 && cb.forall(_.length == 16) &&
      cb.forall(_.forall(_.length == 8)))
    def run(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"),
        graft.functions.PqFunctions.encode(col("embedding"), cb).as("codes"),
        col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getSeq[Float](2)))
      .sortBy(_._1)
    val a = run(e.repartition(7))
    val b = run(e.repartition(3))
    assert(a.map(t => (t._1, t._2)) sameElements b.map(t => (t._1, t._2)))
    a.foreach { case (_, codes, _) =>
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
    }
    // ADC against the first vector's LUT must equal the explicit
    // reconstruction dot (same double left-to-right accumulation)
    val (_, codes0, v0) = a.head
    val lut = e.orderBy("vec_id").limit(1)
      .select(graft.functions.PqFunctions.lut(col("embedding"), cb))
      .head().getSeq[Double](0)
    val adc = e.orderBy("vec_id").limit(1)
      .select(graft.functions.PqFunctions.adc(
        graft.functions.PqFunctions.lut(col("embedding"), cb),
        graft.functions.PqFunctions.encode(col("embedding"), cb), 16))
      .head().getDouble(0)
    val expected = (0 until 8).map { j =>
      var d = 0.0
      (0 until 8).foreach(t =>
        d += cb(j)(codes0(j))(t).toFloat.toDouble * v0(j * 8 + t).toDouble)
      d
    }.sum
    assert(adc == expected)
    assert((0 until 8).map(j => lut(j * 16 + codes0(j))).sum == expected)
  }

  test("pq top-5 keeps a floor of the brute top-5 on fixture noise") {
    // the sf0.001 embeddings are near-uniform noise — the hardest case
    // for ADC (scores are tightly packed, quantization error reshuffles
    // close ranks). The floor pins measured behavior (0.32) so a future
    // codebook/scoring regression shows up; structured data is covered
    // by the planted-cluster test above.
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = e.filter(col("vec_id") < 5)
    val brute = graft.ext.SimilaritySearch.bruteTopK(qs, e, 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val pq = graft.ext.SimilaritySearch.pqTopK(qs, e, 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = pq.map { case (q, got) =>
      (brute(q) & got).size.toDouble / 5
    }.sum / pq.size
    assert(recall >= 0.25, f"pq recall@5 vs brute dropped to $recall%.2f")
  }

  // --- EWMA ---------------------------------------------------------

  test("ewma folds in event order and is partition invariant") {
    val q = SparkEntry.queries("q105_ewma")
    // hand check on the fixture's smallest slice is impractical; build a
    // tiny parquet fixture instead: one user, values 2,4,8 in ts order
    // → f(f(2,4),8) = f(3,8) = 5.5
    val dir = scratch("graft_ewma")
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "a", 2.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 7L, "a", 4.0, "{}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 7L, "a", 8.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    try {
      val out = q(spark, dir.toString).collect()
      assert(out.length == 1)
      assert(out.head.getLong(1) == 3L)
      assert(out.head.getDouble(2) == 5.5)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    // partition invariance on the real fixture
    val e = Tables.load(spark, "/root/testdata/sf0.001", "events")
    def ewma(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("seq"))
      .withColumn("vals", expr("transform(seq, x -> x.value)"))
      .select(col("user_id"), expr(
        "aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1), " +
          "(acc, x) -> acc * 0.5D + x * 0.5D)").as("e"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(ewma(e.repartition(13)) sameElements ewma(e.repartition(2)))
  }

  // --- fuzzy join ---------------------------------------------------

  test("fuzzy join recovers the planted original name for every probe") {
    val out = SparkEntry.queries("q106_fuzzy_join")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val byProbe = out.groupBy(_.getLong(0))
    assert(byProbe.size == 30)
    byProbe.foreach { case (probe, rows) =>
      // rank-1 match must be within distance 1 (the planted typo is one
      // deletion away from its original, so something at dist <= 1 exists)
      val r1 = rows.find(_.getInt(4) == 1).get
      assert(r1.getLong(3) <= 1L, s"probe $probe rank-1 dist ${r1.getLong(3)}")
      // and undoing the deletion must reconstruct a catalog name the
      // match set contains
      val typo = r1.getString(1)
      val matched = rows.map(_.getString(2)).toSet
      assert(matched.exists(m => m.length == typo.length + 1 ||
        m.length == typo.length), s"probe $probe matches $matched vs $typo")
    }
  }

  // --- grouping sets ------------------------------------------------

  test("grouping sets levels are mutually consistent") {
    val out = SparkEntry.queries("q107_grouping_sets")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = Tables.load(spark, "/root/testdata/sf0.001", "orders").count()
    val grand = out.filter(t => t._1 == "ALL" && t._2 == "ALL")
    assert(grand.length == 1 && grand.head._3 == total)
    val perStatus = out.filter(t => t._1 != "ALL" && t._2 == "ALL")
    assert(perStatus.map(_._3).sum == total)
    val fine = out.filter(t => t._1 != "ALL" && t._2 != "ALL")
    perStatus.foreach { case (s0, _, n) =>
      assert(fine.filter(_._1 == s0).map(_._3).sum == n, s"status $s0")
    }
  }

  // --- rolling z-score ----------------------------------------------

  test("rolling zscore matches a brute-force recompute") {
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val e = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2), r.getDouble(3)))
    val expected = e.groupBy(_._2).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(t => (java.sql.Timestamp.valueOf(t._3), t._1))
      sorted.indices.flatMap { i =>
        val fr = sorted.slice(math.max(0, i - 10), i).map(_._4)
        if (fr.length < 8) None
        else {
          val mu = fr.sum / fr.length
          val sd = math.sqrt(fr.map(x => (x - mu) * (x - mu)).sum / (fr.length - 1))
          if (sd <= 0.05) None
          else {
            val z = r6((sorted(i)._4 - mu) / sd)
            if (math.abs(z) > 2) Some(sorted(i)._1 -> z) else None
          }
        }
      }
    }.toMap
    val got = SparkEntry.queries("q108_rolling_zscore")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, z) =>
      assert(math.abs(z - expected(id)) < 1e-9, s"event $id: $z vs ${expected(id)}")
    }
  }

  // --- bigram LM ----------------------------------------------------

  test("bigram logprob matches a hand recompute and probabilities normalize") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def toks(t: String): Seq[String] =
      t.replaceAll("[^a-zA-Z0-9 ]", "").split(" ").filter(_.nonEmpty).toSeq
    val bis = docs.flatMap { case (id, t) =>
      val ws = toks(t)
      if (ws.length < 2) Seq.empty
      else ws.zip(ws.tail).map(b => (id, b._1, b._2))
    }
    val c12 = bis.groupBy(b => (b._2, b._3)).view.mapValues(_.length.toDouble).toMap
    val c1 = bis.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val vv = bis.map(_._3).distinct.length.toDouble
    // add-one probabilities over the observed w2 vocab + 1 unseen mass
    // unit must normalize: sum_w2 (c12+1)/(c1+V) == (c1 + V) / (c1 + V)
    // when summed over exactly the V-sized vocab
    val someW1 = c1.keys.head
    val mass = bis.map(_._3).distinct.map(w2 =>
      (c12.getOrElse((someW1, w2), 0.0) + 1.0) / (c1(someW1) + vv)).sum
    assert(math.abs(mass - 1.0) < 1e-9)
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = bis.groupBy(_._1).view.mapValues { rows =>
      (rows.length.toLong,
        r6(rows.map(b => -math.log((c12((b._2, b._3)) + 1.0) /
          (c1(b._2) + vv))).sum / rows.length))
    }.toMap
    val got = SparkEntry.queries("q110_bigram_logprob")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (n, s)) =>
      assert(n == expected(id)._1, s"doc $id n_bigrams")
      assert(math.abs(s - expected(id)._2) < 1e-9, s"doc $id surprisal")
    }
  }
}
