package graft

import org.apache.spark.sql.functions._

import graft.ext.Graph

/** ext.Graph.localTriangleCounts — the degree-oriented per-vertex
  * triangle counter behind q152. The headline fixture is the hub the
  * round-6 wedge-at-every-vertex shape would have detonated on: one node
  * with 1k spokes (deg² = 10⁶ wedge rows under the old plan; zero under
  * orientation, because every hub edge points AT the hub).
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  /** Symmetrize an undirected pair list. */
  private def sym(pairs: Seq[(Long, Long)]) = {
    val p = pairs.toDF("src", "dst")
    p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def counts(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    Graph.localTriangleCounts(sym(pairs)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("pageRank, personalizedPageRank and bfsDistances free each superseded pin") {
    // every loop re-pins its state each round; only the loop-invariant
    // pins and the returned frame may stay registered as persisted RDDs.
    // RDD ids grow, so counting only ids above a fresh one keeps earlier
    // suites' garbage, which ContextCleaner frees at any time, out of it
    val edges = sym((1L until 30L).map(i => (i, i + 1)))
    val sc = spark.sparkContext
    def grown(run: => org.apache.spark.sql.DataFrame): (Int, Long) = {
      val first = sc.emptyRDD[Int].id
      val out = run
      (sc.getPersistentRDDs.keys.count(_ > first), out.count())
    }
    // edge, node and degree pins plus the ranks of the last of 8 rounds
    val (pr, prRows) = grown(Graph.pageRank(edges, iters = 8))
    assert(pr <= 4 && prRows == 30, s"pageRank left $pr persisted RDDs")
    // ... plus the seed and restart-base pins
    val (ppr, pprRows) = grown(
      Graph.personalizedPageRank(edges, Seq(1L).toDF("node"), iters = 8))
    assert(ppr <= 6 && pprRows == 30, s"personalizedPageRank left $ppr")
    // the edge pin and the visited set of the last of 10 hops
    val (bfs, bfsRows) = grown(
      Graph.bfsDistances(edges, Seq(1L).toDF("node"), maxHops = 10))
    assert(bfs <= 2 && bfsRows == 11, s"bfsDistances left $bfs")
    // a frontier that empties before maxHops: its last pin is freed too
    val (done, doneRows) = grown(
      Graph.bfsDistances(edges, Seq(25L).toDF("node"), maxHops = 64))
    assert(done <= 2 && doneRows == 30, s"bfsDistances left $done")
  }

  test("1k-spoke hub: zero triangles, zero wedge fan-out at the hub") {
    // hub 0 — its 1000 edges all orient AWAY from the spokes (deg 1)
    // INTO the hub (deg 1000), so the hub opens no wedges; one closing
    // edge between spokes 1 and 2 makes exactly one triangle
    val hub = (1L to 1000L).map(s => (0L, s))
    val got = counts(hub :+ (1L, 2L))
    assert(got(0L) == ((1000L, 1L)), "hub: degree 1000, one triangle")
    assert(got(1L) == ((2L, 1L)) && got(2L) == ((2L, 1L)))
    (3L to 1000L).foreach(s => assert(got(s) == ((1L, 0L))))
  }

  test("K5 clique: every vertex sees C(4,2) = 6 triangles") {
    val k5 = for (a <- 0L to 4L; b <- a + 1 to 4L) yield (a, b)
    val got = counts(k5)
    (0L to 4L).foreach(v => assert(got(v) == ((4L, 6L))))
  }

  test("adamicAdar: planted 1k-spoke hub does zero wedge work under cap") {
    // capped at 100, the deg-1000 hub is excluded as a wedge center and
    // the deg-1 spokes never qualify (deg < 2) → the output is EMPTY;
    // uncapped the same graph fans out to C(1000,2) = 499,500 wedge
    // pairs — exactly the quadratic blow-up the cap exists to bound
    val hub = (1L to 1000L).map(s => (0L, s))
    assert(Graph.adamicAdar(sym(hub), hubCap = 100L).count() == 0L)
    assert(Graph.adamicAdar(sym(hub), hubCap = 1000L).count() == 499500L)
  }

  test("adamicAdar: cap removes only hub-centered wedges, keeps the rest") {
    // hub 0 with 50 spokes, plus a disjoint path 100-101-102: center
    // 101 (deg 2) survives any cap >= 2; capping at 10 drops all hub
    // wedges and keeps exactly the (100,102) pair through 101
    val g = (1L to 50L).map(s => (0L, s)) ++ Seq((100L, 101L), (101L, 102L))
    val capped = Graph.adamicAdar(sym(g), hubCap = 10L).collect()
    assert(capped.length == 1)
    val r = capped.head
    val w9deg2 = math.floor(1e9 / math.log(2.0) + 0.5).toLong
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((100L, 102L, 1L, w9deg2)))
  }

  test("adamicAdar matches naive enumeration on a random graph") {
    val rnd = new scala.util.Random(11)
    val pairs = (for (a <- 0L until 25L; b <- a + 1 until 25L
                      if rnd.nextDouble() < 0.25) yield (a, b)).distinct
    val adj = pairs.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    def w9(d: Int): Long = math.floor(1e9 / math.log(d.toDouble) + 0.5).toLong
    val naive = (for {
      a <- adj.keys.toSeq; b <- adj.keys.toSeq if a < b
      common = adj(a).intersect(adj(b)) if common.nonEmpty
    } yield (a, b) -> ((common.size.toLong,
      common.toSeq.map(z => w9(adj(z).size)).sum))).toMap
    val got = Graph.adamicAdar(sym(pairs), hubCap = 1000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == naive)
  }

  test("matches naive per-vertex enumeration on a random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = (for (a <- 0L until 30L; b <- a + 1 until 30L
                      if rnd.nextDouble() < 0.2) yield (a, b)).distinct
    val adj = pairs.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val naive = adj.map { case (v, ns) =>
      val tri = ns.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }
      v -> ((ns.size.toLong, tri.toLong))
    }
    assert(counts(pairs) == naive)
  }
}
