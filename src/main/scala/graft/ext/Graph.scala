package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms expressed as DataFrame joins — the same
  * "iteration = a fixed pipeline of keyed shuffles" shape as
  * [[Dedup.canonicalize]]'s connected components. The reference has no
  * graph operators; these belong to the LLM-pipeline extension surface
  * (ranking inside near-dup evidence graphs: which document is the
  * "authority" of its duplication cluster).
  */
object Graph {

  /** Fixed-iteration PageRank over an edge list.
    *
    * Each iteration is exactly two keyed shuffles at any scale — a join
    * of the (src, dst, deg) edge table with the current ranks on `src`,
    * then an aggregation on `dst` — i.e. the Pregel/GraphX recurrence as
    * declarative Spark, with no driver-side state beyond the node count
    * (read from the node pin's own job). The edge table (with degrees)
    * is materialized ONCE via `localCheckpoint` and reused every round;
    * per-round ranks are also checkpointed so lineage stays O(1) instead
    * of O(iters), and each round frees the ranks it replaces (swap for
    * `checkpoint` on a cluster with a checkpoint dir).
    *
    * Dangling-node mass is NOT redistributed (the common simplification):
    * with `undirected = true` (the near-dup-graph case) every node has
    * out-edges, so no mass is lost and ranks sum to 1.
    *
    * Float determinism for the oracle gate: every constant is derived
    * with the same double arithmetic the oracle SQL spells out
    * (`1.0 - damping`, `x / n`), so the only cross-engine divergence is
    * summation order — last-ulp noise the caller's stableRound6 absorbs.
    */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
               undirected: Boolean = true): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    val e0 = edges.select(col(edges.columns(0)).cast("long").as("src"),
      col(edges.columns(1)).cast("long").as("dst"))
    val e = (if (undirected) e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
             else e0).localCheckpoint()
    val (nodes, nNodes) =
      Pins.pinCounted(e.select(col("src").as("node")).distinct(), count(lit(1)))
    val n = nNodes.toDouble
    require(n > 0, "pageRank: empty graph")
    val teleport = (1.0 - damping) / n
    val withDeg = e
      .join(e.groupBy("src").agg(count(lit(1)).cast("double").as("deg")), "src")
      .localCheckpoint() // reused every iteration: never recompute degrees
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst")
        .agg(sum("c").as("m"))
        .select(col("dst").as("node"),
          (lit(teleport) + lit(damping) * col("m")).as("rank"))
      // a node with no in-edges receives only teleport mass (cannot occur
      // on an undirected graph, kept for directed generality)
      val nextRanks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), coalesce(col("rank"), lit(teleport)).as("rank"))
        .localCheckpoint()
      Pins.unpin(ranks)
      ranks = nextRanks
    }
    ranks
  }

  /** Personalized PageRank — random walk with restart to a SEED set:
    * r = (1−d)·e_S + d·P·r with e_S uniform over the seeds, the
    * similarity-graph proximity score behind "expand this curated seed
    * set" data selection (rank candidate docs/parts by how reachable
    * they are from things you already trust). Same scale shape as
    * [[pageRank]] — per iteration one keyed join + one aggregation over
    * the checkpointed degree-annotated edge table, O(1) lineage — with
    * the teleport mass concentrated on the seeds instead of spread
    * uniformly. Seeds not present in the graph are ignored (they have
    * no edges to walk). Float discipline matches [[pageRank]]: the only
    * cross-engine divergence is summation order; callers snap with
    * stableRound6 before any rank cut.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 4, damping: Double = 0.85,
                           undirected: Boolean = true): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    val e0 = edges.select(col(edges.columns(0)).cast("long").as("src"),
      col(edges.columns(1)).cast("long").as("dst"))
    val e = (if (undirected) e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
             else e0).localCheckpoint()
    val nodes = e.select(col("src").as("node")).distinct().localCheckpoint()
    val (seed, nSeeds) = Pins.pinCounted(
      seeds.select(col(seeds.columns(0)).cast("long").as("node"))
        .distinct().join(nodes, "node"), count(lit(1)))
    val s = nSeeds.toDouble
    require(s > 0, "personalizedPageRank: no seed is present in the graph")
    val restart = (1.0 - damping) / s
    val withDeg = e
      .join(e.groupBy("src").agg(count(lit(1)).cast("double").as("deg")), "src")
      .localCheckpoint()
    val base = nodes
      .join(seed.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed") === 1, lit(restart)).otherwise(lit(0.0))
          .as("base"))
      .localCheckpoint()
    var ranks = base.select(col("node"),
      when(col("base") > 0.0, lit(1.0 / s)).otherwise(lit(0.0)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst")
        .agg(sum("c").as("m"))
        .select(col("dst").as("node"), col("m"))
      val nextRanks = base.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("base") + lit(damping) * coalesce(col("m"), lit(0.0)))
            .as("rank"))
        .localCheckpoint()
      Pins.unpin(ranks)
      ranks = nextRanks
    }
    ranks
  }

  /** Fixed-iteration HITS (Kleinberg hubs & authorities) over a
    * BIPARTITE edge list (hub side, authority side) — the mutual-
    * reinforcement ranking PageRank can't express: an authority is good
    * because good hubs point at it, and vice versa. Classic use here:
    * customer↔part co-purchase, where authority = a part bought by
    * broad-basket customers.
    *
    * Same scale shape as [[pageRank]]: each half-iteration is one keyed
    * join + one aggregation over the checkpointed edge table; the L2
    * normalization is a 1-row broadcast. Cross-engine determinism is the
    * q299 discipline: scores SNAP to the 1e-9 grid after every
    * normalize, so unordered-summation ulp noise never accumulates and
    * the DuckDB oracle's unrolled-CTE replay walks the identical
    * trajectory.
    *
    * Returns (side, id, score) with side ∈ {hub, authority} and score
    * the final snapped L2-normalized value.
    */
  def hits(edges: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    val e = edges.select(col(edges.columns(0)).cast("long").as("h"),
      col(edges.columns(1)).cast("long").as("a")).distinct().localCheckpoint()
    def snap9(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000000000.0) + lit(0.5)) / lit(1000000000.0)
    def half(scores: DataFrame, from: String, to: String): DataFrame = {
      // checkpoint the aggregated (node, r) frame — WITHOUT this the
      // edge join+agg recomputes twice per half (once under the norm
      // aggregate, once under the snap projection): measured 40+ s for
      // 8 iterations at sf0.1 vs ~6 s checkpointed. The checkpointed
      // frame is node-sized, never edge-sized.
      val raw = e.join(scores, col(from) === col("id"))
        .groupBy(col(to)).agg(sum("s").as("r"))
        .localCheckpoint()
      val nrm = raw.agg(sqrt(sum(col("r") * col("r"))).as("nrm"))
      raw.crossJoin(broadcast(nrm))
        .select(col(to).as("id"), snap9(col("r") / col("nrm")).as("s"))
    }
    var hScore = e.select(col("h").as("id")).distinct()
      .select(col("id"), lit(1.0).as("s")).localCheckpoint()
    var aScore: DataFrame = null
    for (_ <- 1 to iters) {
      aScore = half(hScore, "h", "a")
      hScore = half(aScore, "a", "h")
    }
    aScore.select(lit("authority").as("side"), col("id"), col("s"))
      .unionByName(hScore.select(lit("hub").as("side"), col("id"), col("s")))
  }

  /** Per-vertex triangle counts via degree-oriented enumeration — the
    * scale-safe building block behind local clustering coefficients
    * (q152). The naive shape (wedges enumerated at EVERY vertex by
    * self-joining the adjacency on `src`) emits deg² rows per node: one
    * 100k-degree hub — the hub-and-spoke pattern clustering coefficients
    * exist to detect — generates 5·10⁹ wedge rows. Here each edge is
    * instead ORIENTED from its lower (deg, id) endpoint to the higher
    * one, so every triangle is enumerated exactly once, from its
    * lowest-degree corner: oriented out-degree is O(√m), total wedge
    * work O(m^{3/2}) (Schank & Wagner's forward algorithm / the standard
    * MapReduce triangle-counting discipline), and a pure hub generates
    * ZERO wedges because all its edges point AT it (GraphSpec pins a
    * 1k-spoke hub). Each triangle then distributes one +1 credit to all
    * three corners via a union — three narrow passes over the (small)
    * triangle set — and a keyed count yields per-vertex totals. All
    * joins are equi-joins on vertex ids; nothing is ever keyed on the
    * wedge endpoints' cross product.
    *
    * @param edges SYMMETRIC edge list (both directions present, no
    *              self-loops), columns (src, dst) of any orderable type
    * @return one row per vertex: (v, deg LONG, tri LONG) — `deg` the
    *         undirected degree, `tri` the number of triangles through v
    */
  def localTriangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst")).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val ord = deg.select(col("src").as("v"),
      struct(col("deg"), col("src")).as("ord"))
    val oriented = e
      .join(ord.select(col("v").as("src"), col("ord").as("ord_src")), "src")
      .join(ord.select(col("v").as("dst"), col("ord").as("ord_dst")), "dst")
      .where(col("ord_src") < col("ord_dst"))
      .select(col("src").as("lo"), col("dst").as("hi"),
        col("ord_dst").as("ord_hi"))
      .localCheckpoint()
    val tri = oriented.as("w1")
      .join(oriented.as("w2"), col("w1.lo") === col("w2.lo")
        && col("w1.ord_hi") < col("w2.ord_hi"))
      .select(col("w1.lo").as("a"), col("w1.hi").as("b"), col("w2.hi").as("c"))
      .join(oriented.select(col("lo").as("b"), col("hi").as("c")), Seq("b", "c"))
    val credits = tri.select(col("a").as("v"))
      .unionAll(tri.select(col("b").as("v")))
      .unionAll(tri.select(col("c").as("v")))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.join(credits, col("src") === col("v"), "left")
      .select(col("src").as("v"), col("deg").cast("long").as("deg"),
        coalesce(col("tri"), lit(0L)).cast("long").as("tri"))
  }

  /** Adamic-Adar link-prediction scores over a SYMMETRIC edge list:
    * for every node pair (a < b), n_common = |N(a) ∩ N(b)| and
    * aa9 = Σ_z round(1e9 / ln(deg z)) over the common neighbors z —
    * the 1/ln terms snapped once per NODE to the 1e-9 LONG grid so
    * pair scores are exact integer sums (order-independent,
    * oracle-replayable). Adjacent pairs are NOT excluded here — the
    * caller anti-joins its own "already linked" frame (cheaper after
    * the wedge grouping has collapsed wedges to pairs).
    *
    * SCALE: the wedge join through a center z does C(deg z, 2) work,
    * and for exact Adamic-Adar that is irreducible — every neighbor
    * pair of z earns z's term, so degree orientation (which dedups
    * triangle COUNTS) cannot skip any pair. On a power-law graph one
    * mega-hub therefore dominates the whole job; the standard
    * production treatment is the `hubCap`: centers with deg > hubCap
    * are EXCLUDED from wedge enumeration (their per-pair contribution
    * 1/ln(deg) is the smallest of all terms — ranking noise), bounding
    * per-center work at C(hubCap, 2). The filter lands BEFORE the
    * quadratic self-join — GraphSpec pins on a planted 1k-spoke hub
    * that capped enumeration does zero wedge work through the hub.
    * deg >= 2 is free (a wedge needs two distinct neighbors) and keeps
    * ln(deg) away from ln(1) = 0.
    *
    * @param edges  SYMMETRIC (src, dst) rows, no self-loops
    * @param hubCap max center degree enumerated (>= 2)
    * @return (a, b, n_common LONG, aa9 LONG) with a < b
    */
  def adamicAdar(edges: DataFrame, hubCap: Long): DataFrame = {
    require(hubCap >= 2L, s"hubCap must be >= 2, got $hubCap")
    val e = edges.select(col(edges.columns(0)).as("src"),
      col(edges.columns(1)).as("dst"))
    val centers = e.groupBy(col("dst").as("z"))
      .agg(count(lit(1)).as("deg"))
      .where(col("deg") >= 2 && col("deg") <= hubCap)
      .withColumn("w9",
        floor(lit(1000000000.0) / log(col("deg").cast("double")) +
          lit(0.5)).cast("long"))
      .select("z", "w9")
    val half = e.select(col("src").as("a"), col("dst").as("z"))
      .join(centers, "z")
    half.join(half.select(col("a").as("b"), col("z")), "z")
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum("w9").as("aa9"))
  }

  /** Multi-source BFS hop distances, capped at `maxHops` rounds — the
    * "blast radius" primitive (taint propagation through a similarity
    * graph, contamination reach, recall expansion). Classic frontier
    * BFS as keyed joins: each round expands the frontier through the
    * edge list (one shuffle on `src`), anti-joins already-visited nodes
    * (one shuffle on `node`), and checkpoints — lineage stays O(1), and
    * the left-anti visit set guarantees first-reach = minimum hop count,
    * so results are partitioning-invariant. Terminates early when a
    * frontier empties, which the frontier's own pin job counts (no
    * separate probe job). Per-round state is the visited set —
    * node-count bounded, never edges × rounds.
    *
    * @param edges    directed (src, dst) rows — symmetrize before the
    *                 call for an undirected walk
    * @param sources  one column of seed node ids (hop 0)
    * @return (node LONG, hops INT) — nodes unreachable in maxHops are
    *         absent
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64,
      s"maxHops must be in [1, 64], got $maxHops")
    val e = edges.select(col(edges.columns(0)).cast("long").as("src"),
      col(edges.columns(1)).cast("long").as("dst")).localCheckpoint()
    var visited = sources
      .select(col(sources.columns(0)).cast("long").as("node")).distinct()
      .withColumn("hops", lit(0))
      .localCheckpoint()
    // a projection, not the pin itself, so unpinning it frees nothing
    var frontier = visited.select("node")
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val (next, reached) = Pins.pinCounted(
        frontier.join(e, frontier("node") === e("src"))
          .select(e("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("hops", lit(hop)), count(lit(1)))
      // next is pinned and the previous frontier is already in the
      // pinned visited set, so nothing reads that frontier again
      Pins.unpin(frontier)
      if (reached == 0) done = true
      else {
        val grown = visited.unionAll(next).localCheckpoint()
        Pins.unpin(visited)
        visited = grown
        hop += 1
      }
      frontier = next
    }
    Pins.unpin(frontier)
    visited
  }
}
