package graft.ext

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Rounding, VectorFunctions}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — north-star op.
  *
  * Two paths:
  *  - [[bruteTopK]]: broadcast the (small) query set against the corpus and
  *    keep per-query top-k via a window rank. Exact; the baseline. The
  *    cosine is the codegen'd [[VectorFunctions.cosineSim]], so the scan is
  *    memory-bound, and the broadcast means the corpus is read once with NO
  *    shuffle of the big side — the only shuffle is the tiny top-k rank.
  *  - [[lshTopK]]: random-hyperplane LSH. Each vector gets a `planes.size`-
  *    bit bucket (sign of dot with each plane); queries only meet corpus
  *    vectors in their own bucket — the candidate set shrinks ~2^bits-fold.
  *    This is the 100 TB path: bucketing is a narrow map, the join is an
  *    equi-join on the bucket id. Recall < 1 by construction (property
  *    test pins candidates ⊆ brute-force ordering).
  *
  * Plane coordinates are quantized to exact multiples of 1/64 — exactly
  * representable in both float and double — so Spark's float-typed plane
  * arrays and DuckDB's DOUBLE[] replay compute bit-identical dot products
  * (ExtensionQueries oracle).
  */
object SimilaritySearch {

  /** Deterministic pseudo-random hyperplanes: value ∈ {k/64 − 1/2}.
    * `seed` picks an independent table (for OR-amplified multi-table LSH).
    */
  def planes(nPlanes: Int = 8, dim: Int = 64, seed: Int = 7): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(nPlanes, dim)(rnd.nextInt(64) / 64.0 - 0.5)
  }

  /** Embedding dimensionality, derived from the first non-null vector
    * (one tiny driver-side job at plan-build; the alternative — a
    * hardcoded dim — silently buckets a wider corpus on a prefix of its
    * coordinates). Empty or all-null input falls back to dim 1: every
    * downstream operator then produces the correct empty result instead
    * of crashing on `head` of zero rows.
    */
  def deriveDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("d")).where(col("d") >= 0)
      .head(1).headOption.map(_.getInt(0)).getOrElse(1)

  /** LSH bucket id: Σ 2^i · [dot(vec, plane_i) > 0] — one compact
    * [[VectorFunctions.hyperplaneBucket]] expression (a per-plane
    * when/dot chain regresses to interpreted bytecode past ~2 tables;
    * see HyperplaneBucket scaladoc).
    */
  def bucket(vec: Column, ps: Seq[Seq[Double]]): Column =
    VectorFunctions.hyperplaneBucket(vec, ps)

  /** SQL-function builder for `lsh_bucket(vec, nPlanes, dim, seed)` in
    * the engine's one function table (GraftExtensions.functions). The
    * three int args must be literals: the plane matrix is generated at
    * resolution time.
    */
  def lshBucketBuilder(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    def intArg(i: Int): Int = es(i).eval(null) match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"lsh_bucket arg $i must be an integer literal, got $other")
    }
    graft.functions.HyperplaneBucket(es.head,
      planes(intArg(1), intArg(2), intArg(3)))
  }

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), col("neighbor_id"))
    broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        Rounding.stableRound6(VectorFunctions.cosineSim(col("qv"), col("cv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Deterministic CONSTANT-size coarse-quantizer codebook for
    * [[ivfTopK]]: the `c` corpus vectors with the smallest
    * `PolyHash("ivf#" || id)`, ordered by id (a uniform pseudo-random
    * sample that is a pure function of the corpus — no Lloyd iterations,
    * so the DuckDB oracle replays it with the same hash + top-c window).
    *
    * Scale shape: `orderBy(h).limit(c)` compiles to
    * TakeOrderedAndProject — each partition keeps its local top-c, the
    * driver merges O(#partitions · c) rows. Codebook size and per-row
    * assign cost are therefore INDEPENDENT of corpus size (round-2
    * verdict fix: the previous every-`step`-th sampling collected
    * O(n/step) rows, making assignment O(n²/step) in total).
    */
  def hashPickedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                          c: Int): Seq[Seq[Double]] =
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("h", graft.functions.PolyHash(
        concat(lit("ivf#"), col("id").cast("string"))))
      .orderBy(col("h"), col("id"))
      .limit(c)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq)
      .toSeq

  /** IVF-Flat ANN top-k: each corpus vector is assigned to its nearest
    * centroid's cell ([[graft.functions.CentroidRanks]]`[0]` — one
    * codegen'd projection, shuffle-free); each query probes its `nProbe`
    * closest cells. Candidates meet through an equi-join on the cell id,
    * so at scale the corpus is scanned once, partitioned by cell, and a
    * query touches `nProbe/C` of it — the complementary trade to
    * [[lshTopK]] (data-adaptive cells vs oblivious hyperplanes). A corpus
    * vector lives in exactly one cell, so no candidate dedup is needed.
    * `nProbe >= C` degrades gracefully to exact brute force (pinned in
    * ExtensionSpec).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              nCentroids: Int = 64, nProbe: Int = 4): DataFrame = {
    val cents = hashPickedCentroids(corpus, idCol, vecCol, nCentroids)
    if (cents.isEmpty) {
      return queries.select(col(idCol).as("query_id"), lit(1).as("rank"),
        col(idCol).as("neighbor_id"), lit(0.0).as("cos")).limit(0)
    }
    // corpus side computes ONLY its argmax cell (partial selection,
    // O(C) per row); the small query side selects its nProbe best
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      element_at(VectorFunctions.centroidRanks(col(vecCol), cents, 1), 1)
        .as("cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(VectorFunctions.centroidRanks(col(vecCol), cents, nProbe))
        .as("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), col("neighbor_id"))
    broadcast(q).join(c, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        Rounding.stableRound6(VectorFunctions.cosineSim(col("qv"), col("cv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** ANN top-k: candidates restricted to the query's LSH bucket. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              nPlanes: Int = 8, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else deriveDim(corpus, vecCol)
    val ps = planes(nPlanes, d)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      bucket(col(vecCol), ps).as("bkt"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      bucket(col(vecCol), ps).as("bkt"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), col("neighbor_id"))
    broadcast(q).join(c, "bkt")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        Rounding.stableRound6(VectorFunctions.cosineSim(col("qv"), col("cv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Multi-probe LSH top-k: each query probes its OWN bucket plus the
    * buckets reached by flipping the `probes` hyperplanes with the
    * smallest |margin| (the planes the query sits closest to — exactly
    * the bits most likely to differ for a true near neighbor, Lv et
    * al. 2007). Recall rises toward brute force at the cost of
    * `probes+1` bucket joins instead of one, with NO extra tables or
    * re-hashing — the standard production lever when a single-table
    * LSH under-recalls. The probe choice is a deterministic sort of
    * (|dot|, plane-index) pairs, so the DuckDB oracle replays it
    * bit-for-bit from the same plane literals.
    */
  def multiProbeTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     nPlanes: Int = 8, probes: Int = 2): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), col("neighbor_id"))
    multiProbeCandidates(queries, corpus, idCol, vecCol, nPlanes, probes)
      .withColumn("cos",
        Rounding.stableRound6(VectorFunctions.cosineSim(col("qv"), col("cv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** The candidate-pair stage of [[multiProbeTopK]]: the DISTINCT
    * (query_id, neighbor_id, qv, cv) pairs reached through the probed
    * bucket union, before scoring/ranking. Exposed separately so the TRUE
    * candidate volume — the bucket-union size after dedup — can be
    * measured rather than an upper bound.
    */
  def multiProbeCandidates(queries: DataFrame, corpus: DataFrame,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           nPlanes: Int = 8, probes: Int = 2): DataFrame = {
    // probes >= nPlanes would read element_at(ms, r) past the array end:
    // the NULL margin makes the xor'd probe bucket NULL and the extra
    // probes silently vanish (recall quietly degrades to single-probe)
    // instead of failing — so fail here.
    require(probes >= 0 && probes < nPlanes,
      s"probes must be in [0, nPlanes) = [0, $nPlanes), got $probes")
    val d = deriveDim(corpus, vecCol)
    val ps = planes(nPlanes, d)
    val dots = ps.zipWithIndex.map { case (p, i) =>
      struct(
        abs(VectorFunctions.dotProduct(col(vecCol),
          typedlit(p.map(_.toFloat).toArray))).as("m"),
        lit(i).as("i"))
    }
    val flips = (1 to probes).map(r =>
      col("bkt").bitwiseXOR(
        expr(s"shiftleft(1L, element_at(ms, $r).i)")))
    val probeArr = array((col("bkt") +: flips): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        bucket(col(vecCol), ps).as("bkt"),
        array_sort(array(dots: _*)).as("ms"))
      .withColumn("pb", explode(probeArr))
      .select(col("query_id"), col("qv"), col("pb").as("bkt"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      bucket(col(vecCol), ps).as("bkt"))
    broadcast(q).join(c, "bkt")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .distinct() // a neighbor can land in several probed buckets
  }

  /** Deterministic PQ codebook: the `ksub` corpus vectors with the
    * smallest `PolyHash("pq#" || id)` (same constant-size
    * TakeOrderedAndProject pick as [[hashPickedCentroids]]), each SLICED
    * into `m` contiguous subvectors — codeword `i` of subspace `j` is
    * `picked_i[j*subDim .. (j+1)*subDim)`. No Lloyd iterations, so the
    * DuckDB oracle replays the pick + slice exactly. Requires dim % m == 0
    * (the fixture's 64-dim embeddings split evenly for any power-of-two m).
    */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                 m: Int, ksub: Int): Seq[Seq[Seq[Double]]] = {
    val picked = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("h", graft.functions.PolyHash(
        concat(lit("pq#"), col("id").cast("string"))))
      .orderBy(col("h"), col("id"))
      .limit(ksub)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq)
      .toSeq
    if (picked.isEmpty) return Seq.empty
    val dim = picked.head.length
    require(dim % m == 0, s"PQ needs dim divisible by m, got dim=$dim m=$m")
    val subDim = dim / m
    Seq.tabulate(m)(j => picked.map(_.slice(j * subDim, (j + 1) * subDim)))
  }

  /** Product-quantization ANN top-k (approximate max-inner-product): the
    * corpus is ENCODED ONCE — one scan, `m` small codes per vector
    * ([[graft.functions.PqEncode]], 8 bytes at m=8 vs 256 bytes raw, the
    * 32x compression that lets a 100 TB corpus's index fit hot storage —
    * and at scale the codes are what you'd persist, not recompute). Each
    * query precomputes a LUT of subspace dot products on the tiny
    * broadcast side ([[graft.functions.PqLut]]); a candidate's score is
    * then `m` array lookups ([[graft.functions.PqAdcLookup]]) instead of
    * a `dim`-wide float dot — ADC. Exhaustive over codes here;
    * composes with the IVF cell join (q64) for the classic IVF-PQ when
    * the corpus outgrows even the compressed scan.
    *
    * Scores are approximate dot products (quantization error pulls them
    * off the true dot), rounded BEFORE ranking so both engines rank
    * identical keys; recall vs [[bruteTopK]] is property-floored in
    * Extension3Spec rather than asserted exact.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             m: Int = 8, ksub: Int = 16): DataFrame = {
    val cb = pqCodebook(corpus, idCol, vecCol, m, ksub)
    if (cb.isEmpty) {
      return queries.select(col(idCol).as("query_id"), lit(1).as("rank"),
        col(idCol).as("neighbor_id"), lit(0.0).as("score")).limit(0)
    }
    pqScoreTopK(queries, pqEncodeCorpus(corpus, cb, idCol, vecCol), cb, k,
      idCol, vecCol)
  }

  /** The index-build half of [[pqTopK]]: one corpus scan → (neighbor_id,
    * codes). At scale this table is persisted (it IS the ANN index — 8
    * bytes/vector at m=8) and [[pqScoreTopK]] queries it without ever
    * re-reading raw vectors.
    */
  def pqEncodeCorpus(corpus: DataFrame, cb: Seq[Seq[Seq[Double]]],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
      graft.functions.PqFunctions.encode(col(vecCol), cb).as("codes"))

  /** The query-time half of [[pqTopK]]: ADC over a pre-encoded codes
    * table (m array reads per candidate, LUT broadcast with the queries).
    */
  def pqScoreTopK(queries: DataFrame, codes: DataFrame,
                  cb: Seq[Seq[Seq[Double]]], k: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val ksub = cb.head.length
    val q = queries.select(col(idCol).as("query_id"),
      graft.functions.PqFunctions.lut(col(vecCol), cb).as("lut"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("neighbor_id"))
    broadcast(q).crossJoin(codes)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", Rounding.stableRound6(
        graft.functions.PqFunctions.adc(col("lut"), col("codes"), ksub)))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** IVF-PQ: the composition that serves ANN at the largest scales —
    * IVF's cell equi-join prunes WHICH vectors a query touches
    * (`nProbe/C` of the corpus), PQ's codes shrink WHAT is read per
    * touched vector (8 bytes vs 256). The corpus side is one scan
    * computing (cell, codes) — both codegen'd projections — and at 100 TB
    * that (id, cell, codes) table IS the persisted index, re-partitioned
    * by cell so a probe reads only its cells' partitions. Classic IVF-PQ
    * encodes the RESIDUAL (x − centroid) for a tighter quantization; this
    * variant encodes raw vectors so every step stays exactly
    * DuckDB-replayable (pick, slice, argmin, ADC — q111's oracle) — the
    * cell join and ADC scan shapes, which are what scale, are identical.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 8, ksub: Int = 16): DataFrame = {
    val cents = hashPickedCentroids(corpus, idCol, vecCol, nCentroids)
    val cb = pqCodebook(corpus, idCol, vecCol, m, ksub)
    if (cents.isEmpty || cb.isEmpty) {
      return queries.select(col(idCol).as("query_id"), lit(1).as("rank"),
        col(idCol).as("neighbor_id"), lit(0.0).as("score")).limit(0)
    }
    val c = corpus.select(col(idCol).as("neighbor_id"),
      element_at(VectorFunctions.centroidRanks(col(vecCol), cents, 1), 1)
        .as("cell"),
      graft.functions.PqFunctions.encode(col(vecCol), cb).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      graft.functions.PqFunctions.lut(col(vecCol), cb).as("lut"),
      explode(VectorFunctions.centroidRanks(col(vecCol), cents, nProbe))
        .as("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("neighbor_id"))
    broadcast(q).join(c, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", Rounding.stableRound6(
        graft.functions.PqFunctions.adc(col("lut"), col("codes"), ksub)))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Build and PERSIST the IVF-PQ index — the 100 TB serving shape that
    * [[ivfPqTopK]]'s in-session index only simulates. Layout under
    * `path`:
    *  - `codes/` — (id, codes) hive-partitioned BY CELL, so a probe's
    *    scan prunes to its `nProbe` cells' directories before any I/O
    *    (PlanSpec pins the `PartitionFilters` pushdown);
    *  - `centroids/` — (cid, v), `nCentroids` rows;
    *  - `codebook/` — (j, i, cv), m·ksub rows.
    * The sidecars are constant-size (independent of corpus rows); the
    * codes table is the corpus at ~(8 + 4·m) bytes/vector. One corpus
    * scan computes (cell, codes) — both codegen'd projections.
    */
  def writeIvfPqIndex(corpus: DataFrame, path: String,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      nCentroids: Int = 16, m: Int = 8,
                      ksub: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = hashPickedCentroids(corpus, idCol, vecCol, nCentroids)
    val cb = pqCodebook(corpus, idCol, vecCol, m, ksub)
    require(cents.nonEmpty && cb.nonEmpty,
      "cannot build an IVF-PQ index over an empty corpus")
    val codes = corpus.select(col(idCol).cast("long").as("id"),
      element_at(VectorFunctions.centroidRanks(col(vecCol), cents, 1), 1)
        .as("cell"),
      graft.functions.PqFunctions.encode(col(vecCol), cb).as("codes"))
    graft.io.Sources.writePartitionedParquet(codes, s"$path/codes", "cell")
    cents.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cid", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    cb.zipWithIndex.flatMap { case (words, j) =>
      words.zipWithIndex.map { case (cv, i) => (j, i, cv) }
    }.toDF("j", "i", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** Serve ANN probes from a PERSISTED [[writeIvfPqIndex]] index — the
    * round-trip proves the on-disk form is complete (no in-session state
    * needed). The constant-size sidecars are collected to the driver;
    * the probe set's cells (≤ |queries|·nProbe values — query-batch-
    * bounded, never corpus-bounded) become LITERAL partition predicates
    * on the codes read, so the scan plans only the probed cells'
    * directories — at 1000 executors each probe batch reads nProbe/C of
    * the index, no matter how many cells the corpus has. Scoring is the
    * same broadcast-LUT ADC join as [[ivfPqTopK]], so results are
    * byte-identical to the in-session path (q111's oracle gates both).
    */
  /** Read the constant-size sidecars of a persisted [[writeIvfPqIndex]]
    * index back into their in-session form: (centroids, codebook).
    * Shared by the serving path and [[appendToIvfPqIndex]] (which must
    * encode deltas against the FROZEN sidecars, never re-derive them).
    */
  def readIvfPqSidecars(spark: org.apache.spark.sql.SparkSession,
                        path: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val cents = spark.read.parquet(s"$path/centroids")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toSeq).toSeq
    val cbRows = spark.read.parquet(s"$path/codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val m = cbRows.map(_._1).max + 1
    val cb = Seq.tabulate(m) { j =>
      cbRows.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq
    }
    (cents, cb)
  }

  /** Incrementally maintain a persisted [[writeIvfPqIndex]] index: encode
    * a DELTA batch of new vectors against the index's FROZEN
    * centroids/codebook sidecars and append the (id, codes) rows into
    * their cells' partitions. `mode(Append)` under `partitionBy(cell)`
    * writes new files ONLY into the delta's own cell directories — the
    * untouched cells' files (and the sidecars) are never rewritten, so
    * a 100 TB index absorbs a delta at the cost of the delta
    * (Extension25Spec pins the touched-cells-only write). Contract:
    * INSERT-only — delta ids must be new. Replacing an existing id is a
    * read-modify-write of its (possibly different) old cell; that is
    * the CdcUpsert/tombstone-compaction layer's job (q241), composed
    * upstream of the index, not re-implemented here — checking
    * existence inside this call would cost a full index scan per delta.
    *
    * Freezing the sidecars is what makes increments cheap AND serves
    * results identical to a same-sidecar full build; it also means the
    * quantization no longer adapts to drift in the vector distribution
    * — the standard production answer (periodic full rebuild when
    * recall audits like q189/q316 degrade) applies.
    */
  def appendToIvfPqIndex(delta: DataFrame, path: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit = {
    val (cents, cb) = readIvfPqSidecars(delta.sparkSession, path)
    val codes = delta.select(col(idCol).cast("long").as("id"),
      element_at(VectorFunctions.centroidRanks(col(vecCol), cents, 1), 1)
        .as("cell"),
      graft.functions.PqFunctions.encode(col(vecCol), cb).as("codes"))
    codes.write.mode("append").partitionBy("cell").parquet(s"$path/codes")
  }

  /** The index's pending tombstone set, if any deletes are awaiting
    * compaction. Deletes are cheap append-only markers
    * ([[deleteFromIvfPqIndex]]); this reads them back for serve-time
    * filtering and for [[compactIvfPqIndex]].
    */
  private def ivfPqTombstones(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val d = new java.io.File(s"$path/tombstones")
    val fs = Option(d.listFiles()).getOrElse(Array.empty)
    if (d.isDirectory && fs.exists(_.getName.endsWith(".parquet")))
      Some(spark.read.parquet(d.toString))
    else None
  }

  /** DELETE from a persisted [[writeIvfPqIndex]] index: append the ids
    * to an append-only `tombstones/` sidecar — O(delta), no index file
    * touched. Serving ([[ivfPqTopKFromIndex]]) anti-joins the pending
    * tombstones (broadcast — the set is bounded by the compaction
    * cadence, not the corpus); [[compactIvfPqIndex]] folds them into
    * the cell files. With [[appendToIvfPqIndex]] this completes the
    * index CRUD story: update = delete + append (the new version may
    * land in a different cell; the tombstone hides the old one
    * immediately, compaction reclaims it).
    */
  def deleteFromIvfPqIndex(ids: DataFrame, path: String): Unit =
    ids.select(col(ids.columns(0)).cast("long").as("id"))
      .write.mode("append").parquet(s"$path/tombstones")

  /** Fold pending tombstones into the codes files: find the AFFECTED
    * cells (a column-pruned (id, cell) scan joined to the broadcast
    * tombstone set — production would carry the cell in the tombstone
    * to skip even that), rewrite ONLY those cells without the dead rows
    * (dynamic partition overwrite — untouched cells' files are never
    * rewritten, the CdcUpsert discipline; Extension25Spec pins it),
    * remove any cell whose rows ALL died (dynamic overwrite cannot
    * emit an empty partition), then drop the tombstone sidecar.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    ivfPqTombstones(spark, path).foreach { t =>
      val tb = t.select(col("id")).distinct().localCheckpoint()
      val codes = spark.read.parquet(s"$path/codes")
      val affected = codes.join(broadcast(tb), "id")
        .select("cell").distinct().collect().map(_.getInt(0))
      if (affected.nonEmpty) {
        // materialize the survivors BEFORE overwriting the files they
        // were read from
        val kept = codes.where(col("cell").isin(affected.map(Int.box): _*))
          .join(broadcast(tb), Seq("id"), "left_anti")
          .localCheckpoint()
        kept.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(s"$path/codes")
        val keptCells = kept.select("cell").distinct()
          .collect().map(_.getInt(0)).toSet
        (affected.toSet -- keptCells).foreach { dead =>
          val dir = java.nio.file.Paths.get(s"$path/codes/cell=$dead")
          if (java.nio.file.Files.isDirectory(dir))
            graft.io.FsUtil.deleteRecursively(dir)
        }
      }
      val td = java.nio.file.Paths.get(s"$path/tombstones")
      if (java.nio.file.Files.isDirectory(td))
        graft.io.FsUtil.deleteRecursively(td)
    }
  }

  def ivfPqTopKFromIndex(queries: DataFrame, path: String, k: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val (cents, cb) = readIvfPqSidecars(spark, path)
    val ksub = cb.head.size
    val q = queries.select(col(idCol).as("query_id"),
      graft.functions.PqFunctions.lut(col(vecCol), cb).as("lut"),
      explode(VectorFunctions.centroidRanks(col(vecCol), cents, nProbe))
        .as("cell"))
    val probed = q.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val codes0 = spark.read.parquet(s"$path/codes")
      .where(col("cell").isin(probed.map(Int.box): _*))
      .select(col("id").as("neighbor_id"), col("cell"), col("codes"))
    // deletes awaiting compaction are filtered at serve time (the
    // tombstone set is broadcast — bounded by compaction cadence)
    val codes = ivfPqTombstones(spark, path) match {
      case Some(t) => codes0.join(
        broadcast(t.select(col("id").as("neighbor_id")).distinct()),
        Seq("neighbor_id"), "left_anti")
      case None => codes0
    }
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("neighbor_id"))
    broadcast(q).join(codes, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", Rounding.stableRound6(
        graft.functions.PqFunctions.adc(col("lut"), col("codes"), ksub)))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** The pruned codes read [[ivfPqTopKFromIndex]] plans, exposed for
    * PlanSpec to pin the `PartitionFilters` pushdown on.
    */
  def prunedCodesScan(spark: org.apache.spark.sql.SparkSession,
                      path: String, cells: Seq[Int]): DataFrame =
    spark.read.parquet(s"$path/codes")
      .where(col("cell").isin(cells.map(Int.box): _*))
}
