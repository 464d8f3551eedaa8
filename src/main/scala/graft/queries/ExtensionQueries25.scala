package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.SimilaritySearch
import graft.functions.Rounding
import graft.io.Tables

/** Round-8 wave: the two r7-verdict follow-ups that complete existing
  * operator families — mergeable HLL distinct sketches (q206, closing the
  * incremental family alongside q153's algebraic merge and q164's
  * histogram merge) and the persisted IVF-PQ ANN index round-trip (q207,
  * the 100 TB serving shape q111's in-session index only simulates). Same
  * contract as every other module: each Spark pipeline pairs with DuckDB
  * oracle SQL replaying it.
  */
object ExtensionQueries25 {

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q206: HLL sketch merge — per-shard approx-distinct PARTIALS merged
    // across base+delta without re-reading raw rows: the base corpus
    // (ts < cutoff) is split into 4 hash shards and the delta
    // (ts >= cutoff) is a 5th, each folded to one DataSketches HLL
    // sketch per event_type (hll_sketch_agg), then hll_union_agg merges
    // the partials and hll_sketch_estimate reads the cardinality off
    // the merged registers. This is the incremental-pipeline shape for
    // distinct counts at 100 TB: each ingest batch persists KB-sized
    // sketches, a refresh merges sketches instead of rescanning history
    // (completing the family: q153 algebraic sums, q164 histogram bins,
    // here cardinalities). The estimate is approximate by construction,
    // so the GATE is a self-audit: the exact per-type distinct (which
    // the oracle replays exactly) plus a within-5%-of-exact boolean the
    // oracle pins to true — lgK=12's relative error is ~1.6%, so 5% is
    // a documented 3-sigma bound; Extension25Spec additionally pins
    // merged==full-recompute estimates. n_partials proves the merge saw
    // every shard.
    Q(
      "q206_hll_merge",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val cutoff = lit("2024-01-22").cast("timestamp_ntz")
        val partials = e
          .select(col("event_type"), col("user_id"),
            when(col("ts") < cutoff, col("event_id") % 4)
              .otherwise(lit(4L)).as("shard"))
          .groupBy("event_type", "shard")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val merged = partials.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
            count(lit(1)).as("n_partials"))
        val exact = e.groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("exact_users"))
        merged.join(exact, "event_type")
          .select(col("event_type"),
            col("exact_users").cast("long").as("exact_users"),
            col("n_partials").cast("long").as("n_partials"),
            (abs(col("est").cast("double") /
              col("exact_users").cast("double") - 1.0) <= 0.05)
              .as("within_tol"))
          .orderBy("event_type")
      },
      Some("""WITH sh AS (
             |  SELECT event_type, user_id,
             |    CASE WHEN ts < TIMESTAMP '2024-01-22'
             |      THEN event_id % 4 ELSE 4 END AS shard
             |  FROM events)
             |SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  CAST(count(DISTINCT shard) AS BIGINT) AS n_partials,
             |  true AS within_tol
             |FROM sh GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q207: persisted IVF-PQ index round-trip — q111's probes served
    // from the ON-DISK index form: one corpus scan writes (id, codes)
    // hive-partitioned by cell plus constant-size centroid/codebook
    // sidecars (SimilaritySearch.writeIvfPqIndex); the serving path
    // reads the sidecars back, turns the probe set's cells into LITERAL
    // partition predicates, and scans ONLY those cells' directories
    // (PlanSpec pins the PartitionFilters pushdown). Results must be
    // byte-identical to the in-session q111 — same oracle gates both.
    // The localCheckpoint detaches the (tiny) result from the temp
    // index files so the per-invocation index can be deleted eagerly
    // (the q128 temp-dir discipline).
    Q(
      "q207_ivfpq_persisted",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx")
        try {
          SimilaritySearch.writeIvfPqIndex(e, idx.toString,
            nCentroids = 16, m = 8, ksub = 16)
          SimilaritySearch.ivfPqTopKFromIndex(
              e.filter(col("vec_id") < 5), idx.toString, 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint()
        } finally graft.io.FsUtil.deleteRecursively(idx)
      },
      Some(ExtensionQueries4.ivfPqOracleSql)),

    // ------------------------------------------------------------------
    // q208: winnowing-fingerprint contamination — the MOSS selection
    // (Dedup.winnowedFingerprints: word-5-gram hashes, window-of-4 min,
    // rightmost tie) over every document, then train docs (hash bucket
    // >= 2000, q78's split discipline under a fresh salt) are flagged by
    // sharing any winnowed hash with the eval slice. Robustness vs q78's
    // exact 8-grams: any shared run of >= w+k-1 = 8 words is still
    // caught, but the posting index carries only ~2/(w+1) of the grams —
    // the storage/recall trade production decontamination ships. The
    // oracle replays tokenize, hash, the arithmetic tie-encoding window
    // min, the full-window filter, and the split.
    Q(
      "q208_winnowing_contamination",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val fps = graft.ext.Dedup.winnowedFingerprints(
          docs, "text", "doc_id", k = 5, w = 4)
        val bucketed = docs.select(col("doc_id"),
          graft.ext.Sampling.bucket(col("doc_id"), "winnow1").as("bucket"))
        val fb = fps.join(bucketed, "doc_id")
        val evalH = fb.where(col("bucket") < 2000)
          .select(col("h")).distinct().withColumn("hit", lit(1L))
        fb.where(col("bucket") >= 2000)
          .join(broadcast(evalH), Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_prints"),
            sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_shared"))
          .withColumn("flagged", col("n_shared") > 0)
          .orderBy("doc_id")
      },
      Some {
        val gram5 = (1 to 5).map(j => s"arr[i+$j]").mkString(" || ' ' || ")
        val C = 1L << 20
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split(text, ' '), t -> t <> '') AS arr
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, i AS pos,
           |    ${graft.functions.PolyHash.duckSql(gram5)} AS h
           |  FROM (SELECT doc_id, arr, unnest(range(len(arr) - 4)) AS i
           |        FROM toks WHERE len(arr) >= 5)),
           |keys AS (
           |  SELECT doc_id, pos, h * $C + (${C - 1} - pos) AS key,
           |    count(*) OVER (PARTITION BY doc_id) AS n
           |  FROM grams),
           |sel AS (
           |  SELECT DISTINCT doc_id, sel // $C AS h,
           |    ${C - 1} - (sel % $C) AS fp_pos
           |  FROM (
           |    SELECT doc_id, pos, n,
           |      min(key) OVER (PARTITION BY doc_id ORDER BY pos
           |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
           |    FROM keys)
           |  WHERE pos <= n - 4),
           |bucketed AS (
           |  SELECT doc_id,
           |    ${graft.ext.Sampling.bucketDuckSql("winnow1", "doc_id")}
           |      AS bucket
           |  FROM documents),
           |fb AS (
           |  SELECT s.doc_id, s.h, b.bucket
           |  FROM sel s JOIN bucketed b USING (doc_id)),
           |ev AS (SELECT DISTINCT h FROM fb WHERE bucket < 2000)
           |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_prints,
           |  CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_shared,
           |  sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) > 0
           |    AS flagged
           |FROM (SELECT * FROM fb WHERE bucket >= 2000) t
           |LEFT JOIN ev ON ev.h = t.h
           |GROUP BY t.doc_id
           |ORDER BY t.doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q210: approximate-quantile rank audit — percentile_approx (Spark's
    // mergeable quantile sketch, the 100 TB path when an exact
    // distributed sort per group is too expensive) audited against its
    // OWN guarantee: at accuracy a the returned value's rank must lie
    // within n/a of q·n. The sketch estimate itself is not
    // oracle-replayable, so the GATE follows the q206/q189
    // measure-your-own-sketch discipline: emit the exact rank bracket of
    // the estimate (count of values <= est — an exact join-back the
    // oracle CAN'T see, so it is re-derived engine-side) and a
    // within-guarantee boolean the oracle pins true, plus the exact
    // group count. One agg pass builds the sketches; the audit join is
    // per-(group, q) — 10 rows — broadcast back over one more scan.
    Q(
      "q210_approx_quantile_audit",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("event_type"), col("value"))
        val acc = 1000 // rank error guarantee: n/acc
        val est = e.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            percentile_approx(col("value"), lit(0.5), lit(acc)).as("p50"),
            percentile_approx(col("value"), lit(0.9), lit(acc)).as("p90"))
        val qs = est.select(col("event_type"), col("n"),
          explode(map(lit(0.5), col("p50"), lit(0.9), col("p90"))))
          .withColumnRenamed("key", "q").withColumnRenamed("value", "est")
        val ranked = e.join(broadcast(qs), "event_type")
          .groupBy("event_type", "q", "n", "est")
          .agg(sum(when(col("value") <= col("est"), 1L).otherwise(0L))
            .as("rank_le"))
        // the estimate (and so its exact rank) can shift with the
        // sketch's partition merge order, so neither belongs in a
        // hash-gated output; the GUARANTEE boolean is invariant to that
        // drift — it is exactly what the sketch promises regardless of
        // merge order — and is what the oracle pins
        ranked
          .select(col("event_type"), col("q"), col("n").cast("long").as("n"),
            (abs(col("rank_le").cast("double") -
              col("q") * col("n").cast("double")) <=
              col("n").cast("double") / acc + 1.0).as("within_guarantee"))
          .orderBy("event_type", "q")
      },
      // the oracle replays the EXACT half of the audit — group counts
      // and the pinned-true guarantee verdict; the sketch estimate is
      // engine-internal and deliberately not emitted (see above)
      Some("""WITH g AS (
             |  SELECT event_type, count(*) AS n FROM events GROUP BY 1),
             |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS q)
             |SELECT event_type, q, CAST(n AS BIGINT) AS n,
             |  true AS within_guarantee
             |FROM g CROSS JOIN qs
             |ORDER BY event_type, q""".stripMargin)),

    // ------------------------------------------------------------------
    // q211: l-diversity audit — q177's k-anonymity counts group SIZES;
    // this closes the privacy pair by auditing group CONTENTS: every
    // (nation, segment) quasi-identifier class must contain >= l
    // distinct sensitive values (account-balance band) or a member's
    // sensitive attribute is inferable from the class alone (the
    // homogeneity attack k-anonymity does not stop). One grouped
    // distinct-count then a single-row rollup — same two-agg shape as
    // q177, nothing data-sized crosses the second shuffle. The band
    // boundary (floor of an exact-multiple division) lands identically
    // in both engines.
    Q(
      "q211_l_diversity",
      (s, dir) => {
        val l = 3L
        Tables.load(s, dir, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 2000.0).cast("long").as("band"))
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("n"),
            count_distinct(col("band")).as("n_vals"))
          .groupBy()
          .agg(count(lit(1)).cast("long").as("n_groups"),
            sum(when(col("n_vals") < l, 1L).otherwise(0L)).cast("long")
              .as("n_risky_groups"),
            sum(when(col("n_vals") < l, col("n")).otherwise(0L))
              .cast("long").as("rows_at_risk"),
            min("n_vals").cast("long").as("min_diversity"))
          .orderBy("n_groups")
      },
      Some("""WITH g AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS n,
             |    count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT))
             |      AS n_vals
             |  FROM customer GROUP BY 1, 2)
             |SELECT CAST(count(*) AS BIGINT) AS n_groups,
             |  CAST(sum(CASE WHEN n_vals < 3 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_risky_groups,
             |  CAST(sum(CASE WHEN n_vals < 3 THEN n ELSE 0 END) AS BIGINT)
             |    AS rows_at_risk,
             |  CAST(min(n_vals) AS BIGINT) AS min_diversity
             |FROM g
             |ORDER BY n_groups""".stripMargin)),

    // ------------------------------------------------------------------
    // q212: NDCG@10 of the ANN ranking — q189 measures set recall; this
    // measures ORDER quality: the LSH-bucketed top-10 (q49) scored as a
    // ranked run against brute-force graded relevance (grade 11−r for
    // brute rank r, 0 outside the exact top-10) with standard log2
    // position discounts. Getting the right neighbors in the wrong
    // order now costs — the retrieval-eval lens on the same trade q189
    // audits. Numerics: the irrational 1/log2(r+1) discounts are
    // pre-scaled to integer 1e-12 units as LITERALS shared by both
    // engines, so DCG is an exact LONG dot product (order-independent
    // sum) and IDCG a precomputed LONG — one double division at the
    // end, then stableRound6. Scale shape: both runs are probe-keyed;
    // one (probe, neighbor) equi-join, one probe-keyed agg; probes with
    // an empty bucket surface as ndcg 0 (q189's lonely-probe rule).
    Q(
      "q212_ann_ndcg",
      (s, dir) => {
        // discount(r) = 1/log2(r+1), scaled to 1e-12 integer units
        val d = (1 to 10).map(r =>
          Math.round(1.0 / (math.log(r + 1.0) / math.log(2.0)) * 1e12))
        val idcg = (1 to 10).map(r => (11L - r) * d(r - 1)).sum
        val e = Tables.load(s, dir, "embeddings")
        val probes = e.filter(col("vec_id") < 20)
        val brute = SimilaritySearch.bruteTopK(probes, e, 10)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("b_rank"))
        val lsh = SimilaritySearch.lshTopK(probes, e, 10)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("s_rank"))
        val dArr = array(d.map(lit): _*)
        val scored = lsh
          .join(brute, Seq("query_id", "neighbor_id"), "left")
          .withColumn("gain",
            coalesce(lit(11) - col("b_rank"), lit(0)).cast("long"))
          .withColumn("contrib",
            col("gain") * element_at(dArr, col("s_rank")))
          .groupBy("query_id")
          .agg(count(lit(1)).cast("long").as("n_sys"),
            sum("contrib").as("dcg_s"))
        probes.select(col("vec_id").as("query_id"))
          .join(scored, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("n_sys"), lit(0L)).as("n_sys"),
            graft.functions.Rounding.stableRound6(
              coalesce(col("dcg_s"), lit(0L)).cast("double") /
                lit(idcg.toDouble)).as("ndcg"))
          .orderBy("query_id")
      },
      Some {
        val d = (1 to 10).map(r =>
          Math.round(1.0 / (math.log(r + 1.0) / math.log(2.0)) * 1e12))
        val idcg = (1 to 10).map(r => (11L - r) * d(r - 1)).sum
        val ps = SimilaritySearch.planes()
        val bucketExpr = ps.zipWithIndex.map { case (p, i) =>
          val lits = p.map(v => String.format(java.util.Locale.ROOT, "%.6f",
            Double.box(v))).mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(v, $lits::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString("\n             |    + ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |b AS (SELECT vec_id, v,
           |    $bucketExpr AS bkt
           |  FROM e),
           |q AS (SELECT * FROM b WHERE vec_id < 20),
           |bs AS (
           |  SELECT query_id, neighbor_id, rank FROM (
           |    SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        floor(list_cosine_similarity(q.v, e2.v) * 1000000 + 0.5)
           |          / 1000000 DESC, e2.vec_id) AS rank
           |    FROM q JOIN e e2 ON e2.vec_id <> q.vec_id)
           |  WHERE rank <= 10),
           |ls AS (
           |  SELECT query_id, neighbor_id, rank FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        floor(list_cosine_similarity(q.v, c.v) * 1000000 + 0.5)
           |          / 1000000 DESC, c.vec_id) AS rank
           |    FROM q JOIN b c ON c.bkt = q.bkt AND c.vec_id <> q.vec_id)
           |  WHERE rank <= 10),
           |scored AS (
           |  SELECT l.query_id, count(*) AS n_sys,
           |    sum(coalesce(11 - b2.rank, 0) *
           |      list_extract([${d.mkString(",")}], l.rank)) AS dcg_s
           |  FROM ls l LEFT JOIN bs b2
           |    ON b2.query_id = l.query_id AND b2.neighbor_id = l.neighbor_id
           |  GROUP BY 1)
           |SELECT q.vec_id AS query_id,
           |  CAST(coalesce(s.n_sys, 0) AS BIGINT) AS n_sys,
           |  floor((coalesce(s.dcg_s, 0)::DOUBLE / $idcg.0) * 1000000 + 0.5)
           |    / 1000000 AS ndcg
           |FROM q LEFT JOIN scored s ON s.query_id = q.vec_id
           |ORDER BY query_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q214: source-centroid similarity matrix — the corpus redundancy
    // map: pairwise cosine between per-source embedding centroids
    // (vec_id = doc_id pairing, q190's convention) says which sources
    // say the same thing — the signal behind source-level mixture cuts
    // (q114/q146) and cross-source dedup priorities (q159). Numerics:
    // cosine is scale-invariant, so the centroid division is SKIPPED
    // entirely — each source's SUM vector stands in — and every sum is
    // exact: components are rounded to a 1e-4 grid first (floor(v·1e4
    // + 0.5), the same IEEE sequence both engines run), making
    // per-(source, dim) sums, norms (Σ s², ≤ 4e14) and dots exact LONGs
    // — order-independent by construction (the q204 discipline applied
    // to vectors). One double op chain at the end: dot / sqrt(n1·n2)
    // with the product taken in double (the long·long would overflow),
    // then stableRound6. Scale shape: explode to (source, dim) — 64
    // rows per doc, one hash agg to #sources·64 rows — then all
    // pairwise work happens on the source-count-sized frame (S·64 and
    // S²/2 rows), never on data.
    Q(
      "q214_source_similarity",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"))
        val dims = Tables.load(s, dir, "embeddings")
          .join(docs, col("vec_id") === col("doc_id"))
          .select(col("source"), posexplode(col("embedding")))
          .select(col("source"), col("pos").as("d"),
            floor(col("col").cast("double") * 10000.0 + lit(0.5))
              .cast("long").as("q"))
          .groupBy("source", "d")
          .agg(sum("q").as("ssum"))
        val norms = dims.groupBy("source")
          .agg(sum(col("ssum") * col("ssum")).as("nrm"))
        val a = dims.select(col("source").as("s1"), col("d"),
          col("ssum").as("v1"))
        val b = dims.select(col("source").as("s2"), col("d"),
          col("ssum").as("v2"))
        a.join(b, "d").where(col("s1") < col("s2"))
          .groupBy("s1", "s2")
          .agg(sum(col("v1") * col("v2")).as("dot"))
          .join(norms.select(col("source").as("s1"), col("nrm").as("n1")), "s1")
          .join(norms.select(col("source").as("s2"), col("nrm").as("n2")), "s2")
          .select(col("s1"), col("s2"),
            Rounding.stableRound6(col("dot").cast("double") /
              sqrt(col("n1").cast("double") * col("n2").cast("double")))
              .as("cos"))
          .orderBy("s1", "s2")
      },
      Some(s"""WITH dims AS (
             |  SELECT d.source, i.d,
             |    CAST(sum(CAST(floor(e.embedding[i.d + 1]::DOUBLE * 10000
             |      + 0.5) AS BIGINT)) AS BIGINT) AS ssum
             |  FROM embeddings e
             |  JOIN documents d ON e.vec_id = d.doc_id
             |  CROSS JOIN (SELECT unnest(range(64)) AS d) i
             |  GROUP BY 1, 2),
             |norms AS (
             |  SELECT source, CAST(sum(ssum * ssum) AS BIGINT) AS nrm
             |  FROM dims GROUP BY 1),
             |dots AS (
             |  SELECT a.source AS s1, b.source AS s2,
             |    CAST(sum(a.ssum * b.ssum) AS BIGINT) AS dot
             |  FROM dims a JOIN dims b ON a.d = b.d AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT s1, s2,
             |  ${Rounding.duckSql(
               "dot::DOUBLE / sqrt(n1.nrm::DOUBLE * n2.nrm::DOUBLE)")} AS cos
             |FROM dots
             |JOIN norms n1 ON n1.source = dots.s1
             |JOIN norms n2 ON n2.source = dots.s2
             |ORDER BY s1, s2""".stripMargin)),

    // ------------------------------------------------------------------
    // q215: capped token allocation (water-filling) — the mixture
    // planner's core op, q201's sibling: split a token budget B evenly
    // across sources, except a source can't give more than it HAS —
    // x_s = min(a_s, L) with the water level L solving Σ x_s = B.
    // Everything is exact integers: with sources sorted by availability,
    // source r is fully drained iff a_r·(S−r) ≤ B − prefix(r) (the
    // integer form of a_r ≤ L — the flags are prefix-monotone so the
    // drained set is the first k), and the residual splits across the
    // S−k surviving sources by floor + first-`extra` (uniform weights
    // make every largest-remainder tie equal, so the tie rule is the
    // sort order — q201's seat discipline). Σ allocated == min(B, Σa)
    // EXACTLY. Scale shape: one corpus agg to the source frame; every
    // window runs over that S-row frame, never data.
    Q(
      "q215_capped_allocation",
      (s, dir) => {
        val B = 20000L
        val av = Tables.load(s, dir, "documents")
          .groupBy("source")
          .agg(expr("sum(n_chars) div 4").as("a"))
        val bySize = Window.orderBy("a", "source")
        val all = Window.partitionBy()
        av
          .withColumn("r", row_number().over(bySize).cast("long"))
          .withColumn("prefix", sum("a").over(
            bySize.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("cnt", count(lit(1)).over(all))
          .withColumn("drained",
            col("a") * (col("cnt") - col("r")) <= lit(B) - col("prefix"))
          .withColumn("k", coalesce(max(when(col("drained"), col("r")))
            .over(all), lit(0L)))
          .withColumn("pk", coalesce(max(when(col("drained"), col("prefix")))
            .over(all), lit(0L)))
          .withColumn("m", col("cnt") - col("k"))
          .withColumn("resid", lit(B) - col("pk"))
          .withColumn("allocated", when(col("drained"), col("a"))
            .otherwise(expr("resid div greatest(m, 1)") +
              when(col("r") - col("k") <= col("resid") % greatest(col("m"),
                lit(1L)), 1L).otherwise(0L)))
          .select(col("source"), col("a").as("available"),
            col("allocated").cast("long").as("allocated"),
            (col("allocated") === col("a")).as("at_cap"))
          .orderBy("source")
      },
      Some(s"""WITH av AS (
             |  SELECT source, CAST(sum(n_chars) // 4 AS BIGINT) AS a
             |  FROM documents GROUP BY 1),
             |ranked AS (
             |  SELECT source, a,
             |    row_number() OVER (ORDER BY a, source) AS r,
             |    sum(a) OVER (ORDER BY a, source
             |      ROWS UNBOUNDED PRECEDING) AS prefix,
             |    count(*) OVER () AS cnt
             |  FROM av),
             |flagged AS (
             |  SELECT *, a * (cnt - r) <= 20000 - prefix AS drained
             |  FROM ranked),
             |lvl AS (
             |  SELECT *,
             |    coalesce(max(CASE WHEN drained THEN r END) OVER (), 0) AS k,
             |    coalesce(max(CASE WHEN drained THEN prefix END) OVER (), 0)
             |      AS pk
             |  FROM flagged),
             |alloc AS (
             |  SELECT source, a,
             |    CASE WHEN drained THEN a
             |      ELSE (20000 - pk) // greatest(cnt - k, 1)
             |        + CASE WHEN r - k <= (20000 - pk) % greatest(cnt - k, 1)
             |            THEN 1 ELSE 0 END
             |    END AS allocated
             |  FROM lvl)
             |SELECT source, CAST(a AS BIGINT) AS available,
             |  CAST(allocated AS BIGINT) AS allocated,
             |  allocated = a AS at_cap
             |FROM alloc
             |ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // q216: rendezvous resharding audit — highest-random-weight shard
    // assignment (Sampling.rendezvousShard: argmax over per-shard
    // hashes, one codegen'd projection) measured across a layout change
    // 8 → 9 shards: per shard, the population before and after, plus
    // the corpus-wide moved count/fraction (expected ≈ 1/9 — mod-N
    // hashing would move ~8/9). The property that makes HRW the
    // resharding scheme at 100 TB: every moved key moves TO the new
    // shard, nothing reshuffles among survivors (Extension25Spec
    // asserts it directly). Shuffle shape: two shuffle-free assignment
    // projections, one 9-key agg; the oracle replays both argmaxes as
    // cross-join windows (a structurally different formulation of the
    // same rule).
    Q(
      "q216_rendezvous_resharding",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            graft.ext.Sampling.rendezvousShard(col("doc_id"), 8).as("a8"),
            graft.ext.Sampling.rendezvousShard(col("doc_id"), 9).as("a9"))
        val all = Window.partitionBy()
        val perShard = docs
          .groupBy(col("a9").as("shard"))
          .agg(count(lit(1)).cast("long").as("n_after"),
            sum(when(col("a8") =!= col("a9"), 1L).otherwise(0L))
              .cast("long").as("n_moved_in"))
          .join(docs.groupBy(col("a8").as("shard"))
            .agg(count(lit(1)).cast("long").as("n_before")), Seq("shard"),
            "full_outer")
          .select(col("shard"),
            coalesce(col("n_before"), lit(0L)).as("n_before"),
            coalesce(col("n_after"), lit(0L)).as("n_after"),
            coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"))
        perShard
          .withColumn("n_moved", sum("n_moved_in").over(all))
          .withColumn("frac_moved", Rounding.stableRound6(
            col("n_moved").cast("double") /
              sum(col("n_before")).over(all).cast("double")))
          .select("shard", "n_before", "n_after", "n_moved_in",
            "n_moved", "frac_moved")
          .orderBy("shard")
      },
      Some(s"""WITH ${graft.ext.Sampling.rendezvousDuckCtes(8, "a8")},
             |${graft.ext.Sampling.rendezvousDuckCtes(9, "a9")},
             |assign AS (
             |  SELECT a8.doc_id, a8.s AS a8, a9.s AS a9
             |  FROM a8 JOIN a9 USING (doc_id)),
             |after AS (
             |  SELECT a9 AS shard, count(*) AS n_after,
             |    sum(CASE WHEN a8 <> a9 THEN 1 ELSE 0 END) AS n_moved_in
             |  FROM assign GROUP BY 1),
             |before AS (
             |  SELECT a8 AS shard, count(*) AS n_before
             |  FROM assign GROUP BY 1),
             |per AS (
             |  SELECT coalesce(a.shard, b.shard) AS shard,
             |    coalesce(b.n_before, 0) AS n_before,
             |    coalesce(a.n_after, 0) AS n_after,
             |    coalesce(a.n_moved_in, 0) AS n_moved_in
             |  FROM after a FULL JOIN before b ON a.shard = b.shard)
             |SELECT CAST(shard AS BIGINT) AS shard,
             |  CAST(n_before AS BIGINT) AS n_before,
             |  CAST(n_after AS BIGINT) AS n_after,
             |  CAST(n_moved_in AS BIGINT) AS n_moved_in,
             |  CAST(sum(n_moved_in) OVER () AS BIGINT) AS n_moved,
             |  ${Rounding.duckSql(
               "sum(n_moved_in) OVER ()::DOUBLE / sum(n_before) OVER ()::DOUBLE")}
             |    AS frac_moved
             |FROM per
             |ORDER BY shard""".stripMargin)),

    // ------------------------------------------------------------------
    // q217: DYNAMIC-gap session windows — Catalyst's native
    // session_window with a PER-EVENT gap expression (purchases hold a
    // session open 2 h, everything else 30 min — different engagement
    // types have different idle thresholds, the real-world form of
    // q88/q102's fixed gap). Each event extends its session to
    // ts + gap(event); sessions merge while the next event starts at or
    // before the running maximum of those ends (the q88 equality rule:
    // exactly-at-the-boundary MERGES). The oracle replays that exact
    // rule as a running-max window over integer micros: new session iff
    // ts_us > max(prev ends); session_end = max(end) over the session.
    // Same mergeable keyed-state scale shape as q88.
    Q(
      "q217_dynamic_gap_sessions",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        // make_interval, not INTERVAL literals: the dynamic-gap overload
        // requires CalendarIntervalType and Spark 4's literals parse as
        // DayTimeIntervalType
        val gap = when(col("event_type") === "purchase",
          expr("make_interval(0, 0, 0, 0, 2, 0, 0)"))
          .otherwise(expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
        e.groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
          .agg(count(lit(1)).cast("long").as("n_events"),
            round(sum("value"), 2).as("session_value"))
          .select(col("user_id"),
            col("sw.start").cast("timestamp_ntz").as("session_start"),
            col("sw.end").cast("timestamp_ntz").as("session_end"),
            col("n_events"), col("session_value"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, ts, event_id, value,
             |    epoch_us(ts) AS t_us,
             |    epoch_us(ts) + CASE WHEN event_type = 'purchase'
             |      THEN 7200000000 ELSE 1800000000 END AS end_us
             |  FROM events),
             |m AS (
             |  SELECT *, max(end_us) OVER (PARTITION BY user_id
             |    ORDER BY t_us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    AS prev_end
             |  FROM ev),
             |marked AS (
             |  SELECT *, CASE WHEN prev_end IS NULL OR t_us > prev_end
             |    THEN 1 ELSE 0 END AS new_s
             |  FROM m),
             |sess AS (
             |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
             |    ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM marked)
             |SELECT user_id,
             |  min(ts) AS session_start,
             |  make_timestamp(max(end_us)) AS session_end,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  round(sum(value), 2) AS session_value
             |FROM sess
             |GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // ------------------------------------------------------------------
    // q218: Gopher quality rules — the canonical pretraining filter set
    // (Rae et al. 2021 §A1.1) as a per-rule attribution bitmap, not one
    // opaque score (q170's sweep thresholds a scalar; production triage
    // needs to know WHICH rule fired). Four rules over one shuffle-free
    // projection: word count in [20, 1000]; mean word length in [3, 10]
    // — tested as 3·n ≤ Σlen ≤ 10·n, integer cross-multiplication, so
    // the whole query computes NO float anywhere; ≥ 2 distinct common
    // stopwords (the "symbol soup" guard); longest word ≤ 25 chars
    // (lorem-URL/hash blobs). keep = conjunction.
    Q(
      "q218_gopher_rules",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("ws", expr("filter(split(text, ' '), w -> w <> '')"))
          .withColumn("n_words", size(col("ws")).cast("long"))
          .withColumn("sum_len", expr(
            "aggregate(ws, 0L, (a, w) -> a + length(w))"))
          .withColumn("max_len", coalesce(expr(
            "array_max(transform(ws, w -> length(w)))"), lit(0)))
          .withColumn("n_stop", size(array_intersect(
            expr("array_distinct(ws)"),
            array(Seq("the", "and", "of", "to", "a", "in", "is", "that")
              .map(lit): _*))))
          .select(col("doc_id"), col("n_words"),
            col("n_words").between(20, 1000).as("r_word_count"),
            (col("sum_len") >= col("n_words") * 3 &&
              col("sum_len") <= col("n_words") * 10).as("r_mean_word_len"),
            (col("n_stop") >= 2).as("r_stopwords"),
            (col("max_len") <= 25).as("r_max_word_len"))
          .withColumn("keep",
            col("r_word_count") && col("r_mean_word_len") &&
              col("r_stopwords") && col("r_max_word_len"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(ws) AS BIGINT) AS n_words,
             |    coalesce(list_aggregate(list_transform(ws,
             |      w -> length(w)), 'sum'), 0) AS sum_len,
             |    coalesce(list_aggregate(list_transform(ws,
             |      w -> length(w)), 'max'), 0) AS max_len,
             |    len(list_intersect(list_distinct(ws),
             |      ['the', 'and', 'of', 'to', 'a', 'in', 'is', 'that']))
             |      AS n_stop
             |  FROM d)
             |SELECT doc_id, n_words,
             |  n_words BETWEEN 20 AND 1000 AS r_word_count,
             |  sum_len >= n_words * 3 AND sum_len <= n_words * 10
             |    AS r_mean_word_len,
             |  n_stop >= 2 AS r_stopwords,
             |  max_len <= 25 AS r_max_word_len,
             |  (n_words BETWEEN 20 AND 1000)
             |    AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
             |    AND n_stop >= 2 AND max_len <= 25 AS keep
             |FROM m
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q221: context-length sweep — the planning table for choosing a
    // training sequence length: for each candidate L, every document
    // costs ceil(tokens/L)·L padded slots when chunked without packing
    // (q75's packer and q161's waste audit are the per-L deep dives;
    // this is the cross-L comparison that picks L in the first place).
    // All integer: token counts, ceil via (t + L − 1) div L, exact LONG
    // sums; utilization is the one division, stableRound6'd. One corpus
    // scan aggregated per candidate (the candidate frame is 5 rows —
    // explode on the SMALL side only).
    Q(
      "q221_context_length_sweep",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.load(s, dir, "documents")
          .select(expr("n_chars div 4").as("t"))
          .where(col("t") > 0)
        val cands = Seq(128L, 256L, 512L, 1024L, 2048L)
        toks
          .crossJoin(broadcast(cands.toDF("seq_len")))
          .withColumn("chunks", expr("(t + seq_len - 1) div seq_len"))
          .groupBy("seq_len")
          .agg(sum("t").cast("long").as("total_tokens"),
            sum(col("chunks") * col("seq_len")).cast("long")
              .as("padded_tokens"),
            sum("chunks").cast("long").as("n_chunks"))
          .select(col("seq_len"), col("total_tokens"), col("padded_tokens"),
            col("n_chunks"),
            Rounding.stableRound6(col("total_tokens").cast("double") /
              col("padded_tokens").cast("double")).as("utilization"))
          .orderBy("seq_len")
      },
      Some(s"""WITH toks AS (
             |  SELECT n_chars // 4 AS t FROM documents WHERE n_chars // 4 > 0),
             |cands AS (SELECT unnest([128, 256, 512, 1024, 2048]) AS seq_len),
             |agg AS (
             |  SELECT seq_len,
             |    CAST(sum(t) AS BIGINT) AS total_tokens,
             |    CAST(sum(((t + seq_len - 1) // seq_len) * seq_len)
             |      AS BIGINT) AS padded_tokens,
             |    CAST(sum((t + seq_len - 1) // seq_len) AS BIGINT)
             |      AS n_chunks
             |  FROM toks CROSS JOIN cands GROUP BY 1)
             |SELECT CAST(seq_len AS BIGINT) AS seq_len, total_tokens,
             |  padded_tokens, n_chunks,
             |  ${Rounding.duckSql(
               "total_tokens::DOUBLE / padded_tokens::DOUBLE")}
             |    AS utilization
             |FROM agg
             |ORDER BY seq_len""".stripMargin)),

    // ------------------------------------------------------------------
    // q222: net token contribution per source — gross tokens vs the
    // tokens a source ACTUALLY adds once exact duplicates collapse to
    // their canonical copy (q43's normalized-md5 fingerprint, min-id
    // survivorship): the number the mixture planner (q215) should run
    // on, since a syndicated source's gross count double-pays for text
    // some other source already contributes. A canonical doc's tokens
    // credit the canonical copy's OWN source (min doc_id — the q118
    // survivorship rule). One fp agg + join back + source agg; net ≤
    // gross per source, Σnet = deduped corpus tokens.
    Q(
      "q222_net_source_tokens",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr("n_chars div 4").as("t"),
            md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
              .as("fp"))
        val canon = d.groupBy("fp").agg(min("doc_id").as("canonical_id"))
        d.join(canon, "fp")
          .groupBy("source")
          .agg(sum("t").cast("long").as("gross_tokens"),
            sum(when(col("doc_id") === col("canonical_id"), col("t"))
              .otherwise(0L)).cast("long").as("net_tokens"),
            count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("doc_id") =!= col("canonical_id"), 1L)
              .otherwise(0L)).cast("long").as("n_dups"))
          .withColumn("net_ratio", Rounding.stableRound6(
            col("net_tokens").cast("double") /
              col("gross_tokens").cast("double")))
          .orderBy("source")
      },
      Some(s"""WITH d AS (
             |  SELECT doc_id, source, n_chars // 4 AS t,
             |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
             |      AS fp
             |  FROM documents),
             |canon AS (
             |  SELECT fp, min(doc_id) AS canonical_id FROM d GROUP BY fp)
             |SELECT source,
             |  CAST(sum(t) AS BIGINT) AS gross_tokens,
             |  CAST(sum(CASE WHEN doc_id = canonical_id THEN t ELSE 0 END)
             |    AS BIGINT) AS net_tokens,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dups,
             |  ${Rounding.duckSql(
               "sum(CASE WHEN doc_id = canonical_id THEN t ELSE 0 END)" +
                 "::DOUBLE / sum(t)::DOUBLE")} AS net_ratio
             |FROM d JOIN canon USING (fp)
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // q223: shared-opening cluster histogram — documents grouped by
    // their first-10-word OPENING (the boilerplate-lede / truncated-
    // syndication signal q168's prefix containment localizes pairwise;
    // full-text exact dedup finds NOTHING on this corpus, so the
    // opening fingerprint is the relation with real cluster structure):
    // per cluster size s, how many clusters, docs, and redundant copies
    // (docs − clusters). The histogram says whether lede duplication is
    // a few big template blobs (large-s tail) or pairwise noise (s=2
    // mass). Two aggs, opening-keyed then size-keyed; nothing
    // data-sized past the first shuffle.
    Q(
      "q223_opening_cluster_histogram",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(expr(
            "array_join(slice(filter(split(text, ' '), w -> w <> ''), 1, 10), ' ')")
            .as("pre"))
          .groupBy("pre").agg(count(lit(1)).as("sz"))
          .groupBy("sz")
          .agg(count(lit(1)).cast("long").as("n_clusters"),
            (count(lit(1)) * col("sz")).cast("long").as("n_docs"),
            (count(lit(1)) * (col("sz") - 1)).cast("long").as("n_redundant"))
          .select(col("sz").cast("long").as("cluster_size"),
            col("n_clusters"), col("n_docs"), col("n_redundant"))
          .orderBy("cluster_size")
      },
      Some("""WITH p AS (
             |  SELECT array_to_string(
             |    (list_filter(string_split(text, ' '), w -> w <> ''))[1:10],
             |    ' ') AS pre
             |  FROM documents),
             |cl AS (SELECT pre, count(*) AS sz FROM p GROUP BY pre)
             |SELECT CAST(sz AS BIGINT) AS cluster_size,
             |  CAST(count(*) AS BIGINT) AS n_clusters,
             |  CAST(count(*) * sz AS BIGINT) AS n_docs,
             |  CAST(count(*) * (sz - 1) AS BIGINT) AS n_redundant
             |FROM cl
             |GROUP BY sz
             |ORDER BY cluster_size""".stripMargin)),

    // ------------------------------------------------------------------
    // q224: cross-source syndication matrix — for source pairs, the
    // count of shared OPENINGS (first-10-word fingerprints both carry):
    // q214 maps semantic closeness, this maps literal lede copying —
    // the pair evidence behind q159's per-source flags and q222's
    // net-token discounts. opening → distinct source set → pair join:
    // pairwise work is bounded by Σ (sources-per-opening choose 2) —
    // syndication breadth, never corpus²; only pairs with ≥1 shared
    // opening emit.
    Q(
      "q224_syndication_matrix",
      (s, dir) => {
        val fs = Tables.load(s, dir, "documents")
          .select(expr(
            "array_join(slice(filter(split(text, ' '), w -> w <> ''), 1, 10), ' ')")
            .as("pre"), col("source"))
          .distinct()
        fs.as("a").join(fs.as("b"),
            col("a.pre") === col("b.pre") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
          .agg(count(lit(1)).cast("long").as("n_shared_openings"))
          .orderBy("s1", "s2")
      },
      Some("""WITH fs AS (
             |  SELECT DISTINCT array_to_string(
             |    (list_filter(string_split(text, ' '), w -> w <> ''))[1:10],
             |    ' ') AS pre,
             |    source
             |  FROM documents)
             |SELECT a.source AS s1, b.source AS s2,
             |  CAST(count(*) AS BIGINT) AS n_shared_openings
             |FROM fs a JOIN fs b ON a.pre = b.pre AND a.source < b.source
             |GROUP BY 1, 2
             |ORDER BY s1, s2""".stripMargin))
  )
}
