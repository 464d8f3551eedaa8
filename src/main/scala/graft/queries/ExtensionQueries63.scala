package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{DamerauLevenshtein, Rounding}
import graft.io.Tables

/** Round-9 twenty-first wave: successive-halving source selection
  * (q390), quantile treatment effects on the value domain (q391), a
  * theorem-gated blocking-quality audit (q392), and hub-capped two-hop
  * reach (q393).
  */
object ExtensionQueries63 {

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q390: successive halving over sources — the bandit tournament a
    // curation pipeline runs when scoring every source on its full
    // volume is too expensive: round r scores each surviving source
    // on its first 25·2^(r−1) docs (deterministic doc_id order) and
    // keeps the top half by mean quality (q52's scoring formula),
    // doubling the budget only for sources that earn it. Mean quality
    // per (round, source) is an exact LONG grid sum; survivor cuts
    // rank the ≤20-row source frame (domain-sized window). Three
    // rounds: 20 → 10 → 5 → 3 survivors.
    Q(
      "q390_successive_halving",
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            floor(graft.ext.TextAnalysis.qualityScore(col("text")) * 1e6
              + 0.5).cast("long").as("q6"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("source").orderBy("doc_id")))
          .localCheckpoint()
        def roundOf(r: Int, budget: Int, keep: Int,
                    survivors: Option[DataFrame]): (DataFrame, DataFrame) = {
          val in = survivors match {
            case Some(sv) => scored.join(broadcast(sv), "source")
            case None => scored
          }
          val means = in.where(col("rk") <= budget)
            .groupBy("source")
            .agg(count(lit(1)).as("n_docs"), sum("q6").as("sq6"))
            .withColumn("mean_q",
              col("sq6").cast("double") / col("n_docs").cast("double") / 1e6)
            .withColumn("pos", row_number().over(
              Window.orderBy(col("mean_q").desc, col("source"))))
          val out = means.select(lit(r.toLong).as("round"), col("source"),
            col("n_docs"),
            Rounding.stableRound6(col("mean_q")).as("mean_quality"),
            (col("pos") <= keep).as("survived"))
          (out, means.where(col("pos") <= keep).select("source"))
        }
        val (o1, s1) = roundOf(1, 25, 10, None)
        val (o2, s2) = roundOf(2, 50, 5, Some(s1))
        val (o3, _) = roundOf(3, 100, 3, Some(s2))
        o1.unionAll(o2).unionAll(o3).orderBy("round", "source")
      },
      Some {
        def round(r: Int, budget: Int, keep: Int, from: String) =
          s"""m$r AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(q6) AS BIGINT) AS sq6
             |  FROM scored $from
             |  WHERE rk <= $budget
             |  GROUP BY source),
             |r$r AS (
             |  SELECT $r AS round, source, n_docs,
             |    sq6::DOUBLE / n_docs::DOUBLE / 1000000.0 AS mean_q,
             |    row_number() OVER (
             |      ORDER BY sq6::DOUBLE / n_docs::DOUBLE DESC, source)
             |      AS pos
             |  FROM m$r),
             |s$r AS (SELECT source FROM r$r WHERE pos <= $keep)"""
        s"""WITH scored AS (
           |  SELECT source, doc_id,
           |    CAST(floor((${ExtensionQueries.QualityScoreSql}) * 1000000
           |      + 0.5) AS BIGINT) AS q6,
           |    row_number() OVER (PARTITION BY source ORDER BY doc_id)
           |      AS rk
           |  FROM documents),
           |${round(1, 25, 10, "")},
           |${round(2, 50, 5, "JOIN s1 USING (source)")},
           |${round(3, 100, 3, "JOIN s2 USING (source)")}
           |SELECT CAST(round AS BIGINT) AS round, source, n_docs,
           |  ${Rounding.duckSql("mean_q")} AS mean_quality,
           |  pos <= CASE round WHEN 1 THEN 10 WHEN 2 THEN 5 ELSE 3 END
           |    AS survived
           |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
           |      UNION ALL SELECT * FROM r3)
           |ORDER BY round, source""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q391: quantile treatment effects — the distributional readout a
    // mean-only A/B test misses: for each decile q10..q90, the EXACT
    // per-arm order statistic of purchase value (the q248/q362
    // value-domain walk, one cumulative window over each arm's ~50k
    // distinct cent values) and their difference in integer cents —
    // the gate is fully exact, no float quantile estimation anywhere.
    // An effect concentrated in upper deciles with a flat median is
    // the classic heavy-user-only treatment response.
    Q(
      "q391_quantile_treatment_effect",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .where(col("event_type") === "purchase")
          .select(
            when((graft.functions.PolyHash(
              concat(lit("exp7#"), col("user_id").cast("string")))
              * graft.functions.PolyHash(
                concat(lit("exp7#"), col("user_id").cast("string")))
              % 1000000007L) % 10000L < 5000L, lit("treat"))
              .otherwise(lit("control")).as("arm"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val dom = e.groupBy("arm", "cents").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum("cnt").over(
            Window.partitionBy("arm").orderBy("cents")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val n = e.groupBy("arm").agg(count(lit(1)).as("n"))
        val qs = (1 to 9).map(q =>
          dom.join(n, "arm")
            .where(col("cum") >= expr(s"($q * n + 9) div 10"))
            .groupBy("arm").agg(min("cents").as("qc"))
            .select(col("arm"), lit(q.toLong * 10L).as("quantile"),
              col("qc")))
          .reduce(_ unionAll _)
        qs.groupBy("quantile")
          .agg(max(when(col("arm") === "treat", col("qc"))).as("treat_cents"),
            max(when(col("arm") === "control", col("qc")))
              .as("control_cents"))
          .withColumn("qte_cents",
            col("treat_cents") - col("control_cents"))
          .orderBy("quantile")
      },
      Some {
        val hash = graft.functions.PolyHash.duckSql(
          "'exp7#' || user_id::VARCHAR")
        val qrows = (1 to 9).map(q =>
          s"""SELECT arm, ${q * 10} AS quantile, min(cents) AS qc
             |  FROM cum JOIN n USING (arm)
             |  WHERE cum >= ($q * n + 9) // 10
             |  GROUP BY arm""").mkString(
          "\n  UNION ALL ")
        s"""WITH e AS (
           |  SELECT CASE WHEN (($hash * $hash % 1000000007) % 10000)
           |      < 5000 THEN 'treat' ELSE 'control' END AS arm,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           |  FROM events
           |  WHERE event_type = 'purchase'),
           |n AS (SELECT arm, CAST(count(*) AS BIGINT) AS n
           |      FROM e GROUP BY 1),
           |cum AS (
           |  SELECT arm, cents, sum(cnt) OVER (PARTITION BY arm
           |    ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM (SELECT arm, cents, count(*) AS cnt
           |        FROM e GROUP BY 1, 2)),
           |qs AS (
           |  $qrows)
           |SELECT CAST(quantile AS BIGINT) AS quantile,
           |  CAST(max(CASE WHEN arm = 'treat' THEN qc END) AS BIGINT)
           |    AS treat_cents,
           |  CAST(max(CASE WHEN arm = 'control' THEN qc END) AS BIGINT)
           |    AS control_cents,
           |  CAST(max(CASE WHEN arm = 'treat' THEN qc END)
           |    - max(CASE WHEN arm = 'control' THEN qc END) AS BIGINT)
           |    AS qte_cents
           |FROM qs
           |GROUP BY quantile
           |ORDER BY quantile""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q392: blocking-quality audit — q365's length-band prefilter
    // (|len(a)−len(b)| ≤ 3 inside a brand block) audited on a
    // DETERMINISTIC HASH-DRAWN SAMPLE (the r9-verdict fix, the
    // q55/q353 sampling discipline). Recall is EXACTLY 1.0 by theorem
    // (DL ≥ |length difference|, so no DL≤3 pair can be length-band
    // pruned) — the sample's recall_sample column re-derives that gate
    // value, and a non-1.0 is a computation bug — while sampled
    // precision and pruning ratio measure what the prefilter buys. The
    // sample is the 64 lowest-PolyHash rows per brand (partkey
    // tiebreak; the oracle replays the identical draw), so the audited
    // pair space is ≤ 25·64·63/2 ≈ 50k REGARDLESS of corpus size —
    // the r8/r9 full-pair localCheckpoint (~8M rows at sf0.1, ~80G at
    // 100×) is gone; n_all_pairs stays EXACT via per-brand counts
    // (Σ c·(c−1)/2), a linear aggregation.
    Q(
      "q392_blocking_quality",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_name"))
        val allPairs = p.groupBy("p_brand").agg(count(lit(1)).as("c"))
          .agg(sum(expr("c * (c - 1) DIV 2")).cast("long")
            .as("n_all_pairs"))
        val w = Window.partitionBy("p_brand")
          .orderBy(col("h"), col("p_partkey"))
        val sample = p
          .withColumn("h", graft.functions.PolyHash(
            concat(lit("blk#"), col("p_partkey").cast("string"))))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 64)
          .select(col("p_partkey").as("id"), col("p_brand"),
            col("p_name").as("nm"), length(col("p_name")).as("len"))
        val pairs = sample.as("a").join(sample.as("b"),
            col("a.p_brand") === col("b.p_brand") &&
              col("a.id") < col("b.id"))
          .select(col("a.nm").as("na"), col("b.nm").as("nb"),
            col("a.len").as("la"), col("b.len").as("lb"))
          .withColumn("is_cand", abs(col("la") - col("lb")) <= 3)
          .withColumn("dl", DamerauLevenshtein(col("na"), col("nb")))
          .withColumn("is_true", col("dl") <= 3 && col("dl") > 0)
        val agg = pairs.agg(
          count(lit(1)).as("n_sample_pairs"),
          sum(when(col("is_true"), 1L).otherwise(0L))
            .as("n_sample_truth"),
          sum(when(col("is_cand"), 1L).otherwise(0L))
            .as("n_sample_candidates"),
          sum(when(col("is_cand") && col("is_true"), 1L).otherwise(0L))
            .as("n_sample_caught"))
        agg.crossJoin(allPairs)
          .select(col("n_all_pairs"), col("n_sample_pairs"),
            col("n_sample_truth"), col("n_sample_candidates"),
            col("n_sample_caught"),
            when(col("n_sample_truth") === 0, lit(1.0)).otherwise(
              Rounding.stableRound6(
                col("n_sample_caught").cast("double") /
                  col("n_sample_truth").cast("double")))
              .as("recall_sample"),
            when(col("n_sample_candidates") === 0, lit(1.0)).otherwise(
              Rounding.stableRound6(
                col("n_sample_caught").cast("double") /
                  col("n_sample_candidates").cast("double")))
              .as("precision_sample"),
            when(col("n_sample_pairs") === 0, lit(0.0)).otherwise(
              Rounding.stableRound6(lit(1.0) -
                col("n_sample_candidates").cast("double") /
                  col("n_sample_pairs").cast("double")))
              .as("pruning_ratio_sample"))
      },
      Some(s"""WITH ap AS (
             |  SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT)
             |    AS n_all_pairs
             |  FROM (SELECT count(*) AS c FROM part GROUP BY p_brand)),
             |samp AS (
             |  SELECT p_partkey AS id, p_brand, p_name AS nm,
             |    length(p_name) AS len
             |  FROM (
             |    SELECT p_partkey, p_brand, p_name,
             |      row_number() OVER (PARTITION BY p_brand
             |        ORDER BY ${graft.functions.PolyHash.duckSql(
                      "'blk#' || p_partkey::VARCHAR")}, p_partkey) AS rn
             |    FROM part)
             |  WHERE rn <= 64),
             |pr AS (
             |  SELECT a.nm AS na, b.nm AS nb,
             |    (abs(a.len - b.len) <= 3) AS is_cand,
             |    (damerau_levenshtein(a.nm, b.nm) BETWEEN 1 AND 3)
             |      AS is_true
             |  FROM samp a JOIN samp b
             |    ON a.p_brand = b.p_brand AND a.id < b.id),
             |ag AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_sample_pairs,
             |    CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_sample_truth,
             |    CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_sample_candidates,
             |    CAST(sum(CASE WHEN is_cand AND is_true THEN 1 ELSE 0
             |      END) AS BIGINT) AS n_sample_caught
             |  FROM pr)
             |SELECT n_all_pairs, n_sample_pairs, n_sample_truth,
             |  n_sample_candidates, n_sample_caught,
             |  CASE WHEN n_sample_truth = 0 THEN 1.0
             |    ELSE ${Rounding.duckSql(
                    "n_sample_caught::DOUBLE / n_sample_truth::DOUBLE")}
             |  END AS recall_sample,
             |  CASE WHEN n_sample_candidates = 0 THEN 1.0
             |    ELSE ${Rounding.duckSql(
                    "n_sample_caught::DOUBLE" +
                      " / n_sample_candidates::DOUBLE")}
             |  END AS precision_sample,
             |  CASE WHEN n_sample_pairs = 0 THEN 0.0
             |    ELSE ${Rounding.duckSql(
                    "1.0 - n_sample_candidates::DOUBLE" +
                      " / n_sample_pairs::DOUBLE")}
             |  END AS pruning_ratio_sample
             |FROM ag CROSS JOIN ap""".stripMargin)),

    // ------------------------------------------------------------------
    // q393: two-hop reach — for each part, how many parts are within
    // two co-purchase hops (the recommendation-candidate pool size /
    // influence horizon). The wedge join goes through hub-capped
    // centers (the q288 rule: one mega-hub's deg² otherwise dominates
    // the whole job at scale; cap 1000 is a fixture no-op but the
    // filter sits BEFORE the quadratic join), the 1-hop ∪ 2-hop union
    // dedups per (src, dst), and the output takes the top-30 pools by
    // size (TakeOrderedAndProject, full tiebreak).
    Q(
      "q393_two_hop_reach",
      (s, dir) => {
        val hubCap = 1000L
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val co = li.join(li.toDF("l_orderkey", "p2"), "l_orderkey")
          .where(col("l_partkey") < col("p2"))
          .groupBy(col("l_partkey").as("a"), col("p2").as("b"))
          .agg(count(lit(1)).as("sup"))
          .where(col("sup") >= 2)
          .select("a", "b")
        val und = co.select(col("a").as("src"), col("b").as("dst"))
          .union(co.select(col("b").as("src"), col("a").as("dst")))
          .localCheckpoint()
        val deg = und.groupBy("src").agg(count(lit(1)).as("d"))
        val mids = und.join(deg.where(col("d") <= hubCap), "src")
          .select(col("src"), col("dst"))
        val two = und.select(col("src"), col("dst").as("mid"))
          .join(mids.toDF("mid", "dst2"), "mid")
          .where(col("dst2") =!= col("src"))
          .select(col("src"), col("dst2").as("dst"))
        val reach = und.select("src", "dst").unionAll(two)
          .distinct()
          .groupBy("src").agg(count(lit(1)).as("reach2"))
        reach.join(deg, "src")
          .select(col("src").as("part"), col("d").as("degree"),
            col("reach2"))
          .orderBy(col("reach2").desc, col("part"))
          .limit(30)
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |co AS (
             |  SELECT a.l_partkey AS a, b.l_partkey AS b
             |  FROM li a JOIN li b ON b.l_orderkey = a.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2
             |  HAVING count(*) >= 2),
             |und AS (
             |  SELECT a AS src, b AS dst FROM co
             |  UNION ALL SELECT b, a FROM co),
             |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
             |        FROM und GROUP BY src),
             |mids AS (
             |  SELECT und.src, und.dst FROM und
             |  JOIN deg ON deg.src = und.src AND deg.d <= 1000),
             |two AS (
             |  SELECT u.src, m.dst AS dst
             |  FROM und u JOIN mids m ON m.src = u.dst
             |  WHERE m.dst <> u.src),
             |reach AS (
             |  SELECT src, CAST(count(*) AS BIGINT) AS reach2 FROM (
             |    SELECT DISTINCT src, dst FROM (
             |      SELECT src, dst FROM und
             |      UNION ALL SELECT src, dst FROM two))
             |  GROUP BY src)
             |SELECT reach.src AS part, deg.d AS degree, reach2
             |FROM reach JOIN deg ON deg.src = reach.src
             |ORDER BY reach2 DESC, part
             |LIMIT 30""".stripMargin))
  )
}
