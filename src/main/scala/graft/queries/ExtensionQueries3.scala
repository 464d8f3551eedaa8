package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Clustering, Packing, Sampling, SimilaritySearch, TextAnalysis}
import graft.functions.{PolyHash, Rounding, ZOrder}
import graft.io.Tables

/** Round-5 second wave: semantic clustering (q95), GPT-style sequence
  * spans (q96), domain capping (q97), Markov transition matrices (q98),
  * dataset profiling (q99), grouped statistical moments (q100), Z-order
  * layout keys (q101), product-quantization ANN (q104), per-key EWMA
  * (q105), edit-distance fuzzy matching (q106), explicit GROUPING SETS
  * (q107), rolling z-score anomaly detection (q108), and add-one bigram
  * LM scoring (q110). Same contract as every other module: each Spark
  * pipeline is paired with DuckDB oracle SQL that replays it exactly.
  */
object ExtensionQueries3 {

  private val P = PolyHash.Mod

  /** DuckDB replay of [[Clustering.normQuant]]: stable-rounded input →
    * unit-normalize → float-quantize, all the same IEEE ops. `l` must be
    * a short column reference (it is duplicated textually).
    */
  private def normQuantSql(l: String): String =
    s"CASE WHEN list_dot_product($l, $l) = 0 THEN $l " +
      s"ELSE list_transform($l, y -> CAST(CAST(y / sqrt(list_dot_product($l, $l)) AS REAL) AS DOUBLE)) END"

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q95: spherical k-means over the embedding corpus — the semantic-
    // clustering step (topic balancing, per-cluster curation) between
    // dedup and mixture design. Deterministic end-to-end: hash-picked
    // init (q64's codebook rule), CentroidRanks assignment (dot DESC,
    // cid ASC — replayed by a DuckDB window), per-cell mean update as 64
    // avg aggregates in one hash agg, centroids stable-rounded then
    // FLOAT-QUANTIZED each round so both engines assign against
    // identical bits (ext.Clustering scaladoc). The oracle unrolls all 3
    // iterations as chained CTEs.
    Q(
      "q95_kmeans",
      (s, dir) =>
        Clustering.kmeans(Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", k = 8, iters = 3)
          .orderBy("vec_id"),
      Some {
        val k = 8
        val iters = 3
        val meanList = (1 to Tables.EmbeddingDim)
          .map(j => s"floor(avg(v[$j]) * 1000000 + 0.5) / 1000000")
          .mkString("[", ", ", "]")
        def assignSql(name: String, cents: String) =
          s"""$name AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT e.vec_id, c.cid,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rnk
             |    FROM e CROSS JOIN $cents c)
             |  WHERE rnk = 1)"""
        val steps = (1 to iters).map { i =>
          Seq(
            assignSql(s"a$i", s"c${i - 1}"),
            s"""m$i AS (
               |  SELECT cid, $meanList AS mv
               |  FROM a$i JOIN e USING (vec_id) GROUP BY cid)""",
            s"""c$i AS (
               |  SELECT c.cid,
               |    CASE WHEN m.mv IS NULL THEN c.cv
               |         ELSE ${normQuantSql("m.mv")} END AS cv
               |  FROM c${i - 1} c LEFT JOIN m$i m USING (cid))""").mkString(",\n")
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |picked AS (
           |  SELECT vec_id, v FROM (
           |    SELECT vec_id, v,
           |      ${PolyHash.duckSql("'ivf#' || vec_id::VARCHAR")} AS h
           |    FROM e)
           |  ORDER BY h, vec_id LIMIT $k),
           |c0 AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           |    ${normQuantSql("v")} AS cv
           |  FROM picked),
           |$steps,
           |${assignSql("afin", s"c$iters")}
           |SELECT a.vec_id, a.cid::BIGINT AS cluster,
           |  floor(list_cosine_similarity(e.v, c.cv) * 1000000 + 0.5) / 1000000 AS cos
           |FROM afin a JOIN e USING (vec_id) JOIN c$iters c USING (cid)
           |ORDER BY vec_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q96: GPT-style sequence spans — concatenate the corpus token
    // stream in doc_id order, cut every 256 tokens, and emit the exact
    // (sequence × document) token sub-ranges a sequence builder
    // materializes. The complement of q75 (whole-doc bins): here docs DO
    // split at boundaries. Same two-pass distributed prefix sum, then a
    // shuffle-free sequence()+explode; `div` (never `/`) keeps offsets
    // exact past 2^53.
    Q(
      "q96_sequence_spans",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), size(TextAnalysis.wsTokens(col("text"))).as("tokens"))
        Packing.packSequences(docs, "doc_id", "tokens", seqLen = 256)
          .orderBy("seq_id", "doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    len(regexp_extract_all(text, '\S+'))::BIGINT AS tokens
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, tokens,
             |    COALESCE(sum(tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
             |  FROM t),
             |s AS (
             |  SELECT doc_id, tokens, start,
             |    unnest(range(start // 256, (start + tokens - 1) // 256 + 1)) AS seq_id
             |  FROM c WHERE tokens > 0)
             |SELECT seq_id, doc_id,
             |  greatest(seq_id * 256 - start, 0)::BIGINT AS doc_from,
             |  least(tokens, (seq_id + 1) * 256 - start)::BIGINT AS doc_to,
             |  greatest(start - seq_id * 256, 0)::BIGINT AS seq_offset
             |FROM s
             |ORDER BY seq_id, doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q97: domain capping — at most 40 documents per source, survivors a
    // pure function of (salt, doc_id) (Sampling.capPerGroup): the
    // mixture-control op that stops one crawl domain from dominating the
    // training mix, reproducible across runs and engines.
    Q(
      "q97_domain_cap",
      (s, dir) =>
        Sampling.capPerGroup(Tables.load(s, dir, "documents"),
            "doc_id", "source", "cap1", 40)
          .select("doc_id", "source", "cap_rank")
          .orderBy("doc_id"),
      Some(s"""WITH b AS (
             |  SELECT doc_id, source, (h * h % $P) % 10000 AS bucket
             |  FROM (SELECT doc_id, source,
             |          ${PolyHash.duckSql("'cap1#' || doc_id::VARCHAR")} AS h
             |        FROM documents)),
             |r AS (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY bucket, doc_id)::BIGINT AS cap_rank
             |  FROM b)
             |SELECT doc_id, source, cap_rank FROM r
             |WHERE cap_rank <= 40
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q98: Markov transition matrix over per-user event sequences — the
    // behavioral-analytics twin of q72's funnel: P(next event type |
    // current), from a lead() window + one grouped count. The
    // probability is a ratio of exact integers, identical IEEE division
    // in both engines (round6 is belt-and-braces).
    Q(
      "q98_markov_transitions",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wf = Window.partitionBy("from_type")
        e.withColumn("to_type", lead("event_type", 1).over(w))
          .where(col("to_type").isNotNull)
          .withColumnRenamed("event_type", "from_type")
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).cast("long").as("n"))
          .withColumn("p", Rounding.stableRound6(
            col("n").cast("double") / sum("n").over(wf).cast("double")))
          .orderBy("from_type", "to_type")
      },
      Some(s"""WITH nxt AS (
             |  SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |t AS (
             |  SELECT from_type, to_type, count(*)::BIGINT AS n
             |  FROM nxt WHERE to_type IS NOT NULL
             |  GROUP BY from_type, to_type)
             |SELECT from_type, to_type, n,
             |  ${Rounding.duckSql(
                  "n::DOUBLE / sum(n::DOUBLE) OVER (PARTITION BY from_type)")} AS p
             |FROM t
             |ORDER BY from_type, to_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q99: dataset profiling / quality audit (the Deequ-style
    // completeness+cardinality pass every ingestion gate runs): per
    // column, row count, null count, exact distinct count — ONE corpus
    // scan (multi-countDistinct compiles to a single Expand aggregation;
    // the oracle is free to re-scan per column). A null-planted
    // priority column makes the completeness metric actually move.
    Q(
      "q99_profile",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders").withColumn("priority_nn",
          when(col("o_orderpriority") === "1-URGENT", lit(null))
            .otherwise(col("o_orderpriority")))
        val cols = Seq("o_orderstatus", "o_custkey", "o_totalprice", "priority_nn")
        val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c =>
          Seq(count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
        o.agg(aggs.head, aggs.tail: _*)
          .selectExpr("n_rows",
            s"stack(${cols.size}, ${cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")}) " +
              "AS (column_name, n_nonnull, n_distinct)")
          .select(col("column_name"), col("n_rows"),
            (col("n_rows") - col("n_nonnull")).as("n_null"), col("n_distinct"))
          .orderBy("column_name")
      },
      Some {
        val cols = Seq("o_orderstatus", "o_custkey", "o_totalprice", "priority_nn")
        val selects = cols.map(c =>
          s"""SELECT '$c' AS column_name, count(*)::BIGINT AS n_rows,
             |  (count(*) - count($c))::BIGINT AS n_null,
             |  count(DISTINCT $c)::BIGINT AS n_distinct FROM o""")
          .mkString("\nUNION ALL\n")
        s"""WITH o AS (
           |  SELECT *, nullif(o_orderpriority, '1-URGENT') AS priority_nn
           |  FROM orders)
           |$selects
           |ORDER BY column_name""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q100: grouped statistical moments — stddev, Pearson correlation,
    // and skewness per return flag. stddev/corr are the same estimator
    // in both engines (round6 absorbs summation-order drift); DuckDB's
    // skewness applies a sample-bias correction Spark's does not, so the
    // oracle replays Spark's POPULATION formula sqrt(n)·Σ(x−μ)³/(Σ(x−μ)²)^1.5
    // two-pass instead of calling DuckDB's aggregate.
    Q(
      "q100_group_moments",
      (s, dir) =>
        Tables.load(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("long").as("n"),
            Rounding.stableRound6(stddev_samp(col("l_quantity"))).as("sd_qty"),
            Rounding.stableRound6(corr(col("l_quantity"), col("l_extendedprice")))
              .as("corr_qty_price"),
            Rounding.stableRound6(skewness(col("l_quantity"))).as("skew_qty"))
          .orderBy("l_returnflag"),
      Some(s"""WITH mu AS (
             |  SELECT l_returnflag, avg(l_quantity) AS m, count(*)::DOUBLE AS nd
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l.l_returnflag, count(*)::BIGINT AS n,
             |  ${Rounding.duckSql("stddev_samp(l.l_quantity)")} AS sd_qty,
             |  ${Rounding.duckSql("corr(l.l_quantity, l.l_extendedprice)")} AS corr_qty_price,
             |  ${Rounding.duckSql(
                  "sqrt(any_value(mu.nd)) * sum(pow(l.l_quantity - mu.m, 3))" +
                    " / pow(sum(pow(l.l_quantity - mu.m, 2)), 1.5)")} AS skew_qty
             |FROM lineitem l JOIN mu ON mu.l_returnflag = l.l_returnflag
             |GROUP BY l.l_returnflag
             |ORDER BY l.l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // q101: Z-order layout key — the Morton interleave of (l_partkey,
    // l_suppkey) that gives BOTH columns min/max-pruning locality when
    // the table is range-partitioned and sorted by it (a plain sort
    // favors only its leading column; tools.ZOrderProbe measured point
    // filters touching 32%/23% of partitions vs 100% for the non-leading
    // column). Each dimension is min-max-stretched into the full 16-bit
    // domain first — without that, a narrow key contributes only
    // low-order bits and the interleave degenerates to a plain sort
    // (ZOrder.stretch16 scaladoc). Pure codegen'd bitwise/div built-ins,
    // replayed in exact BIGINT arithmetic.
    Q(
      "q101_zorder_key",
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
        // two scalar maxes at plan-build (same pattern as deriveDim)
        val r = l.agg(max("l_partkey"), max("l_suppkey")).head()
        val (mx, my) = (r.getLong(0), r.getLong(1))
        l.select(col("l_orderkey"), col("l_linenumber"),
            ZOrder.interleave16(
              ZOrder.stretch16(col("l_partkey"), mx),
              ZOrder.stretch16(col("l_suppkey"), my)).as("zval"))
          .orderBy("zval", "l_orderkey", "l_linenumber")
      },
      Some(s"""WITH mx AS (
             |  SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem),
             |s AS (
             |  SELECT l_orderkey, l_linenumber,
             |    (l_partkey * 65536) // ((SELECT mp FROM mx) + 1) AS sx,
             |    (l_suppkey * 65536) // ((SELECT ms FROM mx) + 1) AS sy
             |  FROM lineitem)
             |SELECT l_orderkey, l_linenumber,
             |  ${ZOrder.duckSql("sx", "sy")} AS zval
             |FROM s
             |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin)),

    // ------------------------------------------------------------------
    // q103: Unicode NFC normalization + casefold — the hygiene pass
    // web-crawl text needs before fingerprinting: visually identical
    // strings with different codepoint sequences (é composed vs
    // e+COMBINING ACUTE) must hash identically. The fixture corpus is
    // ASCII, so representative non-ASCII suffixes are planted in-query
    // (q77's PII pattern); Spark runs the codegen'd NfcNormalize
    // expression (java.text.Normalizer + ASCII fast path), DuckDB
    // replays with its utf8proc-backed nfc_normalize — two independent
    // Unicode implementations that must agree byte-for-byte. Lengths are
    // code-point counts in both engines; lower() AFTER normalize on both
    // sides.
    Q(
      "q103_unicode_normalize",
      (s, dir) => {
        val suffixes = array(
          lit("cafe\u0301"), // decomposed: e + COMBINING ACUTE
          lit("caf\u00e9"), // precomposed
          lit("U\u0308BER STRA\u00dfE"), // decomposed Ü, uppercase, ß
          lit("ASCII only"))
        val planted = concat(substring(col("text"), 1, 24), lit(" "),
          element_at(suffixes, (col("doc_id") % 4 + 1).cast("int")))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            length(planted).cast("long").as("len_raw"),
            lower(graft.functions.NfcNormalize(planted)).as("norm_text"),
            length(graft.functions.NfcNormalize(planted)).cast("long").as("len_nfc"))
          .orderBy("doc_id")
      },
      // all non-ASCII codepoints written as chr() so the oracle SQL
      // survives any transport encoding; 769=U+0301, 233=é, 776=U+0308,
      // 223=ß
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    substr(text, 1, 24) || ' ' ||
             |    (['cafe' || chr(769), 'caf' || chr(233),
             |      'U' || chr(776) || 'BER STRA' || chr(223) || 'E',
             |      'ASCII only'])[(doc_id % 4 + 1)] AS planted
             |  FROM documents)
             |SELECT doc_id,
             |  length(planted)::BIGINT AS len_raw,
             |  lower(nfc_normalize(planted)) AS norm_text,
             |  length(nfc_normalize(planted))::BIGINT AS len_nfc
             |FROM p
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q104: product-quantization ANN — the vector-COMPRESSION retrieval
    // path (Jegou et al. 2011): corpus encoded once to m=8 codes/vector
    // (32x smaller than raw floats — at 100 TB the codes are the index
    // you persist), queries precompute a dot-product LUT on the tiny
    // broadcast side, and each candidate costs m array lookups (ADC)
    // instead of a 64-wide float dot. All three steps are codegen'd
    // expressions (PqEncode/PqLut/PqAdcLookup); the codebook is the
    // hash-picked constant-size slice rule (q64's), so the oracle
    // replays pick → slice → argmin-encode → ADC bit-for-bit, with
    // scores rounded BEFORE ranking on both engines.
    Q(
      "q104_pq_ann",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        SimilaritySearch.pqTopK(e.filter(col("vec_id") < 5), e, 5,
            m = 8, ksub = 16)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |picked AS (
             |  SELECT vec_id, v FROM (
             |    SELECT vec_id, v,
             |      ${PolyHash.duckSql("'pq#' || vec_id::VARCHAR")} AS h
             |    FROM e)
             |  ORDER BY h, vec_id LIMIT 16),
             |cwi AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
             |  FROM picked),
             |js AS (SELECT unnest(range(8)) AS j),
             |cw AS (
             |  SELECT j.j, c.i, c.v[j.j*8+1 : j.j*8+8] AS cv
             |  FROM js j CROSS JOIN cwi c),
             |cc AS (SELECT j, i, list_dot_product(cv, cv) AS cc, cv FROM cw),
             |subs AS (
             |  SELECT e.vec_id, j.j, e.v[j.j*8+1 : j.j*8+8] AS sub
             |  FROM e CROSS JOIN js j),
             |enc AS (
             |  SELECT vec_id, j, cv FROM (
             |    SELECT s.vec_id, s.j, c.i, c.cv,
             |      row_number() OVER (PARTITION BY s.vec_id, s.j
             |        ORDER BY c.cc - 2*list_dot_product(s.sub, c.cv) ASC, c.i) AS rnk
             |    FROM subs s JOIN cc c ON s.j = c.j)
             |  WHERE rnk = 1),
             |qsub AS (
             |  SELECT vec_id AS query_id, j, sub FROM subs WHERE vec_id < 5),
             |scored AS (
             |  SELECT qs.query_id, en.vec_id AS neighbor_id,
             |    ${Rounding.duckSql("sum(list_dot_product(qs.sub, en.cv))")} AS score
             |  FROM qsub qs JOIN enc en ON qs.j = en.j
             |  WHERE qs.query_id <> en.vec_id
             |  GROUP BY qs.query_id, en.vec_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, score,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, rank, neighbor_id, score
             |FROM ranked WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q105: per-key EWMA (α = 1/2) — the time-series smoothing op
    // (monitoring baselines, engagement decay scores). EWMA is an
    // inherently sequential fold, so the scalable shape is fold-WITHIN-
    // key, parallel-ACROSS-keys. Round 6 used collect_list + the
    // aggregate() HOF, which buffers a key's whole history in one
    // aggregation buffer before folding — per-key state bounded only by
    // per-key activity, i.e. unbounded for a hot key. Now it streams
    // through ext.Folds.streamingKeyFold (hash-partition on user,
    // spill-backed secondary sort by (ts, event_id), O(1) fold state per
    // key) — the q154 machinery; FoldsSpec pins the hot-key bound.
    // α = 1/2 keeps every step exact-halving double arithmetic, the
    // identical op sequence DuckDB's list_reduce executes; the Scala
    // fold runs the same doubles, round6 as belt-and-braces (the
    // floor(x·1e6+0.5)/1e6 sequence, Rounding.stableRound6's contract).
    Q(
      "q105_ewma",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("value"), col("ts"), col("event_id"))
        val out = StructType(Seq(
          StructField("user_id", LongType), StructField("n_events", LongType),
          StructField("ewma_value", DoubleType)))
        graft.ext.Folds.streamingKeyFold[(Long, Double)](
          e, Seq("user_id"), Seq(col("ts"), col("event_id")), out,
          init = () => (0L, 0.0),
          step = { case ((n, acc), r) =>
            val v = r.getDouble(1)
            val acc2 = if (n == 0L) v else acc * 0.5 + v * 0.5
            ((n + 1, acc2), Nil)
          },
          flush = { case ((n, acc), key) =>
            Seq(Row(key.head, n,
              math.floor(acc * 1000000.0 + 0.5) / 1000000.0))
          }
        ).orderBy("user_id")
      },
      Some(s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |  ${Rounding.duckSql(
                  "list_reduce(list(value ORDER BY ts, event_id), " +
                    "(acc, x) -> acc * 0.5 + x * 0.5)")} AS ewma_value
             |FROM events
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q106: typo-tolerant fuzzy match (edit-distance join) — entity
    // resolution against a name catalog. The scale shape is band-then-
    // verify (the same discipline as every dedup op here): candidates
    // meet through cheap equi-band predicates (same first char, length
    // within ±2) BEFORE the quadratic levenshtein verify ever runs, and
    // the catalog side is distinct names (vocabulary-sized, broadcast) —
    // never a row-level cross join. Probes are hash-picked part rows
    // with a deterministic planted typo (3rd char deleted), so the
    // oracle replays the mutation and the match set exactly.
    Q(
      "q106_fuzzy_join",
      (s, dir) => {
        val parts = Tables.load(s, dir, "part")
        val catalog = parts.select(col("p_name")).distinct()
        val probes = parts
          .withColumn("h", PolyHash(
            concat(lit("fz#"), col("p_partkey").cast("string"))))
          .orderBy("h", "p_partkey").limit(30)
          .select(col("p_partkey").as("probe_id"),
            concat(substring(col("p_name"), 1, 2),
              substring(col("p_name"), 4, 100)).as("typo"))
        val w = Window.partitionBy("probe_id").orderBy("dist", "p_name")
        probes.join(broadcast(catalog),
            substring(col("typo"), 1, 1) === substring(col("p_name"), 1, 1) &&
              abs(length(col("typo")) - length(col("p_name"))) <= 2)
          .withColumn("dist", levenshtein(col("typo"), col("p_name")).cast("long"))
          .where(col("dist") <= 2)
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 2)
          .select(col("probe_id"), col("typo"),
            col("p_name").as("matched"), col("dist"), col("rnk"))
          .orderBy("probe_id", "rnk")
      },
      Some(s"""WITH cat AS (SELECT DISTINCT p_name FROM part),
             |probes AS (
             |  SELECT p_partkey AS probe_id,
             |    substr(p_name, 1, 2) || substr(p_name, 4, 100) AS typo
             |  FROM (
             |    SELECT p_partkey, p_name,
             |      ${PolyHash.duckSql("'fz#' || p_partkey::VARCHAR")} AS h
             |    FROM part)
             |  ORDER BY h, p_partkey LIMIT 30),
             |cand AS (
             |  SELECT p.probe_id, p.typo, c.p_name,
             |    levenshtein(p.typo, c.p_name)::BIGINT AS dist
             |  FROM probes p JOIN cat c
             |    ON substr(p.typo, 1, 1) = substr(c.p_name, 1, 1)
             |   AND abs(length(p.typo) - length(c.p_name)) <= 2
             |  WHERE levenshtein(p.typo, c.p_name) <= 2),
             |ranked AS (
             |  SELECT probe_id, typo, p_name AS matched, dist,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY dist, p_name) AS rnk
             |  FROM cand)
             |SELECT probe_id, typo, matched, dist, rnk
             |FROM ranked WHERE rnk <= 2
             |ORDER BY probe_id, rnk""".stripMargin)),

    // ------------------------------------------------------------------
    // q107: explicit GROUPING SETS — the general form rollup (q11) and
    // cube (q20) are special cases of: the caller names exactly which
    // grouping combinations to materialize, and Spark computes them in
    // ONE pass (an Expand node feeding one hash aggregate — not one scan
    // per set). grouping() disambiguates "aggregated over" from a real
    // NULL, surfaced as an 'ALL' sentinel so both engines emit identical
    // dimension values.
    Q(
      "q107_grouping_sets",
      (s, dir) =>
        Tables.load(s, dir, "orders")
          .groupingSets(
            Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderstatus")), Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping(col("o_orderstatus")).as("g_s"),
            grouping(col("o_orderpriority")).as("g_p"),
            count(lit(1)).cast("long").as("n"),
            round(sum("o_totalprice"), 2).as("sum_price"))
          .select(
            when(col("g_s") === 1, lit("ALL")).otherwise(col("o_orderstatus"))
              .as("status"),
            when(col("g_p") === 1, lit("ALL")).otherwise(col("o_orderpriority"))
              .as("priority"),
            col("n"), col("sum_price"))
          .orderBy("status", "priority"),
      Some("""SELECT
             |  CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
             |       ELSE o_orderstatus END AS status,
             |  CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
             |       ELSE o_orderpriority END AS priority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
             |  (o_orderstatus), ())
             |ORDER BY status, priority""".stripMargin)),

    // ------------------------------------------------------------------
    // q108: rolling z-score anomaly detection — each event scored
    // against its user's own trailing baseline (ROWS BETWEEN 10
    // PRECEDING AND 1 PRECEDING: the current row is excluded so it
    // cannot mask its own anomaly). One shuffle to the user key; the
    // frame state is O(10) per row regardless of history length. Guards:
    // ≥8 trailing samples (cold-start suppression) and sd > 0.05 (a
    // flat baseline makes z explode on noise); z rounded BEFORE the
    // |z| > 2 cut so both engines threshold identical keys.
    Q(
      "q108_rolling_zscore",
      (s, dir) => {
        val fr = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(-10, -1)
        Tables.load(s, dir, "events")
          .withColumn("mu", avg("value").over(fr))
          .withColumn("sd", stddev_samp("value").over(fr))
          .withColumn("nw", count(lit(1)).over(fr))
          .where(col("nw") >= 8 && col("sd") > 0.05)
          .withColumn("z",
            Rounding.stableRound6((col("value") - col("mu")) / col("sd")))
          .where(abs(col("z")) > 2)
          .select(col("event_id"), col("user_id"),
            col("event_type"), col("value"), col("z"))
          .orderBy("event_id")
      },
      Some(s"""WITH w AS (
             |  SELECT event_id, user_id, event_type, value,
             |    avg(value) OVER fr AS mu,
             |    stddev_samp(value) OVER fr AS sd,
             |    count(*) OVER fr AS nw
             |  FROM events
             |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
             |z AS (
             |  SELECT event_id, user_id, event_type, value,
             |    ${Rounding.duckSql("(value - mu) / sd")} AS z
             |  FROM w WHERE nw >= 8 AND sd > 0.05)
             |SELECT event_id, user_id, event_type, value, z
             |FROM z WHERE abs(z) > 2
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q110: add-one-smoothed bigram LM scoring — the next step up from
    // q94's unigram surprisal: templated docs whose WORD PAIRS repeat
    // verbatim score low even when their unigrams look diverse. Bigrams
    // come from a shuffle-free per-row array zip (no window over token
    // position); the count table is vocabulary²-sized and meets the
    // stream through a broadcast; history mass c(w1) is a window over
    // that small table, V a whole-table window — exactly two corpus
    // scans (count build + scoring), q94's accepted shape.
    Q(
      "q110_bigram_logprob",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .withColumn("ws", graft.ops.Text.words(graft.ops.Text.clean(col("text"))))
          .where(size(col("ws")) >= 2)
        val bi = docs.select(col("doc_id"), expr(
            "explode(transform(sequence(1, size(ws) - 1), " +
              "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2)))")
            .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        // r15 note (measured and REJECTED): pinning this aggregated
        // count frame with localCheckpoint read 1.69s -> 1.97s at 32c —
        // the vv scalar's rebuild it saves is cheaper than the eager
        // checkpoint job + RDD-block rescans (the q367 profile, not
        // the q302 one: only TWO consumers and a fast window rebuild).
        // Left in its r14 shape.
        val cnt = bi.groupBy("w1", "w2")
          .agg(count(lit(1)).cast("double").as("c12"))
          .withColumn("c1",
            sum("c12").over(Window.partitionBy("w1")))
        // vocabulary size as a SCALAR agg cross-joined as a 1-row
        // broadcast — NOT a no-partition window (which funnels the
        // whole distinct-bigram frame into one partition) and NOT a
        // broadcast() hint on `cnt` (distinct bigrams grow with the
        // corpus — Heaps' law — so a forced broadcast is an OOM at
        // 100 TB; AQE decides the bigram join). The r12 verdict's
        // q110/q235 item; q359 is the scale-safe exemplar.
        val vv = cnt.agg(countDistinct("w2").cast("double").as("vv"))
        bi.join(cnt, Seq("w1", "w2")).crossJoin(broadcast(vv))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_bigrams"),
            Rounding.stableRound6(
              avg(-log((col("c12") + 1.0) / (col("c1") + col("vv")))))
              .as("avg_surprisal"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split(
             |    regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'), ' '),
             |    w -> w <> '') AS ws
             |  FROM documents),
             |bi AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
             |    i -> {'w1': ws[i], 'w2': ws[i+1]}), recursive := true)
             |  FROM toks WHERE len(ws) >= 2),
             |cnt AS (
             |  SELECT w1, w2, count(*)::DOUBLE AS c12 FROM bi GROUP BY 1, 2),
             |c1t AS (SELECT w1, sum(c12) AS c1 FROM cnt GROUP BY 1),
             |v AS (SELECT count(DISTINCT w2)::DOUBLE AS vv FROM bi)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  ${Rounding.duckSql("avg(-ln((c12 + 1) / (c1 + vv)))")} AS avg_surprisal
             |FROM bi JOIN cnt USING (w1, w2) JOIN c1t USING (w1) CROSS JOIN v
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin))
  )
}
