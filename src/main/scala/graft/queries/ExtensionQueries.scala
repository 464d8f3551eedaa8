package graft.queries

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Packing, Sampling, SimilaritySearch, Sketches, TextAnalysis}
import graft.functions.{PolyHash, Rounding}
import graft.io.Tables

/** North-star extension operators as oracle-gated queries: text analysis
  * (q40-q42), dedup in all five flavors (q43-q47), similarity search
  * (q48-q49), multimodal metadata (q50). Every hash involved is the
  * oracle-replayable PolyHash, so even MinHash banding and SimHash bits
  * hash-match DuckDB exactly — no rows-only soft checks needed.
  */
object ExtensionQueries {

  private val P = PolyHash.Mod

  /** DuckDB replay of Text.words: space-split, drop empties. */
  private val DuckToks =
    "list_filter(string_split(text, ' '), t -> t <> '')"

  /** DuckDB replay of TextAnalysis.qualityScore (the q52 formula:
    * length saturation + low punctuation + stopword presence, each leg
    * stable-rounded exactly as the Spark side rounds).
    */
  private[queries] val QualityScoreSql =
    """floor((0.4 * least(len(regexp_extract_all(text, '\S+'))::DOUBLE / 50.0, 1.0)
      |      + 0.3 * (1.0 - floor(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))::DOUBLE
      |          / greatest(length(text), 1) * 1000000 + 0.5) / 1000000)
      |      + 0.3 * least(floor(len(list_filter(regexp_extract_all(lower(text), '\S+'),
      |            t -> t IN ('the', 'a', 'and', 'of', 'is', 'to', 'in')))::DOUBLE
      |          / greatest(len(regexp_extract_all(lower(text), '\S+')), 1) * 1000000 + 0.5)
      |          / 1000000 * 5.0, 1.0)) * 1000000 + 0.5) / 1000000""".stripMargin

  /** DuckDB replay of Dedup.shingles (distinct word 3-grams). */
  private[queries] val ShingleCtes =
    s"""toks AS (SELECT doc_id, $DuckToks AS arr FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(list_transform(range(len(arr) - 2),
       |      i -> arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3])) AS s
       |    FROM toks WHERE len(arr) >= 3))""".stripMargin

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** DuckDB replay of Dedup.nearDupPairs at threshold 0.5 — (da, db,
    * jaccard), no ORDER BY. Shared by q53 (the pipeline gate), q59
    * (connected components over its pairs), q338, and (parameterized,
    * via [[nearDupPairsOracleAt]]) q345's threshold sweep.
    */
  private[queries] lazy val NearDupPairsOracle: String =
    nearDupPairsOracleAt(0.5)

  /** DuckDB replay of Dedup.nearDupJoin(incoming 20%, corpus 80%, 0.5)
    * under the "inc" hash split — the recompute-from-scratch truth for
    * BOTH the direct cross-table join (q66) and the persisted-band-index
    * serve path (q459): by construction the two must produce identical
    * rows, so they share one oracle.
    */
  private[queries] lazy val NearDupJoinOracle: String =
    nearDupJoinOracleWithCorpusPred("TRUE")

  /** [[NearDupJoinOracle]] with an extra predicate restricting the
    * corpus (rsig) side — q461 recomputes against "corpus minus the
    * tombstoned slice" to gate the index's delete+compact path.
    */
  private[queries] def nearDupJoinOracleWithCorpusPred(
      corpusPred: String): String = {
    val mins = Dedup.Perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $P) AS m$i"
    }.mkString(",\n             |    ")
    val bandJoins = (0 until Dedup.Bands).map { bnd =>
      val keys = (0 until Dedup.RowsPerBand).map(r => s"m${bnd * Dedup.RowsPerBand + r}")
      s"""SELECT a.doc_id AS da, b.doc_id AS db
         |    FROM lsig a JOIN rsig b
         |    ON ${keys.map(k => s"a.$k = b.$k").mkString(" AND ")}"""
    }.mkString("\n             |    UNION\n             |    ")
    s"""WITH $ShingleCtes,
       |buckets AS (
       |  SELECT doc_id, (h * h % 1000000007) % 10000 AS bucket
       |  FROM (SELECT doc_id, ${PolyHash.duckSql("'inc#' || doc_id::VARCHAR")} AS h
       |        FROM documents)),
       |hashes AS (SELECT doc_id, ${PolyHash.duckSql("s")} AS h FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM hashes GROUP BY doc_id),
       |lsig AS (SELECT sig.* FROM sig JOIN buckets USING (doc_id)
       |         WHERE bucket >= 8000),
       |rsig AS (SELECT sig.* FROM sig JOIN buckets USING (doc_id)
       |         WHERE bucket < 8000 AND ($corpusPred)),
       |cand AS (SELECT DISTINCT da, db FROM (
       |    $bandJoins)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.da, c.db, count(*) AS i
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.da
       |  JOIN sh b ON b.doc_id = c.db AND b.s = a.s
       |  GROUP BY 1, 2)
       |SELECT da, db,
       |  floor(i::DOUBLE / (sa.n + sb.n - i) * 1000000 + 0.5) / 1000000 AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE floor(i::DOUBLE / (sa.n + sb.n - i) * 1000000 + 0.5) / 1000000 >= 0.5
       |ORDER BY da, db""".stripMargin
  }

  private[queries] def nearDupPairsOracleAt(threshold: Double): String = {
    val mins = Dedup.Perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $P) AS m$i"
    }.mkString(",\n             |    ")
    val bandJoins = (0 until Dedup.Bands).map { bnd =>
      val keys = (0 until Dedup.RowsPerBand).map(r => s"m${bnd * Dedup.RowsPerBand + r}")
      s"""SELECT a.doc_id AS da, b.doc_id AS db
         |    FROM sig a JOIN sig b
         |    ON a.doc_id < b.doc_id AND ${keys.map(k => s"a.$k = b.$k").mkString(" AND ")}"""
    }.mkString("\n             |    UNION\n             |    ")
    s"""WITH $ShingleCtes,
       |hashes AS (SELECT doc_id, ${PolyHash.duckSql("s")} AS h FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM hashes GROUP BY doc_id),
       |cand AS (SELECT DISTINCT da, db FROM (
       |    $bandJoins)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.da, c.db, count(*) AS i
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.da
       |  JOIN sh b ON b.doc_id = c.db AND b.s = a.s
       |  GROUP BY 1, 2)
       |SELECT da, db,
       |  floor(i::DOUBLE / (sa.n + sb.n - i) * 1000000 + 0.5) / 1000000 AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE floor(i::DOUBLE / (sa.n + sb.n - i) * 1000000 + 0.5) / 1000000 >= $threshold""".stripMargin
  }

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q40: token counting + quality scoring. Pure per-row scan math.
    Q(
      "q40_text_stats",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(TextAnalysis.wsTokens(col("text"))).cast("long").as("ws_tokens"),
          size(TextAnalysis.bpeTokens(col("text"))).cast("long").as("bpe_tokens"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, n_chars, ws_tokens, bpe_tokens, punct_ratio, stopword_ratio,
             |  floor((0.4 * least(ws_tokens::DOUBLE / 50.0, 1.0)
             |      + 0.3 * (1.0 - punct_ratio)
             |      + 0.3 * least(stopword_ratio * 5.0, 1.0)) * 1000000 + 0.5) / 1000000 AS quality
             |FROM (
             |  SELECT doc_id,
             |    length(text)::BIGINT AS n_chars,
             |    len(regexp_extract_all(text, '\\S+'))::BIGINT AS ws_tokens,
             |    len(regexp_extall_bpe)::BIGINT AS bpe_tokens,
             |    floor(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))::DOUBLE
             |      / greatest(length(text), 1) * 1000000 + 0.5) / 1000000 AS punct_ratio,
             |    floor(len(list_filter(regexp_extract_all(lower(text), '\\S+'),
             |        t -> t IN ${inList(TextAnalysis.Markers.head._2)}))::DOUBLE
             |      / greatest(len(regexp_extract_all(lower(text), '\\S+')), 1) * 1000000 + 0.5) / 1000000
             |      AS stopword_ratio
             |  FROM (SELECT *, regexp_extract_all(text,
             |          '${TextAnalysis.BpePattern}') AS regexp_extall_bpe
             |        FROM documents))
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q41: language ID (marker-hit argmax, deterministic tie-break).
    Q(
      "q41_langid",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val toks = TextAnalysis.wsTokens(lower(col("text")))
        val scoreCols = TextAnalysis.Markers.map { case (l, ms) =>
          TextAnalysis.markerHits(toks, ms).cast("long").as(s"s_$l")
        }
        d.select(col("doc_id") +: scoreCols :+
            TextAnalysis.langId(col("text")).as("lang_pred"): _*)
          .orderBy("doc_id")
      },
      Some {
        val scoreSelects = TextAnalysis.Markers.map { case (l, ms) =>
          s"len(list_filter(toks, t -> t IN ${inList(ms)}))::BIGINT AS s_$l"
        }.mkString(",\n             |    ")
        val langs = TextAnalysis.Markers.map(_._1)
        val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val cases = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
        s"""SELECT doc_id, ${langs.map("s_" + _).mkString(", ")},
           |  CASE WHEN $best = 0 THEN 'unknown' $cases ELSE 'unknown' END AS lang_pred
           |FROM (
           |  SELECT doc_id,
           |    $scoreSelects
           |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
           |        FROM documents))
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q42: document fingerprinting — md5 + rolling PolyHash of the
    // normalized text, both replayed exactly by DuckDB.
    Q(
      "q42_fingerprint",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
            TextAnalysis.fingerprintPoly(col("text")).as("fp_poly"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, md5(norm) AS fp_md5,
             |  ${PolyHash.duckSql("norm")} AS fp_poly
             |FROM (SELECT doc_id,
             |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q43: exact dedup — fingerprint groups, canonical = min id.
    Q(
      "q43_dedup_exact",
      (s, dir) =>
        Dedup.exact(Tables.load(s, dir, "documents"), "text", "doc_id")
          .select("doc_id", "canonical_id", "group_size")
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
             |  count(*) OVER (PARTITION BY fp) AS group_size
             |FROM (SELECT doc_id,
             |        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q44: exact n-gram Jaccard near-dup pairs (shingle inverted index).
    Q(
      "q44_jaccard_pairs",
      (s, dir) =>
        Dedup.jaccardPairs(Tables.load(s, dir, "documents"), "text", "doc_id", 0.5)
          .orderBy("da", "db"),
      Some(s"""WITH $ShingleCtes,
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT da, db,
             |  floor(i::DOUBLE / (sa.n + sb.n - i) * 1000000 + 0.5) / 1000000 AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = da
             |JOIN sizes sb ON sb.doc_id = db
             |WHERE floor(i::DOUBLE / (sa.n + sb.n - i) * 1000000 + 0.5) / 1000000 >= 0.5
             |ORDER BY da, db""".stripMargin)),

    // ------------------------------------------------------------------
    // q45: MinHash+LSH candidate pairs — 16 oracle-replayable integer
    // permutations, 4 bands × 4 rows, equi-join per band (the scale path:
    // no O(n²) pair enumeration anywhere).
    Q(
      "q45_minhash_candidates",
      (s, dir) =>
        Dedup.minhashCandidates(Tables.load(s, dir, "documents"), "text", "doc_id")
          .orderBy("da", "db"),
      Some {
        val mins = Dedup.Perms.zipWithIndex.map { case ((a, b), i) =>
          s"min(($a * h + $b) % $P) AS m$i"
        }.mkString(",\n             |    ")
        val bandJoins = (0 until Dedup.Bands).map { bnd =>
          val keys = (0 until Dedup.RowsPerBand).map(r => s"m${bnd * Dedup.RowsPerBand + r}")
          s"""SELECT a.doc_id AS da, b.doc_id AS db
             |  FROM sig a JOIN sig b
             |  ON a.doc_id < b.doc_id AND ${keys.map(k => s"a.$k = b.$k").mkString(" AND ")}"""
        }.mkString("\n             |  UNION\n             |  ")
        s"""WITH $ShingleCtes,
           |hashes AS (SELECT doc_id, ${PolyHash.duckSql("s")} AS h FROM sh),
           |sig AS (
           |  SELECT doc_id,
           |    $mins
           |  FROM hashes GROUP BY doc_id)
           |SELECT DISTINCT da, db FROM (
           |  $bandJoins)
           |ORDER BY da, db""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q53: the production near-dup pipeline end-to-end — MinHash+LSH
    // candidates (q45's plan) verified by exact Jaccard (q44's math) on
    // the candidate set ONLY. This is the composition that survives
    // 100 TB: candidate enumeration is equi-joins on band keys (never
    // O(n²)), and the quadratic verify runs on the tiny candidate set.
    // Oracle = q45's candidate replay joined to the shingle inverted
    // index, scored exactly like q44.
    Q(
      "q53_near_dup_pipeline",
      (s, dir) =>
        Dedup.nearDupPairs(Tables.load(s, dir, "documents"), "text", "doc_id", 0.5)
          .orderBy("da", "db"),
      Some(NearDupPairsOracle + "\nORDER BY da, db")),

    // ------------------------------------------------------------------
    // q59: near-dup pairs → cluster-canonical assignment via connected
    // components (min-label propagation, O(diameter) shuffles — see
    // Dedup.canonicalize). Docs outside any pair are their own canonical.
    // Oracle: DuckDB WITH RECURSIVE reachability over the same pairs.
    Q(
      "q59_dedup_clusters",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = Dedup.nearDupPairs(docs, "text", "doc_id", 0.5).select("da", "db")
        val labels = Dedup.canonicalize(pairs)
        docs.select("doc_id")
          .join(labels, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("label"), col("doc_id")).as("canonical_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE pairs AS (
             |$NearDupPairsOracle
             |),
             |edges AS (SELECT da AS s, db AS d FROM pairs
             |          UNION ALL SELECT db, da FROM pairs),
             |walk(id, lab) AS (
             |  SELECT s, s FROM edges
             |  UNION
             |  SELECT e.s, w.lab FROM edges e JOIN walk w ON w.id = e.d),
             |labels AS (SELECT id, min(lab) AS label FROM walk GROUP BY id)
             |SELECT d.doc_id, coalesce(l.label, d.doc_id) AS canonical_id
             |FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q46: 16-bit SimHash sketch per document (token multiset).
    Q(
      "q46_simhash",
      (s, dir) =>
        Dedup.simhash16(Tables.load(s, dir, "documents"), "text", "doc_id")
          .orderBy("doc_id"),
      Some {
        val sums = (0 until 16).map { b =>
          s"sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b"
        }.mkString(",\n             |    ")
        val assemble = (0 until 16)
          .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
          .mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($DuckToks) AS w FROM documents),
           |hashes AS (SELECT doc_id, ${PolyHash.duckSql("w")} AS h FROM toks),
           |bits AS (
           |  SELECT doc_id,
           |    $sums
           |  FROM hashes GROUP BY doc_id)
           |SELECT doc_id, ($assemble)::BIGINT AS simhash
           |FROM bits
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q47: embedding-cosine near-dup pairs — the production path:
    // 4-table OR-amplified hyperplane-LSH candidates + exact-cosine
    // verify (never O(n²); see Dedup.embeddingNearDup). The oracle
    // replays the identical banding; the exact brute form
    // (embeddingNearDupBrute) is pinned as a superset in ExtensionSpec.
    Q(
      "q47_embedding_near_dup",
      (s, dir) =>
        // 4 planes/table for the wide 0.45 threshold (see Dedup scaladoc
        // tuning rule); 8 OR-ed tables recover 9 of the 14 true pairs
        // at sf0.01 (measured vs embeddingNearDupBrute)
        Dedup.embeddingNearDup(Tables.load(s, dir, "embeddings"), "embedding",
            "vec_id", 0.45, nTables = 8, nPlanes = 4)
          .orderBy("da", "db"),
      Some {
        val nTables = 8
        val tableSelects = (0 until nTables).map { t =>
          val ps = SimilaritySearch.planes(4, 64, seed = 7 + t)
          val bucketExpr = ps.zipWithIndex.map { case (p, i) =>
            // Locale.ROOT: the default-locale f"" interpolator renders comma
          // decimals on e.g. de_DE, producing malformed SQL literals
          val lits = p.map(v => String.format(java.util.Locale.ROOT, "%.6f",
            Double.box(v))).mkString("[", ", ", "]")
            s"(CASE WHEN list_dot_product(v, $lits::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
          }.mkString("\n             |      + ")
          s"""SELECT vec_id, $t AS t,
             |      $bucketExpr AS bkt
             |    FROM e"""
        }.mkString("\n             |    UNION ALL\n             |    ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |b AS (
           |    $tableSelects),
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS da, y.vec_id AS db
           |  FROM b x JOIN b y
           |  ON x.t = y.t AND x.bkt = y.bkt AND x.vec_id < y.vec_id)
           |SELECT da, db,
           |  floor(list_cosine_similarity(ea.v, eb.v) * 1000000 + 0.5) / 1000000 AS cos
           |FROM cand
           |JOIN e ea ON ea.vec_id = da
           |JOIN e eb ON eb.vec_id = db
           |WHERE floor(list_cosine_similarity(ea.v, eb.v) * 1000000 + 0.5) / 1000000 > 0.45
           |ORDER BY da, db""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q48: brute-force top-10 cosine neighbors for query set vec_id < 5.
    // Codegen'd CosineSimilarity + broadcast query side: corpus scanned
    // once, no corpus shuffle.
    Q(
      "q48_knn_brute",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        SimilaritySearch.bruteTopK(e.filter(col("vec_id") < 5), e, 10)
          .orderBy("query_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id < 5),
             |scored AS (
             |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             |    floor(list_cosine_similarity(q.v, e.v) * 1000000 + 0.5) / 1000000 AS cos
             |  FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, cos,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, rank, neighbor_id, cos
             |FROM ranked WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q49: LSH-bucketed ANN top-5 — candidates only meet inside their
    // 8-bit hyperplane bucket (~2^8-fold candidate reduction at scale).
    Q(
      "q49_knn_lsh",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        SimilaritySearch.lshTopK(e.filter(col("vec_id") < 5), e, 5)
          .orderBy("query_id", "rank")
      },
      Some {
        val ps = SimilaritySearch.planes()
        val bucketExpr = ps.zipWithIndex.map { case (p, i) =>
          // Locale.ROOT: the default-locale f"" interpolator renders comma
          // decimals on e.g. de_DE, producing malformed SQL literals
          val lits = p.map(v => String.format(java.util.Locale.ROOT, "%.6f",
            Double.box(v))).mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(v, $lits::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString("\n             |    + ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |b AS (
           |  SELECT vec_id, v,
           |    $bucketExpr AS bkt
           |  FROM e),
           |q AS (SELECT * FROM b WHERE vec_id < 5),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    floor(list_cosine_similarity(q.v, c.v) * 1000000 + 0.5) / 1000000 AS cos
           |  FROM q JOIN b c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, cos
           |FROM ranked WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q64: IVF-Flat ANN top-5 — the data-adaptive counterpart to q49's
    // oblivious hyperplanes: a CONSTANT-size codebook (the 16 vectors
    // with smallest PolyHash("ivf#"||id) — size independent of corpus),
    // shuffle-free nearest-cell assignment, queries probe their 4 closest
    // cells. The oracle replays codebook pick (same hash, top-16 window)
    // and cell assignment with a DuckDB window over list_dot_product
    // (same dot arithmetic, same (dot DESC, cid ASC) tie-break as
    // CentroidRanks).
    Q(
      "q64_knn_ivf",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        SimilaritySearch.ivfTopK(e.filter(col("vec_id") < 5), e, 5,
            nCentroids = 16, nProbe = 4)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |picked AS (
             |  SELECT vec_id, v FROM (
             |    SELECT vec_id, v,
             |      ${PolyHash.duckSql("'ivf#' || vec_id::VARCHAR")} AS h
             |    FROM e)
             |  ORDER BY h, vec_id LIMIT 16),
             |cents AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
             |  FROM picked),
             |cell_ranks AS (
             |  SELECT e.vec_id, c.cid,
             |    row_number() OVER (PARTITION BY e.vec_id
             |      ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rnk
             |  FROM e CROSS JOIN cents c),
             |assign AS (SELECT vec_id, cid FROM cell_ranks WHERE rnk = 1),
             |probes AS (SELECT vec_id, cid FROM cell_ranks
             |           WHERE rnk <= 4 AND vec_id < 5),
             |scored AS (
             |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
             |    floor(list_cosine_similarity(eq.v, en.v) * 1000000 + 0.5) / 1000000 AS cos
             |  FROM probes p
             |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id
             |  JOIN e eq ON eq.vec_id = p.vec_id
             |  JOIN e en ON en.vec_id = a.vec_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, cos,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, rank, neighbor_id, cos
             |FROM ranked WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // q55: deterministic train/val/test split — membership is a pure
    // function of (doc_id, salt) via PolyHash basis-point buckets, so the
    // split is stable under corpus growth and replayable on any engine
    // (the whole point vs rand()-based sampling; see ext.Sampling).
    // Shuffle-free: one codegen'd projection.
    Q(
      "q55_hash_split",
      (s, dir) =>
        Sampling.hashSplit(Tables.load(s, dir, "documents"), "doc_id", "split42",
            Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
          .select("doc_id", "bucket", "split")
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, bucket,
             |  CASE WHEN bucket < 8000 THEN 'train'
             |       WHEN bucket < 9000 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM (
             |  SELECT doc_id, (h * h % 1000000007) % 10000 AS bucket
             |  FROM (SELECT doc_id,
             |          ${PolyHash.duckSql("'split42#' || doc_id::VARCHAR")} AS h
             |        FROM documents))
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q57: stratified deterministic sampling — rebalance a training mix
    // (keep all purchases, 10% of clicks, 1% of views, drop the rest)
    // with run-to-run reproducible membership. One projection+filter,
    // shuffle-free.
    Q(
      "q57_stratified_sample",
      (s, dir) =>
        Sampling.hashSampleBy(Tables.load(s, dir, "events"), "event_id", "mix7",
            "event_type",
            Map("purchase" -> 1.0, "click" -> 0.1, "view" -> 0.01))
          .select("event_id", "event_type")
          .orderBy("event_id"),
      Some(s"""SELECT event_id, event_type
             |FROM (
             |  SELECT event_id, event_type, (h * h % 1000000007) % 10000 AS bucket
             |  FROM (SELECT event_id, event_type,
             |          ${PolyHash.duckSql("'mix7#' || event_id::VARCHAR")} AS h
             |        FROM events))
             |WHERE bucket < CASE event_type WHEN 'purchase' THEN 10000
             |                               WHEN 'click' THEN 1000
             |                               WHEN 'view' THEN 100
             |                               ELSE 0 END
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q58: TF-IDF over the inverted index — q31's postings with per-term
    // document frequency and ln(N/df) weighting. doc_freq is a window
    // count over the tf result, NOT a second aggregation branch: a
    // `tf.join(tf.groupBy(word).count)` formulation makes Catalyst scan
    // and re-aggregate the corpus twice (no CTE reuse without caching,
    // and caching inside a lazy query fn leaks). One scan, one (word,
    // doc) shuffle, one word-partitioned window, broadcast 1-row count.
    Q(
      "q58_tfidf",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"),
            explode(graft.ops.Text.words(graft.ops.Text.clean(col("text")))).as("word"))
          .groupBy("word", "doc_id")
          .agg(count(lit(1)).as("tf"))
        val byWord = org.apache.spark.sql.expressions.Window.partitionBy("word")
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tf.withColumn("doc_freq", count(lit(1)).over(byWord))
          .crossJoin(broadcast(n))
          .withColumn("tfidf", Rounding.stableRound6(
            col("tf") * log(col("n_docs").cast("double") / col("doc_freq"))))
          .select("word", "doc_id", "tf", "doc_freq", "tfidf")
          .orderBy("word", "doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(
             |    regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'), ' ')) AS word
             |  FROM documents),
             |tf AS (SELECT word, doc_id, count(*) AS tf
             |       FROM toks WHERE word <> '' GROUP BY 1, 2),
             |dfreq AS (SELECT word, count(*) AS doc_freq FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents)
             |SELECT word, doc_id, tf, doc_freq,
             |  floor(tf * ln(n_docs::DOUBLE / doc_freq) * 1000000 + 0.5) / 1000000 AS tfidf
             |FROM tf JOIN dfreq USING (word) CROSS JOIN n
             |ORDER BY word, doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q56: keyless point-in-interval join (attribution: every event
    // inside a high-value purchase's 30-minute window). Banded into
    // 30-minute buckets → equi-join on the band + exact range predicate,
    // instead of Spark's BroadcastNestedLoopJoin over the full corpus
    // (see ops.RangeJoin).
    Q(
      "q56_interval_attribution",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val windows = e
          .filter(col("event_type") === "purchase" && col("value") > 250)
          .select(col("event_id").as("purchase_id"),
            col("ts").as("w_start"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
        graft.ops.RangeJoin.pointInInterval(
            e.select("event_id", "ts", "event_type"), windows,
            "ts", "w_start", "w_end", bandSeconds = 1800L)
          .select("purchase_id", "event_id", "event_type")
          .orderBy("purchase_id", "event_id")
      },
      Some("""SELECT w.purchase_id, ev.event_id, ev.event_type
             |FROM events ev JOIN
             |  (SELECT event_id AS purchase_id, ts AS s, ts + INTERVAL 30 MINUTE AS en
             |   FROM events WHERE event_type = 'purchase' AND value > 250) w
             |  ON ev.ts >= w.s AND ev.ts < w.en
             |ORDER BY purchase_id, event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q61: approximate quantiles via the deterministic histogram sketch —
    // single-pass mergeable bin counts, quantile read off the cumulative
    // histogram, error ≤ binWidth. Deterministic ⇒ exact DuckDB replay
    // (t-digest-style sketches would only admit a tolerance check).
    Q(
      "q61_histogram_quantiles",
      (s, dir) =>
        Sketches.histogramQuantiles(s, Tables.load(s, dir, "lineitem"),
          "l_extendedprice", binWidth = 100.0, qs = Seq(0.5, 0.9, 0.99)),
      Some("""WITH bins AS (
             |  SELECT CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS bin,
             |         count(*) AS c
             |  FROM lineitem GROUP BY 1),
             |cum AS (
             |  SELECT bin,
             |    CAST(sum(c) OVER (ORDER BY bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             |    CAST(sum(c) OVER () AS BIGINT) AS total
             |  FROM bins),
             |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
             |SELECT q, CAST(min(bin) AS BIGINT) AS bin,
             |  round((min(bin)::DOUBLE + 0.5) * 100.0::DOUBLE, 2) AS est
             |FROM qs JOIN cum ON cum.cum >= qs.q * cum.total
             |GROUP BY q
             |ORDER BY q""".stripMargin)),

    // ------------------------------------------------------------------
    // q62: the REAL image decode path (javax.imageio with stub fallback),
    // hash-gated at scale (round-2 verdict item 4 + r03 review): the
    // corpus is the UNION of (a) deterministic in-JVM PNG/BMP/junk bytes
    // with KNOWN dims — the oracle restates them as a literal VALUES
    // table built from the generation parameters, ground truth
    // independent of the decode under test — and (b) every sf-dir
    // document as a binary payload, which keeps the per-row ImageIO
    // attempt (reader-registry probe + parse failure + stub fallback)
    // in the benched at-scale path; text bytes never parse as an image,
    // so leg (b)'s expected rows are the SQL-expressible stub formula
    // (checksumOf over bytes == PolyHash over chars — the fixture text
    // is pure ASCII at every SF, and a non-ASCII fixture would fail
    // this gate loudly rather than silently).
    Q(
      "q62_multimodal_decode",
      (s, dir) => {
        implicit val sp = s
        import s.implicits._
        val offset = 10000000L // keep golden ids clear of documents ids
        val golden = s.createDataset(Multimodal.syntheticMediaCorpus()
            .map { case (r, _) => Multimodal.MediaRecord(r.doc_id + offset, r.content) })
          .repartition(4) // exercise the per-partition batch shape
        val docs = Multimodal.withBinaryContent(Tables.load(s, dir, "documents"))
          .select(col("doc_id"), col("content"))
          .as[Multimodal.MediaRecord]
        Multimodal.decodeImage(golden.union(docs)).toDF()
          .select("doc_id", "n_bytes", "width", "height", "channels", "checksum")
          .orderBy("doc_id")
      },
      Some {
        val rows = Multimodal.syntheticMediaCorpus().map { case (_, m) =>
          s"(${m.doc_id + 10000000L}, ${m.n_bytes}, ${m.width}, ${m.height}, " +
            s"${m.channels}, ${m.checksum})"
        }.mkString(",\n             |    ")
        s"""SELECT doc_id, n_bytes, width, height, channels, checksum FROM (
           |  SELECT * FROM (VALUES
           |    $rows)
           |  AS t(doc_id, n_bytes, width, height, channels, checksum)
           |  UNION ALL
           |  SELECT doc_id,
           |    octet_length(encode(text))::BIGINT,
           |    (1 + octet_length(encode(text)) % 640)::INTEGER,
           |    (1 + (octet_length(encode(text))::BIGINT * 31) % 480)::INTEGER,
           |    3::INTEGER,
           |    ${PolyHash.duckSql("text")}
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q50: multimodal binary-column metadata (SQL-expressible projection;
    // the mapPartitions decode-stub path is covered by MultimodalSpec).
    Q(
      "q50_multimodal_meta",
      (s, dir) =>
        Multimodal.imageMetaSql(
            Multimodal.withBinaryContent(Tables.load(s, dir, "documents")))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  octet_length(encode(text))::BIGINT AS n_bytes,
             |  sha256(text) AS sha,
             |  (1 + octet_length(encode(text)) % 640)::BIGINT AS width,
             |  (1 + (octet_length(encode(text))::BIGINT * 31) % 480)::BIGINT AS height
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q65: salted skew join, oracle = the PLAIN join's SQL — the gate IS
    // the invariant that salting never changes results (the salt spreads
    // each hot key over `buckets` reducers and never escapes the join).
    Q(
      "q65_skew_join_agg",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
          .select(col("o_custkey").as("custkey"), col("o_totalprice"))
        val c = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        graft.ops.SkewJoin.salted(o, c, "custkey", buckets = 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).cast("long").as("n_orders"),
            round(sum("o_totalprice"), 2).as("total"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // ------------------------------------------------------------------
    // q66: incremental near-dup — dedup an incoming 20% slice (the
    // deterministic hash-split, so the oracle replays membership) against
    // the 80% already-held corpus via the cross-table MinHash band join.
    // The corpus never self-pairs: candidate work is one (band, key)
    // equi-join between the sides, verify only on candidates.
    Q(
      "q66_incremental_neardup",
      (s, dir) => {
        val d = Sampling.hashSplit(Tables.load(s, dir, "documents"),
          "doc_id", "inc", Seq(("corpus", 0.8), ("incoming", 0.2)))
        val incoming = d.filter(col("split") === "incoming").select("doc_id", "text")
        val corpus = d.filter(col("split") === "corpus").select("doc_id", "text")
        Dedup.nearDupJoin(incoming, corpus, "text", "doc_id", 0.5)
          .orderBy("da", "db")
      },
      Some(NearDupJoinOracle)),

    // ------------------------------------------------------------------
    // q67: sliding-window aggregation (1h window, 30min slide — every
    // event lands in exactly width/slide = 2 windows). The oracle
    // replays Spark's window assignment with a 2-element unnest of the
    // candidate starts; epoch-aligned 30-min buckets on both engines.
    Q(
      "q67_sliding_windows",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
            col("event_type"))
          .agg(count(lit(1)).cast("long").as("n"),
            round(sum("value"), 2).as("sum_value"))
          .select(col("w.start").as("w_start"), col("event_type"),
            col("n"), col("sum_value"))
          .orderBy("w_start", "event_type")
      },
      Some("""SELECT w_start, event_type,
             |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
             |FROM (
             |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
             |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
             |           AS w_start,
             |         event_type, value
             |  FROM events)
             |GROUP BY w_start, event_type
             |ORDER BY w_start, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q68: interval×interval overlap join, banded (ops.RangeJoin
    // .intervalOverlap): purchase attribution windows vs high-value view
    // windows. The oracle is the naive overlap predicate — feasible in
    // DuckDB at gate scale; the Spark side must produce identical pairs
    // through the banded equi-join with its per-row band dedup.
    Q(
      "q68_interval_overlap",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val purchases = e
          .filter(col("event_type") === "purchase" && col("value") > 100)
          .select(col("event_id").as("purchase_id"),
            col("ts").as("p_start"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("p_end"))
        val views = e
          .filter(col("event_type") === "view" && col("value") > 100)
          .select(col("event_id").as("view_id"),
            col("ts").as("v_start"),
            (col("ts") + expr("INTERVAL 45 MINUTES")).as("v_end"))
        graft.ops.RangeJoin.intervalOverlap(purchases, views,
            "p_start", "p_end", "v_start", "v_end", bandSeconds = 1800L)
          .select("purchase_id", "view_id")
          .orderBy("purchase_id", "view_id")
      },
      Some("""SELECT p.purchase_id, v.view_id
             |FROM
             |  (SELECT event_id AS purchase_id, ts AS ps,
             |          ts + INTERVAL 30 MINUTE AS pe
             |   FROM events WHERE event_type = 'purchase' AND value > 100) p,
             |  (SELECT event_id AS view_id, ts AS vs,
             |          ts + INTERVAL 45 MINUTE AS ve
             |   FROM events WHERE event_type = 'view' AND value > 100) v
             |WHERE p.ps < v.ve AND v.vs < p.pe
             |ORDER BY purchase_id, view_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q69: cumulative unique users — the FIRST-TOUCH formulation: uniques
    // per day are users whose min(ts) lands that day, so the cumulative
    // count is a running sum over daily new-user counts. At scale this is
    // one user-keyed aggregation + a window over #days (dozens of rows),
    // NOT a growing distinct-set accumulation over the event stream.
    Q(
      "q69_cumulative_uniques",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.load(s, dir, "events")
        val firstSeen = e.groupBy("user_id")
          .agg(min(date_trunc("day", col("ts"))).as("first_day"))
        val w = Window.orderBy("first_day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        firstSeen.groupBy("first_day")
          .agg(count(lit(1)).as("new_users"))
          .withColumn("cum_users", sum("new_users").over(w))
          .orderBy("first_day")
      },
      Some("""SELECT first_day, count(*) AS new_users,
             |  CAST(sum(count(*)) OVER (ORDER BY first_day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS cum_users
             |FROM (SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP)
             |        AS first_day
             |      FROM events GROUP BY user_id)
             |GROUP BY first_day
             |ORDER BY first_day""".stripMargin)),

    // ------------------------------------------------------------------
    // q70: weekly retention cohorts — users cohorted by first-activity
    // week, activity counted as distinct users per (cohort, weeks-since).
    // The cohort map is a user-keyed aggregation joined back on user_id
    // (both sides shuffle-partitioned by user — co-located, no broadcast
    // needed as the map grows with the user base).
    Q(
      "q70_retention_cohorts",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val act = e.select(col("user_id"),
          date_trunc("week", col("ts")).as("week"))
        val cohort = act.groupBy("user_id").agg(min("week").as("cohort_week"))
        act.join(cohort, "user_id")
          .groupBy(col("cohort_week"),
            (datediff(col("week"), col("cohort_week")) / 7).cast("long")
              .as("weeks_since"))
          .agg(countDistinct("user_id").as("active_users"))
          .orderBy("cohort_week", "weeks_since")
      },
      Some("""SELECT cohort_week, weeks_since,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
             |FROM (
             |  SELECT a.user_id, c.cohort_week,
             |    (date_diff('day', c.cohort_week::DATE, a.week::DATE) // 7)::BIGINT
             |      AS weeks_since
             |  FROM (SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP)
             |          AS week FROM events) a
             |  JOIN (SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
             |          AS cohort_week FROM events GROUP BY user_id) c
             |    ON a.user_id = c.user_id)
             |GROUP BY cohort_week, weeks_since
             |ORDER BY cohort_week, weeks_since""".stripMargin)),

    // ------------------------------------------------------------------
    // q71: multimodal -> features -> ANN, end to end: PIXEL-derived
    // feature extraction (real ImageIO decode -> 4x4 bilinear downsample
    // -> RGB vector, the downsample standing where a model forward pass
    // would sit; junk payloads fall back to the byte histogram) over the
    // golden media corpus, piped straight into exact top-k cosine
    // search. The oracle restates the features as literal arrays
    // (replayed independently at oracle-build time in plain driver
    // Scala — its own decode/resample loop, no Spark, no shared feature
    // fn — exact float->double expansions) and replays the kNN with
    // DuckDB's list_cosine_similarity, so the decode, the distributed
    // batch plumbing, and the ANN math are all hash-gated.
    Q(
      "q71_media_knn",
      (s, _) => {
        implicit val sp = s
        import s.implicits._
        val media = s.createDataset(Multimodal.syntheticMediaCorpus(48).map(_._1))
          .repartition(4)
        val feats = Multimodal.featureExtractPixels(media, side = 4).toDF()
          .withColumnRenamed("doc_id", "vec_id")
        SimilaritySearch.bruteTopK(feats.filter(col("vec_id") < 4), feats, 3)
          .orderBy("query_id", "rank")
      },
      Some {
        // independent replay of the pixel features in driver Scala
        // (plain arrays, no Spark), emitted as exact DOUBLE literals: a
        // float widens to double losslessly and BigDecimal(double)
        // prints its exact decimal expansion. Java2D is deterministic
        // in-process, so this replay and the executor-side decode see
        // identical pixels.
        val side = 4
        val dim = side * side * 3
        val rows = Multimodal.syntheticMediaCorpus(48).map { case (rec, _) =>
          // same looksLikeImage gate as the engine: the gate defines the
          // supported format set, so a payload only ImageIO's exotic
          // readers accept must take the histogram path on BOTH sides
          val src =
            if (!Multimodal.looksLikeImage(rec.content)) null
            else
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rec.content))
              catch { case scala.util.control.NonFatal(_) => null }
          val v = new Array[Float](dim)
          if (src == null) {
            rec.content.foreach(b => v((b & 0xff) % dim) += 1f)
          } else {
            val dst = new java.awt.image.BufferedImage(
              side, side, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = dst.createGraphics()
            try {
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(src, 0, 0, side, side, null)
            } finally g.dispose()
            for (y <- 0 until side; x <- 0 until side) {
              val rgb = dst.getRGB(x, y)
              val i = (y * side + x) * 3
              v(i) = ((rgb >> 16) & 0xff).toFloat
              v(i + 1) = ((rgb >> 8) & 0xff).toFloat
              v(i + 2) = (rgb & 0xff).toFloat
            }
          }
          val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
          val unit =
            if (norm > 0) v.map(x => (x / norm).toFloat) else v
          val lits = unit.map(f =>
            new java.math.BigDecimal(f.toDouble).toPlainString)
            .mkString("[", ", ", "]")
          s"(${rec.doc_id}, $lits::DOUBLE[])"
        }.mkString(",\n             |  ")
        s"""WITH feats(vec_id, v) AS (VALUES
           |  $rows),
           |q AS (SELECT * FROM feats WHERE vec_id < 4),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    floor(list_cosine_similarity(q.v, c.v) * 1000000 + 0.5) / 1000000 AS cos
           |  FROM q CROSS JOIN feats c WHERE q.vec_id <> c.vec_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, cos
           |FROM ranked WHERE rank <= 3
           |ORDER BY query_id, rank""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q72: ordered funnel — per user, first 'view', first 'click' AFTER
    // that view, first 'purchase' after that click; stage counts. Each
    // stage is a user-keyed aggregation joined co-partitioned on user_id
    // — no window over the event stream, no per-user event sorting, so
    // the shape is three shuffles on the user key regardless of events
    // per user.
    Q(
      "q72_funnel",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("v_ts"))
        val c = e.filter(col("event_type") === "click")
          .join(v, "user_id").where(col("ts") > col("v_ts"))
          .groupBy("user_id").agg(min("ts").as("c_ts"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c, "user_id").where(col("ts") > col("c_ts"))
          .groupBy("user_id").agg(min("ts").as("p_ts"))
        val stages = Seq(("1_view", v), ("2_click", c), ("3_purchase", p))
          .map { case (name, df) =>
            df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
          }
        stages.reduce(_ union _).orderBy("stage")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
             |          WHERE event_type = 'view' GROUP BY user_id),
             |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
             |      JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
             |      WHERE e.event_type = 'click' GROUP BY e.user_id),
             |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
             |      JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
             |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
             |SELECT stage, users FROM (
             |  SELECT '1_view' AS stage, count(*) AS users FROM v
             |  UNION ALL SELECT '2_click', count(*) FROM c
             |  UNION ALL SELECT '3_purchase', count(*) FROM p)
             |ORDER BY stage""".stripMargin)),

    // ------------------------------------------------------------------
    // q73: triangle count over the near-dup pair graph — the standard
    // two-join formulation on (da < db)-oriented edges: wedges
    // (a,b)⋈(b,c) closed by a third edge (a,c). Orientation means each
    // triangle is counted exactly once and the join fan-out is bounded
    // by out-degree, the classic distributed-triangle trick. The oracle
    // nests the full q53 pipeline replay as the edge set.
    Q(
      "q73_triangles",
      (s, dir) => {
        // localCheckpoint: the three self-join legs reference the edge
        // set on different keys, so without materialization the whole
        // minhash+LSH+verify pipeline would execute three times
        val edges = Dedup.nearDupPairs(
            Tables.load(s, dir, "documents"), "text", "doc_id", 0.5)
          .select("da", "db")
          .localCheckpoint()
        val e1 = edges.select(col("da").as("a"), col("db").as("b"))
        val e2 = edges.select(col("da").as("b2"), col("db").as("c"))
        val e3 = edges.select(col("da").as("a3"), col("db").as("c3"))
        e1.join(e2, col("b") === col("b2"))
          .join(e3, col("a") === col("a3") && col("c") === col("c3"))
          .agg(count(lit(1)).as("n_triangles"))
      },
      Some(s"""WITH e AS MATERIALIZED (
             |  $NearDupPairsOracle
             |)
             |SELECT CAST(count(*) AS BIGINT) AS n_triangles
             |FROM e e1
             |JOIN e e2 ON e1.db = e2.da
             |JOIN e e3 ON e3.da = e1.da AND e3.db = e2.db""".stripMargin)),

    // ------------------------------------------------------------------
    // q75: sequence packing — docs assigned to fixed-token-capacity
    // training bins by exclusive cumulative token offset in doc_id
    // order. The Spark side is ext.Packing's two-pass distributed prefix
    // sum (one row per partition to the driver, broadcast bases back —
    // never Window.orderBy-with-no-partition, which funnels the corpus
    // through one task); the oracle is the single-window formulation
    // DuckDB can afford at gate scale.
    Q(
      "q75_sequence_packing",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(TextAnalysis.wsTokens(col("text"))).cast("long").as("toks"))
        Packing.packBins(d, "doc_id", "toks", capacity = 2048L)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, tokens, start_token, start_token // 2048 AS bin
             |FROM (
             |  SELECT doc_id, toks AS tokens,
             |    CAST(coalesce(sum(toks) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS start_token
             |  FROM (SELECT doc_id,
             |          len(regexp_extract_all(text, '\S+'))::BIGINT AS toks
             |        FROM documents))
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q77: PII redaction — the pre-training scrub pass. The fixture
    // carries no PII, so the input is built IN the query: each doc's
    // text gets a deterministic synthetic email/IP/phone appended (the
    // same concat on both engines), then TextAnalysis.redactPii runs on
    // the Spark side and DuckDB's RE2 regexp_replace replays the same
    // patterns — the gate is byte-identical redacted text from two
    // independent regex engines.
    Q(
      "q77_pii_redaction",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.redactPii(concat(
              col("text"),
              lit(" contact u"), col("doc_id").cast("string"),
              lit("@mail.example.org host 10."),
              (col("doc_id") % 256).cast("string"),
              lit(".0.7 tel +1-555-"),
              (lit(1000) + col("doc_id") % 9000).cast("string"))).as("clean"))
          .orderBy("doc_id"),
      Some {
        val planted = "text || ' contact u' || CAST(doc_id AS VARCHAR) || " +
          "'@mail.example.org host 10.' || CAST(doc_id % 256 AS VARCHAR) || " +
          "'.0.7 tel +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
        // DuckDB single-quoted strings take backslashes literally, so
        // the Java-regex pattern strings drop in unchanged (they are
        // RE2-compatible by construction, see PiiPatterns)
        val redacted = TextAnalysis.PiiPatterns.foldLeft(planted) {
          case (expr, (pat, rep)) => s"regexp_replace($expr, '$pat', '$rep', 'g')"
        }
        s"""SELECT doc_id, $redacted AS clean
           |FROM documents
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q78: eval-set decontamination — flag training docs sharing any
    // distinct word 8-gram with the (hash-split) eval slice; n_shared
    // counts the shared shingles. Eval membership is the deterministic
    // bucket formula (replayable, as in q55); the oracle rebuilds the
    // same 8-grams in SQL and replays the join.
    Q(
      "q78_decontaminate",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val b = Sampling.bucket(col("doc_id"), "decon1")
        val train = docs.where(b >= 2000)
        val eval = docs.where(b < 2000)
        Dedup.contaminationReport(train, eval, "text", "doc_id", n = 8)
          .orderBy("doc_id")
      },
      Some {
        val gram8 = (1 to 8).map(j => s"arr[i+$j]").mkString(" || ' ' || ")
        s"""WITH bucketed AS (
           |  SELECT doc_id, text,
           |    (h * h % 1000000007) % 10000 AS bucket
           |  FROM (SELECT doc_id, text,
           |          ${PolyHash.duckSql("'decon1#' || doc_id::VARCHAR")} AS h
           |        FROM documents)),
           |sh AS (
           |  SELECT DISTINCT doc_id, bucket, s FROM (
           |    SELECT doc_id, bucket,
           |      unnest(list_transform(range(len(arr) - 7), i -> $gram8)) AS s
           |    FROM (SELECT doc_id, bucket,
           |            list_filter(string_split(text, ' '), t -> t <> '') AS arr
           |          FROM bucketed)
           |    WHERE len(arr) >= 8))
           |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
           |FROM (SELECT doc_id, s FROM sh WHERE bucket >= 2000) t
           |JOIN (SELECT DISTINCT s FROM sh WHERE bucket < 2000) e ON t.s = e.s
           |GROUP BY t.doc_id
           |ORDER BY t.doc_id""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q79: token-budget curation — fill a 10k-token budget from the top
    // of the quality ranking (score DESC, doc_id tiebreak). The Spark
    // side is ext.Sampling.tokenBudgetSelect's two-pass distributed
    // prefix sum over a range partitioning (never a no-partition global
    // window); the oracle is the single-window cumsum DuckDB can afford
    // at gate scale. Monotone cumsum makes WHERE cum <= budget equal to
    // the engine's takeWhile.
    Q(
      "q79_token_budget",
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("score"),
            size(TextAnalysis.wsTokens(col("text"))).cast("long").as("tokens"))
        Sampling.tokenBudgetSelect(scored, "doc_id", "score", "tokens",
            budget = 10000L)
          .orderBy(col("score").desc, col("doc_id"))
      },
      Some(s"""SELECT doc_id, score, tokens, cum_tokens
             |FROM (
             |  SELECT doc_id, score, tokens,
             |    CAST(sum(tokens) OVER (ORDER BY score DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_tokens
             |  FROM (
             |    SELECT doc_id, $QualityScoreSql AS score,
             |      len(regexp_extract_all(text, '\\S+'))::BIGINT AS tokens
             |    FROM documents))
             |WHERE cum_tokens <= 10000
             |ORDER BY score DESC, doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q80: repetition statistics (the Gopher boilerplate signals) —
    // per-doc 2-gram occurrence totals, top-gram share, repeated-gram
    // share. Two keyed aggregations (the word-count plan); the oracle
    // rebuilds the multiplicity-preserving 2-grams and replays both
    // groupings.
    Q(
      "q80_repetition_stats",
      (s, dir) =>
        TextAnalysis.repetitionStats(Tables.load(s, dir, "documents"),
            "text", "doc_id", n = 2)
          .orderBy("doc_id"),
      Some("""WITH grams AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(len(arr) - 1),
             |      i -> arr[i+1] || ' ' || arr[i+2])) AS g
             |  FROM (SELECT doc_id,
             |          list_filter(string_split(text, ' '), t -> t <> '') AS arr
             |        FROM documents)
             |  WHERE len(arr) >= 2),
             |counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(sum(c) AS BIGINT) AS n_grams,
             |  floor(max(c)::DOUBLE / sum(c) * 1000000 + 0.5) / 1000000 AS top_gram_frac,
             |  floor(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c) * 1000000 + 0.5)
             |    / 1000000 AS dup_gram_frac
             |FROM counts
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q83: RAG-style chunking — 50-token windows every 25 tokens
    // (2x overlap), one row per chunk with its reassembled text. The
    // oracle rebuilds the same windows with DuckDB list slicing, so
    // window boundaries, tail handling, and the join-with-spaces text
    // all hash-match.
    Q(
      "q83_doc_chunking",
      (s, dir) =>
        TextAnalysis.chunkTokens(Tables.load(s, dir, "documents"),
            "text", "doc_id", chunkSize = 50, stride = 25)
          .orderBy("doc_id", "chunk_idx"),
      Some("""SELECT doc_id, CAST((s // 25) AS INTEGER) AS chunk_idx,
             |  CAST(s AS INTEGER) AS start_tok,
             |  CAST(least(50, n - s) AS INTEGER) AS n_tokens,
             |  array_to_string(list_slice(arr, s + 1, least(s + 50, n)), ' ') AS chunk_text
             |FROM (
             |  SELECT doc_id, arr, len(arr) AS n,
             |    unnest(range(0, len(arr), 25)) AS s
             |  FROM (SELECT doc_id,
             |          list_filter(string_split(text, ' '), w -> w <> '') AS arr
             |        FROM documents)
             |  WHERE len(arr) > 0)
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // q84: MapType surface — build a map<string,double> per event (JSON
    // prop + derived metrics), explode its entries, aggregate per key.
    // Gates map construction, entry explosion, and key-grouped
    // aggregation; the oracle unrolls the same three entries as a UNION.
    Q(
      "q84_map_metrics",
      (s, dir) =>
        Tables.load(s, dir, "events")
          .select(col("event_type"),
            map(
              lit("value"), col("value"),
              lit("value_sq"), col("value") * col("value"),
              lit("prop_k"), get_json_object(col("props"), "$.k").cast("double"))
              .as("m"))
          .select(col("event_type"), explode(col("m")).as(Seq("metric", "v")))
          .groupBy("event_type", "metric")
          // round at 4, the finest decimal scale among the map entries:
          // value_sq is EXACT 4-decimal data (2-dec squared), so
          // round(sum, 2) would sit the true total on a .005 boundary —
          // the q148 instability class; at 4 the true total is a grid
          // point half a 1e-4 unit from any boundary (r7 money audit)
          .agg(round(sum("v"), 4).as("total"), count(lit(1)).cast("long").as("n"))
          .orderBy("event_type", "metric"),
      Some("""SELECT event_type, metric, round(sum(v), 4) AS total,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM (
             |  SELECT event_type, 'value' AS metric, value AS v FROM events
             |  UNION ALL
             |  SELECT event_type, 'value_sq', value * value FROM events
             |  UNION ALL
             |  SELECT event_type, 'prop_k',
             |    CAST(json_extract_string(props, '$.k') AS DOUBLE) FROM events)
             |GROUP BY event_type, metric
             |ORDER BY event_type, metric""".stripMargin)),

    // ------------------------------------------------------------------
    // q85: time-series gap filling — hourly counts per event_type with
    // EVERY hour of the observed range present (zero-filled), the
    // resampling step before any windowed/forecast consumer. The hour
    // spine is sequence() over the corpus min/max (one tiny 1-row agg,
    // broadcast), cross-joined with the distinct types and left-joined
    // to the real counts: the heavy work stays the one counts shuffle,
    // the spine join is dimension-sized.
    Q(
      "q85_gap_fill",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val counts = e
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).cast("long").as("n"))
        val spine = e
          .agg(date_trunc("hour", min("ts")).as("h0"), date_trunc("hour", max("ts")).as("h1"))
          .select(explode(expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("hour"))
          .crossJoin(e.select("event_type").distinct())
        spine.join(counts, Seq("hour", "event_type"), "left")
          .select(col("hour"), col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("hour", "event_type")
      },
      Some("""WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
             |                  date_trunc('hour', max(ts)) AS h1 FROM events),
             |spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
             |types AS (SELECT DISTINCT event_type FROM events),
             |counts AS (SELECT date_trunc('hour', ts) AS hour, event_type,
             |             count(*) AS n
             |           FROM events GROUP BY 1, 2)
             |SELECT s.hour, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
             |FROM spine s CROSS JOIN types t
             |LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
             |ORDER BY s.hour, t.event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q86: deterministic epoch shuffle — a reproducible pseudo-random
    // permutation of the corpus (`Sampling.shuffleKey`): same salt ⇒
    // same order on every run and engine, new salt ⇒ fresh independent
    // permutation. The oracle replays the squared-PolyHash key, so the
    // exact permutation — not just the key formula — is hash-gated.
    Q(
      "q86_epoch_shuffle",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            Sampling.shuffleKey(col("doc_id"), "epoch0").as("shuffle_key"))
          .orderBy("shuffle_key", "doc_id"),
      Some(s"""SELECT doc_id, h * h % 1000000007 AS shuffle_key
             |FROM (SELECT doc_id,
             |        ${PolyHash.duckSql("'epoch0#' || doc_id::VARCHAR")} AS h
             |      FROM documents)
             |ORDER BY shuffle_key, doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q87: FULL OUTER join — the one join type without a gate: per-day
    // HIGH-VALUE view spend vs purchase spend, where days with only one
    // side present must survive with a null on the other. The value
    // thresholds exist to make each side sparse — unfiltered, every day
    // has both types and the full outer degenerates to an inner join,
    // gating nothing (measured: 0 one-sided days at either SF; at these
    // thresholds sf0.01 exercises BOTH null directions, sf0.001 the
    // purchase-null one). Null-key semantics don't arise (day is never
    // null), so Spark's full-outer and DuckDB's agree row-for-row.
    Q(
      "q87_full_outer_daily",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        def daily(tpe: String, minValue: Int, alias: String) = e
          .where(col("event_type") === tpe && col("value") > minValue)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(round(sum("value"), 2).as(alias))
        daily("view", 200, "view_value")
          .join(daily("purchase", 250, "purchase_value"), Seq("day"), "full_outer")
          .orderBy("day")
      },
      Some("""SELECT coalesce(v.day, p.day) AS day, v.view_value, p.purchase_value
             |FROM (SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS view_value
             |      FROM events WHERE event_type = 'view' AND value > 200 GROUP BY 1) v
             |FULL OUTER JOIN
             |     (SELECT CAST(ts AS DATE) AS day, round(sum(value), 2) AS purchase_value
             |      FROM events WHERE event_type = 'purchase' AND value > 250 GROUP BY 1) p
             |  ON v.day = p.day
             |ORDER BY day""".stripMargin))
  )
}
