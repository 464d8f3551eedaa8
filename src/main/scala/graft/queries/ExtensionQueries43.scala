package graft.queries

import org.apache.spark.sql.functions._

import graft.ext.SimilaritySearch
import graft.io.Tables

/** Round-9 wave: incremental maintenance of the persisted IVF-PQ index
  * (q322) — the delta-absorption path the r8 verdict named as the one
  * missing piece of the 100 TB ANN serving story (q207 wrote and served
  * the index; a delta batch still implied a rebuild). Same contract as
  * every other module: each Spark pipeline pairs with DuckDB oracle SQL
  * replaying it.
  */
object ExtensionQueries43 {

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q322: incremental IVF-PQ index maintenance — build the persisted
    // index (q207's layout) from the BASE slice only (vec_id % 10 <> 0),
    // absorb the remaining tenth as a delta batch
    // (SimilaritySearch.appendToIvfPqIndex: encode against the FROZEN
    // centroid/codebook sidecars, append into the delta's own cell
    // partitions — untouched cells and sidecars are never rewritten;
    // Extension25Spec pins the touched-cells-only write), then serve
    // q111's probe set from the maintained index. The gate: served
    // results must equal a single-shot index over the FULL corpus built
    // with the SAME (base-picked) sidecars — which is exactly what the
    // oracle replays (picks restricted to the base slice, cell
    // assignment + encoding + ADC over all vectors). That equality is
    // the correctness content of "append" — a delta row is scored
    // bit-identically to the same vector indexed on day one.
    Q(
      "q322_ivfpq_incremental",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val base = e.where(col("vec_id") % 10 =!= 0)
        val delta = e.where(col("vec_id") % 10 === 0)
        val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_inc")
        try {
          SimilaritySearch.writeIvfPqIndex(base, idx.toString,
            nCentroids = 16, m = 8, ksub = 16)
          SimilaritySearch.appendToIvfPqIndex(delta, idx.toString)
          SimilaritySearch.ivfPqTopKFromIndex(
              e.filter(col("vec_id") < 5), idx.toString, 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint()
        } finally graft.io.FsUtil.deleteRecursively(idx)
      },
      Some(ExtensionQueries4.ivfPqOracleSqlPick("vec_id % 10 <> 0"))),

    // ------------------------------------------------------------------
    // q329: IVF-PQ tombstone delete + compaction — the other half of
    // the index CRUD story (q322 is insert): build from the base
    // slice, absorb the delta, DELETE every vec_id % 20 == 5 (an
    // O(delta) append to the tombstones sidecar), compact (dynamic
    // overwrite of ONLY the affected cells, dead cells removed,
    // tombstones dropped — Extension25Spec pins all three plus
    // serve-before == serve-after), and serve q111's probes from the
    // compacted index. The oracle replays base-only picks over the
    // full corpus MINUS the deleted slice — a deleted row must be
    // invisible whether it is still a pending tombstone or already
    // compacted away.
    Q(
      "q329_ivfpq_tombstone_compact",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_del")
        try {
          SimilaritySearch.writeIvfPqIndex(e.where(col("vec_id") % 10 =!= 0),
            idx.toString, nCentroids = 16, m = 8, ksub = 16)
          SimilaritySearch.appendToIvfPqIndex(
            e.where(col("vec_id") % 10 === 0), idx.toString)
          SimilaritySearch.deleteFromIvfPqIndex(
            e.where(col("vec_id") % 20 === 5).select("vec_id"), idx.toString)
          SimilaritySearch.compactIvfPqIndex(s, idx.toString)
          SimilaritySearch.ivfPqTopKFromIndex(
              e.filter(col("vec_id") < 5), idx.toString, 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint()
        } finally graft.io.FsUtil.deleteRecursively(idx)
      },
      Some(ExtensionQueries4.ivfPqOracleSqlPick("vec_id % 10 <> 0",
        candWhere = "vec_id % 20 <> 5"))),

    // ------------------------------------------------------------------
    // q333: IVF-PQ update round-trip — the U of the index CRUD story
    // as delete → compact → append: every vec_id % 25 == 7 vector is
    // REPLACED by its halved version (exact float op, so both engines
    // agree bit-for-bit), encoded against the index's FROZEN sidecars,
    // and q111's probes are served from the updated index. The slice
    // avoids the probe ids (0-4), so query vectors stay original while
    // the updated rows re-enter as candidates with their NEW codes.
    // The oracle is the q111 replay with TWO vector sources: picks and
    // query LUTs from the original corpus (the index pre-dates the
    // update), cell assignment + encoding from the updated corpus.
    Q(
      "q333_ivfpq_update",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        val updIds = e.where(col("vec_id") % 25 === 7)
        val updated = updIds.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x * CAST(0.5 AS FLOAT) " +
            "AS FLOAT))").as("embedding"))
        val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_upd")
        try {
          SimilaritySearch.writeIvfPqIndex(e, idx.toString,
            nCentroids = 16, m = 8, ksub = 16)
          SimilaritySearch.deleteFromIvfPqIndex(
            updIds.select("vec_id"), idx.toString)
          SimilaritySearch.compactIvfPqIndex(s, idx.toString)
          SimilaritySearch.appendToIvfPqIndex(updated, idx.toString)
          SimilaritySearch.ivfPqTopKFromIndex(
              e.filter(col("vec_id") < 5), idx.toString, 5, nProbe = 4)
            .orderBy("query_id", "rank")
            .localCheckpoint()
        } finally graft.io.FsUtil.deleteRecursively(idx)
      },
      Some {
        import graft.functions.{PolyHash, Rounding}
        s"""WITH e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |e2 AS MATERIALIZED (
           |  SELECT vec_id, CASE WHEN vec_id % 25 = 7
           |    THEN list_transform(v, x -> x * 0.5) ELSE v END AS v
           |  FROM e),
           |ipick AS (
           |  SELECT vec_id, v FROM (
           |    SELECT vec_id, v,
           |      ${PolyHash.duckSql("'ivf#' || vec_id::VARCHAR")} AS h
           |    FROM e)
           |  ORDER BY h, vec_id LIMIT 16),
           |cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
           |  FROM ipick),
           |qcell AS (
           |  SELECT vec_id AS query_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rnk
           |    FROM e CROSS JOIN cents c WHERE e.vec_id < 5)
           |  WHERE rnk <= 4),
           |ccell AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT e2.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e2.vec_id
           |        ORDER BY list_dot_product(e2.v, c.cv) DESC, c.cid) AS rnk
           |    FROM e2 CROSS JOIN cents c)
           |  WHERE rnk = 1),
           |ppick AS (
           |  SELECT vec_id, v FROM (
           |    SELECT vec_id, v,
           |      ${PolyHash.duckSql("'pq#' || vec_id::VARCHAR")} AS h
           |    FROM e)
           |  ORDER BY h, vec_id LIMIT 16),
           |cwi AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
           |  FROM ppick),
           |js AS (SELECT unnest(range(8)) AS j),
           |cw AS (
           |  SELECT j.j, c.i, c.v[j.j*8+1 : j.j*8+8] AS cv
           |  FROM js j CROSS JOIN cwi c),
           |cc AS (SELECT j, i, list_dot_product(cv, cv) AS cc, cv FROM cw),
           |subsq AS (
           |  SELECT e.vec_id, j.j, e.v[j.j*8+1 : j.j*8+8] AS sub
           |  FROM e CROSS JOIN js j WHERE e.vec_id < 5),
           |subsc AS MATERIALIZED (
           |  SELECT e2.vec_id, j.j, e2.v[j.j*8+1 : j.j*8+8] AS sub
           |  FROM e2 CROSS JOIN js j),
           |enc AS (
           |  SELECT vec_id, j, cv FROM (
           |    SELECT s.vec_id, s.j, c.i, c.cv,
           |      row_number() OVER (PARTITION BY s.vec_id, s.j
           |        ORDER BY c.cc - 2*list_dot_product(s.sub, c.cv) ASC,
           |          c.i) AS rnk
           |    FROM subsc s JOIN cc c ON s.j = c.j)
           |  WHERE rnk = 1),
           |cand AS (
           |  SELECT q.query_id, c.vec_id AS neighbor_id
           |  FROM qcell q JOIN ccell c USING (cid)
           |  WHERE q.query_id <> c.vec_id),
           |scored AS (
           |  SELECT ca.query_id, ca.neighbor_id,
           |    ${Rounding.duckSql(
                  "sum(list_dot_product(qs.sub, en.cv))")} AS score
           |  FROM cand ca
           |  JOIN subsq qs ON qs.vec_id = ca.query_id
           |  JOIN enc en ON en.vec_id = ca.neighbor_id AND en.j = qs.j
           |  GROUP BY ca.query_id, ca.neighbor_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id, score,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, neighbor_id) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, score
           |FROM ranked WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin
      }))
}
