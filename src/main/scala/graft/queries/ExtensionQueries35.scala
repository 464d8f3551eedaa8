package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{JaroWinkler, Rounding}
import graft.io.Tables
import DriverSide._

/** Round-8 tenth continuation wave: Jaro-Winkler blocked linkage on a
  * native codegen expression (q298), a distributed covariance sketch +
  * driver-side power iteration for the top principal component (q299),
  * and multi-lag autocorrelation with running Ljung-Box statistics
  * (q300). Same contract as every other module: each Spark pipeline
  * pairs with DuckDB oracle SQL replaying it.
  */
object ExtensionQueries35 {

  private val Dims = 16
  private val PowerIters = 48

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q298: Jaro-Winkler blocked near-title linkage — the record-linkage
    // scorer the Fellegi-Sunter matcher (q279) uses for name/title
    // fields, on the engine's own codegen'd expression
    // (graft.functions.JaroWinkler; Spark ships levenshtein but no JW).
    // Shape is the standard linkage pipeline: block on (lang, 8-char
    // prefix) so the pair space is equi-join-bounded (never all-pairs —
    // the same banding discipline as the MinHash/pHash families), score
    // the 40-char prefix with JW, keep pairs ≥ 0.75. The expression is
    // pinned byte-for-byte to DuckDB's jaro_winkler_similarity (UTF-8
    // byte semantics, 0.7 boost threshold, 4-byte prefix cap — see the
    // JaroWinkler scaladoc), so the raw double threshold compare and
    // the 1e-6 snap agree across engines with no grid tricks.
    Q(
      "q298_jw_blocked_pairs",
      (s, dir) => {
        val t = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            substring(col("text"), 1, 40).as("s40"),
            substring(col("text"), 1, 8).as("blk"))
        val a = t.select(col("doc_id").as("id_a"), col("lang"), col("blk"),
          col("s40").as("s_a"))
        val b = t.select(col("doc_id").as("id_b"), col("lang"), col("blk"),
          col("s40").as("s_b"))
        a.join(b, Seq("lang", "blk"))
          .where(col("id_a") < col("id_b"))
          .withColumn("jw", JaroWinkler(col("s_a"), col("s_b")))
          .where(col("jw") >= 0.75)
          .select(col("id_a"), col("id_b"),
            Rounding.stableRound6(col("jw")).as("jw"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, lang, substr(text, 1, 40) AS s40,
             |    substr(text, 1, 8) AS blk
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  floor(jaro_winkler_similarity(a.s40, b.s40) * 1000000 + 0.5)
             |    / 1000000 AS jw
             |FROM t a JOIN t b
             |  ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
             |WHERE jaro_winkler_similarity(a.s40, b.s40) >= 0.75
             |ORDER BY id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------------
    // q299: top principal component of the embedding block via the
    // covariance-sketch + driver-side power-iteration pattern — THE
    // 100-TB shape for spectral summaries: one distributed pass reduces
    // N rows to a d×d integer-exact Gram sketch (d²=256 longs, each
    // per-row term snapped to the 1e-9 grid so partial-agg order can't
    // drift it), and the eigen-iteration runs on the driver over 256
    // numbers — never over data. Fixed 48 power iterations from e1,
    // re-snapping the unit vector to 1e-9 after every normalize so the
    // Scala loop and the DuckDB recursive-CTE replay walk bit-identical
    // trajectories. With this fixture's closely-spaced spectrum
    // (λ2/λ1 ≈ 0.985) 48 iterations is NOT fully converged — the
    // residual column (‖Av−λv‖/λ) reports exactly how far off the
    // fixed-budget estimate is, the same self-audit discipline as the
    // q189 ANN recall and q210 rank-guarantee gates.
    Q(
      "q299_pca_power_sketch",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        // pass 1: per-dim snapped sums -> exact means
        val dims = sequence(lit(1), lit(Dims))
        val s9Rows = emb
          .select(explode(transform(dims, i => struct(i.as("i"),
            floor(element_at(col("embedding"), i).cast("double") *
              lit(1000000000.0) + lit(0.5)).as("x9")))).as("e"))
          .groupBy(col("e.i").cast("int").as("i"))
          .agg(sum("e.x9").as("s9"), count(lit(1)).as("n"))
          .collectBounded("embedding-dimension moment cells")
        val n = s9Rows.head.getLong(2)
        val mu = new Array[Double](Dims)
        s9Rows.foreach(r => mu(r.getInt(0) - 1) =
          r.getLong(1).toDouble / (n * 1000000000.0))
        val muArr = array(mu.toIndexedSeq.map(lit): _*)
        // pass 2: integer-exact covariance sketch (256 cells)
        val covRows = emb
          .select(explode(flatten(transform(dims, i =>
            transform(dims, j => struct(i.as("i"), j.as("j"),
              floor((element_at(col("embedding"), i).cast("double") -
                  element_at(muArr, i)) *
                (element_at(col("embedding"), j).cast("double") -
                  element_at(muArr, j)) *
                lit(1000000000.0) + lit(0.5)).cast("long").as("p9"))))))
            .as("e"))
          .groupBy(col("e.i").cast("int").as("i"),
            col("e.j").cast("int").as("j"))
          .agg(sum("e.p9").as("cov9"))
          .collectBounded("embedding-dimension covariance cells")
        val a = Array.ofDim[Double](Dims, Dims)
        covRows.foreach(r =>
          a(r.getInt(0) - 1)(r.getInt(1) - 1) = r.getLong(2).toDouble)
        // driver-side fixed-budget power iteration, 1e-9 snap per step
        def matvec(v: Array[Double]): Array[Double] =
          Array.tabulate(Dims) { i =>
            var acc = 0.0
            var j = 0
            while (j < Dims) { acc += a(i)(j) * v(j); j += 1 }
            acc
          }
        var v = Array.tabulate(Dims)(i => if (i == 0) 1.0 else 0.0)
        var it = 0
        while (it < PowerIters) {
          val raw = matvec(v)
          var nsq = 0.0
          var q = 0
          while (q < Dims) { nsq += raw(q) * raw(q); q += 1 }
          val nrm = math.sqrt(nsq)
          v = raw.map(r => math.floor(r / nrm * 1000000000.0 + 0.5) /
            1000000000.0)
          it += 1
        }
        val av = matvec(v)
        var vav = 0.0
        var vv = 0.0
        var tr = 0.0
        var q = 0
        while (q < Dims) {
          vav += v(q) * av(q); vv += v(q) * v(q); q += 1
        }
        q = 0
        while (q < Dims) { tr += a(q)(q); q += 1 }
        val lam = vav / vv
        var rsq = 0.0
        q = 0
        while (q < Dims) {
          val dq = av(q) - lam * v(q); rsq += dq * dq; q += 1
        }
        val share = math.floor(lam / tr * 1000000.0 + 0.5) / 1000000.0
        val resid = math.floor(math.sqrt(rsq) / lam * 1000000.0 + 0.5) /
          1000000.0
        val out = (1 to Dims).map(i => (i.toLong,
          math.floor(v(i - 1) * 1000000.0 + 0.5) / 1000000.0,
          share, resid))
        import s.implicits._
        out.toDF("dim", "loading", "var_share", "residual").orderBy("dim")
      },
      Some(s"""WITH x AS (
             |  SELECT vec_id, i, embedding[i]::DOUBLE AS x
             |  FROM embeddings, range(1, ${Dims + 1}) r(i)),
             |mu AS (
             |  SELECT i, sum(CAST(floor(x*1000000000.0+0.5) AS BIGINT))
             |      AS s9, count(*) AS n
             |  FROM x GROUP BY i),
             |c AS (
             |  SELECT xi.i AS i, xj.i AS j,
             |    sum(CAST(floor(
             |      (xi.x - mi.s9::DOUBLE/(mi.n*1000000000.0)) *
             |      (xj.x - mj.s9::DOUBLE/(mj.n*1000000000.0)) *
             |      1000000000.0 + 0.5) AS BIGINT)) AS cov9
             |  FROM x xi JOIN x xj ON xi.vec_id = xj.vec_id
             |  JOIN mu mi ON mi.i = xi.i JOIN mu mj ON mj.i = xj.i
             |  GROUP BY xi.i, xj.i),
             |amat AS (
             |  SELECT list(rowlist ORDER BY i) AS a
             |  FROM (SELECT i, list(cov9::DOUBLE ORDER BY j) AS rowlist
             |        FROM c GROUP BY i)),
             |pit AS (
             |  SELECT * FROM (
             |    WITH RECURSIVE pi AS (
             |      SELECT 0 AS k, list_transform(range(1, ${Dims + 1}),
             |        ii -> CASE WHEN ii = 1 THEN 1.0::DOUBLE
             |              ELSE 0.0::DOUBLE END) AS v
             |      UNION ALL
             |      SELECT k+1, list_transform(raw,
             |        xx -> floor(xx / nrm * 1000000000.0 + 0.5)
             |              / 1000000000.0)
             |      FROM (
             |        SELECT k, raw, sqrt(list_reduce(
             |          list_transform(raw, zz -> zz*zz),
             |          (p, q) -> p+q)) AS nrm
             |        FROM (
             |          SELECT pi.k AS k,
             |            list_transform(range(1, ${Dims + 1}), ii ->
             |              list_reduce(list_transform(
             |                range(1, ${Dims + 1}),
             |                jj -> a[ii][jj]*v[jj]), (p, q) -> p+q)) AS raw
             |          FROM pi, amat WHERE pi.k < $PowerIters) s1) s2)
             |    SELECT v FROM pi WHERE k = $PowerIters)),
             |fin AS (
             |  SELECT pit.v AS v,
             |    list_transform(range(1, ${Dims + 1}), ii ->
             |      list_reduce(list_transform(range(1, ${Dims + 1}),
             |        jj -> a[ii][jj]*(pit.v)[jj]), (p, q) -> p+q)) AS av,
             |    list_reduce(list_transform(range(1, ${Dims + 1}),
             |      ii -> a[ii][ii]), (p, q) -> p+q) AS tr
             |  FROM pit, amat),
             |fin2 AS (
             |  SELECT v, av, tr,
             |    list_reduce(list_transform(range(1, ${Dims + 1}),
             |      q -> v[q]*av[q]), (p, q) -> p+q)
             |    / list_reduce(list_transform(range(1, ${Dims + 1}),
             |      q -> v[q]*v[q]), (p, q) -> p+q) AS lam
             |  FROM fin)
             |SELECT i AS dim,
             |  floor(v[i]*1000000.0+0.5)/1000000.0 AS loading,
             |  floor(lam/tr*1000000.0+0.5)/1000000.0 AS var_share,
             |  floor(sqrt(list_reduce(list_transform(range(1, ${Dims + 1}),
             |      q -> (av[q]-lam*v[q])*(av[q]-lam*v[q])),
             |      (p, q) -> p+q)) / lam * 1000000.0 + 0.5)/1000000.0
             |    AS residual
             |FROM fin2, range(1, ${Dims + 1}) r(i)
             |ORDER BY dim""".stripMargin)),

    // ------------------------------------------------------------------
    // q300: multi-lag autocorrelation of the daily order series with a
    // running Ljung-Box portmanteau statistic — the time-series
    // whiteness diagnostic the q229 backtest / q266 seasonality family
    // was missing (is there ANY autocorrelation worth modeling, across
    // lags jointly, not just lag-1 as in q191?). Exact-integer core:
    // with n days and total S, every centered product is
    // (n·x_t − S)(n·x_{t+k} − S) — a LONG, summed exactly, so r_k =
    // num_k/den is one double division per lag. The Ljung-Box column
    // accumulates r²/(n−k) via an ordered running window (both engines
    // add ascending-k terms one at a time) over the already-snapped
    // r values. The window/row_number frames here are DAY-sized
    // (~2.4k rows post-aggregation), not data-sized — the unpartitioned
    // window is bounded by the calendar, same argument as q198/q203.
    Q(
      "q300_acf_ljung_box",
      (s, dir) => {
        val daily = Tables.load(s, dir, "orders")
          .groupBy(col("o_orderdate").as("d"))
          .agg(count(lit(1)).as("x"))
        val idx = daily
          .withColumn("t", row_number().over(Window.orderBy("d")))
          .select("t", "x")
        val st = idx.agg(count(lit(1)).as("n"), sum("x").as("s"))
        val y = idx.crossJoin(broadcast(st))
          .select(col("t"), (col("n") * col("x") - col("s")).as("y"),
            col("n"))
        val den = y.agg(sum(col("y") * col("y")).as("den"))
        val ks = s.range(1, 8).select(col("id").as("k"))
        val num = ks.crossJoin(y.select(col("t"), col("y")).as("a"))
          .join(y.select(col("t").as("tb"), col("y").as("yb")),
            col("tb") === col("t") + col("k"))
          .groupBy("k").agg(sum(col("y") * col("yb")).as("num"))
        val nRow = y.select(col("n")).limit(1)
        val r = num.crossJoin(broadcast(den)).crossJoin(broadcast(nRow))
          .select(col("k"), col("n"),
            Rounding.stableRound6(
              col("num").cast("double") / col("den").cast("double"))
              .as("acf"))
        r.withColumn("ljung_box",
            Rounding.stableRound6(
              (col("n").cast("double") * (col("n") + lit(2)).cast("double")) *
                sum(col("acf") * col("acf") /
                  (col("n") - col("k")).cast("double"))
                  .over(Window.orderBy("k"))))
          .select(col("k").as("lag"), col("acf"), col("ljung_box"))
          .orderBy("lag")
      },
      Some("""WITH daily AS (
             |  SELECT o_orderdate AS d, count(*) AS x FROM orders
             |  GROUP BY 1),
             |idx AS (
             |  SELECT row_number() OVER (ORDER BY d) AS t, x FROM daily),
             |st AS (SELECT count(*) AS n, sum(x) AS s FROM idx),
             |y AS (
             |  SELECT t, (st.n*idx.x - st.s)::BIGINT AS y, st.n AS n
             |  FROM idx, st),
             |den AS (SELECT sum(y*y)::BIGINT AS den FROM y),
             |num AS (
             |  SELECT k, sum(a.y*b.y)::BIGINT AS num
             |  FROM range(1, 8) r(k)
             |  JOIN y a ON true JOIN y b ON b.t = a.t + k
             |  GROUP BY k),
             |r AS (
             |  SELECT k, a.n AS n,
             |    floor(num::DOUBLE/den::DOUBLE*1000000.0+0.5)/1000000.0
             |      AS acf
             |  FROM num, den, (SELECT max(n) AS n FROM y) a)
             |SELECT CAST(k AS BIGINT) AS lag, acf,
             |  floor((n::DOUBLE*(n+2)::DOUBLE) *
             |    sum(acf*acf/(n-k)::DOUBLE) OVER (ORDER BY k)
             |    * 1000000.0 + 0.5)/1000000.0 AS ljung_box
             |FROM r ORDER BY lag""".stripMargin)))
}
