package graft.queries

import org.apache.spark.sql.functions._

import graft.ext.Ranking
import graft.functions.{Rounding, ZOrder}
import graft.io.Tables
import graft.streaming.{EventStreams, SentinelFiles, StreamGate}

/** Round-9 ninth wave: lambda-architecture reconciliation as a
  * first-class gate (q348 — the streaming path audited cell-by-cell
  * against the batch recompute) and the 2-D layout pruning audit
  * (q349 — where Z-order beats a single-column sort and where it
  * loses). Same contract as every other module: each Spark pipeline
  * pairs with DuckDB oracle SQL replaying it.
  */
object ExtensionQueries51 {

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q348: lambda reconcile — run the REAL streaming hourly
    // aggregation (EventStreams.hourlyCounts, watermark + RocksDB,
    // append mode flushed by the far-future sentinel) AND the batch
    // recompute of the same cells in one query, full-outer-join them
    // on (hour, event_type), and report per day how many cells
    // disagree (missing on either side, count drift, or sum drift).
    // StreamingSpec proves stream==batch as a TEST; this is the same
    // reconciliation a production lambda pipeline runs continuously,
    // shipped as an operator whose mismatch count the oracle pins to
    // ZERO — any streaming divergence (late-data loss, double
    // emission, unit drift) turns a 0 into a nonzero and the gate
    // red-flags. Cell frames are hour-domain sized.
    Q(
      "q348_lambda_reconcile",
      (s, dir) => {
        import s.implicits._
        val out = StreamGate.withScratch("graft_rec2_sentinel") { case Seq(sentinelDir) =>
          SentinelFiles.writeFlushSentinel(sentinelDir)
          val plan = EventStreams.hourlyCounts(
              EventStreams.readFlushed(s, dir, sentinelDir))
          StreamGate.toMemory(s, "rec", plan, "append")
        }
        val stream = out
          .where(col("event_type") =!= "__flush")
          .select(col("hour").cast("string").as("hour"),
            col("event_type"), col("n").as("sn"),
            col("sum_value").as("sv"))
        val batch = Tables.load(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).cast("string")
            .as("hour"), col("event_type"))
          .agg(count(lit(1)).as("bn"),
            round(sum("value"), 2).as("bv"))
        stream.join(batch, Seq("hour", "event_type"), "full_outer")
          .groupBy(to_date(col("hour")).as("day"))
          .agg(count(lit(1)).cast("long").as("n_cells"),
            sum(when(col("sn").isNull || col("bn").isNull ||
              col("sn") =!= col("bn") || col("sv") =!= col("bv"), 1L)
              .otherwise(0L)).as("n_mismatch"))
          .withColumn("consistent", col("n_mismatch") === 0L)
          .orderBy("day")
      },
      // the oracle replays the BATCH side and pins the reconciliation
      // verdict: zero mismatches (the q210 self-audit discipline — the
      // streaming half is the thing under test)
      Some("""SELECT CAST(date_trunc('hour', ts) AS DATE) AS day,
             |  CAST(count(DISTINCT (date_trunc('hour', ts), event_type))
             |    AS BIGINT) AS n_cells,
             |  CAST(0 AS BIGINT) AS n_mismatch,
             |  true AS consistent
             |FROM events
             |GROUP BY 1
             |ORDER BY day""".stripMargin)),

    // ------------------------------------------------------------------
    // q349: 2-D layout pruning — q341 measured one predicate family;
    // this measures the TRADE. Layouts: l_shipdate-sorted vs
    // Z-order(shipdate-day, partkey) (q101's stretch16+interleave16).
    // Zone maps carry (min, max) of BOTH dims per 64-file split;
    // probe families: date-range only, partkey-range only, and
    // conjunctive date∧partkey rectangles. Expected shape — the reason
    // Delta/Iceberg OPTIMIZE ZORDER exists: the single-column sort
    // wins its own dimension outright but degrades to a FULL scan on
    // the other; Z-order pays a small factor on each dimension to
    // serve BOTH (and conjunctions multiply its savings). File
    // assignment is the two-pass global rank on each layout key; all
    // boundaries are exact integer/string comparisons.
    Q(
      "q349_zorder_2d_pruning",
      (s, dir) => {
        val li0 = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"),
            col("l_shipdate").cast("date").as("sdt"))
        val mm = li0.agg(min("sdt").as("d0"), max("sdt").as("d1"),
          max("l_partkey").as("pk")).head()
        val d0 = mm.getDate(0).toString
        val maxDays = mm.getDate(1).toLocalDate.toEpochDay -
          mm.getDate(0).toLocalDate.toEpochDay
        val maxPk = mm.getLong(2)
        val li = li0
          .withColumn("sd", col("sdt").cast("string"))
          .withColumn("dd", datediff(col("sdt"), lit(d0)).cast("long"))
          .drop("sdt")
        val zval = ZOrder.interleave16(
          ZOrder.stretch16(col("dd"), maxDays),
          ZOrder.stretch16(col("l_partkey"), maxPk))
        // probe families (all bounds exact: ISO-string dates, long keys)
        val dateProbes = Seq(("1996-01-01", "1996-03-31"),
          ("1998-06-01", "1998-08-31"), ("2000-09-01", "2000-11-30"))
        val pkProbes = Seq((maxPk / 10, maxPk * 2 / 10),
          (maxPk * 45 / 100, maxPk * 55 / 100),
          (maxPk * 8 / 10, maxPk * 9 / 10))
        val bothProbes = dateProbes.zip(pkProbes)
        def zones(name: String, sortCols: Seq[org.apache.spark.sql.Column]) = {
          val (ranked, n) = Ranking.withGlobalRankAndCount(li
            .withColumn("z", zval), sortCols)
          ranked
            .withColumn("f", expr(s"(global_rank - 1) * 64 DIV ${n}L"))
            .groupBy("f")
            .agg(min("sd").as("dlo"), max("sd").as("dhi"),
              min("l_partkey").as("plo"), max("l_partkey").as("phi"))
            .withColumn("layout", lit(name))
        }
        // sd closes both sort tuples: stretch16 buckets collapse
        // distinct dates to one z, and rank totality needs the full row
        val allZones = zones("shipdate_sorted",
            Seq(col("sd"), col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey")))
          .unionAll(zones("zorder",
            Seq(col("z"), col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey"), col("sd"))))
          .localCheckpoint()
        def family(fam: String, touched: org.apache.spark.sql.Column,
                   nProbes: Int) =
          allZones.groupBy("layout")
            .agg(Rounding.stableRound6(touched.cast("double") / nProbes)
              .as("avg_files_touched"))
            .withColumn("family", lit(fam))
        val dateTouch = dateProbes.map { case (lo, hi) =>
          sum(when(lit(lo) <= col("dhi") && lit(hi) >= col("dlo"), 1L)
            .otherwise(0L)) }.reduce(_ + _)
        val pkTouch = pkProbes.map { case (lo, hi) =>
          sum(when(lit(lo) <= col("phi") && lit(hi) >= col("plo"), 1L)
            .otherwise(0L)) }.reduce(_ + _)
        val bothTouch = bothProbes.map { case ((dlo, dhi), (plo, phi)) =>
          sum(when(lit(dlo) <= col("dhi") && lit(dhi) >= col("dlo") &&
            lit(plo) <= col("phi") && lit(phi) >= col("plo"), 1L)
            .otherwise(0L)) }.reduce(_ + _)
        family("date_range", dateTouch, 3)
          .unionAll(family("partkey_range", pkTouch, 3))
          .unionAll(family("date_and_partkey", bothTouch, 3))
          .select(col("layout"), col("family"), col("avg_files_touched"))
          .orderBy("layout", "family")
      },
      Some {
        val dateProbes = Seq(("1996-01-01", "1996-03-31"),
          ("1998-06-01", "1998-08-31"), ("2000-09-01", "2000-11-30"))
        def dtch(i: Int) = {
          val (lo, hi) = dateProbes(i)
          s"('$lo' <= dhi AND '$hi' >= dlo)"
        }
        // partkey probe bounds: the same integer-tenths arithmetic as
        // the Spark side, via the mx scalar
        def pk(numer: Long, denom: Long) =
          s"((SELECT pk FROM mm) * $numer // $denom)"
        val pkB = Seq((pk(1, 10), pk(2, 10)), (pk(45, 100), pk(55, 100)),
          (pk(8, 10), pk(9, 10)))
        def ptch(i: Int) = {
          val (lo, hi) = pkB(i)
          s"($lo <= phi AND $hi >= plo)"
        }
        val dateTouch = (0 until 3)
          .map(i => s"sum(CASE WHEN ${dtch(i)} THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val pkTouch = (0 until 3)
          .map(i => s"sum(CASE WHEN ${ptch(i)} THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val bothTouch = (0 until 3)
          .map(i =>
            s"sum(CASE WHEN ${dtch(i)} AND ${ptch(i)} THEN 1 ELSE 0 END)")
          .mkString(" + ")
        def zonesSql(name: String, order: String) =
          s"""SELECT '$name' AS layout, f, min(sd) AS dlo, max(sd) AS dhi,
             |    min(l_partkey) AS plo, max(l_partkey) AS phi
             |  FROM (
             |    SELECT sd, l_partkey,
             |      (row_number() OVER (ORDER BY $order) - 1) * 64
             |        // (SELECT count(*) FROM li) AS f
             |    FROM li)
             |  GROUP BY f"""
        def famSql(fam: String, touch: String) =
          s"""SELECT layout, '$fam' AS family,
             |  ${Rounding.duckSql(s"($touch)::DOUBLE / 3")}
             |    AS avg_files_touched
             |FROM zones GROUP BY layout"""
        s"""WITH mm AS (
           |  SELECT min(l_shipdate) AS dmin,
           |    date_diff('day', min(l_shipdate), max(l_shipdate)) AS dmax,
           |    max(l_partkey) AS pk
           |  FROM lineitem),
           |li AS MATERIALIZED (
           |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |    strftime(l_shipdate, '%Y-%m-%d') AS sd,
           |    ${ZOrder.duckSql(
                  "(date_diff('day', (SELECT dmin FROM mm), l_shipdate)" +
                    " * 65536) // ((SELECT dmax FROM mm) + 1)",
                  "(l_partkey * 65536) // ((SELECT pk FROM mm) + 1)")}
           |      AS z
           |  FROM lineitem),
           |zones AS MATERIALIZED (
           |  ${zonesSql("shipdate_sorted",
                "sd, l_orderkey, l_linenumber, l_partkey, l_suppkey")}
           |  UNION ALL
           |  ${zonesSql("zorder",
                "z, l_orderkey, l_linenumber, l_partkey, l_suppkey, sd")})
           |${famSql("date_range", dateTouch)}
           |UNION ALL
           |${famSql("partkey_range", pkTouch)}
           |UNION ALL
           |${famSql("date_and_partkey", bothTouch)}
           |ORDER BY layout, family""".stripMargin
      }))
}
