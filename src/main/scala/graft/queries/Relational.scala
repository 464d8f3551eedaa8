package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rounding
import graft.io.Tables

/** The relational operator surface (SURVEY.md §2b): scans, filter/project
  * pushdown, hash/broadcast/semi/anti joins, aggregation, windows, rollup/
  * cube, set ops, sorts/limits, scalar/date/JSON functions, subquery
  * patterns. The reference has none of these (its only operators are the 16
  * MapReduce steps in SURVEY.md §2a); they come from Catalyst built-ins, and
  * these queries pin their semantics against the DuckDB oracle.
  *
  * Scale notes (100 TB design point, judged — see each query's comment):
  * small dimension tables (region/nation/supplier/part at fixture scale;
  * anything « executor memory at full scale) are broadcast explicitly so the
  * fact-table scan never shuffles for the join; fact-fact joins shuffle on
  * the join key where Spark's sort-merge + AQE skew handling is the right
  * strategy. Filters and projections stay in plain `Column` expressions so
  * they reach the parquet reader as PushedFilters/ReadSchema.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q01: full-scan aggregation (TPC-H Q1 shape). One shuffle, partial
    // aggregation map-side; at 100 TB this is the canonical scan-bound
    // query — no join, grouping key cardinality ~6.
    Q(
      "q01_pricing_summary",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum("l_quantity").as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
              .as("sum_disc_price"),
            // r8 sf0.1 sweep find: round(sum, 6) on a ~4e9 total is
            // SUB-ULP — the 1e-6 grid (5e-7 half-step) is finer than the
            // double's ulp at that magnitude (~4.8e-7), so the engines'
            // last-ulp accumulation drift becomes visible in the output.
            // Re-minted on the integer-cents discipline: every factor is
            // 2-dec-exact, so price¢·(100−disc¢)·(100+tax¢) is the exact
            // charge in 1e-6 units; DECIMAL(38,0) summation is exact at
            // any scale (LONG would overflow past ~6e17), and both
            // engines cast the SAME exact integer to double before one
            // shared division
            (sum((round(col("l_extendedprice") * 100).cast("long") *
              round((lit(1) - col("l_discount")) * 100).cast("long") *
              round((lit(1) + col("l_tax")) * 100).cast("long"))
              .cast("decimal(38,0)")).cast("double") / 1000000.0)
              .as("sum_charge"),
            // r7 money audit: the avg columns are arbitrary rationals
            // (sum/count), where round() itself is the cross-engine
            // hazard — and avg(2-dec price) also accumulates doubles in
            // engine-specific order UPSTREAM of the rounding. avg_qty's
            // numerator is a sum of integral doubles (exact, order-free);
            // avg_price's is re-minted as exact integer cents; both then
            // divide and stableRound — every op bit-identical by
            // construction in both engines.
            Rounding.stableRound(sum("l_quantity") / count(lit(1)), 4)
              .as("avg_qty"),
            Rounding.stableRound(
              sum(round(col("l_extendedprice") * 100).cast("long"))
                .cast("double") / (count(lit(1)) * 100).cast("double"), 4)
              .as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
             |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             |    * CAST(round((1 - l_discount) * 100) AS BIGINT)
             |    * CAST(round((1 + l_tax) * 100) AS BIGINT))::DOUBLE
             |    / 1000000.0 AS sum_charge,
             |  ${Rounding.duckSql("sum(l_quantity) / count(*)", 4)} AS avg_qty,
             |  ${Rounding.duckSql(
                  "sum(CAST(round(l_extendedprice * 100) AS BIGINT))::DOUBLE" +
                    " / (count(*) * 100)", 4)} AS avg_price,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ------------------------------------------------------------------
    // q02: filter + narrow projection. The point at scale: .explain must
    // show PushedFilters on l_shipdate/l_discount and a 5-column
    // ReadSchema — the scan reads ~1/3 of the table's bytes.
    Q(
      "q02_filter_project",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp")
            && col("l_discount") > 0.05)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '2001-01-01' AND l_discount > 0.05
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ------------------------------------------------------------------
    // q03: 3-way join (TPC-H Q3 shape). customer is the small side of
    // customer⋈orders → broadcast; orders⋈lineitem is fact-fact → shuffle
    // on orderkey (sort-merge at scale, AQE may downgrade to broadcast at
    // small SF). Top-10 by revenue.
    Q(
      "q03_shipping_priority",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
          .orderBy(desc("revenue"), col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
             |  AND l_orderkey = o_orderkey
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate > TIMESTAMP '1998-01-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // q04: EXISTS → left-semi join (no row multiplication, lineitem side
    // only needs the join key after pushdown).
    Q(
      "q04_order_priority",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        o.join(li, o("o_orderkey") === li("l_orderkey")
            && li("l_shipdate") > o("o_orderdate"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ------------------------------------------------------------------
    // q05: 6-table star join (TPC-H Q5 shape). region/nation/supplier/
    // customer are all broadcast (dimension tables — customer is ~15k rows
    // at sf0.1 and left un-hinted it flapped to a shuffle join under AQE,
    // r02 bench regression 1.33s→3.31s); only orders⋈lineitem shuffles.
    // PlanSpec pins the single-exchange shape.
    Q(
      "q05_local_supplier_volume",
      (s, dir) => {
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val su = t(s, dir, "supplier")
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val li = t(s, dir, "lineitem")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey")
            && c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      },
      Some("""SELECT n_name,
             |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // q06: selective scalar aggregate (TPC-H Q6). Fully pushed-down scan,
    // no shuffle at all (single-value partial agg).
    Q(
      "q06_forecast_revenue",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
            && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
            && col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
            .as("revenue")),
      Some("""SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1997-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // ------------------------------------------------------------------
    // q07: window function — top-3 lineitems per supplier. One shuffle on
    // l_suppkey; rank pushes the per-group sort into the window operator
    // (no global sort). Full tiebreak for determinism.
    Q(
      "q07_window_topk_per_supplier",
      (s, dir) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        t(s, dir, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("l_suppkey", "rn", "l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy("l_suppkey", "rn")
      },
      Some("""SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice
             |FROM (
             |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             |    row_number() OVER (PARTITION BY l_suppkey
             |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
             |  FROM lineitem)
             |WHERE rn <= 3
             |ORDER BY l_suppkey, rn""".stripMargin)),

    // ------------------------------------------------------------------
    // q08: distinct (shuffle dedup on the composite key).
    Q(
      "q08_distinct_segments",
      (s, dir) =>
        t(s, dir, "customer")
          .select("c_mktsegment", "c_nationkey")
          .distinct()
          .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey
             |FROM customer
             |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q09: global sort + limit → Spark plans TakeOrderedAndProject: each
    // partition keeps its local top-100, driver merges — no full sort at
    // scale.
    Q(
      "q09_top_orders",
      (s, dir) =>
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
          .limit(100),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey
             |LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // q10: set operation (INTERSECT = shuffle-dedup both sides; Spark
    // plans it as an aggregate + semi join).
    Q(
      "q10_intersect_custkeys",
      (s, dir) => {
        val withOrders = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
        val richCust = t(s, dir, "customer")
          .filter(col("c_acctbal") > 1000)
          .select(col("c_custkey").as("custkey"))
        withOrders.intersect(richCust).orderBy("custkey")
      },
      Some("""SELECT custkey FROM (
             |  SELECT o_custkey AS custkey FROM orders
             |  INTERSECT
             |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 1000)
             |ORDER BY custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q11: rollup (grouping sets). NULLS FIRST pinned on both sides —
    // Spark defaults nulls-first ASC, DuckDB defaults nulls-last.
    Q(
      "q11_rollup_qty",
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty, count(*) AS n
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // ------------------------------------------------------------------
    // q12: date bucketing (monthly). date_trunc stays a scalar expression
    // → partition-prunable at scale if the table were date-partitioned.
    Q(
      "q12_monthly_orders",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy("month"),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             |  count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders
             |GROUP BY 1
             |ORDER BY month""".stripMargin)),

    // ------------------------------------------------------------------
    // q13: JSON extraction from the events.props string column.
    Q(
      "q13_json_props",
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  count(*) AS n
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q14: conditional aggregation (promo revenue share, TPC-H Q14 shape).
    // part is broadcast: a pure map-side join + one scalar agg.
    Q(
      "q14_promo_revenue",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
        val p = t(s, dir, "part")
        val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .agg(round(
            lit(100) * sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0)))
              / sum(disc), 6).as("promo_share"))
      },
      Some("""SELECT round(100 * sum(CASE WHEN p_type = 'PROMO'
             |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             |  / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share
             |FROM lineitem, part
             |WHERE l_partkey = p_partkey
             |  AND l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin)),

    // ------------------------------------------------------------------
    // q15: scalar string functions (projection-only, codegen'd, no shuffle).
    Q(
      "q15_string_funcs",
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            upper(col("p_name")).as("uname"),
            length(col("p_name")).as("name_len"),
            substring(col("p_type"), 1, 3).as("type3"),
            concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_name) AS uname, length(p_name) AS name_len,
             |  substring(p_type, 1, 3) AS type3,
             |  concat_ws('/', p_brand, p_type) AS brand_type
             |FROM part
             |ORDER BY p_partkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q16: HAVING (post-aggregation filter).
    Q(
      "q16_busy_suppliers",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
          .filter(col("n") > 50)
          .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey, count(*) AS n, sum(l_quantity) AS sum_qty
             |FROM lineitem
             |GROUP BY l_suppkey
             |HAVING count(*) > 50
             |ORDER BY l_suppkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q17: per-key average threshold (TPC-H Q17's correlated subquery,
    // expressed as agg + broadcast join — same semantics, join-reorder
    // friendly; avg of integral doubles is exact so the comparison is
    // engine-stable).
    Q(
      "q17_small_quantity_revenue",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = t(s, dir, "part").filter(col("p_brand") === "Brand#23")
        // avgQ has one row per distinct partkey — it SCALES with the
        // table, so no broadcast hint (the planner shuffles it; at 100 TB
        // that's a sort-merge join on partkey). Only the brand-filtered
        // part slice is hinted.
        val avgQ = li.groupBy(col("l_partkey").as("ap_partkey"))
          .agg(avg("l_quantity").as("avg_qty"))
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .join(avgQ, li("l_partkey") === avgQ("ap_partkey"))
          .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
          // r7 money audit: sum/7.0 is an arbitrary rational — mint the
          // numerator as exact integer cents (order-free LONG sum), keep
          // the division + stableRound identical in both engines. The
          // avg_qty filter threshold is already exact: integral-double
          // sums divide identically engine-to-engine.
          .agg(Rounding.stableRound(
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .cast("double") / 700.0, 4).as("avg_yearly"))
      },
      Some(s"""SELECT ${Rounding.duckSql(
                "sum(CAST(round(l_extendedprice * 100) AS BIGINT))::DOUBLE / 700.0",
                4)} AS avg_yearly
             |FROM lineitem, part
             |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
             |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
             |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // ------------------------------------------------------------------
    // q18: large-order customers (TPC-H Q18 shape): agg-filter on the fact
    // table, then join back. The having-side aggregate shrinks the join
    // input before any wide row is built.
    Q(
      "q18_large_orders",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val big = li.groupBy(col("l_orderkey").as("big_orderkey"))
          .agg(sum("l_quantity").as("sum_qty"))
          .filter(col("sum_qty") > 250)
        o.join(big, o("o_orderkey") === big("big_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
      },
      Some("""SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
             |FROM orders
             |JOIN (SELECT l_orderkey AS big_orderkey, sum(l_quantity) AS sum_qty
             |      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) big
             |  ON o_orderkey = big_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q19: NOT EXISTS → left-anti join (customers with no pending order).
    Q(
      "q19_customers_without_orders",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // q20: cube (all grouping-set combinations).
    Q(
      "q20_cube_orders",
      (s, dir) =>
        t(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders
             |GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // ------------------------------------------------------------------
    // q63: unpivot/melt — the inverse of q26's pivot (wide measure
    // columns → long (measure, value) rows) via the native
    // Dataset.unpivot, which plans as a single Expand over the scan (no
    // shuffle, no N-way self-union scan). Oracle replays as UNION ALL.
    Q(
      "q63_unpivot_measures",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") <= 100)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            "measure", "value")
          .orderBy("l_orderkey", "l_linenumber", "measure"),
      Some("""SELECT l_orderkey, l_linenumber, measure, value FROM (
             |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
             |  FROM lineitem WHERE l_orderkey <= 100
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
             |  FROM lineitem WHERE l_orderkey <= 100
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
             |  FROM lineitem WHERE l_orderkey <= 100)
             |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),

    // ------------------------------------------------------------------
    // q21: tumbling time window over events (batch form; the streaming
    // form lives in graft.streaming with identical grouping semantics).
    Q(
      "q21_events_hourly",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
          .orderBy("hour", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             |  count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY hour, event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // q22: union-all + conditional dedup: one unified activity ledger from
    // orders and events (schema-aligned union, a common lakehouse shape).
    Q(
      "q22_union_activity",
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_custkey").as("actor_id"),
          lit("order").as("kind"),
          col("o_totalprice").as("amount"))
        val e = t(s, dir, "events").filter(col("event_type") === "purchase")
          .select(
            col("user_id").as("actor_id"),
            lit("purchase_event").as("kind"),
            col("value").as("amount"))
        o.unionByName(e)
          .groupBy("actor_id", "kind")
          .agg(count(lit(1)).as("n"), round(sum("amount"), 2).as("total"))
          .orderBy("actor_id", "kind")
      },
      Some("""SELECT actor_id, kind, count(*) AS n, round(sum(amount), 2) AS total
             |FROM (
             |  SELECT o_custkey AS actor_id, 'order' AS kind, o_totalprice AS amount
             |  FROM orders
             |  UNION ALL
             |  SELECT user_id AS actor_id, 'purchase_event' AS kind, value AS amount
             |  FROM events WHERE event_type = 'purchase')
             |GROUP BY actor_id, kind
             |ORDER BY actor_id, kind""".stripMargin))
  )
}
