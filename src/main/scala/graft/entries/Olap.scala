package graft
package entries

import graft.operators.Relational
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Relational OLAP entries over the TPC-H tables. */
object Olap {
  val entries: Seq[Entry] = Seq(
    // X5 bucketed storage layout: orders + lineitem written bucketBy(16)
    // on the order key, then joined exchange-free (the buckets ARE the
    // shuffle output — the one-time layout decision that deletes the
    // dominant repeated-join cost at 100 TB; plan pinned in JoinsSpec).
    // Correctness gate = the join itself against a plain SQL oracle.
    // Relational OLAP o1: TPC-H Q1-shape pricing summary — the canonical
    // scan-heavy aggregate over the LARGEST fact table: pushed shipdate
    // predicate, map-side partials into a 4-group exchange, exact decimal
    // money sums (double division only for the averages)
    Entry("o1_pricing_summary", (s, d) =>
      Relational.pricingSummary(lineitemWide(s, d)),
      // o1-o3: money sums accumulate as DECIMAL (exact, order-free) with
      // the per-row double products written in the SAME left-to-right
      // order Spark evaluates; averages divide as double on both sides
      "SELECT l_returnflag, l_linestatus, " +
        "round(sum(l_quantity::DECIMAL(28,10)), 2)::DOUBLE AS sum_qty, " +
        "round(sum(l_extendedprice::DECIMAL(28,10)), 2)::DOUBLE AS sum_base_price, " +
        "round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(28,10)), 2)::DOUBLE AS sum_disc_price, " +
        "round(sum((l_extendedprice * (1 - l_discount) * (1 + l_tax))::DECIMAL(28,10)), 2)::DOUBLE AS sum_charge, " +
        "sum(l_quantity::DECIMAL(28,10))::DOUBLE / count(*) AS avg_qty, " +
        "sum(l_discount::DECIMAL(28,10))::DOUBLE / count(*) AS avg_disc, " +
        "count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // Relational OLAP o2: Q3-shape top-10 open-order revenue in a market
    // segment — the selective customer dim broadcasts, revenue ranks on
    // the exact decimal sum (deterministic top-k boundary), TakeOrdered
    Entry("o2_top_orders", (s, d) =>
      Relational.topOrderRevenue(s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d)),
      "WITH c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'), " +
        "l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp " +
        "FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-01 00:00:00'), " +
        "o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority " +
        "FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01 00:00:00'), " +
        "g AS (SELECT l_orderkey, o_orderdate, o_orderpriority, " +
        "sum(dp::DECIMAL(28,10)) AS rev FROM l " +
        "JOIN o ON l_orderkey = o_orderkey JOIN c ON o_custkey = c_custkey " +
        "GROUP BY 1, 2, 3) " +
        "SELECT l_orderkey, round(rev, 2)::DOUBLE AS revenue, o_orderdate, o_orderpriority " +
        "FROM g ORDER BY rev DESC, l_orderkey LIMIT 10"),

    // Relational OLAP o3: Q5-shape revenue by customer nation × order year
    // — two broadcast dims + ONE co-keyed fact-fact shuffle on orderkey
    Entry("o3_nation_revenue", (s, d) =>
      nationRevenueReport(s, d)(Relational.nationRevenue),
      nationRevenueSql("GROUP BY 1, 2 ORDER BY 1, 2")),

    // Relational OLAP o6: the nation×year report with ROLLUP subtotals —
    // all three levels (nation-year, nation, grand total) from ONE Expand
    // + aggregate pass; null ordering pinned NULLS FIRST on both engines
    Entry("o6_rollup_report", (s, d) =>
      nationRevenueReport(s, d)(Relational.nationRevenueRollup),
      nationRevenueSql("GROUP BY ROLLUP (n_name, order_year) " +
        "ORDER BY n_name ASC NULLS FIRST, order_year ASC NULLS FIRST")),

    // Relational OLAP o33: EXPLICIT grouping sets — just the two
    // independent marginals ((nation), (year)), the shape neither
    // rollup (prefixes) nor cube (all subsets) expresses alone; Expand
    // factor exactly |sets| = 2, one aggregate pass for both axes
    Entry("o33_grouping_sets", (s, d) =>
      nationRevenueReport(s, d)(Relational.nationRevenueGroupingSets),
      // o33: the identical join chain under GROUPING SETS ((n), (y))
      nationRevenueSql("GROUP BY GROUPING SETS ((n_name), (order_year)) " +
        "ORDER BY n_name ASC NULLS FIRST, order_year ASC NULLS FIRST")),

    // Relational OLAP o34: top-5 brands + the Other residual row so
    // shares close to 100% (a bare top-k silently drops the tail); the
    // fact collapses ONCE to the per-brand table, localCheckpoint'd for
    // its three readers — never re-scanned per branch
    Entry("o34_top_brands_other", (s, d) =>
      Relational.topBrandsWithOther(lineitemWide(s, d),
        s.read.parquet(s"$d/part.parquet")),
      // o34: the same per-brand cents table, top-5 by (rev desc, brand),
      // Other = total − Σ top, DECIMAL-widened floor-div shares
      "WITH pb AS (SELECT p_brand AS brand, " +
        "sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS rev " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1), " +
        "t AS (SELECT sum(rev)::HUGEINT AS tot FROM pb), " +
        "top AS (SELECT brand, rev, rank FROM " +
        "(SELECT brand, rev, row_number() OVER (ORDER BY rev DESC, brand) AS rank FROM pb) " +
        "WHERE rank <= 5), " +
        "oth AS (SELECT 6 AS rank, 'Other' AS brand, " +
        "(tot - (SELECT sum(rev) FROM top))::BIGINT AS rev FROM t) " +
        "SELECT rank::BIGINT AS rank, brand, rev AS rev_cents, " +
        "((rev::HUGEINT * 1000000) // tot)::BIGINT AS share_e6 " +
        "FROM (SELECT rank, brand, rev FROM top UNION ALL SELECT * FROM oth), t " +
        "ORDER BY rank"),

    // Relational OLAP o35: brands-bought-together — support, directed
    // confidence, and LIFT in exact floor-div micros over per-order
    // distinct brand pairs (self-join co-partitioned on the order key —
    // bounded-quadratic per basket, never all-pairs across orders);
    // lift's triple product DECIMAL-widened, top-20 by lift
    Entry("o35_basket_lift", (s, d) =>
      Relational.brandBasketLift(lineitemWide(s, d),
        s.read.parquet(s"$d/part.parquet")),
      // o35: the same distinct-basket pair counts, singles, and basket
      // total; confidence and lift in HUGEINT floor-div micros, outputs
      // pinned ::BIGINT (the o30 lesson — HUGEINT ships as decimal128)
      "WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey), " +
        "t AS (SELECT count(DISTINCT okey)::BIGINT AS n FROM ob), " +
        "s AS (SELECT brand, count(*)::BIGINT AS c1 FROM ob GROUP BY 1), " +
        "p AS (SELECT a.brand AS brand_a, b.brand AS brand_b, count(*)::BIGINT AS support " +
        "FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand " +
        "GROUP BY 1, 2 HAVING count(*) >= 50) " +
        "SELECT brand_a, brand_b, support, " +
        "((support::HUGEINT * 1000000) // sa.c1)::BIGINT AS conf_ab_e6, " +
        "((support::HUGEINT * n * 1000000) // (sa.c1::HUGEINT * sb.c1))::BIGINT AS lift_e6 " +
        "FROM p JOIN s sa ON p.brand_a = sa.brand JOIN s sb ON p.brand_b = sb.brand, t " +
        "ORDER BY lift_e6 DESC, brand_a, brand_b LIMIT 20"),

    // Relational OLAP o4: Q17-shape correlated aggregate — revenue of
    // line items below half their part's average quantity, declared as
    // the decorrelated per-part-aggregate + equi-join Catalyst rewrites
    // the subquery form into
    Entry("o4_small_qty_revenue", (s, d) =>
      Relational.smallQuantityRevenue(lineitemWide(s, d)),
      "WITH pp AS (SELECT l_partkey, " +
        "sum(l_quantity::DECIMAL(28,10))::DOUBLE / count(*) AS avg_qty " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT round(sum(l_extendedprice::DECIMAL(28,10)), 2)::DOUBLE AS small_qty_revenue, " +
        "count(*) AS n_items FROM lineitem JOIN pp USING (l_partkey) " +
        "WHERE l_quantity < 0.5 * avg_qty"),

    // Relational OLAP o5: ranked-window analytics — each customer's top-2
    // orders by total price; the rank predicate plans as a partial
    // WindowGroupLimit below the shuffle (plan-pinned)
    Entry("o5_top_orders_per_cust", (s, d) =>
      Relational.topOrdersPerCustomer(s.read.parquet(s"$d/orders.parquet"))
        .orderBy("o_custkey", "rank"),
      "WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank " +
        "FROM orders) " +
        "SELECT o_custkey, rank::BIGINT AS rank, o_orderkey, o_totalprice " +
        "FROM r WHERE rank <= 2 ORDER BY o_custkey, rank"),

    // Relational OLAP o7: EXISTS / NOT-EXISTS — 1996's orders bucketed by
    // whether any line item was returned; declared as the left_semi /
    // left_anti joins Catalyst decorrelates the subqueries into, probe
    // side ids-only (plan-pinned: no cartesian, no post-join distinct)
    Entry("o7_returned_breakdown", (s, d) =>
      Relational.returnedOrderBreakdown(s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d)),
      // o7: the EXISTS / NOT EXISTS pair in its native SQL form — DuckDB
      // plans the subqueries itself; the engine side declares the
      // decorrelated semi/anti joins directly
      "WITH o AS (SELECT o_orderkey, o_orderpriority FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00') " +
        "SELECT 'returned' AS bucket, o_orderpriority, count(*) AS n_orders FROM o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_returnflag = 'R') GROUP BY 2 " +
        "UNION ALL " +
        "SELECT 'clean' AS bucket, o_orderpriority, count(*) AS n_orders FROM o " +
        "WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_returnflag = 'R') GROUP BY 2 " +
        "ORDER BY bucket, o_orderpriority"),

    // Relational OLAP o10: FRAME-aggregate window analytics — running
    // revenue total + 3-order moving average per customer (the ranking
    // class is o5; frames are the other half). Both frames evaluate
    // incrementally (O(n) per key); sums accumulate in DECIMAL so every
    // frame-fold order agrees across engines
    Entry("o10_running_revenue", (s, d) =>
      Relational.customerRunningRevenue(s.read.parquet(s"$d/orders.parquet")),
      // o10: frame sums in DECIMAL on both engines — running double sums
      // are frame-fold-order-dependent (incremental add vs segment tree),
      // exact decimal is not; the moving average divides exact sum by the
      // frame count as DOUBLE
      "SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, " +
        "(sum(o_totalprice::DECIMAL(18,6)) OVER w_run)::DOUBLE AS run_total, " +
        "(sum(o_totalprice::DECIMAL(18,6)) OVER w_mov)::DOUBLE / count(*) OVER w_mov AS mov_avg3 " +
        "FROM orders " +
        "WINDOW w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS UNBOUNDED PRECEDING), " +
        "w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) " +
        "ORDER BY o_custkey, o_orderdate, o_orderkey"),

    // Relational OLAP o9: buyer-cohort SET OPERATIONS — native
    // intersect/except (distinct-aggregate + semi/anti join, the
    // bag-to-set semantics o7's EXISTS deliberately does not apply);
    // customers in both 1995 and 1996 vs churned after 1995
    Entry("o9_buyer_cohorts", (s, d) =>
      Relational.buyerCohorts(s.read.parquet(s"$d/orders.parquet")),
      "WITH b1 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995), " +
        "b2 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996) " +
        "SELECT 'both' AS cohort, o_custkey FROM " +
        "(SELECT o_custkey FROM b1 INTERSECT SELECT o_custkey FROM b2) " +
        "UNION ALL SELECT 'churned' AS cohort, o_custkey FROM " +
        "(SELECT o_custkey FROM b1 EXCEPT SELECT o_custkey FROM b2) " +
        "ORDER BY cohort, o_custkey"),

    // O11 TPC-H Q13-shape: the join-fan-out histogram — customers bucketed
    // by how many qualifying orders they placed, INCLUDING the zero bucket
    // only an outer join can produce; fact side pre-aggregated to one row
    // per buyer BELOW the join (plan-pinned)
    Entry("o11_order_count_dist", (s, d) =>
      Relational.orderCountDistribution(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet")),
      // o11: the decorrelated Q13 form — qualifying-order counts per
      // buyer, LEFT-joined to customer so zero-order customers survive,
      // then the distribution over the counts
      "WITH q AS (SELECT o_custkey, count(*) AS c_count FROM orders " +
        "WHERE o_orderpriority <> '1-URGENT' AND year(o_orderdate) = 1995 " +
        "GROUP BY 1) " +
        "SELECT coalesce(c_count, 0) AS c_count, count(*) AS custdist " +
        "FROM customer LEFT JOIN q ON c_custkey = o_custkey " +
        "GROUP BY 1 ORDER BY custdist DESC, c_count DESC"),

    // O12 TPC-H Q22-shape: scalar-subquery threshold + NOT EXISTS —
    // customers above the positive-balance average with no orders since
    // the cutoff, per nation. The average gate is the EXACT rearranged
    // form balance × n > Σ (decimal), never a divided average
    Entry("o12_inactive_rich", (s, d) =>
      Relational.inactiveRichCustomers(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet")),
      // o12: scalar threshold + anti join; the average gate mirrors the
      // engine's exact rearranged form (balance × n > Σ in DECIMAL)
      "WITH s AS (SELECT sum(c_acctbal::DECIMAL(28,10)) AS sum_bal, " +
        "count(*) AS n_bal FROM customer WHERE c_acctbal > 0), " +
        "rich AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer, s " +
        "WHERE c_acctbal::DECIMAL(28,10) * n_bal > sum_bal), " +
        "inact AS (SELECT c_nationkey, c_acctbal FROM rich " +
        "ANTI JOIN (SELECT o_custkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') a " +
        "ON c_custkey = o_custkey) " +
        "SELECT c_nationkey, count(*) AS numcust, " +
        "round(sum(c_acctbal::DECIMAL(28,10)), 2)::DOUBLE AS totacctbal " +
        "FROM inact GROUP BY 1 ORDER BY 1"),

    // O13 TPC-H Q7-shape trade flows: cross-border revenue by supplier
    // region/nation × customer nation — nation joins TWICE under
    // different roles (both broadcast), region is the snowflake hop,
    // shipdate window pushed to the fact scan; exercises the supplier
    // and region tables
    Entry("o13_trade_flows", (s, d) =>
      Relational.tradeFlows(
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/region.parquet")),
      // o13: the snowflake double-role join recomputed naively; the
      // money sum follows the cents rule (exact decimal, round 2, cast)
      "WITH li AS (SELECT l_orderkey, l_suppkey, " +
        "l_extendedprice * (1 - l_discount) AS dp FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') " +
        "SELECT r_name AS supp_region, sn.n_name AS supp_nation, " +
        "cn.n_name AS cust_nation, " +
        "round(sum(dp::DECIMAL(28,10)), 2)::DOUBLE AS revenue, " +
        "count(*) AS n_items " +
        "FROM li " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "JOIN region ON sn.n_regionkey = r_regionkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "WHERE sn.n_name <> cn.n_name " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    // O14 TPC-H Q21-shape: the self-join decorrelation — EXISTS and
    // NOT EXISTS against the SAME lineitem fact, collapsed to one
    // per-order (n_supp, n_fail) aggregate whose qualifying ids
    // semi-join the failed candidates; the fact is never row-level
    // self-joined, no distinct stage
    Entry("o14_waiting_suppliers", (s, d) =>
      Relational.waitingSuppliers(
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet")),
      // o14: the honest correlated form — EXISTS and NOT EXISTS as
      // subqueries against the same fact; the engine's single-aggregate
      // decorrelation must reproduce it exactly
      "SELECT s_name, count(*) AS numwait FROM lineitem l1 " +
        "JOIN orders ON l1.l_orderkey = o_orderkey " +
        "JOIN supplier ON l1.l_suppkey = s_suppkey " +
        "WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey " +
        "AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey " +
        "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name"),

    // O15 TPC-H Q18-shape: the HAVING-aggregate semi-join — per-order
    // quantity totals gated at 250 BELOW every join, then broadcast
    // through orders and customer; the fact shuffles once
    Entry("o15_large_qty_orders", (s, d) =>
      Relational.largeQuantityOrders(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet")),
      // o15: the honest IN-aggregate form; quantity sums through DECIMAL
      // like the engine, dates as calendar strings
      "WITH big AS (SELECT l_orderkey, " +
        "sum(l_quantity::DECIMAL(18,6))::DOUBLE AS sum_qty FROM lineitem " +
        "GROUP BY 1 HAVING sum(l_quantity::DECIMAL(18,6)) > 250) " +
        "SELECT c_custkey, o_orderkey, " +
        "(o_orderdate::TIMESTAMP::DATE)::VARCHAR AS o_orderdate, " +
        "o_totalprice, sum_qty " +
        "FROM big JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey"),

    // O16 PIVOT report: nation × year revenue as a wide table with
    // EXPLICIT pivot values — no hidden collect-distinct job, one
    // group-by pass; empty combinations stay null
    Entry("o16_pivot_report", (s, d) =>
      Relational.nationYearPivot(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/nation.parquet")),
      // o16: the wide form as explicit CASE-sum columns — one column per
      // year, quoted numeric aliases matching Spark's pivot names; empty
      // combinations null on both engines
      "WITH l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp FROM lineitem), " +
        "o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS order_year FROM orders) " +
        "SELECT n_name, " +
        (1995 to 2001).map(y =>
          s"""round(sum(CASE WHEN order_year = $y THEN dp::DECIMAL(28,10) END), 2)::DOUBLE AS "$y"""")
          .mkString(", ") +
        " FROM l JOIN o ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY 1 ORDER BY 1"),

    // O17 UNPIVOT roundtrip: the wide o16 report melted back to long rows
    // — null holes fold away, and the result is gated against an
    // INDEPENDENT long-form recompute (pivot and melt are true inverses)
    Entry("o17_unpivot_report", (s, d) =>
      Relational.meltNationYearPivot(Relational.nationYearPivot(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/nation.parquet"))),
      // o17: the INDEPENDENT long-form recompute the pivot→melt roundtrip
      // must land on exactly (empty combos never appear in either)
      "WITH l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp FROM lineitem), " +
        "o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS order_year FROM orders) " +
        "SELECT n_name, order_year, round(sum(dp::DECIMAL(28,10)), 2)::DOUBLE AS revenue " +
        "FROM l JOIN o ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // O18 TPC-H Q2-shape: the correlated scalar MIN subquery — per-part
    // minimum price among a region's suppliers, decorrelated to one pair
    // aggregate + a per-part min window (group size bounded by suppliers
    // per part); the compare path is a MIN, exact on every engine
    Entry("o18_min_cost_suppliers", (s, d) =>
      Relational.minCostSuppliers(
        s.read.parquet(s"$d/part.parquet"),
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/region.parquet"),
        s.read.parquet(s"$d/lineitem.parquet")),
      // o18: the honest CORRELATED form — `= (SELECT min ...)` with the
      // outer partkey referenced inside; DuckDB decorrelates it its own
      // way, the engine's pair-aggregate + window must land identically.
      // The compare path is min(extendedprice): exact on both engines
      "WITH sr AS (SELECT s_suppkey, s_name, s_acctbal, n_name " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'), " +
        "pair AS (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS pair_min " +
        "FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM sr) " +
        "GROUP BY 1, 2) " +
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_name, " +
        "pair_min AS min_price " +
        "FROM pair JOIN part ON l_partkey = p_partkey " +
        "JOIN sr ON l_suppkey = s_suppkey " +
        "WHERE p_type = 'SMALL' AND pair_min = " +
        "(SELECT min(p2.pair_min) FROM pair p2 WHERE p2.l_partkey = pair.l_partkey) " +
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"),

    // O19 TPC-H Q11-shape: group HAVING against a GLOBAL scalar — parts
    // whose revenue beats 1.5x the average part's, compared by decimal
    // integer-multiply (no division) against a 1-row broadcast stats join
    Entry("o19_part_concentration", (s, d) =>
      Relational.partValueConcentration(
        lineitemWide(s, d)),
      // o19: the honest scalar-subquery HAVING form; the 1.5x-average
      // gate as integer-multiplied decimals, no division on either engine
      "WITH pv AS (SELECT l_partkey, " +
        "sum((l_extendedprice * (1 - l_discount))::DECIMAL(28,10)) AS value_dec " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_partkey, round(value_dec, 2)::DOUBLE AS value FROM pv " +
        "WHERE value_dec * (SELECT count(*) * 2 FROM pv) > " +
        "(SELECT sum(value_dec) * 3 FROM pv) " +
        "ORDER BY value DESC, l_partkey"),

    // O20 TPC-H Q15-shape: view + global max with ties — quarter revenue
    // per supplier, winners where the exact DECIMAL sum equals the max
    Entry("o20_top_supplier", (s, d) =>
      Relational.topRevenueSupplier(
        s.read.parquet(s"$d/supplier.parquet"),
        lineitemWide(s, d)),
      // o20: the honest view + scalar-max form; ties kept by the equality
      // on the exact decimal sum
      "WITH rev AS (SELECT l_suppkey, " +
        "sum((l_extendedprice * (1 - l_discount))::DECIMAL(28,10)) AS rev_dec " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, round(rev_dec, 2)::DOUBLE AS total_rev " +
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE rev_dec = (SELECT max(rev_dec) FROM rev) ORDER BY s_suppkey"),

    // O21 TPC-H Q16-shape: distinct-supplier counts per part attribute
    // with an ids-only exclusion anti join below the count
    Entry("o21_supplier_diversity", (s, d) =>
      Relational.supplierDiversity(
        s.read.parquet(s"$d/part.parquet"),
        lineitemWide(s, d)),
      // o21: the honest NOT IN exclusion form over distinct pairs
      "SELECT p_brand, p_type, p_size, " +
        "count(DISTINCT l_suppkey) AS supplier_cnt " +
        "FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs " +
        "JOIN part ON l_partkey = p_partkey " +
        "WHERE l_suppkey NOT IN (SELECT l_suppkey FROM lineitem " +
        "WHERE l_returnflag = 'R' GROUP BY 1 HAVING count(*) > 200) " +
        "GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, 1, 2, 3"),

    // O22 TPC-H Q20-shape: the nested aggregate-threshold semi chain —
    // suppliers moving >45 units of a name-prefixed part in 1997
    Entry("o22_volume_suppliers", (s, d) =>
      Relational.volumeSuppliers(
        s.read.parquet(s"$d/part.parquet"),
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/lineitem.parquet")),
      // o22: the honest three-layer nested form — supplier IN (pairs
      // HAVING sum > 45 AND part IN (prefix parts))
      "SELECT s_suppkey, s_name, n_name FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' AND l_partkey IN " +
        "(SELECT p_partkey FROM part WHERE p_name LIKE 'small%') " +
        "GROUP BY l_partkey, l_suppkey " +
        "HAVING sum(l_quantity::DECIMAL(18,6)) > 45) " +
        "ORDER BY s_suppkey"),

    // Relational OLAP o23 (TPC-H Q19 shape): revenue under an OR of
    // conjunct blocks spanning BOTH join sides — each side's pushable
    // superset is factored out of the disjunction and reaches its parquet
    // scan as an Or(And(...)) PushedFilters tree (plan-pinned), with the
    // exact pairing re-applied as a post-join residual
    Entry("o23_promo_revenue", (s, d) =>
      Relational.promoRevenue(
        s.read.parquet(s"$d/part.parquet"),
        lineitemWide(s, d),
        Seq(Relational.PromoBlock("Brand#12", 5, 1, 11),
          Relational.PromoBlock("Brand#23", 10, 10, 20),
          Relational.PromoBlock("Brand#3", 15, 20, 30))),
      // o23: the naive form — the whole disjunction in one WHERE; the
      // engine's factored pushdown must be value-invisible
      "SELECT p_brand, count(*) AS n_items, " +
        "round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)), 2)::DOUBLE AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30) " +
        "GROUP BY 1 ORDER BY 1"),

    // Relational OLAP o24 (TPC-H Q14 shape): promo revenue share — one
    // conditional aggregate computes slice and total in a single scan;
    // exact DECIMAL sums, the share is the one double division
    Entry("o24_promo_share", (s, d) =>
      Relational.promoRevenueShare(
        s.read.parquet(s"$d/part.parquet"),
        lineitemWide(s, d)),
      // o24: the same single-pass conditional-aggregate ratio — exact
      // decimal sums, one double division, round-6/round-2
      "SELECT round(promo * 100 / total, 6)::DOUBLE AS promo_pct, " +
        "round(promo, 2)::DOUBLE AS promo_revenue, " +
        "round(total, 2)::DOUBLE AS total_revenue FROM (" +
        "SELECT sum(CASE WHEN p_type = 'PROMO' THEN " +
        "(l_extendedprice * (1 - l_discount))::DECIMAL(18,6) ELSE 0::DECIMAL(18,6) END) AS promo, " +
        "sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) AS total " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00')"),

    // Relational OLAP o25 (TPC-H Q12 shape): per-returnflag line counts
    // bucketed by order priority — conditional counts across the one
    // co-keyed fact-fact shuffle; exact longs
    Entry("o25_priority_lines", (s, d) =>
      Relational.priorityLineBuckets(
        s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d)),
      // o25: the same bucketed counts recomputed naively
      "SELECT l_returnflag, " +
        "sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count, " +
        "sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY 1 ORDER BY 1"),

    // Relational OLAP o26 (TPC-H Q8 shape): a supplier nation's market
    // share per order year inside one region × part-type market — the
    // widest join graph in the suite; every dimension broadcasts, so
    // lineitem ⋈ orders on the co-keyed orderkey is the single wide
    // shuffle, the share one conditional-aggregate double division
    Entry("o26_market_share", (s, d) =>
      Relational.marketShare(
        s.read.parquet(s"$d/region.parquet"),
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/part.parquet")),
      // o26: the full 8-table join written flat; share = the same
      // conditional-aggregate ratio, exact decimal sums both sides
      "WITH vol AS (SELECT year(o_orderdate) AS o_year, " +
        "(l_extendedprice * (1 - l_discount))::DECIMAL(18,6) AS v, " +
        "n2.n_name AS supp_nation " +
        "FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY' " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
        "JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA' " +
        "WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00') " +
        "SELECT o_year, " +
        "round(sum(CASE WHEN supp_nation = 'NATION_5' THEN v " +
        "ELSE 0::DECIMAL(18,6) END) / sum(v), 6)::DOUBLE AS mkt_share, " +
        "round(sum(v), 2)::DOUBLE AS total_volume " +
        "FROM vol GROUP BY 1 ORDER BY 1"),

    // Relational OLAP o27 (TPC-H Q9 shape): profit by supplier nation ×
    // order year over a substring part slice — the contains-predicate
    // dimension fan across both biggest facts (supply cost proxied from
    // p_retailprice: the synthetic schema has no partsupp; documented)
    Entry("o27_nation_profit", (s, d) =>
      Relational.nationProfit(
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/part.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet")),
      // o27: profit per nation×year, the same retail-price cost proxy,
      // per-row decimal difference summed exactly
      "SELECT n_name AS nation, year(o_orderdate) AS o_year, " +
        "round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6) " +
        "- (0.5 * p_retailprice * l_quantity)::DECIMAL(18,6)), 2)::DOUBLE AS sum_profit " +
        "FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE p_name LIKE '%widget%' " +
        "GROUP BY 1, 2 ORDER BY 1, 2 DESC"),

    // O31 customer revenue concentration: the Pareto decile report —
    // global revenue-desc rank via the c9/t26 distributed bucketed
    // prefix sum (no single-partition sort over the customer space),
    // exact cents, DECIMAL-widened share/cumulative micros
    Entry("o31_revenue_concentration", (s, d) =>
      Relational.revenueConcentration(
        s.read.parquet(s"$d/orders.parquet")),
      // o31: naive global-window rank (the oracle may single-sort; the
      // engine may not), same decile assignment and floor-div micros
      "WITH pc AS (SELECT o_custkey AS cust, " +
        "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev FROM orders GROUP BY 1), " +
        "r AS (SELECT rev, row_number() OVER (ORDER BY rev DESC, cust) AS r, " +
        "count(*) OVER () AS n FROM pc), " +
        "d AS (SELECT rev, ((r - 1) * 10) // n + 1 AS decile FROM r), " +
        "g AS (SELECT decile, count(*)::BIGINT AS n_cust, sum(rev)::BIGINT AS rev_cents " +
        "FROM d GROUP BY 1), " +
        "t AS (SELECT sum(rev_cents)::HUGEINT AS total FROM g), " +
        "c AS (SELECT *, sum(rev_cents) OVER (ORDER BY decile)::HUGEINT AS cum FROM g) " +
        "SELECT decile, n_cust, rev_cents, " +
        "((rev_cents::HUGEINT * 1000000) // total)::BIGINT AS share_e6, " +
        "((cum * 1000000) // total)::BIGINT AS cum_share_e6 " +
        "FROM c, t ORDER BY decile"),

    // O32 RFM segmentation: recency/frequency/monetary quintile scores by
    // exact population rank (three bucketedRank passes — the o31 shape
    // ×3, never a single-partition sort), whole-day recency vs the corpus
    // high-water mark (the c13 no-wall-clock rule), segment counts +
    // exact revenue cents
    Entry("o32_rfm_segments", (s, d) =>
      Relational.rfmSegments(s.read.parquet(s"$d/orders.parquet")),
      // o32: the same naive global row_number windows (three of them) —
      // the engine's three bucketed ranks must be value-invisible; same
      // (rank−1)·5 // n + 1 quantile rule, same day diffs vs the corpus
      // high-water mark
      "WITH pc AS (SELECT o_custkey AS cust, max(o_orderdate::DATE) AS last_day, " +
        "count(*)::BIGINT AS freq, " +
        "sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS mon FROM orders GROUP BY 1), " +
        "t AS (SELECT max(last_day) AS hwm, count(*)::BIGINT AS n FROM pc), " +
        "x AS (SELECT cust, datediff('day', last_day, hwm)::BIGINT AS rec_days, " +
        "freq, mon, n FROM pc, t), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY rec_days DESC, cust) AS rr, " +
        "row_number() OVER (ORDER BY freq, cust) AS fr, " +
        "row_number() OVER (ORDER BY mon, cust) AS mr FROM x) " +
        "SELECT (((rr - 1) * 5) // n + 1)::BIGINT AS r_score, " +
        "(((fr - 1) * 5) // n + 1)::BIGINT AS f_score, " +
        "(((mr - 1) * 5) // n + 1)::BIGINT AS m_score, " +
        "count(*)::BIGINT AS n_cust, sum(mon)::BIGINT AS mon_cents " +
        "FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    // O30 year-over-year revenue growth per nation — LAG over the
    // |nations|×|years| metadata grid after one map-side-combining
    // cents aggregate over broadcast-joined dims; growth in exact
    // truncated-division micros, first year null (not 0)
    Entry("o30_yoy_growth", (s, d) =>
      Relational.yoyGrowth(
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/nation.parquet")),
      // o30: same cents aggregate, same LAG grid; division is written
      // sign-factored (sign(d) * (abs(d)*1e6 // prev)) because DuckDB
      // builds DISAGREE on floor-vs-truncate for negative // while floor
      // ≡ trunc on non-negative operands — the only portable form
      "WITH rev AS (SELECT n_name, year(o_orderdate)::INT AS yr, " +
        "sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS rev_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2), " +
        "g AS (SELECT n_name, yr, rev_cents, " +
        "lag(rev_cents) OVER (PARTITION BY n_name ORDER BY yr)::BIGINT AS prev_cents FROM rev) " +
        "SELECT n_name, yr, rev_cents, prev_cents, " +
        "CASE WHEN prev_cents > 0 THEN " +
        "(CASE WHEN rev_cents >= prev_cents " +
        "THEN ((rev_cents::HUGEINT - prev_cents) * 1000000) // prev_cents " +
        "ELSE -(((prev_cents::HUGEINT - rev_cents) * 1000000) // prev_cents) END) " +
        "END::BIGINT AS growth_e6 FROM g ORDER BY n_name, yr"),

    // Relational OLAP o28 (TPC-H Q6 shape): the pure-pushdown aggregate —
    // one scan, zero joins, all three predicates reaching the parquet
    // footers; completes the 22/22 TPC-H plan-shape sweep with o29
    Entry("o28_discount_revenue", (s, d) =>
      Relational.discountRevenue(lineitemWide(s, d)),
      // o28: the same three-predicate slice and exact decimal sum
      "SELECT round(sum((l_extendedprice * l_discount)::DECIMAL(18,6)), 2)::DOUBLE AS revenue, " +
        "count(*) AS n_items FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),

    // Relational OLAP o29 (TPC-H Q10 shape): top-20 customers by returned
    // revenue — top-k BEFORE the dimension join, so the k-row side
    // broadcasts and the customer table never touches the fact pipeline
    Entry("o29_returned_customers", (s, d) =>
      Relational.returnedRevenueCustomers(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/nation.parquet")),
      // o29: the naive flat form — group over the full join, then cut;
      // the engine's topk-before-dimension-join must be value-invisible
      "WITH rev AS (SELECT o_custkey, " +
        "sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) AS r " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_returnflag = 'R' " +
        "AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00' " +
        "GROUP BY 1 ORDER BY r DESC, o_custkey LIMIT 20) " +
        "SELECT c_custkey, c_name, n_name, round(r, 2)::DOUBLE AS revenue " +
        "FROM rev JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "ORDER BY r DESC, c_custkey"),

    // Relational OLAP o8: the nation×year report as a CUBE — all FOUR
    // grouping sets (nation×year, nation, year, grand total) from ONE
    // Expand + aggregate pass; NULLS FIRST pinned on both engines
    Entry("o8_cube_report", (s, d) =>
      nationRevenueReport(s, d)(Relational.nationRevenueCube),
      nationRevenueSql("GROUP BY CUBE (n_name, order_year) " +
        "ORDER BY n_name ASC NULLS FIRST, order_year ASC NULLS FIRST"))
  )
}
