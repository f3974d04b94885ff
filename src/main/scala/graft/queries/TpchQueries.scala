package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/**
 * TPC-H-shaped queries q1–q22 (SURVEY §2.4 gap table, on Spark
 * built-ins). The partsupp tier (q2, q9, q11, q16, q20) reads a
 * partsupp table derived by dbgen's assignment formula, rebuilt
 * independently on the oracle side.
 */
private[queries] object TpchQueries {

  /**
   * Derived PARTSUPP: the fixture ships no partsupp table, so the
   * five partsupp TPC-H shapes (Q2/Q9/Q11/Q16/Q20) build it
   * DETERMINISTICALLY from part × supplier with dbgen's
   * supplier-assignment formula — each part's 4 candidate suppliers
   * step by floor(S/4) + floor((p−1)/S) around the supplier ring —
   * and integer-valued availqty/supplycost attributes (hash-free
   * modular arithmetic, so float sums are EXACT and order-free).
   * Both engines derive the SAME rows from the same fixture parquet,
   * so the DuckDB oracle stays a true independent replay; DISTINCT
   * absorbs the small-S step-wraparound collisions (step ≡ 0 mod S
   * folds the 4 candidates together — possible at fixture S, never
   * at dbgen's S ≥ 10k).
   */
  private def partsuppDerived(s: SparkSession, dir: String): DataFrame = {
    val scnt = t(s, dir, "supplier").agg(count(lit(1)).as("s_cnt"))
    val quarters = s.range(0, 4).toDF("i")
    t(s, dir, "part").select(col("p_partkey"))
      .crossJoin(broadcast(quarters))
      .crossJoin(broadcast(scnt))
      .withColumn("step",
        floor(col("s_cnt") / 4) + floor((col("p_partkey") - 1) / col("s_cnt")))
      .select(col("p_partkey").as("ps_partkey"),
        (pmod(col("p_partkey") + col("i") * col("step"), col("s_cnt")) + 1)
          .cast("long").as("ps_suppkey"))
      .distinct()
      .withColumn("ps_availqty",
        pmod(col("ps_partkey") * 37 + col("ps_suppkey") * 43, lit(9999L)) + 1)
      .withColumn("ps_supplycost",
        (pmod(col("ps_partkey") * 53 + col("ps_suppkey") * 61, lit(920L)) + 1)
          .cast("double"))
  }

  /**
   * DuckDB replay of [[partsuppDerived]] — same ring-walk assignment
   * and modular attributes, floor-division spelled explicitly (DuckDB
   * CAST rounds half-away where Spark's floor truncates).
   */
  private val partsuppOracleCte =
    "partsupp AS (SELECT ps_partkey, ps_suppkey, " +
      "((ps_partkey * 37 + ps_suppkey * 43) % 9999) + 1 AS ps_availqty, " +
      "CAST(((ps_partkey * 53 + ps_suppkey * 61) % 920) + 1 AS DOUBLE) AS ps_supplycost " +
      "FROM (SELECT DISTINCT p_partkey AS ps_partkey, " +
      "((p_partkey + i.i * (CAST(floor(sc.s / 4.0) AS BIGINT) " +
      "+ CAST(floor((p_partkey - 1.0) / sc.s) AS BIGINT))) % sc.s) + 1 AS ps_suppkey " +
      "FROM part, (VALUES (0), (1), (2), (3)) i(i), " +
      "(SELECT count(*) AS s FROM supplier) sc))"

  val all: Seq[Query] = Seq(
    Query("q1_pricing", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count("*").as("count_order")),
      oracle = ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, " +
        "round(avg(l_quantity), 4) AS avg_qty, round(avg(l_discount), 4) AS avg_disc, " +
        "count(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus")),

    Query("q3_topk_revenue", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      oracle = ("SELECT l_orderkey, o_orderpriority, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' " +
        "GROUP BY l_orderkey, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10")),

    Query("q5_nation_revenue", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count("*").as("n_items"))
    },
      oracle =
        ("SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
          "count(*) AS n_items FROM lineitem " +
          "JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name, n_name")),

    /**
     * TPC-H Q7 (volume shipping), hand-shaped for scale: the 2-nation
     * filter is applied to supplier and customer BEFORE the fact joins
     * (Catalyst cannot split the cross-pair OR across both sides), so
     * lineitem shrinks ~2/25 ahead of the orders shuffle; the final
     * supp≠cust predicate removes the two same-nation pairs. Nation-
     * filtered supplier broadcasts; orders/customer joins stay
     * shuffle joins (they do not fit an executor at 100 TB — AQE
     * converts them at small SF).
     */
    Query("q7_volume_shipping", (s, dir) => {
      val nat = t(s, dir, "nation").filter(col("n_name").isin("NATION_3", "NATION_7"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = t(s, dir, "customer")
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"), col("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1997-12-31"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    },
      oracle = ("SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue FROM (" +
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        "l_extendedprice * (1 - l_discount) AS volume " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE n1.n_name IN ('NATION_3', 'NATION_7') " +
        "AND n2.n_name IN ('NATION_3', 'NATION_7') AND n1.n_name != n2.n_name " +
        "AND l_shipdate BETWEEN '1996-01-01' AND '1997-12-31') " +
        "GROUP BY 1, 2, 3")),

    /**
     * TPC-H Q8 (national market share): NATION_3's share of EUROPE's
     * ECONOMY-part import volume per order year. Part/region/nation
     * prefilters broadcast into the fact side before the orders and
     * customer shuffles; the share divides the two ROUNDED sums so the
     * oracle's division replays exactly.
     */
    Query("q8_market_share", (s, dir) => {
      val part = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select("p_partkey")
      val euroNations = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cnk"))
      val cust = t(s, dir, "customer")
        .join(broadcast(euroNations), col("c_nationkey") === col("cnk"))
        .select("c_custkey")
      val sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val vol = t(s, dir, "lineitem")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate").between("1996-01-01", "1997-12-31")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"),
          col("supp_nation"))
      vol.groupBy("o_year")
        .agg(
          round(sum(when(col("supp_nation") === "NATION_3", col("volume"))
            .otherwise(lit(0.0))), 2).as("nation_volume"),
          round(sum(col("volume")), 2).as("total_volume"))
        .select(col("o_year"), col("nation_volume"), col("total_volume"),
          round(col("nation_volume") / col("total_volume"), 4).as("mkt_share"))
    },
      oracle = ("WITH vol AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS supp_nation " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY' " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
        "JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE' " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "WHERE o_orderdate BETWEEN '1996-01-01' AND '1997-12-31') " +
        "SELECT o_year, " +
        "round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END), 2) AS nation_volume, " +
        "round(sum(volume), 2) AS total_volume, " +
        "round(round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END), 2) " +
        "/ round(sum(volume), 2), 4) AS mkt_share " +
        "FROM vol GROUP BY 1")),

    /**
     * TPC-H Q10 (returned-item reporting): top-20 customers by revenue
     * lost to returns in 1996 H1. Returnflag + date filters push to the
     * scans, nation broadcasts, and the final top-20 lowers to
     * TakeOrderedAndProject (revenue DESC, custkey tiebreak) — no
     * global sort ever materializes.
     */
    Query("q10_returned_items", (s, dir) => {
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate").between("1996-01-01", "1996-06-30"))
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      // top-20 on the ROUNDED revenue with custkey tiebreak (both engines
      // order by identical values)
      oracle = ("SELECT c_custkey, c_name, n_name, revenue FROM (" +
        "SELECT c_custkey, c_name, n_name, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' " +
        "AND o_orderdate BETWEEN '1996-01-01' AND '1996-06-30' " +
        "GROUP BY 1, 2, 3) ORDER BY revenue DESC, c_custkey LIMIT 20")),

    /**
     * TPC-H Q12 flavor (shipping-priority audit; the fixture has no
     * shipmode/receiptdate, so lateness = shipped >90 days after the
     * order): high- vs low-priority late/on-time lineitem counts.
     */
    Query("q12_late_shipments", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
            .otherwise("low").as("priority_class"),
          (datediff(col("l_shipdate"), col("o_orderdate")) > 90).as("late"))
        .groupBy("priority_class", "late")
        .agg(count(lit(1)).as("n_items"))
    },
      oracle = ("SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high' " +
        "ELSE 'low' END AS priority_class, " +
        "date_diff('day', o_orderdate, l_shipdate) > 90 AS late, " +
        "count(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2")),

    /**
     * TPC-H Q14 (promotion effect): PROMO-part share of monthly revenue
     * in 1996; part broadcasts into the filtered fact scan, and the
     * share divides the two ROUNDED sums (the q8 discipline).
     */
    Query("q14_promo_share", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1996-12-31"))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("mon"))
        .agg(
          round(sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .otherwise(lit(0.0))), 2).as("promo_revenue"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("total_revenue"))
        .select(col("mon"), col("promo_revenue"), col("total_revenue"),
          round(col("promo_revenue") / col("total_revenue"), 4).as("promo_share"))
    },
      oracle = ("SELECT mon, promo_revenue, total_revenue, " +
        "round(promo_revenue / total_revenue, 4) AS promo_share FROM (" +
        "SELECT date_trunc('month', l_shipdate) AS mon, " +
        "round(sum(CASE WHEN p_type = 'PROMO' " +
        "THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) AS promo_revenue, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31' GROUP BY 1)")),

    /**
     * TPC-H Q4 (order-priority checking; the fixture has no commit/
     * receipt dates, so "late" = a lineitem shipped >60 days after the
     * order date): per-priority counts of Q1'96 orders with at least
     * one late item. The EXISTS lowers to one left-semi shuffle join
     * whose condition carries the cross-table date predicate; the date
     * filter on orders pushes to its scan.
     */
    Query("q4_priority_check", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate").between("1996-01-01", "1996-03-31"))
      val l = t(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          datediff(l("l_shipdate"), o("o_orderdate")) > 60, "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
      oracle = ("SELECT o_orderpriority, count(*) AS n_orders FROM orders " +
        "WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-03-31' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND date_diff('day', o_orderdate, l_shipdate) > 60) GROUP BY 1")),

    /**
     * TPC-H Q6 (forecasting-revenue change): the pure scan-side query —
     * all three predicates and both columns push into the parquet scan,
     * one partial-aggregated row per partition reaches the driver.
     */
    Query("q6_forecast_revenue", (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1996-12-31") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items")),
      oracle = ("SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, " +
        "count(*) AS n_items FROM lineitem " +
        "WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")),

    /**
     * TPC-H Q13 (customer order-count distribution): customer LEFT
     * OUTER orders (excluding 5-LOW priority — the comment-filter
     * analog), per-customer order counts, then the count histogram.
     * The outer join and first aggregation share the custkey exchange.
     */
    Query("q13_order_distribution", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "5-LOW")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
      oracle = ("SELECT c_count, count(*) AS custdist FROM (" +
        "SELECT c_custkey, count(o_orderkey) AS c_count " +
        "FROM customer LEFT OUTER JOIN orders " +
        "ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW' " +
        "GROUP BY c_custkey) GROUP BY c_count")),

    /**
     * TPC-H Q15 (top supplier): Q1'96 revenue per supplier, then the
     * supplier(s) achieving the max. Revenue rounds to 2 decimals
     * BEFORE the max compare so both engines pick identical winners;
     * the 1-row max and the winners broadcast into the supplier join.
     */
    Query("q15_top_supplier", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1996-03-31"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("max_rev"))
      val winners = rev.join(broadcast(mx), col("total_revenue") === col("max_rev"))
      t(s, dir, "supplier")
        .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    },
      oracle = ("WITH rev AS (SELECT l_suppkey, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue " +
        "FROM lineitem WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-03-31' " +
        "GROUP BY 1) " +
        "SELECT s_suppkey, s_name, total_revenue FROM supplier " +
        "JOIN rev ON s_suppkey = l_suppkey " +
        "WHERE total_revenue = (SELECT max(total_revenue) FROM rev)")),

    /**
     * TPC-H Q17 (small-quantity-order revenue): yearly revenue lost if
     * below-20%-of-average-quantity orders of one brand's parts were no
     * longer filled. The brand prefilter broadcasts into both lineitem
     * passes (~1/25 of parts), and the per-part quantity averages —
     * exact: quantities are integer-valued doubles, so the sums are
     * order-independent — broadcast into the final filter.
     */
    Query("q17_small_qty_revenue", (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_brand") === "Brand#3")
        .select("p_partkey")
      val l = t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val lim = l.groupBy(col("l_partkey").as("lp"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_limit"))
      l.join(broadcast(lim), col("l_partkey") === col("lp"))
        .filter(col("l_quantity") < col("qty_limit"))
        .agg(count(lit(1)).as("n_items"),
          round(round(sum(col("l_extendedprice")), 2) / 7.0, 2).as("avg_yearly"))
    },
      oracle = ("WITH bl AS (SELECT l_partkey, l_quantity, l_extendedprice " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand = 'Brand#3'), " +
        "lim AS (SELECT l_partkey AS lp, avg(l_quantity) * 0.2 AS qty_limit " +
        "FROM bl GROUP BY 1) " +
        "SELECT count(*) AS n_items, " +
        "round(round(sum(l_extendedprice), 2) / 7.0, 2) AS avg_yearly " +
        "FROM bl JOIN lim ON l_partkey = lp WHERE l_quantity < qty_limit")),

    /**
     * TPC-H Q18 (large-volume customers): orders whose total quantity
     * exceeds 300, top-100. The HAVING aggregate runs on lineitem alone
     * (map-side combine on orderkey), and only the ~0.1% surviving
     * orders join orders/customer; quantity sums are integer-exact so
     * the threshold and ordering replay bit-identically.
     */
    Query("q18_large_orders", (s, dir) => {
      val big = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 300)
      big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), round(col("o_totalprice"), 2).as("total_price"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(100)
    },
      oracle = ("SELECT c_name, c_custkey, o_orderkey, o_orderdate, " +
        "round(o_totalprice, 2) AS total_price, total_qty FROM (" +
        "SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem " +
        "GROUP BY 1 HAVING sum(l_quantity) > 300) " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY total_qty DESC, o_orderkey LIMIT 100")),

    /**
     * TPC-H Q19 (discounted-revenue, disjunctive predicates): revenue
     * over an OR of three (brand, size-range, quantity-range) conjunct
     * groups. Each side's subsuming prefilter is applied explicitly
     * before the join — Catalyst cannot split an OR spanning both
     * sides — so the broadcast hash join probes only candidate rows
     * and re-checks the exact disjunction as its residual condition.
     */
    Query("q19_brand_promo", (s, dir) => {
      val p = t(s, dir, "part").filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 30)))
      val l = t(s, dir, "lineitem").filter(col("l_quantity").between(1, 30))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey") && (
          (p("p_brand") === "Brand#1" && p("p_size").between(1, 10) &&
            l("l_quantity").between(1, 11)) ||
          (p("p_brand") === "Brand#2" && p("p_size").between(1, 20) &&
            l("l_quantity").between(10, 20)) ||
          (p("p_brand") === "Brand#3" && p("p_size").between(1, 30) &&
            l("l_quantity").between(20, 30))))
        .agg(round(sum(l("l_extendedprice") * (lit(1) - l("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },
      oracle = ("SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "count(*) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 " +
        "AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 " +
        "AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 " +
        "AND l_quantity BETWEEN 20 AND 30)")),

    /**
     * TPC-H Q22 (global-sales-opportunity; every fixture customer has
     * orders, so "never ordered" becomes "inactive since 2000"):
     * above-average-balance customers with no recent orders, by nation.
     * The positive-balance average is a 1-row broadcast scalar, rounded
     * to 6 decimals before the compare (the round6 discipline); the
     * NOT EXISTS is a left-anti join against the date-filtered orders
     * scan — orders shrinks before the shuffle.
     */
    Query("q22_idle_customers", (s, dir) => {
      val c = t(s, dir, "customer")
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg(round(avg(col("c_acctbal")), 6).as("avg_bal"))
      val recent = t(s, dir, "orders").filter(col("o_orderdate") >= "2000-01-01")
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
    },
      oracle = ("SELECT c_nationkey, count(*) AS n_customers, " +
        "round(sum(c_acctbal), 2) AS total_bal FROM customer " +
        "WHERE c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer " +
        "WHERE c_acctbal > 0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= '2000-01-01') GROUP BY 1")),

    /**
     * TPC-H Q21 (suppliers who kept orders waiting, adapted: lateness =
     * shipped >90 days after the order date): per supplier, finished
     * multi-supplier orders where THEY were late and no co-supplier
     * was. The double-correlated EXISTS/NOT EXISTS lower to a left-semi
     * and a left-anti self-join of lineitem on the orderkey — all three
     * lineitem sides shuffle on the same key (one exchange family, AQE
     * reuses it) and only (orderkey, suppkey[, shipdate]) projections
     * ever move; the supplier name join broadcasts.
     */
    Query("q21_waiting_supplier", (s, dir) => {
      val late = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 90)
        .select(col("l_orderkey").as("lo"), col("l_suppkey").as("ls"),
          col("o_orderdate").as("od"))
      val others = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"),
          col("l_shipdate").as("d2"))
      val l1 = late
        .join(others, col("lo") === col("o2") && col("ls") =!= col("s2"), "left_semi")
        .join(others,
          col("lo") === col("o2") && col("ls") =!= col("s2") &&
            datediff(col("d2"), col("od")) > 90, "left_anti")
      l1.join(broadcast(t(s, dir, "supplier")), col("ls") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    },
      oracle = ("SELECT s_name, count(*) AS numwait FROM supplier " +
        "JOIN lineitem l1 ON s_suppkey = l1.l_suppkey " +
        "JOIN orders ON o_orderkey = l1.l_orderkey " +
        "WHERE o_orderstatus = 'F' " +
        "AND date_diff('day', o_orderdate, l1.l_shipdate) > 90 " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 " +
        "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 " +
        "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
        "AND date_diff('day', o_orderdate, l3.l_shipdate) > 90) " +
        "GROUP BY s_name")),

    /**
     * TPC-H Q2 (minimum-cost supplier, fixture-adapted predicates):
     * for each LARGE-type part, the EUROPE supplier(s) offering it
     * at the minimum derived supply cost — the classic correlated-min
     * subquery decorrelated into a per-part min aggregate joined back.
     * All dimension sides broadcast; the only shuffle is partsupp's
     * per-part min. Full tie-break ordering so the LIMIT cut is
     * engine-independent.
     */
    Query("q2_min_cost_supplier", (s, dir) => {
      val parts = t(s, dir, "part").filter(col("p_type") === "LARGE")
        .select("p_partkey", "p_brand")
      val eur = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val offers = partsuppDerived(s, dir)
        .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(eur), col("ps_suppkey") === col("s_suppkey"))
      val minCost = offers.groupBy(col("ps_partkey").as("mp"))
        .agg(min(col("ps_supplycost")).as("mc"))
      offers.join(broadcast(minCost),
          col("ps_partkey") === col("mp") && col("ps_supplycost") === col("mc"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          col("p_brand"), col("ps_supplycost").as("min_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },
      // the derived-partsupp CTE every partsupp oracle replays: dbgen's
      // supplier-assignment ring walk + the same modular attributes the
      // Spark side computes (partsuppDerived) — an independent DuckDB
      // rebuild of the identical rows
      oracle = (s"WITH $partsuppOracleCte, " +
        "eur AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'), " +
        "offers AS (SELECT * FROM partsupp " +
        "JOIN (SELECT p_partkey, p_brand FROM part " +
        "WHERE p_type = 'LARGE') p ON ps_partkey = p_partkey " +
        "JOIN eur ON ps_suppkey = s_suppkey) " +
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, " +
        "ps_supplycost AS min_cost FROM offers o " +
        "WHERE ps_supplycost = (SELECT min(ps_supplycost) FROM offers " +
        "WHERE ps_partkey = o.ps_partkey) " +
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100")),

    /**
     * TPC-H Q9 (product-type profit): profit on every '%rod%' part —
     * revenue minus derived supply cost — by supplier nation and order
     * year. The part prefilter broadcasts into lineitem; partsupp
     * attaches by its (partkey, suppkey) key; one (nation, year)
     * aggregate. Sum rounds to 2dp on both engines (the q5/q8 float
     * discipline).
     */
    Query("q9_product_profit", (s, dir) => {
      val rods = t(s, dir, "part").filter(col("p_name").like("%rod%"))
        .select("p_partkey")
      val ps = partsuppDerived(s, dir)
      t(s, dir, "lineitem")
        .join(broadcast(rods), col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("ps_supplycost") * col("l_quantity")), 2).as("sum_profit"))
    },
      oracle = (s"WITH $partsuppOracleCte " +
        "SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "round(sum(l_extendedprice * (1 - l_discount) " +
        "- ps_supplycost * l_quantity), 2) AS sum_profit " +
        "FROM lineitem " +
        "JOIN (SELECT p_partkey FROM part WHERE p_name LIKE '%rod%') p " +
        "ON l_partkey = p_partkey " +
        "JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY 1, 2")),

    /**
     * TPC-H Q11 (important stock): parts whose NATION_3 stock value
     * (supplycost × availqty) exceeds 0.1% of that nation's total —
     * the group-by-HAVING-global-subquery shape. Stock values are
     * integer-valued doubles, so both sums and the threshold compare
     * are EXACT on both engines; the 1-row total broadcasts.
     */
    Query("q11_important_stock", (s, dir) => {
      val natSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val scoped = partsuppDerived(s, dir)
        .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("value", col("ps_supplycost") * col("ps_availqty"))
      val total = scoped.agg(sum(col("value")).as("tot"))
      scoped.groupBy(col("ps_partkey"))
        .agg(sum(col("value")).as("part_value"))
        .crossJoin(broadcast(total))
        .filter(col("part_value") > col("tot") * 0.001)
        .select(col("ps_partkey"), round(col("part_value"), 2).as("stock_value"))
    },
      oracle = (s"WITH $partsuppOracleCte, " +
        "scoped AS (SELECT ps_partkey, ps_supplycost * ps_availqty AS value " +
        "FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3') " +
        "SELECT ps_partkey, round(sum(value), 2) AS stock_value FROM scoped " +
        "GROUP BY 1 HAVING sum(value) > (SELECT sum(value) * 0.001 FROM scoped)")),

    /**
     * TPC-H Q16 (parts/supplier relationship): distinct supplier count
     * per (brand, type, size) over the derived partsupp, excluding one
     * brand, one type, off-list sizes, and negative-balance suppliers
     * (the fixture's stand-in for the complaint-comment NOT IN — same
     * anti-join shape).
     */
    Query("q16_parts_supplier_cnt", (s, dir) => {
      val parts = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 15))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val badSupp = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("ps_suppkey"))
      partsuppDerived(s, dir)
        .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), Seq("ps_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
    },
      oracle = (s"WITH $partsuppOracleCte " +
        "SELECT p_brand, p_type, p_size, " +
        "count(DISTINCT ps_suppkey) AS supplier_cnt FROM partsupp " +
        "JOIN part ON ps_partkey = p_partkey " +
        "WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' " +
        "AND p_size IN (1, 5, 9, 15) " +
        "AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY 1, 2, 3")),

    /**
     * TPC-H Q20 (potential part promotion): EUROPE suppliers whose
     * derived stock of a 'blue%' part exceeds half of what they
     * shipped of it in 1996 — the nested EXISTS/IN chain as semi-join
     * + per-(part, supplier) shipped aggregate. Quantities are
     * integer-valued, so the half-threshold compare is exact.
     */
    Query("q20_stocked_promo_suppliers", (s, dir) => {
      val blue = t(s, dir, "part").filter(col("p_name").like("blue%"))
        .select("p_partkey")
      val shipped = t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .join(broadcast(blue), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val qualified = partsuppDerived(s, dir)
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") > col("qty") * 0.5)
        .select(col("ps_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(qualified, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_name"), col("n_name"))
    },
      oracle = (s"WITH $partsuppOracleCte, " +
        "shipped AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty " +
        "FROM lineitem JOIN (SELECT p_partkey FROM part " +
        "WHERE p_name LIKE 'blue%') p ON l_partkey = p_partkey " +
        "WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31' " +
        "GROUP BY 1, 2) " +
        "SELECT s_name, n_name FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'EUROPE' AND s_suppkey IN (" +
        "SELECT ps_suppkey FROM partsupp " +
        "JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey " +
        "WHERE ps_availqty > qty * 0.5)")),
  )
}
