package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.VectorFunctions._
import graft.operators.{AsOfJoin, BloomJoin, SkewJoin}
import graft.pipeline.Remote
import graft.queries.OracleSql._

/**
 * The relational surface beyond TPC-H (SURVEY §2.4): windows,
 * grouping sets, set operations, subqueries, scalar, date, array, map
 * and JSON functions, custom aggregates and the injected top-k
 * strategy.
 */
private[queries] object RelationalQueries {

  val all: Seq[Query] = Seq(
    Query("q_window_latest_orders", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"),
          round(col("o_totalprice"), 2).as("total"))
    },
      oracle = ("SELECT o_custkey, o_orderkey, rn, total FROM (" +
        "SELECT o_custkey, o_orderkey, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn, " +
        "round(o_totalprice, 2) AS total FROM orders) WHERE rn <= 3")),

    Query("q_rollup", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count("*").as("n_customers"), round(sum("c_acctbal"), 2).as("sum_bal"))
    },
      oracle =
        ("SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal " +
          "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey GROUP BY ROLLUP(r_name, n_name)")),

    Query("q_intersect", (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()),
      oracle = ("SELECT DISTINCT c_nationkey AS nationkey FROM customer " +
        "INTERSECT SELECT DISTINCT s_nationkey AS nationkey FROM supplier")),

    Query("q_except", (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
        .except(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()),
      oracle = ("SELECT DISTINCT c_nationkey AS nationkey FROM customer " +
        "EXCEPT SELECT DISTINCT s_nationkey AS nationkey FROM supplier")),

    Query("q_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count("*").as("n_customers_no_orders"))
    },
      oracle = ("SELECT c_mktsegment, count(*) AS n_customers_no_orders FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "GROUP BY c_mktsegment")),

    Query("q_semi_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count("*").as("n_orders"))
    },
      oracle = ("SELECT o_orderpriority, count(*) AS n_orders FROM orders " +
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49) " +
        "GROUP BY o_orderpriority")),

    Query("q_scalar_funcs", (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).cast("long").as("name_len"),
        round(col("p_retailprice") * 1.1, 2).as("inflated"),
        substring(col("p_type"), 1, 5).as("type5"),
        concat_ws("#", col("p_brand"), col("p_type")).as("tag"),
        abs(col("p_size") - 25).cast("long").as("size_dev")),
      oracle = ("SELECT p_partkey, upper(p_brand) AS brand_u, length(p_name) AS name_len, " +
        "round(p_retailprice * 1.1, 2) AS inflated, substring(p_type, 1, 5) AS type5, " +
        "concat_ws('#', p_brand, p_type) AS tag, " +
        "CAST(abs(p_size - 25) AS BIGINT) AS size_dev FROM part")),

    Query("q_date_funcs", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).cast("long").as("y"),
          month(col("l_shipdate")).cast("long").as("m"))
        .agg(count("*").as("n"), round(sum("l_extendedprice"), 2).as("sum_price")),
      oracle = ("SELECT year(l_shipdate) AS y, month(l_shipdate) AS m, count(*) AS n, " +
        "round(sum(l_extendedprice), 2) AS sum_price FROM lineitem GROUP BY y, m")),

    Query("q_distinct_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(countDistinct("l_partkey").as("n_parts"),
          count("*").as("n_items"),
          round(avg("l_discount"), 4).as("avg_disc")),
      oracle = ("SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_items, " +
        "round(avg(l_discount), 4) AS avg_disc FROM lineitem GROUP BY l_suppkey")),

    /**
     * HLL++ sketch with a self-validating assertion: the sketch value
     * itself is engine-specific, so the oracled contract is "within 5%
     * of exact" (deterministic — same data, same sketch, same bound).
     */
    Query("q_approx_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey").as("approx_parts"),
          countDistinct("l_partkey").as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <= col("exact_parts") * 0.05)
            .as("approx_ok")),
      oracle = ("SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts, " +
        "TRUE AS approx_ok FROM lineitem GROUP BY l_returnflag")),

    Query("q_json_extract", (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count("*").as("n"), sum("k").as("sum_k"), round(avg("k"), 4).as("avg_k")),
      oracle = ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k " +
        "FROM events GROUP BY event_type")),

    Query("q_outer_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .groupBy(coalesce(col("c_mktsegment"), lit("NO_CUSTOMER")).as("segment"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"))
    },
      oracle = ("SELECT coalesce(c_mktsegment, 'NO_CUSTOMER') AS segment, " +
        "count(o_orderkey) AS n_orders, count(DISTINCT c_custkey) AS n_customers " +
        "FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey GROUP BY segment")),

    Query("q_cube", (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count("*").as("n"), round(sum("o_totalprice"), 2).as("sum_price")),
      oracle = ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS sum_price FROM orders " +
        "GROUP BY CUBE(o_orderstatus, o_orderpriority)")),

    Query("q_string_match", (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").like("%a%") && col("p_type").rlike("[MN]"))
        .groupBy("p_brand")
        .agg(count("*").as("n")),
      oracle = ("SELECT p_brand, count(*) AS n FROM part " +
        "WHERE p_name LIKE '%a%' AND regexp_matches(p_type, '[MN]') GROUP BY p_brand")),

    Query("q_date_arith", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .withColumn("delay_days", datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
        .groupBy(col("o_orderstatus"))
        .agg(round(avg("delay_days"), 4).as("avg_delay"),
          max("delay_days").as("max_delay"), count("*").as("n"))
    },
      oracle =
        ("SELECT o_orderstatus, round(avg(date_diff('day', o_orderdate, l_shipdate)), 4) AS avg_delay, " +
          "CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_delay, " +
          "count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "GROUP BY o_orderstatus")),

    /** As-of join (merge-based union+window — one shuffle, no range blowup). */
    Query("q_asof_join", (s, dir) => {
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
      // right side unique per (key, time): keep max orderkey
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      AsOfJoin.asofBackward(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate")
        .select(col("event_id"), col("o_orderkey"))
    },
      oracle = ("SELECT e.event_id, o.o_orderkey FROM events e ASOF LEFT JOIN " +
        "(SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey " +
        "FROM orders GROUP BY o_custkey, o_orderdate) o " +
        "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate")),

    Query("q_percentile", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("median"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90")),
      oracle = ("SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 2) AS median, " +
        "round(quantile_cont(o_totalprice, 0.9), 2) AS p90 FROM orders GROUP BY o_orderstatus")),

    /** KLL-style sketch percentile with an oracled within-2% assertion (see q_approx_distinct). */
    Query("q_percentile_approx", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("approx_median"),
          expr("percentile(o_totalprice, 0.5)").as("exact_median"))
        .select(col("o_orderstatus"), round(col("exact_median"), 2).as("median"),
          (abs(col("approx_median") - col("exact_median")) <= abs(col("exact_median")) * 0.02)
            .as("approx_ok")),
      oracle = ("SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 2) AS median, " +
        "TRUE AS approx_ok FROM orders GROUP BY o_orderstatus")),

    Query("q_pivot", (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L),
      oracle = ("SELECT user_id, count(CASE WHEN event_type = 'click' THEN 1 END) AS click, " +
        "count(CASE WHEN event_type = 'view' THEN 1 END) AS view, " +
        "count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase, " +
        "count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup, " +
        "count(CASE WHEN event_type = 'error' THEN 1 END) AS error " +
        "FROM events GROUP BY user_id")),

    /** Deterministic content-hash sampling (reproducible across engines/cluster sizes). */
    Query("q_sample_hash", (s, dir) =>
      t(s, dir, "customer")
        .filter(substring(md5(col("c_custkey").cast("string")), 1, 1) === "0")
        .select(col("c_custkey"), col("c_mktsegment")),
      oracle = ("SELECT c_custkey, c_mktsegment FROM customer " +
        "WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'")),

    Query("q_rank_variants", (s, dir) => {
      val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey"))
      t(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rk"),
          dense_rank().over(w).cast("long").as("drk"),
          round(lag(col("p_retailprice"), 1).over(w), 2).as("prev_price"))
        .filter(col("rn") <= 3)
    },
      oracle = ("SELECT p_brand, p_partkey, rn, rk, drk, prev_price FROM (" +
        "SELECT p_brand, p_partkey, " +
        "row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk, " +
        "round(lag(p_retailprice, 1) OVER w, 2) AS prev_price FROM part " +
        "WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)) " +
        "WHERE rn <= 3")),

    Query("q_corr_stats", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
          round(stddev_samp(col("l_discount")), 4).as("disc_stddev"),
          round(var_samp(col("l_tax")), 4).as("tax_var"),
          count("*").as("n")),
      oracle =
        ("SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr, " +
          "round(stddev_samp(l_discount), 4) AS disc_stddev, " +
          "round(var_samp(l_tax), 4) AS tax_var, count(*) AS n " +
          "FROM lineitem GROUP BY l_returnflag")),

    Query("q_conditional_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_discounted"),
          round(sum(when(col("l_returnflag") === "R", col("l_extendedprice"))
            .otherwise(lit(0.0))), 2).as("returned_value"),
          round(avg(when(col("l_quantity") > 25, col("l_quantity"))), 4).as("avg_large_qty")),
      oracle = ("SELECT l_linestatus, " +
        "CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted, " +
        "round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END), 2) AS returned_value, " +
        "round(avg(CASE WHEN l_quantity > 25 THEN l_quantity END), 4) AS avg_large_qty " +
        "FROM lineitem GROUP BY l_linestatus")),

    /** Custom two-phase heap operator (LogicalPlan+Strategy+Exec): top-3 orders per status. */
    Query("q_topk_custom", (s, dir) =>
      graft.relational.Relational.topKPerKey(
        t(s, dir, "orders"),
        keys = Seq(col("o_orderstatus")),
        order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 3)
        .select(col("o_orderstatus"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total")),
      oracle = ("SELECT o_orderstatus, o_orderkey, total FROM (" +
        "SELECT o_orderstatus, o_orderkey, round(o_totalprice, 2) AS total, " +
        "row_number() OVER (PARTITION BY o_orderstatus " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3")),

    /** GROUPING SETS via the SQL surface (Spark parser + Catalyst Expand). */
    Query("q_grouping_sets", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "region").createOrReplaceTempView("region")
      s.sql(
        """SELECT r_name, n_name, count(*) AS n, round(sum(c_acctbal), 2) AS bal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())""".stripMargin)
    },
      oracle = ("SELECT r_name, n_name, count(*) AS n, round(sum(c_acctbal), 2) AS bal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())")),

    /** Correlated EXISTS + scalar subquery via the SQL surface. */
    Query("q_subqueries", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_mktsegment, count(*) AS n_rich_active
          |FROM customer
          |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
          |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |GROUP BY c_mktsegment""".stripMargin)
    },
      oracle = ("SELECT c_mktsegment, count(*) AS n_rich_active FROM customer " +
        "WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer) " +
        "AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "GROUP BY c_mktsegment")),

    /** Custom typed Aggregator (LibMR `accumulate` analog) as a registered UDAF. */
    Query("q_udaf_weighted", (s, dir) => {
      val wmean = udaf(graft.functions.Aggregators.WeightedMean)
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(wmean(col("l_extendedprice"), col("l_quantity")), 4).as("wavg_price"),
          count("*").as("n"))
    },
      oracle =
        ("SELECT l_returnflag, round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) " +
          "AS wavg_price, count(*) AS n FROM lineitem GROUP BY l_returnflag")),

    Query("q_array_agg", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          array_join(sort_array(collect_set(col("o_orderpriority"))), ",").as("priorities"),
          countDistinct(col("o_orderpriority")).as("n_priorities")),
      oracle =
        ("SELECT o_orderstatus, array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') " +
          "AS priorities, count(DISTINCT o_orderpriority) AS n_priorities " +
          "FROM orders GROUP BY o_orderstatus")),

    /** Running (cumulative) revenue per returnflag by ship month — window prefix sum. */
    Query("q_cumulative", (s, dir) => {
      val monthly = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          year(col("l_shipdate")).cast("long").as("y"),
          month(col("l_shipdate")).cast("long").as("m"))
        .agg(sum("l_extendedprice").as("rev"))
      val w = Window.partitionBy("l_returnflag").orderBy("y", "m")
        .rowsBetween(Window.unboundedPreceding, 0)
      monthly
        .withColumn("cum_rev", round(sum("rev").over(w), 2))
        .select(col("l_returnflag"), col("y"), col("m"), round(col("rev"), 2).as("rev"),
          col("cum_rev"))
    },
      oracle = ("WITH m AS (SELECT l_returnflag, year(l_shipdate) AS y, month(l_shipdate) AS m, " +
        "sum(l_extendedprice) AS rev FROM lineitem GROUP BY 1, 2, 3) " +
        "SELECT l_returnflag, y, m, round(rev, 2) AS rev, " +
        "round(sum(rev) OVER (PARTITION BY l_returnflag ORDER BY y, m " +
        "ROWS UNBOUNDED PRECEDING), 2) AS cum_rev FROM m")),

    /**
     * Range(band) join: events bucketed into value bands via a BETWEEN
     * join against a tiny broadcast band table (the scalable shape for
     * small range dimensions — a band per row, broadcast NLJ).
     */
    Query("q_range_band", (s, dir) => {
      val bands = s.range(10).toDF("band")
        .select(col("band"), (col("band") * 20.0).as("lo"), ((col("band") + 1) * 20.0).as("hi"))
      t(s, dir, "events")
        .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("band")
        .agg(count("*").as("n"), round(avg("value"), 4).as("avg_value"))
    },
      oracle = ("SELECT band, count(*) AS n, round(avg(value), 4) AS avg_value FROM events " +
        "JOIN (SELECT i AS band, i * 20.0 AS lo, (i + 1) * 20.0 AS hi FROM " +
        "(SELECT unnest(generate_series(0, 9)) AS i)) b " +
        "ON value >= lo AND value < hi GROUP BY band")),

    /** UNION ALL + global ORDER BY + OFFSET/LIMIT paging. */
    Query("q_union_paging", (s, dir) =>
      t(s, dir, "customer").select(col("c_name").as("name"), lit("customer").as("kind"))
        .unionAll(t(s, dir, "supplier").select(col("s_name").as("name"), lit("supplier").as("kind")))
        .orderBy(col("name"), col("kind"))
        .offset(20)
        .limit(20),
      oracle = ("SELECT name, kind FROM (" +
        "SELECT c_name AS name, 'customer' AS kind FROM customer " +
        "UNION ALL SELECT s_name AS name, 'supplier' AS kind FROM supplier) " +
        "ORDER BY name, kind LIMIT 20 OFFSET 20")),

    /**
     * Redis-slot partitioning demo: CRC16 slot histogram (custom
     * codegen'd expression). Oracled: the DuckDB side folds the same
     * CRC16-CCITT table with `list_reduce` over the key's bytes.
     */
    Query("q_crc16_slots", (s, dir) =>
      t(s, dir, "customer")
        .select(crc16_slot(concat(lit("cust:"), col("c_custkey"))).as("slot"))
        .groupBy((col("slot") % 32).cast("long").as("bucket"))
        .agg(count("*").as("n")),
      oracle = ("SELECT CAST(slot % 32 AS BIGINT) AS bucket, count(*) AS n FROM (" +
        "SELECT " + crcSql("k") + " & 16383 AS slot FROM " +
        "(SELECT concat('cust:', c_custkey) AS k FROM customer)) GROUP BY bucket")),

    /** UDTF shape: explode token arrays, re-aggregate (lateral-view analog). */
    Query("q_explode_tokens", (s, dir) =>
      t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("tok"))
        .groupBy("tok")
        .agg(count("*").as("n"))
        .filter(col("n") > 1),
      oracle = ("SELECT tok, count(*) AS n FROM " +
        "(SELECT unnest(string_split(p_name, ' ')) AS tok FROM part) " +
        "GROUP BY tok HAVING count(*) > 1")),

    /** Distribution window functions: ntile / percent_rank / cume_dist (top decile only). */
    Query("q_ntile_cume", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(10).over(w).cast("long").as("decile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .filter(col("decile") === 10)
    },
      oracle = ("SELECT o_orderpriority, o_orderkey, decile, pr, cd FROM (" +
        "SELECT o_orderpriority, o_orderkey, CAST(ntile(10) OVER w AS BIGINT) AS decile, " +
        "round(percent_rank() OVER w, 6) AS pr, round(cume_dist() OVER w, 6) AS cd " +
        "FROM orders WINDOW w AS (PARTITION BY o_orderpriority " +
        "ORDER BY o_totalprice, o_orderkey)) WHERE decile = 10")),

    /** min_by / max_by aggregates over a unique ordering key (first/last event type per user). */
    Query("q_minmax_by", (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          min_by(col("event_type"), col("event_id")).as("first_type"),
          max_by(col("event_type"), col("event_id")).as("last_type"),
          min("event_id").as("first_event"),
          max("event_id").as("last_event")),
      oracle = ("SELECT user_id, arg_min(event_type, event_id) AS first_type, " +
        "arg_max(event_type, event_id) AS last_type, min(event_id) AS first_event, " +
        "max(event_id) AS last_event FROM events GROUP BY user_id")),

    /** Regexp group extraction: split '1-URGENT' style priorities into components. */
    Query("q_regexp_extract", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(
          regexp_extract(col("o_orderpriority"), "^(\\d)-", 1).as("prio_num"),
          regexp_extract(col("o_orderpriority"), "-(.+)$", 1).as("prio_word"))
        .agg(count("*").as("n")),
      oracle = ("SELECT regexp_extract(o_orderpriority, '^(\\d)-', 1) AS prio_num, " +
        "regexp_extract(o_orderpriority, '-(.+)$', 1) AS prio_word, count(*) AS n " +
        "FROM orders GROUP BY prio_num, prio_word")),

    /** Higher-order array functions: transform / filter / aggregate over per-row arrays. */
    Query("q_array_lambda", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long").as("sz"),
          aggregate(transform(sequence(lit(1L), col("p_size").cast("long")), x => x * x),
            lit(0L), (acc, x) => acc + x).as("sum_sq"),
          size(filter(sequence(lit(1L), col("p_size").cast("long")), x => x % 2 === 0))
            .cast("long").as("n_even")),
      oracle = ("SELECT p_partkey, CAST(p_size AS BIGINT) AS sz, " +
        "CAST(list_sum([x * x for x in generate_series(1::BIGINT, p_size::BIGINT)]) AS BIGINT) " +
        "AS sum_sq, " +
        "CAST(len(list_filter(generate_series(1::BIGINT, p_size::BIGINT), x -> x % 2 = 0)) " +
        "AS BIGINT) AS n_even FROM part")),

    /** Map functions: build per-user event-type→count map, inspect keys + lookups. */
    Query("q_map_funcs", (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count("*").as("cnt"))
        .groupBy("user_id")
        .agg(map_from_entries(collect_list(struct(col("event_type"), col("cnt")))).as("m"))
        .select(col("user_id"),
          array_join(array_sort(map_keys(col("m"))), ",").as("types"),
          coalesce(element_at(col("m"), "click"), lit(0L)).as("n_clicks"),
          size(map_keys(col("m"))).cast("long").as("n_types")),
      oracle =
        ("SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types, " +
          "CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_clicks, " +
          "count(DISTINCT event_type) AS n_types FROM events GROUP BY user_id")),

    /** Value-based (RANGE INTERVAL) window frame: 7-day trailing revenue per priority. */
    Query("q_window_range", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderpriority, o_orderkey,
          |  round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
          |    RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW), 2) AS wk_sum
          |FROM orders""".stripMargin)
    },
      oracle = ("SELECT o_orderpriority, o_orderkey, " +
        "round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate " +
        "RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW), 2) AS wk_sum FROM orders")),

    /** `MR_RunOnKey` parity as a query: keyed point lookup through the remote-task facade. */
    Query("q_point_lookup", (s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_acctbal").as[(Long, String, Double)]
      val rows = Remote.runOnKey(cust, (r: (Long, String, Double)) => r._1 == 42L)(
        it => it.toSeq).getOrElse(Seq.empty)
      s.createDataset(rows).toDF("c_custkey", "c_name", "c_acctbal")
        .withColumn("c_acctbal", round(col("c_acctbal"), 2))
    },
      oracle = ("SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal " +
        "FROM customer WHERE c_custkey = 42")),

    /** Salted skew join (explicit hot-key spreading) — result ≡ the plain inner join. */
    Query("q_skew_salted", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("value"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      SkewJoin.saltedInnerJoin(ev, cust, "user_id", "c_custkey", saltFactor = 8)
        .groupBy("c_mktsegment")
        .agg(count("*").as("n"), round(sum("value"), 2).as("sum_value"))
    },
      oracle = ("SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_value " +
        "FROM events JOIN customer ON user_id = c_custkey GROUP BY c_mktsegment")),

    /**
     * Bloom-pre-filtered selective fact⋈dim join (operators.BloomJoin):
     * fact rows that can't match are dropped in the scan stage, before
     * the join shuffle; the exact join clears false positives, so the
     * result ≡ the plain join and the oracle is the plain join SQL.
     */
    Query("q_bloom_join", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("value"))
      val dim = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_nationkey"))
      BloomJoin.preFilteredJoin(ev, dim, "user_id", "c_custkey")
        .groupBy("c_nationkey")
        .agg(count("*").as("n"), round(sum("value"), 2).as("sum_value"))
    },
      // bloom pre-filter is transparent: result ≡ the plain join
      oracle = ("SELECT c_nationkey, count(*) AS n, round(sum(value), 2) AS sum_value " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey")),

    /** Time-series gap fill: dense month × status grid via sequence(), zeros for missing. */
    Query("q_gap_fill", (s, dir) => {
      val o = t(s, dir, "orders")
      val m = o.groupBy(date_trunc("month", col("o_orderdate")).as("mon"),
        col("o_orderstatus")).agg(count("*").as("n"))
      val months = o.agg(date_trunc("month", min("o_orderdate")).as("lo"),
          date_trunc("month", max("o_orderdate")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 month"))).as("mon"))
      val statuses = o.select("o_orderstatus").distinct()
      months.crossJoin(broadcast(statuses))
        .join(m, Seq("mon", "o_orderstatus"), "left")
        .na.fill(0L, Seq("n"))
        .select(col("o_orderstatus"), col("mon"), col("n"))
    },
      oracle = ("WITH b AS (SELECT date_trunc('month', min(o_orderdate)) AS lo, " +
        "date_trunc('month', max(o_orderdate)) AS hi FROM orders), " +
        "months AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS mon FROM b), " +
        "st AS (SELECT DISTINCT o_orderstatus FROM orders), " +
        "agg AS (SELECT date_trunc('month', o_orderdate) AS mon, o_orderstatus, " +
        "count(*) AS n FROM orders GROUP BY 1, 2) " +
        "SELECT s.o_orderstatus, m.mon, coalesce(a.n, 0) AS n FROM months m " +
        "CROSS JOIN st s LEFT JOIN agg a ON a.mon = m.mon AND a.o_orderstatus = s.o_orderstatus")),

    /** Fixed-width numeric histogram (floor-bucketing — width_bucket portable form). */
    Query("q_histogram", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count("*").as("n"), round(avg("o_totalprice"), 2).as("avg_price")),
      oracle = ("SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, count(*) AS n, " +
        "round(avg(o_totalprice), 2) AS avg_price FROM orders GROUP BY bucket")),

    /** Bitwise aggregates. */
    Query("q_bitwise_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("bit_and(l_linenumber)").cast("long").as("and_ln"),
          expr("bit_or(l_linenumber)").cast("long").as("or_ln"),
          expr("bit_xor(l_orderkey % 256)").cast("long").as("xor_ok")),
      oracle = ("SELECT l_returnflag, CAST(bit_and(l_linenumber) AS BIGINT) AS and_ln, " +
        "CAST(bit_or(l_linenumber) AS BIGINT) AS or_ln, " +
        "CAST(bit_xor(l_orderkey % 256) AS BIGINT) AS xor_ok " +
        "FROM lineitem GROUP BY l_returnflag")),

    /** Spark 4 VARIANT type: parse once, typed paths extracted downstream. */
    Query("q_variant", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy("event_type")
        .agg(count("*").as("n"), sum("k").as("sum_k"), max("k").as("max_k")),
      oracle = ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k " +
        "FROM events GROUP BY event_type")),

    /** Correlated LATERAL subquery (per-customer order rollup in one pass of the outer). */
    Query("q_lateral", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_custkey, n_orders, total_spent
          |FROM customer, LATERAL (
          |  SELECT count(*) AS n_orders,
          |         round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
          |  FROM orders WHERE o_custkey = c_custkey)""".stripMargin)
    },
      oracle = ("SELECT c_custkey, n_orders, total_spent FROM customer, LATERAL (" +
        "SELECT count(*) AS n_orders, " +
        "round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent " +
        "FROM orders WHERE o_custkey = c_custkey) t")),

    /** UNPIVOT (wide metrics → long): the melt shape. */
    Query("q_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("qty"),
          round(sum("l_extendedprice"), 2).as("price"),
          round(sum("l_discount"), 2).as("disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price"), col("disc")), "metric", "value"),
      oracle = ("WITH a AS (SELECT l_returnflag, round(sum(l_quantity), 2) AS qty, " +
        "round(sum(l_extendedprice), 2) AS price, round(sum(l_discount), 2) AS disc " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, 'qty' AS metric, qty AS value FROM a " +
        "UNION ALL SELECT l_returnflag, 'price', price FROM a " +
        "UNION ALL SELECT l_returnflag, 'disc', disc FROM a")),

    /**
     * Recursive CTE (Spark 4 WITH RECURSIVE, UNION ALL semantics — the
     * engine rejects UNION inside recursion, so cyclic-graph closure
     * stays with the iterative Dedup.dupClusters loop): an acyclic
     * ancestor walk — every part climbs its halving tree (k → k div 2)
     * to the root, yielding the depth census. Recursion depth is
     * log₂(maxkey) Spark jobs regardless of table size, each a narrow
     * self-map — the declarative shape for hierarchy/BOM walks.
     */
    Query("q_recursive_cte", (s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part_rec")
      s.sql(
        """WITH RECURSIVE anc(p, cur, depth) AS (
          |  SELECT p_partkey, p_partkey, 0 FROM part_rec
          |  UNION ALL
          |  SELECT p, cur DIV 2, depth + 1 FROM anc WHERE cur > 1)
          |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_parts
          |FROM anc WHERE cur = 1 GROUP BY depth""".stripMargin)
    },
      oracle = ("WITH RECURSIVE anc(p, cur, depth) AS (" +
        "SELECT p_partkey, p_partkey, 0 FROM part UNION ALL " +
        "SELECT p, cur // 2, depth + 1 FROM anc WHERE cur > 1) " +
        "SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_parts " +
        "FROM anc WHERE cur = 1 GROUP BY depth")),
  )
}
