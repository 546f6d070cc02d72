package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Bearly
import graft.operators.{Dedup, EventOps, Multimodal, Similarity, TextAnalysis}
import graft.queries.{Relational, TpchShapes}

/** TPC-H / relational pack — the `relationalQueries`/`relationalOracles` slice of the driver contract
  * (split from the single SparkEntry registry in round 9; SparkEntry
  * merges every domain trait back into the 313-key map the driver
  * reads — see [[graft.SparkEntry]]).
  */
private[graft] trait RelationalRegistry {
  protected def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational pack (SURVEY §2.2 taxonomy) ---
    "q1_pricing_summary" -> ((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    "q3_top_revenue" -> ((s, d) =>
      Relational.topRevenueOrders(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_filter_pushdown" -> ((s, d) => Relational.highQtyReturns(Tables.lineitem(s, d))),
    "q_semi_join" -> ((s, d) =>
      Relational.customersWithOpenOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q_anti_join" -> ((s, d) =>
      Relational.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q_window_topk" -> ((s, d) => Relational.topOrdersPerPriority(Tables.orders(s, d))),
    "q_distinct" -> ((s, d) => Relational.distinctFlagStatus(Tables.lineitem(s, d))),
    "q_except" -> ((s, d) => Relational.exceptCustkeys(Tables.orders(s, d))),
    "q_intersect" -> ((s, d) => Relational.intersectCustkeys(Tables.orders(s, d))),
    "q_rollup" -> ((s, d) => Relational.rollupQuantities(Tables.lineitem(s, d))),
    "q_cube" -> ((s, d) => Relational.cubeOrderCounts(Tables.orders(s, d))),
    "q_scalar_funcs" -> ((s, d) => Relational.partScalarFuncs(Tables.part(s, d))),
    "q_orders_by_month" -> ((s, d) => Relational.ordersByMonth(Tables.orders(s, d))),
    "q_star_join_region_year" -> ((s, d) =>
      Relational.revenueByRegionYear(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_union_all" -> ((s, d) => Relational.unionAllOrders(Tables.orders(s, d))),
    "q_range_join" -> ((s, d) =>
      Relational.shippedWithin90Days(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_grouping_sets" -> ((s, d) => Relational.orderGroupingSets(Tables.orders(s, d))),
    "q_percentiles" -> ((s, d) => Relational.pricePercentiles(Tables.orders(s, d))),
    "q_percentiles_approx" -> ((s, d) => Relational.pricePercentilesApprox(Tables.orders(s, d))),
    "q_scalar_subquery" -> ((s, d) => Relational.aboveAverageOrders(Tables.orders(s, d))),
    "q_in_pred_semi" -> ((s, d) =>
      Relational.lineitemsOfPriciestOrders(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_approx_distinct" -> ((s, d) => Relational.approxDistinctStats(Tables.lineitem(s, d))),
    "q_udaf_weighted_avg" -> ((s, d) => Relational.weightedAvgDiscount(Tables.lineitem(s, d))),
    "q_unpivot" -> ((s, d) => Relational.unpivotMeasures(Tables.lineitem(s, d))),
    "q5_local_supplier" -> ((s, d) =>
      Relational.localSupplierVolume(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d))),
    "q6_sql_forecast" -> ((s, d) => Relational.revenueForecastSql(Tables.lineitem(s, d))),
    "q_range_window" -> ((s, d) => Relational.trailing90DayOrderTotals(Tables.orders(s, d))),
    "q_rank_profile" -> ((s, d) => Relational.priceQuartileProfile(Tables.orders(s, d))),
    "q_merge_upsert" -> ((s, d) => Relational.applyChangeSet(Tables.customer(s, d))),
    "q_merge_on_read" -> ((s, d) => Relational.mergeOnReadView(Tables.customer(s, d))),
    "q_snapshot_diff" -> ((s, d) => Relational.snapshotDiff(Tables.customer(s, d))),
    "q_copurchase_lift" -> ((s, d) => Relational.copurchaseLift(Tables.lineitem(s, d))),
    // basket table memoized: a per-call lazy checkpoint would pin a
    // fresh block copy per bench iteration (round-13 ADVICE pattern)
    "q_copurchase_lift_capped" -> ((s, d) => Relational.copurchaseLiftCapped(
      Materialized.of(s, d, "copurchase_baskets")(
        Relational.cappedBaskets(Tables.lineitem(s, d))))),
    "q_histogram" -> ((s, d) => Relational.priceHistogram(Tables.orders(s, d))),
    "q_window_nav" -> ((s, d) => Relational.orderNavigation(Tables.orders(s, d))),
    "q_lateral_topn" -> ((s, d) =>
      Relational.lateralTopOrder(Tables.customer(s, d), Tables.orders(s, d))),
    "q_recursive_cte" -> ((s, d) =>
      Relational.recursiveHierarchyDepths(Tables.customer(s, d))),
    "q_except_all" -> ((s, d) => Relational.exceptAllPriorities(Tables.orders(s, d))),
    "q_intersect_all" -> ((s, d) => Relational.intersectAllPriorities(Tables.orders(s, d))),
    "q_null_safe_join" -> ((s, d) => Relational.nullSafeRegionPairs(Tables.nation(s, d))),
    "q_string_agg" -> ((s, d) => Relational.statusListByPriority(Tables.orders(s, d))),
    "q_zorder_cluster" -> ((s, d) =>
      graft.operators.Clustering.eventZValues(Tables.events(s, d))),
    "q_outer_join_count" -> ((s, d) =>
      Relational.customerOrderCounts(Tables.customer(s, d), Tables.orders(s, d))),
    "q_full_outer_nation" -> ((s, d) =>
      Relational.nationCustomerSupplierBalance(Tables.customer(s, d), Tables.supplier(s, d))),
    "q21_exists_shape" -> ((s, d) =>
      Relational.onlyReturnedSupplier(Tables.supplier(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "q17_corr_subquery_sql" -> ((s, d) =>
      Relational.belowHalfAvgQuantityRevenueSql(Tables.part(s, d), Tables.lineitem(s, d))),
    "q17_corr_subquery_df" -> ((s, d) =>
      Relational.belowHalfAvgQuantityRevenue(Tables.part(s, d), Tables.lineitem(s, d))),
    // --- TPC-H optimizer-breadth shapes ---
    "q2_min_cost_supp" -> ((s, d) =>
      TpchShapes.minCostSupplier(Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d), Tables.lineitem(s, d))),
    "q4_order_priority" -> ((s, d) =>
      TpchShapes.orderPriorityCheck(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q7_volume_shipping" -> ((s, d) =>
      TpchShapes.volumeShipping(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q8_market_share" -> ((s, d) =>
      TpchShapes.marketShare(Tables.lineitem(s, d), Tables.part(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d))),
    "q9_product_profit" -> ((s, d) =>
      TpchShapes.productProfit(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.nation(s, d))),
    "q10_returned_items" -> ((s, d) =>
      TpchShapes.returnedItemRevenue(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d))),
    "q11_balance_concentration" -> ((s, d) =>
      TpchShapes.balanceConcentration(Tables.supplier(s, d), Tables.nation(s, d))),
    "q13_cust_distribution" -> ((s, d) =>
      TpchShapes.custOrderDistribution(Tables.customer(s, d), Tables.orders(s, d))),
    "q14_promo_revenue" -> ((s, d) =>
      TpchShapes.promoRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q15_top_supplier" -> ((s, d) =>
      TpchShapes.topSupplier(Tables.supplier(s, d), Tables.lineitem(s, d))),
    "q16_supplier_cnt_sql" -> ((s, d) =>
      TpchShapes.supplierCountSql(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d))),
    "q18_large_orders" -> ((s, d) =>
      TpchShapes.largeVolumeOrders(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "q19_disjunctive" -> ((s, d) =>
      TpchShapes.disjunctiveRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q20_nested_in" -> ((s, d) =>
      TpchShapes.qualifiedSuppliers(Tables.supplier(s, d), Tables.nation(s, d),
        Tables.lineitem(s, d), Tables.part(s, d))),
    "q22_dormant_customers" -> ((s, d) =>
      TpchShapes.dormantCustomers(Tables.customer(s, d), Tables.orders(s, d))),
    "q12_priority_by_flag" -> ((s, d) =>
      TpchShapes.priorityByFlag(Tables.lineitem(s, d), Tables.orders(s, d))),
    "q_column_profile" -> ((s, d) => Relational.columnProfile(Tables.lineitem(s, d))),
    // sketch-based → engine-specific estimates, no SQL oracle;
    // tolerance spec pins it against q_column_profile's exact counts
    "q_column_profile_approx" -> ((s, d) =>
      Relational.columnProfileApprox(Tables.lineitem(s, d))),
    "q_pareto_share" -> ((s, d) =>
      Relational.revenueParetoTop(Tables.customer(s, d), Tables.orders(s, d))),
    "q_rollup_grouping_id" -> ((s, d) =>
      Relational.rollupWithGroupingId(Tables.orders(s, d))),
    // salted skew join, oracle-pinned: the salt must not change the
    // join RESULT, only the shuffle distribution — the oracle is the
    // plain unsalted join aggregated to a deterministic summary.
    "q_skew_salted" -> ((s, d) =>
      graft.operators.Skew.saltedSupplierSummary(
        Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q_sql_udf" -> ((s, d) => Relational.sqlUdfRevenue(Tables.lineitem(s, d))),
    "q_mad_prices" -> ((s, d) => Relational.priceMadByPriority(Tables.orders(s, d))),
    "q_revenue_deciles" -> ((s, d) => Relational.revenueDeciles(Tables.orders(s, d))),
    "q_ship_latency" -> ((s, d) =>
      Relational.orderToShipLatency(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_drawdown" -> ((s, d) => Relational.revenueDrawdown(Tables.orders(s, d))),
    "q_benford" -> ((s, d) => Relational.benfordFirstDigit(Tables.orders(s, d))),
    "q_revenue_accounting" -> ((s, d) => Relational.revenueAccounting(Tables.orders(s, d))),
    "q_customer_acquisition" -> ((s, d) => Relational.customerAcquisition(Tables.orders(s, d))),
    "q_market_hhi" -> ((s, d) => Relational.marketHhi(Tables.orders(s, d),
      Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_single_source_risk" -> ((s, d) => Relational.singleSourceRisk(Tables.lineitem(s, d))),
    "q_price_ols_by_flag" -> ((s, d) => Relational.priceOlsByFlag(Tables.lineitem(s, d))),
    "q_gini" -> ((s, d) => Relational.giniCustomerSpend(Tables.orders(s, d))),
    "q_weighted_median" -> ((s, d) => Relational.weightedMedianPrice(Tables.lineitem(s, d))),
  )


  /** Shared oracle for BOTH merge paths (q_merge_upsert writes the
    * next snapshot, q_merge_on_read composes it at read time — the
    * outputs are defined to be row-identical, so one SQL pins both).
    */
  private val mergeOracle: String =
      """WITH ch AS (
        |  SELECT c_custkey AS key,
        |         CASE WHEN c_custkey % 10 = 3 THEN 'U' ELSE 'D' END AS op,
        |         round(c_acctbal + 100, 2) AS new_bal
        |  FROM customer WHERE c_custkey % 10 IN (3, 7)
        |  UNION ALL
        |  SELECT c_custkey + 10000000, 'I', 0.0
        |  FROM customer WHERE c_custkey % 10 = 1),
        |snap AS (SELECT c_custkey AS key, c_acctbal AS bal FROM customer),
        |survivors AS (
        |  SELECT snap.key,
        |         CASE WHEN ch.op = 'U' THEN ch.new_bal ELSE snap.bal END AS bal
        |  FROM snap LEFT JOIN ch ON snap.key = ch.key
        |  WHERE ch.op IS NULL OR ch.op <> 'D'),
        |ins AS (
        |  SELECT ch.key, ch.new_bal AS bal FROM ch
        |  WHERE ch.op = 'I'
        |    AND NOT EXISTS (SELECT 1 FROM snap WHERE snap.key = ch.key))
        |SELECT * FROM survivors UNION ALL SELECT * FROM ins ORDER BY key""".stripMargin

  protected def relationalOracles: Map[String, String] = Map(
    // --- TPC-H optimizer-breadth shapes: oracles keep the CLASSIC
    // correlated/subquery formulations where the Spark side is
    // hand-decorrelated, so DuckDB's own planner cross-checks the
    // rewrite rather than replaying our plan ---
    "q2_min_cost_supp" ->
      """WITH cost AS (SELECT l_partkey, l_suppkey,
        |                     min(l_extendedprice / l_quantity) AS cost
        |              FROM lineitem GROUP BY 1, 2),
        |euro AS (SELECT s_suppkey, s_name, n_name FROM supplier
        |         JOIN nation ON s_nationkey = n_nationkey
        |         JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |cand AS (SELECT p_partkey, p_brand, s_name, n_name, cost FROM part
        |         JOIN cost ON p_partkey = l_partkey
        |         JOIN euro ON l_suppkey = s_suppkey
        |         WHERE p_type = 'SMALL' AND p_size <= 10)
        |SELECT p_partkey, p_brand, s_name, n_name,
        |       CAST(round(CAST(cost AS DECIMAL(20,10)), 4) AS DOUBLE) AS cost
        |FROM cand
        |WHERE cost = (SELECT min(cost) FROM cand c2 WHERE c2.p_partkey = cand.p_partkey)
        |ORDER BY p_partkey, s_name""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |         l_extendedprice * (1 - l_discount) AS volume
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
        |         (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01') t
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year,
        |       round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
        |             / sum(volume), 6) AS mkt_share
        |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |             l_extendedprice * (1 - l_discount) AS volume,
        |             n2.n_name AS nation
        |      FROM lineitem JOIN part ON l_partkey = p_partkey
        |      JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |      JOIN region ON n1.n_regionkey = r_regionkey
        |      JOIN supplier ON l_suppkey = s_suppkey
        |      JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |        AND o_orderdate >= TIMESTAMP '1996-01-01'
        |        AND o_orderdate < TIMESTAMP '1998-01-01') t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT nation, o_year,
        |       round(CAST(sum(CAST(amount AS DECIMAL(28,8))) AS DOUBLE), 2) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         l_extendedprice * (1 - l_discount)
        |           - p_retailprice * l_quantity * 0.1 AS amount
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%widget%') t
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       round(c_acctbal, 2) AS c_acctbal, n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q11_balance_concentration" ->
      """SELECT n_name, round(sum(s_acctbal), 2) AS nation_balance
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1
        |HAVING sum(s_acctbal) > (SELECT sum(s_acctbal) * 0.05 FROM supplier)
        |ORDER BY nation_balance DESC, n_name""".stripMargin,
    "q13_cust_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                              THEN l_extendedprice * (1 - l_discount)
        |                              ELSE 0 END)
        |             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-02-01'""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        |             FROM lineitem
        |             WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |               AND l_shipdate < TIMESTAMP '1996-04-01'
        |             GROUP BY 1)
        |SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q16_supplier_cnt_sql" ->
      """SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       round(o_totalprice, 2) AS o_totalprice, round(sum_qty, 2) AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
        |      GROUP BY 1 HAVING sum(l_quantity) > 300) b
        |  ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_disjunctive" ->
      """SELECT round(coalesce(sum(l_extendedprice * (1 - l_discount)), 0), 2) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q20_nested_in" ->
      """SELECT s_suppkey, s_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey < 2
        |  AND s_suppkey IN (SELECT l_suppkey FROM lineitem
        |                    JOIN part ON l_partkey = p_partkey
        |                    WHERE p_name LIKE 'red%'
        |                    GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 90)
        |ORDER BY s_suppkey""".stripMargin,
    "q22_dormant_customers" ->
      """SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal FROM (
        |  SELECT c_custkey % 7 AS cntrycode, c_acctbal FROM customer
        |  WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_priority_by_flag" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
        |    AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rollup_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_pareto_share" ->
      """WITH pc AS (SELECT o_custkey, sum(o_totalprice) AS rev FROM orders GROUP BY 1),
        |r AS (SELECT o_custkey, rev,
        |        CAST(row_number() OVER (ORDER BY rev DESC, o_custkey) AS INTEGER) AS rnk,
        |        sum(rev) OVER (ORDER BY rev DESC, o_custkey
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |      FROM pc)
        |SELECT rnk, o_custkey, round(rev, 2) AS rev,
        |       round(cum_rev / (SELECT sum(rev) FROM pc), 6) AS cum_share
        |FROM r WHERE rnk <= 25 ORDER BY rnk""".stripMargin,
    "q_column_profile" ->
      """WITH s AS (
        |  SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS v FROM lineitem
        |  UNION ALL SELECT 'l_quantity', CAST(l_quantity AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
        |  UNION ALL SELECT 'l_shipdate', CAST(l_shipdate AS VARCHAR) FROM lineitem)
        |SELECT col_name, count(*) AS n_rows, count(v) AS n_nonnull,
        |       count(DISTINCT v) AS n_distinct, min(v) AS min_v, max(v) AS max_v
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_skew_salted" ->
      """SELECT s_nationkey, count(*) AS n_lines,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // integer-day order→ship gaps rolled up per priority
    "q_ship_latency" ->
      """WITH j AS (
        |  SELECT o_orderpriority,
        |         CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |                        CAST(l_shipdate AS DATE)) AS INTEGER) AS days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, count(*) AS n_items,
        |       round(avg(days), 4) AS avg_days,
        |       quantile_cont(days, 0.5) AS p50_days,
        |       quantile_cont(days, 0.9) AS p90_days,
        |       max(days) AS max_days
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // nine broadcast thresholds; bin = #thresholds strictly below
    "q_revenue_deciles" ->
      """WITH thr AS (
        |  SELECT quantile_cont(o_totalprice,
        |         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS thr FROM orders)
        |SELECT CAST(len(list_filter(thr, t -> t < o_totalprice)) AS INTEGER) AS decile,
        |       count(*) AS n_orders,
        |       round(min(o_totalprice), 2) AS min_price,
        |       round(max(o_totalprice), 2) AS max_price,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM orders CROSS JOIN thr
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_mad_prices" ->
      """WITH med AS (SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med_price
        |             FROM orders GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n,
        |       round(min(med_price), 4) AS med_price,
        |       round(quantile_cont(abs(o_totalprice - med_price), 0.5), 4) AS mad_price
        |FROM orders JOIN med USING (o_orderpriority)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity),2) AS sum_qty,
        |       round(sum(l_extendedprice),2) AS sum_base_price,
        |       round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        |       round(avg(l_quantity),4) AS avg_qty,
        |       round(avg(l_discount),4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        |       round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |     JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30'
        |  AND l_shipdate > TIMESTAMP '1998-06-30'
        |GROUP BY 1,2,3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_window_topk" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) sub
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1,2""",
    "q_except" ->
      """SELECT * FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O') sub
        |ORDER BY custkey""".stripMargin,
    "q_intersect" ->
      """SELECT * FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O') sub
        |ORDER BY custkey""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_scalar_funcs" ->
      """SELECT p_partkey, upper(p_type) AS type_upper, substr(p_name,1,8) AS name_prefix,
        |       CAST(length(p_name) AS INTEGER) AS name_len,
        |       p_brand || '#' || p_type AS brand_type,
        |       round(p_retailprice*1.1,2) AS bumped_price,
        |       CAST(p_size % 7 AS INTEGER) AS size_mod
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_orders_by_month" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |       count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price
        |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_star_join_region_year" ->
      """SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |     JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_union_all" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_orderpriority AS bucket FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority AS bucket FROM orders
        |  WHERE o_orderpriority = '2-HIGH') sub
        |ORDER BY o_orderkey, bucket""".stripMargin,
    "q_range_join" ->
      """SELECT l_returnflag, count(*) AS n,
        |       round(avg((epoch_us(CAST(l_shipdate AS TIMESTAMP))
        |                  - epoch_us(CAST(o_orderdate AS TIMESTAMP)))
        |                 / (86400.0 * 1000000)), 4) AS avg_lag_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice),2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |       count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q_in_pred_semi" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_udaf_weighted_avg" ->
      """SELECT l_returnflag,
        |       round(sum(l_discount * l_quantity) / sum(l_quantity), 6) AS wavg_discount,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same correlated statement verbatim — DuckDB decorrelates it
    // with its own machinery; hash equality proves Catalyst's rewrite
    // (and the hand-decorrelated DataFrame twin) preserve semantics
    "q17_corr_subquery_sql" ->
      """SELECT p_brand, count(*) AS n_lines,
        |       round(sum(l_extendedprice), 2) AS total_price
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q17_corr_subquery_df" ->
      """SELECT p_brand, count(*) AS n_lines,
        |       round(sum(l_extendedprice), 2) AS total_price
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_range_window" ->
      """SELECT o_orderkey, o_custkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |         RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW), 2) AS trailing_total
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_rank_profile" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |         ntile(4) OVER w AS quartile,
        |         percent_rank() OVER w AS pr,
        |         cume_dist() OVER w AS cd
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey))
        |SELECT o_orderpriority, CAST(quartile AS BIGINT) AS quartile,
        |       count(*) AS n_orders,
        |       round(avg(o_totalprice), 2) AS avg_price,
        |       round(max(pr), 6) AS max_pr, round(max(cd), 6) AS max_cd
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // merge-on-read produces the identical next-snapshot rows as the
    // write path, so it shares q_merge_upsert's oracle SQL verbatim
    "q_merge_on_read" -> mergeOracle,
    "q_merge_upsert" -> mergeOracle,
    // same changelog + apply CTEs as mergeOracle, then a FULL OUTER
    // diff of before vs after keeping only the non-unchanged rows.
    "q_snapshot_diff" ->
      """WITH ch AS (
        |  SELECT c_custkey AS key,
        |         CASE WHEN c_custkey % 10 = 3 THEN 'U' ELSE 'D' END AS op,
        |         round(c_acctbal + 100, 2) AS new_bal
        |  FROM customer WHERE c_custkey % 10 IN (3, 7)
        |  UNION ALL
        |  SELECT c_custkey + 10000000, 'I', 0.0
        |  FROM customer WHERE c_custkey % 10 = 1),
        |snap AS (SELECT c_custkey AS key, c_acctbal AS bal FROM customer),
        |survivors AS (
        |  SELECT snap.key,
        |         CASE WHEN ch.op = 'U' THEN ch.new_bal ELSE snap.bal END AS bal
        |  FROM snap LEFT JOIN ch ON snap.key = ch.key
        |  WHERE ch.op IS NULL OR ch.op <> 'D'),
        |ins AS (
        |  SELECT ch.key, ch.new_bal AS bal FROM ch
        |  WHERE ch.op = 'I'
        |    AND NOT EXISTS (SELECT 1 FROM snap WHERE snap.key = ch.key)),
        |aft AS (SELECT * FROM survivors UNION ALL SELECT * FROM ins),
        |d AS (SELECT coalesce(b.key, a.key) AS key,
        |             CASE WHEN b.key IS NULL THEN 'added'
        |                  WHEN a.key IS NULL THEN 'deleted'
        |                  WHEN b.bal <> a.bal THEN 'changed'
        |                  ELSE 'unchanged' END AS status,
        |             b.bal AS old_bal, a.bal AS new_bal
        |      FROM snap b FULL OUTER JOIN aft a ON b.key = a.key)
        |SELECT key, status, old_bal, new_bal FROM d
        |WHERE status <> 'unchanged' ORDER BY key""".stripMargin,
    "q_copurchase_lift" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
        |no AS (SELECT count(DISTINCT okey) AS n_orders FROM po),
        |pc AS (SELECT part, count(*) AS n_p FROM po GROUP BY 1),
        |pr AS (SELECT a.part AS part_a, b.part AS part_b, count(*) AS n_ab
        |       FROM po a JOIN po b USING (okey) WHERE a.part < b.part GROUP BY 1, 2)
        |SELECT part_a, part_b, n_ab,
        |       round((CAST(n_ab AS DOUBLE) / n_orders) /
        |             ((CAST(ca.n_p AS DOUBLE) / n_orders) *
        |              (CAST(cb.n_p AS DOUBLE) / n_orders)), 6) AS lift
        |FROM pr JOIN pc ca ON pr.part_a = ca.part
        |        JOIN pc cb ON pr.part_b = cb.part
        |CROSS JOIN no
        |WHERE n_ab >= 2
        |ORDER BY n_ab DESC, part_a, part_b LIMIT 200""".stripMargin,
    // the basket-capped twin: baskets > 5 dropped BEFORE the pair join
    "q_copurchase_lift_capped" ->
      """WITH po0 AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
        |kept AS (SELECT okey FROM po0 GROUP BY okey HAVING count(*) <= 5),
        |po AS (SELECT po0.okey, po0.part FROM po0 JOIN kept USING (okey)),
        |no AS (SELECT count(DISTINCT okey) AS n_orders FROM po),
        |pc AS (SELECT part, count(*) AS n_p FROM po GROUP BY 1),
        |pr AS (SELECT a.part AS part_a, b.part AS part_b, count(*) AS n_ab
        |       FROM po a JOIN po b USING (okey) WHERE a.part < b.part GROUP BY 1, 2)
        |SELECT part_a, part_b, n_ab,
        |       round((CAST(n_ab AS DOUBLE) / n_orders) /
        |             ((CAST(ca.n_p AS DOUBLE) / n_orders) *
        |              (CAST(cb.n_p AS DOUBLE) / n_orders)), 6) AS lift
        |FROM pr JOIN pc ca ON pr.part_a = ca.part
        |        JOIN pc cb ON pr.part_b = cb.part
        |CROSS JOIN no
        |WHERE n_ab >= 2
        |ORDER BY n_ab DESC, part_a, part_b LIMIT 200""".stripMargin,
    "q_histogram" ->
      """WITH b AS (
        |  SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 30000.0), 0.0),
        |                    19.0) AS BIGINT) AS bucket
        |  FROM orders)
        |SELECT bucket, round(0.0 + bucket * 30000.0, 2) AS bucket_lo,
        |       round(0.0 + (bucket + 1) * 30000.0, 2) AS bucket_hi,
        |       count(*) AS n_orders
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_window_nav" ->
      """SELECT o_orderkey, o_custkey,
        |       first_value(o_orderkey) OVER wf AS first_key,
        |       last_value(o_orderkey) OVER wf AS last_key,
        |       nth_value(o_orderkey, 2) OVER wf AS second_key,
        |       lag(o_totalprice) OVER w AS prev_price,
        |       last_value(CASE WHEN o_totalprice > 200000.0 THEN o_orderkey END
        |                  IGNORE NULLS) OVER wr AS last_big_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |       wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q_lateral_topn" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
        |ORDER BY c.c_custkey""".stripMargin,
    "q_recursive_cte" ->
      """WITH RECURSIVE walk(key, anc, d) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT key, CAST(floor(anc / 2) AS BIGINT), d + 1 FROM walk WHERE anc > 1
        |)
        |SELECT CAST(d AS BIGINT) AS depth, count(*) AS n_customers FROM (
        |  SELECT key, max(d) AS d FROM walk GROUP BY key) t
        |GROUP BY d ORDER BY d""".stripMargin,
    "q_except_all" ->
      """SELECT o_orderpriority, count(*) AS n FROM (
        |  SELECT o_orderpriority FROM orders
        |  EXCEPT ALL
        |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F') t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_intersect_all" ->
      """SELECT o_orderpriority, count(*) AS n FROM (
        |  SELECT o_orderpriority FROM orders WHERE o_orderstatus <> 'P'
        |  INTERSECT ALL
        |  SELECT o_orderpriority FROM orders WHERE o_orderstatus <> 'O') t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_null_safe_join" ->
      """WITH a AS (SELECT n_nationkey AS a_key, nullif(n_regionkey, 2) AS a_rk FROM nation),
        |     b AS (SELECT n_nationkey AS b_key, nullif(n_regionkey, 2) AS b_rk FROM nation)
        |SELECT a_rk AS rk, count(*) AS n_pairs
        |FROM a JOIN b ON a_rk IS NOT DISTINCT FROM b_rk
        |GROUP BY 1 ORDER BY rk NULLS FIRST""".stripMargin,
    "q_string_agg" ->
      """SELECT o_orderpriority,
        |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // z-value interleave re-derived bit-for-bit in SQL (generated
    // 2×16-term bitwise expression — same literal-embedding pattern as
    // the splitmix/minhash twins)
    "q_zorder_cluster" ->
      s"""SELECT event_id, x, y, ${graft.operators.Clustering.zValueSql("x", "y")} AS zval
         |FROM (SELECT event_id, user_id & 65535 AS x,
         |             (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) & 65535 AS y
         |      FROM events) t
         |ORDER BY event_id""".stripMargin,
    "q_outer_join_count" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_full_outer_nation" ->
      """WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_building_customers
        |           FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
        |     s AS (SELECT s_nationkey AS nk, count(*) AS n_debtor_suppliers
        |           FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
        |SELECT coalesce(c.nk, s.nk) AS nationkey,
        |       coalesce(n_building_customers, 0) AS n_building_customers,
        |       coalesce(n_debtor_suppliers, 0) AS n_debtor_suppliers
        |FROM c FULL OUTER JOIN s ON c.nk = s.nk
        |ORDER BY nationkey""".stripMargin,
    // same correlated EXISTS / NOT EXISTS statement verbatim — DuckDB
    // plans it with its own subquery machinery; hash equality proves
    // Catalyst's RewritePredicateSubquery (semi/anti joins) is
    // semantics-preserving
    "q21_exists_shape" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
    "q6_sql_forecast" ->
      """SELECT round(coalesce(sum(l_extendedprice * l_discount), 0), 2) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_unpivot" ->
      """SELECT metric, count(*) AS n, round(sum(value), 2) AS total
        |FROM (
        |  SELECT 'discount' AS metric, l_discount AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'price', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'quantity', l_quantity FROM lineitem) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the UDF body inlined — the oracle checks the semantics the SQL
    // function registry must preserve
    "q_sql_udf" ->
      """SELECT l_returnflag, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_drawdown" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |                  round(sum(o_totalprice), 2) AS revenue
        |           FROM orders GROUP BY 1),
        |p AS (SELECT month, revenue,
        |             max(revenue) OVER (ORDER BY month
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |      FROM m)
        |SELECT month, revenue, peak,
        |       round((peak - revenue) / peak, 6) AS drawdown
        |FROM p ORDER BY month""".stripMargin,
    // an order is "new" iff it falls in its customer's first month
    "q_revenue_accounting" ->
      """WITH w AS (SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month,
        |                  o_totalprice FROM orders),
        |f AS (SELECT o_custkey, min(month) AS first_month FROM w GROUP BY 1),
        |m AS (SELECT month,
        |        round(sum(CASE WHEN month = first_month THEN o_totalprice
        |                  ELSE 0.0 END), 2) AS revenue_new,
        |        round(sum(CASE WHEN month <> first_month THEN o_totalprice
        |                  ELSE 0.0 END), 2) AS revenue_repeat
        |      FROM w JOIN f USING (o_custkey) GROUP BY 1)
        |SELECT month, revenue_new, revenue_repeat,
        |       round(revenue_new / (revenue_new + revenue_repeat), 6) AS share_new
        |FROM m ORDER BY month""".stripMargin,
    // month of each customer's FIRST order; cumulative over the month table
    "q_customer_acquisition" ->
      """WITH f AS (SELECT o_custkey, min(strftime(o_orderdate, '%Y-%m')) AS month
        |           FROM orders GROUP BY 1),
        |m AS (SELECT month, count(*) AS n_new FROM f GROUP BY 1)
        |SELECT month, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED
        |         PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_customers
        |FROM m ORDER BY month""".stripMargin,
    // top-supplier share per part, floored into 10 risk buckets
    "q_single_source_risk" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey, count(*) AS n_ps
        |            FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT l_partkey, CAST(sum(n_ps) AS BIGINT) AS n_p,
        |             CAST(max(n_ps) AS BIGINT) AS n_top FROM ps GROUP BY 1),
        |b AS (SELECT CAST(least(floor(CAST(n_top AS DOUBLE) / n_p * 10), 9)
        |               AS INTEGER) AS risk_bucket FROM p)
        |SELECT risk_bucket,
        |       round(CAST(risk_bucket AS DOUBLE) / 10.0, 1) AS share_lo,
        |       count(*) AS n_parts
        |FROM b GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // nation revenue rounded to cents BEFORE shares; HHI = Σ share²
    "q_market_hhi" ->
      """WITH rev AS (SELECT r_name AS region, n_name AS nation,
        |               round(sum(o_totalprice), 2) AS rev
        |             FROM orders
        |             JOIN customer ON o_custkey = c_custkey
        |             JOIN nation ON c_nationkey = n_nationkey
        |             JOIN region ON n_regionkey = r_regionkey
        |             GROUP BY 1, 2),
        |s AS (SELECT region,
        |             rev / sum(rev) OVER (PARTITION BY region) AS share
        |      FROM rev)
        |SELECT region, count(*) AS n_nations,
        |       round(sum(share * share), 6) AS hhi
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-group closed-form OLS from five raw sums; x exact, y double
    "q_price_ols_by_flag" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |             sum(l_extendedprice) AS sy,
        |             sum(CAST(l_quantity AS BIGINT) * l_extendedprice) AS sxy,
        |             CAST(sum(CAST(l_quantity AS BIGINT) *
        |                      CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx2,
        |             sum(l_extendedprice * l_extendedprice) AS sy2
        |           FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN n * sx2 - sx * sx > 0 THEN
        |    round((n * sxy - sx * sy) / CAST(n * sx2 - sx * sx AS DOUBLE), 6)
        |  END AS slope_per_unit,
        |  CASE WHEN n * sx2 - sx * sx > 0 THEN
        |    round(sy / n - (n * sxy - sx * sy)
        |          / CAST(n * sx2 - sx * sx AS DOUBLE) * sx / n, 4)
        |  END AS intercept,
        |  CASE WHEN n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0 THEN
        |    round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |          / (CAST(n * sx2 - sx * sx AS DOUBLE) * (n * sy2 - sy * sy)), 6)
        |  END AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin,
    // exact-cents first digit via integer-to-string (no float formatting)
    "q_benford" ->
      """WITH c AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |           FROM orders),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
        |               AS first_digit,
        |             count(*) AS n_orders FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM d)
        |SELECT first_digit, n_orders,
        |       round(CAST(n_orders AS DOUBLE) / n_total, 6) AS share,
        |       round(ln(1.0 + 1.0 / first_digit) / ln(10), 6) AS benford_expected,
        |       round(round(CAST(n_orders AS DOUBLE) / n_total, 6)
        |             - round(ln(1.0 + 1.0 / first_digit) / ln(10), 6), 6) AS excess
        |FROM d, t ORDER BY first_digit""".stripMargin,
    // exact integer rank formula; Σ i·xᵢ in BIGINT cents
    "q_gini" ->
      """WITH s AS (SELECT o_custkey,
        |             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |               AS BIGINT) AS spend_cents
        |           FROM orders GROUP BY 1),
        |r AS (SELECT spend_cents,
        |             row_number() OVER (ORDER BY spend_cents, o_custkey) AS rnk
        |      FROM s),
        |a AS (SELECT count(*) AS n, CAST(sum(spend_cents) AS BIGINT) AS t,
        |             CAST(sum(rnk * spend_cents) AS BIGINT) AS rx FROM r)
        |SELECT n AS n_customers, round(t / 100.0, 2) AS total_spend,
        |       round(2.0 * rx / (CAST(n AS DOUBLE) * t) - (n + 1.0) / n, 6) AS gini
        |FROM a""".stripMargin,
    // first price group where 2·cumweight ≥ total (integer crossing test)
    "q_weighted_median" ->
      """WITH wp AS (SELECT l_extendedprice AS price,
        |              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |            FROM lineitem GROUP BY 1),
        |c AS (SELECT price, w,
        |             CAST(sum(w) OVER (ORDER BY price ROWS BETWEEN UNBOUNDED
        |               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |             CAST(sum(w) OVER () AS BIGINT) AS t FROM wp)
        |SELECT min(t) AS total_weight, min(price) AS weighted_median_price
        |FROM c WHERE 2 * cum >= t""".stripMargin,
  )
}
