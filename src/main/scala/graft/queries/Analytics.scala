package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.ColumnOps._

/** Reference-parity analytic corpus (SURVEY.md §2), re-mapped onto the
  * driver's TPC-H-ish star schema (FIXTURES.md §B mapping: fact ≙
  * lineitem/orders, region/country ≙ region/nation, item_type ≙
  * p_type, channel ≙ o_orderpriority / l_returnflag).
  *
  * Determinism rules (these also make results reproducible across
  * cluster sizes — partial-aggregation order must not change answers):
  *   - money/quantity SUM/AVG go through DECIMAL (exact, associative),
  *     final result cast to DOUBLE;
  *   - every top-k has a unique-key tiebreaker;
  *   - surrogate keys / row numbers use explicit ORDER BY, never
  *     monotonically_increasing_id.
  *
  * Scale notes: only genuinely tiny dims (nation=25, region=5) are
  * hard-broadcast; everything else is left to Catalyst/AQE so the same
  * code picks SMJ/shuffled-hash when a "dim" is 10^9 rows at 100 TB.
  */
object Analytics {

  // revenue expression used throughout (reference measure ≙
  // total_revenue; etl_pipeline/load.py:284)
  private def revenue(li: DataFrame): Column =
    li("l_extendedprice") * (lit(1.0) - li("l_discount"))

  /** q1 (A1 global scalar agg; reference etl_pipeline/load.py:284-287). */
  def q1TotalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.agg(sumMoney(revenue(li)).as("total_revenue"))
  }

  /** q2 (A2 group-by sum per year; reference etl_pipeline/load.py:288-294). */
  def q2RevenuePerYear(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(sumMoney(col("o_totalprice")).as("total_revenue"))
      .orderBy(col("order_year"))
  }

  /** q3 (J3 star join + O2 top-k; reference etl_pipeline/load.py:295-302). */
  def q3TopNationsByRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sumMoney(col("o_totalprice")).as("total_revenue"))
      .orderBy(col("total_revenue").desc, col("n_name"))
      .limit(5)
  }

  /** q4 (A2 units per item type; reference etl_pipeline/load.py:303-309). */
  def q4UnitsPerItemType(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_type").as("item_type"))
      .agg(sumMoney(col("l_quantity")).as("total_units"))
      .orderBy(col("total_units").desc, col("item_type"))
  }

  /** q5 (A3 avg ratio per channel with 0-divisor guard F9/F23;
    * reference etl_pipeline/load.py:310-315). */
  def q5AvgMarginPerChannel(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ratio = safeDiv(revenue(li), li("l_extendedprice"))
    li.groupBy(col("l_returnflag").as("sales_channel"))
      .agg(avgRatio(ratio).as("avg_margin_ratio"))
      .orderBy(col("sales_channel"))
  }

  /** q6 (A2 2-key group across 4-way star join; reference
    * etl_pipeline/load.py:316-323). */
  def q6RevenuePerRegionYear(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region"),
        year(col("o_orderdate")).as("order_year"))
      .agg(sumMoney(col("o_totalprice")).as("total_revenue"))
      .orderBy(col("region"), col("order_year"))
  }

  /** q7 (O2 sort-limit, no join; reference etl_pipeline/load.py:324-329).
    * Plans as TakeOrderedAndProject — no full sort at scale. */
  def q7TopOrdersByPrice(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** q8 (A3 avg shipping days per country; reference
    * etl_pipeline/load.py:330-336; F6 datediff). */
  def q8AvgShippingDays(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("country"))
      .agg(avg(datediff(col("l_shipdate"), col("o_orderdate")))
        .as("avg_shipping_days"))
      .orderBy(col("avg_shipping_days"), col("country"))
  }

  /** Supplier-side star join (J3 shape over the remaining dim path:
    * lineitem⋈supplier⋈nation — completes coverage of every test
    * table). */
  def q9RevenuePerSupplierNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(s, li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("supplier_nation"))
      .agg(sumMoney(revenue(li)).as("total_revenue"),
        countDistinct(col("s_suppkey")).as("supplier_count"))
      .orderBy(col("supplier_nation"))
  }

  /** Dashboard channel rollup (A2; reference dashboard/app.py:394). */
  def dashChannelRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(col("o_orderpriority").as("sales_channel"))
      .agg(sumMoney(col("o_totalprice")).as("total_revenue"),
        count(lit(1)).as("order_count"))
      .orderBy(col("sales_channel"))
  }

  /** Dashboard monthly trend (A5 time-bucketed agg; reference
    * dashboard/app.py:355, elt/hold.ipynb:cell14). */
  def dashMonthlyTrend(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(sumMoney(col("o_totalprice")).as("total_revenue"))
      .orderBy(col("order_month"))
  }

  /** Dashboard KPI block (A1 + fillna(0) F12; reference
    * dashboard/app.py:336-339). */
  def dashKpis(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.agg(
      sumMoney(coalesce(col("o_totalprice"), lit(0.0))).as("total_revenue"),
      count(lit(1)).as("total_orders"),
      countDistinct(col("o_custkey")).as("unique_customers"),
      avgMoney(col("o_totalprice")).as("avg_order_value"))
  }

  /** Dashboard global filter layer (P6 date range + P7 isin + P8
    * conjunction; reference dashboard/app.py:256-289) feeding a KPI agg. */
  def dashFilteredKpis(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderdate").between(lit("1994-01-01"), lit("1996-12-31 23:59:59")))
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .filter(col("o_orderstatus") =!= "F")
      .agg(sumMoney(col("o_totalprice")).as("total_revenue"),
        count(lit(1)).as("order_count"))
  }

  /** Equality lookup probe (P9; reference elt/hold.ipynb:cell9) —
    * key picked deterministically (min key) so it exists at every sf. */
  def lookupOrder(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val minKey = o.agg(min(col("o_orderkey"))).head().getLong(0)
    o.filter(col("o_orderkey") === minKey)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  /** Top-100 data explorer (O3 limit; reference dashboard/app.py:431).
    * A bare LIMIT is nondeterministic across engines, so order first. */
  def explorerSample(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
      .limit(100)

  /** Distinct-union of filter domains (U2; reference
    * dashboard/app.py:210-251). */
  def filterDomainUnion(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderstatus").as("status"))
    val li = Tables.lineitem(spark, dir).select(col("l_linestatus").as("status"))
    o.union(li).distinct().orderBy(col("status"))
  }

  val oracle: Map[String, String] = Map(
    "q1_total_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue FROM lineitem""",
    "q2_revenue_per_year" ->
      """SELECT year(o_orderdate) AS order_year, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue FROM orders GROUP BY 1 ORDER BY 1""",
    "q3_top_nations_by_revenue" ->
      """SELECT n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY total_revenue DESC, n_name LIMIT 5""",
    "q4_units_per_item_type" ->
      """SELECT p_type AS item_type, CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_units FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1 ORDER BY total_units DESC, item_type""",
    "q5_avg_margin_per_channel" ->
      """SELECT l_returnflag AS sales_channel, CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) / NULLIF(l_extendedprice, 0) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(l_extendedprice * (1.0 - l_discount) / NULLIF(l_extendedprice, 0)) AS avg_margin_ratio FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q6_revenue_per_region_year" ->
      """SELECT r_name AS region, year(o_orderdate) AS order_year, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2 ORDER BY 1, 2""",
    "q7_top_orders_by_price" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q8_avg_shipping_days" ->
      """SELECT n_name AS country, CAST(SUM(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE) / COUNT(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS avg_shipping_days FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY avg_shipping_days, country""",
    "q9_revenue_per_supplier_nation" ->
      """SELECT n_name AS supplier_nation, CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue, COUNT(DISTINCT s_suppkey) AS supplier_count FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey GROUP BY 1 ORDER BY 1""",
    "dash_channel_rollup" ->
      """SELECT o_orderpriority AS sales_channel, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue, COUNT(*) AS order_count FROM orders GROUP BY 1 ORDER BY 1""",
    "dash_monthly_trend" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue FROM orders GROUP BY 1 ORDER BY 1""",
    "dash_kpis" ->
      """SELECT CAST(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue, COUNT(*) AS total_orders, COUNT(DISTINCT o_custkey) AS unique_customers, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(o_totalprice) AS avg_order_value FROM orders""",
    "dash_filtered_kpis" ->
      """SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue, COUNT(*) AS order_count FROM orders WHERE o_orderdate BETWEEN '1994-01-01' AND '1996-12-31 23:59:59' AND o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus <> 'F'""",
    "lookup_order" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)""",
    "explorer_sample" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100""",
    "filter_domain_union" ->
      """SELECT DISTINCT status FROM (SELECT o_orderstatus AS status FROM orders UNION ALL SELECT l_linestatus AS status FROM lineitem) ORDER BY status"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_total_revenue" -> q1TotalRevenue _,
    "q2_revenue_per_year" -> q2RevenuePerYear _,
    "q3_top_nations_by_revenue" -> q3TopNationsByRevenue _,
    "q4_units_per_item_type" -> q4UnitsPerItemType _,
    "q5_avg_margin_per_channel" -> q5AvgMarginPerChannel _,
    "q6_revenue_per_region_year" -> q6RevenuePerRegionYear _,
    "q7_top_orders_by_price" -> q7TopOrdersByPrice _,
    "q8_avg_shipping_days" -> q8AvgShippingDays _,
    "q9_revenue_per_supplier_nation" -> q9RevenuePerSupplierNation _,
    "dash_channel_rollup" -> dashChannelRollup _,
    "dash_monthly_trend" -> dashMonthlyTrend _,
    "dash_kpis" -> dashKpis _,
    "dash_filtered_kpis" -> dashFilteredKpis _,
    "lookup_order" -> lookupOrder _,
    "explorer_sample" -> explorerSample _,
    "filter_domain_union" -> filterDomainUnion _
  )
}
