package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.ColumnOps._
import graft.ops.StatsOps

/** ELT-side operator corpus (SURVEY.md §2.2-2.8, reference
  * `elt/transforms.ipynb`, `elt/hold.ipynb`, `etl_pipeline/transform.py`):
  * smart-fill joins, keep-first dedup, source-priority union dedup,
  * CASE bucketing, IQR clipping, min-max normalization, histogram,
  * one-hot, quality report, median imputation, describe, and the
  * recompute/derive chain — all as single declarative plans (the
  * reference's UPDATE-in-place chains collapse into one
  * re-materialization, SURVEY.md §7.4.6).
  *
  * Determinism: window dedups always carry a total-order tiebreaker;
  * two-phase stats (IQR/min-max) are lower order statistics
  * computed in a first job and inlined as literals — the exact
  * idiom the reference uses client-side (`elt/hold.ipynb:cell12`),
  * made distributed. The median is a lower order statistic too, but
  * planned as a scalar subquery ([[StatsOps.medianColumn]]), so it
  * runs with the plan that uses it.
  */
object EltOps {

  /** J7 smart-fill: fill null region from other rows of the same
    * nation, else 'Unknown' (reference elt/hold.ipynb:cell7). */
  def smartFillRegion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val t1 = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("c_custkey"), col("n_name"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("r_name"))
          .as("region"))
    val ref = t1.filter(col("region").isNotNull)
      .select(col("n_name"), col("region").as("region_ref")).distinct()
    t1.join(broadcast(ref), Seq("n_name"), "left")
      .select(col("c_custkey"), col("n_name"),
        coalesce(col("region"), col("region_ref"), lit("Unknown"))
          .as("region_filled"))
      .orderBy(col("c_custkey"))
  }

  /** W1/J6 keep-earliest dedup via window (reference theta-join DELETE,
    * elt/transforms.ipynb:cell5). */
  def dedupKeepFirst(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_shipdate"), col("l_linenumber"), col("l_quantity"))
    li.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_quantity"))
      .orderBy(col("l_orderkey"))
  }

  /** U1+W2: union two overlapping sources with explicit priority, then
    * deterministic keep-first (reference pd.concat + drop_duplicates,
    * etl_pipeline/transform.py:144,158 — Spark dropDuplicates keeps an
    * arbitrary row, so the tiebreaker column is load-bearing). */
  def unionDedupSources(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val s1 = o.filter(col("o_orderkey") % 3 =!= 0).withColumn("src", lit(1))
    val s2 = o.filter(col("o_orderkey") % 2 === 0).withColumn("src", lit(2))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("src"))
    s1.unionByName(s2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("src"))
      .orderBy(col("o_orderkey"))
  }

  /** F15+A4 margin bucketing with null-guarded ratio (reference
    * elt/transforms.ipynb:cell10,cell15). */
  def marginBuckets(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val j = li.join(p, li("l_partkey") === p("p_partkey"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val cost = col("l_quantity") * col("p_retailprice") * lit(0.6)
    val ratio = safeDiv(rev - cost, rev)
    j.groupBy(marginCategory(ratio).as("margin_category"))
      .agg(count(lit(1)).as("line_count"), sumMoney(rev).as("total_revenue"))
      .orderBy(col("margin_category"))
  }

  /** F16+A3 shipping-speed bucketing (reference
    * elt/transforms.ipynb:cell12,cell17). */
  def shippingBuckets(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val days = datediff(col("l_shipdate"), col("o_orderdate"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(shippingSpeedCategory(days).as("shipping_speed_category"))
      .agg(count(lit(1)).as("line_count"),
        avg(days).as("avg_shipping_days"))
      .orderBy(col("shipping_speed_category"))
  }

  /** F17+A4 order-size bucketing over a two-level aggregation
    * (reference elt/transforms.ipynb:cell13,cell18). */
  def sizeBuckets(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(sumMoney(col("l_quantity")).as("units"))
    perOrder.groupBy(orderSizeCategory(col("units")).as("order_size_category"))
      .agg(count(lit(1)).as("order_count"), avgMoney(col("units")).as("avg_units"))
      .orderBy(col("order_size_category"))
  }

  /** A4 2-key bucket matrix (reference margin × order-size report,
    * elt/transforms.ipynb:cell18). */
  def marginSizeMatrix(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val cost = col("l_quantity") * col("p_retailprice") * lit(0.6)
    val ratio = safeDiv(rev - cost, rev)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(marginCategory(ratio).as("margin_category"),
        orderSizeCategory(col("l_quantity")).as("order_size_category"))
      .agg(count(lit(1)).as("total_orders"), sumMoney(rev).as("total_revenue"))
      .orderBy(col("margin_category"), col("order_size_category"))
  }

  /** A3 profitability per shipping bucket (reference avg
    * net_profit_ratio per speed, elt/transforms.ipynb:cell17). */
  def shippingProfitability(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val days = datediff(col("l_shipdate"), col("o_orderdate"))
    val ratio = safeDiv(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
      col("l_extendedprice"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(shippingSpeedCategory(days).as("shipping_speed_category"))
      .agg(count(lit(1)).as("total_orders"),
        avgRatio(ratio).as("avg_net_ratio"))
      .orderBy(col("shipping_speed_category"))
  }

  /** A9+F13 IQR clip: two-phase — order-statistic quartiles collected,
    * then clip applied in-plan (reference etl_pipeline/transform.py:37-58). */
  def iqrClip(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val (lo, hi) = StatsOps.iqrBounds(o, col("o_totalprice"))
    o.select(col("o_orderkey"), col("o_totalprice"),
        clip(col("o_totalprice"), lo, hi).as("totalprice_clipped"))
      .orderBy(col("o_orderkey"))
  }

  /** A10+F14 min-max normalization (reference
    * etl_pipeline/transform.py:62-73). */
  def minMaxNorm(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val (mn, mx) = StatsOps.minMax(c, col("c_acctbal"))
    c.select(col("c_custkey"),
        minMaxScale(col("c_acctbal"), mn, mx).as("acctbal_norm"))
      .orderBy(col("c_custkey"))
  }

  /** A13 histogram binning, 30 equal-width bins with the max value
    * clamped into the last bin (reference dashboard/app.py:384-389);
    * constant-column inputs all land in bin 0 (StatsOps.histogramBin). */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val (mn, mx) = StatsOps.minMax(o, col("o_totalprice"))
    o.groupBy(StatsOps.histogramBin(col("o_totalprice"), mn, mx, 30).as("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bin"))
  }

  /** F21 one-hot encoding of o_orderpriority, drop-first on the sorted
    * value domain (reference get_dummies drop_first=True,
    * etl_pipeline/transform.py:197-204). The distinct-collect before
    * plan construction mirrors the reference's dynamic widening. */
  def oneHotPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val values = o.select(col("o_orderpriority")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val dummies = values.drop(1).map { v =>
      val cname = "order_priority_" + v.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      when(col("o_orderpriority") === v, 1).otherwise(0).as(cname)
    }
    o.select(col("o_orderkey") +: dummies: _*).orderBy(col("o_orderkey"))
  }

  /** C3 data-quality report in ONE pass (reference runs 6 separate
    * rules, etl_pipeline/transform.py:84-127 — fused here into a
    * single aggregation so it's one scan at any scale). Catalyst
    * already plans all seven aggregates as one partial+final
    * HashAggregate over a single scan, which is why no custom fused
    * Aggregator exists: a TypedImperativeAggregate would duplicate
    * what the declarative form gets for free, while leaving
    * whole-stage codegen. (countDistinct adds an expand+reshuffle leg
    * — the one thing a sketch would trade exactness to avoid; see
    * agg_approx_distinct for that path.) */
  def qualityReport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("l_orderkey")).as("distinct_orderkeys"),
      (count(lit(1)) - countDistinct(col("l_orderkey"))).as("duplicate_orderkey_rows"),
      sum(col("l_shipdate").isNull.cast("long")).as("null_shipdate"),
      sum(col("l_orderkey").isNull.cast("long")).as("null_orderkey"),
      sum((col("l_quantity") < 0).cast("long")).as("negative_quantity"),
      sum((col("l_discount") < 0).cast("long")).as("negative_discount"))
  }

  /** A11+F11 median/constant imputation over synthetically-nulled
    * columns (reference etl_pipeline/transform.py:161-166); the median
    * is computed inside the plan, not collected at construction. */
  def medianImpute(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val masked = c.select(col("c_custkey"),
      when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_acctbal")).as("acct"),
      when(col("c_custkey") % 11 === 0, lit(null)).otherwise(col("c_mktsegment")).as("seg"))
    val med = StatsOps.medianColumn(masked, col("acct"))
    masked.select(col("c_custkey"),
        coalesce(col("acct"), med).as("acctbal_imputed"),
        coalesce(col("seg"), lit("Unknown")).as("segment_filled"))
      .orderBy(col("c_custkey"))
  }

  /** A12 describe: summary stats from exact decimal sums so the
    * variance is partition-order-independent (reference df.describe(),
    * etl_pipeline/transform.py:124). */
  def describeStats(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val x = col("o_totalprice")
    val s1 = sum(x.cast(Money)).cast("double")
    val s2 = sum((x * x).cast(DecimalBig)).cast("double")
    val n = count(x)
    o.agg(
      n.as("cnt"),
      (s1 / n).as("mean"),
      // rounded: the two engines' decimal->double conversions can
      // differ by 1 ulp once the unscaled sum of squares exceeds 2^53
      round(sqrt((s2 - s1 * s1 / n) / (n - lit(1))), 4).as("stddev"),
      min(x).as("min_val"),
      max(x).as("max_val"))
  }

  /** C4 recompute-totals clean: re-derive measures from base columns
    * (reference elt/hold.ipynb:cell7). */
  def recomputeTotals(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("gross_revenue"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("discounted_revenue"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("final_charge"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** C5 processed-pipeline composition: window dedup → join → derive →
    * bucket, the reference's UPDATE chain as one plan
    * (elt/transforms.ipynb:cell4-cell13). */
  def processedPipeline(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_shipdate"), col("l_linenumber"), col("l_quantity"))
    val first = li.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val days = datediff(col("l_shipdate"), col("o_orderdate"))
    first.join(o, first("l_orderkey") === o("o_orderkey"))
      .select(col("l_orderkey"), col("l_shipdate"),
        days.as("shipping_days"),
        shippingSpeedCategory(days).as("shipping_speed_category"),
        orderSizeCategory(col("l_quantity")).as("line_size_category"))
      .orderBy(col("l_orderkey"))
  }

  /** Boxplot/whisker EDA shape (reference elt/hold.ipynb:cell10-12,
    * the per-category boxplot render): per-group five-number summary
    * (order-statistic quartiles, no interpolation), Tukey whiskers
    * (outermost values inside q1/q3 ± 1.5·IQR), and the outlier count
    * — the exact rows a boxplot renderer needs, computed
    * distributed. One window pass ranks values within groups; the
    * group count is tiny so the whisker join broadcasts.
    *
    * Scale guard: the partition key is LOW-NDV (5 priorities), so the
    * rank window sorts each group's full row set in one task. The
    * plan is guarded by [[StatsOps.requireGroupsSortable]] (one eager
    * column-pruned pre-check job) and fails loudly past
    * [[StatsOps.MaxRankGroupRows]] — [[boxplotApprox]] is the
    * sketch-based variant that replaces it at scale (its
    * deterministic projection is registered as `elt_boxplot_bounds`;
    * the sketch columns are tolerance-asserted in OpsSpec). */
  def boxplot(spark: SparkSession, dir: String,
      maxGroupRows: Long = StatsOps.MaxRankGroupRows): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"), col("o_totalprice").as("x"))
    StatsOps.requireGroupsSortable(o, col("grp"), maxGroupRows)
    val t = o
      .withColumn("i", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("x"))) - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    def stat(q: Double) =
      max(when(col("i") === floor(lit(q) * (col("n") - 1)).cast("long"),
        col("x")))
    val qs = t.groupBy(col("grp")).agg(
      count(lit(1)).as("n"),
      min(col("x")).as("min_val"),
      stat(0.25).as("q1"), stat(0.5).as("median"), stat(0.75).as("q3"),
      max(col("x")).as("max_val"))
    val b = qs.withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    val wk = o.join(broadcast(b.select(col("grp"), col("lo"), col("hi"))),
        Seq("grp"))
      .groupBy(col("grp")).agg(
        min(when(col("x") >= col("lo"), col("x"))).as("whisker_lo"),
        max(when(col("x") <= col("hi"), col("x"))).as("whisker_hi"),
        sum((col("x") < col("lo") || col("x") > col("hi")).cast("long"))
          .as("n_outliers"))
    b.drop("lo", "hi").join(wk, Seq("grp"))
      .withColumnRenamed("grp", "order_priority")
      .orderBy(col("order_priority"))
  }

  /** The 100 TB form of [[boxplot]]: quartiles via `percentile_approx`
    * (mergeable Greenwald–Khanna sketch — partial aggregation, no
    * per-group sort, no single-task hot spot), whiskers/outliers from
    * the same second broadcast-join pass as the exact plan. Quartile
    * values are approximate (sketch-accuracy 10000, i.e. ≤0.01%
    * rank error), so they cannot hash-match an independent engine;
    * OpsSpec asserts them within IQR tolerance of the exact plan,
    * and the deterministic slice is oracle-checked as
    * `elt_boxplot_bounds`. */
  def boxplotApprox(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"), col("o_totalprice").as("x"))
    val qs = o.groupBy(col("grp")).agg(
      count(lit(1)).as("n"),
      min(col("x")).as("min_val"),
      percentile_approx(col("x"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("qq"),
      max(col("x")).as("max_val"))
      .select(col("grp"), col("n"), col("min_val"),
        col("qq").getItem(0).as("q1"), col("qq").getItem(1).as("median"),
        col("qq").getItem(2).as("q3"), col("max_val"))
    val b = qs.withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    val wk = o.join(broadcast(b.select(col("grp"), col("lo"), col("hi"))),
        Seq("grp"))
      .groupBy(col("grp")).agg(
        min(when(col("x") >= col("lo"), col("x"))).as("whisker_lo"),
        max(when(col("x") <= col("hi"), col("x"))).as("whisker_hi"),
        sum((col("x") < col("lo") || col("x") > col("hi")).cast("long"))
          .as("n_outliers"))
    b.drop("lo", "hi").join(wk, Seq("grp"))
      .withColumnRenamed("grp", "order_priority")
      .orderBy(col("order_priority"))
  }

  /** The deterministic slice of the boxplot at unbounded scale:
    * group key, count, min, max — pure partial aggregation (no
    * sort, no sketch, no per-group hot task), so it runs at any
    * group size and hash-matches a DuckDB replay. This is the
    * oracle-checkable companion of [[boxplotApprox]]: a sketch
    * quartile can never hash-match an independent engine (GK
    * internals differ), so the registry splits the 100 TB boxplot
    * into this exact projection (oracle) + the sketch quartiles
    * ([[boxplotApprox]], kept under OpsSpec's tolerance-vs-exact
    * assertion). */
  def boxplotBounds(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("order_priority"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("min_val"),
        max(col("o_totalprice")).as("max_val"))
      .orderBy(col("order_priority"))

  /** Wider decimal for sums of squared money values. */
  private val DecimalBig = org.apache.spark.sql.types.DecimalType(27, 6)

  private val orderStatSql = (table: String, column: String, q: String, alias: String) =>
    s"""SELECT max(CASE WHEN i = CAST(floor($q*(n-1)) AS BIGINT) THEN x END) AS $alias FROM (SELECT $column AS x, row_number() OVER (ORDER BY $column) - 1 AS i, count(*) OVER () AS n FROM $table WHERE $column IS NOT NULL)"""

  val oracle: Map[String, String] = Map(
    "elt_smart_fill_region" ->
      """WITH t1 AS (SELECT c_custkey, n_name, CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE r_name END AS region FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey), ref AS (SELECT DISTINCT n_name, region AS region_ref FROM t1 WHERE region IS NOT NULL) SELECT t1.c_custkey, t1.n_name, COALESCE(t1.region, ref.region_ref, 'Unknown') AS region_filled FROM t1 LEFT JOIN ref USING (n_name) ORDER BY c_custkey""",
    "elt_dedup_keep_first" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber, l_quantity) AS rn FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""",
    "elt_union_dedup_sources" ->
      """SELECT o_orderkey, o_totalprice, src FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src) AS rn FROM (SELECT o_orderkey, o_totalprice, 1 AS src FROM orders WHERE o_orderkey % 3 <> 0 UNION ALL SELECT o_orderkey, o_totalprice, 2 AS src FROM orders WHERE o_orderkey % 2 = 0)) WHERE rn = 1 ORDER BY o_orderkey""",
    "elt_margin_buckets" ->
      """SELECT CASE WHEN r IS NULL OR r < 0.10 THEN 'low' WHEN r <= 0.30 THEN 'medium' ELSE 'high' END AS margin_category, COUNT(*) AS line_count, CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue FROM (SELECT l_extendedprice * (1.0 - l_discount) AS rev, (l_extendedprice * (1.0 - l_discount) - l_quantity * p_retailprice * 0.6) / NULLIF(l_extendedprice * (1.0 - l_discount), 0) AS r FROM lineitem JOIN part ON l_partkey = p_partkey) GROUP BY 1 ORDER BY 1""",
    "elt_shipping_buckets" ->
      """SELECT CASE WHEN d <= 3 THEN 'fast' WHEN d <= 7 THEN 'normal' ELSE 'slow' END AS shipping_speed_category, COUNT(*) AS line_count, AVG(d) AS avg_shipping_days FROM (SELECT datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS d FROM lineitem JOIN orders ON l_orderkey = o_orderkey) GROUP BY 1 ORDER BY 1""",
    "elt_size_buckets" ->
      """WITH per_order AS (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS units FROM lineitem GROUP BY 1) SELECT CASE WHEN units < 50 THEN 'small' WHEN units <= 200 THEN 'medium' ELSE 'large' END AS order_size_category, COUNT(*) AS order_count, CAST(SUM(CAST(units AS DECIMAL(18,6))) AS DOUBLE) / COUNT(units) AS avg_units FROM per_order GROUP BY 1 ORDER BY 1""",
    "elt_margin_size_matrix" ->
      """SELECT CASE WHEN r IS NULL OR r < 0.10 THEN 'low' WHEN r <= 0.30 THEN 'medium' ELSE 'high' END AS margin_category, CASE WHEN l_quantity < 50 THEN 'small' WHEN l_quantity <= 200 THEN 'medium' ELSE 'large' END AS order_size_category, COUNT(*) AS total_orders, CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue FROM (SELECT l_quantity, l_extendedprice * (1.0 - l_discount) AS rev, (l_extendedprice * (1.0 - l_discount) - l_quantity * p_retailprice * 0.6) / NULLIF(l_extendedprice * (1.0 - l_discount), 0) AS r FROM lineitem JOIN part ON l_partkey = p_partkey) GROUP BY 1, 2 ORDER BY 1, 2""",
    "elt_shipping_profitability" ->
      """SELECT CASE WHEN d <= 3 THEN 'fast' WHEN d <= 7 THEN 'normal' ELSE 'slow' END AS shipping_speed_category, COUNT(*) AS total_orders, CAST(SUM(CAST(r AS DECIMAL(18,9))) AS DOUBLE) / COUNT(r) AS avg_net_ratio FROM (SELECT datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS d, l_extendedprice * (1.0 - l_discount) / NULLIF(l_extendedprice, 0) AS r FROM lineitem JOIN orders ON l_orderkey = o_orderkey) GROUP BY 1 ORDER BY 1""",
    "elt_iqr_clip" ->
      s"""WITH b AS (SELECT q1.q1, q3.q3 FROM (${orderStatSql("orders", "o_totalprice", "0.25", "q1")}) q1, (${orderStatSql("orders", "o_totalprice", "0.75", "q3")}) q3) SELECT o_orderkey, o_totalprice, least(greatest(o_totalprice, q1 - 1.5*(q3 - q1)), q3 + 1.5*(q3 - q1)) AS totalprice_clipped FROM orders, b ORDER BY o_orderkey""",
    "elt_minmax_norm" ->
      """WITH m AS (SELECT min(c_acctbal) AS mn, max(c_acctbal) AS mx FROM customer) SELECT c_custkey, (c_acctbal - mn) / (mx - mn) AS acctbal_norm FROM customer, m ORDER BY c_custkey""",
    "elt_histogram" ->
      """WITH m AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders) SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 30.0)), 29) AS BIGINT) AS bin, COUNT(*) AS n FROM orders, m GROUP BY 1 ORDER BY 1""",
    "elt_one_hot" ->
      """SELECT o_orderkey, CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS order_priority_2_high, CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS order_priority_3_medium, CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END AS order_priority_4_not_specified, CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS order_priority_5_low FROM orders ORDER BY o_orderkey""",
    "elt_quality_report" ->
      """SELECT COUNT(*) AS total_rows, COUNT(DISTINCT l_orderkey) AS distinct_orderkeys, COUNT(*) - COUNT(DISTINCT l_orderkey) AS duplicate_orderkey_rows, CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate, CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey, CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_quantity, CAST(SUM(CASE WHEN l_discount < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_discount FROM lineitem""",
    "elt_median_impute" ->
      """WITH t AS (SELECT c_custkey, CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS acct, CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END AS seg FROM customer), s AS (SELECT acct AS x, row_number() OVER (ORDER BY acct) - 1 AS i, count(*) OVER () AS n FROM t WHERE acct IS NOT NULL), m AS (SELECT max(CASE WHEN i = CAST(floor(0.5*(n-1)) AS BIGINT) THEN x END) AS med FROM s) SELECT c_custkey, COALESCE(acct, med) AS acctbal_imputed, COALESCE(seg, 'Unknown') AS segment_filled FROM t, m ORDER BY c_custkey""",
    "elt_describe" ->
      """SELECT COUNT(o_totalprice) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(o_totalprice) AS mean, round(sqrt((CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(27,6))) AS DOUBLE) - CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(o_totalprice)) / (COUNT(o_totalprice) - 1)), 4) AS stddev, MIN(o_totalprice) AS min_val, MAX(o_totalprice) AS max_val FROM orders""",
    "elt_boxplot" ->
      """WITH t AS (SELECT o_orderpriority AS grp, o_totalprice AS x, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) - 1 AS i, count(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders), qs AS (SELECT grp, CAST(count(*) AS BIGINT) AS n, min(x) AS min_val, max(CASE WHEN i = CAST(floor(0.25*(n-1)) AS BIGINT) THEN x END) AS q1, max(CASE WHEN i = CAST(floor(0.5*(n-1)) AS BIGINT) THEN x END) AS median, max(CASE WHEN i = CAST(floor(0.75*(n-1)) AS BIGINT) THEN x END) AS q3, max(x) AS max_val FROM t GROUP BY grp), b AS (SELECT *, q1 - 1.5*(q3 - q1) AS lo, q3 + 1.5*(q3 - q1) AS hi FROM qs), wk AS (SELECT t.grp, min(CASE WHEN x >= lo THEN x END) AS whisker_lo, max(CASE WHEN x <= hi THEN x END) AS whisker_hi, CAST(SUM(CASE WHEN x < lo OR x > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers FROM t JOIN b USING (grp) GROUP BY t.grp) SELECT b.grp AS order_priority, n, min_val, q1, median, q3, max_val, whisker_lo, whisker_hi, n_outliers FROM b JOIN wk USING (grp) ORDER BY 1""",
    "elt_boxplot_bounds" ->
      """SELECT o_orderpriority AS order_priority, CAST(count(*) AS BIGINT) AS n, min(o_totalprice) AS min_val, max(o_totalprice) AS max_val FROM orders GROUP BY 1 ORDER BY 1""",
    "elt_recompute_totals" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice AS gross_revenue, l_extendedprice * (1.0 - l_discount) AS discounted_revenue, l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS final_charge FROM lineitem WHERE l_orderkey % 100 = 0 ORDER BY l_orderkey, l_linenumber""",
    "elt_processed_pipeline" ->
      """SELECT l_orderkey, l_shipdate, datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS shipping_days, CASE WHEN datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 3 THEN 'fast' WHEN datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 7 THEN 'normal' ELSE 'slow' END AS shipping_speed_category, CASE WHEN l_quantity < 50 THEN 'small' WHEN l_quantity <= 200 THEN 'medium' ELSE 'large' END AS line_size_category FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber, l_quantity) AS rn FROM lineitem) li JOIN orders ON l_orderkey = o_orderkey WHERE rn = 1 ORDER BY l_orderkey"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "elt_smart_fill_region" -> smartFillRegion _,
    "elt_dedup_keep_first" -> dedupKeepFirst _,
    "elt_union_dedup_sources" -> unionDedupSources _,
    "elt_margin_buckets" -> marginBuckets _,
    "elt_shipping_buckets" -> shippingBuckets _,
    "elt_size_buckets" -> sizeBuckets _,
    "elt_margin_size_matrix" -> marginSizeMatrix _,
    "elt_shipping_profitability" -> shippingProfitability _,
    "elt_iqr_clip" -> iqrClip _,
    "elt_minmax_norm" -> minMaxNorm _,
    "elt_histogram" -> histogram _,
    "elt_one_hot" -> oneHotPriority _,
    "elt_quality_report" -> qualityReport _,
    "elt_median_impute" -> medianImpute _,
    "elt_describe" -> describeStats _,
    "elt_boxplot" ->
      ((s: SparkSession, dir: String) => boxplot(s, dir)),
    "elt_boxplot_bounds" -> boxplotBounds _,
    "elt_recompute_totals" -> recomputeTotals _,
    "elt_processed_pipeline" -> processedPipeline _
  )
}
