package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.ColumnOps._
import graft.ops.StatsOps

/** C1-parity composite cleaning pipeline (reference `transform_sales`,
  * `etl_pipeline/transform.py:131-244`): the full
  * normalize → union → dedup → impute → derive → bucket chain as ONE
  * lazy plan. The reference runs these as eleven eager pandas steps;
  * here Catalyst sees the whole program and can fuse projections,
  * push filters below the union, and prune columns into both scans.
  *
  * The median impute is a scalar subquery inside that plan, so
  * building the transform starts no Spark job: the median is computed
  * when the plan runs, as part of the same action.
  */
object EtlPipeline {

  /** The composed transform over the two "sources" (even/odd key
    * slices of orders stand in for the reference's CSV + API feeds,
    * with overlapping keys so the dedup path is exercised). */
  def transformSales(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)

    // U1: two overlapping sources, explicit priority (reference
    // pd.concat(df_local, df_api) — transform.py:144)
    val base = o.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))
    val src1 = base.filter(col("o_orderkey") % 3 =!= 0).withColumn("src", lit(1))
    val src2 = base.filter(col("o_orderkey") % 2 === 0).withColumn("src", lit(2))
    val unioned = src1.unionByName(src2)

    // W2: deterministic keep-first dedup (local source wins)
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("src"))
    val deduped = unioned.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")

    // F11/A11: synthetic nulls + median/constant imputation
    val masked = deduped
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 17 === 0, lit(null)).otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 19 === 0, lit(null)).otherwise(col("o_orderpriority")))
    val med = StatsOps.medianColumn(masked, col("o_totalprice"))
    val imputed = masked
      .withColumn("o_totalprice", coalesce(col("o_totalprice"), med))
      .withColumn("o_orderpriority", coalesce(col("o_orderpriority"), lit("Unknown")))

    // F5/P4: date normalization + null-date drop (dates here are
    // already typed; the drop guard still exercises the path)
    val dated = imputed
      .withColumn("order_date", to_date(col("o_orderdate")))
      .filter(col("order_date").isNotNull)

    // F7/F9: derived columns
    dated
      .withColumn("order_year", year(col("order_date")))
      .withColumn("order_month", month(col("order_date")))
      .withColumn("price_band",
        when(col("o_totalprice") < 100000, "low")
          .when(col("o_totalprice") <= 250000, "medium")
          .otherwise("high"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"), col("src"),
        col("order_year"), col("order_month"), col("price_band"))
  }

  /** The quality report over the transformed output (C3 chained after
    * C1, reference transform.py:237-242). */
  def transformedQualityReport(spark: SparkSession, dir: String): DataFrame = {
    val t = transformSales(spark, dir)
    t.agg(
      count(lit(1)).as("total_rows"),
      countDistinct(col("o_orderkey")).as("distinct_keys"),
      sum(col("o_totalprice").isNull.cast("long")).as("null_totalprice"),
      sum((col("o_totalprice") < 0).cast("long")).as("negative_totalprice"))
  }

  private val transformedSql =
    """WITH unioned AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, 1 AS src FROM orders WHERE o_orderkey % 3 <> 0 UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, 2 AS src FROM orders WHERE o_orderkey % 2 = 0), deduped AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src) AS rn FROM unioned) WHERE rn = 1), masked AS (SELECT o_orderkey, o_custkey, o_orderstatus, CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_totalprice END AS o_totalprice, o_orderdate, CASE WHEN o_orderkey % 19 = 0 THEN NULL ELSE o_orderpriority END AS o_orderpriority, src FROM deduped), m AS (SELECT max(CASE WHEN i = CAST(floor(0.5*(n-1)) AS BIGINT) THEN x END) AS med FROM (SELECT o_totalprice AS x, row_number() OVER (ORDER BY o_totalprice) - 1 AS i, count(*) OVER () AS n FROM masked WHERE o_totalprice IS NOT NULL)), imputed AS (SELECT o_orderkey, o_custkey, o_orderstatus, COALESCE(o_totalprice, med) AS o_totalprice, COALESCE(o_orderpriority, 'Unknown') AS o_orderpriority, src, CAST(o_orderdate AS DATE) AS order_date FROM masked, m WHERE CAST(o_orderdate AS DATE) IS NOT NULL) SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority, src, year(order_date) AS order_year, month(order_date) AS order_month, CASE WHEN o_totalprice < 100000 THEN 'low' WHEN o_totalprice <= 250000 THEN 'medium' ELSE 'high' END AS price_band FROM imputed"""

  val oracle: Map[String, String] = Map(
    "etl_transform_sales" ->
      s"""SELECT * FROM ($transformedSql) ORDER BY o_orderkey""",
    "etl_transform_quality" ->
      s"""SELECT COUNT(*) AS total_rows, COUNT(DISTINCT o_orderkey) AS distinct_keys, CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_totalprice, CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_totalprice FROM ($transformedSql)"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_transform_sales" -> ((s: SparkSession, d: String) =>
      transformSales(s, d).orderBy(col("o_orderkey"))),
    "etl_transform_quality" -> (transformedQualityReport _)
  )
}
