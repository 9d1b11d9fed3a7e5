package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Star-schema builder (reference C2: `etl_pipeline/load.py:51-139,
  * 161-276` — dim extraction, AUTO_INCREMENT surrogate keys,
  * FK-resolution joins, fact projection), re-expressed for Spark.
  *
  * Surrogate keys are `row_number` over an explicit natural-key order
  * — deterministic across runs and cluster sizes, unlike
  * `monotonically_increasing_id` (SURVEY.md §7.4.1). The global
  * (unpartitioned) window is safe *by construction*: it runs on the
  * already-distinct dimension rows, whose cardinality is tiny relative
  * to the fact (dates/nations/priorities — ≤ thousands at 100 TB), so
  * the single-partition step touches dim-sized data only. The fact
  * table never passes through a global window; FK resolution is
  * broadcast joins of the small dims against the distributed fact.
  */
object StarSchema {

  /** dim_date: distinct order dates + surrogate key + year/month
    * attributes (reference etl_pipeline/load.py:56-66,165-177). */
  def dimDate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(to_date(col("o_orderdate")).as("order_date")).distinct()
      .withColumn("date_id",
        row_number().over(Window.orderBy(col("order_date"))))
      .select(col("date_id"), col("order_date"),
        year(col("order_date")).as("order_year"),
        month(col("order_date")).as("order_month"))
  }

  /** dim_country: region × nation with composite natural key
    * (reference etl_pipeline/load.py:69-81). */
  def dimCountry(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("n_nationkey"), col("r_name").as("region"),
        col("n_name").as("country"))
      .withColumn("country_id",
        row_number().over(Window.orderBy(col("region"), col("country"))))
      .select(col("country_id"), col("region"), col("country"),
        col("n_nationkey"))
  }

  /** dim_item: distinct item types (reference etl_pipeline/load.py:84-93). */
  def dimItem(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_type").as("item_type")).distinct()
      .withColumn("item_id",
        row_number().over(Window.orderBy(col("item_type"))))
      .select(col("item_id"), col("item_type"))

  /** dim_channel: distinct priorities ≙ sales channels (reference
    * etl_pipeline/load.py:96-106). */
  def dimChannel(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("sales_channel")).distinct()
      .withColumn("channel_id",
        row_number().over(Window.orderBy(col("sales_channel"))))
      .select(col("channel_id"), col("sales_channel"))

  /** fact_sales: FK-resolution via broadcast joins of the dims against
    * the fact (reference etl_pipeline/load.py:206-276 does pandas
    * merges + a MySQL read-back round-trip; here the keys are computed
    * in-plan and the fact is never collected). */
  def factSales(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val dd = dimDate(spark, dir)
    val dc = dimCountry(spark, dir)
    val ch = dimChannel(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(dd), to_date(o("o_orderdate")) === dd("order_date"))
      .join(broadcast(dc), c("c_nationkey") === dc("n_nationkey"))
      .join(broadcast(ch), o("o_orderpriority") === ch("sales_channel"))
      .select(col("o_orderkey"), col("date_id"), col("country_id"),
        col("channel_id"), col("o_totalprice"))
  }

  /** The tables [[materialize]] writes, each the registry entry
    * `star_<table>` without its ordering. */
  val WarehouseTables: Seq[String] =
    Seq("dim_date", "dim_country", "dim_item", "dim_channel", "fact_sales")

  /** Persist the schema as a gold layer (reference full-refresh load,
    * etl_pipeline/load.py:143-157 — idempotent overwrite replaces
    * DELETE+append). Dims coalesce to 1 file; the fact keeps its
    * distributed partitioning. The fact derives its dims in-plan
    * rather than reading the written ones, so the five writes are
    * independent and run concurrently ([[graft.ops.Concurrently]]):
    * the dims' single-task stages share the cores with the fact's. */
  def materialize(spark: SparkSession, dir: String, outDir: String): Unit = {
    val tables = Seq(
      dimDate(spark, dir).coalesce(1),
      dimCountry(spark, dir).coalesce(1),
      dimItem(spark, dir).coalesce(1),
      dimChannel(spark, dir).coalesce(1),
      factSales(spark, dir))
    graft.ops.Concurrently.all(WarehouseTables.zip(tables).map {
      case (name, df) =>
        () => df.write.mode("overwrite").parquet(s"$outDir/$name")
    })
  }

  /** Analytic query THROUGH the star schema (q2-shape): proves the
    * dim/fact round trip preserves the answer. */
  def revenueByYear(spark: SparkSession, dir: String): DataFrame =
    revenueByYearOn(factSales(spark, dir), dimDate(spark, dir))

  /** [[revenueByYear]] over given fact and dim_date tables, such as a
    * materialized warehouse read back. */
  def revenueByYearOn(f: DataFrame, dd: DataFrame): DataFrame =
    f.join(broadcast(dd), Seq("date_id"))
      .groupBy(col("order_year"))
      .agg(graft.ops.ColumnOps.sumMoney(col("o_totalprice")).as("total_revenue"))
      .orderBy(col("order_year"))

  private val dimDateSql =
    """SELECT row_number() OVER (ORDER BY order_date) AS date_id, order_date, year(order_date) AS order_year, month(order_date) AS order_month FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders)"""
  private val dimCountrySql =
    """SELECT row_number() OVER (ORDER BY r_name, n_name) AS country_id, r_name AS region, n_name AS country, n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey"""
  private val dimChannelSql =
    """SELECT row_number() OVER (ORDER BY sales_channel) AS channel_id, sales_channel FROM (SELECT DISTINCT o_orderpriority AS sales_channel FROM orders)"""
  private val factSql =
    s"""SELECT o_orderkey, date_id, country_id, channel_id, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey JOIN ($dimDateSql) dd ON CAST(o_orderdate AS DATE) = dd.order_date JOIN ($dimCountrySql) dc ON c_nationkey = dc.n_nationkey JOIN ($dimChannelSql) ch ON o_orderpriority = ch.sales_channel"""

  val oracle: Map[String, String] = Map(
    "star_dim_date" ->
      s"""SELECT date_id, strftime(order_date, '%Y-%m-%d') AS order_date, order_year, order_month FROM ($dimDateSql) ORDER BY date_id""",
    "star_dim_country" -> s"""$dimCountrySql ORDER BY country_id""",
    "star_dim_item" ->
      """SELECT row_number() OVER (ORDER BY item_type) AS item_id, item_type FROM (SELECT DISTINCT p_type AS item_type FROM part) ORDER BY item_id""",
    "star_dim_channel" -> s"""$dimChannelSql ORDER BY channel_id""",
    "star_fact_sales" -> s"""$factSql ORDER BY o_orderkey""",
    "star_revenue_by_year" ->
      s"""SELECT order_year, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue FROM ($factSql) f JOIN ($dimDateSql) dd USING (date_id) GROUP BY 1 ORDER BY 1"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // order_date rendered as a string: engines disagree on whether a
    // DATE column round-trips as date32 or datetime64 through pandas
    "star_dim_date" -> ((s: SparkSession, d: String) =>
      dimDate(s, d)
        .withColumn("order_date", date_format(col("order_date"), "yyyy-MM-dd"))
        .orderBy(col("date_id"))),
    "star_dim_country" -> ((s: SparkSession, d: String) =>
      dimCountry(s, d).orderBy(col("country_id"))),
    "star_dim_item" -> ((s: SparkSession, d: String) =>
      dimItem(s, d).orderBy(col("item_id"))),
    "star_dim_channel" -> ((s: SparkSession, d: String) =>
      dimChannel(s, d).orderBy(col("channel_id"))),
    "star_fact_sales" -> ((s: SparkSession, d: String) =>
      factSales(s, d).orderBy(col("o_orderkey"))),
    "star_revenue_by_year" -> (revenueByYear _)
  )
}
