package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{QueryProfile, StageLog}
import graft.pipeline.StarSchema

/** End-to-end executable pipeline — the reference's
  * `python etl_pipeline/load.py` user story on this engine
  * (SURVEY.md §3.1): transform (C1) → star-schema warehouse build
  * (C2) → a check of the written warehouse against the registry, with
  * the transform's metrics riding on its write via `Dataset.observe`
  * (no extra counting pass — the reference re-counts eagerly per
  * stage). A warehouse that differs from the registry forms fails the
  * run.
  *
  * Usage: runMain graft.RunPipeline [sfDir] [warehouseDir]
  * (without `warehouseDir` the warehouse is scratch, deleted at exit)
  *
  * `sfDir` may also be a zip URL (`file://…/feed.zip` or http(s)) —
  * the reference's staged-feed entry point: the archive's per-table
  * CSVs are staged and rewritten as typed parquet tables
  * ([[graft.sources.BronzeIngest]]) with schemas borrowed from the
  * `SPARK_GRAFT_SCHEMA_DIR` table dir (default sf0.001), then the
  * pipeline runs unchanged against the staged dir.
  */
object RunPipeline {

  /** Tables a zip feed must carry: everything the C1→C2 pipeline
    * reads. */
  private val FeedTables =
    Seq("orders", "customer", "nation", "region", "part",
      "supplier", "lineitem")

  def main(args: Array[String]): Unit = {
    val source = args.headOption.getOrElse("/root/testdata/sf0.001")
    val warehouse =
      if (args.length > 1) args(1)
      else graft.ops.Scratch.dir("graft_warehouse")
    val spark = GraftSession.local(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()

    val sfDir =
      if (!source.endsWith(".zip")) source
      else {
        val schemaDir = sys.env.getOrElse("SPARK_GRAFT_SCHEMA_DIR",
          "/root/testdata/sf0.001")
        val staging = graft.ops.Scratch.dir("graft_staging")
        val dir = graft.sources.BronzeIngest.ingestZip(spark, source, staging,
          FeedTables.map(t => t -> Tables.load(spark, schemaDir, t).schema).toMap)
        println(s"[pipeline] staged $source -> $dir")
        dir
      }

    // stage 1: C1 composed transform, metrics observed on the write
    val (transformed, obs) = StageLog.observed("transform",
      graft.pipeline.EtlPipeline.transformSales(spark, sfDir),
      "o_totalprice")
    transformed.write.mode("overwrite").parquet(s"$warehouse/sales_processed")
    val transformMetrics = StageLog.metrics(obs)

    // stage 2: star schema warehouse (dims + FK-resolved fact)
    StarSchema.materialize(spark, sfDir, warehouse)

    // stage 3: the warehouse stage 2 wrote, checked against the
    // oracle-checked registry forms
    val checks = QueryProfile.measure(spark, "verify_warehouse", warehouse)(
      verifyWarehouse(spark, sfDir, warehouse))
    StageLog.metricsTable(spark, ("transform" -> transformMetrics) +: checks)
      .show(20, truncate = false)
    println(f"[pipeline] warehouse=$warehouse total=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
    val bad = checks.collect { case (t, m) if m("mismatched_rows") != 0L => t }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"warehouse $warehouse differs from the registry forms in: " +
        bad.mkString(", "))
  }

  /** Reads every table of a materialized warehouse back and compares
    * it, as a multiset of rows rendered as strings, with its registry
    * form (`star_dim_*`, `star_fact_sales`) over `sfDir`, then runs
    * `star_revenue_by_year` over the written tables. One entry per
    * check: the rows read back and the rows in either side only. */
  def verifyWarehouse(spark: SparkSession, sfDir: String,
      warehouse: String): Seq[(String, Map[String, Any])] = {
    def asText(df: DataFrame) =
      df.select(df.columns.map(c => col(c).cast("string")): _*)
    def check(name: String, written: DataFrame, expected: DataFrame) = {
      val w = asText(written.select(expected.columns.map(col): _*))
      val e = asText(expected)
      name -> Map[String, Any]("rows" -> w.count(),
        "mismatched_rows" -> (w.exceptAll(e).count() + e.exceptAll(w).count()))
    }
    def table(t: String) = spark.read.parquet(s"$warehouse/$t")
    StarSchema.WarehouseTables.map(t =>
      check(t, table(t), StarSchema.queries(s"star_$t")(spark, sfDir))) :+
      check("revenue_by_year",
        StarSchema.revenueByYearOn(table("fact_sales"), table("dim_date")),
        StarSchema.queries("star_revenue_by_year")(spark, sfDir))
  }
}
