package graft

import graft.ops.StageLog

/** End-to-end executable pipeline — the reference's
  * `python etl_pipeline/load.py` user story on this engine
  * (SURVEY.md §3.1): transform (C1) → star-schema warehouse build
  * (C2) → the analytic corpus, with per-stage metrics riding on the
  * materializing jobs via `Dataset.observe` (no extra counting
  * passes — the reference re-counts eagerly per stage).
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

  /** Tables a zip feed must carry: everything the C1→C2 pipeline and
    * its q1–q8 verification stage read. */
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
    graft.pipeline.StarSchema.materialize(spark, sfDir, warehouse)

    // stage 3: the reference's verification workload (q1–q8)
    val queries = Seq("q1_total_revenue", "q2_revenue_per_year",
      "q3_top_nations_by_revenue", "q4_units_per_item_type",
      "q5_avg_margin_per_channel", "q6_revenue_per_region_year",
      "q7_top_orders_by_price", "q8_avg_shipping_days")
    val queryMetrics = queries.map { q =>
      val t = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).collect().length
      q -> Map[String, Any]("rows" -> n.toLong,
        "seconds" -> (System.nanoTime() - t) / 1e9)
    }

    StageLog.metricsTable(spark,
        ("transform" -> transformMetrics) +: queryMetrics)
      .show(20, truncate = false)
    println(f"[pipeline] warehouse=$warehouse total=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
