package graft

import org.apache.spark.sql.functions._
import graft.pipeline.StarSchema

class StarSchemaSpec extends SparkSpec {

  test("surrogate keys are dense 1..N and deterministic (§7.4.1)") {
    val dd = StarSchema.dimDate(spark, sf)
    val n = dd.count()
    val ids = dd.select(col("date_id")).orderBy(col("date_id"))
      .collect().map(_.getInt(0))
    assert(ids.sameElements(1 to n.toInt))
    // deterministic across rebuilds
    val ids2 = StarSchema.dimDate(spark, sf).select(col("date_id"), col("order_date"))
      .orderBy(col("date_id")).collect().map(r => (r.getInt(0), r.getDate(1)))
    val ids1 = dd.select(col("date_id"), col("order_date"))
      .orderBy(col("date_id")).collect().map(r => (r.getInt(0), r.getDate(1)))
    assert(ids1.sameElements(ids2))
  }

  test("fact FK resolution is lossless (every order resolves all dims)") {
    val factN = StarSchema.factSales(spark, sf).count()
    val ordersN = Tables.orders(spark, sf).count()
    assert(factN == ordersN, s"fact $factN != orders $ordersN — FK join dropped rows")
    val nullFks = StarSchema.factSales(spark, sf)
      .filter(col("date_id").isNull || col("country_id").isNull
        || col("channel_id").isNull).count()
    assert(nullFks == 0)
  }

  test("analytics through the star schema equal direct query (q2 parity)") {
    val direct = graft.queries.Analytics.q2RevenuePerYear(spark, sf)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val viaStar = StarSchema.revenueByYear(spark, sf)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(direct.sameElements(viaStar))
  }

  test("materialize writes a readable gold layer") {
    val out = graft.ops.Scratch.dir("graft_star")
    StarSchema.materialize(spark, sf, out)
    val f = spark.read.parquet(s"$out/fact_sales")
    val d = spark.read.parquet(s"$out/dim_date")
    assert(f.count() > 0 && d.count() > 0)
    assert(f.join(d, Seq("date_id")).count() == f.count())
  }

  test("RunPipeline's warehouse check passes an intact warehouse and " +
      "fails one missing a fact part file") {
    val out = graft.ops.Scratch.dir("graft_star")
    StarSchema.materialize(spark, sf, out)
    // the fact rewritten as two part files, so that one can go missing
    val fact = s"$out/fact_sales"
    spark.read.parquet(fact).repartition(2).write.parquet(s"$out/split")
    graft.ops.StoreFiles.deleteDir(fact)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$out/split"),
      java.nio.file.Paths.get(fact))
    def mismatched = RunPipeline.verifyWarehouse(spark, sf, out)
      .collect { case (t, m) if m("mismatched_rows") != 0L => t }
    assert(mismatched.isEmpty)
    val parts = new java.io.File(fact).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 2)
    assert(parts.maxBy(_.length).delete())
    assert(mismatched == Seq("fact_sales", "revenue_by_year"))
  }
}
