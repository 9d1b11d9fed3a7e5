package graft

import org.apache.spark.sql.functions._
import graft.ops.ColumnOps

/** Source/sink coverage (SURVEY.md §2.1): CSV scan with header +
  * schema inference (S1), CSV sink (S7), parquet append/overwrite
  * modes (S5/S6/S9), and the fuzzy column resolution helper (P3).
  * The reference's JDBC surface (S4/S5) maps to the lakehouse layer
  * itself — parquet tables ARE the warehouse — so the round trips
  * here are the sandbox-truth equivalent. */
class SourcesSpec extends SparkSpec {

  test("CSV sink then scan with inferSchema round-trips orders (S1/S7)") {
    val out = graft.ops.Scratch.dir("graft_csv")
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    orders.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$out/orders_csv")
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$out/orders_csv")
    assert(back.count() == orders.count())
    assert(back.columns.toSeq == orders.columns.toSeq)
    val a = orders.agg(sum(col("o_orderkey"))).head.getLong(0)
    val b = back.agg(sum(col("o_orderkey"))).head.getLong(0)
    assert(a == b)
  }

  test("overwrite is idempotent full refresh, append accumulates (S5/S9)") {
    val out = graft.ops.Scratch.dir("graft_modes")
    val n = Tables.nation(spark, sf)
    n.write.mode("overwrite").parquet(s"$out/t")
    n.write.mode("overwrite").parquet(s"$out/t")
    assert(spark.read.parquet(s"$out/t").count() == n.count())
    n.write.mode("append").parquet(s"$out/t")
    assert(spark.read.parquet(s"$out/t").count() == 2 * n.count())
  }

  test("fuzzy column resolution matches case/space/underscore variants (P3)") {
    val df = Tables.orders(spark, sf)
    assert(ColumnOps.resolveColumn(df, "O_ORDERKEY").contains("o_orderkey"))
    assert(ColumnOps.resolveColumn(df, "o orderkey").contains("o_orderkey"))
    assert(ColumnOps.resolveColumn(df, "oorderkey").contains("o_orderkey"))
    assert(ColumnOps.resolveColumn(df, "nope").isEmpty)
  }

  test("HTTP fetch + zip staging lands a readable bronze CSV (S2/S3)") {
    import graft.sources.Staging
    val tmp = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_stage"))
    // fixture: a zip archive holding a CSV, served via file:// (the
    // sandbox has zero egress; the URL path is what S2 exercises)
    val csv = "k,v\n1,a\n2,b\n3,c\n"
    val zipPath = tmp.resolve("sales.zip")
    val zout = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    zout.putNextEntry(new java.util.zip.ZipEntry("data/sales.csv"))
    zout.write(csv.getBytes("UTF-8"))
    zout.closeEntry(); zout.close()

    val bronze = tmp.resolve("bronze").toString
    val staged = Staging.stage(zipPath.toUri.toString, bronze)
    assert(staged.map(_.getName) == Seq("sales.csv"))
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(staged.head.getPath)
    assert(df.count() == 3)
    assert(df.columns.toSeq == Seq("k", "v"))
    // idempotent refresh: re-staging replaces, never accumulates
    assert(Staging.stage(zipPath.toUri.toString, bronze).size == 1)

    // zip-slip: an escaping entry must fail the extraction loudly
    val evil = tmp.resolve("evil.zip")
    val zev = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(evil))
    zev.putNextEntry(new java.util.zip.ZipEntry("../outside.txt"))
    zev.write("x".getBytes("UTF-8")); zev.closeEntry(); zev.close()
    intercept[IllegalArgumentException] {
      Staging.unzip(evil.toFile, tmp.resolve("bronze2").toString)
    }
    assert(!java.nio.file.Files.exists(tmp.resolve("outside.txt")))
  }

  test("staged zip ingest feeds C1 transform + C2 star build end to end") {
    import graft.sources.BronzeIngest
    val tmp = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_ingest"))
    val tabs = Seq("orders", "customer", "nation", "region", "part")
    val zipPath = CsvFeed.zip(spark, sf, tmp, tabs)

    // stage → declared-schema CSV scan → parquet tables dir
    val schemas = tabs.map(t => t -> Tables.load(spark, sf, t).schema).toMap
    val staged = BronzeIngest.ingestZip(spark, zipPath.toUri.toString,
      tmp.resolve("staging").toString, schemas)

    // a missing feed fails loudly, it does not become an empty table
    val err = intercept[RuntimeException] {
      BronzeIngest.ingestZip(spark, zipPath.toUri.toString,
        tmp.resolve("staging2").toString,
        schemas + ("lineitem" -> Tables.lineitem(spark, sf).schema))
    }
    assert(err.getMessage.contains("lineitem"))
    // ... and before any table is written
    val tables2 = tmp.resolve("staging2").resolve("tables")
    (tabs :+ "lineitem").foreach(t =>
      assert(!java.nio.file.Files.exists(tables2.resolve(s"$t.parquet")), t))

    // C1: the composed transform over staged tables == over originals
    val a = graft.pipeline.EtlPipeline.transformSales(spark, staged)
      .orderBy("o_orderkey").collect()
    val b = graft.pipeline.EtlPipeline.transformSales(spark, sf)
      .orderBy("o_orderkey").collect()
    assert(a.sameElements(b))

    // C2: the star warehouse builds from the staged dir, and the
    // through-the-star analytic answer is unchanged
    val wh = tmp.resolve("wh").toString
    graft.pipeline.StarSchema.materialize(spark, staged, wh)
    assert(spark.read.parquet(s"$wh/fact_sales").count() ==
      graft.pipeline.StarSchema.factSales(spark, sf).count())
    val r1 = graft.pipeline.StarSchema.revenueByYear(spark, staged).collect()
    val r2 = graft.pipeline.StarSchema.revenueByYear(spark, sf).collect()
    assert(r1.sameElements(r2))
  }

  test("column-name standardization normalizes a messy frame (P2)") {
    val messy = Tables.orders(spark, sf).limit(5)
      .withColumnRenamed("o_orderkey", "Order Key")
      .withColumnRenamed("o_totalprice", " Total Price ")
    val std = ColumnOps.standardizeColumnNames(messy)
    assert(std.columns.contains("order_key"))
    assert(std.columns.contains("total_price"))
  }
}
