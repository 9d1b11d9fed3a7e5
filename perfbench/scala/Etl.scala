package graftbench

import java.io.File
import graft.Tables
import graft.pipeline.{EtlPipeline, StarSchema}
import graft.queries.{EltOps, QueryMemo}
import graft.sources.BronzeIngest

/** `etl`: a round stages and ingests the seeded CSV zip feed into
  * bronze tables, writes the silver transform, materializes the gold
  * star schema and the ELT processed table, then reads the gold files
  * back with aggregates (fresh, then served through `QueryMemo`).
  * Every step's output is checked against DuckDB's answer over the
  * tables the feed was made from. The cold pass is the
  * four write steps (checks excluded), the warm pass the read-backs. */
final class EtlWorkload(run: Run) extends Workload {
  import EtlWorkload._
  private val feedUrl = new File(run.prop("feed")).toURI.toString
  private val sql: Map[String, String] = Sql.load(run.prop("spark_sql"))
  private var schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty

  /** Reads the feed's declared schemas: those of the tables it was made
    * from. Nothing is pinned: a round reads only the feed. */
  def setup(k: Int): Unit = {
    val read = scala.collection.mutable.Map[String, org.apache.spark.sql.types.StructType]()
    FeedTables.foreach(t =>
      run.setupStep(s"schema:$t")(read(t) = Tables.load(run.spark, run.inputs, t).schema))
    schemas = read.toMap
  }

  private def base(r: Int) = s"${run.scratch}/etl/r$r"

  def round(r: Int): (Double, Double) = {
    val spark = run.spark
    val b = base(r)
    var tables = s"$b/staging/tables"
    var cold = run.step("fresh", "ingest") {
      tables = Trace("sources", "ingest") {
        BronzeIngest.ingestZip(spark, feedUrl, s"$b/staging", schemas)
      }
    } {
      FeedTables.foreach(t => Tables.load(spark, tables, t).createOrReplaceTempView(t))
      Seq("ingest" -> spark.sql(sql("ingest")))
    }
    cold += run.step("fresh", "transform") {
      Trace("pipeline", "transform") {
        EtlPipeline.transformSales(spark, tables).write.mode("overwrite")
          .parquet(s"$b/silver/sales_processed")
      }
    } {
      spark.read.parquet(s"$b/silver/sales_processed").createOrReplaceTempView("sales_processed")
      Seq("silver" -> spark.sql(sql("silver")))
    }
    cold += run.step("fresh", "star") {
      Trace("pipeline", "star")(StarSchema.materialize(spark, tables, s"$b/gold"))
    } {
      GoldTables.foreach(t => spark.read.parquet(s"$b/gold/$t").createOrReplaceTempView(t))
      GoldTables.map(t => s"gold:$t" -> spark.sql(sql(s"gold:$t")))
    }
    cold += run.step("fresh", "elt") {
      Trace("pipeline", "elt") {
        EltOps.processedPipeline(spark, tables).write.mode("overwrite")
          .parquet(s"$b/gold/elt_processed")
      }
    } {
      spark.read.parquet(s"$b/gold/elt_processed").createOrReplaceTempView("elt_processed")
      Seq("elt" -> spark.sql(sql("elt")))
    }
    run.extra("pipeline.files_written") += Seq(s"$b/silver", s"$b/gold")
      .map(d => countFiles(new File(d))).sum.toDouble
    run.extra("sources.csv_mb") += run.bytesUnder(new File(s"$b/staging/bronze")) / 1e6

    val t1 = System.nanoTime()
    Readbacks.foreach { n =>
      val key = s"$n@$b"
      run.op("readback", n, layer = "engine")(QueryMemo(spark, key)(spark.sql(sql(n))))
      for (_ <- 1 to MemoViews)
        run.op("memo", n, layer = "engine")(QueryMemo(spark, key)(spark.sql(sql(n))))
    }
    QueryMemo.invalidate(spark)
    (cold, (System.nanoTime() - t1) / 1e9)
  }

  override def afterRound(r: Int): Unit = Dirs.delete(new File(base(r)))

  private def countFiles(d: File): Int =
    if (d.isFile) { if (d.getName.startsWith("part-")) 1 else 0 }
    else Option(d.listFiles).getOrElse(Array.empty).map(countFiles).sum
}

object EtlWorkload {
  /** What the feed carries: every table the pipeline reads. */
  val FeedTables = Seq("orders", "customer", "nation", "region", "part", "supplier", "lineitem")
  val GoldTables = Seq("dim_date", "dim_country", "dim_item", "dim_channel", "fact_sales")
  /** Served views of each read-back per round (after its fresh view). */
  val MemoViews = 5
  /** One over the gold star schema, one over the gold ELT table. */
  val Readbacks = Seq("readback:region_year", "readback:shipping_mix")
}

/** Key → SQL text, one `key \t sql` per line, written by oracle.py: the
  * Spark side of each check and read-back. */
object Sql {
  def load(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1)
    }.toMap
    finally src.close()
  }
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }
}
