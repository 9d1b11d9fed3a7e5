package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import graft.ops.Concurrently

/** Bronze→silver ingestion: turn a staged archive of per-table CSVs
  * into the parquet table layout every query in the engine consumes
  * ([[graft.Tables]] reads `<dir>/<table>.parquet`). This closes the
  * reference's full ingest story end to end on this engine:
  * `download → unzip → read CSV → typed tables → transform → warehouse`
  * (`/root/reference/etl_pipeline/extract_api.py:38-94` feeding
  * `etl_pipeline/load.py` — the reference stages its Kaggle zip, reads
  * the CSV with pandas, then loads MySQL).
  *
  * Schemas are DECLARED by the caller, not inferred: `inferSchema`
  * costs an extra full pass over every CSV and can silently mis-type
  * columns (a date column with one malformed row degrades to string
  * and every downstream date function changes meaning). A production
  * feed has a contract; holding the ingest to it keeps failures loud
  * and the scan single-pass. CSV parsing itself is distributed (one
  * Spark write job per table, the tables' jobs running concurrently
  * so small tables' single-task stages share the cores; splittable
  * uncompressed CSVs parallelize by HDFS-style line splits), and the
  * parquet rewrite is the one-time cost that buys every later query
  * columnar pruning + pushdown.
  */
object BronzeIngest {

  /** Stage `zipUrl` (file:// or http(s)://) into `$stagingDir/bronze`
    * and rewrite every `<table>.csv` entry found in the archive as
    * `$stagingDir/tables/<table>.parquet`, using the declared schema.
    * Tables in `schemas` with no CSV in the archive fail loudly
    * (a missing feed is an ingest error, not an empty table), before
    * any table is written. The tables are written concurrently
    * ([[graft.ops.Concurrently]]); a table that fails to parse fails
    * the ingest with its own error once the other writes have ended.
    * Returns the tables dir — a valid `sfDir` for [[graft.Tables]]. */
  def ingestZip(spark: SparkSession, zipUrl: String, stagingDir: String,
      schemas: Map[String, StructType]): String = {
    val staged = Staging.stage(zipUrl, s"$stagingDir/bronze")
    val byName = staged.map(f => stripCsv(f.getName) -> f).toMap
    val tablesDir = s"$stagingDir/tables"
    val reads = schemas.toSeq.sortBy(_._1).map { case (table, schema) =>
      val csv = byName.getOrElse(table,
        sys.error(s"ingest: no $table.csv in $zipUrl " +
          s"(archive has: ${byName.keys.toSeq.sorted.mkString(", ")})"))
      table -> spark.read
        .schema(schema)
        .option("header", "true")
        // loud-by-default: a row that doesn't parse under the declared
        // schema fails the ingest rather than becoming silent nulls
        .option("mode", "FAILFAST")
        .csv(csv.getPath)
    }
    Concurrently.all(reads.map { case (table, df) =>
      () => df.write.mode("overwrite").parquet(s"$tablesDir/$table.parquet")
    })
    tablesDir
  }

  private def stripCsv(name: String): String =
    name.toLowerCase.stripSuffix(".csv")
}
