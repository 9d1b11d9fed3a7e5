package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Test fixture in the reference's feed shape: one zip holding a
  * `<table>.csv` with header per table, exported from the parquet
  * tables of `sf` so values round-trip through the ingest. */
object CsvFeed {

  /** Writes `<tmp>/feed.zip` holding `tables`; each line in
    * `appended(table)` is added to the end of that table's CSV. */
  def zip(spark: SparkSession, sf: String, tmp: Path, tables: Seq[String],
      appended: Map[String, Seq[String]] = Map.empty): Path = {
    tables.foreach { t =>
      Tables.load(spark, sf, t).coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(tmp.resolve(s"csv_$t").toString)
    }
    val zipPath = tmp.resolve("feed.zip")
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipPath))
    try tables.foreach { t =>
      val part = new java.io.File(tmp.resolve(s"csv_$t").toString)
        .listFiles().filter(_.getName.endsWith(".csv")).head
      zout.putNextEntry(new java.util.zip.ZipEntry(s"$t.csv"))
      Files.copy(part.toPath, zout)
      appended.getOrElse(t, Nil).foreach(l => zout.write(s"$l\n".getBytes("UTF-8")))
      zout.closeEntry()
    } finally zout.close()
    zipPath
  }
}
