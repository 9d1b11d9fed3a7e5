package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import graft.SparkEntry
import graft.pipeline.GoldLayout
import graft.queries.QueryMemo

/** `curation`: a round copies the corpus to a fresh directory, so that
  * every session store keyed by source files starts cold, builds its
  * doc_id-bucketed layout, then makes a cold pass over the registry
  * entries (in a fixed order), a warm pass (through `QueryMemo.of`,
  * stores built) and `MemoPasses` memo passes (the warm pass's frames
  * re-collected), and reads the bucketed layout back. */
final class CurationWorkload(run: Run) extends Workload {
  import CurationWorkload._
  private val entries: Seq[String] = run.prop("entries").split(",").toSeq
  private val sql: Map[String, String] = Sql.load(run.prop("spark_sql"))

  def setup(k: Int): Unit = run.pin(Seq("documents", "embeddings"))

  private def copyCorpus(tag: String): String = {
    val dir = s"${run.scratch}/corpus/$tag"
    Seq("documents", "embeddings").foreach { t =>
      val dst = new File(s"$dir/$t.parquet")
      dst.getParentFile.mkdirs()
      Files.copy(new File(s"${run.inputs}/$t.parquet").toPath, dst.toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    dir
  }

  def round(r: Int): (Double, Double) = {
    val spark = run.spark
    val dir = copyCorpus(s"r$r")
    val docs = Trace("pipeline", "bucket_build") {
      GoldLayout.ensureBucketedTable(spark, dir, "documents", "doc_id",
        root = s"${run.scratch}/gold")
    }
    def pass(kind: String)(build: String => org.apache.spark.sql.DataFrame) = {
      val t0 = System.nanoTime()
      val per = entries.map { e =>
        val s = System.nanoTime()
        run.op(kind, e, layer = "ext")(build(e))
        e -> (System.nanoTime() - s) / 1e9
      }.toMap
      ((System.nanoTime() - t0) / 1e9, per)
    }
    val (cold, coldPer) = pass("cold")(e => SparkEntry.queries(e)(spark, dir))
    val (warm, warmPer) = pass("fresh")(e => QueryMemo.of(spark, e, dir))
    for (_ <- 1 to MemoPasses) pass("memo")(e => QueryMemo.of(spark, e, dir))
    run.extra("ext.store_build_s") += entries.map(e => coldPer(e) - warmPer(e)).sum
    spark.table(docs).createOrReplaceTempView("documents_bucketed")
    run.op("readback", "readback:docs_by_lang", layer = "engine")(
      spark.sql(sql("readback:docs_by_lang")))
    QueryMemo.invalidate(spark)
    (cold, warm)
  }
}

object CurationWorkload {
  /** Memo-served passes per round (after the warm pass). */
  val MemoPasses = 4
}
