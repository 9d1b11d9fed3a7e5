package graft

import org.apache.spark.sql.functions._

/** Focused coverage for the round-18 optimization internals. */
class OptimizationR18Spec extends SparkSpec {

  private def writeEmbeddings(dir: String, seed: Int, n: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val rows = (0 until n).map { i =>
      org.apache.spark.sql.Row(i.toLong, s"l${i % 3}",
        Seq.tabulate(64)(d => ((i * 31 + d * 7 + seed) % 13) / 13.0))
    }.asJava
    spark.createDataFrame(rows, schema)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  test("residualCodebooks rejects custom coarse centroids even after " +
      "the per-dir memo is warm (r17 verdict: the guard used to sit " +
      "inside the memoized block and only fired for the first payer)") {
    val dir = graft.ops.Scratch.dir("r18rc")
    writeEmbeddings(dir, seed = 1, n = 40)
    val coarse = graft.ext.KMeans.train(spark, dir)
    // first payer with the canonical coarse — warms the memo
    val rcbs = graft.ext.ProductQuant.residualCodebooks(spark, dir, coarse)
    assert(rcbs.nonEmpty)
    // a custom-trained coarse after the memo is warm must fail loudly,
    // not silently receive the default-coarse codebooks
    val custom = coarse.map { case (cid, c) =>
      (cid, c.map(_ * 0.5))
    }
    val e = intercept[IllegalArgumentException] {
      graft.ext.ProductQuant.residualCodebooks(spark, dir, custom)
    }
    assert(e.getMessage.contains("residualCodebooks"),
      s"unexpected message: ${e.getMessage}")
  }
}
