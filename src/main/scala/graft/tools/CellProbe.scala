package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession

/** Throwaway probe: per-cell member counts of the trained coarse
  * quantizer at the gate scale factors (sizes the sub-clustered
  * SemDeDup's per-cell trainer). */
object CellProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val counts = graft.ext.KMeans.kmeansAssign(spark, sf)
        .groupBy(col("cluster")).count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      println(s"[cellprobe] $sf cells=${counts.mkString(", ")}")
    }
    spark.stop()
  }
}
