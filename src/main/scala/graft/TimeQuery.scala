package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time named queries at a given data dir.
  * Usage: runMain graft.TimeQuery <sfDir> <query> [<query> ...]
  * Extra session conf via SPARK_GRAFT_CONF="k=v;k2=v2". */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val b = GraftSession.local(16)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { q =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).count()
      println(f"[time] $q%-30s ${(System.nanoTime() - t0) / 1e9}%8.2fs  rows=$n")
    }
    spark.stop()
  }
}
