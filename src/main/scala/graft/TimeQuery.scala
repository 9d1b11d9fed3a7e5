package graft

import graft.ops.QueryProfile

/** Dev tool: construct and collect named queries at a data dir, one
  * [[QueryProfile]] record per query (wall, rows, jobs, stages, tasks,
  * executor time, shuffle bytes). Construction is inside the record,
  * so the eager store builds a query's first call pays are charged to
  * it; run one query per JVM for first-payer numbers.
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
    args.tail.foreach(q => QueryProfile.measure(spark, q, sfDir)(
      SparkEntry.queries(q)(spark, sfDir).collect()))
    spark.stop()
  }
}
