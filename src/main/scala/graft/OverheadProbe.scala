package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.QueryProfile

/** Dev experiment for the tiny-query overhead question (round-3
  * verdict #7): q5/q7 cost ~5× the reference MySQL in ABSOLUTE terms
  * while big-scan queries beat it — where does a sub-second Spark
  * query's time actually go? This probe splits wall time into
  *
  *  1. plan: analysis + optimization + physical planning
  *     (forcing `queryExecution.executedPlan`),
  *  2. execute: one collect as a [[QueryProfile]] record (jobs,
  *     stages, tasks, shuffle bytes), then the steady-state collect
  *     (min of 3),
  *
  * and re-times execution under candidate overhead mitigations
  * (AQE coalesce to fewer tasks via parallelismFirst=false).
  * Usage: runMain graft.OverheadProbe [query ...] (default q5, q7).
  */
object OverheadProbe {

  private def secs(spark: SparkSession, name: String, dir: String)(
      body: => Any): Double = QueryProfile.run(spark, name, dir)(body)._2.wallS

  private def probe(spark: SparkSession, name: String,
      sfDir: String): Unit = {
    def build() = SparkEntry.queries(name)(spark, sfDir)
    def execSec(): Double = {
      val df = build(); secs(spark, name, sfDir)(df.collect())
    }
    execSec() // warm
    val plan = Seq.fill(3)(
      secs(spark, name, sfDir)(build().queryExecution.executedPlan)).min
    val df = build()
    QueryProfile.measure(spark, name, sfDir)(df.collect())
    val steady = Seq.fill(3)(execSec()).min
    println(f"[probe] $name%-28s plan $plan%6.3f s  " +
      f"steady-min $steady%6.3f s")
  }

  /** Steady-state serving-latency comparison for the dashboard memo
    * layer (graft.queries.QueryMemo): fresh plan+execute per request
    * (what a naive dashboard pays on every widget interaction) vs
    * plan-reuse (same DataFrame instance — Catalyst paid once) vs
    * pinned (persist() — execution skipped too, the full
    * `@st.cache_data` analog). Each number is min of 3 after warm-up. */
  private def probeReuse(spark: SparkSession, name: String,
      sfDir: String): Unit = {
    import graft.queries.QueryMemo
    def minOf3(f: () => Double): Double = Seq(f(), f(), f()).min
    def timed(df: => DataFrame): Double = secs(spark, name, sfDir)(df.collect())
    SparkEntry.queries(name)(spark, sfDir).collect() // warm codegen/IO
    val fresh = minOf3(() => timed(SparkEntry.queries(name)(spark, sfDir)))
    val memoDf = QueryMemo.of(spark, name, sfDir)
    memoDf.collect() // plan once
    val reuse = minOf3(() => timed(memoDf))
    val pinDf = QueryMemo.pinned(spark, s"$name@$sfDir#pinned")(
      SparkEntry.queries(name)(spark, sfDir))
    pinDf.collect() // materialize the cache
    val pinned = minOf3(() => timed(pinDf))
    println(f"[probe] $name%-28s fresh $fresh%6.3f s  " +
      f"plan-reuse $reuse%6.3f s (${fresh / reuse}%4.1fx)  " +
      f"pinned $pinned%6.3f s (${fresh / pinned}%4.1fx)")
  }

  def main(args: Array[String]): Unit = {
    val qs = if (args.nonEmpty) args.toSeq
      else Seq("q5_avg_margin_per_channel", "q7_top_orders_by_price")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def run(tag: String, extra: Map[String, String]): Unit = {
      val b = GraftSession.local(32)
        .appName(s"overhead-$tag")
      extra.foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      println(s"[probe] --- $tag ---")
      qs.foreach(q => probe(spark, q, sfDir))
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    run("default", Map.empty)
    // candidate mitigation: coalesce post-shuffle partitions to size,
    // not parallelism — fewer tiny tasks per exchange
    run("coalesce-to-size", Map(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m"))
    // dashboard serving path: QueryMemo plan-reuse vs fresh-per-request
    val spark = GraftSession.local(32)
      .appName("overhead-reuse").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("[probe] --- dashboard memo reuse (QueryMemo) ---")
    val dashQs = qs ++ (if (args.nonEmpty) Nil else Seq("dash_kpis",
      "dash_filtered_kpis", "dash_channel_rollup", "dash_monthly_trend"))
    dashQs.foreach(q => probeReuse(spark, q, sfDir))
    spark.stop()
  }
}
