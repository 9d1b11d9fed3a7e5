package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Constructing a query (calling its registry function, no action)
  * should cost Catalyst analysis only: a DataFrame is a lazy plan and
  * Catalyst decides when jobs run. Once the session's stores and
  * schemas are warm, every query of the relational modules must
  * construct without starting a Spark job. The ext registry walk
  * stays out of this spec: its store builds make it a long walk. */
class ConstructionJobsSpec extends SparkSpec {

  private val modules: Seq[Map[String, (SparkSession, String) => DataFrame]] =
    Seq(
      graft.queries.Analytics.queries,
      graft.queries.EltOps.queries,
      graft.queries.JoinsExtra.queries,
      graft.queries.Reshape.queries,
      graft.queries.WindowAnalytics.queries,
      graft.pipeline.StarSchema.queries,
      graft.pipeline.EtlPipeline.queries,
      graft.pipeline.GoldLayout.queries)

  /** Queries that run a job at construction by design, each with the
    * reason. The list may only shrink: a listed query that constructs
    * with zero jobs fails the test until it is removed here. */
  private val eagerByDesign: Map[String, String] = Map(
    "lookup_order" -> "collects the minimum key, then filters on it",
    "elt_iqr_clip" -> "collects the quartiles, then plans the clip",
    "elt_minmax_norm" -> "collects min and max, then plans the scaling",
    "elt_histogram" -> "collects min and max for the bin width",
    "elt_one_hot" -> "one dummy column per collected distinct value",
    "elt_boxplot" -> "the group-size guard job runs before the window")

  test("every relational query constructs with zero Spark jobs, warm") {
    val queries = modules.flatten
    queries.foreach { case (_, fn) => fn(spark, sf) } // warm every store
    val jobs = queries.map { case (name, fn) =>
      name -> JobCount.of(spark)(fn(spark, sf))
    }.toMap
    val eager = jobs.filter(_._2 > 0)
    val unlisted = eager -- eagerByDesign.keySet
    assert(unlisted.isEmpty,
      s"queries that start jobs at construction: $unlisted")
    val stale = eagerByDesign.keySet -- eager.keySet
    assert(stale.isEmpty,
      s"listed as eager but construct with zero jobs; remove them: $stale")
  }

  test("single-query sim top-k entries construct with zero Spark jobs, " +
      "warm") {
    val names = Seq("sim_kmeans_topk", "sim_ivf_topk", "sim_sq8_topk",
      "sim_pq_topk", "sim_ivfpq_topk")
    names.foreach(n => SparkEntry.queries(n)(spark, sf)) // warm
    val jobs = names.map(n =>
      n -> JobCount.of(spark)(SparkEntry.queries(n)(spark, sf))).toMap
    assert(jobs.values.forall(_ == 0),
      s"queries that start jobs at warm construction: $jobs")
  }
}
