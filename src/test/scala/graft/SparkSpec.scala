package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session via
  * getOrCreate; suites may run in parallel inside the forked test
  * JVM). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.builder("local[8]", "8")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      graft.ops.Scratch.dir("graft_wh"))
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sf: String = SparkSpec.sf

  /** Collect over a physical plan, descending through AQE wrappers.
    * `AdaptiveSparkPlanExec` is a LeafExecNode, so a plain
    * `plan.collect` over an AQE-enabled query never sees the inner
    * join/window/exchange nodes — every structural plan assertion
    * must go through this helper (or disable AQE) or it is vacuous. */
  def collectPlan[A](plan: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, A]): Seq[A] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val nested = plan.collect {
      case a: AdaptiveSparkPlanExec => collectPlan(a.executedPlan)(pf)
    }.flatten
    plan.collect(pf) ++ nested
  }
}
