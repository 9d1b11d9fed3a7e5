package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.ops.QueryProfile

/** [[QueryProfile]] charges a block with the jobs of its own thread
  * only, reads shuffle bytes from the stages those jobs complete, and
  * has complete counters as soon as the block returns. */
class QueryProfileSpec extends SparkSpec {

  /** A session without AQE: every plan below runs as one job whose
    * stage and task counts follow from its partitioning. */
  private lazy val fixed = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  test("a job another thread starts under another job group is not " +
      "counted") {
    val (_, r) = QueryProfile.run(spark, "own", "") {
      val other = new Thread(() => {
        spark.sparkContext.setJobGroup("graft-other-thread", "other")
        try spark.range(100).count()
        finally spark.sparkContext.clearJobGroup()
      })
      other.start()
      other.join()
      spark.range(10).collect()
    }
    assert(r.jobs == 1)
  }

  test("a groupBy over a 2-partition range reports the shuffle bytes " +
      "its stages wrote") {
    val df = fixed.range(0, 10000, 1, 2).groupBy(col("id") % 97).count()
    val (rows, r) = QueryProfile.run(fixed, "groupBy", "")(df.collect())
    assert(rows.length == 97)
    assert(r.shuffleWriteBytes > 0)
    val written = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e.metrics("shuffleBytesWritten").value
    }
    assert(written.nonEmpty)
    assert(r.shuffleWriteBytes == written.sum)
    assert(r.shuffleReadBytes == r.shuffleWriteBytes)
  }

  test("counters are complete when the block returns") {
    for (_ <- 1 to 5) {
      val (_, r) = QueryProfile.run(fixed, "repartition", "")(
        fixed.range(0, 1000, 1, 4).repartition(3).collect())
      assert((r.jobs, r.stages, r.tasks) == ((1L, 2L, 7L)))
    }
  }
}
