package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts from the calling thread, with
  * [[graft.ops.QueryProfile]]: jobs that other suites start at the
  * same time are not counted. */
object JobCount {
  def of(spark: SparkSession)(body: => Any): Int =
    graft.ops.QueryProfile.run(spark, "job count", "")(body)._2.jobs.toInt
}
