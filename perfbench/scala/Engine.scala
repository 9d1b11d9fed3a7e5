package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which Spark keeps package-private:
  * the benchmark drains it before it reads its own listener's
  * counters, so that every finished task has been counted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
