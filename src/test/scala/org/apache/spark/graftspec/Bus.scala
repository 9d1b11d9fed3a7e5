package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which Spark keeps package-private:
  * a spec drains it before it reads its own listener's counters, so
  * that every started job has been counted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
