package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the parts of Spark's listener machinery that Spark keeps
  * package-private, for [[graft.ops.QueryProfile]]. */
object ListenerBus {

  /** The local property under which a thread's job group travels. */
  val JobGroupId: String = SparkContext.SPARK_JOB_GROUP_ID

  /** Blocks until every event posted so far has reached every
    * listener, so counters read afterwards include every job the
    * caller started. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
