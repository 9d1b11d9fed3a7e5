package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts from the calling thread. The
  * block runs under a fresh job group and one listener counts job
  * starts per group, so jobs that other suites start at the same time
  * are not counted. */
object JobCount {
  private val perGroup = new ConcurrentHashMap[String, AtomicInteger]()

  private lazy val listening: Unit =
    SparkSpec.spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => perGroup
            .computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    })

  /** Jobs started by `body` on this thread; `spark` must share the
    * spec session's SparkContext (a `newSession()` does). */
  def of(spark: SparkSession)(body: => Any): Int = {
    listening
    val sc = spark.sparkContext
    require(sc eq SparkSpec.spark.sparkContext)
    val group = s"graft-jobcount-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "job count")
    try body finally sc.clearJobGroup()
    org.apache.spark.graftspec.Bus.drain(sc)
    Option(perGroup.remove(group)).fold(0)(_.get)
  }
}
