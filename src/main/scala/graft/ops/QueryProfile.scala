package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** The one profiling instrument: what a block of driver code cost in
  * Spark jobs, stages, tasks, executor time and shuffle bytes, next to
  * its wall time. The dev harnesses (ScaleUp, StreamScaleUp,
  * OverheadProbe, TimeQuery) print its records and the job-count specs
  * read its counters.
  *
  * A block runs under a fresh job group on the calling thread, and one
  * listener per SparkContext charges every job, and every stage those
  * jobs complete, to the group it was submitted under. Jobs that other
  * threads start under other groups are not counted; threads the block
  * starts itself inherit its group. Before the counters are read the
  * listener bus is drained, so they are complete without any sleep.
  * Stages a job skips (their shuffle output is reused) complete no
  * tasks and are not counted. */
object QueryProfile {

  /** One measured block; `rows` is -1 when the block returned no row
    * count (see [[measure]]). */
  final case class Record(name: String, dir: String, wallS: Double,
      rows: Long, jobs: Long, stages: Long, tasks: Long, executorS: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long) {
    /** The fixed-format line every harness prints. */
    def line: String = {
      def mb(b: Long) = b / 1048576.0
      val r = if (rows < 0) "-" else rows.toString
      f"[profile] $name%-32s $dir%-24s wall $wallS%8.2f s  rows $r%9s  " +
        f"jobs $jobs%4d  stages $stages%4d  tasks $tasks%6d  " +
        f"exec $executorS%8.2f s  shufR ${mb(shuffleReadBytes)}%10.3f MB  " +
        f"shufW ${mb(shuffleWriteBytes)}%10.3f MB"
    }
  }

  private final class Counters {
    val jobs, stages, tasks, runMs, shufR, shufW = new AtomicLong
  }

  /** Counters of the groups being measured, by group id. */
  private val groups = new ConcurrentHashMap[String, Counters]()
  /** Counters of the stages running for a measured group. */
  private val running = new ConcurrentHashMap[Int, Counters]()

  private object Listener extends SparkListener {
    private def of(p: java.util.Properties): Option[Counters] =
      Option(p).flatMap(p => Option(p.getProperty(ListenerBus.JobGroupId)))
        .flatMap(g => Option(groups.get(g)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      of(e.properties).foreach(_.jobs.incrementAndGet())
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      of(e.properties).foreach(running.put(e.stageInfo.stageId, _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(running.remove(e.stageInfo.stageId)).foreach { c =>
        c.stages.incrementAndGet()
        c.tasks.addAndGet(e.stageInfo.numTasks)
        Option(e.stageInfo.taskMetrics).foreach { m =>
          c.runMs.addAndGet(m.executorRunTime)
          c.shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
  }

  private val attached = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  private def attach(sc: SparkContext): Unit = attached.synchronized {
    if (attached.add(sc)) sc.addSparkListener(Listener)
  }

  /** Runs `body` and returns its result with what it cost; `rows` is
    * -1. The thread's own job group, if any, is restored afterwards. */
  def run[T](spark: SparkSession, name: String, dir: String)(
      body: => T): (T, Record) = {
    val sc = spark.sparkContext
    attach(sc)
    val outer = sc.getLocalProperty(ListenerBus.JobGroupId)
    val group = s"graft-profile-${java.util.UUID.randomUUID}"
    val c = new Counters
    groups.put(group, c)
    sc.setLocalProperty(ListenerBus.JobGroupId, group)
    val t0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBus.drain(sc)
      (out, Record(name, dir, wall, -1L, c.jobs.get, c.stages.get,
        c.tasks.get, c.runMs.get / 1e3, c.shufR.get, c.shufW.get))
    } finally {
      sc.setLocalProperty(ListenerBus.JobGroupId, outer)
      groups.remove(group)
    }
  }

  /** Runs `body`, prints its record and returns its result. An array
    * result (a `collect()`) or a Long result (a `count()`) gives the
    * record its `rows`. */
  def measure[T](spark: SparkSession, name: String, dir: String)(
      body: => T): T = {
    val (out, r) = run(spark, name, dir)(body)
    val rows = out match {
      case a: Array[_] => a.length.toLong
      case n: Long => n
      case _ => -1L
    }
    println(r.copy(rows = rows).line)
    out
  }
}
