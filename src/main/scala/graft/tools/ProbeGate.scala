package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev probe for the store-lifecycle gates, whose heavy work runs at
  * query CONSTRUCTION (eager scaffold builds) — counts jobs, stages,
  * tasks and summed job wall across construct+collect of each named
  * query, first-payer semantics (run one query per JVM for clean
  * numbers). Usage: runMain graft.tools.ProbeGate <query> [query ...]
  * with SPARK_GRAFT_SF_DIR picking the data dir. */
object ProbeGate {
  private final class L extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      taskTimeMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(16).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val l = new L
    spark.sparkContext.addSparkListener(l)
    for (q <- args) {
      val (j0, s0, t0, m0) =
        (l.jobs.get, l.stages.get, l.tasks.get, l.taskTimeMs.get)
      val w0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, sfDir).collect()
      val wall = (System.nanoTime() - w0) / 1e9
      Thread.sleep(500)
      println(f"[probegate] $q%-32s wall $wall%7.2f s  " +
        f"jobs ${l.jobs.get - j0}%4d  stages ${l.stages.get - s0}%4d  " +
        f"tasks ${l.tasks.get - t0}%6d  " +
        f"jobtime ${(l.taskTimeMs.get - m0) / 1e3}%8.2f s")
    }
    spark.stop()
  }
}
