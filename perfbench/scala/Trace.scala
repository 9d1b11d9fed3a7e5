package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark execution counters, summed over finished tasks, stages, jobs. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  var jobWallMs = 0L

  def add(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; output += o.output
    jobWallMs += o.jobWallMs
  }
  def copy(): Counters = { val c = new Counters; c.add(this); c }
  def minus(o: Counters): Counters = {
    val c = copy()
    c.jobs -= o.jobs; c.stages -= o.stages; c.tasks -= o.tasks
    c.runMs -= o.runMs; c.cpuNs -= o.cpuNs; c.gcMs -= o.gcMs
    c.shuffleRead -= o.shuffleRead; c.shuffleWrite -= o.shuffleWrite
    c.spill -= o.spill; c.input -= o.input; c.output -= o.output
    c.jobWallMs -= o.jobWallMs
    c
  }
}

/** The benchmark's own SparkListener. It always keeps run totals; jobs
  * started under a span's job group (see [[Trace]]) are also counted
  * against that span. */
final class EngineListener extends SparkListener {
  val total = new Counters
  val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()

  private def each(span: Int)(f: Counters => Unit): Unit = {
    total.synchronized(f(total))
    if (span >= 0) {
      val c = bySpan.computeIfAbsent(span, _ => new Counters)
      c.synchronized(f(c))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Trace.GroupPrefix))
      .map(_.stripPrefix(Trace.GroupPrefix).toInt).getOrElse(-1)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.put(_, span))
    each(span)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val wall = e.time - jobStart.getOrDefault(e.jobId, e.time)
    each(jobSpan.getOrDefault(e.jobId, -1))(_.jobWallMs += wall)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    each(stageSpan.getOrDefault(e.stageInfo.stageId, -1))(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    each(stageSpan.getOrDefault(e.stageId, -1)) { c =>
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

final case class Span(id: Int, layer: String, name: String, parent: Int,
    phase: String, start: Long, var end: Long = -1L)

/** Spans around every call into a graft layer. Disabled (the untraced
  * runs), a span is only the call itself. Enabled, it records name,
  * layer, start, end and parent, and runs the call under the job group
  * `span-<id>`, so [[EngineListener]] charges its jobs to it. */
object Trace {
  val GroupPrefix = "span-"
  var enabled = false
  var phase = "setup"
  var sc: SparkContext = _
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, layer, name, stack.headOption.map(_.id).getOrElse(-1),
        phase, System.nanoTime())
      spans += s
      stack = s :: stack
      group(Some(s))
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        group(stack.headOption)
      }
    }

  /** Label the jobs this thread starts with `span` (none: unlabelled).
    * A span that starts or stops the session has no context to label. */
  private def group(span: Option[Span]): Unit =
    if (sc != null && !sc.isStopped) span match {
      case Some(s) => sc.setJobGroup(GroupPrefix + s.id, s"${s.layer}/${s.name}")
      case None => sc.clearJobGroup()
    }

  /** Wall seconds of a span minus its child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => k.end - k.start).sum
    (s.end - s.start - kids) / 1e9
  }
}
