package graftbench

import java.io.{File, PrintWriter}
import scala.collection.mutable.ArrayBuffer

/** A workload: set-up work repeated per session, one-time preparation,
  * then whole rounds. */
trait Workload {
  def setup(k: Int): Unit
  /** Set-up work done once, after the last set-up (e.g. gold layouts). */
  def prepare(): Unit = ()
  /** One round; returns its (cold pass, warm pass) seconds. */
  def round(r: Int): (Double, Double)
  def afterRound(r: Int): Unit = ()
}

/** Benchmark process: `Main <run.properties>`. Prints one line
  * `PERFBENCH {json}` on stdout with the operation counts and every
  * metric; everything else (Spark's log) goes to stderr. */
object Main {
  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties
    val in = new java.io.FileInputStream(args(0))
    try props.load(in) finally in.close()
    val code =
      try { measure(new Run(props)); 0 }
      catch { case t: Throwable => t.printStackTrace(); 2 }
    System.exit(code)
  }

  private def measure(run: Run): Unit = {
    Trace.enabled = run.prop("trace") == "1"
    val workload: Workload = run.prop("workload") match {
      case "dashboard" => new DashboardWorkload(run)
      case "etl" => new EtlWorkload(run)
      case "curation" => new CurationWorkload(run)
      case w => sys.error(s"unknown workload $w")
    }

    // set-up, several times, each in a new session
    val setupS = ArrayBuffer[Double]()
    val setupBytes = ArrayBuffer[Double]()
    for (k <- 0 until run.setups) {
      Trace.phase = s"setup$k"
      val b0 = run.scratchBytes()
      val t0 = System.nanoTime()
      run.startSession()
      workload.setup(k)
      setupS += (System.nanoTime() - t0) / 1e9
      setupBytes += (run.scratchBytes() - b0).toDouble
      System.err.println(f"[perfbench] setup $k ${setupS.last}%.2f s")
    }

    Trace.phase = "prepare"
    val p0 = System.nanoTime()
    val pb0 = run.scratchBytes()
    workload.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9
    val prepareBytes = (run.scratchBytes() - pb0).toDouble

    // timed phase: a fixed number of whole rounds, sized by run.py to
    // take about the requested seconds
    final case class RoundRec(wall: Double, cold: Double, warm: Double,
        c: Counters, bytes: Double, memo: Double)
    val rounds = ArrayBuffer[RoundRec]()
    for (r <- 0 until run.rounds) {
      Trace.phase = s"round$r"
      val c0 = run.counters()
      val b0 = run.scratchBytes()
      val t0 = System.nanoTime()
      val (cold, warm) = workload.round(r)
      val wall = (System.nanoTime() - t0) / 1e9
      val memo = graft.queries.QueryMemo.size(run.spark).toDouble
      rounds += RoundRec(wall, cold, warm, run.counters().minus(c0),
        (run.scratchBytes() - b0).toDouble, memo)
      workload.afterRound(r)
      System.err.println(f"[perfbench] round $r $wall%.2f s (cold $cold%.2f, warm $warm%.2f)")
    }
    val attempted = run.attempted
    val failed = run.failed

    import Stats.{median, quantile}
    def med(f: RoundRec => Double) = median(rounds.map(f).toSeq)
    def s(kind: String) = run.samples.getOrElse(kind, ArrayBuffer[Double]()).toSeq
    val mb = 1e6
    val m = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> (median(setupS.toSeq) + prepareS),
      "run_s" -> med(_.wall),
      "shuffle_mb" -> med(_.c.shuffleWrite / mb),
      "query_p50_ms" -> quantile(s("fresh"), 0.5),
      "memo_p50_ms" -> quantile(s("memo"), 0.5),
      "rows_per_s" -> med(x => run.inputRows / x.wall),
      "written_mb" -> (median(setupBytes.toSeq) + prepareBytes + med(_.bytes)) / mb,
      "cold_pass_s" -> med(_.cold),
      "warm_pass_s" -> med(_.warm))

    if (Trace.enabled) {
      m ++= Layers.metrics(run, rounds.map(_.c).toSeq, rounds.map(_.memo).toSeq)
      writeTrace(run)
    }
    val metrics = m.map { case (k, v) => s""""$k":${jsonNum(v)}""" }.mkString(",")
    println(s"""PERFBENCH {"attempted":$attempted,"failed":$failed,"rounds":${rounds.length},"metrics":{$metrics}}""")
    System.out.flush()
    run.spark.stop()
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeTrace(run: Run): Unit = {
    val f = new File(run.prop("trace_out"))
    f.getParentFile.mkdirs()
    val out = new PrintWriter(f, "UTF-8")
    try Trace.spans.foreach { sp =>
      val c = Option(run.listener.bySpan.get(sp.id))
      def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      out.println(s"""{"id":${sp.id},"parent":${sp.parent},"run":"${esc(run.prop("run_id"))}","phase":"${sp.phase}","layer":"${sp.layer}","name":"${esc(sp.name)}","start_ns":${sp.start},"end_ns":${sp.end},"self_s":${jsonNum(Trace.selfSeconds(sp))},"jobs":${c.map(_.jobs).getOrElse(0L)},"stages":${c.map(_.stages).getOrElse(0L)},"tasks":${c.map(_.tasks).getOrElse(0L)},"shuffle_write_bytes":${c.map(_.shuffleWrite).getOrElse(0L)},"output_bytes":${c.map(_.output).getOrElse(0L)}}""")
    } finally out.close()
  }
}
