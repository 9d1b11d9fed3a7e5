package graftbench

import java.io.File
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.GraftSession

/** One benchmark process: its parameters, Spark session, samples and
  * failure counts. A workload drives it through set-ups and rounds. */
final class Run(val props: java.util.Properties) {
  def prop(k: String): String =
    Option(props.getProperty(k)).getOrElse(sys.error(s"missing parameter $k"))

  val inputs: String = prop("inputs")
  val scratch: String = prop("scratch")
  val cpus: String = prop("cpus")
  val rounds: Int = prop("rounds").toInt
  val setups: Int = prop("setups").toInt
  val inputRows: Double = prop("input_rows").toDouble

  /** key → (rows, digest), computed apart from graft by oracle.py. */
  val expected: Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(prop("expected"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, n, d) = l.split("\t")
      k -> (n.toLong, d)
    }.toMap
    finally src.close()
  }

  val listener = new EngineListener
  var spark: SparkSession = _

  var attempted = 0L
  var failed = 0L
  val samples = LinkedHashMap[String, ArrayBuffer[Double]]()
  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, ArrayBuffer[Double]()) += v

  /** Start (or restart) the Spark session the way graft's mains do,
    * with every scratch path under this run's scratch directory. */
  def startSession(): Unit = {
    if (spark != null) { spark.stop(); SparkSession.clearDefaultSession(); SparkSession.clearActiveSession() }
    spark = Trace("session", "start") {
      GraftSession.builder(s"local[$cpus]", cpus)
        .config("spark.local.dir", s"$scratch/local")
        .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(listener)
    Trace.sc = spark.sparkContext
  }

  /** One set-up step, counted as an operation like the timed ones: a
    * throw counts it failed (the run goes on without it). */
  def setupStep(key: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case t: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] FAILED setup $key: $t")
    }
  }

  /** Pin input tables in memory (the dashboard's warm buffer pool). */
  def pin(tables: Seq[String]): Unit = Trace("session", "pin") {
    tables.foreach(t => setupStep(s"pin:$t")(graft.Tables.table(spark, inputs, t).cache().count()))
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Engine counters so far, with every finished task counted. */
  def counters(): Counters = { drain(); listener.total.copy() }

  /** Per-round figures a workload reports for the per-layer metrics. */
  val extras = LinkedHashMap[String, ArrayBuffer[Double]]()
  def extra(k: String): ArrayBuffer[Double] = extras.getOrElseUpdate(k, ArrayBuffer[Double]())

  val queryRecs = ArrayBuffer[QueryRec]()

  /** One checked operation. `build` returns the frame (its wall time is
    * the construction time); the collect follows. The result must
    * match the expected digest under `key`, and `check` (a property
    * over the rows) must hold. A throw or a mismatch counts as a
    * failed operation and adds no sample; otherwise the wall time from
    * construction to collect is sampled under `kind`. */
  def op(kind: String, key: String, layer: String = "queries",
      check: Array[Row] => Option[String] = _ => None)(
      build: => DataFrame): Option[Array[Row]] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val df = Trace(layer, s"construct:$key")(build)
      val t1 = System.nanoTime()
      val rows = Trace(layer, s"collect:$key")(df.collect())
      val t2 = System.nanoTime()
      val got = Canon.digest(df.columns.toSeq, rows)
      val problem = expected.get(key) match {
        case None => Some("no expected value")
        case Some(e) if e != got => Some(s"expected $e, got $got")
        case _ => check(rows)
      }
      problem match {
        case Some(p) =>
          failed += 1
          System.err.println(s"[perfbench] FAILED $kind $key: $p")
          None
        case None =>
          sample(kind, (t2 - t0) / 1e6)
          System.err.println(f"[perfbench] op $kind $key ${(t2 - t0) / 1e6}%.1f ms")
          if (kind == "fresh" && layer == "queries") {
            val plan = Seq("analysis", "optimization", "planning").flatMap(
              df.queryExecution.tracker.phases.get).map(_.durationMs).sum.toDouble
            queryRecs += QueryRec((t1 - t0) / 1e6, plan, (t2 - t1) / 1e6 - plan)
          }
          Some(rows)
      }
    } catch {
      case t: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $kind $key: $t")
        None
    }
  }

  /** One checked pipeline step: `body` is timed and sampled under
    * `kind`; then every (key, frame) that `verify` returns is collected
    * and must match its expected digest. A throw or a mismatch counts
    * the step as failed, with no sample. Returns the step's seconds
    * (0 when it failed). */
  def step(kind: String, key: String)(body: => Unit)(
      verify: => Seq[(String, DataFrame)]): Double = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      body
      val secs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val bad = verify.flatMap { case (k, df) =>
        val got = Canon.digest(df.columns.toSeq, df.collect())
        expected.get(k) match {
          case Some(e) if e == got => None
          case e => Some(s"$k: expected ${e.getOrElse("nothing")}, got $got")
        }
      }
      if (bad.isEmpty) {
        sample(kind, secs * 1e3)
        System.err.println(f"[perfbench] step $kind $key ${secs * 1e3}%.1f ms (check ${(System.nanoTime() - t1) / 1e6}%.1f ms)")
        secs
      }
      else {
        failed += 1
        System.err.println(s"[perfbench] FAILED $kind $key: ${bad.mkString("; ")}")
        0.0
      }
    } catch {
      case t: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $kind $key: $t")
        0.0
    }
  }

  /** Bytes of the files under `dir` (recursively). */
  def bytesUnder(dir: File, skip: Set[String] = Set.empty): Long =
    if (!dir.exists || skip(dir.getName)) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).getOrElse(Array.empty).map(bytesUnder(_, skip)).sum

  /** Bytes written under the scratch dir, outside Spark's shuffle and
    * spill space (which `shuffle_mb` covers). */
  def scratchBytes(): Long = bytesUnder(new File(scratch), Set("local"))
}

/** Per-query record of a fresh operation, for the `queries` layer. */
final case class QueryRec(constructMs: Double, planMs: Double, collectMs: Double)

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
