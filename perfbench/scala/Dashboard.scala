package graftbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkEntry
import graft.pipeline.GoldLayout
import graft.queries.{Dashboard => Dash, QueryMemo}

/** `dashboard`: one closed-loop client over the star tables pinned in
  * memory. A round drops the session's memo, views every headline
  * report once planned fresh through `QueryMemo.of`, makes the next
  * filter interaction of the seeded sequence (four widgets, fresh
  * through `filteredOrders`, then served through `filteredOrdersCached`,
  * whose first widget pins the filtered frame the other three reuse),
  * then views every report again, served from the memo, in
  * `ServedViews` passes. Set-up's one-time preparation builds the
  * bucketed gold layout that `q8_shipping_days_bucketed` reads. */
final class DashboardWorkload(run: Run) extends Workload {
  import DashboardWorkload._
  private val dir = run.inputs

  private val filters: IndexedSeq[Dash.Filters] = {
    val src = scala.io.Source.fromFile(run.prop("filters"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(parseFilters).toIndexedSeq
    finally src.close()
  }
  private val sequence: Seq[Int] = run.prop("sequence").split(",").map(_.toInt).toSeq

  def setup(k: Int): Unit = run.pin(Star)

  override def prepare(): Unit = Trace("pipeline", "bucket_build") {
    run.setupStep("bucket_build") {
      GoldLayout.ensureBucketed(run.spark, dir, root = s"${run.scratch}/gold")
      Seq(GoldLayout.lineitemTable(dir), GoldLayout.ordersTable(dir))
        .foreach(t => run.spark.table(t).cache().count())
    }
  }

  def round(r: Int): (Double, Double) = {
    val spark = run.spark
    QueryMemo.invalidate(spark)
    var fresh = 0.0
    var served = 0.0
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
    }
    Reports.foreach(n => fresh += timed(run.op("fresh", n)(QueryMemo.of(spark, n, dir)))._2)
    locally {
      val i = sequence(r % sequence.length)
      val f = filters(i)
      val freshRows = scala.collection.mutable.Map[String, Array[Row]]()
      Widgets.foreach { case (w, widget) =>
        val key = s"widget:$w:$i"
        val (rows, s) = timed(run.op("fresh", key)(widget(Dash.filteredOrders(spark, dir, f))))
        fresh += s
        rows.foreach(freshRows(w) = _)
      }
      Widgets.foreach { case (w, widget) =>
        val key = s"widget:$w:$i"
        served += timed(run.op("memo", key, check = rows => servedCheck(w, rows, freshRows))(
          widget(Dash.filteredOrdersCached(spark, dir, f))))._2
      }
    }
    for (_ <- 1 to ServedViews; n <- Reports)
      served += timed(run.op("memo", n)(QueryMemo.of(spark, n, dir)))._2
    (fresh, served)
  }

  /** The served path must return the fresh path's rows, and the
    * histogram's counts must add up to the filtered row count. */
  private def servedCheck(w: String, rows: Array[Row],
      fresh: scala.collection.Map[String, Array[Row]]): Option[String] = {
    def same(a: Array[Row], b: Array[Row]) = a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted)
    fresh.get(w) match {
      case None => Some("fresh path failed")
      case Some(f) if !same(f, rows) => Some("served rows differ from fresh rows")
      case _ if w == "histogram" =>
        val total = fresh.get("kpis").map(_.head.getAs[Long]("total_orders"))
        val binned = rows.map(_.getAs[Long]("n")).sum
        if (total.contains(binned)) None
        else Some(s"histogram counts sum to $binned, filtered rows $total")
      case _ => None
    }
  }
}

object DashboardWorkload {
  val Star = Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region")

  val Reports: Seq[String] = graft.Bench.headline

  /** Served views of each report per round, in passes after the
    * widgets (so that they do not run while the JIT compiles what the
    * fresh views just ran). */
  val ServedViews = 3

  val Widgets: Seq[(String, DataFrame => DataFrame)] = Seq(
    "kpis" -> (Dash.kpis _),
    "monthly_trend" -> (Dash.monthlyTrend _),
    "histogram" -> ((df: DataFrame) => Dash.histogram(df)),
    "channel_rollup" -> (Dash.channelRollup _))

  /** `from \t to \t regions \t priorities \t statuses`, lists split on
    * `,`, an empty field is an inactive filter. */
  def parseFilters(line: String): Dash.Filters = {
    val f = line.split("\t", -1)
    def ts(s: String) = Option(s).filter(_.nonEmpty).map(d => Timestamp.valueOf(s"$d 00:00:00"))
    def list(s: String) = s.split(",").filter(_.nonEmpty).toSeq
    Dash.Filters(ts(f(0)), ts(f(1)), list(f(2)), list(f(3)), list(f(4)))
  }
}
