package graftbench

import scala.collection.mutable.LinkedHashMap
import Stats.median

/** Per-layer metrics of a traced run, from its spans, the listener's
  * per-span counters and the workload's per-round figures. A figure is
  * summed per phase (one set-up or one round) and the median taken over
  * the phases that have it; a layer the workload never calls reads 0. */
object Layers {
  private def phaseMedian(spans: Seq[Span], f: Seq[Span] => Double): Double = {
    val byPhase = spans.groupBy(_.phase)
    if (byPhase.isEmpty) 0.0 else median(byPhase.values.map(f).toSeq)
  }

  def metrics(run: Run, rounds: Seq[Counters], memo: Seq[Double]): Seq[(String, Double)] = {
    val spans = Trace.spans.toSeq
    def of(layer: String, prefix: String) =
      spans.filter(s => s.layer == layer && s.name.startsWith(prefix))
    def selfS(layer: String, prefix: String) =
      phaseMedian(of(layer, prefix), _.map(Trace.selfSeconds).sum)
    def counter(layer: String, prefix: String)(f: Counters => Double) =
      phaseMedian(of(layer, prefix),
        _.flatMap(s => Option(run.listener.bySpan.get(s.id))).map(f).sum)
    def ext(k: String) = run.extras.get(k).map(b => median(b.toSeq)).getOrElse(0.0)
    def q(f: QueryRec => Double) =
      if (run.queryRecs.isEmpty) 0.0 else median(run.queryRecs.map(f).toSeq)
    def eng(f: Counters => Double) = if (rounds.isEmpty) 0.0 else median(rounds.map(f))
    val mb = 1e6
    val ingestS = selfS("sources", "ingest")
    Seq(
      "session.start_s" -> selfS("session", "start"),
      "session.pin_s" -> selfS("session", "pin"),
      "sources.stage_s" -> (ingestS - counter("sources", "ingest")(_.jobWallMs / 1e3)),
      "sources.ingest_s" -> ingestS,
      "sources.csv_mb" -> ext("sources.csv_mb"),
      "pipeline.transform_s" -> selfS("pipeline", "transform"),
      "pipeline.star_s" -> selfS("pipeline", "star"),
      "pipeline.elt_s" -> selfS("pipeline", "elt"),
      "pipeline.written_mb" -> counter("pipeline", "")(_.output / mb),
      "pipeline.files_written" -> ext("pipeline.files_written"),
      "pipeline.bucket_build_s" -> selfS("pipeline", "bucket_build"),
      "queries.construct_ms" -> q(_.constructMs),
      "queries.plan_ms" -> q(_.planMs),
      "queries.exec_ms" -> q(_.collectMs),
      "queries.memo_entries" -> (if (memo.isEmpty) 0.0 else median(memo)),
      "ext.construct_s" -> selfS("ext", "construct:"),
      "ext.construct_jobs" -> counter("ext", "construct:")(_.jobs.toDouble),
      "ext.collect_s" -> selfS("ext", "collect:"),
      "ext.collect_jobs" -> counter("ext", "collect:")(_.jobs.toDouble),
      "ext.store_build_s" -> ext("ext.store_build_s"),
      "engine.jobs" -> eng(_.jobs.toDouble),
      "engine.stages" -> eng(_.stages.toDouble),
      "engine.tasks" -> eng(_.tasks.toDouble),
      "engine.executor_run_s" -> eng(_.runMs / 1e3),
      "engine.executor_cpu_s" -> eng(_.cpuNs / 1e9),
      "engine.gc_s" -> eng(_.gcMs / 1e3),
      "engine.shuffle_read_mb" -> eng(_.shuffleRead / mb),
      "engine.shuffle_write_mb" -> eng(_.shuffleWrite / mb),
      "engine.spill_mb" -> eng(_.spill / mb),
      "engine.input_mb" -> eng(_.input / mb),
      "engine.output_mb" -> eng(_.output / mb))
  }
}
