package graft

import org.apache.spark.sql.SparkSession

/** One place to construct engine sessions with the confs the engine
  * requires, so no loader ever has to mutate session conf as a side
  * effect (a loader flipping global conf would silently change how
  * unrelated reads decode types for the rest of the session).
  *
  * Session-level requirements:
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`: the events table
  *     stores parquet TIMESTAMP(NANOS), which Spark otherwise rejects;
  *     with the flag it surfaces as raw Long nanos and
  *     [[Tables.events]] converts explicitly to microsecond timestamps
  *     (the same ns→us truncation DuckDB applies).
  *   - UTC session timezone: deterministic date/timestamp rendering.
  *   - AQE on: runtime re-planning (skew splits, dynamic coalescing)
  *     — the local stand-in for what a 1000-executor cluster relies on.
  */
object GraftSession {
  val NanosFlag = "spark.sql.legacy.parquet.nanosAsLong"

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(NanosFlag, "true")
      // Bucketed scans report their write-time sortBy order, so a
      // co-bucketed sort-merge join needs neither Exchange nor Sort
      // (graft.pipeline.GoldLayout). Spark turned the ordering report
      // off by default (SPARK-28595) but still applies the safety
      // precondition when enabled — ordering is only claimed when
      // every bucket is a single file, which GoldLayout's
      // repartition-before-write guarantees; multi-file buckets fall
      // back to an explicit Sort regardless of this flag.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")

  /** [[builder]] on `local[n]` with n shuffle partitions, n from
    * `SPARK_GRAFT_CPUS` (else `defaultCpus`): the mains size their
    * session to the box they run on. */
  def local(defaultCpus: Int): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    builder(s"local[$cpus]", cpus)
  }

  /** Assert the session was built with the nanos flag (see above)
    * instead of flipping it behind the caller's back. */
  def requireNanosFlag(spark: SparkSession): Unit =
    require(spark.conf.getOption(NanosFlag).contains("true"),
      s"events.parquet is TIMESTAMP(NANOS): build the session with " +
        s"$NanosFlag=true (use GraftSession.builder)")
}
