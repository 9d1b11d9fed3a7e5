package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated Parquet test tables (TESTDATA.md).
  *
  * Every query in the engine takes `(spark, sfDir)` and resolves its
  * inputs here, so the same code runs at any scale factor — and, on a
  * real cluster, against any warehouse path. Reads go through
  * [[graft.ops.SessionStore.parquet]]: a parquet scan with its schema
  * supplied from a per-source-version cache, so building a query starts
  * no schema-inference job, while Catalyst keeps full pushdown/pruning
  * freedom (filters and column selections reach the scan).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.ops.SessionStore.parquet(spark, s"$sfDir/$name.parquet")

  /** Name-dispatched loader that applies per-table normalization
    * (events needs the nanos-timestamp conversion). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else load(spark, sfDir, name)

  /** Register every test table as a temp view for the SQL surface. */
  def registerAllViews(spark: SparkSession, sfDir: String): Unit =
    all.foreach(t => table(spark, sfDir, t).createOrReplaceTempView(t))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` normalizes to microsecond TIMESTAMP_NTZ regardless of
    * how the generator wrote it — the column has shipped as both
    * parquet TIMESTAMP(NANOS) (surfaced as raw Long nanos under the
    * legacy flag [[GraftSession.builder]] sets; converted here with
    * integer floor-division, the same ns→us truncation DuckDB applies
    * natively) and plain TIMESTAMP(MICROS) (already NTZ micros — used
    * as is). Branching on the ON-DISK type keeps every downstream
    * query and oracle byte-identical across generator versions; an
    * unrecognized type fails loudly rather than silently shifting
    * event-time semantics. The nanos flag is asserted, not set: a
    * loader must not mutate session conf as a side effect. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw Long nanos
        GraftSession.requireNanosFlag(s)
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000"))
            .cast("timestamp_ntz"))
      case TimestampNTZType => raw
      case TimestampType => // tz-adjusted micros; session tz is UTC
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
      case t => throw new IllegalStateException(
        s"events.ts has unsupported parquet type $t")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
