package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Bucketed gold layout for the fact-fact join regime.
  *
  * At sf0.1 q8's orders side broadcasts; at 100× (60M lineitem /
  * 15M orders — the ScaleUp tier) AQE plans a both-sides shuffle
  * sort-merge join that moved 852 MB (PLANS.md scale table). On a
  * 100 TB cluster that exchange IS the query cost. The lakehouse
  * answer is layout, not plan tuning: write the two facts
  * CO-BUCKETED on the join key (same bucket count, sorted within
  * buckets), and the join needs no exchange and no sort on either
  * side — each bucket pair joins locally, which also means a
  * 1000-executor cluster schedules it as 1000 independent
  * bucket-pair tasks with zero network. The reference ships the
  * same idea as a pre-joined denormalized export for its dashboard
  * (`/root/reference/dashboard/app.py:88-99`); bucketing keeps the
  * tables normalized while buying the same join-free read path.
  *
  * Bucketing is a generic gold-write OPTION: [[ensureBucketedTable]]
  * registers any `(table, key, buckets)` triple, so any fact-fact
  * pair can opt in (q8's lineitem⋈orders on the order key is just
  * the shipped default, [[ensureBucketed]]; GoldLayoutSpec also
  * exercises lineitem⋈part on the part key). The same table may be
  * bucketed on several keys — each layout is its own catalog table.
  *
  * Tables are EXTERNAL (explicit `path` option): the layout lives at
  * a caller-controlled location, not the session warehouse, so the
  * engine never writes state into the repo working directory.
  * Staleness and concurrency: the catalog name and path embed a
  * FINGERPRINT of the source files ([[graft.ops.SessionStore.fingerprint]]:
  * name/size/mtime and parquet footer), so rewritten source data
  * yields a new table name and the stale layout is never served —
  * `tableExists` only short-circuits while the source is unchanged.
  * The default root is one scratch dir per JVM, deleted at exit (the
  * catalog is in-memory, so the tables die with the JVM anyway): two
  * JVMs (e.g. sbt test and ScaleUp) never overwrite each other's
  * layouts; `synchronized` covers the in-process build race. The
  * layout is an optimization, not a semantic: `q8Bucketed` must
  * (and does — same oracle SQL) return byte-identical results to
  * the direct `q8_avg_shipping_days`.
  */
object GoldLayout {

  /** Default bucket count. On the test rig this matches the 32
    * shuffle partitions; on a real cluster size it so one bucket's
    * lineitem slice fits an executor's memory comfortably (e.g.
    * 100 TB fact / 8192 buckets ≈ 12 GB per bucket — still split
    * further by parquet row groups at read time). */
  val Buckets = 32

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Catalog name for a (source dir, table, bucket key) layout: an
    * 8-hex digest of the source fingerprint, so layouts for different
    * scale factors AND different source versions coexist without
    * serving stale data. */
  def bucketedName(dir: String, table: String, key: String): String =
    s"gold_${table}_${key}_bkt_" +
      md5hex(graft.ops.SessionStore.fingerprint(s"$dir/$table.parquet"))

  def lineitemTable(dir: String): String =
    bucketedName(dir, "lineitem", "l_orderkey")
  def ordersTable(dir: String): String =
    bucketedName(dir, "orders", "o_orderkey")

  /** Default root: one scratch dir per JVM, deleted at exit —
    * concurrent JVMs build disjoint layout dirs instead of racing on
    * one path, and no JVM leaves its layouts behind. */
  private lazy val defaultRoot: String = graft.ops.Scratch.dir("graft_gold")

  /** Materialize one table bucketed + sorted on `key` as an external
    * catalog table; build-once per (source-version, table, key) in
    * this session. Returns the catalog name to `spark.table(...)`.
    * Synchronized: concurrent test suites may race on the catalog. */
  def ensureBucketedTable(spark: SparkSession, dir: String, table: String,
      key: String, buckets: Int = Buckets, root: String = null): String =
    synchronized {
      val name = bucketedName(dir, table, key)
      if (!spark.catalog.tableExists(name)) {
        val base = Option(root).getOrElse(defaultRoot)
        // repartition on the bucket key first: each write task then
        // holds exactly one bucket's rows (repartition and bucketBy
        // share the Murmur3 hash), so every bucket is ONE file — the
        // precondition for Spark to trust the write-time sortBy and
        // skip the merge-join Sort at read time (multi-file buckets
        // only guarantee per-file order, and the reader ignores
        // sortBy metadata then).
        Tables.table(spark, dir, table)
          .repartition(buckets, col(key))
          .write.mode("overwrite")
          .option("path", s"$base/$name")
          .bucketBy(buckets, key).sortBy(key)
          .saveAsTable(name)
      }
      name
    }

  /** The documents corpus served through its doc_id-bucketed gold
    * layout — the read path every doc_id-keyed steady-state join
    * should take. Build-once per source fingerprint (the first call
    * pays one corpus rewrite — part of the corpus build, amortized
    * exactly like [[graft.ext.Sampling.writeSplitLabels]]); after
    * that, any join or groupBy on doc_id over frames derived from
    * this scan plans with NO Exchange on this side, because the scan
    * reports hash partitioning on doc_id. The label artifact is
    * bucketed with the same key and bucket count, so label⋈corpus
    * joins are fully co-located — on a 1000-executor cluster each
    * bucket pair is an independent local task with zero network. */
  def documentsBucketed(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureBucketedTable(spark, dir, "documents", "doc_id"))

  /** The shipped default layout: lineitem + orders co-bucketed on the
    * order key (q8's fact-fact pair). */
  def ensureBucketed(spark: SparkSession, dir: String,
      buckets: Int = Buckets, root: String = null): Unit = {
    ensureBucketedTable(spark, dir, "lineitem", "l_orderkey", buckets, root)
    ensureBucketedTable(spark, dir, "orders", "o_orderkey", buckets, root)
    ()
  }

  /** q8 over the bucketed layout — the exchange-free form of
    * [[graft.queries.Analytics.q8AvgShippingDays]]. Identical
    * semantics (same oracle SQL); the only difference is the
    * fact-fact join reads co-bucketed tables, so with broadcast
    * unavailable the join plans with NO Exchange and NO Sort on
    * either fact side (asserted in GoldLayoutSpec). The dims stay
    * broadcast. */
  def q8Bucketed(spark: SparkSession, dir: String): DataFrame = {
    ensureBucketed(spark, dir)
    val li = spark.table(lineitemTable(dir))
    val o = spark.table(ordersTable(dir))
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("country"))
      .agg(avg(datediff(col("l_shipdate"), col("o_orderdate")))
        .as("avg_shipping_days"))
      .orderBy(col("avg_shipping_days"), col("country"))
  }

  val oracle: Map[String, String] = Map(
    // layout must not change results: byte-for-byte the q8 oracle
    "q8_shipping_days_bucketed" ->
      """SELECT n_name AS country, CAST(SUM(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE) / COUNT(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS avg_shipping_days FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY avg_shipping_days, country"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q8_shipping_days_bucketed" -> q8Bucketed _
  )
}
