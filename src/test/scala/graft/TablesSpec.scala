package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** [[Tables]] reads with a supplied schema: the schema comes
  * from a cache keyed on the source version and the session's parquet
  * inference settings ([[graft.ops.SessionStore.parquet]]), so building
  * a read starts no job. Rewrite staleness of that cache is
  * StoreStalenessSpec's `tableSchema`. */
class TablesSpec extends SparkSpec {

  /** A private copy of a test table, so a spec that caches or flips
    * settings never touches what other suites read. */
  private def copyOf(table: String): String = {
    val dir = graft.ops.Scratch.dir("graft_tables")
    spark.read.parquet(s"$sf/$table.parquet")
      .write.parquet(s"$dir/$table.parquet")
    dir
  }

  test("a table read starts no job once its schema is known") {
    val dir = copyOf("orders")
    assert(JobCount.of(spark)(Tables.orders(spark, dir)) > 0,
      "the first read infers the schema")
    assert(JobCount.of(spark)(Tables.orders(spark, dir)) == 0)
    assert(Tables.orders(spark, dir).count() ==
      spark.read.parquet(s"$sf/orders.parquet").count())
  }

  test("a session with other parquet inference settings infers its own " +
      "schema") {
    val dir = copyOf("events")
    Tables.load(spark, dir, "events")
    for (setting <- Seq(GraftSession.NanosFlag,
        "spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.int96AsTimestamp",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.parquet.mergeSchema")) {
      val other = spark.newSession()
      other.conf.set(setting, (!spark.conf.get(setting).toBoolean).toString)
      assert(JobCount.of(other)(Tables.load(other, dir, "events")) > 0,
        s"flipping $setting served the schema inferred without it")
    }
    assert(JobCount.of(spark)(Tables.load(spark, dir, "events")) == 0)
  }

  test("a missing table still throws when the query is built") {
    val missing = graft.ops.Scratch.dir("graft_tables")
    intercept[AnalysisException](Tables.lineitem(spark, missing))
  }

  test("a cached table serves a fresh read of the same table") {
    val dir = copyOf("orders")
    val pinned = Tables.orders(spark, dir).cache()
    try {
      pinned.count()
      val fresh = Tables.orders(spark, dir).queryExecution.withCachedData
      assert(fresh.collectFirst { case r: InMemoryRelation => r }.nonEmpty,
        s"a fresh read does not match the cached plan:\n$fresh")
    } finally pinned.unpersist(blocking = true)
  }
}
