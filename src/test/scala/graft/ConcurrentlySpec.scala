package graft

import java.nio.file.{Files, Paths}

import graft.ops.{Concurrently, QueryProfile}
import graft.sources.BronzeIngest

/** [[Concurrently]] runs independent blocks on fresh threads that end
  * before it returns, charges their jobs to the caller's job group,
  * and fails with the failing block's own error. */
class ConcurrentlySpec extends SparkSpec {

  private val feedTables =
    Seq("orders", "customer", "nation", "region", "part", "supplier", "lineitem")

  private def schemas =
    feedTables.map(t => t -> Tables.load(spark, sf, t).schema).toMap

  test("results come back in order, from threads that have ended") {
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val out = Concurrently.all((1 to 4).map(i => () => {
      threads.add(Thread.currentThread())
      Thread.sleep(20L * (5 - i))
      i * i
    }))
    assert(out == Seq(1, 4, 9, 16))
    assert(threads.size == 4 && !threads.contains(Thread.currentThread()))
    threads.forEach(t => assert(!t.isAlive, t.getName))
  }

  test("the first failure is thrown once every body has ended, the " +
      "others suppressed") {
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    def body(i: Int): () => Int = () => {
      threads.add(Thread.currentThread())
      if (i == 0) Thread.sleep(100)
      if (i % 2 == 1) throw new IllegalStateException(s"body $i")
      i
    }
    val err = intercept[IllegalStateException](Concurrently.all((0 to 3).map(body)))
    assert(err.getMessage == "body 1")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("body 3"))
    assert(threads.size == 4)
    threads.forEach(t => assert(!t.isAlive, t.getName))
  }

  test("an ingest's concurrent writes are charged to the caller's job " +
      "group") {
    val tmp = Paths.get(graft.ops.Scratch.dir("graft_concurrent_ingest"))
    val feed = CsvFeed.zip(spark, sf, tmp, feedTables)
    val s = schemas
    val (tables, r) = QueryProfile.run(spark, "ingest", "") {
      BronzeIngest.ingestZip(spark, feed.toUri.toString,
        tmp.resolve("staging").toString, s)
    }
    assert(r.jobs >= feedTables.size, r.line)
    feedTables.foreach(t => assert(
      Tables.load(spark, tables, t).count() == Tables.load(spark, sf, t).count(), t))
  }

  test("a malformed row fails the ingest with its table's error") {
    val tmp = Paths.get(graft.ops.Scratch.dir("graft_malformed_ingest"))
    val feed = CsvFeed.zip(spark, sf, tmp, feedTables,
      appended = Map("region" -> Seq("not-a-key,NOWHERE,bad row")))
    val err = intercept[Exception] {
      BronzeIngest.ingestZip(spark, feed.toUri.toString,
        tmp.resolve("staging").toString, schemas)
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("region"), messages)
    // the other tables' writes ran to the end
    val written = tmp.resolve("staging").resolve("tables")
    feedTables.filter(_ != "region").foreach(t =>
      assert(Files.exists(written.resolve(s"$t.parquet").resolve("_SUCCESS")), t))
  }
}
