package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.ops.StoreCommit

class EventStreamsSpec extends SparkSpec {

  test("streaming hourly window agg equals the batch rollup") {
    val stream = EventStreams.eventsStream(spark, sf)
    val q = EventStreams.runToMemory(EventStreams.hourlyWindowed(stream),
      "hourly_out")
    try {
      val fmt = "yyyy-MM-dd HH:mm:ss"
      val streamed = spark.table("hourly_out")
        .select(date_format(col("hour"), fmt).as("hour"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("hour", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3)))
      val batch = graft.ext.EventOps.hourlyRollup(spark, sf)
        .select(date_format(col("hour"), fmt).as("hour"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("hour", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3)))
      assert(streamed.nonEmpty)
      assert(streamed.sameElements(batch),
        "streaming and batch hourly rollups diverge")
    } finally q.stop()
  }

  test("streaming session windows emit exactly the batch sessions the " +
      "watermark has closed, and never a session batch doesn't have") {
    import org.apache.spark.sql.Row
    val stream = EventStreams.eventsStream(spark, sf)
    val q = EventStreams.runToMemory(
      EventStreams.sessionWindowed(stream), "session_win_out", "append")
    try {
      val fmt = "yyyy-MM-dd HH:mm:ss"
      def key(r: Row) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))
      val streamed = spark.table("session_win_out")
        .select(col("user_id"),
          date_format(col("session_start"), fmt).as("s"),
          col("n_events"), col("total_value"))
        .collect().map(key).toSet
      // batch truth, WITH session end for watermark classification
      val e = Tables.events(spark, sf)
      val batch = e.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          graft.ops.ColumnOps.sumMoney(col("value")).as("total_value"))
        .select(col("user_id"), date_format(col("w.start"), fmt).as("s"),
          col("w.end").as("session_end"), col("n_events"), col("total_value"))
        .collect()
      def batchKey(r: Row) =
        (r.getLong(0), r.getString(1), r.getLong(3), r.getDouble(4))
      val batchSet = batch.map(batchKey).toSet
      assert(streamed.nonEmpty, "append mode must have finalized sessions")
      assert(streamed.subsetOf(batchSet),
        "streaming must never invent a session batch doesn't have")
      // completeness: every session that closed strictly before the
      // final watermark (max event time - 2h delay) must be emitted
      val wm = e.agg(max(col("ts"))).head()
        .getAs[java.time.LocalDateTime](0).minusHours(2)
      val mustEmit = batch.filter(
          _.getAs[java.time.LocalDateTime]("session_end").isBefore(wm))
        .map(batchKey).toSet
      assert(mustEmit.nonEmpty)
      assert(mustEmit.subsetOf(streamed),
        "a watermark-closed session was never emitted")
    } finally q.stop()
  }

  test("stateful sessionization matches the batch per-user rollup") {
    val stream = EventStreams.eventsStream(spark, sf)
    val sess = EventStreams.sessionize(spark, stream)
    val q = EventStreams.runToMemory(sess, "sessions_out", "update")
    try {
      // update mode emits one row per user per trigger; last wins
      val streamed = spark.table("sessions_out")
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"))
        .orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val batch = graft.ext.EventOps.userActivity(spark, sf)
        .select(col("user_id"), col("n_events"))
        .orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("checkpointed parquet sink persists windowed results durably") {
    val out = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_stream_sink"))
    val stream = EventStreams.eventsStream(spark, sf)
    // append mode requires the watermark to close windows; with a
    // bounded replay the final windows stay open, so sink the
    // raw enriched stream (stateless) — the durable-pipeline shape
    val q = stream
      .withColumn("hour", date_trunc("hour", col("ts")))
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/chk")
      .start()
    try {
      q.processAllAvailable()
      val written = spark.read.parquet(s"$out/data")
      assert(written.count() == Tables.events(spark, sf).count())
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$out/chk/offsets")))
    } finally q.stop()
  }

  test("checkpoint restart resumes exactly-once across new files") {
    import java.nio.file.{Files, Paths}
    val base = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_stream_restart"))
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val all = Tables.events(spark, sf)

    def stageFile(filter: org.apache.spark.sql.Column, name: String): Long = {
      val tmp = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_batch"))
      val part = all.filter(filter)
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
      part.count()
    }

    def runOnce(): Unit = {
      val q = spark.readStream.schema(all.schema).parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", s"$base/data")
        .option("checkpointLocation", s"$base/chk")
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    val n1 = stageFile(col("event_id") % 2 === 0, "b1.parquet")
    runOnce()
    assert(spark.read.parquet(s"$base/data").count() == n1)

    // second file arrives while the query is down; the restart must
    // pick up ONLY the new file from the checkpointed offsets
    val n2 = stageFile(col("event_id") % 2 === 1, "b2.parquet")
    runOnce()
    val out = spark.read.parquet(s"$base/data")
    assert(out.count() == n1 + n2, "restart reprocessed or dropped rows")
    assert(out.select(countDistinct(col("event_id"))).head.getLong(0) == n1 + n2)
  }

  test("foreachBatch gold sink is idempotent on replayed keys") {
    import java.nio.file.{Files, Paths}
    val base = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_gold_sink"))
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val all = Tables.events(spark, sf)

    def stageFile(filter: org.apache.spark.sql.Column, name: String): Long = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_gold_batch"))
      val part = all.filter(filter)
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
      part.count()
    }

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(all.schema).parquet(srcDir)
      EventStreams.dedupAppendGold(stream, s"$base/gold", "event_id",
        s"$base/chk").stop()
    }

    val n1 = stageFile(col("event_id") % 3 === 0, "b1.parquet")
    runOnce()
    assert(spark.read.parquet(s"$base/gold").count() == n1)

    // the same keys arrive again in a new file: the anti-join backstop
    // must drop every row instead of appending duplicates
    stageFile(col("event_id") % 3 === 0, "b1_replay.parquet")
    runOnce()
    assert(spark.read.parquet(s"$base/gold").count() == n1)

    val n2 = stageFile(col("event_id") % 3 === 1, "b2.parquet")
    runOnce()
    val gold = spark.read.parquet(s"$base/gold")
    assert(gold.count() == n1 + n2)
    assert(gold.select(countDistinct(col("event_id"))).head.getLong(0) == n1 + n2)
  }

  test("RocksDB state store produces identical sessionization output") {
    val conf = EventStreams.RocksDbStateStoreConf
    def runSessionize(name: String): Array[(Long, Long)] = {
      val stream = EventStreams.eventsStream(spark, sf)
      val q = EventStreams.runToMemory(
        EventStreams.sessionize(spark, stream), name, "update")
      try spark.table(name)
        .groupBy(col("user_id")).agg(max(col("n_events")).as("n_events"))
        .orderBy("user_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      finally q.stop()
    }
    val hdfs = runSessionize("sess_hdfs_store")
    val prev = spark.conf.getOption(conf._1)
    spark.conf.set(conf._1, conf._2)
    try {
      val rocks = runSessionize("sess_rocksdb_store")
      assert(rocks.nonEmpty && rocks.sameElements(hdfs),
        "RocksDB-backed state diverged from the default store")
    } finally prev match {
      case Some(v) => spark.conf.set(conf._1, v)
      case None => spark.conf.unset(conf._1)
    }
  }

  test("RocksDB streaming dedup restarts exactly-once under AvailableNow") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_rocks_restart"))
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val all = Tables.events(spark, sf)

    def stageFile(filter: org.apache.spark.sql.Column, name: String): Long = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_rocks_batch"))
      val part = all.filter(filter)
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
      part.count()
    }

    // dropDuplicates keeps every seen event_id in the state store —
    // exactly the state that must survive a restart (production
    // bounds it with dropDuplicatesWithinWatermark; the store is the
    // thing under test here). AvailableNow processes everything
    // staged and then terminates itself — the catch-up trigger.
    def runOnce(): Unit = {
      val q = spark.readStream.schema(all.schema).parquet(srcDir)
        .dropDuplicates("event_id")
        .writeStream.format("parquet")
        .option("path", s"$base/data")
        .option("checkpointLocation", s"$base/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }

    val conf = EventStreams.RocksDbStateStoreConf
    val prev = spark.conf.getOption(conf._1)
    spark.conf.set(conf._1, conf._2)
    try {
      val n1 = stageFile(col("event_id") % 2 === 0, "b1.parquet")
      runOnce()
      assert(spark.read.parquet(s"$base/data").count() == n1)
      // replayed keys + new keys arrive while the query is down: the
      // restarted query must drop the replays (RocksDB state) and
      // process only the new file (checkpointed offsets)
      stageFile(col("event_id") % 2 === 0, "b1_replay.parquet")
      val n2 = stageFile(col("event_id") % 2 === 1, "b2.parquet")
      runOnce()
      val out = spark.read.parquet(s"$base/data")
      assert(out.count() == n1 + n2,
        "restart reprocessed, dropped, or failed to dedup rows")
      assert(out.select(countDistinct(col("event_id"))).head.getLong(0)
        == n1 + n2)
    } finally prev match {
      case Some(v) => spark.conf.set(conf._1, v)
      case None => spark.conf.unset(conf._1)
    }
  }

  test("streaming incremental dedup equals sequential batch splits across restart") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Dedup
    val base = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_inc_dedup"))
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val docs = Tables.documents(spark, sf)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    val gold0 = docs.filter(col("doc_id") <= c0)
    val fresh1 = docs.filter(col("doc_id") > c0 && col("doc_id") <= c1)
    val fresh2 = docs.filter(col("doc_id") > c1)

    // seed the store with the initial gold corpus + its index
    StoreCommit.replace(s"$base/gold")(gold0.write.parquet(_))
    Dedup.writeGoldIndex(gold0, s"$base/index")

    def stageFile(part: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_inc_batch"))
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }

    def runOnce(): Unit =
      EventStreams.incrementalDedupSink(
        spark.readStream.schema(docs.schema).parquet(srcDir),
        s"$base/index", s"$base/gold", s"$base/chk").stop()

    stageFile(fresh1, "b1.parquet")
    runOnce()
    // restart boundary: second batch arrives while the query is down
    stageFile(fresh2, "b2.parquet")
    runOnce()
    val streamed = StoreCommit.read(spark, s"$base/gold")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet

    // batch replay of the same sequence: fresh1 against gold0, then
    // fresh2 against gold0 + fresh1's accepted docs
    def uniqueIds(gold: org.apache.spark.sql.DataFrame,
        fresh: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.incrementalSplit(gold, fresh)
        .filter(col("verdict") === "unique")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val u1 = uniqueIds(gold0, fresh1)
    val gold1 = gold0.unionByName(fresh1.filter(col("doc_id").isInCollection(u1)))
    val u2 = uniqueIds(gold1, fresh2)
    val expected = ids.filter(_ <= c0).toSet ++ u1 ++ u2

    assert(streamed == expected,
      s"stream-ingested corpus diverged: extra=${streamed -- expected} " +
        s"missing=${expected -- streamed}")
    // a replayed batch after the run is a no-op (idempotent sink)
    stageFile(fresh2, "b2_replay.parquet")
    runOnce()
    assert(StoreCommit.read(spark, s"$base/gold").count() == expected.size)
  }

  test("dedup sink crash between gold append and index append: the " +
      "prologue repair rebuilds the index, so a duplicate of the " +
      "crashed doc is still rejected") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Dedup
    val base = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_dedup_crash"))
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val docs = Tables.documents(spark, sf)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length / 2)
    val gold0 = docs.filter(col("doc_id") <= c0)
    StoreCommit.replace(s"$base/gold")(gold0.write.parquet(_))
    Dedup.writeGoldIndex(gold0, s"$base/index")
    // a doc the index would accept, landed in gold by a batch that
    // CRASHED before its index append: gold has it, the index is
    // blind to it, the sync marker is down, the watermark is stale
    val crashed = Dedup.incrementalSplit(gold0,
        docs.filter(col("doc_id") > c0))
      .filter(col("verdict") === "unique")
      .orderBy(col("doc_id")).limit(1)
      .select(col("doc_id")).collect().head.getLong(0)
    val crashedDoc = docs.filter(col("doc_id") === crashed)
      .localCheckpoint()
    StoreCommit.append(s"$base/gold")(crashedDoc.write.mode("append").parquet(_))
    graft.ops.StoreFiles.deleteMarker(s"$base/gold", "_ids_synced")
    graft.ops.StoreFiles.deleteIdWatermark(s"$base/gold")
    // next batch: an EXACT duplicate of the crashed doc under a new
    // id — without the prologue repair the index never learned the
    // crashed doc (the replay guard drops it as already-in-gold), so
    // the duplicate would be judged unique and admitted forever
    val dup = crashedDoc.withColumn("doc_id", lit(ids.max + 1))
      .localCheckpoint()
    val tmp = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_dedup_crash_b"))
    dup.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val f = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(f.toPath, Paths.get(srcDir, "dup.parquet"))
    val before = StoreCommit.read(spark, s"$base/gold").count()
    EventStreams.incrementalDedupSink(
      spark.readStream.schema(docs.schema).parquet(srcDir),
      s"$base/index", s"$base/gold", s"$base/chk").stop()
    assert(StoreCommit.read(spark, s"$base/gold").count() == before,
      "the duplicate of the crashed doc must be rejected")
    assert(!StoreCommit.read(spark, s"$base/gold")
      .filter(col("doc_id") === ids.max + 1).collect().nonEmpty)
  }

  test("streaming curation: exactly-once dispositions, parity with batch " +
      "pipeline outside the online-dedup delta") {
    import java.nio.file.{Files, Paths}
    val base = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_stream_cur"))
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val docs = Tables.documents(spark, sf)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    val bitmask = graft.ext.Curation.evalBitmask(spark, sf)

    def stageFile(part: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_cur_batch"))
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.streamingCurationSink(
        spark.readStream.schema(docs.schema).parquet(srcDir), bitmask,
        s"$base/index", s"$base/gold", s"$base/disp", s"$base/chk").stop()

    // two batches in doc_id order with a restart boundary between them
    stageFile(docs.filter(col("doc_id") <= cut), "b1.parquet")
    runOnce()
    stageFile(docs.filter(col("doc_id") > cut), "b2.parquet")
    runOnce()

    // exactly-once: every doc dispositioned exactly once
    val disp = spark.read.parquet(s"$base/disp")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(disp.length == ids.length, "one disposition row per document")
    assert(disp.map(_._1).distinct.length == disp.length)
    val dispMap = disp.toMap

    // accepted gold corpus == docs with a split disposition
    val gold = StoreCommit.read(spark, s"$base/gold")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val splits = Set("train", "validation", "test")
    assert(gold == dispMap.collect {
      case (id, d) if splits(d) => id }.toSet)

    // replayed batch after completion is a no-op (idempotent sink)
    stageFile(docs.filter(col("doc_id") > cut), "b2_replay.parquet")
    runOnce()
    assert(spark.read.parquet(s"$base/disp").count() == ids.length.toLong)
    assert(StoreCommit.read(spark, s"$base/gold").count() == gold.size.toLong)

    // parity with the batch pipeline everywhere the two tiers share
    // semantics: the dedup stages differ by design (global CC vs
    // greedy online first-arrival — the dedup_incremental contract),
    // so docs either tier calls duplicate/near_duplicate are the
    // documented delta; every other disposition must agree exactly.
    val batchD = graft.ext.Curation.curationPipeline(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val dedupClasses = Set("duplicate", "near_duplicate")
    ids.foreach { id =>
      if (!dedupClasses(batchD(id)) && !dedupClasses(dispMap(id)))
        assert(dispMap(id) == batchD(id),
          s"doc $id: stream ${dispMap(id)} vs batch ${batchD(id)}")
    }
    // the strictly per-doc classes agree as exact SETS
    Seq("eval_holdout", "short", "low_quality").foreach { c =>
      assert(dispMap.filter(_._2 == c).keySet ==
        batchD.filter(_._2 == c).keySet, s"class $c")
    }
  }

  test("curation disposition repair closes the gold-before-log crash window") {
    import java.nio.file.Files
    val base = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_cur_repair"))
    val accepted = Tables.documents(spark, sf).limit(20)
    StoreCommit.replace(s"$base/gold")(accepted.write.parquet(_))
    // crash before the disposition append: log dir empty
    EventStreams.repairCurationDispositions(spark, s"$base/gold", s"$base/disp")
    val repaired = spark.read.parquet(s"$base/disp")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = accepted.select(col("doc_id"),
        graft.ext.Curation.streamSplit(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(repaired == expected)
    // idempotent: a second repair appends nothing
    EventStreams.repairCurationDispositions(spark, s"$base/gold", s"$base/disp")
    assert(spark.read.parquet(s"$base/disp").count() == 20L)
  }

  test("stream-stream interval join matches the batch join") {
    val stream = EventStreams.eventsStream(spark, sf)
    val q = EventStreams.runToMemory(
      EventStreams.purchaseClickStreamJoin(stream), "ss_join_out", "append")
    try {
      val streamed = spark.table("ss_join_out").count()
      val e = Tables.events(spark, sf)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      val batch = p.join(c,
        col("p_user") === col("c_user")
          && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES")
          && col("click_ts") <= col("purchase_ts")).count()
      assert(streamed === batch)
      assert(batch > 0)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark collapses in-watermark duplicates " +
      "arriving in a later micro-batch") {
    import java.nio.file.Files
    val base = graft.ops.Scratch.dir("graft_wm_dedup")
    val srcDir = s"$base/src"
    // single file per write (coalesce(1)): with maxFilesPerTrigger=1
    // the file source replays exactly two micro-batches in mtime
    // order, so the duplicates genuinely arrive AFTER the state and
    // watermark from batch 1 are in place
    // session-zone TIMESTAMP: watermarks reject the batch loader's NTZ
    val sample = Tables.events(spark, sf)
      .withColumn("ts", col("ts").cast("timestamp"))
      .orderBy(col("ts")).limit(2000)
      .cache()
    val n = sample.count()
    sample.coalesce(1).write.mode("append").parquet(srcDir)
    Thread.sleep(1100) // distinct mtime: sample file processes first
    val dups = sample
      .join(sample.agg(max(col("ts")).as("mx")))
      .filter(col("ts") >= col("mx") - expr("INTERVAL 30 MINUTES"))
      .select(sample.columns.map(col): _*)
    val nDups = dups.count()
    assert(nDups > 0, "need duplicates inside the watermark horizon")
    dups.coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = EventStreams.runToMemory(
      EventStreams.dedupWithinWatermark(stream), "wm_dedup_out", "append")
    try {
      val out = spark.table("wm_dedup_out")
      assert(out.count() == n,
        s"expected the $nDups in-watermark duplicates suppressed")
      assert(out.select(col("event_id")).distinct().count() == n)
    } finally {
      q.stop()
      sample.unpersist()
    }
  }

  test("streaming drift monitor: artifact equals the full recompute " +
      "across micro-batches; replays and restarts are no-ops") {
    import java.nio.file.Files
    import graft.ext.Selection
    val base = graft.ops.Scratch.dir("graft_drift")
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") < 250)
      .coalesce(1).write.mode("append").parquet(s"$base/src")
    Thread.sleep(1100) // distinct mtime: deterministic batch order
    docs.filter(col("doc_id") >= 250)
      .coalesce(1).write.mode("append").parquet(s"$base/src")
    def stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
    val q = EventStreams.driftMonitorSink(stream, s"$base/counts",
      s"$base/ckpt")
    q.stop()
    def counts = StoreCommit
      .read(spark, Selection.tokenCountsRoot(s"$base/counts"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val expect = Selection.tokenCountsOn(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(counts == expect)
    val full = Selection.jsDivergence(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    val fromArtifact = Selection
      .jsDivergenceFromArtifact(spark, s"$base/counts").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(fromArtifact == full)
    // direct replay of an already-applied batch id: no-op, counts keep
    assert(!Selection.mergeTokenCountsArtifact(spark, s"$base/counts",
      docs.filter(col("doc_id") < 250), 1L))
    assert(counts == expect)
    // checkpoint restart with no new files: no-op
    val q2 = EventStreams.driftMonitorSink(stream, s"$base/counts",
      s"$base/ckpt")
    q2.stop()
    assert(counts == expect)
  }

  test("drift alerting: a synthetic drift batch trips the flag, normal " +
      "batches do not, and counts parity stays exact") {
    import java.nio.file.Files
    import graft.ext.Selection
    val base = graft.ops.Scratch.dir("graft_driftalert")
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") < 250)
      .coalesce(1).write.mode("append").parquet(s"$base/src")
    Thread.sleep(1100) // distinct mtime: deterministic batch order
    docs.filter(col("doc_id") >= 250)
      .coalesce(1).write.mode("append").parquet(s"$base/src")
    Thread.sleep(1100)
    // synthetic drift: one source re-emits with an ALIEN vocabulary —
    // its token distribution shares nothing with the trailing
    // artifact, so its JSD must approach the ln 2 ceiling
    val srcName = docs.select(col("source")).orderBy(col("source"))
      .head.getString(0)
    val drifted = docs.filter(col("doc_id") < 50)
      .withColumn("source", lit(srcName))
      .withColumn("text", lit(Seq.fill(20)("zzdrift qqalien wwnovel")
        .mkString(" ")))
    drifted.coalesce(1).write.mode("append").parquet(s"$base/src")
    def stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
    val q = EventStreams.driftMonitorSink(stream, s"$base/counts",
      s"$base/ckpt")
    q.stop()
    val alerts = EventStreams.driftAlerts(spark, s"$base/counts")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3),
        r.getBoolean(4)))
    info(s"alerts: ${alerts.mkString(", ")}")
    // batch 0 seeds the artifact (no trailing history — no alert rows)
    assert(!alerts.exists(_._1 == 0L))
    // batch 1 is the same corpus's second half: same generator, no
    // source may trip the threshold
    val normal = alerts.filter(_._1 == 1L)
    assert(normal.nonEmpty)
    assert(normal.forall(!_._4),
      s"no natural-drift batch may trip the flag: $normal")
    // batch 2 is the alien-vocabulary source: flag trips, and its
    // score dominates every natural score
    val tripped = alerts.filter(a => a._1 == 2L && a._2 == srcName)
    assert(tripped.length == 1 && tripped.head._4,
      s"synthetic drift must trip the flag: $tripped")
    assert(normal.forall(_._3 < tripped.head._3),
      "the drifted score must dominate every natural score")
    // parity through the alerting path: counts == artifact-free merge
    val counts = StoreCommit
      .read(spark, Selection.tokenCountsRoot(s"$base/counts"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val expect = Selection.mergeTokenCounts(
        Selection.tokenCountsOn(docs), drifted)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(counts == expect, "alerting must not perturb the counts")
    // replay guard (r13 — the round-12 review finding): a replay of a
    // batch the merge already applied must not RE-SCORE it against
    // the post-merge artifact, so the RAW alert log's row count stays
    // fixed (not merely deduped on read). Both replay shapes: a
    // same-checkpoint restart (no new files) and a FRESH checkpoint
    // (every batch replays from scratch).
    def rawAlertRows = spark.read
      .parquet(s"$base/counts/jsd_alerts.parquet").count()
    val rawBefore = rawAlertRows
    val q2 = EventStreams.driftMonitorSink(stream, s"$base/counts",
      s"$base/ckpt")
    q2.stop()
    val q3 = EventStreams.driftMonitorSink(stream, s"$base/counts",
      s"$base/ckpt_replay")
    q3.stop()
    assert(rawAlertRows == rawBefore,
      "replayed applied batches must not append re-scored alert rows")
    val countsAfter = StoreCommit
      .read(spark, Selection.tokenCountsRoot(s"$base/counts"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(countsAfter == expect, "replays must not perturb the counts")
  }

  test("sliding windows produce overlapping coverage") {
    val stream = EventStreams.eventsStream(spark, sf)
    val q = EventStreams.runToMemory(EventStreams.slidingCounts(stream),
      "sliding_out")
    try {
      val n = spark.table("sliding_out").count()
      val hours = spark.table("sliding_out")
        .select(countDistinct(col("window_start"))).head.getLong(0)
      assert(n > 0 && hours > 1)
    } finally q.stop()
  }

  test("streaming vector ingest: streamed codes == full re-encode, " +
      "replay no-op, ADC parity, compaction preserves the store") {
    import java.nio.file.{Files, Paths}
    import graft.ext.{KMeans, ProductQuant}
    val base = graft.ops.Scratch.dir("graft_vec_stream")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    val seed = e.filter(col("vec_id") <= c0)
    val b1 = e.filter(col("vec_id") > c0 && col("vec_id") <= c1)
    val b2 = e.filter(col("vec_id") > c1)
    // codebooks train ONCE on the base sample and stay frozen
    val coarse = KMeans.train(spark, sf)
    val rcbs = ProductQuant.residualCodebooks(spark, sf, coarse)
    def cast(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    StoreCommit.replace(s"$base/gold")(seed.write.parquet(_))
    StoreCommit.replace(s"$base/codes")(
      ProductQuant.encodeFrameResidual(cast(seed), coarse, rcbs)
        .write.partitionBy("cell").parquet(_))

    def stageFile(part: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_vec_batch"))
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.incrementalVectorIndexSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        coarse, rcbs, s"$base/codes", s"$base/gold", s"$base/chk").stop()

    stageFile(b1, "b1.parquet")
    runOnce()
    // restart boundary: second batch arrives while the query is down
    stageFile(b2, "b2.parquet")
    runOnce()

    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("label").cast("long"),
          col("cell").cast("int"),
          col("code0"), col("code1"), col("code2"), col("code3"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toSet
    val streamedGold = StoreCommit.read(spark, s"$base/gold")
    assert(streamedGold.count() == ids.length.toLong)
    val streamed = codeRows(StoreCommit.read(spark, s"$base/codes"))
    val full = codeRows(
      ProductQuant.encodeFrameResidual(cast(streamedGold), coarse, rcbs))
    assert(streamed == full,
      "streamed codes store must equal a full re-encode of gold")

    // a replayed batch is a no-op (idempotent sink)
    stageFile(b2, "b2_replay.parquet")
    runOnce()
    assert(codeRows(StoreCommit.read(spark, s"$base/codes")) == full)

    // ADC search served from the streamed store == from a fresh encode
    val (qid, qCell, dt) =
      ProductQuant.queryPrepResidual(spark, sf, coarse, rcbs)
    def top(codes: org.apache.spark.sql.DataFrame) =
      ProductQuant.adcOverCodes(
        codes.filter(col("cell") === qCell), dt, qid)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(top(StoreCommit.read(spark, s"$base/codes")) ==
      top(ProductQuant.encodeFrameResidual(cast(streamedGold), coarse, rcbs)))

    // compaction: a tiny threshold forces the rebuild; the store
    // shrinks toward one file per cell and content is unchanged
    val before = StoreCommit.fileCount(s"$base/codes")
    assert(ProductQuant.maybeCompactCodes(spark, s"$base/gold",
      s"$base/codes", coarse, rcbs, threshold = 1))
    val after = StoreCommit.fileCount(s"$base/codes")
    assert(after <= before && after <= coarse.size + 2,
      s"compaction should shrink toward one file per cell ($before -> $after)")
    assert(codeRows(StoreCommit.read(spark, s"$base/codes")) == full)
    // and below threshold it is a no-op
    assert(!ProductQuant.maybeCompactCodes(spark, s"$base/gold",
      s"$base/codes", coarse, rcbs, threshold = 10000))
  }

  test("vector sink crash between gold append and codes append: the " +
      "prologue repair re-encodes the crashed vectors") {
    import java.nio.file.{Files, Paths}
    import graft.ext.{KMeans, ProductQuant}
    val base = graft.ops.Scratch.dir("graft_vec_crash")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    val coarse = KMeans.train(spark, sf)
    val rcbs = ProductQuant.residualCodebooks(spark, sf, coarse)
    def cast(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val seed = e.filter(col("vec_id") <= c0)
    StoreCommit.replace(s"$base/gold")(seed.write.parquet(_))
    StoreCommit.replace(s"$base/codes")(
      ProductQuant.encodeFrameResidual(cast(seed), coarse, rcbs)
        .write.partitionBy("cell").parquet(_))
    // crash shape: b1's vectors reached gold, their codes never did,
    // the marker is down — the replay guard would drop them as
    // already-in-gold, so only the prologue repair can re-encode them
    StoreCommit.append(s"$base/gold")(
      e.filter(col("vec_id") > c0 && col("vec_id") <= c1)
        .write.mode("append").parquet(_))
    graft.ops.StoreFiles.deleteMarker(s"$base/gold", "_ids_synced")
    graft.ops.StoreFiles.deleteIdWatermark(s"$base/gold")
    // drive the next batch through the sink
    val b2 = e.filter(col("vec_id") > c1)
    val tmp = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_vec_crash_b"))
    b2.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.move(new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath,
      Paths.get(srcDir, "b2.parquet"))
    EventStreams.incrementalVectorIndexSink(
      spark.readStream.schema(e.schema).parquet(srcDir),
      coarse, rcbs, s"$base/codes", s"$base/gold", s"$base/chk").stop()
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("int"),
          col("code0"), col("code1"))
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getInt(2), r.getInt(3))).toSet
    val full = codeRows(ProductQuant.encodeFrameResidual(
      cast(StoreCommit.read(spark, s"$base/gold")), coarse, rcbs))
    assert(codeRows(StoreCommit.read(spark, s"$base/codes")) == full,
      "the codes store must include the crashed batch's re-encoded rows")
  }

  test("semantic sink crash between cells append and verdict append: " +
      "the prologue repair re-derives the missing verdicts") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Dedup
    val base = graft.ops.Scratch.dir("graft_sem_crash")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsDir = s"$base/cells"; val verdictsDir = s"$base/verdicts"
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    val goldVecs = graft.ext.KMeans.vecs(spark, sf)
      .filter(col("vec_id") <= c0)
    val (coarse, subs) = Dedup.trainSemanticQuantizers(goldVecs, Dedup.SubK)
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_semc_batch"))
      e.filter(col("vec_id") > lo && col("vec_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.move(new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
        Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.semanticDedupSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        coarse, subs, Dedup.SubK,
        cellsDir, verdictsDir, s"$base/chk").stop()
    // healthy seed batch through the sink
    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    // crash shape: b1's assigned cells reached the store, their
    // verdicts never did, the marker is down
    val b1Assigned = Dedup.assignSemanticCells(
      graft.ext.KMeans.vecs(spark, sf)
        .filter(col("vec_id") > c0 && col("vec_id") <= c1),
      coarse, subs, Dedup.SubK).localCheckpoint()
    StoreCommit.append(cellsDir)(
      b1Assigned.write.mode("append").partitionBy("cell").parquet(_))
    graft.ops.StoreFiles.deleteMarker(cellsDir, "_ids_synced")
    graft.ops.StoreFiles.deleteIdWatermark(cellsDir)
    // next batch through the sink: the prologue repair must backfill
    // b1's verdicts BEFORE b2 lands (so their currency matches the
    // crash-free run's)
    stageFile(c1, Long.MaxValue, "b2.parquet"); runOnce()
    val stored = StoreCommit.read(spark, cellsDir)
    val verdicts = StoreCommit.read(spark, verdictsDir)
    assert(verdicts.count() == stored.count(),
      "every stored vector must have a verdict row")
    assert(verdicts.select("vec_id").distinct().count() == stored.count(),
      "exactly one verdict per vector")
    // the crashed rows' verdicts equal the crash-free judgement:
    // b1 judged against the b0+b1 store (repair runs before b2 lands)
    def vRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("is_dup"), col("dup_of"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val storeB0B1 = Dedup.assignSemanticCells(
      graft.ext.KMeans.vecs(spark, sf).filter(col("vec_id") <= c1),
      coarse, subs, Dedup.SubK)
    val expect = vRows(Dedup.batchSemanticDups(storeB0B1, b1Assigned))
    assert(vRows(verdicts.filter(col("vec_id") > c0
      && col("vec_id") <= c1)) == expect,
      "repaired verdicts must equal the crash-free judgement")
  }

  test("streaming SemDeDup sink: accumulated cells equal the one-shot " +
      "assignment, the verdict log equals the full-store recompute, " +
      "replays no-op, and the crash-window repair is exact") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Dedup
    val base = graft.ops.Scratch.dir("graft_sem_stream")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsDir = s"$base/cells"; val verdictsDir = s"$base/verdicts"
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    // quantizers FREEZE on the gold prefix (the production ordering:
    // trained before the appended batches exist)
    val gold = graft.ext.KMeans.vecs(spark, sf)
      .filter(col("vec_id") <= c0)
    val (coarse, subs) = Dedup.trainSemanticQuantizers(gold, Dedup.SubK)

    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_sem_batch"))
      e.filter(col("vec_id") > lo && col("vec_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.semanticDedupSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        coarse, subs, Dedup.SubK,
        cellsDir, verdictsDir, s"$base/chk").stop()

    // batches arrive in increasing vec_id order (ingest-assigned ids —
    // the verdict-currency contract); the first SEEDS the empty store
    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    stageFile(c0, c1, "b1.parquet"); runOnce()
    stageFile(c1, Long.MaxValue, "b2.parquet"); runOnce()

    def cellRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("int"), col("v"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2))).toSet
    val store = StoreCommit.read(spark, cellsDir)
    assert(store.count() == ids.length.toLong)
    val oneShot = Dedup.assignSemanticCells(
      graft.ext.KMeans.vecs(spark, sf), coarse, subs, Dedup.SubK)
    assert(cellRows(store) == cellRows(oneShot),
      "streamed cells store must equal the one-shot assignment")

    def verdictRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("int"), col("is_dup"),
          col("dup_of"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val full = verdictRows(Dedup.semanticDedupFromCells(spark, StoreCommit.readDir(cellsDir)))
    val logged = verdictRows(StoreCommit.read(spark, verdictsDir))
    assert(logged == full,
      "accumulated verdict log must equal the full-store recompute")
    assert(full.exists(_._3), "stream should surface semantic dups")

    // a replayed batch is a no-op (idempotent sink) — counts too, so
    // a double-append can't hide behind the set compare
    stageFile(c1, Long.MaxValue, "b2_replay.parquet"); runOnce()
    assert(StoreCommit.read(spark, cellsDir).count() == ids.length.toLong)
    assert(StoreCommit.read(spark, verdictsDir).count() == ids.length.toLong)
    assert(cellRows(StoreCommit.read(spark, cellsDir)) == cellRows(oneShot))
    assert(verdictRows(StoreCommit.read(spark, verdictsDir)) == full)

    // crash window: verdicts lost after the cells append — the repair
    // re-derives them from the store, exactly
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      p.delete(); ()
    }
    rmrf(new java.io.File(verdictsDir))
    EventStreams.repairSemanticVerdicts(spark, cellsDir, verdictsDir)
    assert(verdictRows(StoreCommit.read(spark, verdictsDir)) == full,
      "repaired verdict log diverges from the crash-free one")
    // and on an intact log the repair appends nothing
    EventStreams.repairSemanticVerdicts(spark, cellsDir, verdictsDir)
    assert(verdictRows(StoreCommit.read(spark, verdictsDir)) == full)

    // compaction policy: the floor is 2× the cell count (one file
    // per cell is the store's NATURAL layout — a flat threshold
    // below it caused a full rewrite on every append, measured in
    // StreamScaleUp), so a near-floor store is a no-op even at
    // threshold 1 …
    val nCells = oneShot.select(col("cell")).distinct().count()
    if (StoreCommit.fileCount(cellsDir) <= 2 * nCells)
      assert(!Dedup.maybeCompactSemanticCells(spark, cellsDir,
        threshold = 1))
    // … and a genuinely fragmented store (forced: many files per
    // cell) rewrites back toward one file per cell, content unchanged
    val frag = StoreCommit.read(spark, cellsDir)
      .select(col("vec_id"), col("v"), col("cell").cast("int").as("cell"))
      .repartition(8).localCheckpoint()
    StoreCommit.replace(cellsDir)(frag.write.partitionBy("cell").parquet(_))
    val before = StoreCommit.fileCount(cellsDir)
    assert(before > 2 * nCells, s"fragmentation setup too weak: $before")
    assert(Dedup.maybeCompactSemanticCells(spark, cellsDir, threshold = 1))
    val after = StoreCommit.fileCount(cellsDir)
    assert(after <= before && after <= nCells + 2,
      s"compaction should shrink toward one file per cell ($before -> $after)")
    assert(cellRows(StoreCommit.read(spark, cellsDir)) == cellRows(oneShot))
    assert(!Dedup.maybeCompactSemanticCells(spark, cellsDir,
      threshold = 10000))
  }

  test("streaming lexical-index sink: the accumulated store answers " +
      "exactly like the live batch form, replays no-op, and the meta " +
      "repair is exact") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Retrieval
    val base = graft.ops.Scratch.dir("graft_bm25_stream")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val store = s"$base/ix"
    val d = Tables.documents(spark, sf)
    val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length / 3); val c1 = ids(ids.length * 2 / 3)

    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_bm25_batch"))
      d.filter(col("doc_id") > lo && col("doc_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.lexicalIndexSink(
        spark.readStream.schema(d.schema).parquet(srcDir),
        store, s"$base/chk").stop()

    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    stageFile(c0, c1, "b1.parquet"); runOnce()
    stageFile(c1, Long.MaxValue, "b2.parquet"); runOnce()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val live = rows(Retrieval.bm25Batch(spark, sf))
    val streamed = rows(Retrieval.bm25BatchFromIndex(spark, sf, store))
    assert(live.nonEmpty && streamed == live,
      "stream-accumulated index must answer like the live batch form")

    // meta carries the EXACT merged integers
    val meta = StoreCommit.read(spark, s"$store/meta").head()
    val wantDocs = d.filter(length(trim(col("text"))) > 0).count()
    assert(meta.getLong(0) == wantDocs)

    // the happy path leaves the recovery gate armed (one existence
    // probe per steady-state batch, not an O(doc_ids) scan)
    assert(graft.ops.StoreFiles.markerExists(store, "_committed_synced"))

    // a replayed batch is a no-op (idempotent sink) — postings count
    // too, so a double-append can't hide behind the score compare
    val nPostings = StoreCommit.read(spark, s"$store/postings").count()
    stageFile(c1, Long.MaxValue, "b2_replay.parquet"); runOnce()
    assert(StoreCommit.read(spark, s"$store/postings").count() == nPostings)
    assert(StoreCommit.read(spark, s"$store/meta").head().getLong(0)
      == wantDocs)
    assert(rows(Retrieval.bm25BatchFromIndex(spark, sf, store)) == live)

    // crash window: meta lost after the postings append — the repair
    // re-derives it from the store, exactly
    val sumDl = meta.getLong(1)
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      p.delete(); ()
    }
    rmrf(new java.io.File(s"$store/meta"))
    EventStreams.repairBm25Meta(spark, store)
    val repaired = StoreCommit.read(spark, s"$store/meta").head()
    assert(repaired.getLong(0) == wantDocs &&
      repaired.getLong(1) == sumDl,
      "repaired meta diverges from the crash-free one")

    // compaction: no-op at the 2×-bucket floor; a forced-fragmented
    // store rewrites toward one file per bucket, answers unchanged
    val nBuckets = StoreCommit.read(spark, s"$store/postings")
      .select(col("tbucket")).distinct().count().toInt
    if (StoreCommit.fileCount(s"$store/postings")
        <= 2 * nBuckets)
      assert(!Retrieval.maybeCompactPostings(spark, store,
        threshold = 1))
    val frag = StoreCommit.read(spark, s"$store/postings")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"),
        col("tbucket").cast("int").as("tbucket"))
      .repartition(8).localCheckpoint()
    StoreCommit.replace(s"$store/postings")(
      frag.write.partitionBy("tbucket").parquet(_))
    val before = StoreCommit.fileCount(s"$store/postings")
    assert(before > 2 * nBuckets, s"fragmentation setup too weak: $before")
    assert(Retrieval.maybeCompactPostings(spark, store, threshold = 1))
    val after = StoreCommit.fileCount(s"$store/postings")
    assert(after <= before && after <= nBuckets + 2,
      s"compaction should shrink toward one file per bucket " +
        s"($before -> $after)")
    assert(rows(Retrieval.bm25BatchFromIndex(spark, sf, store)) == live)
  }

  test("streaming knn-edges sink: the accumulated edges store equals " +
      "the one-shot build, replays no-op, and the stale-partition " +
      "repair is exact") {
    import java.nio.file.{Files, Paths}
    import graft.ext.{ClusterOps, KMeans}
    val base = graft.ops.Scratch.dir("graft_knn_stream")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsDir = s"$base/cells"; val edgesDir = s"$base/edges"
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    // quantizer FREEZES on the gold prefix (trained before the
    // appended batches exist — the artifact-sink contract)
    val cents = KMeans.trainFrame(
      KMeans.vecs(spark, sf).filter(col("vec_id") <= c0)
        .select(col("vec_id"), col("v")), KMeans.K)

    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_knn_batch"))
      e.filter(col("vec_id") > lo && col("vec_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        graft.functions.NearestCentroid(col("v"), cents.map(_._2))
          .as("cell"), col("v"))
    def runOnce(): Unit =
      EventStreams.knnEdgesSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        assign, cellsDir, edgesDir, s"$base/chk").stop()

    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    stageFile(c0, c1, "b1.parquet"); runOnce()
    stageFile(c1, Long.MaxValue, "b2.parquet"); runOnce()

    def edgeRows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("rk").cast("int"), col("nbr_id"),
        col("cosine"), col("cell").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    // one-shot gold standard: the full corpus assigned under the SAME
    // frozen quantizer, edges built in one batch
    val oneShotDir = s"$base/oneshot"
    ClusterOps.writeKnnEdges(
      KMeans.vecs(spark, sf).select(col("vec_id"),
        graft.functions.NearestCentroid(col("v"), cents.map(_._2))
          .as("cell"), col("v")),
      oneShotDir)
    val want = edgeRows(oneShotDir)
    assert(want.nonEmpty && edgeRows(edgesDir) == want,
      "stream-accumulated edges must equal the one-shot build")

    // a replayed batch is a no-op
    stageFile(c1, Long.MaxValue, "b2_replay.parquet"); runOnce()
    assert(edgeRows(edgesDir) == want)

    // crash-window repair: lose one multi-member cell's edge
    // partition; the next repair recomputes exactly it
    val victim = spark.read.parquet(edgesDir)
      .groupBy(col("cell")).count().orderBy(col("count").desc)
      .head().getAs[Any]("cell").toString
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      p.delete(); ()
    }
    rmrf(new java.io.File(s"$edgesDir/cell=$victim"))
    assert(edgeRows(edgesDir) != want, "victim partition should be gone")
    assert(ClusterOps.repairKnnEdges(spark, cellsDir, edgesDir) >= 1)
    assert(edgeRows(edgesDir) == want,
      "repair must restore the lost partition exactly")
    // a consistent store repairs as a no-op
    assert(ClusterOps.repairKnnEdges(spark, cellsDir, edgesDir) == 0)
  }

  test("torn lexical append: posted-but-uncommitted postings rows are " +
      "removed by recovery, meta stays exact, and the doc completes " +
      "on re-append instead of being treated as seen") {
    import java.nio.file.Files
    import graft.ext.Retrieval
    val store = graft.ops.Scratch.dir("graft_bm25_torn") + "/ix"
    val td = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.ext.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    val lastId = td.agg(max(col("doc_id"))).head().getLong(0)
    Retrieval.writeBm25Index(td.filter(col("doc_id") =!= lastId), store)
    val meta0 = StoreCommit.read(spark, s"$store/meta").head()

    // torn append: HALF of the last doc's term rows land in the
    // committed postings, neither meta nor the committed log is
    // written (a crash between the postings append and the log)
    val lastPost = Retrieval.postingsOf(td.filter(col("doc_id") === lastId))
    val nTerms = lastPost.count()
    assert(nTerms >= 2, "fixture doc too short to tear")
    StoreCommit.append(s"$store/postings")(
      lastPost.filter(pmod(hash(col("term")), lit(2)) === 0)
        .write.mode("append").partitionBy("tbucket").parquet(_))
    assert(StoreCommit.read(spark, s"$store/postings")
      .filter(col("doc_id") === lastId).count() > 0)

    // recovery: the uncommitted doc's rows are removed entirely and
    // meta re-derives to the pre-crash integers
    assert(Retrieval.recoverBm25Store(spark, store),
      "recovery must detect the torn doc")
    assert(StoreCommit.read(spark, s"$store/postings")
      .filter(col("doc_id") === lastId).count() == 0)
    val metaR = StoreCommit.read(spark, s"$store/meta").head()
    assert(metaR.getLong(0) == meta0.getLong(0) &&
      metaR.getLong(1) == meta0.getLong(1))
    // a consistent store recovers as a no-op
    assert(!Retrieval.recoverBm25Store(spark, store))

    // the replay now re-appends the doc FULLY — the store ends equal
    // to the one-shot rebuild on the whole corpus (the old
    // part-file-presence guard would have dropped it forever)
    Retrieval.appendBm25Index(spark,
      td.filter(col("doc_id") === lastId), store)
    assert(StoreCommit.read(spark, s"$store/postings")
      .filter(col("doc_id") === lastId).count() == nTerms)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(rows(Retrieval.bm25BatchFromIndex(spark, sf, store)) ==
      rows(Retrieval.bm25Batch(spark, sf)))
  }

  test("a committed store with NO committed log bootstraps the log " +
      "from the live postings (pre-protocol store), while a torn " +
      "seed without a manifest still wipes") {
    import java.nio.file.Files
    import graft.ext.Retrieval
    val store = graft.ops.Scratch.dir("graft_bm25_boot") + "/ix"
    val td = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.ext.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    Retrieval.writeBm25Index(td, store)
    val nPost = StoreCommit.read(spark, s"$store/postings").count()
    val meta0 = StoreCommit.read(spark, s"$store/meta").head()
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      p.delete(); ()
    }
    // a store seeded OUTSIDE the sink protocol: postings + meta, no
    // committed log (the round-14 ADVICE shape — a cached pre-log
    // index). Recovery must BOOTSTRAP, not classify everything torn.
    rmrf(new java.io.File(Retrieval.committedDir(store)))
    assert(Retrieval.recoverBm25Store(spark, store),
      "bootstrapping the missing log is a repair")
    assert(StoreCommit.read(spark, s"$store/postings").count() == nPost,
      "bootstrap must not touch the postings")
    val committedSet = StoreCommit.read(spark, Retrieval.committedDir(store))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val postedSet = StoreCommit.read(spark, s"$store/postings")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(committedSet == postedSet,
      "bootstrapped log must equal the posted doc set")
    val metaB = StoreCommit.read(spark, s"$store/meta").head()
    assert(metaB.getLong(0) == meta0.getLong(0) &&
      metaB.getLong(1) == meta0.getLong(1))
    assert(!Retrieval.recoverBm25Store(spark, store),
      "a bootstrapped store recovers as a no-op")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(rows(Retrieval.bm25BatchFromIndex(spark, sf, store)) ==
      rows(Retrieval.bm25Batch(spark, sf)))

    // the torn-seed shape: no committed log, no CURRENT and no
    // _MANIFEST (the postings version never completed, so it was
    // never committed) — the commit protocol's recovery removes it
    // rather than committing torn rows
    rmrf(new java.io.File(Retrieval.committedDir(store)))
    new java.io.File(
      s"${StoreCommit.readDir(s"$store/postings")}/${StoreCommit.ManifestName}")
      .delete()
    new java.io.File(s"$store/postings/CURRENT").delete()
    Retrieval.recoverBm25Store(spark, store)
    // the wiped store holds no part files (an empty dir — unreadable
    // as parquet by design; the sink's seeded probe counts files)
    assert(graft.ops.StoreFiles.parquetFileCount(s"$store/postings") == 0,
      "a torn seed must be removed, not committed")
  }

  test("broken meta self-heals on recovery even when no postings are " +
      "torn (the crash-inside-a-meta-rewrite window)") {
    import java.nio.file.Files
    import graft.ext.Retrieval
    val store = graft.ops.Scratch.dir("graft_bm25_meta") + "/ix"
    val td = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.ext.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    Retrieval.writeBm25Index(td, store)
    val meta0 = StoreCommit.read(spark, s"$store/meta").head()
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      p.delete(); ()
    }
    // crash landed INSIDE a meta rewrite: postings and committed are
    // consistent (no torn docs), meta is gone — the round-14 ADVICE
    // window the old torn.isEmpty early-return skipped forever
    rmrf(new java.io.File(s"$store/meta"))
    assert(Retrieval.recoverBm25Store(spark, store),
      "recovery must detect and re-derive broken meta")
    val metaR = StoreCommit.read(spark, s"$store/meta").head()
    assert(metaR.getLong(0) == meta0.getLong(0) &&
      metaR.getLong(1) == meta0.getLong(1),
      "re-derived meta must equal the crash-free integers")
    assert(!Retrieval.recoverBm25Store(spark, store))
  }

  test("a swap crash with the sync marker PRESENT heals at the next " +
      "lexical sink batch instead of overwrite-seeding the store") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Retrieval
    val base = graft.ops.Scratch.dir("graft_bm25_swapcrash")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val store = s"$base/ix"
    val d = Tables.documents(spark, sf)
    val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 2 / 3)
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_bm25_batch"))
      d.filter(col("doc_id") > lo && col("doc_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.lexicalIndexSink(
        spark.readStream.schema(d.schema).parquet(srcDir),
        store, s"$base/chk").stop()
    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    val nPost0 = StoreCommit.read(spark, s"$store/postings").count()
    assert(graft.ops.StoreFiles.markerExists(store, "_committed_synced"))
    // compaction runs AFTER the marker is re-created, so a crash
    // inside its replace (an incomplete version staged above the
    // committed one, the pointer torn mid-replace) leaves the marker
    // present. The marker-gated recovery alone would then skip it.
    val pRoot = s"$store/postings"
    Files.createDirectories(Paths.get(pRoot, "v_00000099"))
    Files.write(Paths.get(pRoot, "v_00000099", "part-junk.parquet"),
      Array[Byte](1, 2, 3))
    Files.writeString(Paths.get(pRoot, "CURRENT"), "v_0000")
    stageFile(c0, Long.MaxValue, "b1.parquet"); runOnce()
    // the unconditional batch-start recover rolled the pointer
    // forward to the last complete version and dropped the orphan,
    // so the store now holds BOTH batches — equal to the live answer
    assert(!Files.exists(Paths.get(pRoot, "v_00000099")))
    assert(StoreCommit.read(spark, s"$store/postings").count() > nPost0,
      "store must retain the pre-crash batch after the swap recovery")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(rows(Retrieval.bm25BatchFromIndex(spark, sf, store)) ==
      rows(Retrieval.bm25Batch(spark, sf)))
  }

  test("knn-edges repair detects and removes a debris partition whose " +
      "cell is absent from the cells store") {
    import java.nio.file.Files
    import graft.ext.{ClusterOps, KMeans}
    val base = graft.ops.Scratch.dir("graft_knn_debris")
    val cellsDir = s"$base/cells"; val edgesDir = s"$base/edges"
    val cents = KMeans.train(spark, sf)
    val cells = KMeans.vecs(spark, sf).select(col("vec_id"),
      KMeans.assignOn(col("v"), cents).as("cell"), col("v"))
    StoreCommit.replace(cellsDir)(
      cells.write.partitionBy("cell").parquet(_))
    ClusterOps.writeKnnEdges(cells, edgesDir)
    def edgeRows() = spark.read.parquet(edgesDir)
      .select(col("vec_id"), col("rk").cast("int"), col("nbr_id"),
        col("cosine"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val want = edgeRows()
    assert(ClusterOps.repairKnnEdges(spark, cellsDir, edgesDir) == 0)
    // debris of a torn dynamic overwrite: an edge partition for a
    // cell id NO live cell has (round-14 ADVICE: the old left join
    // could never see it, so it survived every repair)
    spark.read.parquet(edgesDir).limit(3)
      .withColumn("cell", lit(9999))
      .write.mode("append").partitionBy("cell").parquet(edgesDir)
    assert(edgeRows() != want, "debris setup failed")
    assert(ClusterOps.repairKnnEdges(spark, cellsDir, edgesDir) >= 1,
      "the debris cell must be detected as stale")
    assert(edgeRows() == want,
      "repair must remove the debris partition exactly")
    assert(!new java.io.File(s"$edgesDir/cell=9999").exists())
    assert(ClusterOps.repairKnnEdges(spark, cellsDir, edgesDir) == 0)
  }

  test("streaming communities: the labels artifact accumulated by the " +
      "graph sink equals the one-shot rebuild, and the label repair " +
      "restores a lost partition exactly") {
    import java.nio.file.{Files, Paths}
    import graft.ext.{ClusterOps, KMeans}
    val base = graft.ops.Scratch.dir("graft_comm_stream")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsDir = s"$base/cells"; val edgesDir = s"$base/edges"
    val labelsDir = s"$base/labels"
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    val cents = KMeans.trainFrame(
      KMeans.vecs(spark, sf).filter(col("vec_id") <= c0)
        .select(col("vec_id"), col("v")), KMeans.K)
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_comm_batch"))
      e.filter(col("vec_id") > lo && col("vec_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        graft.functions.NearestCentroid(col("v"), cents.map(_._2))
          .as("cell"), col("v"))
    def runOnce(): Unit =
      EventStreams.knnGraphSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        assign, cellsDir, edgesDir, Some(labelsDir),
        s"$base/chk").stop()
    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    stageFile(c0, c1, "b1.parquet"); runOnce()
    stageFile(c1, Long.MaxValue, "b2.parquet"); runOnce()
    def labelRows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("community_id"),
        col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    // one-shot rebuild: full corpus under the SAME frozen quantizer
    val oneShotDir = s"$base/labels_oneshot"
    ClusterOps.writeKnnCommunityLabels(
      assign(KMeans.vecs(spark, sf).select(col("vec_id"), col("v"))),
      oneShotDir)
    val want = labelRows(oneShotDir)
    assert(want.nonEmpty && labelRows(labelsDir) == want,
      "stream-accumulated labels must equal the one-shot rebuild")
    // a replayed batch is a no-op
    stageFile(c1, Long.MaxValue, "b2_replay.parquet"); runOnce()
    assert(labelRows(labelsDir) == want)
    // crash-window repair: lose one multi-member cell's labels
    // partition; the repair relabels exactly it
    val victim = spark.read.parquet(labelsDir)
      .groupBy(col("cell")).count().orderBy(col("count").desc)
      .head().getAs[Any]("cell").toString
    graft.ops.StoreFiles.deleteDir(s"$labelsDir/cell=$victim")
    assert(labelRows(labelsDir) != want, "victim partition should be gone")
    assert(ClusterOps.repairKnnCommunityLabels(spark, cellsDir,
      labelsDir) >= 1)
    assert(labelRows(labelsDir) == want,
      "label repair must restore the lost partition exactly")
    assert(ClusterOps.repairKnnCommunityLabels(spark, cellsDir,
      labelsDir) == 0)
  }

  test("adding a labels dir to an established graph sink seeds EVERY " +
      "stored cell, not just the adopting batch's") {
    import java.nio.file.{Files, Paths}
    import graft.ext.{ClusterOps, KMeans}
    val base = graft.ops.Scratch.dir("graft_comm_adopt")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsDir = s"$base/cells"; val edgesDir = s"$base/edges"
    val labelsDir = s"$base/labels"
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 4 / 5)
    val cents = KMeans.trainFrame(
      KMeans.vecs(spark, sf).filter(col("vec_id") <= c0)
        .select(col("vec_id"), col("v")), KMeans.K)
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_comm_adopt_batch"))
      e.filter(col("vec_id") > lo && col("vec_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        graft.functions.NearestCentroid(col("v"), cents.map(_._2))
          .as("cell"), col("v"))
    def runOnce(labels: Option[String]): Unit =
      EventStreams.knnGraphSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        assign, cellsDir, edgesDir, labels, s"$base/chk").stop()
    // phase 1: edges-only operation fills the cells store broadly
    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce(None)
    // phase 2: the operator turns labels on; the adopting batch
    // touches only the tail slice's cells
    stageFile(c0, Long.MaxValue, "b1.parquet"); runOnce(Some(labelsDir))
    def labelRows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("community_id"),
        col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val oneShotDir = s"$base/labels_oneshot"
    ClusterOps.writeKnnCommunityLabels(
      assign(KMeans.vecs(spark, sf).select(col("vec_id"), col("v"))),
      oneShotDir)
    assert(labelRows(labelsDir) == labelRows(oneShotDir),
      "the labels seed must cover every stored cell, not the " +
        "adopting batch's pruned read")
  }

  // ---- streaming cluster-card sink (round-15) -------------------

  /** Shared fixture of the card-sink tests: the embeddings↔documents
    * join with the card's measure columns, a frozen quantizer trained
    * on the low-id gold slice, and the sink's `assign` closure. */
  private def cardFixture(): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, Long, Long) = {
    import graft.ext.KMeans
    val e = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(graft.ext.TextOps.tokens(col("text"))).cast("long")
          .as("n_tokens"))
    val jAll = e.join(docs, e("vec_id") === docs("doc_id"))
      .select(col("doc_id"), col("embedding"), e("label"),
        col("source"), col("n_tokens"))
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    val cents = KMeans.trainFrame(
      KMeans.vecs(spark, sf).filter(col("vec_id") <= c0)
        .select(col("vec_id"), col("v")), KMeans.K)
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.functions.NearestCentroid(
          col("embedding").cast("array<double>"), cents.map(_._2))
          .as("cluster"),
        col("label"), col("source"), col("n_tokens"))
    (jAll, assign, c0, c1)
  }

  private def cardRows(aggDir: String) =
    graft.ext.ClusterOps.clusterCardFromAgg(spark, aggDir)
      .collect().map(_.toSeq).toSeq

  private def storeCardRows(root: String) =
    graft.ext.ClusterOps.clusterCardFromStore(spark, root)
      .collect().map(_.toSeq).toSeq

  test("streaming card sink: the atomically-committed card store " +
      "equals the one-shot rebuild through a replay, staged debris, " +
      "and a renamed-aside live store") {
    import java.nio.file.{Files, Paths}
    val base = graft.ops.Scratch.dir("graft_card_stream")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val aggDir = s"$base/agg"
    val (jAll, assign, c0, c1) = cardFixture()
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_card_batch"))
      jAll.filter(col("doc_id") > lo && col("doc_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.clusterCardSink(
        spark.readStream.schema(jAll.schema).parquet(srcDir),
        assign, aggDir, s"$base/chk").stop()
    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    // abandoned-staging debris: a half-written version (no _MANIFEST)
    // must be swept by recovery, not block or corrupt the next fold
    Files.createDirectories(Paths.get(s"$aggDir/v_00000050"))
    Files.write(Paths.get(s"$aggDir/v_00000050/junk"),
      Array[Byte](1, 2, 3))
    stageFile(c0, c1, "b1.parquet"); runOnce()
    // crash inside the pointer replace, between its delete and its
    // rename: the live store's pointer sits aside as CURRENT.tmp —
    // recovery rolls forward to the last complete version, and
    // because the watermark lives INSIDE the version it moves WITH
    // the store, so the two can never disagree
    Files.move(Paths.get(s"$aggDir/CURRENT"),
      Paths.get(s"$aggDir/CURRENT.tmp"))
    stageFile(c1, Long.MaxValue, "b2.parquet"); runOnce()
    val oneShotDir = s"$base/agg_oneshot"
    graft.ext.ClusterOps.writeClusterCardAgg(assign(jAll), oneShotDir)
    val want = cardRows(oneShotDir)
    assert(want.nonEmpty && storeCardRows(aggDir) == want,
      "stream-accumulated card must equal the one-shot rebuild")
    // a replayed batch drops in full on the committed watermark (a
    // double-fold would double-count — the non-idempotence the atomic
    // commit exists to contain)
    stageFile(c1, Long.MaxValue, "b2_replay.parquet"); runOnce()
    assert(storeCardRows(aggDir) == want,
      "a replayed batch must be a no-op")
    val maxId = jAll.agg(max(col("doc_id"))).head().getLong(0)
    assert(graft.ops.StoreFiles.readIdWatermark(StoreCommit.readDir(aggDir))
        .contains(maxId),
      "the watermark must have committed atomically with the fold")
  }

  test("the card sink's pointer-commit mode accumulates the same " +
      "card as the rebuild through orphan-version and torn-pointer " +
      "crashes, and a replayed batch is a no-op") {
    import java.nio.file.{Files, Paths}
    val base = graft.ops.Scratch.dir("graft_card_ptr_stream")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val aggDir = s"$base/agg"
    val (jAll, assign, c0, c1) = cardFixture()
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_card_ptr_batch"))
      jAll.filter(col("doc_id") > lo && col("doc_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.clusterCardSink(
        spark.readStream.schema(jAll.schema).parquet(srcDir),
        assign, aggDir, s"$base/chk").stop()
    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    // crash mid-version-write: an incomplete orphan above the
    // committed version must be swept, never read
    Files.createDirectories(Paths.get(s"$aggDir/v_00000002"))
    Files.write(Paths.get(s"$aggDir/v_00000002/junk"),
      Array[Byte](1, 2, 3))
    stageFile(c0, c1, "b1.parquet"); runOnce()
    // crash inside the pointer replace: torn content rolls forward to
    // the highest complete version (the commit that was in flight)
    Files.write(Paths.get(s"$aggDir/CURRENT"),
      "v_0000".getBytes("UTF-8"))
    stageFile(c1, Long.MaxValue, "b2.parquet"); runOnce()
    val oneShotDir = s"$base/agg_oneshot"
    graft.ext.ClusterOps.writeClusterCardAgg(assign(jAll), oneShotDir)
    val want = cardRows(oneShotDir)
    assert(want.nonEmpty && storeCardRows(aggDir) == want,
      "pointer-committed stream card must equal the one-shot rebuild")
    // a replayed batch drops in full on the committed watermark
    stageFile(c1, Long.MaxValue, "b2_replay.parquet"); runOnce()
    assert(storeCardRows(aggDir) == want)
    val maxId = jAll.agg(max(col("doc_id"))).head().getLong(0)
    assert(graft.ops.StoreFiles
        .readIdWatermark(StoreCommit.readDir(aggDir))
        .contains(maxId),
      "the watermark must ride the committed version dir")
  }

  test("the card sink refuses a foreign store with no watermark, and " +
      "adopts it once one is set") {
    import java.nio.file.{Files, Paths}
    val base = graft.ops.Scratch.dir("graft_card_adopt")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val aggDir = s"$base/agg"
    val (jAll, assign, _, c1) = cardFixture()
    // a store seeded OUTSIDE the sink: batch API, no watermark
    StoreCommit.replace(aggDir)(graft.ext.ClusterOps.writeClusterCardAgg(
      assign(jAll.filter(col("doc_id") <= c1)), _))
    val tmp = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_card_adopt_batch"))
    jAll.filter(col("doc_id") > c1)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.move(
      new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      Paths.get(srcDir, "b.parquet"))
    def runOnce(): Unit =
      EventStreams.clusterCardSink(
        spark.readStream.schema(jAll.schema).parquet(srcDir),
        assign, aggDir, s"$base/chk").stop()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    assert(ex.getMessage.contains("replay watermark") ||
      Option(ex.getCause).exists(_.getMessage.contains("replay watermark")),
      s"must refuse loudly, got: ${ex.getMessage}")
    // adoption: the operator asserts the store's max folded id in
    // the committed version
    graft.ops.StoreFiles.writeIdWatermark(StoreCommit.readDir(aggDir), c1)
    runOnce()
    val oneShotDir = s"$base/agg_oneshot"
    graft.ext.ClusterOps.writeClusterCardAgg(assign(jAll), oneShotDir)
    assert(storeCardRows(aggDir) == cardRows(oneShotDir),
      "the adopted store must fold the batch exactly once")
  }

  test("a cells-store swap crash heals at the next knn sink batch " +
      "(compaction rides the rename-aside, the sink recovers it)") {
    import java.nio.file.{Files, Paths}
    import graft.ext.KMeans
    val base = graft.ops.Scratch.dir("graft_knn_swapcrash")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsDir = s"$base/cells"; val edgesDir = s"$base/edges"
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 2 / 3)
    val cents = KMeans.trainFrame(
      KMeans.vecs(spark, sf).filter(col("vec_id") <= c0)
        .select(col("vec_id"), col("v")), KMeans.K)
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_knn_batch"))
      e.filter(col("vec_id") > lo && col("vec_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        graft.functions.NearestCentroid(col("v"), cents.map(_._2))
          .as("cell"), col("v"))
    def runOnce(): Unit =
      EventStreams.knnEdgesSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        assign, cellsDir, edgesDir, s"$base/chk").stop()
    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    val nCells0 = StoreCommit.read(spark, cellsDir).count()
    // crash inside the cells compaction's replace: the next version
    // half-staged, the pointer torn mid-replace (an in-place
    // overwrite would have LOST these rows, and repairKnnEdges cannot
    // rebuild cells)
    Files.createDirectories(Paths.get(cellsDir, "v_00000099"))
    Files.write(Paths.get(cellsDir, "v_00000099", "part-junk.parquet"),
      Array[Byte](1, 2, 3))
    Files.writeString(Paths.get(cellsDir, "CURRENT"), "v_0000")
    stageFile(c0, Long.MaxValue, "b1.parquet"); runOnce()
    assert(StoreCommit.read(spark, cellsDir).count() > nCells0,
      "cells store must retain the pre-crash batch after recovery")
    // final store == one-shot build on the full corpus
    val oneShotDir = s"$base/oneshot"
    graft.ext.ClusterOps.writeKnnEdges(
      assign(KMeans.vecs(spark, sf).select(col("vec_id"), col("v"))),
      oneShotDir)
    def edgeRows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("rk").cast("int"), col("nbr_id"),
        col("cosine"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    assert(edgeRows(edgesDir) == edgeRows(oneShotDir),
      "post-recovery stream must still equal the one-shot build")
  }

  // ---- streaming word-histogram sink (BPE trainer feed) ----------

  test("streaming word-hist sink: store equals the one-shot histogram " +
      "through a replay and a swap crash, and the trainer reads it " +
      "unchanged") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Bpe
    val base = graft.ops.Scratch.dir("graft_hist_stream")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val histDir = s"$base/hist"
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length / 2)
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_hist_batch"))
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.wordHistSink(
        spark.readStream.schema(docs.schema).parquet(srcDir),
        histDir, s"$base/chk").stop()
    stageFile(Long.MinValue, c0, "b0.parquet"); runOnce()
    // crash inside the pointer replace, between its delete and its
    // rename: recovery must roll the store AND its inner watermark
    // forward together
    Files.move(Paths.get(s"$histDir/CURRENT"),
      Paths.get(s"$histDir/CURRENT.tmp"))
    stageFile(c0, Long.MaxValue, "b1.parquet"); runOnce()
    def histRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val want = histRows(Bpe.wordHist(docs))
    assert(want.nonEmpty &&
      histRows(Bpe.wordHistFromStore(spark, histDir)) == want,
      "stream-accumulated histogram must equal the one-shot scan")
    // a replayed batch drops in full (the sum fold is non-idempotent)
    stageFile(c0, Long.MaxValue, "b1_replay.parquet"); runOnce()
    assert(histRows(Bpe.wordHistFromStore(spark, histDir)) == want,
      "a replayed batch must be a no-op")
    assert(graft.ops.StoreFiles.readIdWatermark(StoreCommit.readDir(histDir))
        .contains(ids.last),
      "the watermark must have committed atomically with the fold")
    // the trainer is a pure function of the histogram
    val fromStore =
      Bpe.trainOn(Bpe.wordHistFromStore(spark, histDir))._1
    val fromBatch = Bpe.trainOn(Bpe.wordHist(docs))._1
    assert(fromStore == fromBatch && fromStore.nonEmpty,
      "merges trained from the maintained store must equal batch-trained")
  }

  test("an empty-corpus word-hist seed bootstraps a foldable store") {
    import graft.ext.Bpe
    val histDir = graft.ops.Scratch.dir("graft_hist_empty") + "/hist"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    Bpe.writeWordHistStore(docs.filter(lit(false)), histDir)
    // watermark present (MinValue: everything future is fresh)
    assert(graft.ops.StoreFiles.readIdWatermark(StoreCommit.readDir(histDir))
      .contains(Long.MinValue))
    Bpe.foldWordHist(spark, histDir, Bpe.wordHist(docs),
      docs.agg(max(col("doc_id"))).head().getLong(0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(rows(Bpe.wordHistFromStore(spark, histDir)) ==
      rows(Bpe.wordHist(docs)))
  }

  test("the word-hist sink refuses a foreign store with no watermark, " +
      "and adopts a seeded store exactly once") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Bpe
    val base = graft.ops.Scratch.dir("graft_hist_adopt")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val histDir = s"$base/hist"
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length / 2)
    Bpe.writeWordHistStore(docs.filter(col("doc_id") <= c0), histDir)
    val tmp = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_hist_adopt_batch"))
    docs.filter(col("doc_id") > c0)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.move(
      new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      Paths.get(srcDir, "b.parquet"))
    def runOnce(): Unit =
      EventStreams.wordHistSink(
        spark.readStream.schema(docs.schema).parquet(srcDir),
        histDir, s"$base/chk").stop()
    // the one-shot writer commits a watermark, so adoption just works
    runOnce()
    def histRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(histRows(Bpe.wordHistFromStore(spark, histDir)) ==
      histRows(Bpe.wordHist(docs)),
      "the seeded store must fold the batch exactly once")
    // a store stripped of its watermark is refused loudly
    graft.ops.StoreFiles.deleteIdWatermark(StoreCommit.readDir(histDir))
    val tmp2 = java.nio.file.Paths.get(
      graft.ops.Scratch.dir("graft_hist_adopt_batch2"))
    docs.filter(col("doc_id") <= c0)
      .coalesce(1).write.mode("overwrite").parquet(tmp2.toString)
    Files.move(
      new java.io.File(tmp2.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      Paths.get(srcDir, "b2.parquet"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    assert(ex.getMessage.contains("replay watermark") ||
      Option(ex.getCause).exists(_.getMessage.contains("replay watermark")),
      s"must refuse loudly, got: ${ex.getMessage}")
  }

  test("semantic takedown: cells shed the removed ids, verdicts " +
      "re-elect exactly as a retained-store recompute, and the " +
      "removed-id log blocks re-admission through the post-crash " +
      "anti-join fallback") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Dedup
    val base = graft.ops.Scratch.dir("graft_sem_rm")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsRoot = s"$base/cells"; val verdictsDir = s"$base/verdicts"
    val e = Tables.embeddings(spark, sf)
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    val (coarse, subs) = Dedup.trainSemanticQuantizers(
      graft.ext.KMeans.vecs(spark, sf), Dedup.SubK)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_rm_batch"))
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name)); ()
    }
    def runOnce(): Unit =
      EventStreams.semanticDedupSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        coarse, subs, Dedup.SubK, cellsRoot, verdictsDir,
        s"$base/chk").stop()
    stage(e, "b0.parquet"); runOnce()

    val removedIds = e.filter(col("vec_id") % 9 === 4)
      .select(col("vec_id"))
    val nExpected = removedIds.count()
    assert(Dedup.removeSemanticVectors(spark, removedIds, cellsRoot,
      verdictsDir) == nExpected)
    // store clean, and SCHEMA-preserving (cell2 — the runner-up
    // probe cell — must survive the rewrite)
    val cellIds = () => StoreCommit.read(spark, cellsRoot)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(cellIds().forall(_ % 9 != 4))
    assert(StoreCommit.read(spark, cellsRoot).columns.contains("cell2"),
      "removal must not silently drop store columns")
    // the STRONG gate: the rewritten log equals a full recompute on
    // the retained store (kept cells verbatim + touched re-election)
    def vr(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("int"), col("is_dup"),
          col("dup_of"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(vr(StoreCommit.read(spark, verdictsDir)) ==
      vr(Dedup.semanticDedupFromCells(spark, StoreCommit.readDir(cellsRoot))))
    // watermark preserved at its PRE-removal value; re-removal no-ops
    assert(graft.ops.StoreFiles.readIdWatermark(cellsRoot)
      .contains(maxId))
    assert(Dedup.removeSemanticVectors(spark, removedIds, cellsRoot,
      verdictsDir) == 0L)
    // post-crash fallback: marker + watermark lost → the next batch
    // anti-joins, and a REPLAYED removed id must stay out (the log),
    // while a genuinely new id is admitted
    graft.ops.StoreFiles.deleteMarker(cellsRoot, "_ids_synced")
    graft.ops.StoreFiles.deleteIdWatermark(cellsRoot)
    val removedOne = e.filter(col("vec_id") % 9 === 4)
      .orderBy(col("vec_id")).limit(1).localCheckpoint()
    val freshOne = removedOne.withColumn("vec_id", lit(maxId + 10))
    stage(removedOne.unionByName(freshOne), "b1.parquet"); runOnce()
    val after = cellIds()
    assert(after.contains(maxId + 10), "the new id must be admitted")
    assert(after.forall(_ % 9 != 4),
      "a replayed removed id must never be re-admitted")
  }

  test("knn takedown survives its crash window: marker down mid-" +
      "removal → the next batch's prologue converges edges+labels, " +
      "and the removed-id log holds through the fallback") {
    import java.nio.file.{Files, Paths}
    import graft.ext.{ClusterOps, Dedup, KMeans}
    val base = graft.ops.Scratch.dir("graft_knn_rm_crash")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsRoot = s"$base/cells"; val edgesDir = s"$base/edges"
    val labelsDir = s"$base/labels"
    val e = Tables.embeddings(spark, sf)
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    val cents = KMeans.trainFrame(
      KMeans.vecs(spark, sf).select(col("vec_id"), col("v")), KMeans.K)
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        graft.functions.NearestCentroid(col("v"), cents.map(_._2))
          .as("cell"), col("v"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_rm_batch"))
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name)); ()
    }
    def runOnce(): Unit =
      EventStreams.knnGraphSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        assign, cellsRoot, edgesDir, Some(labelsDir), s"$base/chk").stop()
    stage(e, "b0.parquet"); runOnce()

    // the crash: cells replaced + log written, but the repairs and
    // the marker re-arm never ran — simulated by the real removal
    // followed by re-tearing its end state
    val removedIds = e.filter(col("vec_id") % 9 === 4)
      .select(col("vec_id"))
    assert(ClusterOps.removeKnnVectors(spark, removedIds, cellsRoot,
      edgesDir, Some(labelsDir)) > 0)
    graft.ops.StoreFiles.deleteMarker(edgesDir, "_cells_synced")
    graft.ops.StoreFiles.deleteIdWatermark(edgesDir)
    // stale edges: poison one retained cell's edge partition so the
    // prologue repair has something real to converge
    val cell0 = StoreCommit.read(spark, cellsRoot).select(col("cell"))
      .distinct().orderBy(col("cell")).head().get(0).toString.toInt
    graft.ops.StoreFiles.deleteDir(s"$edgesDir/cell=$cell0")
    // next batch: one replayed removed id (must stay out) + one new
    val removedOne = e.filter(col("vec_id") % 9 === 4)
      .orderBy(col("vec_id")).limit(1).localCheckpoint()
    val freshOne = removedOne.withColumn("vec_id", lit(maxId + 10))
    stage(removedOne.unionByName(freshOne), "b1.parquet"); runOnce()
    val cellIds = StoreCommit.read(spark, cellsRoot)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(cellIds.contains(maxId + 10))
    assert(cellIds.forall(_ % 9 != 4),
      "a replayed removed id must never re-enter the graph")
    // edges+labels converged to the one-shot rebuild on what remains
    val want = assign(KMeans.vecs(spark, sf))
      .filter(col("vec_id") % 9 =!= 4)
      .unionByName(assign(freshOne.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))))
    val oneShotE = s"$base/oneshot_e"; val oneShotL = s"$base/oneshot_l"
    ClusterOps.writeKnnEdges(want, oneShotE)
    ClusterOps.writeKnnCommunityLabels(want, oneShotL)
    def edgeRows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("rk").cast("int"), col("nbr_id"),
        col("cosine"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    def labelRows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("community_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeRows(edgesDir) == edgeRows(oneShotE))
    assert(labelRows(labelsDir) == labelRows(oneShotL))
  }
}
