package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.ops.{QueryProfile, StoreCommit}
import graft.streaming.EventStreams

/** Dev experiment: the STREAMING counterpart of [[ScaleUp]] — run the
  * stateful streaming surface (flatMapGroupsWithState sessionization,
  * watermarked windowed agg, incremental dedup sink) over 100× copies
  * of events/documents with the RocksDB state store, delivered as a
  * sequence of micro-batches, and record per-batch latency and state
  * store size from `StreamingQueryProgress`.
  *
  * What "holds at 100 TB" means here, and what the numbers must show:
  *  - per-micro-batch latency stays FLAT as batches accumulate (each
  *    batch's cost is a function of the batch, not of history) for
  *    sessionization and the windowed agg; the dedup sink's per-batch
  *    cost may grow slowly with the gold index it probes, but
  *    probe-shaped (the round-4 batch measurement: linear);
  *  - state rows grow with KEY cardinality (users), not event volume,
  *    and live in RocksDB (disk-backed, off-heap) — driver/executor
  *    heap stays bounded.
  *
  * Scaling design mirrors ScaleUp: events copies shift event_id AND
  * user_id (100× the session-state cardinality — the stress), doc
  * copies shift doc_id and prefix every token (each copy carries its
  * own near-dup structure, so dedup output scales linearly). Copies
  * land as `copies/GroupsOf` parquet files in a watched dir;
  * `maxFilesPerTrigger=1` turns each file into one micro-batch — the
  * file-source equivalent of a Kafka feed's arrival sequence.
  *
  * Usage: `runMain graft.StreamScaleUp [copies]` (default 100).
  *
  * Batch-side steps (compactions, rebuilds, serves) print one
  * [[QueryProfile]] record each. A sink's micro-batches run on the
  * stream's own thread and job group, so the progress listener reports
  * them per batch and the sink's total is wall time only.
  */
object StreamScaleUp {

  /** Copies per landing file: 100 copies / 10 = 10 micro-batches. */
  val GroupsOf = 10

  private def moveSinglePart(tmpDir: String, dest: String): Unit = {
    val part = Option(new java.io.File(tmpDir).listFiles())
      .getOrElse(Array.empty)
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file in $tmpDir"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dest))
    ()
  }

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(100)
    val spark = GraftSession.local(32)
      .appName("graft-stream-scale")
      .config(EventStreams.RocksDbStateStoreConf._1,
        EventStreams.RocksDbStateStoreConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // section selector: SPARK_GRAFT_STREAMSCALE_SECTIONS=vec reruns
    // just that tier (unset = everything) — same knob as ScaleUp
    val sections = sys.env.get("SPARK_GRAFT_STREAMSCALE_SECTIONS")
      .map(_.split(",").map(_.trim).toSet)
    def on(sec: String): Boolean = sections.forall(_.contains(sec))
    val src = "/root/testdata/sf0.1"
    val base = s"/tmp/streamscale$copies"
    val eventsDir = s"$base/events.parquet"
    val docsDir = s"$base/documents.parquet"
    def measure[T](n: String)(body: => T): T =
      QueryProfile.measure(spark, n, base)(body)
    def note(n: String, s: String): Unit =
      println(f"[streamscale] $n%-32s $s")

    // ---- stage the 100× landing files (build-once) ----
    if (!new java.io.File(eventsDir).exists()) {
      new java.io.File(eventsDir).mkdirs()
      new java.io.File(docsDir).mkdirs()
      val ev = Tables.load(spark, src, "events") // ts stays raw long nanos
      val maxEvent = ev.agg(max(col("event_id"))).head().getLong(0) + 1
      val maxUser = ev.agg(max(col("user_id"))).head().getLong(0) + 1
      val d = Tables.documents(spark, src)
      val maxDoc = d.agg(max(col("doc_id"))).head().getLong(0) + 1
      for (g <- 0 until (copies + GroupsOf - 1) / GroupsOf) {
        val span = (g * GroupsOf) until math.min((g + 1) * GroupsOf, copies)
        val evTmp = s"$base/_tmp_ev_$g"
        span.map { i =>
          ev.withColumn("event_id", col("event_id") + lit(i * maxEvent))
            .withColumn("user_id", col("user_id") + lit(i * maxUser))
        }.reduce(_ unionByName _)
          .coalesce(1).write.mode("overwrite").parquet(evTmp)
        moveSinglePart(evTmp, f"$eventsDir/g$g%02d.parquet")
        val docTmp = s"$base/_tmp_doc_$g"
        span.map { i =>
          d.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
            .withColumn("text",
              regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1"))
        }.reduce(_ unionByName _)
          .coalesce(1).write.mode("overwrite").parquet(docTmp)
        moveSinglePart(docTmp, f"$docsDir/g$g%02d.parquet")
      }
      println(s"[streamscale] staged $base (${copies}x, " +
        s"${(copies + GroupsOf - 1) / GroupsOf} files per table)")
    }

    // The staged landing files are reusable across runs, but the
    // checkpoint/gold/index dirs are NOT: resuming from a previous
    // run's checkpoints would process zero new files and report the
    // PREVIOUS run's metrics as if freshly measured. Every run starts
    // from clean streaming state.
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      f.delete(); ()
    }
    for (d <- Seq("ckpt_hourly", "ckpt_sessionize", "ckpt_dedup",
        "dedup_index", "gold_docs", "ckpt_curation", "cur_index",
        "cur_gold", "cur_disp", "ckpt_vec", "vec_gold", "vec_codes",
        "ckpt_sem", "sem_cells", "sem_verdicts",
        "ckpt_lex", "bm25_ix", "bm25_rebuild",
        "ckpt_knn", "knn_cells", "knn_edges", "knn_rebuild",
        "ckpt_card", "card_agg", "card_rebuild",
        "ckpt_zstore", "zstore", "ckpt_wordhist", "word_hist"))
      rmrf(new java.io.File(s"$base/$d"))

    // ---- per-batch progress listener ----
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val st = p.stateOperators
          val stateRows = st.map(_.numRowsTotal).sum
          val stateMem = st.map(_.memoryUsedBytes).sum / 1048576.0
          val heap = (Runtime.getRuntime.totalMemory() -
            Runtime.getRuntime.freeMemory()) / 1048576
          println(f"[streamscale] ${p.name}%-16s batch ${p.batchId}%2d  " +
            f"rows ${p.numInputRows}%9d  " +
            f"trigger ${p.durationMs.get("triggerExecution") / 1000.0}%7.2f s  " +
            f"stateRows $stateRows%9d  stateMem $stateMem%8.1f MB  " +
            f"heap $heap%6d MB")
        }
      }
    })

    val onDiskTs = spark.read.parquet(eventsDir).schema("ts").dataType
    def rawEvents: DataFrame = EventStreams.normalizeStreamTs(
      spark.readStream
        .schema(EventStreams.rawSchemaFor(onDiskTs))
        .option("maxFilesPerTrigger", 1)
        .parquet(eventsDir))

    // ---- 1. watermarked windowed agg (low-cardinality state) ----
    if (on("events")) locally {
      val q = EventStreams.hourlyWindowed(rawEvents)
        .writeStream.outputMode("update").format("noop")
        .queryName("hourly100x")
        .option("checkpointLocation", s"$base/ckpt_hourly")
        .start()
      q.processAllAvailable(); q.stop()
    }

    // ---- 2. flatMapGroupsWithState sessionization (state ∝ users) ----
    if (on("events")) locally {
      val q = EventStreams.sessionize(spark, rawEvents)
        .writeStream.outputMode("update").format("noop")
        .queryName("sessionize100x")
        .option("checkpointLocation", s"$base/ckpt_sessionize")
        .start()
      q.processAllAvailable(); q.stop()
    }

    // ---- 3. incremental dedup sink (gold + LSH index grow per batch) ----
    if (on("dedup")) locally {
      val docsSchema = spark.read.parquet(docsDir).schema
      val t0 = System.nanoTime()
      val q = EventStreams.incrementalDedupSink(
        spark.readStream.schema(docsSchema)
          .option("maxFilesPerTrigger", 1).parquet(docsDir),
        s"$base/dedup_index", s"$base/gold_docs", s"$base/ckpt_dedup")
      q.stop()
      val goldRows = StoreCommit.read(spark, s"$base/gold_docs").count()
      println(f"[streamscale] dedup sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, gold rows $goldRows%d")
      // compaction economics: the file count the micro-batch appends
      // left behind, and what one full rebuild (= the compaction op)
      // costs at this store size — the policy's threshold trades the
      // rebuild against ~threshold appends of fragmentation
      val frag = graft.ext.Dedup.indexFileCount(s"$base/dedup_index")
      measure("dedup_index_compaction")(
        graft.ext.Dedup.rebuildIndex(spark, s"$base/gold_docs",
          s"$base/dedup_index",
          outFiles = graft.ext.Dedup.CompactFileThreshold / 2))
      note("dedup_index_compaction", s"$frag part files -> " +
        s"${graft.ext.Dedup.indexFileCount(s"$base/dedup_index")}")
    }

    // ---- 4. streaming curation sink (full sketch pipeline per batch) ----
    if (on("curation")) locally {
      val docsSchema = spark.read.parquet(docsDir).schema
      // the eval bitmask is built ONCE from the reference corpus — the
      // 128 KB artifact every batch probes (eval docs in the copies
      // carry shifted ids, so the base-corpus mask is the right state)
      val bitmask = graft.ext.Curation.evalBitmask(spark, src)
      val t0 = System.nanoTime()
      val q = EventStreams.streamingCurationSink(
        spark.readStream.schema(docsSchema)
          .option("maxFilesPerTrigger", 1).parquet(docsDir),
        bitmask, s"$base/cur_index", s"$base/cur_gold",
        s"$base/cur_disp", s"$base/ckpt_curation")
      q.stop()
      val accepted = StoreCommit.read(spark, s"$base/cur_gold").count()
      val disp = spark.read.parquet(s"$base/cur_disp")
      println(f"[streamscale] curation sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, accepted $accepted%d " +
        f"of ${disp.count()}%d dispositioned")
      disp.groupBy(col("disposition")).count().orderBy(col("disposition"))
        .collect().foreach(r =>
          println(f"[streamscale]   ${r.getString(0)}%-16s ${r.getLong(1)}%9d"))
    }

    // ---- 4b. streaming drift monitor (count artifact per batch) ----
    if (on("drift")) locally {
      val docsSchema = spark.read.parquet(docsDir).schema
      val t0 = System.nanoTime()
      val q = EventStreams.driftMonitorSink(
        spark.readStream.schema(docsSchema)
          .option("maxFilesPerTrigger", 1).parquet(docsDir),
        s"$base/drift_counts", s"$base/ckpt_drift")
      q.stop()
      val art = StoreCommit.read(spark,
        graft.ext.Selection.tokenCountsRoot(s"$base/drift_counts"))
      println(f"[streamscale] drift sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, artifact rows " +
        f"${art.count()}%d (vocabulary × sources bounded, never corpus)")
      // exactness: the streamed artifact must score identically to a
      // from-scratch recompute over everything that arrived
      val batchJsd = graft.ext.Selection.jsDivergenceFromCounts(
        graft.ext.Selection.tokenCountsOn(spark.read.parquet(docsDir)))
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      val artJsd = graft.ext.Selection
        .jsDivergenceFromArtifact(spark, s"$base/drift_counts")
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      println(s"[streamscale] drift parity vs batch recompute: " +
        (if (batchJsd == artJsd) "EXACT" else s"MISMATCH"))
      // the decision log (round-12): one row per (batch, source). On
      // THIS corpus every batch is a maximal-drift positive control:
      // the copy-prefix construction gives each copy a disjoint token
      // vocabulary, so every post-seed batch must trip (the
      // same-generator negative control — natural batches scoring
      // 7–16k micronats, far under the 200k threshold — lives in
      // EventStreamsSpec over the un-prefixed corpus)
      val alerts = EventStreams.driftAlerts(spark, s"$base/drift_counts")
        .collect()
      println(f"[streamscale] drift alerts ${alerts.length}%d rows, " +
        f"tripped ${alerts.count(_.getBoolean(4))}%d " +
        f"(copy-prefixed corpus: every batch is alien vocabulary by " +
        f"construction; expect all tripped)")
    }

    // ---- staged vector landing files (shared by vec + sem tiers) ----
    val vecDir = s"$base/vectors.parquet"
    def ensureVecStaged(): Unit =
      if (!new java.io.File(vecDir).exists()) {
        // key-shifted AND dimension-perturbed copies (bit-identical
        // vectors would be the adversarial all-duplicates corpus — see
        // ScaleUp's sem tier); 10 landing files = 10 micro-batches
        new java.io.File(vecDir).mkdirs()
        val e0 = Tables.embeddings(spark, src)
        val maxVec = e0.agg(max(col("vec_id"))).head().getLong(0) + 1
        val per = math.max(1, copies / 10)
        for (g <- 0 until (copies + per - 1) / per) {
          val span = (g * per) until math.min((g + 1) * per, copies)
          val tmp = s"$base/_tmp_vec_$g"
          span.map { i =>
            e0.select((col("vec_id") + lit(i * maxVec)).as("vec_id"),
              col("label"),
              transform(col("embedding"),
                (x, idx) => when(idx === 0,
                  x + lit(i.toFloat * 1e-3f)).otherwise(x))
                .as("embedding"))
          }.reduce(_ unionByName _)
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          moveSinglePart(tmp, f"$vecDir/g$g%02d.parquet")
        }
        println(s"[streamscale] staged $vecDir (${copies}x, perturbed)")
      }

    // ---- 4c. drift NEGATIVE control at 100× (round-12 stretch #8) ----
    if (on("driftneg")) locally {
      // id-shifted but UN-prefixed copies: every batch carries the
      // same per-source token distribution as the trailing artifact,
      // so no post-seed batch may trip — the at-scale complement of
      // the positive control above (all-tripped on alien vocabulary)
      // and of EventStreamsSpec's base-scale negative control
      val negDir = s"$base/documents_neg.parquet"
      if (!new java.io.File(negDir).exists()) {
        new java.io.File(negDir).mkdirs()
        val d = Tables.documents(spark, src)
        val maxDoc = d.agg(max(col("doc_id"))).head().getLong(0) + 1
        for (g <- 0 until (copies + GroupsOf - 1) / GroupsOf) {
          val span = (g * GroupsOf) until math.min((g + 1) * GroupsOf, copies)
          val tmp = s"$base/_tmp_negdoc_$g"
          span.map { i =>
            d.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
          }.reduce(_ unionByName _)
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          moveSinglePart(tmp, f"$negDir/g$g%02d.parquet")
        }
        println(s"[streamscale] staged $negDir (${copies}x, UN-prefixed)")
      }
      rmrf(new java.io.File(s"$base/driftneg_counts"))
      rmrf(new java.io.File(s"$base/ckpt_driftneg"))
      val docsSchema = spark.read.parquet(negDir).schema
      val t0 = System.nanoTime()
      val q = EventStreams.driftMonitorSink(
        spark.readStream.schema(docsSchema)
          .option("maxFilesPerTrigger", 1).parquet(negDir),
        s"$base/driftneg_counts", s"$base/ckpt_driftneg")
      q.stop()
      val alerts = EventStreams.driftAlerts(spark, s"$base/driftneg_counts")
        .collect()
      val tripped = alerts.count(_.getBoolean(4))
      val maxJsd = if (alerts.isEmpty) 0L
        else alerts.map(_.getLong(3)).max
      println(f"[streamscale] driftneg sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s: ${alerts.length}%d " +
        f"decision rows, tripped $tripped%d, max ${maxJsd}%d micronats " +
        f"(threshold ${EventStreams.DriftThresholdMicronats}%d; " +
        f"expect ZERO tripped — same-distribution batches)")
    }

    // ---- 5. streaming vector ingest (gold + IVF-PQ codes per batch) ----
    if (on("vec")) locally {
      ensureVecStaged()
      // codebooks train ONCE on the base sample and stay frozen — the
      // sink's whole premise (retrain = rebuild)
      val coarse = graft.ext.KMeans.train(spark, src)
      val rcbs = graft.ext.ProductQuant.residualCodebooks(spark, src, coarse)
      val schema = spark.read.parquet(vecDir).schema
      val t0 = System.nanoTime()
      val q = EventStreams.incrementalVectorIndexSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(vecDir),
        coarse, rcbs, s"$base/vec_codes", s"$base/vec_gold",
        s"$base/ckpt_vec")
      q.stop()
      val goldRows = StoreCommit.read(spark, s"$base/vec_gold").count()
      println(f"[streamscale] vector sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, gold vectors $goldRows%d")
      // fragmentation left by per-batch appends, and the compaction
      // rebuild's cost at this store size
      val frag = graft.ext.ProductQuant.codesFileCount(s"$base/vec_codes")
      measure("vec_codes_compaction")(
        graft.ext.ProductQuant.maybeCompactCodes(spark, s"$base/vec_gold",
          s"$base/vec_codes", coarse, rcbs, threshold = 1))
      note("vec_codes_compaction", s"$frag part files -> " +
        s"${graft.ext.ProductQuant.codesFileCount(s"$base/vec_codes")}")
      // steady-state ADC probe against the streamed store
      val (qid, qCell, dt) = graft.ext.ProductQuant.queryPrepResidual(
        spark, src, coarse, rcbs)
      measure("vec_adc_probe")(graft.ext.ProductQuant.adcOverCodes(
        StoreCommit.read(spark, s"$base/vec_codes")
          .filter(col("cell") === qCell), dt, qid).collect())
    }

    // ---- 5b. streaming SemDeDup (cells + delta verdicts per batch) ----
    if (on("sem")) locally {
      ensureVecStaged()
      // quantizers FREEZE on the base corpus (the sink's premise:
      // retrain = rebuild), cells sized for the EXPECTED streamed
      // corpus via subKFor — cap raised to 2·subK so each coarse
      // cell's training sample can seat subK sub-centroids
      val total = Tables.embeddings(spark, src).count() * copies
      val subK = graft.ext.Dedup.subKFor(total)
      val (coarse, subs) = graft.ext.Dedup.trainSemanticQuantizers(
        graft.ext.KMeans.vecs(spark, src), subK, cap = 2 * subK)
      val schema = spark.read.parquet(vecDir).schema
      val t0 = System.nanoTime()
      val q = EventStreams.semanticDedupSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(vecDir),
        coarse, subs, subK, s"$base/sem_cells", s"$base/sem_verdicts",
        s"$base/ckpt_sem")
      q.stop()
      val cells = StoreCommit.read(spark, s"$base/sem_cells")
      val verdicts = StoreCommit.read(spark, s"$base/sem_verdicts")
      println(f"[streamscale] sem sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, " +
        f"${cells.count()}%d vectors in cells, " +
        f"${verdicts.count()}%d verdicts " +
        f"(${verdicts.filter(col("is_dup")).count()}%d dups)")
      // per-batch trigger rows print above via the progress listener;
      // expected shape: cost tracks |batch| · cell-size (the gold side
      // is pruned to touched cells), so it grows with the store like
      // the dedup sink's index probe — never with history² — and the
      // batch side stays broadcast
      // parity: streamed store == one-shot assignment under the same
      // frozen quantizers, and the accumulated verdict log == the
      // full-store recompute (monotone ingest ids)
      // order-insensitive content signature: decimal(38,0) sum of the
      // row hashes — full-range longs overflow an ANSI long sum at
      // ~200k rows, and bit_xor would let duplicate-row PAIRS cancel
      // (exactly the double-append failure mode the parity exists to
      // catch)
      def sig(df: DataFrame, cs: Seq[String]): java.math.BigDecimal =
        df.agg(sum(xxhash64(cs.map(col): _*).cast("decimal(38,0)")))
          .head().getDecimal(0)
      val oneShot = graft.ext.Dedup.assignSemanticCells(
        spark.read.parquet(vecDir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        coarse, subs, subK)
      val cellsPar = sig(cells.select(col("vec_id"),
          col("cell").cast("int").as("cell")), Seq("vec_id", "cell")) ==
        sig(oneShot.select(col("vec_id"), col("cell")),
          Seq("vec_id", "cell"))
      val full = graft.ext.Dedup
        .semanticDedupFromCells(spark, StoreCommit.readDir(s"$base/sem_cells"))
      val verdictCols = Seq("vec_id", "cell", "is_dup", "dup_of")
      val verdictPar = sig(verdicts.select(col("vec_id"),
          col("cell").cast("int").as("cell"), col("is_dup"),
          col("dup_of")), verdictCols) ==
        sig(full.select(col("vec_id"), col("cell"), col("is_dup"),
          col("dup_of")), verdictCols)
      println(s"[streamscale] sem parity: cells " +
        (if (cellsPar) "EXACT" else "MISMATCH") + ", verdicts " +
        (if (verdictPar) "EXACT" else "MISMATCH"))
      // compaction economics, same policy row as the codes store
      val frag = graft.ext.Dedup.cellsFileCount(s"$base/sem_cells")
      measure("sem_cells_compaction")(
        graft.ext.Dedup.maybeCompactSemanticCells(spark,
          s"$base/sem_cells", threshold = 1))
      note("sem_cells_compaction", s"$frag part files -> " +
        s"${graft.ext.Dedup.cellsFileCount(s"$base/sem_cells")}")
    }

    // ---- 6. streaming lexical-index sink (BM25 postings per batch) ----
    if (on("lex")) locally {
      val docsSchema = spark.read.parquet(docsDir).schema
      val t0 = System.nanoTime()
      val q = EventStreams.lexicalIndexSink(
        spark.readStream.schema(docsSchema)
          .option("maxFilesPerTrigger", 1).parquet(docsDir),
        s"$base/bm25_ix", s"$base/ckpt_lex")
      q.stop()
      val meta = StoreCommit.read(spark, s"$base/bm25_ix/meta").head()
      println(f"[streamscale] lexical sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, " +
        f"indexed docs ${meta.getLong(0)}%d, sum_dl ${meta.getLong(1)}%d")
      // parity: the stream-accumulated store must answer the standard
      // query batch EXACTLY like a one-shot rebuild over everything
      // that arrived (append == rebuild through live idf/avgdl
      // arithmetic — the rag_bm25_index_append gate argument, at 100×)
      def tdOf(df: DataFrame): DataFrame = df
        .select(col("doc_id"),
          graft.ext.TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      measure("bm25_one_shot_rebuild")(graft.ext.Retrieval.writeBm25Index(
        tdOf(spark.read.parquet(docsDir)), s"$base/bm25_rebuild"))
      val streamed = measure("bm25_serve_streamed")(graft.ext.Retrieval
        .bm25BatchFromIndex(spark, base, s"$base/bm25_ix").collect()).toSeq
      val rebuilt = graft.ext.Retrieval
        .bm25BatchFromIndex(spark, base, s"$base/bm25_rebuild")
        .collect().toSeq
      println(s"[streamscale] bm25 parity vs rebuild: " +
        (if (streamed == rebuilt) "EXACT" else "MISMATCH"))
      // compaction economics, same policy row as the other stores
      val frag = graft.ext.Dedup.cellsFileCount(s"$base/bm25_ix/postings")
      measure("bm25_postings_compaction")(
        graft.ext.Retrieval.maybeCompactPostings(spark, s"$base/bm25_ix",
          threshold = 1))
      note("bm25_postings_compaction", s"$frag part files -> " +
        s"${graft.ext.Dedup.cellsFileCount(s"$base/bm25_ix/postings")}")
    }

    if (on("takedown")) locally {
      // the retrieval-tier takedown at 100× (round 17): tombstone 10%
      // of a built BM25 store, read the MASKED serve cost (should
      // track the normal serve — the correction is removal-sized),
      // vacuum (the one O(store) rewrite), and prove masked ==
      // vacuumed row-for-row. The number to read: takedown VISIBILITY
      // is immediate and serve-priced; only the physical reclaim pays
      // a rewrite, on an operator-chosen schedule.
      import graft.ext.Retrieval
      val store = s"$base/bm25_take"
      def tdOf(df: DataFrame): DataFrame = df
        .select(col("doc_id"),
          graft.ext.TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      val docs = spark.read.parquet(docsDir)
      def serve(n: String) =
        measure(n)(Retrieval.bm25BatchFromIndex(spark, base, store)
          .collect()).toSeq
      measure("takedown_index_build")(
        Retrieval.writeBm25Index(tdOf(docs), store))
      val pre = serve("takedown_serve_pre")
      measure("takedown_tombstone")(Retrieval.tombstoneBm25Docs(spark,
        docs.filter(col("doc_id") % 10 === 3).select(col("doc_id")),
        store))
      note("takedown_tombstone", "(10% of docs)")
      val masked = serve("takedown_serve_masked")
      val (nRem, reclaimed) =
        measure("takedown_vacuum")(Retrieval.vacuumBm25(spark, store))
      note("takedown_vacuum",
        s"($nRem docs, ${reclaimed / (1 << 20)} MB reclaimed)")
      val vac = serve("takedown_serve_vac")
      println(s"[streamscale] takedown parity masked==vacuumed: " +
        (if (masked == vac) "EXACT" else "MISMATCH") +
        s"; pre!=masked: ${pre != masked}")
    }

    // ---- 7. streaming kNN-edges sink (graph partitions per batch) ----
    if (on("knn")) locally {
      ensureVecStaged()
      // quantizers FREEZE on the base corpus, cells sized for the
      // EXPECTED streamed corpus (subKFor — the sem tier's sizing),
      // so per-batch graph work is touched-cells only at K ∝ N
      val total = Tables.embeddings(spark, src).count() * copies
      val subK = graft.ext.Dedup.subKFor(total)
      val (coarse, subs) = graft.ext.Dedup.trainSemanticQuantizers(
        graft.ext.KMeans.vecs(spark, src), subK, cap = 2 * subK)
      def assign(df: DataFrame): DataFrame =
        graft.ext.Dedup.assignSemanticCells(df, coarse, subs, subK)
          .select(col("vec_id"), col("cell"), col("v"))
      val schema = spark.read.parquet(vecDir).schema
      val t0 = System.nanoTime()
      val q = EventStreams.knnEdgesSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(vecDir),
        assign, s"$base/knn_cells", s"$base/knn_edges",
        s"$base/ckpt_knn")
      q.stop()
      val edges = spark.read.parquet(s"$base/knn_edges")
      println(f"[streamscale] knn sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, " +
        f"${StoreCommit.read(spark, s"$base/knn_cells").count()}%d vectors, " +
        f"${edges.count()}%d edges " +
        f"(${graft.ext.KMeans.K * subK}%d effective cells)")
      // per-batch trigger rows print above; expected shape: each
      // batch pays touched-cells recompute only (batch-bound, not
      // store-bound) — the edges store needs no compaction because
      // every partition update is a whole-partition one-file rewrite
      // parity: stream-accumulated edges == one-shot build under the
      // SAME frozen quantizers
      measure("knn_one_shot_rebuild")(graft.ext.ClusterOps.writeKnnEdges(
        assign(spark.read.parquet(vecDir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))),
        s"$base/knn_rebuild"))
      def sig(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(xxhash64(col("vec_id"), col("rk"), col("nbr_id"),
          col("cosine").cast("string"), col("cell").cast("int"))
          .cast("decimal(38,0)"))).head().getDecimal(0)
      val par = sig(edges) == sig(spark.read.parquet(s"$base/knn_rebuild"))
      println(s"[streamscale] knn parity vs rebuild: " +
        (if (par) "EXACT" else "MISMATCH"))
      // round-15 stretch #8: the replay guard's cost ISOLATED on the
      // accumulated store — the id-watermark scalar filter (the new
      // happy path) vs the store-wide id anti-join it replaced (now
      // the post-crash fallback only). Both run over one batch-sized
      // probe frame; the anti-join's cost is the store scan.
      locally {
        val probe = spark.read.parquet(vecDir)
          .select(col("vec_id")).limit(20000).localCheckpoint()
        val wm = graft.ops.StoreFiles
          .readIdWatermark(s"$base/knn_edges")
        require(wm.nonEmpty, "sink must leave a watermark behind")
        (1 to 2).foreach { _ =>
          measure("knn_replay_guard_watermark")(
            probe.filter(col("vec_id") > wm.get).count())
          measure("knn_replay_guard_anti_join")(probe.join(
            StoreCommit.read(spark, s"$base/knn_cells").select("vec_id"),
            Seq("vec_id"), "left_anti").count())
        }
      }
      // crash-window repair probe: a consistent store is a no-op
      val repaired = graft.ext.ClusterOps.repairKnnEdges(spark,
        s"$base/knn_cells", s"$base/knn_edges")
      println(s"[streamscale] knn repair on consistent store: " +
        s"$repaired cells recomputed (expect 0)")
    }

    if (on("knnrm")) locally {
      // the graph-tier takedown at 100× (round 17): remove 10% of
      // the vectors from the knn store built by the `knn` section.
      // The cost to read: one cells rewrite plus touched-cells edge
      // repairs — CELL-confined, never a full-graph rebuild — and
      // parity: the post-removal edge signature equals a one-shot
      // build on the retained vectors under the same frozen
      // quantizers.
      val cells = s"$base/knn_cells"; val edges = s"$base/knn_edges"
      require(new java.io.File(cells).exists(),
        "run the knn section first to build the stores")
      val total = Tables.embeddings(spark, src).count() * copies
      val subK = graft.ext.Dedup.subKFor(total)
      val (coarse, subs) = graft.ext.Dedup.trainSemanticQuantizers(
        graft.ext.KMeans.vecs(spark, src), subK, cap = 2 * subK)
      val rem = StoreCommit.read(spark, cells)
        .filter(col("vec_id") % 10 === 7).select(col("vec_id"))
        .localCheckpoint()
      val n = measure("knnrm_removal")(graft.ext.ClusterOps
        .removeKnnVectors(spark, rem, cells, edges, None))
      note("knnrm_removal", s"($n vectors, 10% of the graph)")
      val again = measure("knnrm_post_check")(
        graft.ext.ClusterOps.repairKnnEdges(spark, cells, edges))
      note("knnrm_post_check",
        s"($again stale cells — expect 0: removal converged)")
      measure("knnrm_retained_rebuild")(graft.ext.ClusterOps.writeKnnEdges(
        graft.ext.Dedup.assignSemanticCells(
            spark.read.parquet(vecDir)
              .filter(col("vec_id") % 10 =!= 7)
              .select(col("vec_id"),
                col("embedding").cast("array<double>").as("v")),
            coarse, subs, subK)
          .select(col("vec_id"), col("cell"), col("v")),
        s"$base/knn_retained_ref"))
      def sig(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(xxhash64(col("vec_id"), col("rk"), col("nbr_id"),
          col("cosine").cast("string"), col("cell").cast("int"))
          .cast("decimal(38,0)"))).head().getDecimal(0)
      println(s"[streamscale] knnrm parity vs retained rebuild: " +
        (if (sig(spark.read.parquet(edges)) ==
            sig(spark.read.parquet(s"$base/knn_retained_ref")))
          "EXACT" else "MISMATCH"))
    }

    // ---- 8. streaming cluster-card sink (bounded store, atomic
    // fold+watermark swap per trigger) ----
    if (on("card")) locally {
      // staged pre-joined landing files: the card sink's input is the
      // embeddings↔documents join (doc_id, embedding, label, source,
      // n_tokens); 10 files = 10 micro-batches, ids shifted per copy,
      // dim-0 perturbed like the vec tier
      val cardDir = s"$base/card.parquet"
      if (!new java.io.File(cardDir).exists()) {
        new java.io.File(cardDir).mkdirs()
        val e0 = Tables.embeddings(spark, src)
        val d0 = Tables.documents(spark, src)
          .select(col("doc_id"), col("source"),
            size(graft.ext.TextOps.tokens(col("text"))).cast("long")
              .as("n_tokens"))
        val j0 = e0.join(d0, e0("vec_id") === d0("doc_id"))
          .select(col("doc_id"), col("embedding"), e0("label"),
            col("source"), col("n_tokens"))
          .localCheckpoint()
        val maxVec = j0.agg(max(col("doc_id"))).head().getLong(0) + 1
        val per = math.max(1, copies / 10)
        for (g <- 0 until (copies + per - 1) / per) {
          val span = (g * per) until math.min((g + 1) * per, copies)
          val tmp = s"$base/_tmp_card_$g"
          span.map { i =>
            j0.select((col("doc_id") + lit(i * maxVec)).as("doc_id"),
              transform(col("embedding"),
                (x, idx) => when(idx === 0,
                  x + lit(i.toFloat * 1e-3f)).otherwise(x))
                .as("embedding"),
              col("label"), col("source"), col("n_tokens"))
          }.reduce(_ unionByName _)
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          moveSinglePart(tmp, f"$cardDir/g$g%02d.parquet")
        }
        println(s"[streamscale] staged $cardDir (${copies}x, joined)")
      }
      // frozen coarse quantizer on the base corpus: the card is a
      // K-cells TOPIC report, so K stays fixed as N grows (unlike the
      // dedup/graph stores' K ∝ N sizing) — which is exactly why the
      // agg store is bounded and the atomic whole-store swap is the
      // right fold discipline
      val cents = graft.ext.KMeans.trainFrame(
        graft.ext.KMeans.vecs(spark, src)
          .select(col("vec_id"), col("v")), graft.ext.KMeans.K)
      def assign(df: DataFrame): DataFrame =
        df.select(col("doc_id"),
          graft.functions.NearestCentroid(
            col("embedding").cast("array<double>"), cents.map(_._2))
            .as("cluster"),
          col("label"), col("source"), col("n_tokens"))
      val schema = spark.read.parquet(cardDir).schema
      val t0 = System.nanoTime()
      val q = EventStreams.clusterCardSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(cardDir),
        assign, s"$base/card_agg", s"$base/ckpt_card")
      q.stop()
      println(f"[streamscale] card sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(expected shape: per-trigger cost FLAT — the fold reads " +
        f"batch + a bounded store, never the corpus)")
      // parity: fold-accumulated store == one-shot rebuild over
      // everything that arrived, under the same frozen quantizer
      measure("card_one_shot_rebuild")(graft.ext.ClusterOps
        .writeClusterCardAgg(assign(spark.read.parquet(cardDir)),
          s"$base/card_rebuild"))
      def rows(card: DataFrame) = card.collect().map(_.toSeq).toSeq
      val par = rows(graft.ext.ClusterOps.clusterCardFromStore(spark,
          s"$base/card_agg")) ==
        rows(graft.ext.ClusterOps.clusterCardFromAgg(spark,
          s"$base/card_rebuild"))
      println(s"[streamscale] card parity vs rebuild: " +
        (if (par) "EXACT" else "MISMATCH"))
      // the steady-state report read: bounded store, no corpus scan
      measure("card_from_store")(graft.ext.ClusterOps
        .clusterCardFromStore(spark, s"$base/card_agg").collect())
    }

    if (on("wordhist")) locally {
      // BPE trainer feed at 100×: per-trigger cost is one map-side-
      // combinable word count over the batch plus an atomic swap of
      // the VOCABULARY-bounded store — expected FLAT per batch and
      // independent of how much history the store has folded.
      // Training from the maintained store afterwards touches only
      // the bounded histogram (the trainer's corpus-sized stage is
      // exactly what this sink amortized away).
      // the staged docs carry per-copy word prefixes (c<i>_word), so
      // the tier runs the widened word model — which is ALSO the
      // vocab-axis stress: the maintained store is ~100× the base
      // vocabulary and must still fold flat per trigger
      val pat = "^[a-z0-9_]+$"
      val t0 = System.nanoTime()
      EventStreams.wordHistSink(
        spark.readStream
          .schema(spark.read.parquet(docsDir).schema)
          .option("maxFilesPerTrigger", 1).parquet(docsDir),
        s"$base/word_hist", s"$base/ckpt_wordhist", pat).stop()
      println(f"[streamscale] wordhist sink total " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      val hist = graft.ext.Bpe.wordHistFromStore(spark, s"$base/word_hist")
      val (v, rules) = measure("bpe_train_from_store")(
        (hist.count(), graft.ext.Bpe.trainOn(hist)._1))
      note("bpe_train_from_store", s"(vocab $v, ${rules.length} merges)")
      // parity: maintained hist == one-shot scan of everything staged
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      val par = rows(hist) ==
        rows(graft.ext.Bpe.wordHist(spark.read.parquet(docsDir), pat))
      println(s"[streamscale] wordhist parity vs one-shot scan: " +
        (if (par) "EXACT" else "MISMATCH"))
    }

    if (on("zstore")) locally {
      // TIERED z-ordered fact store maintenance at 100× (round-15
      // verdict #2 measurement): 16 landing batches (l_orderkey
      // shifted per copy so the monotone-id contract holds), driven
      // through the same appendDelta → minorCompact →
      // maybeCompactStore path the streaming sink runs, with each
      // phase timed separately. Expected shape — the LSM growth law:
      // appends FLAT (a delta write never reads the store); MINOR
      // compactions FLAT (each folds exactly CompactAfter deltas,
      // never the base — the old single-tier rewrite grew 18.7 →
      // 37.9 s here as the base grew); MAJOR compactions O(store)
      // but geometrically less frequent (size-ratio trigger), so
      // per-row rewrite work is O(log N) over the store's life.
      import graft.pipeline.ZOrderLayout
      val nBatches = 16
      val liDir = s"$base/lineitem16.parquet"
      if (!new java.io.File(liDir).exists()) {
        new java.io.File(liDir).mkdirs()
        val li0 = Tables.lineitem(spark, src)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
          .localCheckpoint()
        val maxKey = li0.agg(max(col("l_orderkey"))).head().getLong(0) + 1
        val per = math.max(1, copies / nBatches)
        for (g <- 0 until (copies + per - 1) / per) {
          val span = (g * per) until math.min((g + 1) * per, copies)
          val tmp = s"$base/_tmp_li_$g"
          span.map(i => li0.withColumn("l_orderkey",
              col("l_orderkey") + lit(i * maxKey)))
            .reduce(_ unionByName _)
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          moveSinglePart(tmp, f"$liDir/g$g%02d.parquet")
        }
        println(s"[streamscale] staged $liDir (${copies}x, " +
          s"$nBatches batches)")
      }
      val store = s"$base/zstore16"
      val files = Option(new java.io.File(liDir).listFiles())
        .getOrElse(Array.empty).map(_.getPath).sorted
      val (x, y, idc) = ("l_partkey", "l_suppkey", "l_orderkey")
      for ((f, i) <- files.zipWithIndex) {
        val rows = spark.read.parquet(f)
        StoreCommit.recover(store)
        val live = StoreCommit.writeDir(store)
        val step = f"zstore t${i + 1}%02d"
        measure(s"$step append")(ZOrderLayout.appendDelta(rows, live, idc))
        val major =
          ZOrderLayout.deltaCount(live) >= ZOrderLayout.CompactAfter && {
            measure(s"$step minor")(
              ZOrderLayout.minorCompact(spark, live, x, y))
            measure(s"$step maybe_major")(ZOrderLayout.maybeCompactStore(
              spark, store, x, y, idc))._2
          }
        val liveNow = StoreCommit.readDir(store)
        val baseMb =
          graft.ops.StoreFiles.dirBytes(s"$liveNow/base") / (1 << 20)
        val l1Mb =
          graft.ops.StoreFiles.dirBytes(s"$liveNow/l1") / (1 << 20)
        note(step, s"major $major  (base $baseMb MB, l1 $l1Mb MB)")
      }
      val got = ZOrderLayout
        .readStore(spark, StoreCommit.readDir(store)).count()
      val want = spark.read.parquet(liDir).count()
      println(s"[streamscale] zstore parity vs landing: " +
        (if (got == want) s"EXACT ($got rows)"
         else s"MISMATCH ($got vs $want)"))
      // what the layout buys: per-file second-key envelopes of the
      // compacted base vs the raw landing files
      def medianSpan(dir: String): Long = {
        val spans = spark.read.parquet(dir)
          .groupBy(input_file_name())
          .agg((max(col("l_suppkey")) - min(col("l_suppkey")) + 1)
            .as("s")).collect().map(_.getLong(1)).sorted
        spans(spans.length / 2)
      }
      println(s"[streamscale] zstore median y-span per file: base " +
        s"${medianSpan(s"${StoreCommit.readDir(store)}/base")} vs landing " +
        s"${medianSpan(liDir)}")
    }

    if (on("zdel")) locally {
      // the DELETE-delta tier under the same 16-batch 100× ladder
      // (round-16 verdict #6): after every landed batch, a removal
      // batch tombstones its l_orderkey % 10 == 3 rows — the
      // re-crawl shape (a re-fetched page superseding its old rows).
      // Expected: appends and MINORS stay FLAT (the delete set rides
      // a broadcast anti-join over delta-sized inputs), MAJORS stay
      // geometric and apply the deletes physically (del tier drops
      // with the replaced root), and final parity reads landing
      // MINUS removed exactly.
      import graft.pipeline.ZOrderLayout
      val liDir = s"$base/lineitem16.parquet"
      require(new java.io.File(liDir).exists(),
        "run the zstore section first to stage the landing batches")
      val store = s"$base/zstore16_del"
      val files = Option(new java.io.File(liDir).listFiles())
        .getOrElse(Array.empty).map(_.getPath).sorted
      val (x, y, idc) = ("l_partkey", "l_suppkey", "l_orderkey")
      for ((f, i) <- files.zipWithIndex) {
        val rows = spark.read.parquet(f)
        val step = f"zdel t${i + 1}%02d"
        val live = StoreCommit.writeDir(store)
        measure(s"$step append")(ZOrderLayout.appendDelta(rows, live, idc))
        measure(s"$step del")(ZOrderLayout.appendDeleteDelta(
          rows.filter(col(idc) % 10 === 3), live, idc))
        val major =
          ZOrderLayout.deltaCount(live) >= ZOrderLayout.CompactAfter && {
            measure(s"$step minor")(
              ZOrderLayout.minorCompact(spark, live, x, y))
            measure(s"$step maybe_major")(ZOrderLayout.maybeCompactStore(
              spark, store, x, y, idc))._2
          }
        val liveNow = StoreCommit.readDir(store)
        val baseMb =
          graft.ops.StoreFiles.dirBytes(s"$liveNow/base") / (1 << 20)
        val delN = ZOrderLayout.pendingDeletes(spark, liveNow)
          .map(_.count()).getOrElse(0L)
        note(step,
          s"major $major  (base $baseMb MB, pending deletes $delN)")
      }
      val got =
        ZOrderLayout.readStore(spark, StoreCommit.readDir(store)).count()
      val landing = spark.read.parquet(liDir)
      val want = landing.filter(col(idc) % 10 =!= 3).count()
      println(s"[streamscale] zdel parity vs landing-minus-removed: " +
        (if (got == want) s"EXACT ($got rows)"
         else s"MISMATCH ($got vs $want)"))
    }

    val rocksDirs = Option(new java.io.File(
      s"${sys.props("java.io.tmpdir")}").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("spark-"))
    println(s"[streamscale] done; rocksdb/ckpt scratch dirs: ${rocksDirs.length}")
    spark.stop()
  }
}
