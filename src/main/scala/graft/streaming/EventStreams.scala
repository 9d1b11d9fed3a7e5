package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.ops.StoreCommit

/** Structured Streaming extension (SURVEY.md §2.9: the reference is
  * batch-only; the `events` table invites the streaming surface).
  *
  * The same logical aggregations as `graft.ext.EventOps` run here as
  * incremental plans: file-source `readStream` → watermark → windowed
  * groupBy → sink. Batch/stream parity is asserted in
  * `EventStreamsSpec` by replaying the test parquet through the
  * streaming plan with a memory sink and diffing against the batch
  * answer.
  *
  * Scale notes: stateful aggregation state is bounded by the
  * watermark (late data beyond 2 hours is dropped); keys are
  * (window, event_type) — low cardinality — so state store size is
  * bounded regardless of input volume. At 100 TB/day the same plan
  * runs with a real source (Kafka) and checkpointed state; nothing
  * here is local-mode-specific.
  */
object EventStreams {

  /** Streaming-source schema for the events parquet, parameterized on
    * the on-disk `ts` type — a file stream needs its schema up front,
    * and the generator has shipped `ts` as both TIMESTAMP(NANOS)
    * (surfacing as Long under the legacy flag) and TIMESTAMP(MICROS)
    * (surfacing as TIMESTAMP_NTZ). [[eventsStream]] sniffs the actual
    * type from the files via a one-off batch schema read and
    * normalizes to session-zone TIMESTAMP (watermarks reject NTZ). */
  def rawSchemaFor(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** Normalize a raw events stream's `ts` to session-zone TIMESTAMP
    * micros, branching on the source type like [[graft.Tables.events]]. */
  def normalizeStreamTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // nanos as Long
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** File-source stream over the events parquet. Event time stays
    * TIMESTAMP (with the session's UTC zone): watermarks reject
    * TIMESTAMP_NTZ. The file source requires a *directory* (it
    * watches for new files), so the single test parquet is staged via
    * symlink into a temp dir — production would point at the landing
    * directory of a real feed. One staging dir per source path: the
    * session store's family is the path itself (the symlink follows a
    * rewritten file, so there is no source version to key on), and
    * repeated calls (each test, each restart) reuse the same link
    * instead of accumulating temp directories. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "events.parquet")
    val streamDir =
      if (java.nio.file.Files.isDirectory(src)) src.toString
      else graft.ops.SessionStore.dir(s"eventsStream|$src") { tmp =>
        val staged = java.nio.file.Files.createDirectory(
          java.nio.file.Paths.get(tmp))
        java.nio.file.Files.createSymbolicLink(
          staged.resolve("events.parquet"), src)
      }
    val onDiskTs = spark.read.parquet(streamDir).schema("ts").dataType
    normalizeStreamTs(spark.readStream
      .schema(rawSchemaFor(onDiskTs))
      .parquet(streamDir))
  }

  /** Tumbling 1-hour windowed aggregate with a 2-hour watermark —
    * the streaming form of `EventOps.hourlyRollup`. */
  def hourlyWindowed(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))

  /** Sliding 30-minute windows, 10-minute slide — the overlapping-
    * window shape. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Native streaming deduplication with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps each key's state only
    * until the watermark passes it, so state size is
    * O(rate × watermark), not O(all keys ever seen) — the difference
    * between a pipeline that survives a month of uptime and one that
    * OOMs (plain streaming `dropDuplicates` retains every key
    * forever). The documented semantic trade: a duplicate arriving
    * AFTER the watermark has evicted its key is re-emitted — at-least
    * -once dedup within the watermark horizon, which is the contract
    * upstream event buses (Kafka redeliveries cluster within
    * seconds–minutes) actually need. The artifact-backed exact
    * alternative for keys that must never repeat across days is
    * [[incrementalDedupSink]]'s anti-join against the persisted
    * index. Spec asserts in-watermark duplicates collapse to one row
    * and event parity with batch `dropDuplicates`. */
  def dedupWithinWatermark(events: DataFrame,
      horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming native session windows — the incremental form of
    * `EventOps.sessionWindows` (batch `session_window`, 30-minute
    * gap). Unlike [[sessionize]] (running per-user stats, update
    * mode), this emits CLOSED sessions only: in append mode a session
    * row is finalized exactly when the watermark passes its end
    * (last event + gap), so downstream sinks see each session once,
    * complete. State is the set of OPEN sessions — bounded by key
    * cardinality × gap, evicted by the watermark — and Spark merges
    * adjacent windows as late-but-in-watermark events arrive. The
    * parity claim (streamed closed sessions = the batch sessions past
    * the final watermark, and never a session batch doesn't have) is
    * asserted in EventStreamsSpec. */
  def sessionWindowed(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))

  /** Stream–stream interval join with watermarks on both sides: each
    * purchase joined to the same user's clicks from the preceding 10
    * minutes. Both watermarks bound the join state (clicks older than
    * watermark - interval are evicted), so state size is O(rate ×
    * interval), not unbounded — the canonical scalable shape for
    * stream correlation. Batch parity is asserted in the spec. */
  def purchaseClickStreamJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    purchases.join(clicks,
      expr("""p_user = c_user
        AND click_ts >= purchase_ts - INTERVAL 10 MINUTES
        AND click_ts <= purchase_ts"""))
  }

  /** Per-user session state for [[sessionize]]. */
  case class UserSession(user_id: Long, n_events: Long, total_value: Double,
      first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)

  case class EventRow(ts: java.sql.Timestamp, user_id: Long,
      value: Double)

  /** Custom stateful aggregation via flatMapGroupsWithState: per-user
    * running session stats, emitted on every trigger (update mode).
    * The state-per-key is O(1) — counts and bounds — so total state is
    * bounded by the user cardinality, not event volume. This is the
    * extension slot for arbitrary session logic (timeout-based session
    * splitting plugs into the GroupStateTimeout parameter). */
  def sessionize(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    events.select(col("ts"), col("user_id"), col("value")).as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSession, UserSession](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[UserSession]) =>
          val batch = rows.toSeq
          if (batch.isEmpty) Iterator.empty
          else {
            val prev = state.getOption.getOrElse(
              UserSession(uid, 0L, 0.0, batch.head.ts, batch.head.ts))
            val next = batch.foldLeft(prev) { (s, e) =>
              UserSession(uid, s.n_events + 1, s.total_value + e.value,
                if (e.ts.before(s.first_ts)) e.ts else s.first_ts,
                if (e.ts.after(s.last_ts)) e.ts else s.last_ts)
            }
            state.update(next)
            Iterator.single(next)
          }
      }.toDF()
  }

  /** Idempotent gold-layer sink via foreachBatch: each micro-batch is
    * anti-joined against the keys already in the gold directory before
    * appending — the streaming form of the reference's UNIQUE-key
    * dedup backstop (SURVEY.md §4), without a transactional table
    * format. Micro-batches execute sequentially per query, so the
    * read-check-append sequence is race-free; a replayed batch (e.g.
    * after checkpoint recovery) becomes a no-op instead of writing
    * duplicates. */
  def dedupAppendGold(df: DataFrame, goldDir: String, keyCol: String,
      checkpointDir: String): StreamingQuery = {
    val q = df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // presence of readable part files, not just the directory: an
        // empty first batch writes only _SUCCESS, and reading a
        // part-less dir throws schema-inference errors
        val hasData = graft.ops.StoreFiles.hasTopLevelParquet(goldDir)
        val fresh =
          if (hasData) {
            val existing = spark.read.parquet(goldDir).select(keyCol)
            batch.join(existing, Seq(keyCol), "left_anti")
          } else batch
        fresh.write.mode("append").parquet(goldDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** State-store hardening confs for large-state streaming: the
    * RocksDB provider keeps state on local disk with an in-memory
    * block cache, so state size is bounded by disk, not executor
    * heap — the 100 TB requirement for high-cardinality stateful ops
    * (per-user sessions, streaming dedup keys). Referenced by class
    * NAME (the provider is loaded reflectively by Spark), set on the
    * session conf before starting a stateful query; the checkpoint
    * records the provider, so a query keeps its store across
    * restarts. Output parity with the default HDFS-backed store and
    * restart behavior are asserted in EventStreamsSpec. */
  val RocksDbStateStoreConf: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Streaming incremental dedup — the production composition of
    * [[graft.ext.Dedup.incrementalAgainstIndex]] with the idempotent
    * gold-sink pattern: each micro-batch of documents is
    *
    *  1. anti-joined against the gold corpus's doc_ids (a replayed
    *     batch after checkpoint recovery becomes a no-op);
    *  2. verdict-ed against the persisted dedup index (fingerprint
    *     probe, LSH band probe of survivors, candidate verification);
    *  3. its `unique` docs appended to the gold corpus, then the
    *     index extended with those docs ([[graft.ext.Dedup.appendGoldIndex]]).
    *
    * Micro-batches run sequentially per query, so read-check-append
    * is race-free. Gold is written BEFORE the index: a crash between
    * the two writes leaves the index missing entries (recoverable —
    * rebuild from gold; duplicates of those docs are missed, never
    * invented), whereas index-first would make the replayed batch
    * match its own fingerprints and drop the docs entirely. Exact
    * dups WITHIN one micro-batch are intentionally kept (matching
    * the batch [[graft.ext.Dedup.incrementalSplit]] semantics, which
    * judge fresh docs against gold only); compose a batch-local
    * keep-first on the fingerprint upstream if within-batch dedup is
    * wanted. */
  private def hasParquet(dir: String): Boolean =
    graft.ops.StoreFiles.hasTopLevelParquet(dir)

  def incrementalDedupSink(docs: DataFrame, indexDir: String,
      goldDir: String, checkpointDir: String)
      : StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        StoreCommit.recover(goldDir)
        StoreCommit.recover(indexDir)
        val goldSeeded = StoreCommit.fileCount(goldDir) > 0
        // guard prologue + replay filter: graft.ops.SinkGuard owns
        // the watermark/marker trust protocol for every artifact sink.
        // Repair: a crash between the gold append and the index
        // append leaves gold docs the index never saw — and the
        // replay's anti-join (against GOLD) drops them, so without a
        // repair the index stays blind to them until a size-triggered
        // compaction happens to fire, admitting their duplicates as
        // "unique" into the append-only gold corpus. The rebuild from
        // gold is O(gold) but crash/adoption-gated only.
        graft.ops.SinkGuard.prologue(goldDir, "_ids_synced", goldSeeded,
          repair = Some(() => graft.ext.Dedup.rebuildIndex(
            spark, goldDir, indexDir)))
        // the anti-join fallback unions the permanent removed-id log
        // (Dedup.vacuumGold): a vacuumed doc absent from gold must
        // not read as never-admitted
        val fresh = graft.ops.SinkGuard.fresh(batch, goldDir, "doc_id",
          goldSeeded, {
            val stored = StoreCommit.read(spark, goldDir).select("doc_id")
            graft.ops.SinkGuard.removedIds(spark, goldDir)
              .map(r => stored.unionByName(r.select("doc_id")))
              .getOrElse(stored)
          })
        // the watermark covers the WHOLE batch (duplicates too — a
        // replayed dup would just re-judge duplicate), computed
        // before any append invalidates fresh's gold-reading lineage
        val batchMax = batch.agg(max(col("doc_id"))).head()
        // localCheckpoint (EAGER): the accepted set's lineage reads
        // the gold dir and the index dirs — the very paths the two
        // appends below write to. A lazily-cached plan that misses
        // the cache would re-execute AFTER the gold append and
        // anti-join the batch against itself (verified failure mode:
        // the index appends wrote zero rows). Checkpointing pins the
        // rows and truncates the lineage before any append happens.
        // probe the index AFTER the prologue: the repair above commits
        // a NEW version (a pre-repair resolution could name a
        // placeholder or a version the repair already deleted, miss
        // the fingerprints, and mis-take the "first batch seeds it"
        // branch — appending near-duplicates to gold unjudged); the
        // probe counts the committed list, never a listing with torn
        // junk.
        val uniques = (
          if (StoreCommit.subFileCount(indexDir, "fingerprints") > 0) {
            val verdicts = graft.ext.Dedup
              .incrementalAgainstIndex(spark, fresh, indexDir)
              .filter(col("verdict") === "unique").select("doc_id")
            fresh.join(verdicts, Seq("doc_id"))
          } else fresh // empty store: the first batch seeds it
        ).localCheckpoint()
        graft.ops.SinkGuard.commit(goldDir, "_ids_synced",
            if (batchMax.isNullAt(0)) None else Some(batchMax.getLong(0))) {
          StoreCommit.append(goldDir)(
            uniques.write.mode("append").parquet(_))
          graft.ext.Dedup.appendGoldIndex(uniques, indexDir)
        }
        // compaction policy: many small appends fragment the store;
        // past the file-count threshold the batch's tail rebuilds it
        // from gold (sequential per micro-batch, so race-free)
        graft.ext.Dedup.maybeCompactIndex(spark, goldDir, indexDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming drift monitor — the corpus-monitoring counterpart of
    * [[incrementalDedupSink]]: each micro-batch of documents folds
    * into the persisted (source, token) count artifact
    * ([[graft.ext.Selection.mergeTokenCountsArtifact]] — batch-sized
    * tokenize + vocab-bounded re-aggregate, exactly-once via the
    * in-directory batch-id marker), from which per-source JSD reads
    * at any moment ([[graft.ext.Selection.jsDivergenceFromArtifact]]).
    * Because counts are additive, the artifact after N batches equals
    * the full-corpus recompute bit for bit (EventStreamsSpec), while
    * the per-batch cost tracks the batch — the same steady-state
    * contract as the dedup index and label store.
    *
    * The monitor also emits a DECISION per batch (round-11 stretch):
    * before the merge, each batch source scores against the trailing
    * artifact ([[graft.ext.Selection.batchDriftScore]] — "did this
    * source's token distribution move?") and the thresholded verdict
    * appends to the alert log. Alert rows are keyed by batch_id and
    * written BEFORE the merge; a batch the counts artifact has
    * ALREADY applied (the `_batch_id` marker is at or past this id —
    * a checkpoint replay after a committed merge) skips the scoring
    * entirely, because re-scoring it would run against the
    * post-merge artifact, whose per-token floor quantization makes a
    * near-threshold verdict replay-dependent (the round-12 review
    * finding). The crash window that remains — alerts written, merge
    * not committed — re-appends rows scored against the SAME
    * pre-merge artifact, identical by determinism, and
    * [[driftAlerts]] collapses them on read. */
  val DriftThresholdMicronats = 200000L // 0.2 nats; JSD maxes at ln 2

  def driftMonitorSink(docs: DataFrame, countsDir: String,
      checkpointDir: String,
      alertThresholdMicronats: Long = DriftThresholdMicronats)
      : StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val root = graft.ext.Selection.tokenCountsRoot(countsDir)
        // replay guard: if the merge below already committed this
        // batch, its alert rows are already in the log and the
        // pre-merge artifact they were scored against is gone — skip,
        // don't re-score against the merged counts
        val applied = graft.ext.Selection.appliedBatchId(countsDir)
          .exists(_ >= batchId)
        if (StoreCommit.fileCount(root) > 0 && !applied) {
          // localCheckpoint (EAGER): the score's lineage reads the
          // committed artifact the merge below REPLACES — the same
          // pin-before-append discipline as the dedup sink
          graft.ext.Selection.batchDriftScore(
              StoreCommit.read(spark, root), batch)
            .withColumn("batch_id", org.apache.spark.sql.functions
              .lit(batchId))
            .withColumn("drifted",
              col("jsd_micronats") >= alertThresholdMicronats)
            .localCheckpoint()
            .write.mode("append").parquet(s"$countsDir/jsd_alerts.parquet")
        }
        graft.ext.Selection.mergeTokenCountsArtifact(
          spark, countsDir, batch, batchId)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** The drift DECISION log: one row per (batch, source) with the
    * batch-vs-trailing JSD and the thresholded flag. The sink's
    * replay guard keeps already-merged batches from re-scoring, so
    * the only duplicates that can reach the log are crash replays of
    * an UNcommitted merge — scored against the same pre-merge
    * artifact, hence identical by determinism — and the
    * max-aggregate collapses them; bounded at batches × sources. */
  def driftAlerts(spark: SparkSession, countsDir: String): DataFrame = {
    val path = s"$countsDir/jsd_alerts.parquet"
    if (!hasParquet(path)) {
      // no alert has ever fired (e.g. only the seeding batch ran, or
      // a checkpoint replay processed zero new batches) — an empty
      // decision log, not an error
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("batch_id", LongType),
          StructField("source", StringType),
          StructField("batch_tokens", LongType),
          StructField("jsd_micronats", LongType),
          StructField("drifted", BooleanType))))
    }
    spark.read.parquet(path)
      .groupBy(col("batch_id"), col("source"))
      .agg(max(col("batch_tokens")).as("batch_tokens"),
        max(col("jsd_micronats")).as("jsd_micronats"),
        max(col("drifted")).as("drifted"))
      .orderBy(col("batch_id"), col("source"))
  }

  /** Streaming vector ingest — the ANN-index counterpart of
    * [[incrementalDedupSink]]: micro-batches of (vec_id, label,
    * embedding) extend the gold vector corpus and its residual IVF-PQ
    * codes store. Codebooks are FROZEN inputs (trained once on a
    * sample — the FAISS production contract: retraining is an index
    * REBUILD, not an append), which is what makes the per-batch
    * encode a deterministic map and streamed-store == full-re-encode
    * exact ([[graft.ext.ProductQuant.encodeFrameResidual]]).
    *
    * Per micro-batch:
    *  1. replay guard: vec_ids already in gold drop (a checkpoint-
    *     recovered batch becomes a no-op);
    *  2. fresh vectors append to gold (source of truth), THEN their
    *     codes append to the cell-partitioned store — codes are
    *     DERIVED state, so the crash window between the two writes
    *     loses nothing: a rebuild from gold
    *     ([[graft.ext.ProductQuant.maybeCompactCodes]]) restores it;
    *  3. past the part-file threshold (appends write one file per
    *     touched cell per batch) the store compacts by rebuilding
    *     from gold to ~one file per cell. */
  def incrementalVectorIndexSink(vectors: DataFrame,
      coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]],
      codesDir: String, goldDir: String,
      checkpointDir: String)
      : StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val q = vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        StoreCommit.recover(goldDir)
        StoreCommit.recover(codesDir)
        val goldSeeded = StoreCommit.fileCount(goldDir) > 0
        // repair: the gold→codes append window (gold rows whose codes
        // never landed) — the replay anti-joins against gold and would
        // otherwise never re-encode them; the rebuild is the same
        // derived-state recovery maybeCompactCodes runs, crash-gated
        graft.ops.SinkGuard.prologue(goldDir, "_ids_synced", goldSeeded,
          repair = Some(() => graft.ext.ProductQuant.rebuildCodes(
            spark, goldDir, codesDir, coarse, rcbs)))
        // localCheckpoint (EAGER): the fresh set's lineage reads the
        // gold dir this batch appends to — same re-execution hazard
        // as incrementalDedupSink's accepted set
        // the anti-join fallback unions the permanent removed-id log
        // (ProductQuant.vacuumVectorGold): a vacuumed vector absent
        // from gold must not read as never-admitted
        val fresh = graft.ops.SinkGuard.fresh(batch, goldDir, "vec_id",
          goldSeeded, {
            val stored = StoreCommit.read(spark, goldDir).select("vec_id")
            graft.ops.SinkGuard.removedIds(spark, goldDir)
              .map(r => stored.unionByName(r.select("vec_id")))
              .getOrElse(stored)
          })
          .localCheckpoint()
        val mx = fresh.agg(max(col("vec_id"))).head() // pinned frame
        graft.ops.SinkGuard.commit(goldDir, "_ids_synced",
            if (mx.isNullAt(0)) None else Some(mx.getLong(0))) {
          StoreCommit.append(goldDir)(fresh.write.mode("append").parquet(_))
          StoreCommit.append(codesDir) { live =>
            graft.ext.ProductQuant.encodeFrameResidual(
              fresh.select(col("vec_id"), col("label"),
                col("embedding").cast("array<double>").as("v")),
              coarse, rcbs)
              .write.mode("append").partitionBy("cell")
              .parquet(live)
          }
        }
        graft.ext.ProductQuant.maybeCompactCodes(
          spark, goldDir, codesDir, coarse, rcbs)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming SemDeDup — the semantic-cells counterpart of
    * [[incrementalVectorIndexSink]] (round-12 verdict task #2): each
    * micro-batch of (vec_id, …, embedding) rows is encoded under
    * FROZEN quantizers (trained once on a gold sample — the same
    * retrain-is-a-rebuild contract as the PQ codes store), judged
    * against the accumulated cell store for semantic near-dups, and
    * appended. Per micro-batch:
    *
    *  1. replay guard: vec_ids already in the cells store drop (a
    *     checkpoint-recovered batch becomes a no-op);
    *  2. map-only assignment
    *     ([[graft.ext.Dedup.assignSemanticCells]]) + delta verdicts
    *     ([[graft.ext.Dedup.batchSemanticDups]] — batch broadcast,
    *     gold side partition-PRUNED to the batch's touched cells, so
    *     per-batch work tracks |batch| · cell-size, never the
    *     corpus), both eagerly pinned (their lineage reads the very
    *     store the appends below write);
    *  3. the batch's cells append (partition-local, one file per
    *     touched cell), THEN its verdicts — the store is the source
    *     of truth and verdicts are DERIVED state (a vec's dup_of is
    *     its cell's min lower-id neighbor within threshold, fully
    *     recomputable from the store), so the crash window between
    *     the two writes loses nothing [[repairSemanticVerdicts]]
    *     cannot re-derive;
    *  4. past the part-file threshold the store compacts
    *     ([[graft.ext.Dedup.maybeCompactSemanticCells]] — rewrite
    *     toward one file per cell through [[graft.ops.StoreCommit]];
    *     self-contained store, no gold needed; the sink recovers the
    *     store at batch start).
    *
    * Verdict-currency contract (shared with the batch append path,
    * [[graft.ext.Dedup.batchSemanticDups]]): vec_ids must be assigned
    * at ingest (monotone across batches), so later batches only add
    * HIGHER ids and can never change an already-recorded verdict —
    * which is what makes the accumulated log equal the full-store
    * recompute ([[graft.ext.Dedup.semanticDedupFromCells]]), asserted
    * hash-exact in EventStreamsSpec along with streamed-store ==
    * one-shot-assignment equality. */
  def semanticDedupSink(vectors: DataFrame,
      coarse: Seq[(Int, Seq[Double])],
      subs: Seq[Seq[(Int, Seq[Double])]], subK: Int,
      cellsDir: String, verdictsDir: String,
      checkpointDir: String)
      : StreamingQuery = {
    val q = vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val spark = raw.sparkSession
        val batch = raw.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        // close any crash window of the compaction's whole-store
        // replace BEFORE probing the store: existence checks + small
        // deletes only, cheap every batch
        StoreCommit.recover(cellsDir)
        StoreCommit.recover(verdictsDir)
        // the probe counts the COMMITTED list (cell-partitioned files
        // included)
        val storeSeeded = StoreCommit.fileCount(cellsDir) > 0
        // guard state (marker + watermark) lives at the store ROOT and
        // survives the compaction's version flips, so the prologue
        // repair stays crash-gated
        // repair: the cells→verdicts append window — stored vectors
        // whose verdict row never landed get one re-derived from the
        // store itself (exact, idempotent; crash-gated only)
        graft.ops.SinkGuard.prologue(cellsDir, "_ids_synced",
          storeSeeded, repair = Some(() =>
            repairSemanticVerdicts(spark, cellsDir, verdictsDir)))
        // the anti-join fallback unions the permanent removed-id log
        // (Dedup.removeSemanticVectors): a taken-down id absent from
        // the store must not read as never-admitted
        val fresh = graft.ops.SinkGuard.fresh(batch, cellsDir,
          "vec_id", storeSeeded, {
            val stored = StoreCommit.read(spark, cellsDir).select("vec_id")
            graft.ops.SinkGuard.removedIds(spark, cellsDir)
              .map(r => stored.unionByName(r.select("vec_id")))
              .getOrElse(stored)
          })
        val batchCells = graft.ext.Dedup
          .assignSemanticCells(fresh, coarse, subs, subK)
          .localCheckpoint()
        if (!batchCells.isEmpty) {
          val goldCells =
            if (storeSeeded)
              StoreCommit.read(spark, cellsDir).select(col("vec_id"),
                col("cell").cast("int").as("cell"), col("v"))
            else emptyCells(spark)
          val verdicts = graft.ext.Dedup
            .batchSemanticDups(goldCells, batchCells)
            .localCheckpoint()
          val batchMax =
            batchCells.agg(max(col("vec_id"))).head().getLong(0)
          graft.ops.SinkGuard.commit(cellsDir, "_ids_synced",
              Some(batchMax)) {
            StoreCommit.append(cellsDir) { live =>
              batchCells.write.mode("append").partitionBy("cell")
                .parquet(live)
            }
            StoreCommit.append(verdictsDir)(
              verdicts.write.mode("append").parquet(_))
          }
          graft.ext.Dedup.maybeCompactSemanticCells(spark, cellsDir)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming lexical-index maintenance — the BM25 postings store
    * ([[graft.ext.Retrieval.writeBm25Index]]) kept current over
    * ARRIVING document batches, completing the artifact-sink family
    * (dedup index, PQ codes, semantic cells, and now the inverted
    * index). Per micro-batch:
    *
    *  1. crash recovery ([[graft.ext.Retrieval.recoverBm25Store]]),
    *     GATED on the `_committed_synced` marker dropped before and
    *     re-created after each append (steady state pays one
    *     existence probe): any postings rows whose doc never reached
    *     the COMMITTED log are leftovers of a torn append
    *     (FileOutputCommitter moves task files non-atomically, and a
    *     doc's postings span multiple tbucket partition files —
    *     part-file presence is NOT doc completeness, the round-13
    *     ADVICE finding) and are removed, with meta re-derived;
    *  2. replay guard: doc_ids already in the committed log drop (a
    *     checkpoint-recovered batch becomes a no-op) — keyed on the
    *     commit marker, NOT raw part-file presence, so a torn doc is
    *     re-processed instead of being treated as seen forever;
    *  3. first batch SEEDS the store
    *     ([[graft.ext.Retrieval.writeBm25Index]]); later batches
    *     append ([[graft.ext.Retrieval.appendBm25Index]] — postings
    *     rows are per-(doc, term) and doc-local, and meta merges the
    *     EXACT integer stats by summation, so the accumulated store
    *     answers bit-identically to a one-shot rebuild on the union
    *     (the gated `rag_bm25_index_append` argument; asserted
    *     stream-vs-live in EventStreamsSpec); both writers mark the
    *     batch's doc_ids committed LAST;
    *  4. past the file threshold the store compacts toward one file
    *     per term bucket
    *     ([[graft.ext.Retrieval.maybeCompactPostings]], the
    *     2×-bucket-floor policy, through [[graft.ops.StoreCommit]] —
    *     postings are this store's source of truth).
    *
    * Crash windows, all closed by step 1 + the commit ordering:
    * inside the postings append, or between postings/meta/commit —
    * the batch's docs are uncommitted in every case, so recovery
    * removes whatever landed (half a doc or all of it) and the replay
    * re-processes the batch from scratch. */
  def lexicalIndexSink(docs: DataFrame, storeDir: String,
      checkpointDir: String)
      : StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val spark = raw.sparkSession
        // commit-protocol recovery runs UNCONDITIONALLY — it is only
        // existence checks and small deletes, and it must not hide
        // behind the marker: compaction runs AFTER the marker is
        // re-created, so a crash inside either of its replace windows
        // (postings or committed log) leaves the marker present with
        // a half-done commit
        StoreCommit.recover(s"$storeDir/postings")
        StoreCommit.recover(graft.ext.Retrieval.committedDir(storeDir))
        StoreCommit.recover(s"$storeDir/meta")
        // the full recovery is an O(doc_ids) scan, so it is GATED on
        // the sync marker (SinkGuard.prologue with gate = true: a
        // store seeded OUTSIDE the sink has no marker yet — its first
        // batch runs one recovery, which also bootstraps a missing
        // committed log from committed postings, and arms it).
        graft.ops.SinkGuard.prologue(storeDir, "_committed_synced",
          gate = true, repair = Some(() =>
            { graft.ext.Retrieval.recoverBm25Store(spark, storeDir); () }))
        // heal a torn takedown vacuum (round 17): removals pending
        // with the consistency marker down means a vacuum crashed
        // between its flips — finishing it here keeps the serve-side
        // stat correction exact without any operator intervention.
        // Steady state pays two existence probes.
        graft.ext.Retrieval.recoverBm25Takedown(spark, storeDir)
        val batchTd = raw
          .select(col("doc_id"),
            graft.ext.TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)
        // post-recovery invariant: every posted doc is committed, so
        // the committed log is the complete seen-set (and unlike raw
        // part-file presence it can never claim a half-present doc).
        // Probes and the fallback read resolve the COMMITTED file
        // list, never a listing a torn job commit could have polluted.
        val committedStore = graft.ext.Retrieval.committedDir(storeDir)
        val seeded = StoreCommit.fileCount(s"$storeDir/postings") > 0 &&
          StoreCommit.fileCount(committedStore) > 0
        val fresh = graft.ops.SinkGuard.fresh(batchTd, storeDir,
            "doc_id", seeded,
            StoreCommit.read(spark, committedStore).select("doc_id").distinct())
          .localCheckpoint()
        if (!fresh.isEmpty) {
          val batchMax = fresh.agg(max(col("doc_id"))).head().getLong(0)
          graft.ops.SinkGuard.commit(storeDir, "_committed_synced",
              Some(batchMax)) {
            if (seeded)
              graft.ext.Retrieval.appendBm25Index(spark, fresh,
                storeDir)
            else graft.ext.Retrieval.writeBm25Index(fresh, storeDir)
          }
          graft.ext.Retrieval.maybeCompactPostings(spark, storeDir)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Rebuild `meta/` from the postings store (exact — meta is fully
    * derived: postings carry one (dl) value per doc replicated across
    * its term rows, so n_docs = distinct docs and sum_dl sums one row
    * per doc). With the committed-log protocol this is subsumed by
    * [[graft.ext.Retrieval.recoverBm25Store]] (which also removes
    * torn postings); kept as the standalone meta repair for stores
    * maintained through the batch append API. */
  def repairBm25Meta(spark: SparkSession, storeDir: String): Unit =
    if (StoreCommit.fileCount(s"$storeDir/postings") > 0)
      graft.ext.Retrieval.rederiveMeta(spark, storeDir)

  /** Empty (vec_id, cell, v) frame — the gold side of a first batch
    * seeding an empty semantic-cells store. */
  private def emptyCells(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("cell", IntegerType),
        StructField("v", ArrayType(DoubleType)))))

  /** Streaming kNN-edges maintenance (round-13 verdict #5) — the
    * edges artifact ([[graft.ext.ClusterOps.writeKnnEdges]]) kept
    * current over ARRIVING vector batches, closing the graph
    * lifecycle the way [[semanticDedupSink]] closed SemDeDup's. The
    * quantizer is a FROZEN input captured in the `assign` closure —
    * (vec_id, v) → (vec_id, cell, v), map-only — so the same sink
    * rides the coarse quantizer at base scale and the sub-quantized
    * K ∝ N assignment ([[graft.ext.Dedup.assignSemanticCells]]) at
    * 100× (the retrain-is-a-rebuild contract every artifact sink
    * shares). Per micro-batch:
    *
    *  1. crash repair ([[graft.ext.ClusterOps.repairKnnEdges]]),
    *     GATED on the `_cells_synced` marker the happy path drops
    *     before and re-creates after its two-store update — steady
    *     state pays one existence probe; only a batch that actually
    *     crashed between the cells append and the edges update pays
    *     the O(store) consistency scan (any cell whose edge
    *     partition disagrees with the cells store on count or
    *     owner-set recomputes, covering torn dynamic-overwrite
    *     commits too);
    *  2. replay guard: vec_ids already in the cells store drop (the
    *     committed [[graft.ops.StoreCommit.fileCount]] probe — the
    *     store is cell-partitioned);
    *  3. the batch assigns under the frozen quantizer (map-only,
    *     eagerly pinned — its lineage reads the store the append
    *     writes), appends to the cells store, THEN the batch's
    *     touched cells' edge partitions DELTA-merge and overwrite in
    *     place ([[graft.ext.ClusterOps.appendKnnEdges]] — stored
    *     gold edges ∪ batch-involving pairs re-ranked, |batch|·cell
    *     work: the first StreamScaleUp run measured the full
    *     touched-cell recompute growing 20 → 103 s per batch as
    *     cells accumulated, the defect the delta form removes);
    *  4. the CELLS store compacts past the file threshold
    *     ([[graft.ext.Dedup.maybeCompactSemanticCells]]); the edges
    *     store needs NO compaction — every partition update is a
    *     whole-partition overwrite repartitioned to one file per
    *     cell, so fragmentation cannot accumulate.
    *
    * Monotone-id contract (shared with every artifact append):
    * batches carry strictly increasing vec_ids, so batchFrom = the
    * batch's min id cleanly marks the batch inside the merged store.
    * Stream-accumulated edges == one-shot [[graft.ext.ClusterOps.writeKnnEdges]]
    * on the final corpus, asserted EXACT in EventStreamsSpec. */
  def knnEdgesSink(vectors: DataFrame,
      assign: DataFrame => DataFrame,
      cellsDir: String, edgesDir: String,
      checkpointDir: String)
      : StreamingQuery =
    knnGraphSink(vectors, assign, cellsDir, edgesDir, None,
      checkpointDir)

  /** [[knnEdgesSink]] one level up (round-14 stretch #7): when
    * `labelsDir` is given, each micro-batch ALSO folds the touched
    * cells into the community-labels artifact
    * ([[graft.ext.ClusterOps.appendKnnCommunityLabels]] — per-cell CC
    * relabel + dynamic partition overwrite, sound by
    * cell-confinement), closing the last live-only form in the graph
    * family: cells → edges → communities all maintained streaming.
    * The labels update rides the SAME `_cells_synced` window as the
    * edges update, and the marker-gated repair extends to the labels
    * store ([[graft.ext.ClusterOps.repairKnnCommunityLabels]] — one
    * bounded aggregate per store). Stream labels == one-shot
    * [[graft.ext.ClusterOps.writeKnnCommunityLabels]] rebuild,
    * asserted EXACT in EventStreamsSpec. */
  def knnGraphSink(vectors: DataFrame,
      assign: DataFrame => DataFrame,
      cellsDir: String, edgesDir: String,
      labelsDir: Option[String],
      checkpointDir: String)
      : StreamingQuery = {
    val q = vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val spark = raw.sparkSession
        // close any crash window of the cells compaction's
        // whole-store replace BEFORE the seeded probe (repairKnnEdges
        // cannot rebuild cells). The edges/labels stores keep their
        // dynamic-partition-overwrite + consistency-repair protocol —
        // the repair detects torn partition commits from layout +
        // content (count/owner-set disagreement vs the cells store),
        // never from rename atomicity, so it is scheme-agnostic by
        // construction.
        StoreCommit.recover(cellsDir)
        val storeSeeded = StoreCommit.fileCount(cellsDir) > 0
        // repair is O(store) (two consistency aggregates), so it is
        // GATED on the sync marker the happy path maintains below:
        // steady state pays one existence probe, and only a batch
        // that actually crashed between the cells append and the
        // edges update (marker absent) pays the scan
        graft.ops.SinkGuard.prologue(edgesDir, "_cells_synced",
          storeSeeded, repair = Some(() => {
            graft.ext.ClusterOps.repairKnnEdges(spark, cellsDir,
              edgesDir)
            labelsDir.foreach(ld => graft.ext.ClusterOps
              .repairKnnCommunityLabels(spark, cellsDir, ld))
          }))
        val batch = raw.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        // the anti-join fallback unions the permanent removed-id log:
        // a takedown (ClusterOps.removeKnnVectors) empties ids from
        // the store, and "absent" must not read as "never admitted"
        val fresh = graft.ops.SinkGuard.fresh(batch, edgesDir,
          "vec_id", storeSeeded, {
            val stored = StoreCommit.read(spark, cellsDir).select("vec_id")
            graft.ops.SinkGuard.removedIds(spark, edgesDir)
              .map(r => stored.unionByName(r.select("vec_id")))
              .getOrElse(stored)
          })
        val assigned = assign(fresh)
          .select(col("vec_id"), col("cell"), col("v"))
          .localCheckpoint()
        if (!assigned.isEmpty) {
          val Array(batchFrom, batchMax) = assigned
            .agg(min(col("vec_id")), max(col("vec_id"))).head() match {
              case r => Array(r.getLong(0), r.getLong(1))
            }
          graft.ops.SinkGuard.commit(edgesDir, "_cells_synced",
              Some(batchMax)) {
            StoreCommit.append(cellsDir) { live =>
              assigned.write.mode("append").partitionBy("cell")
                .parquet(live)
            }
            // touched-cells-only read (round-14 verdict nit): the
            // appends only ever need the batch's cells' members, so
            // the partition filter is EXPLICIT at the store read
            // instead of relying on pushdown through the appends'
            // internal filter — self-documenting, and the plan stays
            // pruned even if a future store layout breaks pushdown.
            // Bounded collect: the batch's distinct cells,
            // ≤ min(cell count, batch size).
            val touchedCells = assigned.select(col("cell")).distinct()
              .collect().map(_.get(0).toString.toInt).sorted
              .map(Integer.valueOf)
            val storeCells = StoreCommit.read(spark, cellsDir)
              .select(col("vec_id"), col("cell").cast("int").as("cell"),
                col("v"))
              .filter(col("cell").isin(touchedCells: _*))
            graft.ext.ClusterOps.appendKnnEdges(spark, edgesDir,
              storeCells, batchFrom)
            // labels SEED must see EVERY stored cell, not the touched
            // pruning: appendKnnCommunityLabels' empty-store branch
            // writes exactly the cells it is given, and a pruned seed
            // would leave the untouched cells permanently label-less
            // (the marker-gated repair never fires on healthy
            // batches). Steady-state appends keep the pruned read.
            labelsDir.foreach { ld =>
              val seedNeeded =
                graft.ops.StoreFiles.partitionDirCount(ld, "cell=") == 0
              val labelInput =
                if (seedNeeded) StoreCommit.read(spark, cellsDir)
                  .select(col("vec_id"),
                    col("cell").cast("int").as("cell"), col("v"))
                else storeCells
              graft.ext.ClusterOps
                .appendKnnCommunityLabels(spark, ld, labelInput,
                  batchFrom)
            }
          }
          graft.ext.Dedup.maybeCompactSemanticCells(spark, cellsDir)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming cluster-card maintenance (round-15): the
    * card-aggregate artifact
    * ([[graft.ext.ClusterOps.writeClusterCardAgg]]) kept current over
    * ARRIVING document batches — the last report family with no
    * stream form. Input contract: each batch carries
    * (doc_id, label, source, n_tokens) plus whatever `assign` needs
    * (the embedding column) and MONOTONE doc_ids; `assign` maps the
    * fresh batch under a FROZEN quantizer to the same columns plus
    * `cluster` (retrain-is-a-rebuild, like every artifact sink).
    *
    * This sink is deliberately SIMPLER than its siblings — no sync
    * marker, no repair scan: the card fold is a non-idempotent
    * aggregate over a store that holds no ids, so a crashed batch
    * cannot be detected from store contents at all. Instead the fold
    * and the replay watermark commit ATOMICALLY
    * ([[graft.ext.ClusterOps.foldClusterCardAgg]] — the whole bounded
    * store replaces through [[graft.ops.StoreCommit]] with the
    * `_id_watermark` inside the version), so after recovery at batch
    * start the store and its watermark are always mutually
    * consistent: a replayed batch either re-folds in full (crash
    * before the flip — the fold was lost with it) or drops in full
    * (crash after — the watermark advanced with the fold).
    * Exactly-once without a repair path.
    *
    * A store seeded OUTSIDE the sink must carry a watermark in its
    * committed version (write [[graft.ops.StoreFiles.writeIdWatermark]]
    * into the version the seeding `StoreCommit.replace` commits): with
    * no ids stored, replay protection cannot be re-derived, and the
    * sink refuses loudly rather than risk a silent double-count.
    * Stream-accumulated card == one-shot
    * [[graft.ext.ClusterOps.writeClusterCardAgg]] rebuild, asserted
    * EXACT in EventStreamsSpec; read it with
    * [[graft.ext.ClusterOps.clusterCardFromStore]]. */
  def clusterCardSink(docs: DataFrame,
      assign: DataFrame => DataFrame,
      aggDir: String, checkpointDir: String): StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val spark = raw.sparkSession
        // closes every commit crash window; afterwards store+watermark
        // are the last atomically-committed pair
        StoreCommit.recover(aggDir)
        val seeded = StoreCommit.subFileCount(aggDir, "src") > 0
        val wm = graft.ops.StoreFiles.readIdWatermark(
          StoreCommit.readDir(aggDir))
        require(!seeded || wm.isDefined,
          s"card-agg store at $aggDir has no replay watermark: the " +
            "card fold is non-idempotent and the store holds no ids, " +
            "so replay protection cannot be re-derived — seed through " +
            "this sink, or write StoreFiles.writeIdWatermark (the max " +
            "folded doc_id) into the seeding version")
        val fresh = wm match {
          case Some(w) if seeded => raw.filter(col("doc_id") > w)
          case _ => raw
        }
        // pinned: isEmpty + max + the fold's two aggregates all read it
        val batchJ = assign(fresh)
          .select(col("doc_id"), col("cluster"), col("label"),
            col("source"), col("n_tokens"))
          .localCheckpoint()
        if (!batchJ.isEmpty) {
          val batchMax = batchJ.agg(max(col("doc_id"))).head().getLong(0)
          graft.ext.ClusterOps.foldClusterCardAgg(spark, aggDir, batchJ,
            batchMax)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming word-histogram maintenance for the BPE trainer
    * ([[graft.ext.Bpe]]): the vocabulary-sized `(word, n)` store kept
    * current over arriving document batches, so tokenizer training
    * reads a maintained artifact instead of re-scanning the corpus —
    * at 100 TB the histogram build is the trainer's ONLY corpus-sized
    * stage, and this sink amortizes it to one scan of each batch as
    * it arrives. Input contract: document batches with MONOTONE
    * doc_ids (the artifact-sink family contract).
    *
    * Commit protocol is the card sink's, for the same structural
    * reason: the fold is a non-idempotent sum into a store holding no
    * doc ids, so replay protection cannot be re-derived from contents
    * — fold + `_id_watermark` commit atomically
    * ([[graft.ext.Bpe.foldWordHist]] replaces the whole
    * vocabulary-bounded store), recovery at batch start makes
    * store+watermark the last committed pair, and a foreign store
    * without a watermark is REFUSED (seed via
    * [[graft.ext.Bpe.writeWordHistStore]]). Stream-accumulated hist ==
    * one-shot [[graft.ext.Bpe.wordHist]], and the merges trained from
    * the store equal the batch-trained merges — asserted EXACT in
    * EventStreamsSpec. */
  def wordHistSink(docs: DataFrame, histDir: String,
      checkpointDir: String,
      wordPattern: String = graft.ext.Bpe.WordPattern): StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val spark = raw.sparkSession
        StoreCommit.recover(histDir)
        val seeded = StoreCommit.subFileCount(histDir, "hist") > 0
        val wm = graft.ops.StoreFiles.readIdWatermark(
          StoreCommit.readDir(histDir))
        require(!seeded || wm.isDefined,
          s"word-hist store at $histDir has no replay watermark: the " +
            "sum fold is non-idempotent and the store holds no ids — " +
            "seed through Bpe.writeWordHistStore, or write " +
            "StoreFiles.writeIdWatermark (the max folded doc_id) into " +
            "the seeding version")
        val fresh = wm match {
          case Some(w) if seeded => raw.filter(col("doc_id") > w)
          case _ => raw
        }
        // pinned: isEmpty + max + the fold all read it
        val batchHist = graft.ext.Bpe.wordHist(fresh, wordPattern)
          .localCheckpoint()
        if (!batchHist.isEmpty) {
          val batchMax = fresh.agg(max(col("doc_id"))).head().getLong(0)
          graft.ext.Bpe.foldWordHist(spark, histDir, batchHist, batchMax)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming maintenance of a z-ordered store
    * ([[graft.pipeline.ZOrderLayout]]) — the lakehouse OPTIMIZE
    * analog: arriving fact batches land as raw delta subdirs (cheap,
    * no re-sort per trigger) and fold into the z-ordered base when
    * [[graft.pipeline.ZOrderLayout.CompactAfter]] deltas accumulate,
    * so point/range readers keep tight file envelopes on BOTH keys
    * while the write path stays append-shaped. Input contract:
    * batches MONOTONE in `idCol` and split between id values.
    *
    * Exactly-once without a marker/repair pair, differently from the
    * sibling sinks: the delta dir NAME is a pure function of the fresh
    * row set (its max id), so a replayed batch whose delta is already
    * committed is a no-op; the watermark scalar is an optimization
    * whose loss merely re-derives from the committed tiers
    * ([[graft.pipeline.ZOrderLayout.storeWatermark]]). Every tier
    * commits through [[graft.ops.StoreCommit]]. Stream content ==
    * source EXACT through crash + replay, asserted in ZOrderSpec. */
  def zorderStoreSink(rows: DataFrame, store: String,
      checkpointDir: String, x: String, y: String, idCol: String)
      : StreamingQuery = {
    import graft.pipeline.ZOrderLayout
    val q = rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (raw: DataFrame, _: Long) =>
        val spark = raw.sparkSession
        StoreCommit.recover(store)
        val wm = ZOrderLayout.storeWatermark(spark, store, idCol)
        val fresh = wm.map(w => raw.filter(col(idCol) > w))
          .getOrElse(raw).localCheckpoint()
        if (!fresh.isEmpty) {
          ZOrderLayout.appendDelta(fresh, store, idCol)
          ZOrderLayout.maybeCompactStore(spark, store, x, y, idCol)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Close [[semanticDedupSink]]'s crash window between the cells
    * append and the verdict append: any stored vector missing a
    * verdict row gets one re-derived from the store itself. Feeding
    * the missing rows back through
    * [[graft.ext.Dedup.batchSemanticDups]] against the FULL store is
    * exact: cand = self is excluded by the strict lower-id filter,
    * batch-side duplicates of store rows cannot move the min
    * aggregate, and the gold side still prunes to touched cells — so
    * a repaired log equals the crash-free one. */
  def repairSemanticVerdicts(spark: SparkSession, cellsDir: String,
      verdictsDir: String): Unit = {
    if (StoreCommit.fileCount(cellsDir) == 0) return
    val stored = StoreCommit.read(spark, cellsDir).select(col("vec_id"),
      col("cell").cast("int").as("cell"), col("v"))
    val missing =
      if (StoreCommit.fileCount(verdictsDir) > 0)
        stored.join(StoreCommit.read(spark, verdictsDir).select("vec_id"),
          Seq("vec_id"), "left_anti")
      else stored
    val repaired = graft.ext.Dedup
      .batchSemanticDups(stored, missing.localCheckpoint())
      .localCheckpoint()
    StoreCommit.append(verdictsDir)(repaired.write.mode("append").parquet(_))
  }

  /** Streaming curation — the sketch pipeline run over ARRIVING
    * document batches (round-8/9 stretch, landed here): every stage of
    * [[graft.ext.Curation.curationPipelineSketch]] re-expressed
    * against accumulated state via
    * [[graft.ext.Curation.curateBatch]], wired into the same
    * idempotent gold-before-index sink discipline as
    * [[incrementalDedupSink]]. Per micro-batch:
    *
    *  1. replay guard: docs already in the accepted gold corpus OR the
    *     disposition log are dropped (a checkpoint-recovered batch
    *     becomes a no-op);
    *  2. dispositions computed ([[graft.ext.Curation.curateBatch]]:
    *     holdout/quality/sampling map work, dedup verdicts against the
    *     persisted index, Bloom decontamination against the prebuilt
    *     eval bitmask, split by own-id decile) and EAGERLY pinned —
    *     their lineage reads the very dirs the appends below write;
    *  3. accepted docs (disposition ∈ train/validation/test) append to
    *     gold, THEN the dedup index extends with them, THEN the full
    *     disposition log appends.
    *
    * Write order = recoverability order: gold is the source of truth;
    * the index is derived (rebuildable — [[graft.ext.Dedup.rebuildIndex]]);
    * the disposition log is last so a crash can only lose rows that
    * [[repairCurationDispositions]] re-derives deterministically (a
    * gold doc without a disposition row was accepted, and its split
    * re-derives from its id). Replayed docs that were fully recorded
    * are dropped by guard 1 either way. */
  def streamingCurationSink(docs: DataFrame, evalBitmask: Array[Long],
      indexDir: String, goldDir: String, dispDir: String,
      checkpointDir: String): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val goldSeen =
          if (StoreCommit.fileCount(goldDir) > 0)
            Seq(StoreCommit.read(spark, goldDir).select("doc_id"))
          else Nil
        val dispSeen =
          if (hasParquet(dispDir))
            Seq(spark.read.parquet(dispDir).select("doc_id"))
          else Nil
        val fresh = (goldSeen ++ dispSeen)
          .foldLeft(batch)((b, seen) => b.join(seen, Seq("doc_id"), "left_anti"))
        val disp = graft.ext.Curation
          .curateBatch(spark, fresh, evalBitmask, indexDir)
          .localCheckpoint()
        val accepted = fresh.join(
          disp.filter(col("disposition")
              .isin("train", "validation", "test"))
            .select("doc_id"),
          Seq("doc_id")).localCheckpoint()
        StoreCommit.append(goldDir)(accepted.write.mode("append").parquet(_))
        graft.ext.Dedup.appendGoldIndex(accepted, indexDir)
        disp.write.mode("append").parquet(dispDir)
        graft.ext.Dedup.maybeCompactIndex(spark, goldDir, indexDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Close [[streamingCurationSink]]'s crash window between the gold
    * append and the disposition append: any gold doc with no
    * disposition row was accepted (write order guarantees it), and an
    * accepted doc's split re-derives deterministically from its id —
    * so the repair appends exactly the lost rows and a repaired log
    * equals the crash-free one. */
  def repairCurationDispositions(spark: SparkSession, goldDir: String,
      dispDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    if (StoreCommit.fileCount(goldDir) == 0) return
    val gold = StoreCommit.read(spark, goldDir).select("doc_id")
    val missing =
      if (hasParquet(dispDir))
        gold.join(spark.read.parquet(dispDir).select("doc_id"),
          Seq("doc_id"), "left_anti")
      else gold
    missing
      .select(col("doc_id"),
        graft.ext.Curation.streamSplit(col("doc_id")).as("disposition"))
      .localCheckpoint()
      .write.mode("append").parquet(dispDir)
  }

  /** Run a streaming frame to completion into an in-memory table
    * (test/local harness; production uses a durable sink +
    * checkpointLocation). Output mode is a parameter: windowed
    * aggregates use "complete", flatMapGroupsWithState plans declare
    * "update". Returns the query for teardown. */
  def runToMemory(df: DataFrame, name: String,
      outputMode: String = "complete"): StreamingQuery = {
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q
  }
}
