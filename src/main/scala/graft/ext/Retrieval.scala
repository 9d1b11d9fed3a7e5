package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.SkewOps
import graft.ops.StoreCommit

/** Lexical retrieval (BM25) and hybrid lexical+vector fusion — the
  * search surface the ANN ladder lacks. A training-data platform
  * serves retrieval two ways: dense (the `sim_*` IVF/PQ rungs) and
  * sparse lexical (BM25 over an inverted index — what Elasticsearch/
  * Lucene/Anserini run); production RAG stacks fuse both lists with
  * reciprocal-rank fusion (Cormack, Clarke, Büttcher, SIGIR 2009).
  * This module adds the sparse rung and the fusion on top of the
  * already-gated dense rung.
  *
  * Query model: a "query" is the first [[QueryTerms]] distinct tokens
  * (by first position, token-ascending tie-break) of a query
  * document — the [[Similarity.queryVec]] min-id convention extended
  * to a deterministic BATCH of the [[BatchQueries]] lowest doc_ids,
  * so the oracle can replay query construction exactly.
  *
  * Scoring discipline (the [[Selection.QuantNats]] rule): BM25's only
  * transcendental, ln in the idf, is quantized to integer micro-nats
  * per TERM; the tf/length part is a fixed tree of correctly-rounded
  * IEEE ops over exact integers (tf, dl) and shared double literals
  * (k1=1.2, b=0.75, avgdl — itself one exact-int division), floored
  * to BIGINT per (term, doc) BEFORE the document sum, so scores are
  * exact integer sums and ranks are engine-independent.
  *
  * Shape at scale — the reason BM25 is cheap at 100 TB: query terms
  * are a BOUNDED set (queries × [[QueryTerms]]), so the corpus-sized
  * token explosion is filtered by a broadcast semi-join BEFORE any
  * exchange. Everything downstream of the scan is matched-postings
  * sized: tf is one partial-aggregated groupBy over matched postings,
  * df/idf is a terms-sized aggregate riding the same rows, and the
  * per-query top-k is the salted two-phase rank
  * ([[SkewOps.topKPerGroup]]). Corpus stats (N, avgdl) are one skinny
  * scan-reduce collected as plan literals (the orderStat discipline).
  * No corpus-sized shuffle ever forms: the scan → filter → narrow
  * aggregate is the same plan an inverted-index SERVE would answer,
  * with the index build amortized away (see the `rag_bm25_index`
  * store for the materialized form).
  */
object Retrieval {

  /** Distinct leading tokens per query document. */
  val QueryTerms = 8

  /** Query batch: the BatchQueries lowest doc_ids. */
  val BatchQueries = 20

  /** Results per query. */
  val BmK = 10

  /** Candidate-list depth each side of the RRF fusion reads. */
  val RrfDepth = 20

  /** RRF dampening constant (the SIGIR'09 paper's k=60). */
  val RrfK = 60

  import Selection.QuantNats

  /** (doc_id, t) token arrays for non-empty docs. */
  private def toksOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)

  /** The tokenized corpus, served from a session-scoped scratch
    * store built once per source fingerprint (r18, VERDICT r17 item
    * 3): the four BM25 store gates and the live query forms together
    * re-ran the tokenize (text scan + regex split) a dozen-plus times
    * per sweep over the same corpus. One pass now writes (doc_id, t)
    * to scratch parquet; every consumer reads it (column-pruned —
    * e.g. the committed-ids pass reads only doc_id), and the slice
    * filters (`doc_id % 10`, takedown residue) apply on the read.
    * Values identical: tokenize is a deterministic map and parquet
    * round-trips string arrays exactly. The diff-upsert gate's
    * snapshot views tokenize their own derived text and stay live. */
  private def toksD(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SessionStore.parquet(spark,
      graft.ops.SessionStore.dir("bm25Toks", s"$dir/documents.parquet") {
        out => toksOf(Tables.documents(spark, dir)).write.parquet(out)
      })

  /** Query-term table (query_id, term) for the nq lowest doc_ids:
    * first-position rank with token tie-break, top [[QueryTerms]] per
    * query via the salted two-phase rank (stage-2 input bounded at
    * nq · salts · QueryTerms). */
  private def queryTerms(td: DataFrame, nq: Int): DataFrame = {
    val qd = td.orderBy(col("doc_id")).limit(nq)
      .select(col("doc_id").as("query_id"), posexplode(col("t")))
      .select(col("query_id"), col("col").as("term"), col("pos"))
      .groupBy(col("query_id"), col("term"))
      .agg(min(col("pos")).as("mp"))
    SkewOps.topKPerGroup(qd, col("query_id"),
        Seq(col("mp").asc, col("term").asc), QueryTerms,
        spreadBy = col("term"), salts = 32)
      .select(col("query_id"), col("term"))
  }

  /** Scoring core over MATCHED per-(doc, term) frequencies: `tf` must
    * carry (doc_id, dl, term, tf) restricted to query terms (the live
    * path restricts before the combine; the serve path restricts the
    * pruned store scan). df/idf are terms-sized aggregates riding the
    * same rows; contributions are floored to micro-nats BEFORE the
    * document sum (exact BIGINT totals; see object scaladoc). */
  private def scoreMatched(tf: DataFrame, qt: DataFrame, n: Long,
      avgdl: Double): DataFrame = {
    val idf = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .select(col("term"),
        floor(log((lit(n) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) * lit(QuantNats))
          .cast("long").as("idf"))
    val contrib = floor(col("idf").cast("double") *
      ((col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") + lit(1.2) *
          (lit(0.25) + lit(0.75) *
            (col("dl").cast("double") / lit(avgdl)))))).cast("long")
    tf.join(broadcast(qt), "term")
      .join(broadcast(idf), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), contrib.as("c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("matched_terms"),
        sum(col("c")).as("bm25_micronats"))
  }

  /** Scored (query_id, doc_id, matched_terms, bm25_micronats) for the
    * nq-query batch — the shared core of every public form.
    *
    * The documents scan runs three times (stats reduce, query-doc
    * take, postings explosion) — deliberate: each pass is a
    * column-pruned parquet read feeding a different narrow reduction,
    * and pinning the tokenized corpus (localCheckpoint) would
    * materialize corpus-sized token arrays to trade three cheap scans
    * for one expensive write. The SERVE form ([[bm25FromIndex]])
    * removes the postings pass entirely, which is the right fix at
    * scale. */
  private[ext] def bm25Scores(spark: SparkSession, dir: String,
      nq: Int): DataFrame = {
    val td = toksD(spark, dir)
    // corpus stats: one skinny scan-reduce → plan literals
    val st = td.agg(count(lit(1)).as("n"),
      sum(size(col("t")).cast("long")).as("s")).head()
    val n = st.getLong(0)
    val avgdl = st.getLong(1).toDouble / n.toDouble
    val qt = queryTerms(td, nq)
    // matched postings: the corpus explosion is cut by the broadcast
    // term set BEFORE the (doc, term) combine — shuffle ∝ matches
    val tf = td
      .select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("term"))
      .join(broadcast(qt.select(col("term")).distinct()), "term")
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    scoreMatched(tf, qt, n, avgdl)
  }

  private def bm25TopPerQuery(scores: DataFrame, k: Int): DataFrame =
    SkewOps.topKPerGroup(scores, col("query_id"),
      Seq(col("bm25_micronats").desc, col("doc_id").asc), k,
      spreadBy = col("doc_id"), rankCol = "rank")

  /** Single-query BM25 top-[[BmK]] (the min-doc_id query). */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25TopPerQuery(bm25Scores(spark, dir, 1), BmK)
      .select(col("doc_id"), col("matched_terms"),
        col("bm25_micronats"), col("rank").cast("long").as("rank"))
      .orderBy(col("rank"))

  /** Batch BM25: [[BatchQueries]] queries through ONE shared
    * matched-postings pass ([[bm25Scores]] — the postings filter
    * carries the union of all query terms, so batch cost grows with
    * matches, not with queries × corpus). */
  def bm25Batch(spark: SparkSession, dir: String): DataFrame =
    bm25TopPerQuery(bm25Scores(spark, dir, BatchQueries), BmK)
      .select(col("query_id"), col("doc_id"), col("matched_terms"),
        col("bm25_micronats"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** Hybrid retrieval: reciprocal-rank fusion of the lexical
    * ([[bm25TopK]] at depth [[RrfDepth]]) and dense
    * ([[Similarity]] cosine, same query document, same depth)
    * candidate lists. rrf = Σ 1/([[RrfK]] + rank) over the lists the
    * doc appears in — ranks are engine-exact integers (the lexical
    * side by the micro-nat discipline, the dense side because the
    * fixed-fold cosine is already hash-gated in
    * `sim_bruteforce_topk`), and the two reciprocal terms are added
    * in a fixed order, so the fused score is bit-identical across
    * engines. Both legs are TakeOrdered-bounded at RrfDepth rows, so
    * the fusion join and final sort are constant-sized.
    *
    * The dense leg is the guarded brute-force rung here (refuses past
    * [[Dedup.MaxExactRows]] like [[Similarity.bruteForceTopK]]); at
    * scale the same fusion reads `sim_ivf_batch_topk`'s
    * partition-pruned list instead — the fusion is rung-agnostic,
    * it only consumes (doc_id, rank). */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25TopPerQuery(bm25Scores(spark, dir, 1), RrfDepth)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val e = Tables.embeddings(spark, dir)
    val nVec = e.count()
    require(nVec <= Dedup.MaxExactRows,
      s"hybridRrf's dense leg scans the corpus per query ($nVec rows > " +
        s"limit ${Dedup.MaxExactRows}); compose the IVF batch list at scale")
    val (qid, q) = Similarity.queryVec(spark, dir)
    val vecTop = e.filter(col("vec_id") =!= qid)
      .select(col("vec_id").as("doc_id"),
        Similarity.cosine(col("embedding").cast("array<double>"), q)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(RrfDepth)
    // rank the RrfDepth-row frame (bounded by the limit above — the
    // global window never sees more than RrfDepth rows)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cosine").desc, col("doc_id"))
    val vec = vecTop.select(col("doc_id"),
      row_number().over(w).as("vec_rank"))
    fuse(lex, vec)
  }

  // ---------------------------------------------------------------
  // Inverted-index store: build → serve → append (the artifact
  // lifecycle every other expensive family already has)
  // ---------------------------------------------------------------

  /** Term-hash partitions of the postings store — a query's serve
    * scan prunes to its terms' buckets. */
  val TermBuckets = 64

  private[graft] def postingsOf(td: DataFrame): DataFrame =
    td.select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tbucket", pmod(hash(col("term")), lit(TermBuckets)))

  /** Build the lexical index: `postings/` = (doc_id, dl, term, tf)
    * partitioned by term-hash bucket (a serve prunes to the query
    * terms' buckets — the inverted-index read), `meta/` = the EXACT
    * integer corpus stats (n_docs, sum_dl), `committed/` = the
    * doc_ids whose postings fully landed (the replay-guard key —
    * written LAST, see the commit protocol below). avgdl is divided
    * out at SERVE time from the integers, so an append merges stats
    * by summation and stays bit-identical to a rebuild.
    *
    * Each sub-artifact is its own [[graft.ops.StoreCommit]] store. */
  def writeBm25Index(td: DataFrame, out: String): Unit = {
    // The three td passes (meta agg, postings, committed ids) are
    // deliberate. r17 measured the "obvious" fix — write postings
    // first and derive meta + committed ids from the written store
    // (writeMetaFrom already proves the derivation exact) — and
    // REVERTED it: the 100× build A/B read 12.3 s vs 13.3 s (parity;
    // the tokenize passes it removes are map-only scan-reduces while
    // the store-derived meta pays a (doc_id, dl) groupBy SHUFFLE plus
    // two commit-resolved store reads), and at gate scale the four
    // BM25 store gates regressed 1-3 s each (job-count-bound regime:
    // two cheap scan jobs became read+shuffle+write chains). See
    // OPTIMIZATION_r17.md "Attempted and REVERTED".
    val meta = td.agg(count(lit(1)).as("n_docs"),
      sum(size(col("t")).cast("long")).as("sum_dl"))
      .coalesce(1).localCheckpoint()
    StoreCommit.replace(s"$out/meta")(meta.write.parquet(_))
    val post = postingsOf(td)
    StoreCommit.replace(s"$out/postings")(
      post.write.partitionBy("tbucket").parquet(_))
    val ids = td.select(col("doc_id"))
    StoreCommit.replace(committedDir(out))(ids.write.parquet(_))
  }

  /** Append a document batch to the index: new postings rows land in
    * their term buckets, meta becomes the summed integers. Postings
    * rows are per-(doc, term) and doc-local (dl, tf depend only on
    * the doc), and idf/avgdl re-derive from the merged store at serve
    * time, so append(store, batch) answers EXACTLY like a rebuild on
    * the union — gated by `rag_bm25_index_append`. Write order is the
    * recoverability order: postings, then meta, then the committed
    * marker LAST — a crash anywhere in between leaves the batch's
    * docs uncommitted, and [[recoverBm25Store]] removes their partial
    * rows so a replay re-appends them from scratch. */
  def appendBm25Index(spark: SparkSession, batchTd: DataFrame,
      store: String): Unit = {
    val old = StoreCommit.read(spark, s"$store/meta").head()
    val add = batchTd.agg(count(lit(1)).cast("long"),
      sum(size(col("t")).cast("long"))).head()
    StoreCommit.append(s"$store/postings") { dir =>
      postingsOf(batchTd).write.mode("append").partitionBy("tbucket")
        .parquet(dir)
    }
    val meta = spark.range(1)
      .select(lit(old.getLong(0) + add.getLong(0)).as("n_docs"),
        lit(old.getLong(1) + add.getLong(1)).as("sum_dl"))
      .coalesce(1).localCheckpoint()
    StoreCommit.replace(s"$store/meta")(meta.write.parquet(_))
    StoreCommit.append(committedDir(store)) { dir =>
      batchTd.select(col("doc_id")).write.mode("append").parquet(dir)
    }
  }

  /** Compaction policy for the append-mode postings store — the
    * [[Dedup.maybeCompactSemanticCells]] policy applied to term
    * buckets: rewrite toward one file per bucket once fragmentation
    * exceeds BOTH the flat threshold and 2× the bucket count (one
    * file per bucket is the store's natural floor; a flat threshold
    * below it would rewrite the whole store on every append). The
    * store is self-contained, so compaction is read →
    * hash-repartition on tbucket → overwrite; meta is untouched.
    * Returns whether a rewrite ran. */
  def maybeCompactPostings(spark: SparkSession, store: String,
      threshold: Int = 256): Boolean = {
    val buckets = StoreCommit.subdirs(s"$store/postings")
      .count(_.startsWith("tbucket="))
    if (StoreCommit.fileCount(s"$store/postings") >
        math.max(threshold, 2 * buckets)) {
      val compacted = StoreCommit.read(spark, s"$store/postings")
        .select(col("doc_id"), col("dl"), col("term"), col("tf"),
          col("tbucket").cast("int").as("tbucket"))
        .repartition(col("tbucket"))
        .localCheckpoint()
      // whole-store replace, not in-place overwrite: unlike the cells
      // / codes stores (derived from a gold corpus), the postings
      // store IS the source of truth for the lexical index — a crash
      // inside an in-place overwrite would lose committed docs
      // unrecoverably
      StoreCommit.replace(s"$store/postings") { next =>
        compacted.write.partitionBy("tbucket").parquet(next)
      }
      // the committed log accrues one small file per batch — compact
      // it on the same trigger (derived from nothing: it IS the
      // guard's key, so the rewrite rides the same commit protocol)
      if (StoreCommit.fileCount(committedDir(store)) > 0) {
        val docs = StoreCommit.read(spark, committedDir(store))
          .select(col("doc_id")).distinct().coalesce(1).localCheckpoint()
        StoreCommit.replace(committedDir(store)) { next =>
          docs.write.parquet(next)
        }
      }
      true
    } else false
  }

  // ---------------------------------------------------------------
  // Streaming-append commit protocol (round-13 ADVICE, medium): a
  // doc's postings span multiple tbucket partition files, and
  // FileOutputCommitter moves task files non-atomically at job
  // commit — so "part files present" is NOT "doc fully present". A
  // replay guard keyed on raw postings doc_ids would treat a
  // torn-append doc as seen and never complete it. The sink therefore
  // keys its guard on a separate COMMITTED log written strictly AFTER
  // the postings (and meta) land, and every sink invocation first
  // runs [[recoverBm25Store]], which deletes any posted-but-
  // uncommitted doc's rows (torn or whole — both re-process cleanly)
  // and re-derives meta when the removal invalidated it.
  // ---------------------------------------------------------------

  /** The committed-docs log of an append-mode index store. */
  def committedDir(store: String): String = s"$store/committed"

  /** Committed doc_ids (empty frame when the log does not exist). */
  private def committedDocs(spark: SparkSession, store: String): DataFrame = {
    if (StoreCommit.fileCount(committedDir(store)) > 0)
      StoreCommit.read(spark, committedDir(store)).select("doc_id").distinct()
    else {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType))))
    }
  }

  /** Close any crash window left by a torn sink batch: postings rows
    * whose doc_id never reached the committed log are leftovers of an
    * append that crashed mid-commit (possibly HALF a doc's term rows)
    * — remove them so the replay guard re-processes those docs from
    * scratch, and re-derive meta when rows were removed (the crash
    * may have landed either side of the meta rewrite). The rewrite
    * itself goes through [[graft.ops.StoreCommit.replace]], so
    * recovery cannot introduce the very tear it repairs. Cost: one
    * column-pruned doc_id scan per call — the same class as the old
    * postings-keyed guard scan this protocol replaces. Returns whether
    * a repair ran. */
  def recoverBm25Store(spark: SparkSession, store: String): Boolean = {
    // finish/abort any half-done commit — postings compaction,
    // committed-log compaction, meta rewrite, or a previous recovery
    // — before probing liveness
    StoreCommit.recover(s"$store/postings")
    StoreCommit.recover(committedDir(store))
    StoreCommit.recover(s"$store/meta")
    if (StoreCommit.fileCount(s"$store/postings") == 0) return false
    // Committed postings with NO committed log: a store seeded outside
    // the sink protocol (a pre-committed-log writer, e.g. a cached
    // ScaleUp index) or a seed that crashed between the postings
    // commit and the committed-log write; both recover by
    // BOOTSTRAPPING the log from the committed postings (classifying
    // every doc as torn here would replace the store with an empty
    // one). A seed whose postings version never completed was never
    // committed, and the recover above deleted it.
    if (StoreCommit.fileCount(committedDir(store)) == 0) {
      val docs = StoreCommit.read(spark, s"$store/postings")
        .select(col("doc_id"))
        .distinct().coalesce(1).localCheckpoint()
      StoreCommit.replace(committedDir(store)) { next =>
        docs.write.parquet(next)
      }
      if (!metaConsistent(spark, store))
        rederiveMeta(spark, store)
      return true
    }
    val torn = StoreCommit.read(spark, s"$store/postings")
      .select("doc_id").distinct()
      .join(committedDocs(spark, store), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    if (torn.isEmpty) {
      // no torn postings, but a crash inside a previous META rewrite
      // leaves exactly this state (round-14 ADVICE: the early return
      // here used to skip meta entirely, so broken meta never
      // self-healed) — validate n_docs against the committed count
      // and re-derive on any mismatch
      if (metaConsistent(spark, store)) return false
      rederiveMeta(spark, store)
      return true
    }
    val clean = StoreCommit.read(spark, s"$store/postings")
      .join(torn, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"),
        col("tbucket").cast("int").as("tbucket"))
      .repartition(col("tbucket"))
      .localCheckpoint()
    StoreCommit.replace(s"$store/postings") { next =>
      clean.write.partitionBy("tbucket").parquet(next)
    }
    // meta from the pinned clean frame, not a store re-read: a fully
    // torn seed leaves the replaced store EMPTY (no files to infer
    // a schema from), while clean's schema is known
    writeMetaFrom(spark, clean, store)
    true
  }

  /** meta agrees with the store iff it reads cleanly and its n_docs
    * equals the postings' distinct doc count (post-recovery the
    * postings ARE the committed set, so the count is authoritative;
    * sum_dl is derived by the same single pass that derives n_docs,
    * so a matched n_docs from an intact file implies a matched
    * sum_dl). */
  private def metaConsistent(spark: SparkSession, store: String): Boolean =
    scala.util.Try {
      val m = StoreCommit.read(spark, s"$store/meta")
        .select(col("n_docs"), col("sum_dl")).head()
      !m.isNullAt(0) && !m.isNullAt(1) &&
        m.getLong(0) == StoreCommit.read(spark, s"$store/postings")
          .select(col("doc_id")).distinct().count()
    }.getOrElse(false)

  /** Re-derive meta from the postings store (n_docs = distinct docs,
    * sum_dl = one dl per doc) — exact, whichever side of a meta
    * rewrite a crash landed on. Routed through the commit protocol so
    * the repair cannot itself tear meta (round-14 ADVICE: this was a
    * plain overwrite). */
  private[graft] def rederiveMeta(spark: SparkSession, store: String): Unit =
    writeMetaFrom(spark,
      StoreCommit.read(spark, s"$store/postings"), store)

  private def writeMetaFrom(spark: SparkSession, postings: DataFrame,
      store: String): Unit = {
    val m = postings
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl").cast("long")).as("sum_dl"))
      .coalesce(1).localCheckpoint()
    StoreCommit.replace(s"$store/meta") { next =>
      m.write.parquet(next)
    }
  }

  /** Serve the nq-query batch from the index store: corpus stats are
    * two integers from `meta/`, and the postings scan carries a
    * PARTITION filter on the query terms' buckets (RetrievalSpec
    * asserts PartitionFilters) — scan cost is the probed buckets,
    * never the corpus. The in-bucket non-query terms are cut by the
    * same broadcast term join as the live path. */
  def bm25FromIndex(spark: SparkSession, store: String,
      docsDir: String, nq: Int): DataFrame =
    bm25FromIndexTd(spark, store, toksD(spark, docsDir), nq)

  /** [[bm25FromIndex]] over an explicit query-side td frame — the
    * composable core the takedown gate feeds the RETAINED corpus. */
  private def bm25FromIndexTd(spark: SparkSession, store: String,
      queryTd: DataFrame, nq: Int): DataFrame = {
    val meta = StoreCommit.read(spark, s"$store/meta").head()
    // serve-time takedown correction: n/avgdl shift by the removed
    // docs' (count, Σdl) — removal-sized reads — so a masked store
    // scores EXACTLY like a fresh build on the retained corpus
    val rem = removedBm25(spark, store)
    val remAgg = rem.map(_.agg(count(lit(1)), sum(col("dl"))).head())
    val n = meta.getLong(0) - remAgg.map(_.getLong(0)).getOrElse(0L)
    require(n > 0, s"takedown removed every indexed doc at $store")
    val sumDl = meta.getLong(1) - remAgg.map(_.getLong(1)).getOrElse(0L)
    val avgdl = sumDl.toDouble / n.toDouble
    val qt = queryTerms(queryTd, nq).localCheckpoint()
    // bounded collect (≤ nq · QueryTerms rows): bucket literals for
    // the pruning filter, computed by the same Spark hash
    val buckets = qt
      .select(pmod(hash(col("term")), lit(TermBuckets))).distinct()
      .collect().map(_.getInt(0)).toSeq
    val tf0 = StoreCommit.read(spark, s"$store/postings")
      .filter(col("tbucket").isin(buckets: _*))
      .join(broadcast(qt.select(col("term")).distinct()), "term")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    // removed docs' surviving postings rows are invisible (broadcast
    // anti-join, removal-sized) — zero once a vacuum applied them
    val tf = rem.map(r => tf0.join(
        broadcast(r.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
      .getOrElse(tf0)
    scoreMatched(tf, qt, n, avgdl)
  }

  /** The standard query batch answered from an existing index store
    * (the steady-state serve form ScaleUp times). */
  def bm25BatchFromIndex(spark: SparkSession, dir: String,
      store: String): DataFrame =
    servedBatch(spark, dir, store)

  private def servedBatch(spark: SparkSession, dir: String,
      store: String): DataFrame =
    bm25TopPerQuery(
        bm25FromIndex(spark, store, dir, BatchQueries), BmK)
      .select(col("query_id"), col("doc_id"), col("matched_terms"),
        col("bm25_micronats"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** DRIVER-GATED serve path: build the index into a scratch dir,
    * answer the query batch from it — oracle = `rag_bm25_batch`'s
    * replay verbatim (serve == rebuild): the gate proves a committed
    * store ([[graft.ops.StoreCommit]]) builds AND serves hash-exactly,
    * with every read resolving the committed file list instead of a
    * directory listing. ManifestSinksSpec covers the crash shapes
    * under `marksuccessfuljobs=false`. */
  def bm25Served(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.ops.Scratch.dir("graft_bm25_served") + "/ix"
    writeBm25Index(toksD(spark, dir), store)
    servedBatch(spark, dir, store)
  }

  /** DRIVER-GATED append path: build the index from the ~90% gold
    * slice (doc_id % 10 ≠ 0), append the held-out tenth as a batch,
    * serve the standard query batch from the merged store — oracle =
    * `rag_bm25_batch` on the FULL corpus verbatim, so the gate proves
    * append == rebuild through real score arithmetic (idf and avgdl
    * both shift with the merged stats). */
  def bm25IndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.ops.Scratch.dir("graft_bm25_append") + "/ix"
    val td = toksD(spark, dir)
    writeBm25Index(td.filter(col("doc_id") % 10 =!= 0), store)
    appendBm25Index(spark, td.filter(col("doc_id") % 10 === 0), store)
    servedBatch(spark, dir, store)
  }

  /** [[hybridRrf]] with the dense leg on the SCALE rung: the
    * trained-IVF probe ([[KMeans.ivfTrainedTopKDepth]] — one coarse
    * cell scanned, never the corpus) instead of the guarded
    * brute-force scan. Proves the fusion really is rung-agnostic by
    * GATING both compositions: this one's oracle replays the whole
    * kmeans training chain + single-cell probe (the `sim_kmeans_topk`
    * CTEs) fused with the BM25 chain. The dense list may be shorter
    * than [[RrfDepth]] (bounded by the probed cell) — RRF's
    * missing-list zero handles it, same as a doc missing from the
    * lexical list. */
  def hybridRrfIvf(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25TopPerQuery(bm25Scores(spark, dir, 1), RrfDepth)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val vecTop = KMeans.ivfTrainedTopKDepth(spark, dir, RrfDepth)
      .select(col("vec_id").as("doc_id"), col("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cosine").desc, col("doc_id"))
    val vec = vecTop.select(col("doc_id"),
      row_number().over(w).as("vec_rank"))
    fuse(lex, vec)
  }

  /** BATCH hybrid fusion (round-13 verdict #3): the [[BatchQueries]]
    * standard query batch through BOTH rungs — the lexical batch
    * ([[bm25Scores]] at nq=20, depth [[RrfDepth]]) and the dense
    * batch (the per-query-cell IVF probe,
    * [[KMeans.ivfBatchTopKWith]] at the same nq/depth) — fused per
    * query_id by the same fixed-order reciprocal-rank sum. Both legs
    * are ONE corpus pass each regardless of batch size (the batch
    * arguments already gated in `rag_bm25_batch` /
    * `sim_ivf_batch_topk`), and the fusion join runs over
    * nq · 2·RrfDepth bounded rows. The two query sets derive from the
    * same min-id convention (lexical: non-empty docs; dense: vectors)
    * — a query missing from one leg simply contributes rank-less rows
    * there, which RRF's missing-list zero already handles per doc. */
  def hybridRrfBatch(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25TopPerQuery(bm25Scores(spark, dir, BatchQueries),
        RrfDepth)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("lex_rank"))
    val vec = KMeans.ivfBatchTopKWith(spark, dir,
        KMeans.train(spark, dir), nq = BatchQueries, k = RrfDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rk").cast("long").as("vec_rank"))
    fuseBatch(lex, vec)
  }

  /** [[hybridRrfBatch]] answered entirely from artifacts — the serve
    * class at scale: the lexical leg reads the postings store
    * partition-pruned to the query terms' buckets
    * ([[bm25FromIndex]]), the dense leg reads the cell-partitioned
    * vector store pruned to the probed cells
    * ([[KMeans.ivfBatchTopKFromCells]]); neither leg re-pays an
    * assignment or token-explosion pass. Same fusion, same answers
    * under the same corpus (ScaleUp row `rag_hybrid_batch_served`). */
  def hybridRrfBatchFromStores(spark: SparkSession, dir: String,
      ixStore: String, cellsDir: String,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val lex = bm25TopPerQuery(
        bm25FromIndex(spark, ixStore, dir, BatchQueries), RrfDepth)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("lex_rank"))
    val vec = KMeans.ivfBatchTopKFromCells(spark, cellsDir, cents,
        KMeans.batchQueryRows(spark, dir, BatchQueries), RrfDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rk").cast("long").as("vec_rank"))
    fuseBatch(lex, vec)
  }

  /** Per-query RRF combine over two bounded (query_id, doc_id, rank)
    * lists: full-outer on the pair key, fixed-order reciprocal sum,
    * top [[BmK]] per query. The rank window's input is already
    * bounded at nq · 2·[[RrfDepth]] rows — a plain window, no salting
    * needed. */
  private def fuseBatch(lex: DataFrame, vec: DataFrame): DataFrame = {
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        col("lex_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)))
          .as("rrf_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= BmK)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Shared RRF combine: full-outer on doc_id, reciprocal terms added
    * lexical-then-dense (fixed order — see [[hybridRrf]]). */
  private def fuse(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        col("lex_rank").cast("long").as("lex_rank"),
        col("vec_rank").cast("long").as("vec_rank"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)))
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(BmK)

  // ---------------------------------------------------------------
  // Takedown: document removal for the retrieval tier (round 17) —
  // the BM25 sibling of the gold vacuum (Dedup.vacuumGold) and the
  // z-store delete-delta tier. A takedown (GDPR erasure, license
  // revocation, re-crawl supersession) must reach the SERVING store
  // immediately, without waiting for an O(store) rewrite: removed ids
  // land in an append-only `removed` component carrying each doc's dl
  // (resolved from postings ONCE, at tombstone time), serves hide the
  // docs via a removal-sized broadcast anti-join AND shift n/avgdl by
  // the removed (count, Σdl) — so a masked store scores bit-exactly
  // like a fresh build on the retained corpus — and a later vacuum
  // applies the removals physically and resets the list.
  // ---------------------------------------------------------------

  private def removedDir(store: String): String = s"$store/removed"

  /** Consistency marker for the takedown tier: present ⇔ postings,
    * meta, and the removed list are mutually consistent (the masked
    * serve correction is exact). [[vacuumBm25]] drops it across its
    * flips and re-arms it last, so a torn vacuum is detectable and
    * [[recoverBm25Takedown]] can finish the job. */
  private val TakedownMarker = "_takedown_synced"

  /** The pending removed set as (doc_id, dl), None when the takedown
    * tier is empty. Distinct on doc_id (a replayed tombstone append
    * is harmless; dl is a pure function of the doc). */
  private def removedBm25(spark: SparkSession, store: String): Option[DataFrame] =
    if (StoreCommit.fileCount(removedDir(store)) > 0)
      Some(StoreCommit.read(spark, removedDir(store))
        .groupBy(col("doc_id")).agg(first(col("dl")).as("dl")))
    else None

  /** Tombstone documents in a BM25 store: every serve hides them
    * (and re-derives idf/avgdl as if they were never indexed) from
    * this moment until [[vacuumBm25]] removes their rows physically.
    * Ids with no postings (never indexed, or already vacuumed) drop
    * at the join — re-tombstoning is a no-op. The one O(store) read
    * (resolving each doc's dl) happens HERE, at maintenance time,
    * so the per-serve correction stays removal-sized. */
  def tombstoneBm25Docs(spark: SparkSession, removedIds: DataFrame,
      store: String): Unit = {
    // finish a torn prior vacuum first: tombstoning on top of a
    // half-applied one would mix exact and degraded corrections
    recoverBm25Takedown(spark, store)
    val withDl = StoreCommit.read(spark, s"$store/postings")
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .join(broadcast(removedIds.select(col("doc_id")).distinct()),
        Seq("doc_id"))
      .localCheckpoint()
    if (withDl.isEmpty) return
    StoreCommit.append(removedDir(store)) { dir =>
      withDl.write.mode("append").parquet(dir)
    }
    // the masked state is exact by construction — stamp it consistent
    graft.ops.StoreFiles.createMarker(store, TakedownMarker)
  }

  /** Physically apply the pending takedowns: postings rewrite WITHOUT
    * the removed docs' rows, meta re-derives from the retained
    * postings (the exact integers a fresh build would record), and
    * the removed list resets. Re-entrant: every step is idempotent,
    * so a vacuum that crashed anywhere can simply run again — and
    * the serve stays SAFE through every window (removed docs are
    * hidden by either the anti-join or the physical rewrite at all
    * times; the one degraded window, between the meta flip and the
    * list reset, shifts scores conservatively and is closed by
    * [[recoverBm25Takedown]]). Returns (removed docs, reclaimed
    * postings bytes). */
  def vacuumBm25(spark: SparkSession, store: String): (Long, Long) = {
    val rem = removedBm25(spark, store)
      .map(_.localCheckpoint()).getOrElse(return (0L, 0L))
    val remIds = rem.select(col("doc_id"))
    val nRem = rem.count()
    if (nRem == 0) return (0L, 0L)
    val bytesBefore = StoreCommit.dataBytes(s"$store/postings")
    graft.ops.StoreFiles.deleteMarker(store, TakedownMarker)
    val retained = StoreCommit.read(spark, s"$store/postings")
      .join(broadcast(remIds), Seq("doc_id"), "left_anti")
      .withColumn("tbucket", col("tbucket").cast("int"))
      .repartition(col("tbucket"))
      .localCheckpoint()
    StoreCommit.replace(s"$store/postings") { next =>
      retained.write.partitionBy("tbucket").parquet(next)
    }
    val meta = retained
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl").cast("long")).as("sum_dl"))
      .coalesce(1).localCheckpoint()
    StoreCommit.replace(s"$store/meta")(meta.write.parquet(_))
    // the committed replay log keeps the removed ids ON PURPOSE: ids
    // are never reused, and a replayed old batch containing a removed
    // doc must stay a no-op, not re-admit it.
    // The reset commits an EMPTY removed version.
    StoreCommit.replace(removedDir(store))(_ => ())
    graft.ops.StoreFiles.createMarker(store, TakedownMarker)
    (nRem, bytesBefore - StoreCommit.dataBytes(s"$store/postings"))
  }

  /** Close a torn [[vacuumBm25]] (marker down, removals pending):
    * finish the vacuum. Steady state pays two existence probes. */
  def recoverBm25Takedown(spark: SparkSession, store: String): Boolean =
    if (StoreCommit.fileCount(removedDir(store)) > 0 &&
        !graft.ops.StoreFiles.markerExists(store, TakedownMarker)) {
      vacuumBm25(spark, store)
      true
    } else false

  /** Residue class the takedown gate removes (doc_id % 9 ==
    * [[TakedownResidue]]) — fixed so DuckDB replays the retained
    * corpus exactly. */
  private[graft] val TakedownResidue = 4L

  /** DRIVER-GATED takedown, both phases against ONE retained-corpus
    * oracle: build the index on the FULL corpus, tombstone the
    * doc_id % 9 == [[TakedownResidue]] class, serve the retained
    * query batch `masked` (stats-corrected anti-join serve, pinned
    * before the vacuum), vacuum, serve again `vacuumed`. Both forms
    * hash-equal the fresh-build replay on the retained corpus — the
    * takedown contract at its strongest: hidden is indistinguishable
    * from never-indexed, before AND after physical application. */
  def bm25TakedownForms(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.ops.Scratch.dir("graft_bm25_take") + "/ix"
    val td = toksD(spark, dir)
    val retainedTd = td.filter(col("doc_id") % 9 =!= TakedownResidue)
    writeBm25Index(td, store)
    tombstoneBm25Docs(spark,
      td.filter(col("doc_id") % 9 === TakedownResidue)
        .select(col("doc_id")), store)
    def serve(): DataFrame = bm25TopPerQuery(
        bm25FromIndexTd(spark, store, retainedTd, BatchQueries), BmK)
      .select(col("query_id"), col("doc_id"), col("matched_terms"),
        col("bm25_micronats"), col("rank").cast("long").as("rank"))
    val masked = serve().localCheckpoint()
    vacuumBm25(spark, store)
    OracleForms.union("masked" -> masked, "vacuumed" -> serve())
      .select(col("form"), col("query_id"), col("doc_id"),
        col("matched_terms"), col("bm25_micronats"), col("rank"))
      .orderBy(col("form"), col("query_id"), col("rank"))
  }

  /** DRIVER-GATED diff-driven index upsert (round 17 — the retrieval
    * sibling of `curation_bump_pipeline`): a corpus version bump
    * (v1 → v2, the [[graft.ext.Curation.snapshotViews]] fixture)
    * applied to a LIVE index incrementally —
    *
    *   index built on v1 → snapshot diff → tombstone the removed AND
    *   changed docs' old rows → vacuum (physical; resets the list so
    *   the changed ids can serve again) → append the added and
    *   changed docs' v2 rows —
    *
    * then the standard batch served from the upserted store. Oracle =
    * the full BM25 chain on a FRESH v2 build, so hash equality proves
    * incremental maintenance == rebuild through real score arithmetic
    * (n, avgdl, df, and every changed doc's dl all shift with the
    * bump). Work is diff-sized except the vacuum's one postings
    * rewrite — the operator-scheduled cost the takedown tier already
    * prices. */
  def bm25DiffUpsert(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.ops.Scratch.dir("graft_bm25_diff") + "/ix"
    val (v1, v2) = Curation.snapshotViews(Tables.documents(spark, dir))
    def tdOf(df: DataFrame) = df.select(col("doc_id"),
        TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    writeBm25Index(tdOf(v1), store)
    val diff = Curation.snapshotDiffDocsOn(v1, v2).localCheckpoint()
    tombstoneBm25Docs(spark,
      diff.filter(col("status").isin("removed", "changed"))
        .select(col("doc_id")), store)
    vacuumBm25(spark, store)
    val incoming = v2.join(
      diff.filter(col("status").isin("added", "changed"))
        .select(col("doc_id")), Seq("doc_id"))
    appendBm25Index(spark, tdOf(incoming), store)
    bm25TopPerQuery(
        bm25FromIndexTd(spark, store, tdOf(v2), BatchQueries), BmK)
      .select(col("query_id"), col("doc_id"), col("matched_terms"),
        col("bm25_micronats"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------
  // DuckDB replays — same query construction, same quantized
  // arithmetic, same tie-breaks. Heavy CTEs MATERIALIZED (the
  // DuckDB-1.0 CTE-inlining lesson).
  // ---------------------------------------------------------------

  private def bmSql(nq: Int): String = bmSqlWhere(nq, "")

  // the same chain over a row-filtered corpus — the takedown gate
  // replays it on the RETAINED rows (both its forms must equal a
  // fresh build on what remains)
  private def bmSqlWhere(nq: Int, cond: String): String =
    bmSqlOn(nq, "documents", cond, "")

  // ...and over an arbitrary source relation with optional prefix
  // CTEs — the diff-upsert gate replays it on the v2 snapshot view
  private def bmSqlOn(nq: Int, src: String, cond: String,
      prefix: String): String =
    s"""WITH ${prefix}td AS MATERIALIZED (SELECT doc_id, t FROM (SELECT doc_id, ${TextOps.toksSql} AS t FROM $src) WHERE len(t) > 0$cond),
       st AS (SELECT COUNT(*) AS n, CAST(SUM(len(t)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM td),
       qd AS (SELECT doc_id AS query_id, t FROM td ORDER BY doc_id LIMIT $nq),
       qp AS (SELECT query_id, unnest(t) AS term, unnest(range(1, len(t) + 1)) AS pos FROM qd),
       qt0 AS (SELECT query_id, term, MIN(pos) AS mp FROM qp GROUP BY 1, 2),
       qt AS MATERIALIZED (SELECT query_id, term FROM (SELECT query_id, term, row_number() OVER (PARTITION BY query_id ORDER BY mp, term) AS rn FROM qt0) WHERE rn <= $QueryTerms),
       pt AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM td),
       tf AS MATERIALIZED (SELECT doc_id, dl, term, COUNT(*) AS tf FROM pt WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
       idf AS (SELECT term, CAST(floor(ln((st.n - df + 0.5) / (df + 0.5) + 1.0) * $QuantNats) AS BIGINT) AS idf FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1) CROSS JOIN st),
       sc AS (SELECT q.query_id, f.doc_id, COUNT(*) AS matched_terms, CAST(SUM(CAST(floor(CAST(i.idf AS DOUBLE) * ((CAST(f.tf AS DOUBLE) * 2.2) / (CAST(f.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(f.dl AS DOUBLE) / st.avgdl))))) AS BIGINT)) AS BIGINT) AS bm25_micronats FROM tf f JOIN qt q USING (term) JOIN idf i USING (term) CROSS JOIN st WHERE f.doc_id <> q.query_id GROUP BY 1, 2),
       tk AS (SELECT query_id, doc_id, matched_terms, bm25_micronats, row_number() OVER (PARTITION BY query_id ORDER BY bm25_micronats DESC, doc_id) AS rank FROM sc)"""

  val oracle: Map[String, String] = Map(
    "rag_bm25_topk" ->
      s"""${bmSql(1)} SELECT doc_id, matched_terms, bm25_micronats, CAST(rank AS BIGINT) AS rank FROM tk WHERE rank <= $BmK ORDER BY rank""",
    "rag_bm25_batch" ->
      s"""${bmSql(BatchQueries)} SELECT query_id, doc_id, matched_terms, bm25_micronats, CAST(rank AS BIGINT) AS rank FROM tk WHERE rank <= $BmK ORDER BY query_id, rank""",
    // serve == rebuild: the store-fed forms must answer exactly like
    // the live batch form on the same corpus
    "rag_bm25_served" ->
      s"""${bmSql(BatchQueries)} SELECT query_id, doc_id, matched_terms, bm25_micronats, CAST(rank AS BIGINT) AS rank FROM tk WHERE rank <= $BmK ORDER BY query_id, rank""",
    "rag_bm25_index_append" ->
      s"""${bmSql(BatchQueries)} SELECT query_id, doc_id, matched_terms, bm25_micronats, CAST(rank AS BIGINT) AS rank FROM tk WHERE rank <= $BmK ORDER BY query_id, rank""",
    // takedown: both forms (masked serve + post-vacuum serve) replay
    // ONE fresh-build chain on the retained corpus — hidden must be
    // indistinguishable from never-indexed
    // diff-driven upsert == fresh v2 rebuild, replayed on the same
    // snapshot-view CTEs the curation diff family shares
    "rag_bm25_diff_upsert" ->
      s"""${bmSqlOn(BatchQueries, "v2", "",
        Curation.snapViewsSql + ",\n")} SELECT query_id, doc_id, matched_terms, bm25_micronats, CAST(rank AS BIGINT) AS rank FROM tk WHERE rank <= $BmK ORDER BY query_id, rank""",
    "rag_bm25_takedown_forms" ->
      (OracleForms.sql(
        s"""${bmSqlWhere(BatchQueries,
          s" AND doc_id % 9 <> $TakedownResidue")} SELECT query_id, doc_id, matched_terms, bm25_micronats, CAST(rank AS BIGINT) AS rank FROM tk WHERE rank <= $BmK""",
        Seq("masked", "vacuumed")) +
        " ORDER BY form, query_id, rank"),
    "rag_hybrid_rrf" ->
      s"""${bmSql(1)}, lex AS (SELECT doc_id, CAST(rank AS BIGINT) AS lex_rank FROM tk WHERE rank <= $RrfDepth),
         q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
         vt AS (SELECT vec_id AS doc_id, ${Similarity.cosineSql("embedding", "qe")} AS cosine FROM embeddings, q WHERE vec_id <> qid ORDER BY cosine DESC, doc_id LIMIT $RrfDepth),
         vec AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS vec_rank FROM vt)
         SELECT doc_id, lex_rank, vec_rank, COALESCE(1.0 / ($RrfK + lex_rank), 0.0) + COALESCE(1.0 / ($RrfK + vec_rank), 0.0) AS rrf_score FROM lex FULL OUTER JOIN vec USING (doc_id) ORDER BY rrf_score DESC, doc_id LIMIT $BmK""",
    // batch fusion: the rag_bm25_batch chain (nq=20, depth RrfDepth)
    // full-outer-joined on (query_id, doc_id) with the per-query-cell
    // IVF batch chain (the sim_ivf_batch_topk CTEs at the same
    // nq/depth), reciprocal terms in the same fixed order, per-query
    // top-BmK rank
    "rag_hybrid_rrf_batch" ->
      s"""${bmSql(BatchQueries)}, lex AS (SELECT query_id, doc_id, CAST(rank AS BIGINT) AS lex_rank FROM tk WHERE rank <= $RrfDepth),
         ${KMeans.trainCtes},
         qrows AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT $BatchQueries),
         qa AS (SELECT qid, qv, cid FROM (SELECT r.qid, r.qv, c.cid, row_number() OVER (PARTITION BY r.qid ORDER BY ${KMeans.distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrows r CROSS JOIN c2 c) WHERE rn = 1),
         dscored AS (SELECT qa.qid AS query_id, af.vec_id AS doc_id, ${KMeans.cosSql("q.v", "qa.qv")} AS cosine FROM af JOIN q USING (vec_id) JOIN qa ON af.cid = qa.cid AND af.vec_id <> qa.qid),
         vec AS (SELECT query_id, doc_id, CAST(rn AS BIGINT) AS vec_rank FROM (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rn FROM dscored) WHERE rn <= $RrfDepth),
         fused AS (SELECT query_id, doc_id, lex_rank, vec_rank, COALESCE(1.0 / ($RrfK + lex_rank), 0.0) + COALESCE(1.0 / ($RrfK + vec_rank), 0.0) AS rrf_score FROM lex FULL OUTER JOIN vec USING (query_id, doc_id))
         SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score, CAST(rn AS BIGINT) AS rank FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rn FROM fused) WHERE rn <= $BmK ORDER BY query_id, rank""",
    // the scale-rung fusion: the dense list comes from the trained
    // single-cell IVF probe — the kmeans training chain replayed
    // verbatim (the sim_kmeans_topk CTEs), fused with the BM25 chain
    "rag_hybrid_rrf_ivf" ->
      s"""${bmSql(1)}, lex AS (SELECT doc_id, CAST(rank AS BIGINT) AS lex_rank FROM tk WHERE rank <= $RrfDepth),
         ${KMeans.trainCtes},
         qrow AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT 1),
         qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${KMeans.distSqlN("qrow.qv", "c.cv", 64)}, c.cid) AS rn FROM qrow CROSS JOIN c2 c) WHERE rn = 1),
         vt AS (SELECT af.vec_id AS doc_id, ${KMeans.cosSql("q.v", "r.qv")} AS cosine FROM af JOIN q USING (vec_id) CROSS JOIN qrow r CROSS JOIN qa WHERE af.cid = qa.cid AND af.vec_id <> r.qid ORDER BY cosine DESC, doc_id LIMIT $RrfDepth),
         vec AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS vec_rank FROM vt)
         SELECT doc_id, lex_rank, vec_rank, COALESCE(1.0 / ($RrfK + lex_rank), 0.0) + COALESCE(1.0 / ($RrfK + vec_rank), 0.0) AS rrf_score FROM lex FULL OUTER JOIN vec USING (doc_id) ORDER BY rrf_score DESC, doc_id LIMIT $BmK""")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rag_bm25_topk" -> bm25TopK _,
    "rag_bm25_batch" -> bm25Batch _,
    "rag_bm25_served" -> bm25Served _,
    "rag_bm25_index_append" -> bm25IndexAppend _,
    "rag_bm25_takedown_forms" -> bm25TakedownForms _,
    "rag_bm25_diff_upsert" -> bm25DiffUpsert _,
    "rag_hybrid_rrf" -> hybridRrf _,
    "rag_hybrid_rrf_ivf" -> hybridRrfIvf _,
    "rag_hybrid_rrf_batch" -> hybridRrfBatch _)
}
