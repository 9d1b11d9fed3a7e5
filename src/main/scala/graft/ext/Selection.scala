package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Model-based data-selection operators — the scoring tier a training-
  * data pipeline runs AFTER the cheap heuristics ([[TextOps]]) and
  * BEFORE sampling ([[Sampling]]):
  *
  *  - a corpus-trained bigram language model scoring every document's
  *    negative log-likelihood (the cheap stand-in for the KenLM
  *    perplexity filter of CCNet, Wenzek et al. 2020), with CCNet's
  *    per-language tercile bucketing (head/middle/tail) on top;
  *  - DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169):
  *    hashed-n-gram likelihood ratios between a target distribution
  *    (here: the curated source `src0`) and the raw pool, plus the
  *    deterministic top-k selection those weights drive.
  *
  * Both are float-free where it matters for the oracle: per-feature
  * log terms are quantized to integer MICRO-NATS (`floor(1e6·ln p)`)
  * before any summation, so document scores are exact BIGINT sums and
  * the DuckDB replay is hash-exact — transcendental rounding can only
  * disagree if two engines' `ln` straddle a 1e-6-nat boundary, and
  * each engine sums identical integers regardless of order.
  *
  * Reference scope: the reference app (csv → pandas → MySQL ETL,
  * e.g. /root/reference/etl_pipeline/transform.py) has no model-based
  * selection; this is extension-tier depth for the 100 TB
  * training-data story.
  */
object Selection {

  /** Log-quantization scale: scores are integer micro-nats. */
  val QuantNats = 1000000.0

  /** DSIR hashed-feature bucket count. The λ table the scorer
    * broadcasts is bounded by THIS CONSTANT, not by vocabulary — the
    * importance model stays 256 rows whether the corpus has 31 tokens
    * or 31 million. */
  val DsirBuckets = 256L

  /** DSIR target distribution: documents from this source play the
    * "high-quality target" corpus; all other sources are the raw pool
    * being scored. */
  val DsirTargetSource = "src0"

  /** Fraction of the raw pool the DSIR selection keeps. */
  val DsirKeepFrac = 0.2

  private def toks: Column = TextOps.tokens(col("text"))

  /** Exploded (doc_id, bigram) stream — explode_outer + null-drop so
    * InferFiltersFromGenerate cannot duplicate the tokenize+shingle
    * expression into an interpreted per-row Filter (the measured-2×
    * lesson from the decontamination probes). */
  private def bigramStream(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode_outer(TextOps.shinglesN(toks, 2)).as("b"))
      .filter(col("b").isNotNull)

  /** Per-bigram quantized log-probability under an add-one-smoothed
    * bigram LM trained on the corpus itself:
    * `lp(w1 w2) = floor(1e6 · ln((C(w1,w2)+1) / (C(w1·)+V)))` where
    * `C(w1·)` is the bigram-context count and `V` the distinct-token
    * vocabulary size.
    *
    * Shape at scale: the model is an aggregate over the exploded
    * bigram stream — partial (map-side combined), so the shuffle
    * carries one row per DISTINCT bigram per task, bounded by
    * vocabulary², not corpus size. On a web-scale vocabulary the
    * broadcast back to the scorer degrades to a shuffle hash join (or
    * a count-min sketch of the counts — the [[Curation]] bloom
    * pattern); at this corpus's 31-token vocabulary it is a ≤961-row
    * broadcast. */
  private def bigramModel(bg: DataFrame, d: DataFrame): DataFrame = {
    // vocabulary size is a driver-side SCALAR (the StatsOps.orderStat
    // discipline — a literal in the plan, not a BNLJ cross join)
    val v = d.select(explode_outer(toks).as("tok"))
      .filter(col("tok").isNotNull)
      .agg(countDistinct(col("tok"))).head().getLong(0)
    val c2 = bg.groupBy(col("b")).agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("b"), " ", 1))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    c2.join(c1, "w1")
      .select(col("b"),
        floor(log((col("c2") + 1).cast("double") /
          (col("c1") + lit(v)).cast("double")) * QuantNats)
          .cast("long").as("lp"))
  }

  /** Per-document bigram-LM negative log-likelihood: total and
    * per-bigram average micro-nats. High avg = the LM finds the text
    * surprising — the perplexity-filter signal. One corpus-sized
    * explode, one broadcast-hash-join against the λ-table, one
    * map-side-combinable doc_id aggregation. */
  def bigramNll(spark: SparkSession, dir: String): DataFrame =
    bigramNllOn(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** [[bigramNll]] over an explicit documents frame, unordered — the
    * composable form ([[pplBuckets]] feeds it straight into the
    * tercile window). */
  def bigramNllOn(d: DataFrame): DataFrame = {
    val bg = bigramStream(d)
    val model = bigramModel(bg, d)
    val per = bg.join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("bigram_count"),
        (-sum(col("lp"))).as("nll_micronats"))
    d.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bigram_count"), lit(0L)).as("bigram_count"),
        coalesce(col("nll_micronats"), lit(0L)).as("nll_micronats"),
        when(col("bigram_count").isNull, lit(null).cast("double"))
          .otherwise(col("nll_micronats").cast("double") / col("bigram_count"))
          .as("avg_nll"))
  }

  /** CCNet-style perplexity bucketing: within each LANGUAGE, exact
    * tercile cutoffs of the per-doc average NLL split documents into
    * `head` (most fluent third), `middle`, `tail`. Per-language, not
    * global — a global cut would label whole low-resource languages
    * "tail", the exact failure CCNet's per-language split avoids.
    *
    * Shape at scale: the tercile cutoffs ride a rank window
    * partitioned by language — a LOW-NDV key, guarded by
    * [[graft.ops.StatsOps.requireGroupsSortable]] like every other
    * exact order statistic here (percentile_approx is the documented
    * sketch alternative); the cutoffs are a languages-sized table
    * broadcast back against the scored stream. Buckets compare
    * VALUES against the cutoffs (not ranks), so tie handling is
    * engine-independent. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val s = bigramNllOn(d)
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("avg_nll"))
    graft.ops.StatsOps.requireGroupsSortable(s, col("lang"))
    val w = Window.partitionBy(col("lang"))
    // asc_nulls_last EXPLICITLY: Spark's default ascending order is
    // NULLS FIRST while DuckDB's is NULLS LAST — on a corpus with a
    // <2-token document (avg_nll NULL) the default would shift the
    // tercile cutoff rows between engines (latent; this corpus has
    // none, but the ordering contract must not depend on that)
    val ranked = s
      .withColumn("rn", row_number().over(
        w.orderBy(col("avg_nll").asc_nulls_last, col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(w))
    val cuts = ranked
      .filter(col("rn") === ceil(col("cnt") / 3.0) ||
        col("rn") === ceil(col("cnt") * 2.0 / 3.0))
      .groupBy(col("lang"))
      .agg(min(col("avg_nll")).as("cut1"), max(col("avg_nll")).as("cut2"))
    s.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        when(col("avg_nll") <= col("cut1"), "head")
          .when(col("avg_nll") <= col("cut2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  /** Shards per curriculum phase — the write-parallelism knob of the
    * curriculum manifest (a deployment scales it with the corpus, the
    * [[Sampling.epochShuffle]] argument). */
  val CurriculumShards = 8L

  /** Curriculum-ordered training manifest: documents sequenced
    * easy → hard (head perplexity bucket first, then middle, then
    * tail — the standard competence-based curriculum for LM
    * pretraining), with a deterministic (phase, shard, position)
    * address per document so a trainer streams phases in order while
    * shards load in parallel. Within a phase the order is ascending
    * model NLL (easiest first), ties to doc_id.
    *
    * Shape at scale: the phase assignment is [[pplBuckets]] (model
    * CTEs + language-bounded cutoffs); the position windows partition
    * by (phase, shard) — parallelism = phases × [[CurriculumShards]],
    * group sizes shrink as the shard count is raised with the corpus
    * (the sharded-window class PlanLintSpec tracks). */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val phased = pplBuckets(spark, dir)
      .withColumn("phase_idx",
        when(col("ppl_bucket") === "head", 0)
          .when(col("ppl_bucket") === "middle", 1)
          .otherwise(2))
      .withColumn("shard",
        Sampling.mixHash(col("doc_id")) % CurriculumShards)
    val w = Window.partitionBy(col("phase_idx"), col("shard"))
      .orderBy(col("avg_nll").asc_nulls_last, col("doc_id"))
    phased.withColumn("position", row_number().over(w).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** 60-bit md5 token fingerprint → DSIR feature bucket. Same
    * engine-independent hash family as the dedup fingerprints
    * ([[TextOps.gramFpSql]] replays it nibble-by-nibble). */
  private def bucketOf(tok: Column): Column =
    pmod(conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10)
      .cast("long"), lit(DsirBuckets))

  /** DSIR importance weights + deterministic top-k selection.
    *
    * Per Xie et al.: hash every token into [[DsirBuckets]] buckets,
    * estimate bucket unigram distributions for the TARGET (source
    * `src0`) and the RAW pool (every other source), and weight each
    * raw document by the summed log-likelihood ratio of its tokens:
    * `w(doc) = Σ_tok λ(bucket(tok))`,
    * `λ(b) = qln((T_b+1)/(T+B)) − qln((R_b+1)/(R+B))` with each log
    * term independently quantized to micro-nats ([[QuantNats]]).
    * Documents most target-like get the highest weight; the top
    * `ceil(DsirKeepFrac · |raw|)` (ties broken by doc_id) are marked
    * `selected` — the deterministic counterpart of DSIR's importance
    * resampling step.
    *
    * Shape at scale: ONE corpus-sized token explode feeds both
    * distribution estimates (map-side-combined aggs bounded by
    * [[DsirBuckets]] rows) and the scoring join — the λ table is a
    * CONSTANT-size broadcast (that is DSIR's point: hashing bounds
    * the model, not the vocabulary); per-doc weights are one
    * map-side-combinable doc_id aggregation. The selection threshold
    * is a TakeOrdered limit(k) → 1-row broadcast — no global rank
    * window ever runs over the corpus (the oracle replays selection
    * with a window, DuckDB being single-node). The only driver-side
    * values are two scalars (the raw-pool doc count for k, the
    * threshold row). */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tok = d.select(col("doc_id"), col("source"),
        explode_outer(toks).as("tok"))
      .filter(col("tok").isNotNull)
      .withColumn("bk", bucketOf(col("tok")))
    val isTarget = col("source") === DsirTargetSource
    // ONE conditional aggregation yields both distributions — no
    // two-sided join to build the model, and the totals derive from
    // the 256-row aggregate (AQE reuses its shuffle — the corpus is
    // scanned once for the whole model)
    // localCheckpoint (EAGER, 256 rows): the model aggregate feeds
    // THREE consumers (the totals row, the λ table, and — through λ —
    // the scorer); un-materialized, each consumer re-scans the corpus
    val counts = tok.groupBy(col("bk")).agg(
      sum(isTarget.cast("long")).as("tcnt"),
      sum((!isTarget).cast("long")).as("rcnt"))
      .localCheckpoint()
    val totRow = counts.agg(sum(col("tcnt")), sum(col("rcnt"))).head()
    val (tTot, rTot) = (totRow.getLong(0), totRow.getLong(1))
    def qln(num: Column, den: Column): Column =
      floor(log(num.cast("double") / den.cast("double")) * QuantNats)
        .cast("long")
    val lam = counts.select(col("bk"),
      (qln(col("tcnt") + 1, lit(tTot + DsirBuckets)) -
        qln(col("rcnt") + 1, lit(rTot + DsirBuckets))).as("lam"))
    val scored = tok.filter(!isTarget)
      .join(broadcast(lam), "bk")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("token_count"),
        sum(col("lam")).as("weight_micronats"))
    // the driver-side count + threshold reads run over ONE
    // materialized copy of the doc-bounded weights (localCheckpoint);
    // the RETURNED frame keeps the live plan — SelectionSpec asserts
    // its broadcast-join shape, which a checkpointed result would hide
    val aux = scored.localCheckpoint()
    val k = math.ceil(DsirKeepFrac * aux.count()).toLong
    // the selection threshold is the k-th (weight desc, doc_id) pair —
    // two TakeOrdered limits, collected as ONE driver-side row and
    // compared as literals (no global rank window over the corpus)
    val thRow = aux
      .orderBy(col("weight_micronats").desc, col("doc_id"))
      .limit(k.toInt)
      .orderBy(col("weight_micronats"), col("doc_id").desc)
      .limit(1)
      .select(col("weight_micronats"), col("doc_id")).head()
    val (wth, idth) = (thRow.getLong(0), thRow.getLong(1))
    scored
      .select(col("doc_id"), col("source"), col("token_count"),
        col("weight_micronats"),
        (col("weight_micronats") > wth ||
          (col("weight_micronats") === wth &&
            col("doc_id") <= idth)).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** Per-source Jensen–Shannon divergence from the whole-corpus token
    * distribution — the drift monitor a corpus build runs between
    * snapshots and across sources (JSD is symmetric and bounded at
    * ln 2, so thresholds survive re-use across corpora; plain KL is
    * unbounded and asymmetric). Every per-token term is quantized to
    * micro-nats BEFORE summation, the [[bigramNll]] discipline, so
    * the per-source score is an exact BIGINT sum.
    *
    * Shape at scale: one corpus-sized explode feeding a partial-agg
    * groupBy bounded by vocabulary × sources; everything after —
    * source totals, corpus totals, the sources × vocabulary support
    * grid — re-aggregates or joins tables bounded by the vocabulary,
    * never the corpus. Absent (source, token) cells matter: JSD's
    * q-side term contributes for tokens a source never emits, which
    * is exactly what makes a source missing half the vocabulary read
    * as divergent. */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame =
    jsDivergenceFromCounts(tokenCountsOn(Tables.documents(spark, dir)))

  /** The (source, token) count table [[jsDivergence]] runs on — the
    * PERSISTABLE monitoring artifact: counts are additive, so a
    * steady-state deployment keeps this table on disk and folds each
    * arriving batch in with [[mergeTokenCounts]] instead of
    * re-tokenizing the corpus. Bounded at vocabulary × sources. */
  def tokenCountsOn(docs: DataFrame): DataFrame =
    docs
      // explode_outer + null-drop: plain explode lets Catalyst's
      // InferFiltersFromGenerate duplicate the tokenize expression
      // into an interpreted per-row filter (the measured-2× pattern
      // the decontamination probes document) — this runs per
      // micro-batch on the streaming drift path
      .select(col("source"),
        explode_outer(TextOps.tokens(col("text"))).as("t"))
      .filter(col("t").isNotNull)
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c_st"))

  /** Fold a new batch into an existing count artifact: tokenize ONLY
    * the batch, then one vocab-bounded re-aggregate of artifact ∪
    * batch counts. Exactness is additivity — merge-then-score equals
    * the full-corpus recompute bit for bit (SelectionSpec), the same
    * artifact-maintenance contract as the dedup index and label
    * store. */
  def mergeTokenCounts(existing: DataFrame, batch: DataFrame): DataFrame =
    existing.unionByName(tokenCountsOn(batch))
      .groupBy(col("source"), col("t"))
      .agg(sum(col("c_st")).as("c_st"))

  /** Per-source DRIFT score for an arriving batch: quantized JSD
    * between the batch's token distribution for a source and the
    * TRAILING artifact's distribution for the same source — the
    * decision statistic the streaming drift monitor thresholds
    * ([[graft.streaming.EventStreams.driftMonitorSink]]). This is a
    * different comparison from [[jsDivergenceFromCounts]] (source vs
    * whole-corpus): drift asks "did THIS source's distribution move
    * between the accumulated history and the new batch".
    *
    * Only sources present in BOTH frames score (a source's first
    * batch has no trailing history to drift from). Same micro-nat
    * quantization discipline as [[jsDivergenceFromCounts]]; both
    * sides of the union vocabulary can be absent, so both terms carry
    * the p>0 guard. Bounded at vocabulary × batch-sources. */
  def batchDriftScore(trailing: DataFrame, batch: DataFrame): DataFrame = {
    val b = tokenCountsOn(batch)
      .select(col("source"), col("t"), col("c_st").as("c_b"))
    val a = trailing
      .select(col("source"), col("t"), col("c_st").as("c_a"))
    val sb = b.groupBy(col("source")).agg(sum(col("c_b")).as("s_b"))
    val sa = a.groupBy(col("source")).agg(sum(col("c_a")).as("s_a"))
    val grid = b.join(a, Seq("source", "t"), "full_outer")
      .withColumn("c_b", coalesce(col("c_b"), lit(0L)))
      .withColumn("c_a", coalesce(col("c_a"), lit(0L)))
      .join(sb, Seq("source")) // inner: drops sources with no batch rows
      .join(sa, Seq("source")) // inner: drops sources with no history
      .withColumn("pd", col("c_b").cast("double") / col("s_b"))
      .withColumn("qd", col("c_a").cast("double") / col("s_a"))
      .withColumn("md", (col("pd") + col("qd")) / 2)
    val termq = floor((
      when(col("pd") > 0, col("pd") * log(col("pd") / col("md")) * 0.5)
        .otherwise(lit(0.0)) +
        when(col("qd") > 0, col("qd") * log(col("qd") / col("md")) * 0.5)
          .otherwise(lit(0.0))) * QuantNats)
      .cast("long")
    grid.withColumn("termq", termq)
      .groupBy(col("source"), col("s_b"))
      .agg(sum(col("termq")).as("jsd_micronats"))
      .select(col("source"), col("s_b").as("batch_tokens"),
        col("jsd_micronats"))
  }

  /** On-disk layout of the drift-monitor artifact. */
  val TokenCountsTable = "token_counts"

  /** The [[graft.ops.StoreCommit]] root of the count artifact under
    * `countsDir`. Seed it with `StoreCommit.replace(root)` over
    * [[tokenCountsOn]]. */
  def tokenCountsRoot(countsDir: String): String =
    s"$countsDir/$TokenCountsTable.parquet"

  /** The last batch id folded into the committed counts, None when no
    * batch was recorded (a seeded table merges everything). */
  def appliedBatchId(countsDir: String): Option[Long] =
    graft.ops.StoreFiles.readLong(
      graft.ops.StoreCommit.readDir(tokenCountsRoot(countsDir)), "_batch_id")

  /** Fold a micro-batch into the PERSISTED count artifact with
    * exactly-once semantics: the applied batch id rides INSIDE the
    * committed version as an underscore-prefixed marker file (parquet
    * readers skip `_`-files), so the marker and the counts commit in
    * the SAME pointer flip — a crash before the flip leaves the old
    * artifact + old marker (replay re-merges correctly), a crash
    * after leaves the new artifact + new marker (replay no-ops).
    * Returns true when the batch was applied, false on a replay
    * no-op. */
  def mergeTokenCountsArtifact(spark: SparkSession, countsDir: String,
      batch: DataFrame, batchId: Long): Boolean = {
    val root = tokenCountsRoot(countsDir)
    graft.ops.StoreCommit.recover(root)
    if (appliedBatchId(countsDir).exists(_ >= batchId)) return false
    // Committed counts (not the marker) decide whether to merge: a
    // seeded table has no _batch_id marker, and treating that as "no
    // artifact" would silently replace the accumulated counts with
    // just this batch. A missing marker on committed counts means
    // lastApplied = -1 (merge everything).
    val merged =
      if (graft.ops.StoreCommit.fileCount(root) > 0)
        mergeTokenCounts(graft.ops.StoreCommit.read(spark, root), batch)
      else tokenCountsOn(batch)
    graft.ops.StoreCommit.replace(root) { next =>
      merged.write.parquet(next)
      graft.ops.StoreFiles.writeLong(next, "_batch_id", batchId)
    }
    true
  }

  /** Per-source JSD from the persisted artifact — the read side of
    * the streaming drift monitor. */
  def jsDivergenceFromArtifact(spark: SparkSession,
      countsDir: String): DataFrame =
    jsDivergenceFromCounts(
      graft.ops.StoreCommit.read(spark, tokenCountsRoot(countsDir)))

  /** [[jsDivergence]] over an explicit count table — the scoring leg
    * the persisted-artifact path shares with the fresh path. */
  def jsDivergenceFromCounts(st: DataFrame): DataFrame = {
    val s = st.groupBy(col("source")).agg(sum(col("c_st")).as("c_s"))
    val v = st.groupBy(col("t")).agg(sum(col("c_st")).as("c_t"))
    val tot = st.agg(sum(col("c_st")).as("c_tot"))
    val d = s.crossJoin(v)
      .join(st, Seq("source", "t"), "left")
      .withColumn("c_st", coalesce(col("c_st"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("pd", col("c_st").cast("double") / col("c_s"))
      .withColumn("qd", col("c_t").cast("double") / col("c_tot"))
      .withColumn("md", (col("pd") + col("qd")) / 2)
    val termq = floor((
      when(col("pd") > 0, col("pd") * log(col("pd") / col("md")) * 0.5)
        .otherwise(lit(0.0)) +
        col("qd") * log(col("qd") / col("md")) * 0.5) * QuantNats)
      .cast("long")
    d.withColumn("termq", termq)
      .groupBy(col("source"), col("c_s"))
      .agg(sum(col("termq")).as("jsd_micronats"))
      .select(col("source"), col("c_s").as("src_tokens"),
        col("jsd_micronats"),
        (col("jsd_micronats").cast("double") / QuantNats).as("jsd"))
      .orderBy(col("source"))
  }

  /** Train-split deciles for [[nbLangScore]]: mixHash(doc_id) % 10
    * below this trains the model, the rest is the held-out test set
    * the confusion matrix reports on — the same hash-decile rule the
    * split operators use, so "train" here is a subset of the
    * pipeline's train split. */
  val NbTrainDeciles = 8

  /** Multinomial Naive-Bayes language classifier — the TRAINED
    * counterpart of [[TextOps]]'s hand-built stopword lang-ID
    * heuristic, and the architecture of the fastText-style quality /
    * language filters every CCNet-descended pipeline runs (train a
    * cheap linear model on labeled text, score the whole corpus with
    * it). Closed-form training: per-(lang, token) Laplace-smoothed
    * log-probabilities counted on the train deciles, priors from the
    * train label frequencies — no iterative fitting, so the model is
    * exactly replayable in SQL.
    *
    * Float discipline: every log term (token log-prob, unseen-token
    * default, prior) is quantized to integer micro-nats BEFORE
    * summation ([[QuantNats]], the [[bigramNll]] rule), so document
    * scores are exact BIGINT sums and argmax ties break
    * deterministically on the candidate name.
    *
    * Shape at scale: the model (vocabulary × languages) and the
    * per-language default/prior rows are bounded by the model, never
    * the corpus, and ride broadcasts; the corpus-sized work is one
    * token explode fanned out |languages|-fold (a constant ≤ the
    * lang domain, the [[Similarity]] centroid-assign pattern) and one
    * partial-aggregated (doc_id, lang) sum. The argmax is an
    * aggregate over a struct ordering — no window, no second
    * shuffle.
    *
    * Honesty note on the fixture corpus: the synthetic word-soup
    * documents carry only a weak language signal, so held-out
    * accuracy is ~34% — the same class as the hand-built stopword
    * heuristic (36.8%), both far above the 5-class 20% chance floor
    * and below the majority baseline. The operator's value here is
    * the exactly-replayable train/score machinery, not this corpus's
    * ceiling. */
  def nbLangScore(spark: SparkSession, dir: String): DataFrame =
    nbScoreOn(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  private[ext] def nbScoreOn(d: DataFrame): DataFrame = {
    val isTrain = Sampling.mixHash(col("doc_id")) % 10 < NbTrainDeciles
    val train = d.filter(isTrain)
    val tk = train.select(col("lang"), explode_outer(toks).as("t"))
      .filter(col("t").isNotNull)
    val ct = tk.groupBy(col("lang"), col("t")).agg(count(lit(1)).as("c"))
    val ctot = ct.groupBy(col("lang")).agg(sum(col("c")).as("ctot"))
    // train vocabulary size: a driver-side scalar (orderStat
    // discipline — a literal in the plan, not a cross join)
    val v = tk.agg(countDistinct(col("t"))).head().getLong(0)
    val model = ct.join(ctot, "lang")
      .select(col("lang").as("cand"), col("t"),
        floor(log((col("c") + 1).cast("double") /
          (col("ctot") + lit(v)).cast("double")) * QuantNats)
          .cast("long").as("lp"))
    val priors = train.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
    val nTrain = lit(train.count())
    // candidate domain: languages with ≥1 train token AND ≥1 train
    // doc (identical in practice; the inner join makes it explicit)
    val cands = ctot.join(priors, "lang")
      .select(col("lang").as("cand"),
        floor(log(lit(1.0) / (col("ctot") + lit(v)).cast("double"))
          * QuantNats).cast("long").as("lp0"),
        floor(log(col("nd").cast("double") / nTrain.cast("double"))
          * QuantNats).cast("long").as("prior"))
    val dt = d.select(col("doc_id"), explode_outer(toks).as("t"))
      .filter(col("t").isNotNull)
    val sums = dt
      .crossJoin(broadcast(cands.select(col("cand"), col("lp0"))))
      .join(broadcast(model), Seq("cand", "t"), "left")
      .select(col("doc_id"), col("cand"),
        coalesce(col("lp"), col("lp0")).as("term"))
      .groupBy(col("doc_id"), col("cand"))
      .agg(sum(col("term")).as("tok_score"))
    val base = d.select(col("doc_id"), col("lang").as("lang_label"))
      .crossJoin(broadcast(cands.select(col("cand"), col("prior"))))
    val scored = base.join(sums, Seq("doc_id", "cand"), "left")
      .select(col("doc_id"), col("lang_label"), col("cand"),
        (coalesce(col("tok_score"), lit(0L)) + col("prior")).as("score"))
    scored
      .groupBy(col("doc_id"), col("lang_label"))
      .agg(min(struct((-col("score")).as("ns"), col("cand").as("c")))
        .as("m"))
      .select(col("doc_id"), col("lang_label"),
        col("m.c").as("nb_pred"), (-col("m.ns")).as("nb_score_micronats"),
        (Sampling.mixHash(col("doc_id")) % 10 >= NbTrainDeciles)
          .as("is_test"))
  }

  /** Held-out confusion matrix for [[nbLangScore]] — the
    * trained-model counterpart of `text_lang_confusion`, computed on
    * the test deciles only (the train rows would flatter it). */
  def nbConfusion(spark: SparkSession, dir: String): DataFrame =
    nbScoreOn(Tables.documents(spark, dir))
      .filter(col("is_test"))
      .groupBy(col("lang_label"), col("nb_pred"))
      .agg(count(lit(1)).as("docs"))
      .select(col("lang_label"), col("nb_pred"), col("docs"),
        (col("lang_label") === col("nb_pred")).as("correct"))
      .orderBy(col("lang_label"), col("nb_pred"))

  private val tkSql =
    s"SELECT doc_id, source, lang, ${TextOps.toksSql} AS t FROM documents"
  private val bgSql =
    s"SELECT doc_id, unnest(${TextOps.bigramsSql}) AS b FROM ($tkSql)"
  private val modelSql =
    s"""c2 AS (SELECT b, COUNT(*) AS c2 FROM bg GROUP BY b),
       c1 AS (SELECT split_part(b, ' ', 1) AS w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
       v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(t) AS u FROM ($tkSql))),
       model AS (SELECT b, CAST(floor(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE)) * $QuantNats) AS BIGINT) AS lp FROM c2 JOIN c1 ON split_part(c2.b, ' ', 1) = c1.w1 CROSS JOIN v),
       per AS (SELECT doc_id, COUNT(*) AS bigram_count, -SUM(lp) AS nll FROM bg JOIN model USING (b) GROUP BY doc_id)"""

  private val nllSql =
    s"""WITH bg AS ($bgSql), $modelSql
       SELECT d.doc_id, CAST(COALESCE(p.bigram_count, 0) AS BIGINT) AS bigram_count, CAST(COALESCE(p.nll, 0) AS BIGINT) AS nll_micronats, CASE WHEN p.doc_id IS NULL THEN NULL ELSE CAST(p.nll AS DOUBLE) / p.bigram_count END AS avg_nll
       FROM documents d LEFT JOIN per p USING (doc_id)"""

  private val dsirSql =
    s"""WITH tk AS (SELECT doc_id, source, unnest(t) AS tok FROM ($tkSql)),
       bkt AS (SELECT doc_id, source, ${TextOps.gramFpSql("tok")} % $DsirBuckets AS bk FROM tk),
       cnts AS (SELECT bk, CAST(SUM(CASE WHEN source = '$DsirTargetSource' THEN 1 ELSE 0 END) AS BIGINT) AS tcnt, CAST(SUM(CASE WHEN source <> '$DsirTargetSource' THEN 1 ELSE 0 END) AS BIGINT) AS rcnt FROM bkt GROUP BY bk),
       tot AS (SELECT CAST(SUM(tcnt) AS BIGINT) AS t, CAST(SUM(rcnt) AS BIGINT) AS r FROM cnts),
       lam AS (SELECT bk, CAST(floor(ln(CAST(tcnt + 1 AS DOUBLE) / CAST(t + $DsirBuckets AS DOUBLE)) * $QuantNats) AS BIGINT) - CAST(floor(ln(CAST(rcnt + 1 AS DOUBLE) / CAST(r + $DsirBuckets AS DOUBLE)) * $QuantNats) AS BIGINT) AS lam FROM cnts CROSS JOIN tot),
       per AS (SELECT doc_id, source, COUNT(*) AS token_count, SUM(lam) AS w FROM bkt JOIN lam USING (bk) WHERE source <> '$DsirTargetSource' GROUP BY doc_id, source),
       rk AS (SELECT *, row_number() OVER (ORDER BY w DESC, doc_id) AS rn, COUNT(*) OVER () AS n FROM per)
       SELECT doc_id, source, CAST(token_count AS BIGINT) AS token_count, CAST(w AS BIGINT) AS weight_micronats, rn <= CAST(ceil($DsirKeepFrac * n) AS BIGINT) AS selected FROM rk ORDER BY doc_id"""

  // NB replay: same counts, same micro-nat quantization, same
  // argmax tie-break (score DESC, cand ASC). Heavy CTEs are
  // MATERIALIZED (the DuckDB-1.0 CTE-inlining lesson from the OPQ
  // and by-source-card gates); SUM(BIGINT) is HUGEINT in DuckDB, so
  // every summed score is cast back to BIGINT.
  private val nbDecSql = s"(${Sampling.hashSql}) % 10"
  private val nbSql =
    s"""WITH tr AS MATERIALIZED (SELECT doc_id, lang, text FROM documents WHERE $nbDecSql < $NbTrainDeciles),
       ntk AS MATERIALIZED (SELECT lang, unnest(${TextOps.toksSql}) AS t FROM tr),
       nct AS (SELECT lang, t, COUNT(*) AS c FROM ntk GROUP BY 1, 2),
       nctot AS MATERIALIZED (SELECT lang, CAST(SUM(c) AS BIGINT) AS ctot FROM nct GROUP BY 1),
       nv AS (SELECT COUNT(DISTINCT t) AS v FROM ntk),
       nmodel AS MATERIALIZED (SELECT nct.lang AS cand, nct.t, CAST(floor(ln(CAST(nct.c + 1 AS DOUBLE) / CAST(nctot.ctot + nv.v AS DOUBLE)) * $QuantNats) AS BIGINT) AS lp FROM nct JOIN nctot USING (lang) CROSS JOIN nv),
       npr AS (SELECT lang, COUNT(*) AS nd FROM tr GROUP BY 1),
       nnt AS (SELECT CAST(SUM(nd) AS BIGINT) AS nt FROM npr),
       ncands AS MATERIALIZED (SELECT nctot.lang AS cand, CAST(floor(ln(1.0 / CAST(nctot.ctot + nv.v AS DOUBLE)) * $QuantNats) AS BIGINT) AS lp0, CAST(floor(ln(CAST(npr.nd AS DOUBLE) / CAST(nnt.nt AS DOUBLE)) * $QuantNats) AS BIGINT) AS prior FROM nctot JOIN npr USING (lang) CROSS JOIN nv CROSS JOIN nnt),
       ndt AS (SELECT doc_id, unnest(${TextOps.toksSql}) AS t FROM documents),
       nsums AS MATERIALIZED (SELECT ndt.doc_id, c.cand, CAST(SUM(COALESCE(m.lp, c.lp0)) AS BIGINT) AS tok_score FROM ndt CROSS JOIN ncands c LEFT JOIN nmodel m ON m.cand = c.cand AND m.t = ndt.t GROUP BY 1, 2),
       nscored AS (SELECT d.doc_id, d.lang AS lang_label, c.cand, COALESCE(s.tok_score, 0) + c.prior AS score FROM documents d CROSS JOIN ncands c LEFT JOIN nsums s ON s.doc_id = d.doc_id AND s.cand = c.cand),
       nbest AS MATERIALIZED (SELECT doc_id, lang_label, cand, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM nscored)"""

  val oracle: Map[String, String] = Map(
    "text_nb_lang_score" ->
      s"""$nbSql SELECT doc_id, lang_label, cand AS nb_pred, CAST(score AS BIGINT) AS nb_score_micronats, $nbDecSql >= $NbTrainDeciles AS is_test FROM nbest WHERE rn = 1 ORDER BY doc_id""",
    "text_nb_confusion" ->
      s"""$nbSql SELECT lang_label, nb_pred, COUNT(*) AS docs, lang_label = nb_pred AS correct FROM (SELECT doc_id, lang_label, cand AS nb_pred FROM nbest WHERE rn = 1) WHERE $nbDecSql >= $NbTrainDeciles GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_bigram_nll" -> s"$nllSql ORDER BY doc_id",
    "text_ppl_buckets" ->
      s"""WITH bg AS ($bgSql), $modelSql,
         s AS (SELECT d.doc_id, d.lang, CASE WHEN p.doc_id IS NULL THEN NULL ELSE CAST(p.nll AS DOUBLE) / p.bigram_count END AS avg_nll FROM documents d LEFT JOIN per p USING (doc_id)),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rn, COUNT(*) OVER (PARTITION BY lang) AS cnt FROM s),
         cuts AS (SELECT lang, MIN(avg_nll) AS cut1, MAX(avg_nll) AS cut2 FROM r WHERE rn = CAST(ceil(cnt / 3.0) AS BIGINT) OR rn = CAST(ceil(cnt * 2.0 / 3.0) AS BIGINT) GROUP BY lang)
         SELECT s.doc_id, s.lang, s.avg_nll, CASE WHEN s.avg_nll <= c.cut1 THEN 'head' WHEN s.avg_nll <= c.cut2 THEN 'middle' ELSE 'tail' END AS ppl_bucket FROM s JOIN cuts c USING (lang) ORDER BY s.doc_id""",
    "text_dsir_weight" -> dsirSql,
    "mix_curriculum" ->
      s"""WITH bg AS ($bgSql), $modelSql,
         s AS (SELECT d.doc_id, d.lang, CASE WHEN p.doc_id IS NULL THEN NULL ELSE CAST(p.nll AS DOUBLE) / p.bigram_count END AS avg_nll FROM documents d LEFT JOIN per p USING (doc_id)),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rn, COUNT(*) OVER (PARTITION BY lang) AS cnt FROM s),
         cuts AS (SELECT lang, MIN(avg_nll) AS cut1, MAX(avg_nll) AS cut2 FROM r WHERE rn = CAST(ceil(cnt / 3.0) AS BIGINT) OR rn = CAST(ceil(cnt * 2.0 / 3.0) AS BIGINT) GROUP BY lang),
         bk AS (SELECT s.doc_id, s.lang, s.avg_nll, CASE WHEN s.avg_nll <= c.cut1 THEN 'head' WHEN s.avg_nll <= c.cut2 THEN 'middle' ELSE 'tail' END AS ppl_bucket FROM s JOIN cuts c USING (lang)),
         ph AS (SELECT *, CASE ppl_bucket WHEN 'head' THEN 0 WHEN 'middle' THEN 1 ELSE 2 END AS phase_idx, ${Sampling.hashSql} % $CurriculumShards AS shard FROM bk)
         SELECT doc_id, lang, avg_nll, ppl_bucket, CAST(phase_idx AS INTEGER) AS phase_idx, shard, CAST(row_number() OVER (PARTITION BY phase_idx, shard ORDER BY avg_nll, doc_id) AS BIGINT) AS position FROM ph ORDER BY doc_id""",
    "text_js_divergence" ->
      s"""WITH tk AS (SELECT source, unnest(${TextOps.toksSql}) AS t FROM documents), st AS (SELECT source, t, COUNT(*) AS c_st FROM tk GROUP BY 1, 2), s AS (SELECT source, SUM(c_st) AS c_s FROM st GROUP BY 1), v AS (SELECT t, SUM(c_st) AS c_t FROM st GROUP BY 1), tot AS (SELECT SUM(c_st) AS c_tot FROM st), g AS (SELECT s.source, s.c_s, v.t, v.c_t, COALESCE(st.c_st, 0) AS c_st FROM s CROSS JOIN v LEFT JOIN st ON st.source = s.source AND st.t = v.t), d AS (SELECT source, c_s, CAST(c_st AS DOUBLE) / c_s AS pd, CAST(c_t AS DOUBLE) / c_tot AS qd FROM g CROSS JOIN tot), dm AS (SELECT source, c_s, pd, qd, (pd + qd) / 2 AS md FROM d), e AS (SELECT source, c_s, CAST(floor((CASE WHEN pd > 0 THEN pd * ln(pd / md) * 0.5 ELSE 0.0 END + qd * ln(qd / md) * 0.5) * $QuantNats) AS BIGINT) AS termq FROM dm) SELECT source, CAST(c_s AS BIGINT) AS src_tokens, CAST(SUM(termq) AS BIGINT) AS jsd_micronats, CAST(SUM(termq) AS DOUBLE) / $QuantNats AS jsd FROM e GROUP BY source, c_s ORDER BY source"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bigram_nll" -> bigramNll _,
    "text_ppl_buckets" -> pplBuckets _,
    "text_dsir_weight" -> dsirWeights _,
    "text_js_divergence" -> jsDivergence _,
    "mix_curriculum" -> curriculum _,
    "text_nb_lang_score" -> nbLangScore _,
    "text_nb_confusion" -> nbConfusion _
  )
}
