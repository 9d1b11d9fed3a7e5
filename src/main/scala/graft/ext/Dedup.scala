package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.TextOps.{tokens, shingles3}
import graft.ops.StoreCommit

/** Deduplication operators for LLM training-data pipelines: exact
  * (hash group), n-gram Jaccard (exactness baseline), MinHash+LSH
  * (the scale path: shingle → minhash → band → bucket-join), and
  * SimHash (bit-signature near-dup).
  *
  * Scale design: the LSH pipeline is the one that survives 100 TB —
  * cost is O(docs × shingles) for signatures plus a shuffle on band
  * values whose buckets are candidate sets, never an all-pairs
  * product. The all-pairs Jaccard query exists as the correctness
  * baseline at test scale (it plans as a broadcast nested-loop join
  * and must NOT be run on a large corpus — use the LSH variant).
  *
  * MinHash permutations are md5-keyed (`md5(seed|shingle)`, min over
  * the hex strings) — fully deterministic and engine-independent, so
  * even the sketch stage is oracle-checkable, unlike seed-based
  * engine hash functions.
  */
object Dedup {

  private val NumHashes = 8
  private val BandRows = 2 // 4 bands × 2 rows
  private val JaccardThreshold = 0.2

  /** Guard threshold for the quarantined O(n²) exactness baselines:
    * past this row count the all-pairs plans must fail loudly instead
    * of silently becoming the cluster-melting job (same discipline as
    * StatsOps.orderStat's rank guard). */
  val MaxExactRows = 100000L

  /** Per-bucket cap for banded candidate self-joins
    * ([[cappedBandPairs]]): a band bucket holding more than this many
    * docs collapses to representative→member star edges instead of
    * enumerating its quadratic pair set. 64 keeps every bucket's pair
    * enumeration under ~2k candidates while sitting far above the
    * bucket sizes an honest (non-boilerplate) corpus produces at the
    * gated scales (measured max: 16 at sf0.1), so the cap is a skew
    * GUARD there, not a behavior change — the oracles replay the
    * capped algebra either way. */
  val HotBucketCap = 64

  /** doc_id + distinct 3-gram shingle set over an arbitrary
    * (doc_id, text) frame. */
  private def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(shingles3(tokens(col("text")))).as("sh"))

  /** doc_id + distinct 3-gram shingle set. */
  private[graft] def docShingles(spark: SparkSession, dir: String): DataFrame =
    shingleSets(Tables.documents(spark, dir))

  /** Content fingerprint for exact dedup (md5 of the normalized text). */
  private def fingerprint(c: Column): Column =
    md5(lower(trim(c)).cast("binary"))

  /** Exact dedup summary: content-hash groups (reference-style A6/A7
    * generalized to documents). */
  def exactSummary(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val fp = fingerprint(col("text"))
    d.agg(
      count(lit(1)).as("total_docs"),
      countDistinct(fp).as("distinct_fingerprints"),
      (count(lit(1)) - countDistinct(fp)).as("duplicate_docs"))
  }

  /** Exact-substring span dedup window: a token run is duplicated
    * when its [[SpanGram]]-token gram occurs at least [[SpanMinOcc]]
    * times anywhere in the corpus (including twice within one
    * document). Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022) — the span-level complement
    * to the document-level near-dup operators: boilerplate and
    * licence blocks repeat VERBATIM inside otherwise-unique
    * documents, which document-level Jaccard never flags. 15 tokens
    * is proportionate to this corpus's ~54-token documents (the
    * paper's 50-token threshold assumes web-page-length text). */
  val SpanGram = 15

  /** Minimum corpus-wide occurrences for a gram to mark its span
    * duplicated. */
  val SpanMinOcc = 2

  /** Duplicated (doc_id, pos) gram positions: every position whose
    * [[SpanGram]]-gram fingerprint occurs ≥ [[SpanMinOcc]] times
    * corpus-wide. The gram key is the two-level ROLLING hash
    * ([[graft.functions.RollingGramKeys]]): each token's bytes hash
    * once, each position is an O(1) rolling update — replacing the
    * concat-the-gram-string + md5 key whose two string-concat passes
    * were the measured 100× wall (47–51 s). Shape at scale (the
    * boilerplate-prefilter shape, not a count window): the gram-count
    * groupBy moves only (g, count) partial-agg rows — never
    * doc_id/pos — and the surviving multi-occurrence gram set is
    * typically tiny (measured 4.7% of distinct grams on this corpus —
    * verbatim repeats are the exception), so AQE broadcasts it back
    * against the position scan (asserted in PlanLintSpec); the worst
    * case degrades to a sort-merge join, never an all-positions sort.
    *
    * Shuffle floor (round-13 answer to the r12 "cut the 596 MB"
    * task): with the probe side broadcast, the ONLY corpus-sized
    * exchange left is the count-agg, and it carries exactly one
    * (g, c) partial row per distinct gram per map partition — ~24 B
    * of UnsafeRow for ~20M mostly-singleton grams at 100× ≈ the
    * measured ~580 MB. That is the information-theoretic floor for
    * EXACT corpus-wide occurrence counting: a gram seen once in a
    * partition cannot be distinguished map-side from one seen once in
    * each of two partitions, so every distinct gram must cross the
    * wire once; narrowing the key wins nothing (UnsafeRow pads fields
    * to 8 B), and bucketing keys coarsely enough to shrink the
    * exchange collides essentially every bucket past [[SpanMinOcc]],
    * making the prefilter vacuous. The map-side combine already
    * removes within-partition repeats (the only rows that CAN drop
    * before the wire). */
  private def dupPositions(docs: DataFrame): DataFrame = {
    // posexplode_OUTER: plain explode lets InferFiltersFromGenerate
    // push a size(keys) > 0 filter below the projection, duplicating
    // the tokenize+hash expression per row as an interpreted
    // Filter (see sharedPairJaccard). Null keys from gramless docs
    // drop at the inner g join (null ≠ null).
    val occ = docs.select(col("doc_id"),
        posexplode_outer(graft.functions.RollingGramKeys(
          TextOps.tokens(col("text")), SpanGram))
          .as(Seq("p", "g")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("pos"),
        col("g"))
    val dupG = occ.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= SpanMinOcc)
      .select(col("g"))
    occ.join(dupG, "g").select(col("doc_id"), col("pos"))
  }

  /** Maximal duplicated token spans per document: duplicated gram
    * positions merge into islands (two [[SpanGram]]-wide spans
    * overlap or touch when their starts differ by ≤ [[SpanGram]]),
    * reported as 1-based [span_start, span_end] with the island's
    * token count. The island windows run over ONLY the duplicated
    * positions (a small fraction of the corpus), partitioned by
    * doc_id — row-keyed, group size bounded by document length. */
  def substringSpans(spark: SparkSession, dir: String): DataFrame = {
    val dup = dupPositions(Tables.documents(spark, dir))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = dup
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("new_isl",
        when(col("prev").isNull || col("pos") - col("prev") > SpanGram, 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_isl"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(SpanGram - 1)).as("span_end"),
        (max(col("pos")) + lit(SpanGram) - min(col("pos")))
          .as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Per-source substring-duplication report: how many documents
    * carry duplicated spans and what fraction of each source's tokens
    * they cover — the corpus-report row that decides whether a source
    * needs span-level dedup before training. */
  def substringSpanSummary(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perDoc = substringSpans(spark, dir)
      .groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("dup_tokens"))
    docs.select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        count(col("dup_tokens")).as("docs_with_dup_spans"),
        sum(coalesce(col("dup_tokens"), lit(0L))).as("dup_tokens"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("source"))
  }

  /** Cosine threshold for [[semanticDedup]] — deliberately the SAME
    * bar as [[embeddingCosinePairs]] so the two operators are exact
    * baseline vs scale path over one signal: any same-cluster pair
    * the all-pairs baseline flags, SemDeDup flags too, and the only
    * misses are cross-cluster pairs (the documented recall trade of
    * cluster-then-prune). */
  val SemThreshold = 0.45

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings (the deterministic
    * [[KMeans]] trainer) and pruning near-identical pairs WITHIN each
    * cluster — all-pairs cosine runs per cell, never corpus-wide, so
    * compare cost is Σ|cell|² instead of n². A vector is a semantic
    * duplicate when a lower-id member of its cluster sits within
    * [[SemThreshold]] cosine; keep = lowest id per duplicate group
    * (deterministic stand-in for the paper's keep-farthest-from-
    * centroid rule, which ties to floating argmax order).
    *
    * Shape at scale: assignment is the map-only codegen'd
    * [[KMeans.assignOn]] loop; the intra-cell join is an equi-join on
    * cluster id. K scales with the corpus (cells of ~10³ vectors at
    * any size), so per-cell products stay bounded and the join
    * parallelizes across K — the exact argument of the paper's
    * pre-clustering. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeans.train(spark, dir)
    val e = KMeans.vecs(spark, dir)
      .select(col("vec_id"), KMeans.assignOn(col("v"), cents).as("cluster"),
        col("v"))
    val a = e.select(col("cluster"), col("vec_id").as("cand"),
      col("v").as("va"))
    val b = e.select(col("cluster"), col("vec_id"), col("v").as("vb"))
    val dupOf = a.join(b, Seq("cluster"))
      .filter(col("cand") < col("vec_id") &&
        graft.functions.CosineSimilarity(col("va"), col("vb"))
          >= SemThreshold)
      .groupBy(col("vec_id")).agg(min(col("cand")).as("dup_of"))
    e.select(col("vec_id"), col("cluster"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** Sub-clusters per coarse cell for [[semanticDedupScaled]] —
    * effective cell count = KMeans.K · SubK. Declared before the
    * oracle map (object init order). */
  val SubK = 5

  /** Per-cell sub-centroids: the deterministic trainer
    * ([[KMeans.trainFrame]]) run on each coarse cell's members —
    * two-level clustering, the same shape as FAISS's coarse+fine
    * quantizer split. Trained once per corpus build; cells are
    * well-balanced on this data (43–55 members per cell at
    * sf0.01), and trainFrame fails loudly if a cell ever has fewer
    * than [[SubK]] members rather than silently shrinking. */
  private def subCentroids(e: DataFrame): Seq[Seq[(Int, Seq[Double])]] =
    // r17: all K cell trainers fused into one distributed Lloyd loop
    // ([[KMeans.trainFramesGrouped]] — bit-identical per-cell results,
    // parity asserted in OptimizationR17Spec): the per-cell form paid
    // K × (init + Rounds) corpus-scan jobs, each re-evaluating the
    // coarse assignment column just to filter one cell
    KMeans.trainFramesGrouped(
      e.select(col("cluster").as("grp"), col("vec_id"), col("v")),
      KMeans.K, SubK)

  /** [[semanticDedup]] with the K knob turned: cells are split again
    * by per-cell sub-quantizers, so the effective cell count is
    * KMeans.K · [[SubK]] and the in-cell pairwise cost drops ~SubK×
    * (Σ|cell|² ≈ N²/(K·SubK)). This is the answer to the measured
    * fixed-K wall (336 s at 200k vectors, PLANS.md): cluster-then-
    * prune is only as scalable as the cell count, and production
    * SemDeDup grows K with N — here via a second level, keeping every
    * trainer the oracle-replayable fixed-round Lloyd loop. The recall
    * trade is the same kind, one level deeper: pairs straddling a
    * SUB-cell boundary are missed (scaled flags ⊆ coarse flags,
    * asserted in DedupSpec). */
  def semanticDedupScaled(spark: SparkSession, dir: String): DataFrame = {
    val coarse = KMeans.train(spark, dir)
    val e = KMeans.vecs(spark, dir)
      .select(col("vec_id"), col("v"),
        KMeans.assignOn(col("v"), coarse).as("cluster"))
    // memoized like the coarse trainer it composes (SessionStore): K
    // full-corpus trainFrame re-scans, deterministic per source file
    val subs = graft.ops.SessionStore.of("subCentroidsScaled",
        s"$dir/embeddings.parquet") {
      subCentroids(e)
    }
    // one CASE over the coarse cell picks the sub-quantizer; codegen
    // evaluates only the matched branch, so per-row work is one
    // K-loop plus one SubK-loop
    val fine = (0 until KMeans.K).foldLeft(lit(-1)) { (acc, c) =>
      when(col("cluster") === c, KMeans.assignOn(col("v"), subs(c)))
        .otherwise(acc)
    }
    val g = e.select(col("vec_id"), col("v"),
      (col("cluster") * SubK + fine).as("cell"))
    val a = g.select(col("cell"), col("vec_id").as("cand"),
      col("v").as("va"))
    val b = g.select(col("cell"), col("vec_id"), col("v").as("vb"))
    val dupOf = a.join(b, Seq("cell"))
      .filter(col("cand") < col("vec_id") &&
        graft.functions.CosineSimilarity(col("va"), col("vb"))
          >= SemThreshold)
      .groupBy(col("vec_id")).agg(min(col("cand")).as("dup_of"))
    g.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** Per-cell training-sample cap for the PRODUCTION SemDeDup form
    * ([[semanticDedupArtifact]]): sub-quantizers train on the cell's
    * [[SampleCap]] min-vec_id members, never the full cell.
    * Deliberately SMALLER than the sf0.01 cell sizes (43–55), so the
    * oracle gate exercises real truncation, not a no-op cap. */
  val SampleCap = 32

  /** Production cell sizing: effective cell count K·SubK ≈
    * N / [[TargetCellSize]], so the in-cell pairwise cost
    * Σ|cell|² ≈ N·TargetCellSize stays LINEAR in the corpus — the
    * scaling law SemDeDup needs at 100 TB (a fixed cell count is
    * quadratic: N²/2K, the measured 336 s wall at just 200k
    * vectors). */
  val TargetCellSize = 500.0

  /** Sub-quantizer count for a corpus of `n` vectors under
    * [[TargetCellSize]] — the K∝N knob ([[ScaleUp]] passes the real
    * count; the gated entry pins [[SubK]] so the oracle SQL stays
    * static). */
  def subKFor(n: Long, k: Int = KMeans.K): Int =
    math.max(2, math.ceil(n / (k * TargetCellSize)).toInt)

  /** Pre-sampling modulus for the per-cell cap window: a map-only
    * `vec_id % m = 0` filter bounds the window's input to
    * ~K·cap·8 rows BEFORE any per-cell ranking, so the corpus never
    * meets a rank window (the dedup_ngram_prefix lesson). m = 1 means
    * sample-from-everything — correct at gate scale, where the corpus
    * is already sample-sized. */
  def sampleModulusFor(n: Long, cap: Int): Long =
    math.max(1L, n / (KMeans.K.toLong * cap * 8))

  /** The (vec_id, cell, v) assignment frame under SAMPLE-TRAINED
    * sub-quantizers — the build side of production SemDeDup, ONE
    * corpus assignment pass total:
    *
    *  1. coarse centroids: [[KMeans.trainFrame]] (the shared
    *     fixed-round trainer);
    *  2. per-cell training SAMPLES in one bounded job — a map-only
    *     `vec_id % sampleMod` pre-filter, then the per-cell
    *     min-vec_id `cap` via one rank window whose INPUT is the
    *     bounded pre-sample (never the corpus), then one collect of
    *     ≤ K·cap rows;
    *  3. sub-quantizers trained LOCALLY per cell
    *     ([[KMeans.trainLocal]] — bit-identical arithmetic to the
    *     frame trainer, asserted in DedupSpec) — zero further corpus
    *     scans, vs the first cut's K full trainFrame re-scans
    *     (10 · Rounds corpus-cell aggregations);
    *  4. one map-only projection assigns every vector its fine cell
    *     (coarse CASE over the K sub-codebooks, each a codegen'd
    *     [[graft.functions.NearestCentroid]] loop).
    *
    * Callers materialize the result ONCE (localCheckpoint or the
    * [[writeSemanticCells]] parquet artifact) and feed BOTH pairwise
    * legs from it — assignment is never re-derived, which was the
    * second half of the measured 1.8×-of-promised-5× gap in the
    * first sub-clustered cut. */
  private[ext] def semanticCellsOn(vecs: DataFrame, subK: Int,
      cap: Int = SampleCap, sampleMod: Long = 1L): DataFrame = {
    val (coarse, subs) = trainSemanticQuantizers(vecs, subK, cap, sampleMod)
    assignSemanticCells(vecs, coarse, subs, subK)
  }

  /** [[semanticCellsOn]] over a corpus DIR, with the training half
    * memoized per (source fingerprint, subK, cap, sampleMod) —
    * [[semanticQuantizersFor]]: the sampled sub-quantizer training is a
    * deterministic pure function of the embeddings file, and the
    * semantic family's gate entries (artifact, scaled, served,
    * streamed probes) each re-derived the identical frozen quantizer.
    * Assignment still runs per call (it is the map-only projection the
    * caller's plan needs); only the train-side corpus pass + bounded
    * collect + driver Lloyd's loops are shared. */
  private[ext] def semanticCellsFor(spark: SparkSession, dir: String,
      subK: Int, cap: Int = SampleCap, sampleMod: Long = 1L): DataFrame = {
    val (coarse, subs) = semanticQuantizersFor(spark, dir, subK, cap, sampleMod)
    assignSemanticCells(KMeans.vecs(spark, dir), coarse, subs, subK)
  }

  /** [[trainSemanticQuantizers]] over a corpus DIR, memoized per
    * (source fingerprint, subK, cap, sampleMod) in the session
    * ([[graft.ops.SessionStore]]) — shared by [[semanticCellsFor]] and
    * ClusterOps.knnGraphP2Sub, which run the same frozen training. */
  private[ext] def semanticQuantizersFor(spark: SparkSession, dir: String,
      subK: Int, cap: Int = SampleCap, sampleMod: Long = 1L)
      : (Seq[(Int, Seq[Double])], Seq[Seq[(Int, Seq[Double])]]) =
    graft.ops.SessionStore.of(s"semQuant|$subK|$cap|$sampleMod",
        s"$dir/embeddings.parquet") {
      trainSemanticQuantizers(KMeans.vecs(spark, dir), subK, cap, sampleMod)
    }

  /** The training half of [[semanticCellsOn]]: coarse centroids +
    * per-cell sampled sub-quantizers, returned as FROZEN inputs — the
    * split that makes the append path possible (a batch encodes under
    * the quantizers the artifact was built with; retraining is a
    * rebuild, the FAISS contract the PQ codes store already
    * follows). */
  private[graft] def trainSemanticQuantizers(vecs: DataFrame, subK: Int,
      cap: Int = SampleCap, sampleMod: Long = 1L)
      : (Seq[(Int, Seq[Double])], Seq[Seq[(Int, Seq[Double])]]) = {
    val cents = KMeans.trainFrame(
      vecs.select(col("vec_id"), col("v")), KMeans.K)
    val e = vecs.select(col("vec_id"), col("v"),
      KMeans.assignOn(col("v"), cents).as("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("vec_id"))
    val sampled = e.filter(col("vec_id") % lit(sampleMod) === 0)
      .withColumn("srn", row_number().over(w))
      .filter(col("srn") <= cap)
      .select(col("cluster"), col("vec_id"), col("v"))
      .collect()
    val byCell: Map[Int, Seq[(Long, Seq[Double])]] = sampled
      .groupBy(_.getInt(0))
      .map { case (c, rows) =>
        c -> rows.map(r => (r.getLong(1), r.getSeq[Double](2))).toSeq
      }
    val subs: Seq[Seq[(Int, Seq[Double])]] = (0 until KMeans.K).map { c =>
      KMeans.trainLocal(byCell.getOrElse(c,
        sys.error(s"coarse cell $c has no sampled members " +
          s"(cap=$cap, mod=$sampleMod) — raise the sample budget")),
        subK)
    }
    (cents, subs)
  }

  /** The assignment half of [[semanticCellsOn]]: map-only (vec_id, v,
    * cell, cell2) under FROZEN quantizers — one coarse argmin + a
    * CASE over the K sub-codebooks per row, shared verbatim by the
    * full build and the batch append. `cell2` is the RUNNER-UP fine
    * cell (round-13 verdict #2): the second-nearest SUB-centroid
    * within the vector's coarse cell, via the
    * [[graft.functions.NearestCentroid]] rank-1 order statistic —
    * at K ∝ N sub-quantization most cell boundaries are
    * sub-boundaries inside a coarse cell, so the in-coarse runner-up
    * is the probe that recovers them; `cell2 != cell` always (strict
    * rank order, subK ≥ 2 enforced by [[subKFor]]), which is what
    * keeps multi-probe candidate pairs unique. Single-probe readers
    * select their columns by name and never see it. */
  private[graft] def assignSemanticCells(vecs: DataFrame,
      coarse: Seq[(Int, Seq[Double])],
      subs: Seq[Seq[(Int, Seq[Double])]], subK: Int): DataFrame = {
    require(subK >= 2, s"subK must be >= 2 for the runner-up cell, got $subK")
    def fineAt(rank: Int) =
      (0 until KMeans.K).foldLeft(lit(-1)) { (acc, c) =>
        when(col("cluster") === c,
          if (rank == 0) KMeans.assignOn(col("v"), subs(c))
          else graft.functions.NearestCentroid
            .second(col("v"), subs(c).map(_._2)))
          .otherwise(acc)
      }
    vecs.select(col("vec_id"), col("v"),
        KMeans.assignOn(col("v"), coarse).as("cluster"))
      .select(col("vec_id"), col("v"),
        (col("cluster") * subK + fineAt(0)).as("cell"),
        (col("cluster") * subK + fineAt(1)).as("cell2"))
  }

  /** The pairwise prune over a materialized (vec_id, cell, v) frame:
    * in-cell equi-join, keep = min lower-id neighbor above
    * [[SemThreshold]] — the serve side every SemDeDup variant
    * shares. Both legs read `g` AS GIVEN (checkpointed or from the
    * parquet artifact); nothing upstream re-runs. */
  private[graft] def semanticDedupOverCells(g: DataFrame): DataFrame = {
    val a = g.select(col("cell"), col("vec_id").as("cand"),
      col("v").as("va"))
    val b = g.select(col("cell"), col("vec_id"), col("v").as("vb"))
    val dupOf = a.join(b, Seq("cell"))
      .filter(col("cand") < col("vec_id") &&
        graft.functions.CosineSimilarity(col("va"), col("vb"))
          >= SemThreshold)
      .groupBy(col("vec_id")).agg(min(col("cand")).as("dup_of"))
    g.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  /** PRODUCTION SemDeDup (the round-11 verdict's #1 task): sampled
    * sub-quantizer training (one corpus pass + one bounded collect),
    * the (vec_id, cell, v) assignment materialized ONCE and feeding
    * both pairwise legs, and — via [[subKFor]] at the call sites that
    * know N — cell count growing with the corpus so in-cell pairwise
    * work stays linear. The gated entry pins subK = [[SubK]] and
    * cap = [[SampleCap]] (static oracle SQL); [[ScaleUp]]'s 100× row
    * passes subKFor(N) and sampleModulusFor(N). Flags are a subset of
    * the coarse form's (sub-splitting only loses pairs), asserted in
    * DedupSpec alongside trainLocal==trainFrame parity. */
  def semanticDedupArtifact(spark: SparkSession, dir: String): DataFrame = {
    val g = semanticCellsFor(spark, dir, SubK)
      .localCheckpoint()
    semanticDedupOverCells(g).orderBy(col("vec_id"))
  }

  /** Write the assignment as a cell-partitioned parquet artifact —
    * the `writeSplitLabels` pattern: build once, every later pairwise
    * pass (and any per-cell re-dedup after an append) reads back with
    * partition pruning on `cell`. */
  def writeSemanticCells(spark: SparkSession, dir: String, out: String,
      subK: Int = SubK, cap: Int = SampleCap, sampleMod: Long = 1L): Unit =
    semanticCellsFor(spark, dir, subK, cap, sampleMod)
      .write.mode("overwrite").partitionBy("cell").parquet(out)

  /** The serve side over the on-disk artifact — reads (vec_id, v,
    * cell) back and runs only the in-cell prune; training and
    * assignment are never re-paid. */
  def semanticDedupFromCells(spark: SparkSession,
      cellsDir: String): DataFrame =
    semanticDedupOverCells(
      spark.read.parquet(cellsDir)
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          col("v")))
      .orderBy(col("vec_id"))

  /** DRIVER-GATED serve path (round-12 verdict task #3): build the
    * cell-partitioned artifact into a scratch dir, then answer from
    * it via [[semanticDedupFromCells]] — the steady-state read path a
    * running pipeline uses, gated against the same full-rebuild
    * replay as the live build (the `split_merge_batch` idiom: DuckDB
    * rebuilds from scratch, Spark serves from the artifact, the hash
    * gate proves them identical). */
  def semanticDedupServed(spark: SparkSession, dir: String): DataFrame = {
    val cellsDir = graft.ops.Scratch.dir("graft_sem_served") + "/cells"
    writeSemanticCells(spark, dir, cellsDir)
    semanticDedupFromCells(spark, cellsDir)
  }

  /** Gold/batch cut for the gated [[semanticDedupBatch]] entry —
    * vectors below are the standing corpus the quantizers train on,
    * vectors at/above are the appended batch. */
  val SemBatchCut = 400L

  /** Semantic near-dup verdicts INTRODUCED by appending `batchCells`
    * to a `goldCells` artifact (both already assigned under the SAME
    * frozen quantizers): for each batch vector, dup_of = its cell's
    * minimum lower-id member (gold or batch) within [[SemThreshold]]
    * cosine. Appending vectors with HIGHER ids cannot change a gold
    * vector's verdict (dup_of only considers lower ids — the
    * [[Sampling.mergeBatchLabels]] append argument, one signal over),
    * so this delta plus the standing artifact labels IS the
    * full-corpus answer; equality with the full rebuild restricted to
    * batch rows is asserted in DedupSpec.
    *
    * Shape at scale: the BATCH side broadcasts (micro-batch-sized by
    * definition) and the gold side is a partition-PRUNED scan of only
    * the batch's touched cells (cell ids collected — bounded by batch
    * size — and pushed as a literal In over the store's partition
    * column): per-append work tracks |batch| · cell-size, never the
    * corpus. */
  def batchSemanticDups(goldCells: DataFrame,
      batchCells: DataFrame): DataFrame = {
    val touched = batchCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val gold = goldCells.filter(col("cell").isin(touched: _*))
    val b = batchCells.select(col("cell"), col("vec_id"),
      col("v").as("vb"))
    val cand = gold.select(col("cell"), col("vec_id").as("cand"),
        col("v").as("va"))
      .unionByName(batchCells.select(col("cell"),
        col("vec_id").as("cand"), col("v").as("va")))
    val dupOf = cand.join(broadcast(b), Seq("cell"))
      .filter(col("cand") < col("vec_id") &&
        graft.functions.CosineSimilarity(col("va"), col("vb"))
          >= SemThreshold)
      .groupBy(col("vec_id")).agg(min(col("cand")).as("dup_of"))
    batchCells.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }

  /** Append a batch to the cell-partitioned semantic artifact under
    * frozen quantizers: map-only encode, partition-local append —
    * the write side of the steady-state SemDeDup append story
    * (encode → [[batchSemanticDups]] delta → append). */
  def appendSemanticCells(cellsDir: String, batch: DataFrame,
      coarse: Seq[(Int, Seq[Double])],
      subs: Seq[Seq[(Int, Seq[Double])]], subK: Int): Unit =
    assignSemanticCells(batch, coarse, subs, subK)
      .write.mode("append").partitionBy("cell").parquet(cellsDir)

  /** Committed part-file count of a cell-partitioned semantic store —
    * the fragmentation measure [[maybeCompactSemanticCells]] watches
    * (each streamed append writes one file per touched cell per
    * micro-batch). */
  def cellsFileCount(cellsDir: String): Int = StoreCommit.fileCount(cellsDir)

  /** Compaction policy for the append-mode semantic-cells store:
    * rewrite toward one file per cell once fragmentation exceeds
    * BOTH the flat `threshold` and 2× the store's cell count — the
    * store's natural floor IS one file per cell, so a flat threshold
    * below the cell count would trigger a full-store rewrite on
    * EVERY append (measured in StreamScaleUp: a 400-cell store under
    * threshold 64 paid the 2.9 s rewrite per micro-batch, ~25% of
    * each batch's wall). Unlike the dedup index (derived — compacts
    * by rebuilding from gold), the cells store is SELF-contained
    * (vec_id, v, cell under frozen quantizers), so compaction is a
    * read → hash-repartition on `cell` (each cell lands in one
    * task → one output file) → replace; content is bit-identical,
    * no re-assignment runs. The replace rides [[graft.ops.StoreCommit]],
    * NOT an in-place overwrite: the cells store is the knn/dedup
    * families' SOURCE OF TRUTH (the edges repair derives FROM it and
    * could not rebuild it), and the source batches are already
    * checkpoint-committed when compaction runs, so a crash inside an
    * in-place rewrite would lose stored rows unrecoverably. Sinks run
    * `StoreCommit.recover` on the store at batch start, which closes
    * the protocol's own crash windows. The guard root's removed-id log
    * ([[removeSemanticVectors]]) lives outside the versions and
    * survives the replace untouched. Returns whether a rewrite ran. */
  def maybeCompactSemanticCells(spark: SparkSession, cellsDir: String,
      threshold: Int = CompactFileThreshold): Boolean = {
    // cell count from the partition layout — a directory listing,
    // no data read
    val cellDirs = graft.ops.StoreFiles
      .partitionDirCount(StoreCommit.readDir(cellsDir), "cell=")
    if (cellsFileCount(cellsDir) > math.max(threshold, 2 * cellDirs)) {
      // schema-preserving (keeps cell2 and any future data column):
      // compaction must not silently drop what the build wrote, and it
      // compacts exactly the committed content — never torn junk a
      // listing would adopt
      val compacted = StoreCommit.read(spark, cellsDir)
        .withColumn("cell", col("cell").cast("int"))
        .repartition(col("cell"))
        .localCheckpoint()
      StoreCommit.replace(cellsDir) { next =>
        compacted.write.partitionBy("cell").parquet(next)
      }
      true
    } else false
  }

  /** Remove vectors from the semantic-dedup family (round 17 — the
    * SemDeDup takedown): the cells store (SOURCE OF TRUTH) rewrites
    * without the removed ids through the commit protocol, the removed
    * ids join the guard root's permanent `_removed` log
    * ([[graft.ops.SinkGuard.appendRemovedIds]]), and the verdict log
    * RE-ELECTS, cell-confined: verdicts are cell-local (dup_of = the
    * min lower-id in-threshold neighbor within the SAME cell), so
    * rows of untouched cells are kept verbatim and only the touched
    * cells' retained members recompute — removing a doc that others
    * were `dup_of` re-elects their match or frees them, exactly as a
    * full recompute on the retained store would (the spec's gate).
    * Order is takedown-first: the cells replace lands before the
    * verdict rewrite, so a crash in between leaves the store clean
    * (the takedown HOLDS) with stale verdict rows for the removed
    * vecs — re-running the removal (idempotent: the anti-join is a
    * no-op, the rewrite completes) converges the log. The replay
    * watermark is restored at its PRE-removal value. Both the cells
    * store and the verdict log commit through [[graft.ops.StoreCommit]].
    * Returns the number of removed vectors. */
  def removeSemanticVectors(spark: SparkSession, removedIds: DataFrame,
      cellsDir: String, verdictsDir: String): Long = {
    val rem = removedIds.select(col("vec_id")).distinct()
      .localCheckpoint()
    if (rem.isEmpty) return 0L
    // schema-preserving, like the compaction: the store carries cell2
    // (the runner-up probe cell) and any future data column — a
    // removal must not silently drop them
    val stored = StoreCommit.read(spark, cellsDir)
      .withColumn("cell", col("cell").cast("int"))
    val touched = stored.join(broadcast(rem), Seq("vec_id"))
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded by the cell count
    if (touched.isEmpty) return 0L
    val retained = stored
      .join(broadcast(rem), Seq("vec_id"), "left_anti")
      .repartition(col("cell"))
      .localCheckpoint()
    val removedN = stored.count() - retained.count()
    val wm = graft.ops.StoreFiles.readIdWatermark(cellsDir)
    graft.ops.StoreFiles.deleteMarker(cellsDir, "_ids_synced")
    // the root-level log survives the version flip: append ONLY this
    // removal's ids
    StoreCommit.replace(cellsDir) { next =>
      retained.write.partitionBy("cell").parquet(next)
    }
    graft.ops.SinkGuard.appendRemovedIds(rem, cellsDir)
    val touchedVals = touched.map(Integer.valueOf)
    val rewritten = (
      StoreCommit.read(spark, verdictsDir)
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          col("is_dup"), col("dup_of"))
        .filter(!col("cell").isin(touchedVals: _*))
        unionByName semanticDedupOverCells(
          retained.filter(col("cell").isin(touchedVals: _*)))
      ).localCheckpoint() // pinned BEFORE the replace reads-own-writes
    StoreCommit.replace(verdictsDir)(rewritten.write.parquet(_))
    wm.foreach(graft.ops.StoreFiles.writeIdWatermark(cellsDir, _))
    graft.ops.StoreFiles.createMarker(cellsDir, "_ids_synced")
    removedN
  }

  /** Gated form of the append story: quantizers train on the GOLD
    * side only (vec_id < [[SemBatchCut]] — frozen before the batch
    * exists, the production ordering), both sides assign under them,
    * and the output is the batch's delta verdicts. The oracle replays
    * gold-only training chains with a separate assign-everyone step
    * and restricts the pair join to batch right-endpoints. */
  def semanticDedupBatch(spark: SparkSession, dir: String): DataFrame = {
    val vecs = KMeans.vecs(spark, dir)
    val gold = vecs.filter(col("vec_id") < SemBatchCut)
    val batch = vecs.filter(col("vec_id") >= SemBatchCut)
    // gold-frozen quantizers, memoized per source fingerprint
    // (SessionStore — the cut is the constant SemBatchCut, so the key
    // needs only the file identity)
    val (coarse, subs) = graft.ops.SessionStore.of(
        s"semQuantGold|$SemBatchCut|$SubK", s"$dir/embeddings.parquet") {
      trainSemanticQuantizers(gold, SubK)
    }
    val goldCells = assignSemanticCells(gold, coarse, subs, SubK)
      .localCheckpoint()
    val batchCells = assignSemanticCells(batch, coarse, subs, SubK)
      .localCheckpoint()
    batchSemanticDups(goldCells, batchCells).orderBy(col("vec_id"))
  }

  /** Cross-source duplication matrix: near-duplicate pair counts per
    * (canonical) source pair — the "which feeds copy from each other"
    * report a multi-source corpus build runs before weighting sources
    * (the signal Dolma-style corpus reports publish as a
    * source-overlap table). The diagonal (src_a = src_b) counts
    * intra-source near-dups.
    *
    * Shape at scale: rides [[ngramJaccardPairs]]' inverted-index join
    * (skinny rows, the measured-linear dedup8 path), then two doc_id
    * equi-joins to attach sources and a partial agg down to at most
    * sources² rows. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    ngramJaccardPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("near_dup_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Shared-shingle pair statistics (PPJoin-style): for every doc
    * pair sharing at least one shingle, the exact Jaccard — computed
    * from the inverted index as |A∩B| = COUNT over the shared-shingle
    * equi-join, |A∪B| = |A|+|B|−|A∩B|. The whole pipeline moves only
    * skinny (doc_a, doc_b, shingle) rows with a map-side-combinable
    * count — the shingle ARRAYS never travel through a shuffle, which
    * is what makes this hold up when candidate pairs number in the
    * millions (carrying two ~1 KB sets per candidate was the round-1
    * formulation's bottleneck: ~2 GB shuffled at sf0.1 vs ~40 MB
    * here). A hot-shingle cap (prefix filtering) is the standard next
    * step if shingle frequency skews further. */
  private def sharedPairJaccard(t: DataFrame): DataFrame = {
    val sizes = t.select(col("doc_id"), size(col("sh")).as("n"))
    // explode_OUTER: plain explode makes InferFiltersFromGenerate push
    // a size(sh) > 0 filter below the projection, duplicating the
    // whole tokenize+shingle expression into a per-doc interpreted
    // Filter — on BOTH sides of the self-join (Curation.decontaminateOn
    // documents the measured cost). Null-shingle rows from the outer
    // form never match the s-equi-join (null ≠ null in SQL), so the
    // pair set is identical.
    val inv = t.select(col("doc_id"), explode_outer(col("sh")).as("s"))
    inv.as("x").join(inv.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup pairs via the inverted-index
    * count join: a pair can have jaccard > 0 only if it shares a
    * shingle, so the shared-shingle equi-join provably covers every
    * qualifying pair — no O(n²) cross product. Results are identical
    * to the naive all-pairs formulation, which the DuckDB oracle
    * uses (|∩|/|∪| from the same integer counts). */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    // r18: served from a session store built once per source
    // fingerprint — three gates (ngram_jaccard, source_overlap,
    // method_agreement) each re-ran the full inverted-index count
    // join per sweep (the measured 4.9 GB shuffle at 100×); the
    // verified pair set is near-dup-density-bounded, so the store is
    // tiny while the pass it saves is corpus-sized. Values identical
    // (the pass is deterministic; parquet round-trips the exact
    // doubles). The cluster-label build keeps its own pass via
    // [[ngramJaccardPairsOn]] (it runs once per corpus behind the
    // r17 label store).
    graft.ops.SessionStore.parquet(spark,
      graft.ops.SessionStore.dir("ngramPairs", s"$dir/documents.parquet") {
        out => ngramJaccardPairsOn(Tables.documents(spark, dir))
          .write.parquet(out)
      })
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[ngramJaccardPairs]] over an explicit documents frame,
    * unordered — the edge feeder for per-subset cluster builds
    * ([[nearDupClustersOn]], [[batchNearDupEdges]]'s rebuild
    * baseline). */
  def ngramJaccardPairsOn(docs: DataFrame): DataFrame =
    sharedPairJaccard(shingleSets(docs))
      .filter(col("jaccard") >= JaccardThreshold)

  /** Prefix-filtered exact Jaccard pairs — the hot-shingle scale path
    * flagged in [[sharedPairJaccard]]'s scaladoc. Standard prefix
    * filtering (Chaudhuri et al. SSJoin / Xiao et al. PPJoin): order
    * each doc's shingles by a GLOBAL canonical order (document
    * frequency asc, then value — rarest first) and index only the
    * first `|S| − ⌈t·|S|⌉ + 1` of them; two sets with jaccard ≥ t
    * MUST share a prefix element under any global order, so candidate
    * generation only joins on the rare prefix shingles and hot
    * (high-df) shingles never enter the index. Exact — the spec
    * asserts pair-for-pair equality with [[ngramJaccardPairs]], and
    * the oracle runs the full inverted-index formulation, so DuckDB
    * cross-checks the prefix theorem end to end.
    *
    * WHEN TO USE (measured, round 11): on this corpus the inverted
    * index stays the default — at t = 0.2 the prefix keeps
    * ⌈0.8·|S|⌉+1 of every doc's shingles (barely prunes), and the df
    * join + per-doc rank window sort the full inverted index, which
    * at 100× spilled past the machine's disk and aborted while
    * [[ngramJaccardPairs]] completed the same pair set at 4.9 GB
    * shuffle (base-scale walls: 15–20 s vs 6 s). The prefix form is
    * the HOT-SHINGLE remedy: it wins when individual grams' postings
    * explode (real vocabularies, boilerplate-heavy corpora, higher
    * thresholds where the prefix actually prunes), not as a wholesale
    * replacement — so the CC edge feeder and [[sourceOverlap]] ride
    * the inverted index. */
  /** Bound for the broadcast df dictionary — a LOUD guard, not a
    * truncation: past this many SHARED shingle types (df ≥ 2; see
    * [[ngramJaccardPrefixPairs]] for why df-1 types never need to
    * ride) the dictionary no longer fits an 8 GB driver / the
    * per-stage task broadcast, and the inverted path is the right
    * regime. Sized to the collect: ~4M entries ≈ 1 GB of strings +
    * map overhead on the default 8 GB driver (the 100× corpus's
    * 2.7M shared types fit; its FULL vocabulary — ~100× more, every
    * token copy-prefixed by construction — is what blew the first
    * unguarded cut). */
  val MaxBroadcastVocab = 4000000

  /** Candidate-pair bound for the prefix path's exact verification,
    * sized to what each candidate COSTS there: the verify attaches
    * both shingle sets (~2 KB) per candidate through two joins, so
    * 10⁷ candidates ≈ 20 GB of array traffic — the measured 100×
    * volume (the copy corpus is pair-dense by construction) spilled
    * past a 76 GB disk. Past the bound the operator refuses — see
    * the density guard in [[ngramJaccardPrefixPairs]]. */
  val MaxPrefixCandidates = 10000000L

  /** PPJoin-style prefix-filtered near-dup pairs — the skew remedy
    * for hot shingles, now in its BROADCAST-rank form: the
    * vocab-bounded df dictionary is computed once (one map-side-
    * combinable aggregation — the only corpus-wide shuffle carries
    * (shingle, partial-count) rows that combine down to vocabulary
    * size) and rides into the scan as a reference object; prefix
    * selection is then a per-document array sort inside the
    * projection ([[graft.functions.PrefixByDf]]). The first
    * formulation's df-JOIN + per-doc rank window sorted the entire
    * inverted index and ABORTED at 100× (spill past disk — PLANS.md
    * round-11); this one shuffles strictly LESS than the inverted
    * path, because only the prefix index (a (1−t)+ε fraction of the
    * full index) reaches the candidate self-join. Same verified pair
    * set either way: prefix filtering is lossless for Jaccard ≥ t
    * under any consistent global ordering. */
  /** The prefix INDEX (doc_id, s — each doc's ⌈(1−t)|S|⌉+1 rarest
    * shingles under the broadcast df ordering), shared by the
    * operator and the [[prefixCandidateVolume]] diagnostic. The
    * dictionary carries ONLY df ≥ 2 (shared) shingles; absent
    * shingles rank as df = 0. The candidate set is IDENTICAL to the
    * full-df ordering, not merely conservative: all df-1 shingles
    * form one tie group either way (keyed (0, s) instead of (1, s) —
    * same internal string order, same boundary below every df ≥ 2
    * key), so each document selects the same prefix members. What
    * the restriction buys is the scaling law — shared-shingle types
    * are bounded by corpus repetition (the near-dup signal itself),
    * not by raw vocabulary, which is what made the full dictionary
    * blow the driver at 100× (this corpus's vocab grows ∝ copies by
    * construction). The vocab guard and the dictionary share ONE
    * bounded collect (`limit(bound+1)` caps driver memory whether or
    * not the corpus is in-regime): the round-12 form ran the df
    * aggregate twice — a count() for the guard, then the collect —
    * which alone doubled the guard's share of the operator's cost
    * (round-12 review finding). */
  private[graft] def prefixIndex(spark: SparkSession, t: DataFrame): DataFrame = {
    val inv = t.select(col("doc_id"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    val freq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val entries = freq.limit(MaxBroadcastVocab + 1).collect()
    require(entries.length <= MaxBroadcastVocab,
      s"ngramJaccardPrefixPairs: more than $MaxBroadcastVocab shared " +
        s"shingle types — the df dictionary no longer fits the " +
        s"driver/task broadcast; use ngramJaccardPairs (inverted " +
        s"index) at this scale")
    val dfEntries = entries
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    t.select(col("doc_id"),
        explode_outer(graft.functions.PrefixByDf(spark, col("sh"),
          dfEntries, JaccardThreshold)).as("s"))
      .filter(col("s").isNotNull)
  }

  /** Σ df_p·(df_p−1)/2 over a prefix index — the exact candidate-pair
    * volume the verify step would face, from one skinny aggregate. */
  private def candVolumeOf(prefix: DataFrame): Long =
    prefix.groupBy(col("s")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)))
      .head.getLong(0) / 2

  /** The density guard's statistic WITHOUT running the operator —
    * regime diagnosis (the 100× tier prints it next to the timed
    * row or the refusal). */
  def prefixCandidateVolume(spark: SparkSession, dir: String): Long =
    candVolumeOf(prefixIndex(spark, docShingles(spark, dir)))

  def ngramJaccardPrefixPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = docShingles(spark, dir)
    // localCheckpoint (EAGER): the index is consumed THREE times —
    // the density-guard aggregate below plus both sides of the
    // candidate self-join — and unpinned, each consumer re-paid the
    // full explode + PrefixByDf scan (round-12 review finding: the
    // guard roughly doubled the operator it protects). The pinned
    // rows are the skinny (doc_id, s) prefix fraction, not the corpus.
    val prefix = prefixIndex(spark, t).localCheckpoint()
    // Candidate-DENSITY guard: prefix filtering only pays when
    // candidates ≪ all shared-shingle pairs, and the exact verify
    // attaches two ~KB shingle arrays per candidate — the cost that
    // actually exploded at 100× was candidates × arrays through the
    // verification joins (spill past disk), NOT the skinny candidate
    // join itself. The bound is therefore sized to the verify leg
    // (~2 KB per candidate); past it this operator REFUSES and names
    // the inverted count join, whose cost never depends on candidate
    // density.
    val candVolume = candVolumeOf(prefix)
    require(candVolume <= MaxPrefixCandidates,
      s"ngramJaccardPrefixPairs: ~$candVolume candidate pairs from the " +
        s"prefix index exceed the $MaxPrefixCandidates verification " +
        s"bound — this corpus is pair-dense and prefix filtering " +
        s"cannot pay for itself; use ngramJaccardPairs (inverted count " +
        s"join) at this density")
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyCandidates(t, cand)
  }

  /** Exact-Jaccard verification of a candidate pair set: attach both
    * shingle sets, intersect, threshold — work proportional to the
    * candidate count (shared by the prefix and LSH paths).
    *
    * r17 measured and REVERTED a candidate-endpoint pre-filter here
    * (pin candidates, broadcast the endpoint ids, semi-join the
    * shingle table before the attach — guide §8's "move payloads
    * once"): it cut the dedup_minhash_lsh 100× shuffle 1844 → 521 MB
    * (non-candidate shingle ARRAYS no longer cross the attach
    * exchanges) at wall-clock PARITY on local[32] — local shuffle is
    * not the bottleneck — while costing 25-40% warm at gate scale on
    * both verify consumers (the eager candidate pin blocks
    * pipelining, and the dense prefix path's endpoints ≈ all docs,
    * making the filter pure overhead). On a network-bound cluster the
    * byte cut is the right trade; re-evaluate there, not here. */
  private def verifyCandidates(t: DataFrame, cand: DataFrame): DataFrame =
    exactJaccardPairs(cand,
        t.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        t.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")))
      .orderBy(col("doc_a"), col("doc_b"))

  /** LSH band table (doc_id, band_idx, band_val) over shingle sets —
    * the signature store an incremental pipeline persists per corpus
    * and joins each new batch against. Band values: md5 of the
    * concatenated minhashes in the band.
    *
    * The mh0..mh7 signatures come from ONE array-typed pass
    * ([[graft.functions.MinHashes]], r17): the previous per-j
    * `array_min(transform(sh, md5(...)))` chain ran the md5 walk
    * through interpreted higher-order functions once per hash. The
    * expression is non-cheap and referenced [[NumHashes]] times, so
    * CollapseProject keeps the materializing projection and it
    * evaluates once per row. Values are term-for-term identical (the
    * expression's scaladoc carries the argument; the DuckDB oracle
    * still replays the original md5 algebra). */
  private def bandTable(t: DataFrame): DataFrame = {
    val mh = t.select(col("doc_id"),
      graft.functions.MinHashes(col("sh"), NumHashes).as("mhs"))
    // band_val is unhex'd to BINARY(16) (r18, guide §2.3 "narrower
    // types"): the 32-char md5 hex string was pure width on the band
    // exchanges and the pinned sized table — unhex is injective on
    // md5 output, so bucketing is IDENTICAL (not merely
    // collision-equivalent) and no gate exposes band_val. The oracle
    // keeps grouping on the hex form — same buckets, same outputs.
    val bandCols = (0 until NumHashes / BandRows).map { bi =>
      struct(lit(bi).as("band_idx"),
        unhex(md5(concat(col("mhs").getItem(2 * bi),
            col("mhs").getItem(2 * bi + 1))
          .cast("binary"))).as("band_val"))
    }
    mh.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_val"))
  }

  /** Hot-bucket-capped candidate generation for every banded
    * near-dup self-join (MinHash LSH here, SimHash [[simhashPairs]],
    * pHash [[graft.ext.Multimodal.phashNearDupOn]]) — the round-16
    * verdict's scale-killer: on a boilerplate-heavy corpus (the
    * NORMAL case for web-scale training data) one band value collects
    * k near-identical docs and the naive self-join emits k² candidate
    * pairs out of that single bucket. One window pass sizes every
    * bucket and elects its representative (min doc_id); buckets at or
    * under `cap` enumerate pairs as before, while SATURATED buckets
    * collapse to rep→member star edges — semantically what a
    * saturated band means (its members are near-dups of each other by
    * construction), and exactly the edge set downstream clustering
    * ([[nearDupClusters]]' min-label propagation) needs to place the
    * whole bucket in one component. Candidate count is therefore
    * O(Σ min(n,cap)·n) — linear in corpus size at fixed cap — instead
    * of O(Σ n²), with NO unguarded quadratic path left (the loud-
    * guard discipline of [[MaxExactRows]], made structural). Emitted
    * candidates still flow through each caller's exact verification
    * (Jaccard / Hamming), so every output pair remains a true
    * verified near-dup; inside a saturated bucket the verified set is
    * the rep's star rather than all k² pairs.
    *
    * Shape at scale: the sized band table is PINNED
    * (localCheckpoint) because it feeds three consumers — both sides
    * of the cool-bucket self-join and the star-edge projection. r17
    * measured the unpinned plan: AQE broadcasts the self-join's build
    * side, so the hoped-for exchange reuse never forms and the whole
    * tokenize → shingle → minhash → window chain ran THREE times
    * (three Exchange+Window subtrees in
    * plans/r17/dedup_minhash_lsh_prepin.txt; the pinned shape is
    * plans/r17/dedup_minhash_lsh_postpin.txt). The pinned frame is
    * band-table-sized — NumHashes/BandRows skinny rows per doc,
    * linear in the corpus — and the window runs once. Output
    * pairs are distinct with doc_a < doc_b (the rep is the bucket
    * min, so star edges already satisfy the order). */
  private[graft] def cappedBandPairs(bands: DataFrame,
      cap: Int = HotBucketCap): DataFrame = {
    val w = Window.partitionBy(col("band_idx"), col("band_val"))
    // Decision record (r18, VERDICT r17 #7): this pin is
    // CORPUS-LINEAR (NumHashes/BandRows skinny rows per doc), and
    // localCheckpoint stores blocks on executors WITHOUT lineage — on
    // a real cluster an executor loss mid-query fails the job instead
    // of recomputing. Accepted here: the driver's gates run
    // local-mode (executor loss == driver loss), and on a cluster the
    // right form is persist(DISK_ONLY) + unpersist-after-materialize
    // or a reliable checkpoint — a one-line swap at this site. The
    // pins accumulate one band-table per constructed banded query
    // (ADVICE r17); bounded by the ~6 banded gates per sweep and
    // freed on session GC, so a memo keyed on the caller's source
    // was measured as not worth the indirection at gate scale.
    val sized = bands
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("rep", min(col("doc_id")).over(w))
      .localCheckpoint()
    val cool = sized.filter(col("bucket_n") <= cap)
      .select(col("doc_id"), col("band_idx"), col("band_val"))
    val coolPairs = cool.as("x").join(cool.as("y"),
        col("x.band_idx") === col("y.band_idx")
          && col("x.band_val") === col("y.band_val")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val hotEdges = sized
      .filter(col("bucket_n") > cap && col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    coolPairs.unionByName(hotEdges).distinct()
  }

  /** MinHash+LSH near-dup pairs: signatures → banded bucket join
    * (hot-bucket-capped, [[cappedBandPairs]]) → exact Jaccard
    * verification on band candidates ONLY (shingle sets attached to
    * the candidate pairs) — verification work is proportional to the
    * candidate count, which is what banding is for. On a
    * real-vocabulary corpus candidates are rare and this is far
    * cheaper than [[ngramJaccardPairs]]'s full shared-shingle pass;
    * on this synthetic tiny-vocabulary corpus nearly all pairs
    * collide, so the exact path wins locally — the regimes are
    * documented here precisely because they invert at scale. */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairsCapped(spark, dir, HotBucketCap)

  /** [[minhashLshPairs]] with an explicit hot-bucket cap. */
  def minhashLshPairsCapped(spark: SparkSession, dir: String,
      cap: Int): DataFrame = {
    val t = docShingles(spark, dir)
    verifyCandidates(t, cappedBandPairs(bandTable(t), cap))
  }

  /** Boilerplate clones in the skewed LSH fixture — enough to
    * saturate a band bucket ([[HotBucketCap]] = 64) by ~5×, small
    * enough that the UNCAPPED pair count (≈45k from the clone cluster
    * alone) would still be enumerable if a regression ever removed
    * the cap, so the stats gate reads a meaningful ratio rather than
    * an OOM. */
  private[graft] val SkewClones = 300

  /** Deterministic boilerplate-skew overlay: the corpus plus
    * [[SkewClones]] byte-identical clones of its min-doc_id text
    * under fresh ids past max(doc_id) — the template-page skew (one
    * boilerplate page crawled thousands of times) that makes one band
    * value collect the whole cluster. All-declarative: the template
    * row and the id bound are 1-row subqueries broadcast into a
    * range cross join, so the fixture is a plan, not a driver loop,
    * and DuckDB replays it verbatim. */
  private[graft] def skewedDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val template = d.orderBy(col("doc_id")).limit(1)
      .select(col("text").as("ttext"))
    val bound = d.agg(max(col("doc_id")).as("mx"))
    val clones = spark.range(1, SkewClones + 1).toDF("r")
      .crossJoin(broadcast(template)).crossJoin(broadcast(bound))
      .select((col("mx") + col("r")).as("doc_id"), col("ttext").as("text"))
    d.unionByName(clones)
  }

  /** The hot-bucket collapse, gated end-to-end on the skewed fixture:
    * capped LSH over [[skewedDocs]]. The clone cluster saturates its
    * band buckets (301 docs vs cap 64), so candidate generation emits
    * the template's star — 300 verified (jaccard = 1) pairs — instead
    * of the ~45k-pair clique, while every cool bucket behaves exactly
    * as [[minhashLshPairs]]. The DuckDB oracle replays fixture,
    * windowed bucket sizing, collapse, and verification bit for
    * bit. */
  def minhashLshHotBucket(spark: SparkSession, dir: String): DataFrame = {
    val t = shingleSets(skewedDocs(spark, dir))
    verifyCandidates(t, cappedBandPairs(bandTable(t), HotBucketCap))
  }

  /** The bound itself, as a gated single-row report over the skewed
    * fixture's band table: bucket count, max bucket, saturated
    * buckets, and the capped vs uncapped candidate totals — computed
    * from bucket SIZES alone (one agg, no pair enumeration), so the
    * query that PROVES candidate work is O(Σ min(n,cap)·n) is itself
    * O(bands). Capped per bucket = n(n−1)/2 when n ≤ cap, else n−1
    * star edges. */
  def lshBucketStats(spark: SparkSession, dir: String): DataFrame =
    lshBucketStatsOn(skewedDocs(spark, dir))

  /** [[lshBucketStats]] over an arbitrary (doc_id, text, …) frame —
    * the form the ScaleUp skew rows run against the 100× corpus. */
  def lshBucketStatsOn(docs: DataFrame): DataFrame = {
    val half = (col("n") * (col("n") - 1) / 2).cast("long")
    bandTable(shingleSets(docs))
      .groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).cast("long").as("buckets"),
        max(col("n")).cast("long").as("max_bucket"),
        sum(when(col("n") > HotBucketCap, 1L).otherwise(0L))
          .cast("long").as("saturated_buckets"),
        sum(half).cast("long").as("uncapped_candidates"),
        sum(when(col("n") <= HotBucketCap, half)
          .otherwise(col("n") - 1)).cast("long").as("capped_candidates"))
  }

  /** SimHash 64-bit signatures: per-token 64-bit hashes vote per bit,
    * weighted majority becomes the signature bit. Near-dup = small
    * Hamming distance on the signature (join on 16-bit sub-bands at
    * scale). Engine-hash-based (xxhash64), so checked rows-only. */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tok = d.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$j")
    }
    val sig = (0 until 64).map { j =>
      shiftleft((col(s"v$j") > 0).cast("long"), j)
    }.reduce(_.bitwiseOR(_))
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
      .withColumn("band0", col("simhash").bitwiseAND(lit(0xFFFFL)))
      .withColumn("band1", shiftright(col("simhash"), 16).bitwiseAND(lit(0xFFFFL)))
      .withColumn("band2", shiftright(col("simhash"), 32).bitwiseAND(lit(0xFFFFL)))
      .withColumn("band3", shiftright(col("simhash"), 48).bitwiseAND(lit(0xFFFFL)))
      .orderBy(col("doc_id"))
  }

  /** Engine-independent SimHash: per-token bits come from the md5 hex
    * digest (first 64 bits) instead of xxhash64, so DuckDB can replay
    * the exact signature — the same md5-keying trick that makes the
    * MinHash stage oracle-checkable. Bit j of a token = bit (3-j%4) of
    * hex nibble j/4. Output is the signature as 4×16-bit bands (the
    * join keys the banded near-dup search uses). The xxhash64 variant
    * above stays as the cheaper production path; both share the
    * vote/band plan shape, which is what matters at scale. */
  def simhashSignaturesMd5(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tok = d.select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    val votes = (0 until 64).map { j =>
      val nib = conv(substring(col("h"), j / 4 + 1, 1), 16, 10).cast("int")
      sum(when(shiftright(nib, 3 - j % 4).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$j")
    }
    val bands = (0 until 4).map { b =>
      (0 until 16).map { k =>
        when(col(s"v${16 * b + k}") > 0, 1 << k).otherwise(0)
      }.reduce(_ + _).cast("long").as(s"band$b")
    }
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id") +: bands: _*)
      .orderBy(col("doc_id"))
  }

  /** The same md5-bit signature through the fused custom aggregate
    * ([[graft.functions.SimHashAgg]]): one int[64] vote buffer per
    * group instead of 64 SUM columns — the registered production path.
    * Equality with the declarative formulation is asserted in
    * FunctionsSpec, and the DuckDB oracle (which replays the
    * declarative votes) checks it end-to-end. */
  def simhashSignaturesAgg(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tok = d.select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    tok.groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg(col("h")).as("sig"))
      .select(col("doc_id"),
        col("sig").bitwiseAND(lit(0xFFFFL)).as("band0"),
        shiftright(col("sig"), 16).bitwiseAND(lit(0xFFFFL)).as("band1"),
        shiftright(col("sig"), 32).bitwiseAND(lit(0xFFFFL)).as("band2"),
        shiftright(col("sig"), 48).bitwiseAND(lit(0xFFFFL)).as("band3"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs via banded join (hot-bucket-capped,
    * [[cappedBandPairs]]) + Hamming filter — the signatures attach to
    * the bounded candidate set by doc_id equi-joins, so the Hamming
    * confirm's work tracks candidates, never bucket². */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 8,
      cap: Int = HotBucketCap): DataFrame = {
    val s = simhashSignatures(spark, dir)
    val bands = (0 to 3).map { bi =>
      s.select(col("doc_id"), lit(bi).as("band_idx"), col(s"band$bi").as("band_val"))
    }.reduce(_.unionByName(_))
    cappedBandPairs(bands, cap)
      .join(s.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a")),
        Seq("doc_a"))
      .join(s.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Large-star operation (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014): for every node u, connect each
    * strictly-LARGER neighbor to min(N(u) ∪ {u}). One groupBy + one
    * join over the edge set; output stays canonical (u > v). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // no dedup here (r17): the only consumer is [[smallStar]], whose
    // groupBy-min is duplicate-insensitive and whose own distinct
    // canonicalizes the round's output — the per-round edge SET is
    // identical (CC loop evolution unchanged, asserted by the same
    // convergence/star-forest checks), and dropping the exchange cuts
    // the loop from 4 to 3 edge-set shuffles per round. Duplicate
    // volume is bounded: the input is distinct, so repeats arise only
    // when two centers share a (satellite, min) pair — ≤ |E_sym|
    // rows either way.
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star operation: for every node u (over edges directed
    * larger→smaller), connect each smaller neighbor AND u itself to
    * min(N(u)) — the contraction step that flattens chains into
    * stars. Input and output canonical (u > v). */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    e.join(mins, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components over an undirected (doc_a, doc_b) edge list
    * via alternating large-star/small-star contraction — the bounded-
    * round MapReduce CC algorithm (Kiveris et al., SoCC 2014), which
    * converges in O(log² n) rounds worst-case and a small constant in
    * practice, vs component-DIAMETER rounds for plain min-label
    * propagation.
    *
    * Scale shape: every round touches ONLY the edge set (two
    * groupBy+join passes over |E| skinny rows) — the corpus-sized doc
    * table is never joined inside the loop, which is what makes this
    * the 100-TB form (the previous label-propagation fixpoint shuffled
    * a corpus-sized label table per round: 4.9 GB at 100× vs edge-set
    * megabytes here). `localCheckpoint` truncates lineage per round.
    *
    * Termination is checked structurally, not probabilistically: the
    * loop exits when a full (large, small) round leaves the edge set
    * unchanged, the round count is bounded by the PROVEN worst case —
    * O(log²|E|), concretely 2·⌈log₂|E|⌉²+8, overridable via
    * `maxRounds` — with a loud failure (a tighter 2·log₂|E|+4 bound
    * matched practice but could falsely abort a legitimately-slow
    * adversarial edge set), and the final edge set is ASSERTED to be
    * a star forest
    * (every satellite has exactly one center; no center is a
    * satellite). Both operations preserve connectivity and only ever
    * decrease endpoint ids, so the star centers are exactly the
    * component minima.
    *
    * Returns (labels = (doc_id, cluster_id) for every node that
    * appears in an edge, rounds executed). Runs EAGERLY when called
    * (driver-coordinated loop, like any MapReduce-CC implementation);
    * the returned frame is checkpoint-truncated. */
  def connectedComponents(edges: DataFrame,
      maxRounds: Int = 0): (DataFrame, Int) = {
    var e = edges.toDF("doc_a", "doc_b")
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()
    var count = e.count()
    val log2e = 64 - java.lang.Long.numberOfLeadingZeros(count max 1)
    val bound = if (maxRounds > 0) maxRounds else 2 * log2e * log2e + 8
    var rounds = 0
    var converged = count == 0
    while (!converged) {
      require(rounds < bound,
        s"large-star/small-star did not converge in $bound rounds " +
          s"($count edges) — not a star forest; investigate the edge set")
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nextCount = next.count()
      converged = nextCount == count && next.exceptAll(e).isEmpty
      e = next
      count = nextCount
      rounds += 1
    }
    // structural star-forest check: satellites have exactly one center
    // and no center is itself a satellite — with connectivity
    // preservation this certifies center = component min. Both
    // violations union into ONE probe job (r17).
    require(e.groupBy(col("u")).agg(countDistinct(col("v")).as("k"))
      .filter(col("k") > 1).select(col("u"))
      .unionByName(e.select(col("u")).intersect(e.select(col("v"))))
      .isEmpty,
      "converged edge set is not a star forest (a satellite with two " +
        "centers, or a center that is also a satellite)")
    val labels = e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(e.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
    (labels, rounds)
  }

  /** Near-dup cluster resolution: connected components over the
    * [[ngramJaccardPairs]] edge set via [[connectedComponents]]
    * (bounded-round large-star/small-star); components are labeled by
    * their minimum doc_id. `keep` marks the canonical representative —
    * the decision step that turns near-dup PAIRS into actual corpus
    * dedup. Docs in no pair are their own singleton cluster via ONE
    * left join of the corpus against the (edge-node-sized) label set —
    * the corpus is touched exactly once, outside the iteration. */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    // session-scoped scratch labels, built once per source fingerprint
    // (r17 — the round-14 shared-scratch discipline, same shape as
    // ClusterOps.knnCommunities): six gates (clusters, keep-best, the
    // split family, the curation pipeline and cards) each re-ran the
    // identical LSH pair build + CC fixpoint on the same corpus. The
    // `keep` flag re-derives on read (keep = doc_id == cluster_id,
    // the component-min election — a pure projection).
    graft.ops.SessionStore.parquet(spark,
      graft.ops.SessionStore.dir("ndClusters", s"$dir/documents.parquet") {
        out => nearDupClustersOn(Tables.documents(spark, dir))
          .select(col("doc_id"), col("cluster_id")).write.parquet(out)
      })
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("keep"))
      .orderBy(col("doc_id"))

  /** [[nearDupClusters]] over an explicit documents frame, unordered —
    * what the incremental label-merge path uses to build the initial
    * gold-only label set. */
  def nearDupClustersOn(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val (labels, _) = connectedComponents(
      ngramJaccardPairsOn(docs).select(col("doc_a"), col("doc_b")))
    ids.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** Cross-method agreement between the TEXT near-dup signal (n-gram
    * Jaccard pairs) and the SEMANTIC one (embedding-cosine pairs,
    * vec_id aligned 1:1 with doc_id) — the diagnostic a pipeline runs
    * before deciding whether semantic dedup adds coverage over text
    * dedup or merely re-finds the same pairs: high pair-Jaccard means
    * the embedding pass is redundant; low means each method sees dups
    * the other misses and both belong in the pipeline.
    *
    * Shape at scale: a full outer join of two OUTPUT-sized pair sets
    * (each orders of magnitude smaller than the corpus) reduced to
    * one summary row; the inputs are the already-vetted pair
    * operators composed verbatim (at scale, their LSH forms). */
  def methodAgreement(spark: SparkSession, dir: String): DataFrame = {
    val text = ngramJaccardPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_text"))
    val sem = embeddingCosinePairs(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        lit(1L).as("in_sem"))
    // coalesce the sums: aggregating an EMPTY full-outer join yields
    // NULL sums, which would make the ===0 guard below evaluate NULL
    // and fall through to `otherwise` — returning NULL counts instead
    // of the intended zeros on a pair-free corpus
    val j = text.join(sem, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum((col("in_text").isNotNull && col("in_sem").isNotNull)
          .cast("long")), lit(0L)).as("both_methods"),
        coalesce(sum((col("in_text").isNotNull && col("in_sem").isNull)
          .cast("long")), lit(0L)).as("text_only"),
        coalesce(sum((col("in_text").isNull && col("in_sem").isNotNull)
          .cast("long")), lit(0L)).as("semantic_only"))
    j.select(
      (col("both_methods") + col("text_only")).as("text_pairs"),
      (col("both_methods") + col("semantic_only")).as("semantic_pairs"),
      col("both_methods"), col("text_only"), col("semantic_only"),
      when(col("both_methods") + col("text_only") +
          col("semantic_only") === 0, lit(0.0))
        .otherwise(col("both_methods").cast("double") /
          (col("both_methods") + col("text_only") + col("semantic_only")))
        .as("pair_jaccard"))
  }

  /** Quality-argmax canonical selection per near-dup cluster: the
    * member kept is the cluster's HIGHEST-quality document (composite
    * score from [[TextOps.scoredDocs]]; ties to the lower doc_id),
    * not the lowest id. This is the keep policy production dedup
    * actually wants — when a boilerplate-ridden scrape and a clean
    * article are near-dups, lowest-id keeps whichever was crawled
    * first; quality-argmax keeps the clean one (the policy knob
    * RefinedWeb/FineWeb-class pipelines expose on top of MinHash
    * clusters).
    *
    * Shape at scale: clusters (bounded-round CC labels) join the
    * per-doc score scan on doc_id, then ONE rank window partitioned
    * by cluster_id — NDV ~ document count, so group sizes stay the
    * near-dup cluster sizes (bounded by dedup quality, not corpus
    * growth). */
  def keepBestQuality(spark: SparkSession, dir: String): DataFrame =
    keepBestOver(spark, dir, nearDupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id")))

  /** [[keepBestQuality]] fed from the persisted split-label artifact
    * ([[Sampling.writeSplitLabels]] — its rows carry cluster_id): the
    * live CC fixpoint (64 s / 3.9 GB at 100×) drops out, leaving the
    * per-doc score scan + the cluster-keyed rank window. Same
    * artifact-currency contract as [[Curation.dataCardFrom]];
    * equality with the live form asserted in DedupSpec. */
  def keepBestQualityFrom(spark: SparkSession, dir: String,
      labelsDir: String): DataFrame =
    keepBestOver(spark, dir,
      Sampling.trainTestSplitFrom(spark, labelsDir)
        .select(col("doc_id"), col("cluster_id")))

  /** DRIVER-GATED serve path for keep-best (round-12 verdict task
    * #3): write the split-label artifact to a scratch dir, then
    * answer from it via [[keepBestQualityFrom]] — gated against the
    * same live-CC replay as [[keepBestQuality]]. */
  def keepBestQualityServed(spark: SparkSession, dir: String): DataFrame =
    // the label store is the session's build-once artifact (r17):
    // three serve-path gates seeded private copies of the same store,
    // re-running the CC fixpoint each time
    keepBestQualityFrom(spark, dir, Sampling.splitLabelsFor(spark, dir))

  private def keepBestOver(spark: SparkSession, dir: String,
      clusters: DataFrame): DataFrame = {
    val q = TextOps.scoredDocs(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        (col("rn") === 1).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup edges INTRODUCED by appending `batch` to `gold`: every
    * n-gram-Jaccard qualifying pair (same shingles, same threshold as
    * [[ngramJaccardPairs]]) with at least one batch endpoint —
    * gold×batch plus batch×batch. Gold-internal pairs cannot change
    * when documents are appended, so this edge set is exactly the
    * DELTA between the full-corpus near-dup graph and the gold-only
    * one — the input [[Sampling.mergeBatchLabels]] needs to refresh
    * cluster labels without a corpus-level rebuild.
    *
    * Shape at scale: the batch's inverted index and shingle sets are
    * BROADCAST (a batch is micro-batch-sized by definition; the gold
    * corpus is the 100-TB side), so the gold side is pure scan + map
    * probe work — no corpus-sized shuffle anywhere: candidate
    * generation, verification, and the output all track the batch. */
  def batchNearDupEdges(gold: DataFrame, batch: DataFrame): DataFrame = {
    val goldSh = shingleSets(gold)
    val batchSh = shingleSets(batch)
    // explode_outer + null-drop: the InferFiltersFromGenerate
    // double-tokenize discipline (see sharedPairJaccard)
    val invG = goldSh.select(col("doc_id"), explode_outer(col("sh")).as("s"))
    val invB = batchSh.select(col("doc_id"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    val candGB = invG.as("g")
      .join(broadcast(invB).as("nb"), col("g.s") === col("nb.s"))
      .select(col("g.doc_id").as("doc_a"), col("nb.doc_id").as("doc_b"))
      .distinct()
    val candBB = invB.as("x")
      .join(broadcast(invB).as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // the candidate set is batch-bounded (near-dup density × batch),
    // so it BROADCASTS into the gold shingle attach — without the hint
    // the static planner sees an unknown-size distinct and would
    // shuffle the corpus-sized gold side to meet it
    val gb = exactJaccardPairs(broadcast(candGB),
      goldSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
      broadcast(batchSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))))
    val bb = exactJaccardPairs(candBB,
      broadcast(batchSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))),
      broadcast(batchSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))))
    gb.unionByName(bb).select(col("doc_a"), col("doc_b"))
  }

  /** Exact-Jaccard filter of a candidate pair set against explicit
    * (doc_a, sh_a) / (doc_b, sh_b) shingle frames — the shared core of
    * [[verifyCandidates]] and [[batchNearDupEdges]]. */
  private def exactJaccardPairs(cand: DataFrame, sa: DataFrame,
      sb: DataFrame): DataFrame =
    cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          (size(col("sh_a")) + size(col("sh_b"))
            - size(array_intersect(col("sh_a"), col("sh_b")))))
          .as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)

  /** Incremental dedup of a new batch against an existing gold
    * corpus — the production shape: each incoming batch is checked
    * against the accumulated store, never corpus × corpus. Two
    * stages, in increasing cost:
    *
    *  1. exact: fingerprint lookup against the gold fingerprint set
    *     (an equi-join on md5 — at scale the store is bucketed by
    *     fingerprint so this is a co-located probe);
    *  2. near-dup: LSH band join of the *surviving* new docs'
    *     signatures against the gold band table ([[bandTable]] — the
    *     store an incremental pipeline persists), then exact-Jaccard
    *     verification of candidates only.
    *
    * Verdict per new doc: `exact_dup` (match = min gold doc with the
    * same fingerprint), else `near_dup` (best gold match by jaccard
    * desc, doc asc), else `unique`. The registered query derives
    * "gold" and "new" from a doc_id cutoff at 80% of max so DuckDB
    * can replay the split; [[incrementalAgainstIndex]] is the same
    * logic against a persisted index, asserted equal in DedupSpec. */
  def incrementalNearDups(spark: SparkSession, dir: String): DataFrame = {
    // gold and fresh both slice the doc_id-bucketed gold corpus
    // (build-once per source fingerprint): the fresh side's
    // doc_id-keyed survivor join and final verdict join then need no
    // exchange on the corpus-derived side — shingling/fingerprinting
    // are map work, so the bucketed scan's partitioning survives to
    // the join
    val d = graft.pipeline.GoldLayout.documentsBucketed(spark, dir)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    incrementalSplit(d.filter(col("doc_id") <= cutoff),
      d.filter(col("doc_id") > cutoff))
  }

  /** DRIVER-GATED store serve — the dedup-family sibling of
    * [[graft.ext.Retrieval.bm25Served]]: build the gold index as a
    * committed store ([[graft.ops.StoreCommit]] — versioned dir +
    * pointer flip + committed file list, no rename dependency
    * anywhere), then judge the held-out 20% against it through the
    * manifest read path ([[incrementalAgainstIndex]]'s per-component
    * manifest-filtered reads). Oracle = `dedup_incremental`'s replay
    * verbatim, so hash equality proves a committed index store serves
    * exactly like the live split. */
  def incrementalManifestServed(spark: SparkSession,
      dir: String): DataFrame = {
    val ix = graft.ops.Scratch.dir("graft_dedup_manix") + "/ix"
    val d = graft.pipeline.GoldLayout.documentsBucketed(spark, dir)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    writeGoldIndex(d.filter(col("doc_id") <= cutoff), ix)
    incrementalAgainstIndex(spark, d.filter(col("doc_id") > cutoff), ix)
  }

  /** Core of [[incrementalNearDups]] over explicit gold/new frames
    * (both (doc_id, text, ...); doc_ids must be globally unique). */
  def incrementalSplit(gold: DataFrame, fresh: DataFrame): DataFrame = {
    val goldFp = gold
      .select(fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("exact_match"))
    // one shingle frame feeds both the band table and verification —
    // the plan still evaluates the branches independently, but a
    // single definition keeps them in lockstep (and is what the
    // persisted-index path materializes once on disk)
    val goldSh = shingleSets(gold)
    incrementalCore(fresh, goldFp, bandTable(goldSh), goldSh)
  }

  /** Persist the gold corpus's dedup index as one committed version of
    * the store at `root` ([[graft.ops.StoreCommit]]): fingerprint set,
    * LSH band table (partitioned by band_idx so a band probe prunes to
    * one directory), and shingle sets for candidate verification. This
    * is the state an incremental pipeline accumulates batch over
    * batch. */
  def writeGoldIndex(gold: DataFrame, root: String): Unit =
    StoreCommit.replace(root)(writeIndexVersion(gold, _))

  /** The three index components written into one staging version.
    * `outFiles` > 0 shapes the write to roughly that many part files
    * total (key-hashed repartitions, so probe-side pruning semantics
    * are unchanged) — the COMPACTION form [[maybeCompactIndex]] uses.
    * The default 0 writes at plan parallelism: full throughput for
    * the initial corpus-scale build, where file counts are already
    * proportional to data, not to append history. */
  private def writeIndexVersion(gold: DataFrame, path: String,
      outFiles: Int = 0): Unit = {
    val n = math.max(1, outFiles / 6)
    def shaped(df: DataFrame, keys: org.apache.spark.sql.Column*) =
      if (outFiles > 0) df.repartition(n, keys: _*) else df
    shaped(gold.select(fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("exact_match")),
        col("fp"))
      .write.mode("overwrite").parquet(s"$path/fingerprints")
    // cache(): the band write and the shingle write are two ACTIONS
    // over the same tokenize+shingle pass — without it the corpus is
    // re-tokenized and re-minhashed once per write
    val goldSh = shingleSets(gold).cache()
    try {
      shaped(bandTable(goldSh), col("band_val"))
        .write.mode("overwrite").partitionBy("band_idx")
        .parquet(s"$path/bands")
      shaped(goldSh, col("doc_id"))
        .write.mode("overwrite").parquet(s"$path/shingles")
    } finally goldSh.unpersist()
  }

  /** Crash recovery: rebuild the dedup index from the gold corpus.
    *
    * The streaming sink ([[graft.streaming.EventStreams.incrementalDedupSink]])
    * appends gold BEFORE extending the index, so a crash between the
    * two writes leaves gold docs the index doesn't know about —
    * duplicates of those docs would be missed (never invented). This
    * closes that window: the gold corpus is the source of truth and
    * the index is derived state, so a full rebuild from gold restores
    * the exact index a crash-free run would have produced
    * (fingerprints, band table, and shingle sets are all
    * deterministic functions of the text). Runs as one distributed
    * pass over gold per component — at 100 TB this is the same cost
    * as the initial index build, so operators should also consider
    * it the compaction path for a store fragmented by many small
    * appends. */
  def rebuildIndex(spark: SparkSession, goldDir: String,
      indexDir: String, outFiles: Int = 0): Unit = {
    // tombstoned docs stay out of the rebuilt components (a rebuild
    // from full gold would silently resurrect them), and the
    // tombstone set is CARRIED into the fresh store — gold is
    // append-only and keeps the removed rows, so every future
    // rebuild must re-apply the same removals (dropping the list
    // here would resurrect the docs at the NEXT compaction). The
    // carried list is compacted to its distinct ids — removal-set-
    // sized, and the probe-side anti-join over the rebuilt
    // components is a no-op until new tombstones arrive.
    val ts = tombstonesOf(spark, indexDir)
      .map(_.localCheckpoint())
    val gold0 = StoreCommit.read(spark, goldDir)
    val gold = ts.map(t =>
      gold0.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(gold0)
    // the whole three-component index replaces atomically (the index
    // is derived state — the staged replace just makes the rebuild
    // itself crash-safe for free)
    StoreCommit.replace(indexDir) { next =>
      writeIndexVersion(gold, next, outFiles)
      ts.foreach(_.write.parquet(s"$next/tombstones"))
    }
  }

  /** Extend a [[writeGoldIndex]] store with newly-accepted docs
    * (append-mode writes of the same three components). Callers add
    * only docs whose verdict was `unique`, so the appended
    * fingerprints are disjoint from the stored ones — the fingerprint
    * probe join stays key-unique. The streaming pipeline
    * ([[graft.streaming.EventStreams.incrementalDedupSink]]) calls
    * this once per micro-batch. */
  def appendGoldIndex(docs: DataFrame, path: String): Unit =
    // the committed file list extends AFTER all three component
    // writes land — the append's one commit point, covering every
    // component at once
    StoreCommit.append(path) { live =>
      docs.select(fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("exact_match"))
        .write.mode("append").parquet(s"$live/fingerprints")
      val sh = shingleSets(docs).cache()
      try {
        bandTable(sh).write.mode("append").partitionBy("band_idx")
          .parquet(s"$live/bands")
        sh.write.mode("append").parquet(s"$live/shingles")
      } finally sh.unpersist()
    }

  /** Part-file count past which [[maybeCompactIndex]] rebuilds the
    * store. Each [[appendGoldIndex]] adds one task's worth of part
    * files per component per micro-batch; past a few dozen files the
    * scan's file-listing and footer overhead starts to dominate small
    * probes, and the fix is the same full rebuild crash recovery uses.
    * Deployments tune this with their micro-batch cadence (the
    * trade: rebuild cost ≈ initial index build, amortized over
    * ~threshold appends). */
  val CompactFileThreshold = 64

  /** Total committed part files across the three index components —
    * the fragmentation measure the compaction policy watches (never a
    * listing that could include torn junk). */
  def indexFileCount(path: String): Int =
    Seq("fingerprints", "bands", "shingles")
      .map(StoreCommit.subFileCount(path, _)).sum

  /** Compaction policy for the append-mode index store: when
    * [[appendGoldIndex]] has fragmented the store past `threshold`
    * part files, rebuild it from the gold corpus ([[rebuildIndex]] —
    * gold is the source of truth, the index is derived state, so the
    * compacted store is exactly the one a single build would have
    * produced). Returns whether a rebuild ran. The streaming sinks
    * call this once per micro-batch (a file listing when under
    * threshold — cheap); batch deployments can call it on a schedule. */
  def maybeCompactIndex(spark: SparkSession, goldDir: String,
      indexDir: String, threshold: Int = CompactFileThreshold): Boolean = {
    val n = indexFileCount(indexDir)
    // compact to ~half the threshold, so the next compaction is
    // ~threshold/2 appends away instead of immediate — without the
    // file target the rebuild writes at plan parallelism and can
    // REPRODUCE the fragmentation it was asked to fix (measured: an
    // 81-file store "compacted" to 81 files)
    if (n > threshold) {
      rebuildIndex(spark, goldDir, indexDir,
        outFiles = math.max(6, threshold / 2))
      true
    } else false
  }

  /** Tombstone REMOVED gold docs in a [[writeGoldIndex]] store — the
    * snapshot-diff removal leg (round-15 stretch #7 applied to the
    * near-dup index). Gold admits only ACCEPTED uniques (exact dups
    * never enter — the sink rejects them), so every fingerprint row
    * in the index belongs to exactly one gold doc and removal is
    * per-row: fingerprints rows whose keeper id is tombstoned,
    * band/shingle rows whose doc id is. The tombstone set is an
    * append-only id list (read through distinct, so a replayed
    * append is harmless); probes anti-join it on the index-bounded
    * components — diff-sized broadcast work, never a corpus pass —
    * and [[rebuildIndex]] excludes the tombstoned docs from the
    * rebuilt components while CARRYING the (distinct-compacted) list
    * into the fresh store: gold is append-only and keeps the removed
    * rows, so the removals must re-apply at every future rebuild. A
    * CHANGED doc re-enters through the normal append path under a
    * new monotone id after its old id is tombstoned; the gold corpus
    * files themselves keep the removed rows — the index (what probes
    * consult) is what forgets them. */
  def tombstoneGoldIndex(removed: DataFrame, path: String): Unit =
    StoreCommit.append(path) { live =>
      removed.select(col("doc_id")).write.mode("append")
        .parquet(s"$live/tombstones")
    }

  private def tombstonesOf(spark: SparkSession, path: String): Option[DataFrame] =
    if (StoreCommit.subFileCount(path, "tombstones") > 0)
      Some(StoreCommit.readSub(spark, path, "tombstones")
        .select(col("doc_id")).distinct())
    else None

  /** Residue class the vacuum gate tombstones (doc_id % 7 ==
    * [[VacuumResidue]]) — arbitrary but fixed, so DuckDB replays the
    * retained corpus exactly. */
  private[graft] val VacuumResidue = 3

  /** Physical vacuum for the gold corpus + its dedup index (round-16
    * verdict #4). Gold is APPEND-ONLY, so a removed doc lives on as a
    * stored row plus a carried tombstone forever: over a multi-year
    * 100 TB lifecycle the dead bytes and the tombstone set grow
    * without bound, every index rebuild re-applies the same removals,
    * and every probe pays the anti-join. The vacuum is the one place
    * the append-only contract is deliberately broken, as a
    * maintenance pass under the commit protocol:
    *
    *  1. gold rewrites WITHOUT the tombstoned rows
    *     ([[graft.ops.StoreCommit.replace]]); the vacuumed ids join
    *     the guard root's permanent `_removed` log, and the guard
    *     watermark keeps its PRE-vacuum value (the retained max id can
    *     be lower, and replayed old batches must still drop);
    *  2. the index rebuilds from the retained corpus with the
    *     tombstone list RESET (the removals are now physical — a
    *     carried list would be a permanent no-op tax on every probe).
    *
    * Crash windows: a crash inside the gold replace leaves the old
    * version committed (recovered at entry); a crash between the
    * gold replace and the index rebuild leaves the OLD index
    * whose tombstone filter still masks the removed docs — reads stay
    * correct, and the next vacuum (or the sink's crash-gated
    * [[rebuildIndex]]) converges the index. Returns (removed rows,
    * reclaimed gold bytes); (0, 0) when there is nothing to vacuum. */
  def vacuumGold(spark: SparkSession, goldDir: String,
      indexDir: String): (Long, Long) = {
    StoreCommit.recover(goldDir)
    StoreCommit.recover(indexDir)
    val ts = tombstonesOf(spark, indexDir)
      .map(_.localCheckpoint())
      .getOrElse(return (0L, 0L))
    if (ts.isEmpty) return (0L, 0L)
    val bytesBefore =
      graft.ops.StoreFiles.dataBytes(StoreCommit.readDir(goldDir))
    val gold0 = StoreCommit.read(spark, goldDir)
    val before = gold0.count()
    val retained = gold0
      .join(broadcast(ts), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // the PERMANENT removed-id log: after the physical rewrite,
    // "absent from gold" no longer implies "never admitted", so the
    // sink's post-crash anti-join fallback unions this log — a
    // replayed batch must not re-admit a vacuumed doc. Appended
    // BEFORE the replace (a crash in between only logs ids gold still
    // holds; the log is read through distinct). The log, watermark
    // and sync marker live at the root and survive the replace.
    graft.ops.SinkGuard.appendRemovedIds(ts, goldDir)
    StoreCommit.replace(goldDir)(retained.write.parquet(_))
    writeGoldIndex(retained, indexDir)
    (before - retained.count(), bytesBefore -
      graft.ops.StoreFiles.dataBytes(StoreCommit.readDir(goldDir)))
  }

  /** The vacuum, gated end to end: build gold + index on the ≤80%
    * slice, tombstone the doc_id % 7 == [[VacuumResidue]] class,
    * vacuum, then serve the held-out 20% through
    * [[incrementalAgainstIndex]] on the VACUUMED store. The oracle
    * replays the incremental dedup against a FRESH build on the
    * retained corpus — so the hash-exact match is precisely
    * "post-vacuum store serves identically to a fresh build on what
    * remains". */
  def vacuumServed(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.ops.Scratch.dir("graft_vacuum")
    val goldDir = s"$base/gold"; val ixDir = s"$base/ix"
    val d = graft.pipeline.GoldLayout.documentsBucketed(spark, dir)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    val gold = d.filter(col("doc_id") <= cutoff)
    StoreCommit.replace(goldDir)(gold.write.parquet(_))
    writeGoldIndex(gold, ixDir)
    tombstoneGoldIndex(
      gold.filter(col("doc_id") % 7 === VacuumResidue), ixDir)
    vacuumGold(spark, goldDir, ixDir)
    incrementalAgainstIndex(spark, d.filter(col("doc_id") > cutoff), ixDir)
  }

  /** Incremental dedup of `fresh` against a [[writeGoldIndex]] store —
    * no access to the gold texts, only the persisted index.
    * Tombstoned docs (see [[tombstoneGoldIndex]]) are invisible on
    * every component. An index whose `bands.band_val` is not BINARY(16)
    * (the md5-hex string of indexes written before the band table was
    * unhexed) is refused: joined against fresh binary bands it would
    * match no near-duplicate at all, silently. */
  def incrementalAgainstIndex(spark: SparkSession, fresh: DataFrame,
      path: String): DataFrame = {
    val ts = tombstonesOf(spark, path)
    def dropTs(df: DataFrame, idCol: String): DataFrame =
      ts.map(t => df.join(
        broadcast(t.withColumnRenamed("doc_id", idCol)),
        Seq(idCol), "left_anti")).getOrElse(df)
    val bands = StoreCommit.readSub(spark, path, "bands")
    val bandType = bands.schema("band_val").dataType
    if (bandType != org.apache.spark.sql.types.BinaryType)
      throw new IllegalStateException(
        s"gold index at $path stores bands.band_val as " +
          s"${bandType.simpleString}, not binary: it predates the " +
          "BINARY(16) band format and would match no near-duplicate. " +
          "Rebuild it from the gold corpus with Dedup.rebuildIndex " +
          "(the gold index rebuild).")
    incrementalCore(fresh,
      dropTs(StoreCommit.readSub(spark, path, "fingerprints"), "exact_match"),
      dropTs(bands.select(col("doc_id"), col("band_idx"), col("band_val")),
        "doc_id"),
      dropTs(StoreCommit.readSub(spark, path, "shingles"), "doc_id"))
  }

  private def incrementalCore(fresh: DataFrame, goldFp: DataFrame,
      goldBands: DataFrame, goldSh: DataFrame,
      cap: Int = HotBucketCap): DataFrame = {
    val exact = fresh.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .join(goldFp, Seq("fp"), "left")
      .select(col("doc_id"), col("exact_match"))
    // only exact-stage survivors reach the signature stage
    val freshSh = shingleSets(fresh)
      .join(exact.filter(col("exact_match").isNull).select(col("doc_id")),
        Seq("doc_id"))
    // hot-bucket cap on the GOLD probe side (the two-sided analog of
    // [[cappedBandPairs]]): a saturated gold bucket — k near-identical
    // boilerplate docs sharing a band value — would hand EVERY fresh
    // doc that hits it k candidates; keep only the bucket's `cap`
    // lowest doc_ids, which always include the bucket's canonical
    // representative (min doc_id — the id dedup's keep policy elects
    // anyway), so a fresh near-dup still matches the cluster while
    // per-fresh-doc candidate work is bounded by bands × cap
    val goldBandsCapped = goldBands
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("band_idx"), col("band_val"))
        .orderBy(col("doc_id"))))
      .filter(col("rn") <= cap).drop("rn")
    val cand = goldBandsCapped.as("g").join(bandTable(freshSh).as("nw"),
        col("g.band_idx") === col("nw.band_idx")
          && col("g.band_val") === col("nw.band_val"))
      .select(col("g.doc_id").as("doc_a"), col("nw.doc_id").as("doc_b"))
      .distinct()
    // verify candidates against gold + fresh shingle sets
    val sa = goldSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = freshSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val verified = cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          (size(col("sh_a")) + size(col("sh_b"))
            - size(array_intersect(col("sh_a"), col("sh_b")))))
          .as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
    val best = verified.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_b"))
          .orderBy(col("jaccard").desc, col("doc_a"))))
      .filter(col("rn") === 1)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("near_match"),
        col("jaccard"))
    exact.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, lit("exact_dup"))
          .when(col("near_match").isNotNull, lit("near_dup"))
          .otherwise(lit("unique")).as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"),
        when(col("exact_match").isNull, col("jaccard")).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Embedding near-dup pairs: double-precision cosine over the float
    * vectors, all-pairs baseline (LSH/IVF variants in Similarity).
    * Guarded: the O(n²) plan refuses to run past [[MaxExactRows]] —
    * use [[Similarity.lshBucketedPairs]] for large corpora.
    *
    * NOTE the guard runs an EAGER `count()` job when the frame is
    * constructed (the cost of failing loudly before the quadratic
    * join, not after) — don't build this inside a hot loop; it is a
    * quarantined exactness baseline, not a production path. */
  def embeddingCosinePairs(spark: SparkSession, dir: String,
      maxRows: Long = MaxExactRows): DataFrame =
    // r18: served from a session store — the guarded O(n²) baseline
    // ran twice per sweep (its own gate + method_agreement's semantic
    // leg). The guard runs at store-build time (maxRows is part of
    // the key, so a stricter caller still re-checks).
    graft.ops.SessionStore.parquet(spark,
      graft.ops.SessionStore.dir(s"cosPairs|$maxRows",
        s"$dir/embeddings.parquet") { out =>
        val e = Tables.embeddings(spark, dir)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
        val n = e.count()
        require(n <= maxRows,
          s"embeddingCosinePairs is the all-pairs O(n^2) exactness " +
            s"baseline ($n rows > limit $maxRows); use " +
            s"Similarity.lshBucketedPairs at scale")
        val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
        a.join(b, col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            graft.functions.CosineSimilarity(col("va"), col("vb"))
              .as("cosine"))
          .filter(col("cosine") >= 0.45)
          .write.parquet(out)
      })
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))

  private val shSql =
    """list_distinct(CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]) ELSE [] END)"""
  private def docShinglesSqlOn(tbl: String) =
    s"""SELECT doc_id, $shSql AS sh FROM (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END AS t FROM $tbl)"""
  private val docShinglesSql = docShinglesSqlOn("documents")
  private val jaccardSql =
    """CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / len(list_distinct(sh_a || sh_b))"""
  private def minhashSqlOn(tbl: String) = {
    val mhs = (0 until NumHashes)
      .map(j => s"list_min(list_transform(sh, s -> md5('$j|' || s))) AS mh$j")
      .mkString(", ")
    s"""SELECT doc_id, sh, $mhs FROM (${docShinglesSqlOn(tbl)})"""
  }
  private val minhashSql = minhashSqlOn("documents")
  private val bandsSql = (0 until NumHashes / BandRows)
    .map(bi => s"SELECT doc_id, $bi AS band_idx, md5(mh${2 * bi} || mh${2 * bi + 1}) AS band_val FROM mh")
    .mkString(" UNION ALL ")

  /** DuckDB replay of [[cappedBandPairs]]: two CTE definitions
    * (`sized`, `cand`) over a prior CTE holding (doc_id, band_idx,
    * band_val) — the window-sized bucket table, the cool-bucket pair
    * join, and the saturated buckets' rep→member star edges. Shared
    * by the LSH, incremental, and pHash oracles so the capped algebra
    * has exactly one SQL spelling. */
  private[graft] def cappedCandCtes(bands: String,
      cap: Int = HotBucketCap): String =
    s"""sized AS (SELECT doc_id, band_idx, band_val, COUNT(*) OVER (PARTITION BY band_idx, band_val) AS bucket_n, MIN(doc_id) OVER (PARTITION BY band_idx, band_val) AS rep FROM $bands), cand AS (SELECT DISTINCT doc_a, doc_b FROM (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM (SELECT doc_id, band_idx, band_val FROM sized WHERE bucket_n <= $cap) x JOIN (SELECT doc_id, band_idx, band_val FROM sized WHERE bucket_n <= $cap) y ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.doc_id < y.doc_id UNION ALL SELECT rep AS doc_a, doc_id AS doc_b FROM sized WHERE bucket_n > $cap AND doc_id <> rep))"""

  // DuckDB replay of simhashSignaturesMd5: same md5-hex bit votes,
  // same 16-bit band packing
  private val simhashVotesSql = (0 until 64).map { j =>
    s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, ${j / 4 + 1}, 1)) - 1) >> ${3 - j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v$j"
  }.mkString(", ")
  private val simhashBandsSql = (0 until 4).map { b =>
    "CAST(" + (0 until 16)
      .map(k => s"(CASE WHEN v${16 * b + k} > 0 THEN ${1 << k} ELSE 0 END)")
      .mkString(" + ") + s" AS BIGINT) AS band$b"
  }.mkString(", ")
  private val tokensSql =
    """CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END"""
  private val ngramPairsSql =
    s"""WITH shing AS ($docShinglesSql), inv AS (SELECT doc_id, unnest(sh) AS s FROM shing), cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id) SELECT doc_a, doc_b, jaccard FROM (SELECT a AS doc_a, b AS doc_b, $jaccardSql AS jaccard FROM cand JOIN (SELECT doc_id, sh AS sh_a FROM shing) sa ON cand.a = sa.doc_id JOIN (SELECT doc_id, sh AS sh_b FROM shing) sb ON cand.b = sb.doc_id) WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b"""

  // reachability closure via recursive CTE = the iterative min-label
  // propagation fixpoint (component min ids agree); shared by the
  // dedup_clusters entry and the quality-argmax keep policy
  private val clusterAssignSql =
    s"""RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($ngramPairsSql)), sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs), reach(a, b) AS (SELECT a, b FROM sym UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a), cl AS (SELECT d.doc_id, least(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster_id FROM documents d LEFT JOIN reach r ON r.a = d.doc_id GROUP BY d.doc_id)"""

  // DuckDB replay of the substring-span pipeline: position-indexed
  // 15-gram fingerprints (same 60-bit md5 compaction, nibble replay),
  // multi-occurrence grams via GROUP BY ... HAVING, islands via
  // lag + running-sum windows
  // two-level rolling-hash replay (RollingGramKeys): per-token
  // byte-level Karp–Rabin (the text_rolling_fingerprint HUGEINT fold),
  // then a per-position base-GramBase Horner over the k token hashes.
  // The oracle re-folds every position; the engine's O(1) rolling
  // update is congruent mod 2^61-1, so the values match bit-for-bit.
  // The codepoint(ord)-vs-UTF-8-byte congruence holds ONLY for ASCII,
  // so the replay ASSERTS it per token (strlen = byte count vs
  // length = char count; error() raises loudly) instead of silently
  // hash-mismatching on a non-ASCII corpus — round-12 review finding.
  private val spanMod = "2305843009213693951"
  private val spanOccSql = {
    val tokHash =
      s"CASE WHEN strlen(s) <> length(s) THEN CAST(error('dedup_substring oracle: non-ASCII token, byte/codepoint congruence broken') AS HUGEINT) ELSE list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(range(1, length(s)+1), ci -> CAST(ord(substr(s, ci, 1)) AS HUGEINT))), (h, b) -> (h * 257 + b) % $spanMod) END"
    s"""SELECT doc_id, u.pos AS pos, CAST(u.g AS BIGINT) AS g FROM (SELECT doc_id, unnest(list_transform(range(1, len(th)-$SpanGram+2), i -> {'pos': i, 'g': list_reduce(list_prepend(CAST(0 AS HUGEINT), th[i:i+${SpanGram - 1}]), (g, x) -> (g * ${graft.functions.RollingGramKeys.GramBase} + x) % $spanMod)})) AS u FROM (SELECT doc_id, list_transform(t, s -> $tokHash) AS th FROM (SELECT doc_id, ${TextOps.toksSql} AS t FROM documents) WHERE len(t) >= $SpanGram))"""
  }
  private val spanSql =
    s"""WITH occ AS ($spanOccSql), dupg AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) >= $SpanMinOcc), dup AS (SELECT doc_id, pos FROM occ JOIN dupg USING (g)), isl AS (SELECT doc_id, pos, SUM(CASE WHEN prev IS NULL OR pos - prev > $SpanGram THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dup)), spans AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${SpanGram - 1} AS span_end, MAX(pos) + $SpanGram - MIN(pos) AS span_tokens FROM isl GROUP BY doc_id, island)"""

  // two-level replay: the coarse chain (trainCtes' q/af), then one
  // fixed-round sub-train chain PER coarse cell over that cell's
  // members (same trainChain generator the PQ sub-quantizers use),
  // fine cells unioned, and the same same-cell self-join
  // production (artifact) SemDeDup replay: per coarse cell, the
  // training table is the cell's SampleCap min-vec_id members (the
  // srn cap mirrors semanticCellsOn's sample window at sampleMod=1);
  // the trained c2y$c centroids then assign ALL cell members in a
  // separate final-assign select — training input and assignment
  // target deliberately differ, unlike semScaledSql where they
  // coincide
  private val semArtifactSql = {
    val cellChains = (0 until KMeans.K).map { c =>
      s"ss$c AS (SELECT vec_id, label, v, vi FROM (SELECT q.vec_id, q.label, q.v, q.vi, row_number() OVER (ORDER BY q.vec_id) AS srn FROM q JOIN af USING (vec_id) WHERE af.cid = $c) WHERE srn <= $SampleCap), " +
        KMeans.trainChain(s"ss$c", s"y$c", 64, SubK)
    }.mkString(", ")
    val fineUnion = (0 until KMeans.K).map { c =>
      s"SELECT vec_id, $c * $SubK + cid AS cell FROM (SELECT t.vec_id, cc.cid, row_number() OVER (PARTITION BY t.vec_id ORDER BY ${KMeans.distSqlN("t.v", "cc.cv", 64)}, cc.cid) AS rn FROM (SELECT q.vec_id, q.v FROM q JOIN af USING (vec_id) WHERE af.cid = $c) t CROSS JOIN c2y$c cc) WHERE rn = 1"
    }.mkString(" UNION ALL ")
    s"""WITH ${KMeans.trainCtes}, $cellChains, fine AS ($fineUnion), m AS (SELECT f.vec_id, f.cell, q.v FROM fine f JOIN q USING (vec_id)), p AS (SELECT b.vec_id, MIN(a.vec_id) AS dup_of FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id AND ${KMeans.cosSql("a.v", "b.v")} >= $SemThreshold GROUP BY b.vec_id) SELECT m.vec_id, CAST(m.cell AS INTEGER) AS cell, p.dup_of IS NOT NULL AS is_dup, p.dup_of FROM m LEFT JOIN p USING (vec_id) ORDER BY m.vec_id"""
  }

  // append-delta SemDeDup replay: coarse chain and per-cell sampled
  // sub-chains train over the GOLD subset only (vec_id < SemBatchCut
  // — frozen-before-the-batch, the production ordering), a separate
  // assign-everyone step (aca + per-cell fine assigns) places gold
  // AND batch under those quantizers, and the pair join keeps only
  // batch right-endpoints — the delta the append path must produce
  private val semBatchSql = {
    val aca =
      s"aca AS (SELECT vec_id, cid FROM (SELECT t.vec_id, c.cid, row_number() OVER (PARTITION BY t.vec_id ORDER BY ${KMeans.distSqlN("t.v", "c.cv", 64)}, c.cid) AS rn FROM q t CROSS JOIN c2g c) WHERE rn = 1)"
    val cellChains = (0 until KMeans.K).map { c =>
      s"sb$c AS (SELECT vec_id, label, v, vi FROM (SELECT g.vec_id, g.label, g.v, g.vi, row_number() OVER (ORDER BY g.vec_id) AS srn FROM qg g JOIN afg ON g.vec_id = afg.vec_id WHERE afg.cid = $c) WHERE srn <= $SampleCap), " +
        KMeans.trainChain(s"sb$c", s"z$c", 64, SubK)
    }.mkString(", ")
    val fineUnion = (0 until KMeans.K).map { c =>
      s"SELECT vec_id, $c * $SubK + cid AS cell FROM (SELECT t.vec_id, cc.cid, row_number() OVER (PARTITION BY t.vec_id ORDER BY ${KMeans.distSqlN("t.v", "cc.cv", 64)}, cc.cid) AS rn FROM (SELECT q.vec_id, q.v FROM q JOIN aca USING (vec_id) WHERE aca.cid = $c) t CROSS JOIN c2z$c cc) WHERE rn = 1"
    }.mkString(" UNION ALL ")
    s"""WITH q AS (${KMeans.qSql}), qg AS (SELECT * FROM q WHERE vec_id < $SemBatchCut), ${KMeans.trainChain("qg", "g", 64, KMeans.K)}, $aca, $cellChains, fine AS ($fineUnion), m AS (SELECT f.vec_id, f.cell, q.v FROM fine f JOIN q USING (vec_id)), p AS (SELECT b.vec_id, MIN(a.vec_id) AS dup_of FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id AND ${KMeans.cosSql("a.v", "b.v")} >= $SemThreshold WHERE b.vec_id >= $SemBatchCut GROUP BY b.vec_id) SELECT m.vec_id, CAST(m.cell AS INTEGER) AS cell, p.dup_of IS NOT NULL AS is_dup, p.dup_of FROM m LEFT JOIN p USING (vec_id) WHERE m.vec_id >= $SemBatchCut ORDER BY m.vec_id"""
  }

  private val semScaledSql = {
    val cellChains = (0 until KMeans.K).map { c =>
      s"qs$c AS (SELECT q.vec_id, q.label, q.v, q.vi FROM q JOIN af USING (vec_id) WHERE af.cid = $c), " +
        KMeans.trainChain(s"qs$c", s"x$c", 64, SubK)
    }.mkString(", ")
    val fineUnion = (0 until KMeans.K).map { c =>
      s"SELECT vec_id, $c * $SubK + cid AS cell FROM afx$c"
    }.mkString(" UNION ALL ")
    s"""WITH ${KMeans.trainCtes}, $cellChains, fine AS ($fineUnion), m AS (SELECT f.vec_id, f.cell, q.v FROM fine f JOIN q USING (vec_id)), p AS (SELECT b.vec_id, MIN(a.vec_id) AS dup_of FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id AND ${KMeans.cosSql("a.v", "b.v")} >= $SemThreshold GROUP BY b.vec_id) SELECT m.vec_id, CAST(m.cell AS INTEGER) AS cell, p.dup_of IS NOT NULL AS is_dup, p.dup_of FROM m LEFT JOIN p USING (vec_id) ORDER BY m.vec_id"""
  }

  /** DuckDB replay of the incremental new-vs-gold dedup
    * ([[incrementalNearDups]] / the [[vacuumServed]] gate): 80%
    * cutoff split, fingerprint lookup, capped gold band probe, exact
    * Jaccard verification, best-match precedence. `goldExtra` narrows
    * the GOLD side (the vacuum gate drops the tombstoned residue
    * class — a fresh-build replay on the retained corpus). */
  private def incrementalOracleSql(goldExtra: String): String =
    s"""WITH cut AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS c FROM documents), mh AS ($minhashSql), bands AS ($bandsSql), gold_fp AS (SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS exact_match FROM documents WHERE doc_id <= (SELECT c FROM cut)$goldExtra GROUP BY 1), ex AS (SELECT n.doc_id, g.exact_match FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents WHERE doc_id > (SELECT c FROM cut)) n LEFT JOIN gold_fp g USING (fp)), gb AS (SELECT doc_id, band_idx, band_val FROM (SELECT doc_id, band_idx, band_val, row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) AS rn FROM bands WHERE doc_id <= (SELECT c FROM cut)$goldExtra) WHERE rn <= $HotBucketCap), cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM gb x JOIN bands y ON x.band_idx = y.band_idx AND x.band_val = y.band_val WHERE y.doc_id > (SELECT c FROM cut)), sh_tbl AS ($docShinglesSql), verified AS (SELECT doc_a, doc_b, jaccard FROM (SELECT doc_a, doc_b, $jaccardSql AS jaccard FROM cand JOIN (SELECT doc_id, sh AS sh_a FROM sh_tbl) sa ON cand.doc_a = sa.doc_id JOIN (SELECT doc_id, sh AS sh_b FROM sh_tbl) sb ON cand.doc_b = sb.doc_id) WHERE jaccard >= $JaccardThreshold), best AS (SELECT doc_id, near_match, jaccard FROM (SELECT doc_b AS doc_id, doc_a AS near_match, jaccard, row_number() OVER (PARTITION BY doc_b ORDER BY jaccard DESC, doc_a) AS rn FROM verified) WHERE rn = 1) SELECT e.doc_id, CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup' WHEN b.near_match IS NOT NULL THEN 'near_dup' ELSE 'unique' END AS verdict, COALESCE(e.exact_match, b.near_match) AS match_id, CASE WHEN e.exact_match IS NULL THEN b.jaccard END AS jaccard FROM ex e LEFT JOIN best b USING (doc_id) ORDER BY doc_id"""

  /** The skewed fixture ([[skewedDocs]]) in DuckDB: corpus UNION ALL
    * clones of the min-doc text under ids past max(doc_id). */
  private val skewedDocsSql =
    s"""SELECT doc_id, text FROM documents UNION ALL SELECT (SELECT max(doc_id) FROM documents) + r AS doc_id, (SELECT text FROM documents ORDER BY doc_id LIMIT 1) AS text FROM range(1, ${SkewClones + 1}) t(r)"""

  val oracle: Map[String, String] = Map(
    "dedup_lsh_hot_bucket" ->
      s"""WITH sdocs AS ($skewedDocsSql), mh AS (${minhashSqlOn("sdocs")}), bands AS ($bandsSql), ${cappedCandCtes("bands")}, sh_tbl AS (${docShinglesSqlOn("sdocs")}) SELECT doc_a, doc_b, jaccard FROM (SELECT doc_a, doc_b, $jaccardSql AS jaccard FROM cand JOIN (SELECT doc_id, sh AS sh_a FROM sh_tbl) sa ON cand.doc_a = sa.doc_id JOIN (SELECT doc_id, sh AS sh_b FROM sh_tbl) sb ON cand.doc_b = sb.doc_id) WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""",
    "dedup_lsh_bucket_stats" ->
      s"""WITH sdocs AS ($skewedDocsSql), mh AS (${minhashSqlOn("sdocs")}), bands AS ($bandsSql), b AS (SELECT band_idx, band_val, COUNT(*) AS n FROM bands GROUP BY 1, 2) SELECT CAST(COUNT(*) AS BIGINT) AS buckets, CAST(MAX(n) AS BIGINT) AS max_bucket, CAST(SUM(CASE WHEN n > $HotBucketCap THEN 1 ELSE 0 END) AS BIGINT) AS saturated_buckets, CAST(SUM(CAST(n * (n - 1) / 2 AS BIGINT)) AS BIGINT) AS uncapped_candidates, CAST(SUM(CASE WHEN n <= $HotBucketCap THEN CAST(n * (n - 1) / 2 AS BIGINT) ELSE n - 1 END) AS BIGINT) AS capped_candidates FROM b""",
    "dedup_semantic_scaled" -> semScaledSql,
    "dedup_semantic_artifact" -> semArtifactSql,
    // the artifact-READ serve path must equal the live build, so its
    // oracle IS the live build's replay verbatim — DuckDB rebuilds
    // from scratch, Spark serves from the parquet cells store
    "dedup_semantic_served" -> semArtifactSql,
    "dedup_semantic_batch" -> semBatchSql,
    // SemDeDup: the kmeans train chain (KMeans.trainCtes) feeds a
    // same-cluster self-join; keep = min lower-id neighbor above the
    // cosine bar
    "dedup_semantic" ->
      s"""WITH ${KMeans.trainCtes}, m AS (SELECT af.vec_id, af.cid, q.v FROM af JOIN q USING (vec_id)), p AS (SELECT b.vec_id, MIN(a.vec_id) AS dup_of FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id AND ${KMeans.cosSql("a.v", "b.v")} >= $SemThreshold GROUP BY b.vec_id) SELECT m.vec_id, CAST(m.cid AS INTEGER) AS cluster, p.dup_of IS NOT NULL AS is_dup, p.dup_of FROM m LEFT JOIN p USING (vec_id) ORDER BY m.vec_id""",
    "dedup_substring_spans" ->
      s"""$spanSql SELECT doc_id, span_start, span_end, span_tokens FROM spans ORDER BY doc_id, span_start""",
    "dedup_substring_summary" ->
      s"""$spanSql, per_doc AS (SELECT doc_id, SUM(span_tokens) AS dup_tokens FROM spans GROUP BY doc_id) SELECT t.source, COUNT(*) AS docs, COUNT(p.doc_id) AS docs_with_dup_spans, CAST(COALESCE(SUM(p.dup_tokens), 0) AS BIGINT) AS dup_tokens, CAST(SUM(len(t.t)) AS BIGINT) AS total_tokens FROM (SELECT doc_id, source, ${TextOps.toksSql} AS t FROM documents) t LEFT JOIN per_doc p USING (doc_id) GROUP BY t.source ORDER BY t.source""",
    "dedup_method_agreement" ->
      s"""WITH tp AS (SELECT doc_a, doc_b, 1 AS in_text FROM ($ngramPairsSql)), sp AS (SELECT vec_a AS doc_a, vec_b AS doc_b, 1 AS in_sem FROM (SELECT vec_a, vec_b FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / sqrt(list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) * list_sum(list_transform(range(1, len(b.embedding)+1), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))) AS cosine FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) WHERE cosine >= 0.45)), f AS (SELECT CAST(COALESCE(SUM(CASE WHEN in_text IS NOT NULL AND in_sem IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS both_m, CAST(COALESCE(SUM(CASE WHEN in_text IS NOT NULL AND in_sem IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS text_only, CAST(COALESCE(SUM(CASE WHEN in_text IS NULL AND in_sem IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS semantic_only FROM tp FULL JOIN sp USING (doc_a, doc_b)) SELECT both_m + text_only AS text_pairs, both_m + semantic_only AS semantic_pairs, both_m AS both_methods, text_only, semantic_only, CASE WHEN both_m + text_only + semantic_only = 0 THEN 0.0 ELSE CAST(both_m AS DOUBLE) / (both_m + text_only + semantic_only) END AS pair_jaccard FROM f""",
    "dedup_exact_summary" ->
      """SELECT COUNT(*) AS total_docs, COUNT(DISTINCT md5(lower(trim(text)))) AS distinct_fingerprints, COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))) AS duplicate_docs FROM documents""",
    "dedup_source_overlap" ->
      s"""WITH p AS ($ngramPairsSql), s AS (SELECT doc_id, source FROM documents) SELECT least(x.source, y.source) AS src_a, greatest(x.source, y.source) AS src_b, COUNT(*) AS near_dup_pairs FROM p JOIN s x ON p.doc_a = x.doc_id JOIN s y ON p.doc_b = y.doc_id GROUP BY 1, 2 ORDER BY 1, 2""",
    // inverted-index candidate join (same pairs as all-pairs: sharing
    // a shingle is necessary for jaccard > 0) — keeps the oracle
    // feasible for DuckDB at larger scale factors too
    "dedup_ngram_jaccard" -> ngramPairsSql,
    // same result set as dedup_ngram_jaccard — the oracle runs the
    // full inverted-index formulation, cross-checking the prefix
    // theorem (qualifying pairs must share a prefix shingle)
    "dedup_ngram_prefix" -> ngramPairsSql,
    // reachability closure via recursive CTE = the iterative
    // min-label propagation fixpoint (component min ids agree)
    "dedup_clusters" ->
      s"""WITH $clusterAssignSql SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM cl ORDER BY doc_id""",
    // keep policy swapped from lowest-id to quality-argmax: the
    // canonical member is the cluster's highest-quality doc (ties to
    // the lower doc_id)
    "dedup_keep_best" ->
      s"""WITH $clusterAssignSql, q AS (SELECT doc_id, quality_score FROM (${TextOps.oracle("text_quality_score")})), j AS (SELECT cl.doc_id, cl.cluster_id, q.quality_score FROM cl JOIN q USING (doc_id)) SELECT doc_id, cluster_id, quality_score, rn = 1 AS kept FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY quality_score DESC, doc_id) AS rn FROM j) ORDER BY doc_id""",
    // artifact-fed keep-best serves from the split-label store; its
    // oracle is the live form's replay verbatim (serve == rebuild)
    "dedup_keep_best_served" ->
      s"""WITH $clusterAssignSql, q AS (SELECT doc_id, quality_score FROM (${TextOps.oracle("text_quality_score")})), j AS (SELECT cl.doc_id, cl.cluster_id, q.quality_score FROM cl JOIN q USING (doc_id)) SELECT doc_id, cluster_id, quality_score, rn = 1 AS kept FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY quality_score DESC, doc_id) AS rn FROM j) ORDER BY doc_id""",
    "dedup_minhash_lsh" ->
      s"""WITH mh AS ($minhashSql), bands AS ($bandsSql), ${cappedCandCtes("bands")}, sh_tbl AS ($docShinglesSql) SELECT doc_a, doc_b, jaccard FROM (SELECT doc_a, doc_b, $jaccardSql AS jaccard FROM cand JOIN (SELECT doc_id, sh AS sh_a FROM sh_tbl) sa ON cand.doc_a = sa.doc_id JOIN (SELECT doc_id, sh AS sh_b FROM sh_tbl) sb ON cand.doc_b = sb.doc_id) WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""",
    "dedup_simhash" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM (SELECT doc_id, $tokensSql AS t FROM documents)), h AS (SELECT doc_id, md5(tok) AS h FROM tok), v AS (SELECT doc_id, $simhashVotesSql FROM h GROUP BY doc_id) SELECT doc_id, $simhashBandsSql FROM v ORDER BY doc_id""",
    // incremental new-batch-vs-gold dedup: DuckDB replays the 80% doc_id
    // cutoff split, the fingerprint lookup, the band join restricted to
    // gold × new, and the best-match precedence
    "dedup_incremental" -> incrementalOracleSql(""),
    // same replay: the Spark side serves from a committed index
    // store, so the match proves the rename-free commit path end to
    // end for the dedup family
    "dedup_incremental_manifest" -> incrementalOracleSql(""),
    // the vacuum gate: same incremental replay, but the gold side is
    // the RETAINED corpus (tombstoned doc_id % 7 = 3 rows physically
    // gone) — so the hash-exact match IS "post-vacuum store serves
    // identically to a fresh build on the retained corpus"
    "dedup_vacuum_served" ->
      incrementalOracleSql(s" AND doc_id % 7 <> $VacuumResidue"),
    "dedup_embedding_cosine" ->
      """SELECT vec_a, vec_b, cosine FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / sqrt(list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))) * list_sum(list_transform(range(1, len(b.embedding)+1), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))) AS cosine FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) WHERE cosine >= 0.45 ORDER BY vec_a, vec_b"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_semantic" -> semanticDedup _,
    "dedup_semantic_scaled" -> semanticDedupScaled _,
    "dedup_semantic_artifact" -> semanticDedupArtifact _,
    "dedup_semantic_served" -> semanticDedupServed _,
    "dedup_semantic_batch" -> semanticDedupBatch _,
    "dedup_substring_spans" -> substringSpans _,
    "dedup_substring_summary" -> substringSpanSummary _,
    "dedup_exact_summary" -> exactSummary _,
    "dedup_source_overlap" -> sourceOverlap _,
    "dedup_ngram_jaccard" -> ngramJaccardPairs _,
    "dedup_ngram_prefix" -> ngramJaccardPrefixPairs _,
    "dedup_minhash_lsh" -> minhashLshPairs _,
    "dedup_lsh_hot_bucket" -> minhashLshHotBucket _,
    "dedup_lsh_bucket_stats" -> lshBucketStats _,
    "dedup_simhash" -> simhashSignaturesAgg _,
    "dedup_clusters" -> nearDupClusters _,
    "dedup_keep_best" -> keepBestQuality _,
    "dedup_keep_best_served" -> keepBestQualityServed _,
    "dedup_method_agreement" -> methodAgreement _,
    "dedup_incremental" -> incrementalNearDups _,
    "dedup_incremental_manifest" -> incrementalManifestServed _,
    "dedup_vacuum_served" -> vacuumServed _,
    "dedup_embedding_cosine" ->
      ((s: SparkSession, dir: String) => embeddingCosinePairs(s, dir))
  )
}
