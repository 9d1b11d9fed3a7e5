package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.StoreCommit

/** Embedding-cluster corpus analysis — the topic-level report and the
  * topic-rebalancing sample a large-scale training-data pipeline runs
  * after clustering its corpus (the SemDeDup/DataComp-style "what is
  * in each embedding bucket, and is any bucket drowning the mixture"
  * step). Reference analog: the reference's per-category rollups over
  * its sales star (`/root/reference/elt/transforms.ipynb`) play this
  * role for BI; here the category is a LEARNED k-means cell over the
  * embeddings table and the measures are the corpus-card metrics.
  *
  * Builds entirely on proven parts: the deterministic fixed-round
  * trainer ([[KMeans.train]] — oracle-replayable as a CTE chain), the
  * codegen'd argmin assignment ([[KMeans.assignOn]]), the
  * cell-partitioned vector store ([[KMeans.writeCellVectors]]) for the
  * artifact-fed serve form, and the salted two-phase rank
  * ([[graft.ops.SkewOps.topKPerGroup]]) for the per-cluster quota.
  *
  * Scale shape: the embeddings→documents id join shuffles both sides
  * on the id ONCE (fact-to-fact equi-join — on a deployment the two
  * tables co-bucket on the id and the exchange disappears); the card's
  * two aggregation legs are map-side-combinable groupBys whose output
  * is bounded at K·|sources| and K·|labels| rows, and every rank
  * window runs over those POST-AGGREGATION frames. Nothing
  * corpus-sized crosses the wire after the partial aggregates.
  */
object ClusterOps {

  /** Per-cluster quota for [[clusterBalanceSample]] — the cap a
    * topic-rebalancing pass puts on every embedding cell so one dense
    * topic cannot drown the mixture (the DataComp/SemDeDup-style
    * cluster-rebalancing knob). */
  val BalancePerCluster = 30

  private def docMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))

  /** (vec_id, label, cluster) under freshly trained centroids —
    * map-only assignment, one codegen'd argmin per row. */
  private def assignedVecs(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeans.train(spark, dir)
    KMeans.vecs(spark, dir)
      .select(col("vec_id"), col("label"),
        KMeans.assignOn(col("v"), cents).as("cluster"))
  }

  /** Cluster assignments joined to document metadata (the tables are
    * id-aligned: embeddings.vec_id == documents.doc_id). */
  private def joinedDocs(spark: SparkSession, dir: String,
      assigned: DataFrame): DataFrame =
    assigned.join(docMeta(spark, dir),
        assigned("vec_id") === col("doc_id"))
      .select(col("doc_id"), col("cluster"), col("label"),
        col("source"), col("n_tokens"))

  /** The per-cluster corpus card over a (cluster, label, source,
    * n_tokens) frame: docs, token total, source spread, and the modal
    * source/label with deterministic tie-breaks (count desc, value
    * asc) so both engines pick the same row. Two corpus-sized partial
    * aggregates (cluster×source and cluster×label — each combines
    * map-side to a bounded frame); the rank windows and re-aggregates
    * run over those post-aggregation frames only. */
  private def cardOn(j: DataFrame): DataFrame =
    cardFromParts(
      j.groupBy(col("cluster"), col("source"))
        .agg(count(lit(1)).as("sdocs"), sum(col("n_tokens")).as("stoks")),
      j.groupBy(col("cluster"), col("label"))
        .agg(count(lit(1)).as("ldocs")))

  /** The card derivation over the two MERGEABLE aggregate frames —
    * (cluster, source, sdocs, stoks) and (cluster, label, ldocs) —
    * factored out so the card-aggregate ARTIFACT answers through the
    * exact same ranks/re-aggregates as the live card (round-14
    * verdict #4). Both inputs are bounded at K·|sources| and
    * K·|labels| rows. */
  private def cardFromParts(perSrc: DataFrame,
      perLab: DataFrame): DataFrame = {
    val wSrc = Window.partitionBy(col("cluster"))
      .orderBy(col("sdocs").desc, col("source").asc)
    val topSrc = perSrc.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("source").as("top_source"),
        col("sdocs").as("top_source_docs"))
    val base = perSrc.groupBy(col("cluster"))
      .agg(sum(col("sdocs")).as("docs"),
        sum(col("stoks")).as("total_tokens"),
        count(lit(1)).as("n_sources"))
    val wLab = Window.partitionBy(col("cluster"))
      .orderBy(col("ldocs").desc, col("label").asc)
    val topLab = perLab.withColumn("rn", row_number().over(wLab))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("label").as("top_label"),
        col("ldocs").as("top_label_docs"))
    base.join(topSrc, Seq("cluster")).join(topLab, Seq("cluster"))
      .select(col("cluster"), col("docs"), col("total_tokens"),
        col("n_sources"), col("top_source"), col("top_source_docs"),
        col("top_label"), col("top_label_docs"))
      .orderBy(col("cluster"))
  }

  /** Per-embedding-cluster corpus card: for each trained k-means cell,
    * document count, whitespace-token total, number of distinct
    * sources, the dominant source, and the dominant stored label (the
    * cell's purity proxy). The report a curation pass reads to decide
    * which topic buckets to cap, drop, or upsample. */
  def clusterCard(spark: SparkSession, dir: String): DataFrame =
    cardOn(joinedDocs(spark, dir, assignedVecs(spark, dir)))

  /** Artifact-fed card: identical report answered from the
    * cell-partitioned vector store ([[KMeans.writeCellVectors]]) —
    * the assignment leg disappears (cluster is the store's partition
    * column), so the steady-state cost is the id join + the two
    * bounded aggregation legs. Oracle = the live form's replay
    * verbatim (serve == rebuild, the round-12/13 discipline). */
  def clusterCardServed(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeans.train(spark, dir)
    val cellsDir = graft.ops.Scratch.dir("graft_cluster_card") + "/cells"
    KMeans.writeCellVectors(spark, dir, cellsDir, cents)
    clusterCardFrom(spark, cellsDir, dir)
  }

  /** The card answered from an EXISTING cell store — the steady-state
    * read path ScaleUp times apart from the one-time store build. */
  def clusterCardFrom(spark: SparkSession, cellsDir: String,
      dir: String): DataFrame =
    cardOn(joinedDocs(spark, dir, storeAssigned(spark, cellsDir)))

  /** Cluster-balanced sample: at most [[BalancePerCluster]] documents
    * per embedding cell, chosen by the deterministic
    * [[Sampling.mixHash]] order (a fixed pseudo-random permutation, so
    * the quota is an unbiased within-cell subsample and replays
    * exactly in the oracle). cluster is LOW-NDV (K cells), so the
    * quota rides the salted two-phase rank
    * ([[graft.ops.SkewOps.topKPerGroup]] — stage-2 sort bounded at
    * K·salts·quota rows), never a single-task per-cell sort. */
  def clusterBalanceSample(spark: SparkSession, dir: String): DataFrame =
    balanceOn(spark, dir, assignedVecs(spark, dir))

  /** The balance sample answered from an EXISTING cell store — the
    * assignment leg is the store's partition column, so the steady
    * cost is a pruned scan + the salted two-phase rank. */
  def clusterBalanceFrom(spark: SparkSession, cellsDir: String,
      dir: String): DataFrame =
    balanceOn(spark, dir, storeAssigned(spark, cellsDir))

  /** DRIVER-GATED serve path: build the cell store into a scratch
    * dir, answer from it — oracle = the live sample's replay verbatim
    * (serve == rebuild). */
  def clusterBalanceServed(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeans.train(spark, dir)
    val cellsDir = graft.ops.Scratch.dir("graft_cluster_bal") + "/cells"
    KMeans.writeCellVectors(spark, dir, cellsDir, cents)
    clusterBalanceFrom(spark, cellsDir, dir)
  }

  private def storeAssigned(spark: SparkSession,
      cellsDir: String): DataFrame =
    spark.read.parquet(cellsDir)
      .select(col("vec_id"), col("label"),
        col("cluster").cast("int").as("cluster"))

  private def balanceOn(spark: SparkSession, dir: String,
      assigned: DataFrame): DataFrame = {
    val w = joinedDocs(spark, dir, assigned)
      .select(col("doc_id"), col("cluster"), col("source"),
        Sampling.mixHash(col("doc_id")).as("sample_hash"))
    graft.ops.SkewOps.topKPerGroup(w, col("cluster"),
        Seq(col("sample_hash").asc, col("doc_id").asc),
        BalancePerCluster, spreadBy = col("doc_id"),
        rankCol = "sample_rank")
      .select(col("doc_id"), col("cluster"), col("source"),
        col("sample_hash"), col("sample_rank"))
      .orderBy(col("cluster"), col("sample_rank"))
  }

  // ---------------------------------------------------------------
  // Card-aggregate artifact (round-14 verdict #4): the card family
  // used to rebuild from the corpus on every call; both of its legs
  // are DELTA-MERGEABLE aggregates (per-(cluster, source) doc/token
  // sums, per-(cluster, label) counts), so they persist
  // cluster-partitioned and a batch folds in by re-summing ONLY the
  // touched clusters' partitions — the same build → serve → append
  // lifecycle the dedup/graph families already have.
  // ---------------------------------------------------------------

  /** Build the card-aggregate artifact from a (doc_id, cluster,
    * label, source, n_tokens) frame: `src/` = (cluster, source,
    * sdocs, stoks) and `lab/` = (cluster, label, ldocs), both
    * cluster-partitioned so the merge prunes statically. Derived
    * state — rebuildable from the corpus under the frozen
    * quantizer. */
  def writeClusterCardAgg(j: DataFrame, out: String): Unit = {
    j.groupBy(col("cluster"), col("source"))
      .agg(count(lit(1)).as("sdocs"), sum(col("n_tokens")).as("stoks"))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$out/src")
    j.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("ldocs"))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$out/lab")
  }

  /** Fold a batch into the card-aggregate artifact: the batch's
    * partial aggregates re-sum with the STORED rows of only its
    * touched clusters (partition-pruned read, counts and sums merge
    * exactly), and only those `cluster=N/` partitions overwrite
    * (dynamic). Untouched clusters are never read or written — the
    * touched-fraction cost shape of [[appendKnnEdges]], one level up
    * the report stack.
    *
    * NOT idempotent: the merge is an aggregate FOLD, so a replayed
    * batch double-counts — replay protection is the caller's contract
    * (the streaming sinks' id-watermark guard), unlike
    * [[appendKnnEdges]] whose whole-partition overwrite self-dedups.
    * Spec-asserted in ClusterOpsSpec. */
  def mergeClusterCardAgg(spark: SparkSession, aggDir: String,
      batchJ: DataFrame): Unit = {
    // bounded collect: touched cluster ids, ≤ the quantizer's K
    val touched = batchJ.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val lits = touched.map(Integer.valueOf)
    def fold(sub: String, key: String, batchAgg: DataFrame,
        sums: Seq[String]): Unit = {
      val stored = spark.read.parquet(s"$aggDir/$sub")
        .filter(col("cluster").isin(lits: _*))
        .select(col("cluster").cast("int").as("cluster") +:
          col(key) +: sums.map(col): _*)
      val merged = stored.unionByName(batchAgg)
        .groupBy(col("cluster"), col(key))
        .agg(sum(col(sums.head)).as(sums.head),
          sums.tail.map(s => sum(col(s)).as(s)): _*)
        // pin the ONLY self-read before the dynamic overwrite below
        // replaces the very partitions it came from
        .localCheckpoint()
      merged.repartition(col("cluster"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cluster").parquet(s"$aggDir/$sub")
    }
    fold("src", "source",
      batchJ.groupBy(col("cluster"), col("source"))
        .agg(count(lit(1)).as("sdocs"), sum(col("n_tokens")).as("stoks")),
      Seq("sdocs", "stoks"))
    fold("lab", "label",
      batchJ.groupBy(col("cluster"), col("label"))
        .agg(count(lit(1)).as("ldocs")),
      Seq("ldocs"))
  }

  /** Fold a batch into the card-aggregate artifact ATOMICALLY with
    * its replay watermark — the streaming form of
    * [[mergeClusterCardAgg]]. The fold is a non-idempotent aggregate
    * (a replay double-counts) and the store holds NO ids, so replay
    * protection cannot be re-derived from the store after a crash the
    * way the id-bearing artifacts re-derive theirs; the only sound
    * protocol is to commit the fold and the watermark in ONE atomic
    * step. That is affordable here precisely because the agg store is
    * BOUNDED (K·|sources| + K·|labels| rows, independent of corpus
    * size): the whole store rewrites into the next version of the
    * [[graft.ops.StoreCommit]] store at `root` — merged `src/` and
    * `lab/` plus the `_id_watermark` scalar, inside the version — and
    * one pointer flip publishes fold+watermark together. Every crash
    * shape resolves exactly-once: before the flip the watermark is
    * unchanged and the replayed batch re-folds; after it the
    * watermark has advanced and the replay drops.
    * [[mergeClusterCardAgg]]'s partition-pruned dynamic overwrite
    * remains the batch-API form where the caller owns replay. */
  def foldClusterCardAgg(spark: SparkSession, root: String,
      batchJ: DataFrame, batchMax: Long): Unit = {
    val seeded = StoreCommit.subFileCount(root, "src") > 0
    // the committed version reads lazily while the next one
    // materializes — safe: it stays live until the flip
    StoreCommit.replace(root) { next =>
      def fold(sub: String, key: String, batchAgg: DataFrame,
          sums: Seq[String]): Unit = {
        val merged =
          if (!seeded) batchAgg
          else StoreCommit.readSub(spark, root, sub)
            .select(col("cluster").cast("int").as("cluster") +:
              col(key) +: sums.map(col): _*)
            .unionByName(batchAgg)
            .groupBy(col("cluster"), col(key))
            .agg(sum(col(sums.head)).as(sums.head),
              sums.tail.map(s => sum(col(s)).as(s)): _*)
        merged.repartition(col("cluster"))
          .write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$next/$sub")
      }
      fold("src", "source",
        batchJ.groupBy(col("cluster"), col("source"))
          .agg(count(lit(1)).as("sdocs"),
            sum(col("n_tokens")).as("stoks")),
        Seq("sdocs", "stoks"))
      fold("lab", "label",
        batchJ.groupBy(col("cluster"), col("label"))
          .agg(count(lit(1)).as("ldocs")),
        Seq("ldocs"))
      graft.ops.StoreFiles.writeIdWatermark(next, batchMax)
    }
  }

  /** The card answered from the aggregate artifact alone — no corpus
    * scan, no assignment: two K·|sources| / K·|labels|-row reads plus
    * the bounded ranks. The steady-state report path. */
  def clusterCardFromAgg(spark: SparkSession, aggDir: String): DataFrame =
    cardFromAggParts(spark.read.parquet(s"$aggDir/src"),
      spark.read.parquet(s"$aggDir/lab"))

  /** [[clusterCardFromAgg]] over the committed version of a
    * [[foldClusterCardAgg]] store (the card sink's). */
  def clusterCardFromStore(spark: SparkSession, root: String): DataFrame =
    cardFromAggParts(StoreCommit.readSub(spark, root, "src"),
      StoreCommit.readSub(spark, root, "lab"))

  private def cardFromAggParts(src: DataFrame, lab: DataFrame): DataFrame =
    cardFromParts(
      src.select(col("cluster").cast("int").as("cluster"), col("source"),
        col("sdocs"), col("stoks")),
      lab.select(col("cluster").cast("int").as("cluster"), col("label"),
        col("ldocs")))

  /** DRIVER-GATED merge paths, both fold disciplines in one form-tagged
    * entry: gold card-aggregate artifact under the gold-trained FROZEN
    * quantizer, the batch folded in by the partition-pruned dynamic
    * overwrite ([[mergeClusterCardAgg]], form `merge`) and by the
    * committed whole-store fold ([[foldClusterCardAgg]], form `fold` —
    * the streaming sink's exactly-once protocol), each card read from
    * its STORE — the gate proves store-after-fold == the full
    * frozen-quantizer card rebuild for both (counts/sums merge
    * exactly; the modal ranks re-derive from the merged frames with
    * the same tie-breaks), paying the DuckDB rebuild chain once. */
  def clusterCardMergeForms(spark: SparkSession, dir: String): DataFrame = {
    val (all, batchFrom) = frozenGoldAssigned(spark, dir)
    // pinned: seeds two stores and folds twice below
    val j = joinedDocs(spark, dir,
        all.select(col("vec_id"), col("label"), col("cell").as("cluster")))
      .localCheckpoint()
    val gold = j.filter(col("doc_id") < batchFrom)
    val batch = j.filter(col("doc_id") >= batchFrom)
    val batchMax = j.agg(max(col("doc_id"))).head().getLong(0)
    val mergeDir = graft.ops.Scratch.dir("graft_card_merge") + "/agg"
    writeClusterCardAgg(gold, mergeDir)
    mergeClusterCardAgg(spark, mergeDir, batch)
    val foldRoot = graft.ops.Scratch.dir("graft_card_fold") + "/agg"
    StoreCommit.replace(foldRoot)(writeClusterCardAgg(gold, _))
    foldClusterCardAgg(spark, foldRoot, batch, batchMax)
    OracleForms.union(
        "merge" -> clusterCardFromAgg(spark, mergeDir),
        "fold" -> clusterCardFromStore(spark, foldRoot))
      .select(col("form"), col("cluster"), col("docs"),
        col("total_tokens"), col("n_sources"), col("top_source"),
        col("top_source_docs"), col("top_label"), col("top_label_docs"))
      .orderBy(col("form"), col("cluster"))
  }

  /** Neighbors per vector in [[knnGraph]]. */
  val KnnK = 3

  /** IVF-approximate k-NN graph: each vector's [[KnnK]] nearest
    * in-cell neighbors by cosine — the input artifact of graph-based
    * corpus analysis (connected-component clustering, label
    * propagation, graph-dedup). Approximation contract: a neighbor
    * must share the vector's coarse cell (exactly the IVF single-probe
    * trade the ANN ladder documents); vectors in singleton cells
    * contribute no edges.
    *
    * Scale shape: the candidate pass is the SemDeDup in-cell pairwise
    * leg — Σ|cell|² cosines, quadratic in cell size — so the
    * production form at scale rides the sub-quantized cell artifact
    * (K ∝ N via [[Dedup.subKFor]]; [[knnGraphOn]] takes any
    * (vec_id, cell, v) frame, and ScaleUp times it over the SemDeDup
    * cells store). The per-vector top-k window is row-keyed
    * (partitioned by vec_id — NDV = corpus size). */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnEdgesStored(spark, dir)
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cosine"))
      .orderBy(col("vec_id"), col("rk"))

  /** Session-scoped FULL-CORPUS knn edges store, built once per
    * source fingerprint (r18 — the r17 community-label-store
    * discipline pushed one level down, to the edge set itself): the
    * registry re-derived the identical full-corpus edge set FOUR
    * times per sweep — `knnGraph` (the gate), the community-label
    * build ([[knnCommunitiesLive]]), the label-spread served-leg
    * artifact, and the removal scaffold's seed — and each derivation
    * is the Σ|cell|² in-cell pairwise pass, the family's dominant
    * term at any scale. One [[writeKnnEdges]] build now serves all
    * four (the removal scaffold COPIES it, since removal mutates its
    * store). Content is [[knnEdgesOn]] verbatim (deterministic), so
    * every consumer's values are unchanged; staleness rides the same
    * fingerprint guard as every session store (StoreStalenessSpec
    * covers every family). */
  private[graft] def knnEdgesStoreFor(spark: SparkSession,
      dir: String): String =
    graft.ops.SessionStore.dir("knnEdges", s"$dir/embeddings.parquet") {
      out =>
        val cents = KMeans.train(spark, dir)
        writeKnnEdges(KMeans.vecs(spark, dir)
          .select(col("vec_id"),
            KMeans.assignOn(col("v"), cents).as("cell"), col("v")), out)
    }

  /** The shared store read back, typed exactly like [[knnEdgesOn]]'s
    * output (cell returns as a partition column). */
  private def knnEdgesStored(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SessionStore.parquet(spark, knnEdgesStoreFor(spark, dir))
      .select(col("cell").cast("int").as("cell"), col("vec_id"),
        col("rk").cast("int").as("rk"), col("nbr_id"), col("cosine"))

  /** [[knnGraph]] over a pre-assigned (vec_id, cell, v) frame — the
    * steady-state form reads the cell-partitioned store so the
    * assignment leg never re-runs. */
  def knnGraphOn(cells: DataFrame): DataFrame =
    knnEdgesOn(cells)
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cosine"))
      .orderBy(col("vec_id"), col("rk"))

  /** The graph core, keeping the edge OWNER's cell — what the
    * incremental merge prunes on. */
  private def knnEdgesOn(cells: DataFrame): DataFrame = {
    val l = cells.select(col("vec_id"), col("cell"), col("v"))
    val r = cells.select(col("vec_id").as("nbr_id"), col("cell"),
      col("v").as("nv"))
    val pairs = l.join(r, Seq("cell"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("cell"), col("vec_id"), col("nbr_id"),
        graft.functions.CosineSimilarity(col("v"), col("nv"))
          .as("cosine"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnK)
      .select(col("cell"), col("vec_id"), col("rk"), col("nbr_id"),
        col("cosine"))
  }

  /** Incremental kNN graph maintenance: the last ~20% of vec_ids
    * arrive as a batch against a gold graph built under GOLD-trained,
    * then FROZEN, quantizers (the [[Dedup]] incremental idiom). Unlike
    * append-only pair dedup, adding vectors CAN change existing
    * vectors' top-k — but only inside cells that received batch
    * members, because a vector's candidates are exactly its cell's
    * members under a frozen quantizer. So the merge recomputes ONLY
    * the touched cells (gold+batch members, partition-prunable) and
    * carries every untouched cell's gold edges forward verbatim —
    * provably equal to the full rebuild, which is exactly what the
    * oracle replays (merge == rebuild, the split_merge_batch idiom).
    * Touched-cell ids ride a broadcast (bounded by min(K·SubK,
    * batch size)).
    *
    * The gold assignment scan runs twice here (gold-edges leg +
    * touched-recompute leg) — deliberate: both are map-only
    * column-pruned scans, and pinning the assigned frame would
    * materialize corpus-sized vectors to save two cheap passes. The
    * steady-state form ([[knnGraphMergeFromEdges]]) reads the edges
    * ARTIFACT instead of re-deriving the gold leg at all, which is
    * the right fix at scale. */
  def knnGraphBatchMerge(spark: SparkSession, dir: String): DataFrame = {
    val (all, batchFrom) = frozenGoldAssigned(spark, dir)
    liveMergeOn(all, batchFrom)
      .orderBy(col("vec_id"), col("rk"))
  }

  /** The live (no-artifact) merge core over a full assigned frame:
    * gold edges re-derived, untouched cells carried, touched cells
    * recomputed — the [[knnGraphBatchMerge]] dataflow factored so the
    * form-tagged gate entry shares one frozen training with the
    * artifact forms. */
  private def liveMergeOn(all: DataFrame, batchFrom: Long): DataFrame = {
    val goldEdges = knnEdgesOn(all.filter(col("vec_id") < batchFrom))
    val touched = all.filter(col("vec_id") >= batchFrom)
      .select(col("cell")).distinct()
    val recomputed = knnEdgesOn(all.join(broadcast(touched), Seq("cell")))
    goldEdges.join(broadcast(touched), Seq("cell"), "left_anti")
      .unionByName(recomputed)
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cosine"))
  }

  /** The [[knnGraphBatchMerge]] gold/batch split with the gold-trained
    * FROZEN quantizer: (fully assigned corpus — vec_id, label, cell,
    * v — and batchFrom). label rides along for the card-merge gate;
    * the graph paths ignore it. */
  private[ext] def frozenGoldAssigned(spark: SparkSession,
      dir: String): (DataFrame, Long) = {
    val vs = KMeans.vecs(spark, dir)
    // memoized per source fingerprint (graft.ops.SessionStore): the
    // cutoff and the gold-trained frozen centroids are deterministic
    // functions of the embeddings file, and every *_merge_forms gate
    // in this family re-derives the identical frozen quantizer
    val (cut, cents) = graft.ops.SessionStore.of("frozenGold",
        s"$dir/embeddings.parquet") {
      val c = vs.agg(floor(max(col("vec_id")) * lit(0.8)).cast("long"))
        .head().getLong(0)
      (c, KMeans.trainFrame(
        vs.filter(col("vec_id") <= c).select(col("vec_id"), col("v")),
        KMeans.K))
    }
    (vs.select(col("vec_id"), col("label"),
      KMeans.assignOn(col("v"), cents).as("cell"), col("v")), cut + 1)
  }

  /** Multi-probe kNN graph: each vector's candidates come from its
    * TWO nearest cells (its own and the runner-up —
    * [[graft.functions.NearestCentroid.second]], the per-row analog
    * of the driver-side `nprobe=2` the query path uses), ranked by
    * the same cosine/tie-break. Strictly dominates [[knnGraph]]'s
    * candidate set, so recall is monotonically ≥ single-probe
    * (asserted in ClusterOpsSpec: measured 0.278 → multi-probe
    * recovers a large share of the cross-cell neighbors the
    * single-probe boundary loses). Work bound doubles to
    * ≈ 2·Σ|cell|² cosines — still artifact-shaped, never all-pairs. */
  def knnGraphP2(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeans.train(spark, dir)
    val cs = cents.map(_._2)
    knnGraphP2On(KMeans.vecs(spark, dir)
      .select(col("vec_id"),
        KMeans.assignOn(col("v"), cents).as("cell"),
        graft.functions.NearestCentroid.second(col("v"), cs).as("cell2"),
        col("v")))
  }

  /** [[knnGraphP2]] over a pre-assigned (vec_id, cell, cell2, v)
    * frame — the steady-state form: both cell stores now carry the
    * runner-up cell as a build-time column
    * ([[KMeans.writeCellVectors]] `cluster2`,
    * [[Dedup.assignSemanticCells]] `cell2`), so the multi-probe graph
    * reads its probe list from the artifact and never re-pays an
    * assignment pass (round-13 verdict #2; the 100× row rides the
    * sub-quantized store). */
  def knnGraphP2On(assigned: DataFrame): DataFrame = {
    val probes = assigned.select(col("vec_id"),
      explode(array(col("cell"), col("cell2"))).as("pcell"), col("v"))
    val r = assigned.select(col("vec_id").as("nbr_id"),
      col("cell").as("pcell"), col("v").as("nv"))
    // a candidate pair appears exactly once: cell2 != cell by
    // construction and each neighbor has ONE primary cell
    val pairs = probes.join(r, Seq("pcell"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        graft.functions.CosineSimilarity(col("v"), col("nv"))
          .as("cosine"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnK)
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cosine"))
      .orderBy(col("vec_id"), col("rk"))
  }

  /** Multi-probe graph at the SUB-QUANTIZED quantizer — the exact
    * form the 100× tier rides ([[Dedup.assignSemanticCells]] supplies
    * both the fine cell and the in-coarse runner-up `cell2`), gated
    * with the full sampled-sub-training replay: the oracle trains the
    * coarse chain, the per-cell sampled sub-chains (the
    * `dedup_semantic_artifact` CTEs), ranks every vector's TWO
    * nearest sub-centroids within its coarse cell, and joins probe
    * rows against primary-cell members — same cosine, same
    * tie-breaks, same top-k. Pinned [[Dedup.SubK]]/[[Dedup.SampleCap]]
    * keep the SQL static; ScaleUp's 100× row passes subKFor(N). */
  def knnGraphP2Sub(spark: SparkSession, dir: String): DataFrame = {
    val vecs = KMeans.vecs(spark, dir)
    // the same frozen training as Dedup.semanticCellsFor at the
    // default cap/sampleMod, served from the same store
    val (coarse, subs) = Dedup.semanticQuantizersFor(spark, dir, Dedup.SubK)
    knnGraphP2On(
      Dedup.assignSemanticCells(vecs, coarse, subs, Dedup.SubK)
        .localCheckpoint()) // pin: feeds both the probe and member legs
  }

  /** DRIVER-GATED serve path for the SUB-quantized multi-probe
    * graph: build the semantic-cells store (which carries `cell2`
    * from build time) into a scratch dir, answer from it — zero
    * training or assignment in the serve plan; oracle = the live
    * [[knnGraphP2Sub]] replay verbatim (serve == rebuild: the
    * store's cell/cell2 ARE the live assignment under the same
    * sampled quantizers). */
  def knnGraphP2SubServed(spark: SparkSession, dir: String): DataFrame = {
    val cellsDir = graft.ops.Scratch.dir("graft_knn_p2sub_srv") + "/cells"
    Dedup.writeSemanticCells(spark, dir, cellsDir)
    knnGraphP2On(spark.read.parquet(cellsDir)
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("cell2").cast("int").as("cell2"), col("v")))
  }

  /** DRIVER-GATED serve path for the multi-probe graph: build the
    * coarse cell store (which carries `cluster2`) into a scratch dir,
    * answer from it via [[knnGraphP2On]] — zero assignment in the
    * serve plan; oracle = the live `sim_knn_graph_p2` replay verbatim
    * (serve == rebuild: the store's cell/cell2 ARE the live
    * assignment under the same centroids). */
  def knnGraphP2Served(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeans.train(spark, dir)
    val cellsDir = graft.ops.Scratch.dir("graft_knn_p2_srv") + "/cells"
    KMeans.writeCellVectors(spark, dir, cellsDir, cents)
    knnGraphP2On(spark.read.parquet(cellsDir)
      .select(col("vec_id"), col("cluster").cast("int").as("cell"),
        col("cluster2").as("cell2"), col("v")))
  }

  /** The gold-edges artifact: [[knnEdgesOn]] written cell-partitioned,
    * so the incremental merge can prune untouched cells statically. */
  def writeKnnEdges(cells: DataFrame, out: String): Unit =
    knnEdgesOn(cells).write.mode("overwrite")
      .partitionBy("cell").parquet(out)

  /** PRODUCTION graph append (round-13 verdict #1): fold a batch into
    * the edges ARTIFACT by DELTA-merging the touched cells and
    * overwriting ONLY their `cell=N/` partitions (dynamic partition
    * overwrite — the per-write option, so no session conf leaks).
    * This is the write-side completion of [[knnGraphMergeFromEdges]]:
    * the merge was compute-right but re-emitted every edge to its
    * caller; here the untouched partitions are never read OR written.
    *
    * The per-cell work is LINEAR, not the cell-pairwise Σ|cell|²: a
    * standing member's updated top-k can only contain heads that were
    * already in its stored top-k (a gold head in the final top-k
    * ranked top-k in the gold-only competition too — a subset
    * competition) or batch vectors, so the candidate set is
    *   stored gold→gold edges  ∪  all pairs with a batch endpoint
    * re-ranked per vector — |batch|·|cell| cosines plus a K·|cell|
    * store read, never |cell|². The first StreamScaleUp run measured
    * the difference: full touched-cell recompute grew per-batch
    * triggers 20 → 103 s across 10 accumulating batches; the delta
    * form's per-batch cost tracks |batch|·cell-size. Batch-headed
    * stored edges are DROPPED before the merge (both-endpoints-gold
    * filter), which also makes a crash replay of an already-applied
    * batch idempotent. Store-after-append equals the full rebuild —
    * hash-gated via `sim_knn_graph_merge_forms`'s append form (the
    * gate runs THIS delta path against the frozen-quantizer rebuild
    * oracle) and
    * spec-asserted, including untouched partitions' files staying
    * bit-untouched.
    *
    * `cells` must contain ALL members of every cell the batch
    * touches, assigned under the store's FROZEN quantizer — a
    * full-corpus frame is a valid superset (untouched cells filter
    * out), but the streaming sink passes a touched-cells-only
    * partition-pruned store read so the per-trigger scan is
    * structurally bounded, not pushdown-dependent (round-14 verdict
    * nit). `batchFrom` marks the batch ids (monotone ingest, the
    * artifact-append contract shared with
    * [[Dedup.batchSemanticDups]]). A missing edges store falls back
    * to the full build of the touched cells (the seed case — on a
    * first batch every populated cell is a touched cell). */
  def appendKnnEdges(spark: SparkSession, edgesDir: String,
      cells: DataFrame, batchFrom: Long): Unit = {
    // bounded collect: touched-cell ids, ≤ min(cell count, batch size)
    val touched = cells.filter(col("vec_id") >= batchFrom)
      .select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val touchedLits = touched.map(Integer.valueOf)
    val members = cells.filter(col("cell").isin(touchedLits: _*))
    // seed probe: FIRST-LEVEL partition listing only — the recursive
    // part-file walk cost ~10 s on a 400-cell × 32-file local store
    // and dominated the whole append (measured: 15 s vs 5 s rows)
    val updated =
      if (graft.ops.StoreFiles.partitionDirCount(edgesDir, "cell=") == 0)
        knnEdgesOn(members) // seed: no standing edges to merge
      else {
        // localCheckpoint (EAGER) pins the ONLY self-read — the
        // touched cells' stored edges (K·members rows, small) — so
        // the dynamic overwrite below never reads the partitions it
        // replaces while the rest of the delta stays lazy (pinning
        // the whole merged result instead cost a full extra pass:
        // 15–17 s vs ~5 s on the 100× append row)
        val goldStored = spark.read.parquet(edgesDir)
          .filter(col("cell").isin(touchedLits: _*) &&
            col("vec_id") < batchFrom && col("nbr_id") < batchFrom)
          .select(col("cell").cast("int").as("cell"), col("vec_id"),
            col("nbr_id"), col("cosine"))
          .localCheckpoint()
        val b = members.filter(col("vec_id") >= batchFrom)
          .select(col("cell"), col("vec_id").as("bid"), col("v").as("bv"))
        val pairs = members
          .select(col("cell"), col("vec_id").as("oid"), col("v").as("ov"))
          .join(b, Seq("cell"))
          .filter(col("oid") =!= col("bid"))
          .select(col("cell"), col("oid"), col("bid"),
            graft.functions.CosineSimilarity(col("ov"), col("bv"))
              .as("cosine"))
        val toBatch = pairs.select(col("cell"),
          col("oid").as("vec_id"), col("bid").as("nbr_id"), col("cosine"))
        val fromBatch = pairs.filter(col("oid") < batchFrom)
          .select(col("cell"), col("bid").as("vec_id"),
            col("oid").as("nbr_id"), col("cosine"))
        val cand = goldStored.unionByName(toBatch).unionByName(fromBatch)
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("nbr_id").asc)
        cand.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= KnnK)
          .select(col("cell"), col("vec_id"), col("rk"), col("nbr_id"),
            col("cosine"))
      }
    updated
      .repartition(col("cell")) // one task → one file per cell
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(edgesDir)
  }

  /** Close the crash window between a cells-store append and its
    * edges-store update ([[graft.streaming.EventStreams.knnEdgesSink]]
    * step order): the edges artifact is DERIVED state — a cell's
    * correct edge set is a pure function of the (frozen-quantizer)
    * cells store — so staleness is detectable per cell from two
    * bounded aggregates: a consistent cell of n ≥ 2 members has
    * exactly n·min(K, n−1) edge rows owned by exactly its n members.
    * Any cell failing either check (a torn dynamic-overwrite commit,
    * a missing update, a half-written partition) is recomputed from
    * the cells store and its partition overwritten. Returns the
    * number of repaired cells. */
  def repairKnnEdges(spark: SparkSession, cellsDir: String,
      edgesDir: String): Int = {
    val cells = StoreCommit.read(spark, cellsDir)
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("v"))
    // expectation covers EVERY cell in the cells store (a cell of
    // n < 2 members expects ZERO edge rows — round-14 ADVICE: the
    // old n >= 2 filter let stale rows in such cells escape both
    // checks forever)
    val expect = cells.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .select(col("cell"),
        when(col("n") >= 2,
          col("n") * least(lit(KnnK.toLong), col("n") - 1))
          .otherwise(lit(0L)).as("want_rows"),
        when(col("n") >= 2, col("n")).otherwise(lit(0L))
          .as("want_owners"))
    val got =
      if (graft.ops.StoreFiles.parquetFileCount(edgesDir) > 0)
        spark.read.parquet(edgesDir)
          .groupBy(col("cell").cast("int").as("cell"))
          .agg(count(lit(1)).as("got_rows"),
            countDistinct(col("vec_id")).as("got_owners"))
      else expect.select(col("cell"), lit(0L).as("got_rows"),
        lit(0L).as("got_owners")).limit(0)
    // FULL outer (round-14 ADVICE): an edges partition whose cell id
    // is absent from the cells store entirely — debris of a torn
    // dynamic overwrite — must be detected too, and the left join
    // could never see it
    val staleRows = expect.join(got, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("want_rows"), lit(0L)).as("want_rows"),
        coalesce(col("got_rows"), lit(0L)).as("got_rows"),
        coalesce(col("want_owners"), lit(0L)).as("want_owners"),
        coalesce(col("got_owners"), lit(0L)).as("got_owners"))
      .filter(col("got_rows") =!= col("want_rows") ||
        col("got_owners") =!= col("want_owners"))
      .select(col("cell"), col("want_rows"))
      .collect() // bounded by the quantizer's cell count
    val recompute = staleRows.filter(_.getLong(1) > 0)
      .map(_.getInt(0)).sorted
    // a cell whose CORRECT edge set is empty cannot be repaired by
    // the dynamic overwrite below (an empty frame writes no
    // partition) — its stale partition dir is deleted outright
    val debris = staleRows.filter(_.getLong(1) == 0L)
      .map(_.getInt(0)).sorted
    if (recompute.nonEmpty)
      knnEdgesOn(
          cells.filter(col("cell").isin(recompute.map(Integer.valueOf): _*)))
        .repartition(col("cell"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(edgesDir)
    debris.foreach(c =>
      graft.ops.StoreFiles.deleteDir(s"$edgesDir/cell=$c"))
    staleRows.length
  }

  /** Remove vectors from the knn family (round 17 — the graph tier's
    * takedown, the sibling of [[graft.ext.Dedup.vacuumGold]] and
    * [[graft.ext.Retrieval.vacuumBm25]]): the cells store (the
    * family's SOURCE OF TRUTH) rewrites without the removed ids
    * through [[graft.ops.StoreCommit]]; the removed ids join the guard
    * root's permanent `_removed` log
    * ([[graft.ops.SinkGuard.appendRemovedIds]] — a replayed batch
    * must never re-admit them through the post-crash anti-join
    * fallback); and the EXISTING consistency repairs converge edges
    * and labels for exactly the touched cells (count/owner-set
    * disagreement → cell-confined dynamic overwrites — never a
    * full-graph rebuild; knn edges and communities are cell-local,
    * so cell confinement is exactness, not approximation). The
    * edges-root guard marker drops across the flips and re-arms
    * after the repairs; the replay watermark is restored at its
    * PRE-removal value (the retained max id can be lower, and
    * replayed old batches must still drop). A crash anywhere leaves
    * the marker down → the next streamed batch's prologue runs the
    * same repairs. Returns the number of removed vectors. */
  def removeKnnVectors(spark: SparkSession, removedIds: DataFrame,
      cellsDir: String, edgesDir: String, labelsDir: Option[String]): Long = {
    val rem = removedIds.select(col("vec_id")).distinct()
      .localCheckpoint()
    if (rem.isEmpty) return 0L
    val stored = StoreCommit.read(spark, cellsDir)
    val retained = stored
      .join(broadcast(rem), Seq("vec_id"), "left_anti")
      .withColumn("cell", col("cell").cast("int"))
      .repartition(col("cell"))
      .localCheckpoint()
    val removedN = stored.count() - retained.count()
    if (removedN == 0L) return 0L
    val wm = graft.ops.StoreFiles.readIdWatermark(edgesDir)
    graft.ops.SinkGuard.appendRemovedIds(rem, edgesDir)
    graft.ops.StoreFiles.deleteMarker(edgesDir, "_cells_synced")
    StoreCommit.replace(cellsDir) { next =>
      retained.write.partitionBy("cell").parquet(next)
    }
    repairKnnEdges(spark, cellsDir, edgesDir)
    labelsDir.foreach(ld =>
      repairKnnCommunityLabels(spark, cellsDir, ld))
    wm.foreach(graft.ops.StoreFiles.writeIdWatermark(edgesDir, _))
    graft.ops.StoreFiles.createMarker(edgesDir, "_cells_synced")
    removedN
  }

  /** Residue class the knn removal gate tombstones (vec_id % 9 ==
    * [[KnnRemoveResidue]]) — fixed so DuckDB replays the retained
    * graph exactly. */
  private[graft] val KnnRemoveResidue = 4L

  /** Build-once (per source fingerprint) scaffold for the two
    * removal gates: full-corpus quantizer (removal never retrains),
    * cells + edges + labels stores, then [[removeKnnVectors]] of the
    * residue class. Both gates read the CONVERGED stores. */
  private def removedGraphStores(spark: SparkSession,
      dir: String): (String, String) = {
    val base = graft.ops.SessionStore.dir("knnRemove",
        s"$dir/embeddings.parquet") { base =>
      val (cells, e, l) = (s"$base/cells", s"$base/edges", s"$base/labels")
      val cents = KMeans.train(spark, dir)
      val assigned = KMeans.vecs(spark, dir)
        .select(col("vec_id"),
          KMeans.assignOn(col("v"), cents).cast("int").as("cell"),
          col("v"))
        .localCheckpoint()
      StoreCommit.replace(cells)(assigned.repartition(col("cell"))
        .write.partitionBy("cell").parquet(_))
      // r18: seed the mutable edges store by COPYING the shared
      // full-corpus store (K·N skinny rows) instead of re-running the
      // Σ|cell|² pairwise derivation — identical content (the shared
      // store IS writeKnnEdges over this same assignment), and the
      // removal below then mutates the private copy only
      knnEdgesStored(spark, dir)
        .write.partitionBy("cell").parquet(e)
      // labels from the edges store just written, not a second
      // in-cell pairwise derivation (r17, guide §1.2): the CC input
      // is the identical edge set either way, and the store read is
      // K·N rows vs Σ|cell|² cosines re-paid
      writeKnnCommunityLabelsFromEdges(assigned,
        spark.read.parquet(e)
          .select(col("vec_id"), col("nbr_id")), l)
      removeKnnVectors(spark,
        assigned.filter(col("vec_id") % 9 === KnnRemoveResidue)
          .select(col("vec_id")),
        cells, e, Some(l))
    }
    (s"$base/edges", s"$base/labels")
  }

  /** DRIVER-GATED removal, edge leg: the post-removal edges store
    * must equal the knn graph computed fresh on the retained vectors
    * under the SAME full-corpus quantizer — removal converges
    * exactly, touched cells only. */
  def knnRemoveEdges(spark: SparkSession, dir: String): DataFrame = {
    val (edges, _) = removedGraphStores(spark, dir)
    spark.read.parquet(edges)
      .select(col("vec_id"), col("rk").cast("int").as("rk"),
        col("nbr_id"), col("cosine"))
      .orderBy(col("vec_id"), col("rk"))
  }

  /** DRIVER-GATED removal, label leg: post-removal community labels
    * == the component-min labels of the retained graph (removing a
    * component's min member must re-elect its label). */
  def knnRemoveLabels(spark: SparkSession, dir: String): DataFrame = {
    val (_, labels) = removedGraphStores(spark, dir)
    spark.read.parquet(labels)
      .select(col("vec_id"), col("community_id"))
      .orderBy(col("vec_id"))
  }

  /** Shared scaffold of the DRIVER-GATED store-fed entries: the
    * [[knnGraphBatchMerge]] gold/batch split with the gold-trained
    * FROZEN quantizer, a gold edges artifact in a scratch dir, and
    * the full assignment frame. Returns (edgesDir, assignedAll,
    * batchFrom). */
  private def frozenGoldEdges(spark: SparkSession, dir: String,
      prefix: String): (String, DataFrame, Long) = {
    val (all, batchFrom) = frozenGoldAssigned(spark, dir)
    val edgesDir = graft.ops.Scratch.dir(prefix) + "/edges"
    writeKnnEdges(all.filter(col("vec_id") < batchFrom), edgesDir)
    (edgesDir, all, batchFrom)
  }

  /** DRIVER-GATED serve path for the store-fed merge (round-13
    * verdict #4): gold edges artifact in a scratch dir, batch merged
    * via [[knnGraphMergeFromEdges]] — oracle = the same
    * frozen-quantizer full rebuild the merge-family forms replay
    * (merge == rebuild through the ARTIFACT read path). */
  def knnGraphMergeServed(spark: SparkSession, dir: String): DataFrame = {
    val (edgesDir, all, batchFrom) =
      frozenGoldEdges(spark, dir, "graft_knn_mergesrv")
    knnGraphMergeFromEdges(spark, edgesDir, all, batchFrom)
  }

  /** DRIVER-GATED append path (round-13 verdict #1's gate): gold
    * edges artifact, batch folded in by [[appendKnnEdges]] (touched
    * partitions overwritten in place), the STORE read back — the gate
    * proves store-after-append == full rebuild, not merely that the
    * merge's in-flight answer was right. */
  def knnGraphAppendStore(spark: SparkSession, dir: String): DataFrame = {
    val (edgesDir, all, batchFrom) =
      frozenGoldEdges(spark, dir, "graft_knn_append")
    appendKnnEdges(spark, edgesDir, all, batchFrom)
    spark.read.parquet(edgesDir)
      .select(col("vec_id"), col("rk").cast("int").as("rk"),
        col("nbr_id"), col("cosine"))
      .orderBy(col("vec_id"), col("rk"))
  }

  /** ALL THREE merge-family forms — live cell-confined merge,
    * store-fed merge, in-place partition append — in ONE gated entry,
    * each row tagged by `form`. Round-14 verdict #1: the three forms
    * share one frozen-quantizer rebuild oracle, and registering that
    * SQL three times re-paid the full DuckDB training chain per name
    * — the suite growth that zeroed round 14's correctness artifact.
    * The oracle now cross-joins ONE rebuild chain to the three tags.
    * The Spark side also shares ONE frozen training + ONE gold-edges
    * scratch artifact across the forms (round-14 verdict #6): the
    * served merge materializes its bounded answer (N·K edge rows)
    * BEFORE the append mutates the shared store; the append's
    * dynamic overwrite touches only batch cells, whose partitions the
    * served merge never reads (it carries untouched cells and
    * recomputes touched ones from the cells frame). */
  def knnGraphMergeForms(spark: SparkSession, dir: String): DataFrame = {
    val (edgesDir, all, batchFrom) =
      frozenGoldEdges(spark, dir, "graft_knn_forms")
    val served = knnGraphMergeFromEdges(spark, edgesDir, all, batchFrom)
      .localCheckpoint() // pin: the append below mutates the store read
    appendKnnEdges(spark, edgesDir, all, batchFrom)
    val appended = spark.read.parquet(edgesDir)
      .select(col("vec_id"), col("rk").cast("int").as("rk"),
        col("nbr_id"), col("cosine"))
    liveMergeOn(all, batchFrom).withColumn("form", lit("live"))
      .unionByName(served.withColumn("form", lit("served")))
      .unionByName(appended.withColumn("form", lit("append")))
      .select(col("form"), col("vec_id"),
        col("rk").cast("int").as("rk"), col("nbr_id"), col("cosine"))
      .orderBy(col("form"), col("vec_id"), col("rk"))
  }

  /** Steady-state incremental merge from the edges artifact: vectors
    * with vec_id ≥ `batchFrom` are the batch; their cells' graphs are
    * recomputed from the (frozen-layout) `cells` frame, every other
    * cell's edges come from the artifact UNREAD beyond the partition
    * listing — touched-cell ids are collected once (bounded by the
    * quantizer's cell count, a few hundred at K ∝ N) and pushed as
    * literal partition filters on both sides. Equal to the full
    * rebuild by the cell-confinement argument on
    * [[knnGraphBatchMerge]]; asserted in ClusterOpsSpec. */
  def knnGraphMergeFromEdges(spark: SparkSession, goldEdgesDir: String,
      cells: DataFrame, batchFrom: Long): DataFrame = {
    val touched = cells.filter(col("vec_id") >= batchFrom)
      .select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    val gold = spark.read.parquet(goldEdgesDir)
      .select(col("cell").cast("int").as("cell"), col("vec_id"),
        col("rk"), col("nbr_id"), col("cosine"))
    gold.filter(!col("cell").isin(touched.map(Integer.valueOf): _*))
      .unionByName(knnEdgesOn(
        cells.filter(col("cell").isin(touched.map(Integer.valueOf): _*))))
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cosine"))
      .orderBy(col("vec_id"), col("rk"))
  }

  /** Embedding communities: connected components over the
    * [[knnGraph]] edge set via the bounded-round large-star/small-star
    * contraction ([[Dedup.connectedComponents]] — every round touches
    * only the edge set, never the corpus), labeled by component-min
    * vec_id; vectors with no edges (singleton cells) are their own
    * community. The finer-than-cell grouping a curation pass uses for
    * community-level balancing or near-dup triage — communities never
    * cross coarse cells because the graph's edges don't. */
  def knnCommunities(spark: SparkSession, dir: String): DataFrame =
    // session-scoped scratch labels, built once per source fingerprint
    // (r17 — the Bpe.trained / round-14 shared-scratch discipline):
    // three gates (components, keep-best, community-hist) each re-ran
    // the identical graph build + CC fixpoint on the same corpus
    graft.ops.SessionStore.parquet(spark,
      graft.ops.SessionStore.dir("knnCommunities",
        s"$dir/embeddings.parquet") { out =>
        knnCommunitiesLive(spark, dir).write.parquet(out)
      })
      .select(col("vec_id"), col("community_id"))
      .orderBy(col("vec_id"))

  /** The live build [[knnCommunities]] memoizes. Unordered: the one
    * consumer is the label-store write, and every reader applies its
    * own ORDER BY — sorting here was a wasted corpus-sized
    * sort+exchange per store build (guide §2.4's accidental
    * "orderBy used only to make output deterministic"; r17,
    * the [[Dedup.nearDupClusters]] store write's existing shape). */
  private def knnCommunitiesLive(spark: SparkSession,
      dir: String): DataFrame = {
    // r18: edges from the shared full-corpus store (unordered read —
    // CC is order-insensitive), not a private pairwise re-derivation
    val edges = knnEdgesStored(spark, dir)
      .select(col("vec_id").as("doc_a"), col("nbr_id").as("doc_b"))
    val ids = KMeans.vecs(spark, dir).select(col("vec_id"))
    val (labels, _) = Dedup.connectedComponents(edges)
    ids.join(labels, ids("vec_id") === labels("doc_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("community_id"))
  }

  /** Community keep-best: the canonical (highest-quality, ties to the
    * lower doc_id) document per knn community — the decision step
    * that turns the embedding-graph structure into an actual corpus
    * triage, mirroring [[Dedup.keepBestQuality]] with the near-dup
    * clusters swapped for the knn communities (vec_id aligned 1:1
    * with doc_id). The rank window is community-keyed (NDV ~ corpus
    * size, group = community size). */
  def knnKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val comm = knnCommunities(spark, dir)
      .select(col("vec_id").as("doc_id"), col("community_id"))
    val q = TextOps.scoredDocs(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("community_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    comm.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("community_id"), col("quality_score"),
        (col("rn") === 1).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Incremental communities after a graph batch merge (round-13
    * stretch #7): components are CONFINED within coarse cells —
    * every edge's endpoints share a cell ([[knnEdgesOn]]), so a
    * component can never span two cells — which makes community
    * maintenance cell-local: the batch's touched cells rerun the
    * bounded-round CC over their merged edges, every untouched
    * cell's labels carry forward verbatim (here re-derived from the
    * gold edge set, standing in for the labels artifact a deployment
    * would read), singletons label themselves. Cell-confinement makes
    * the union of the two labelings EQUAL the full-graph CC — proven
    * by the hash gate against the full frozen-quantizer rebuild
    * (`sim_knn_communities_merge_forms`). At scale the carried side is an
    * artifact read and the recomputed side is touched-cells work
    * only, mirroring [[appendKnnEdges]]'s shape one level up. */
  def knnCommunitiesMerge(spark: SparkSession, dir: String): DataFrame = {
    val (all, batchFrom) = frozenGoldAssigned(spark, dir)
    liveCommunitiesMergeOn(all, batchFrom).orderBy(col("vec_id"))
  }

  /** The live (no-artifact) communities-merge core over a full
    * assigned frame — factored so the form-tagged gate entry shares
    * one frozen training with the labels-artifact form. */
  private def liveCommunitiesMergeOn(all: DataFrame,
      batchFrom: Long): DataFrame = {
    val touched = all.filter(col("vec_id") >= batchFrom)
      .select(col("cell")).distinct()
    val goldEdges = knnEdgesOn(all.filter(col("vec_id") < batchFrom))
    val untouchedEdges = goldEdges
      .join(broadcast(touched), Seq("cell"), "left_anti")
    val touchedEdges = knnEdgesOn(all.join(broadcast(touched), Seq("cell")))
    def ccLabels(e: DataFrame): DataFrame =
      Dedup.connectedComponents(
        e.select(col("vec_id").as("doc_a"), col("nbr_id").as("doc_b")))._1
    val labels = ccLabels(untouchedEdges).unionByName(ccLabels(touchedEdges))
    val ids = all.select(col("vec_id"))
    ids.join(labels, ids("vec_id") === labels("doc_id"), "left")
      .select(ids("vec_id"),
        coalesce(col("cluster_id"), ids("vec_id")).as("community_id"))
  }

  /** The community-labels ARTIFACT: every vector's component-min
    * label (singletons self-labeled), cell-partitioned so the
    * incremental merge can carry untouched cells with a pruned read
    * instead of re-running their CC. Derived state — rebuildable from
    * the cells frame. */
  def writeKnnCommunityLabels(cells: DataFrame, out: String): Unit =
    writeKnnCommunityLabelsFromEdges(cells, knnEdgesOn(cells), out)

  /** [[writeKnnCommunityLabels]] over an already-derived edge frame —
    * the seam that lets the merge-forms gate derive the gold edges
    * ONCE for the artifact build and the live form's untouched leg
    * (r17). */
  private def writeKnnCommunityLabelsFromEdges(cells: DataFrame,
      edges: DataFrame, out: String): Unit = {
    val (labels, _) = Dedup.connectedComponents(
      edges
        .select(col("vec_id").as("doc_a"), col("nbr_id").as("doc_b")))
    cells.select(col("vec_id"), col("cell"))
      .join(labels, cells("vec_id") === labels("doc_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_id"), col("vec_id")).as("community_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(out)
  }

  /** PRODUCTION labels append (round-14 stretch #7, the streaming
    * form): fold a batch into the community-labels ARTIFACT by
    * re-running the bounded CC over ONLY the touched cells' edges and
    * overwriting ONLY their `cell=N/` partitions (dynamic) — sound by
    * the same cell-confinement argument as [[knnCommunitiesMerge]]
    * (components cannot span cells, so an untouched cell's labels are
    * final). Unlike the card fold this is IDEMPOTENT: each partition
    * write is a whole-partition overwrite of a pure function of the
    * cells store, so a crash replay converges. A missing store seeds
    * from the full cells frame. `cells` must contain all members of
    * every touched cell (the [[appendKnnEdges]] superset contract;
    * the seed case needs every cell that should seed). */
  def appendKnnCommunityLabels(spark: SparkSession, labelsDir: String,
      cells: DataFrame, batchFrom: Long): Unit = {
    if (graft.ops.StoreFiles.partitionDirCount(labelsDir, "cell=") == 0) {
      writeKnnCommunityLabels(cells, labelsDir)
      return
    }
    // bounded collect: touched-cell ids, ≤ min(cell count, batch size)
    val touched = cells.filter(col("vec_id") >= batchFrom)
      .select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val members = cells.filter(
      col("cell").isin(touched.map(Integer.valueOf): _*))
    relabelCells(members)
      .repartition(col("cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(labelsDir)
  }

  /** (vec_id, cell, community_id) for every member of `members`'
    * cells — the per-cell CC relabel both the append and the repair
    * write. */
  private def relabelCells(members: DataFrame): DataFrame = {
    val (labels, _) = Dedup.connectedComponents(
      knnEdgesOn(members)
        .select(col("vec_id").as("doc_a"), col("nbr_id").as("doc_b")))
    members.select(col("vec_id"), col("cell"))
      .join(labels, members("vec_id") === labels("doc_id"), "left")
      .select(members("vec_id"), col("cell"),
        coalesce(col("cluster_id"), members("vec_id"))
          .as("community_id"))
  }

  /** Close the crash window between a cells-store append and its
    * labels-store update: labels are DERIVED state (one row per cell
    * member, labels a pure function of the cell's edge structure), so
    * staleness is detectable per cell from one bounded aggregate — a
    * consistent cell has exactly its member count in label rows with
    * the same owner set (count + an id-hash sum in
    * decimal — collision-resistant unlike a plain id sum, and
    * overflow-proof under ANSI). Mismatching cells (and debris cells absent
    * from the cells store — the [[repairKnnEdges]] full-outer lesson)
    * relabel / delete. Returns the number of repaired cells. */
  def repairKnnCommunityLabels(spark: SparkSession, cellsDir: String,
      labelsDir: String): Int = {
    val cells = StoreCommit.read(spark, cellsDir)
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("v"))
    val expect = cells.groupBy(col("cell"))
      .agg(count(lit(1)).as("want_rows"),
        sum(xxhash64(col("vec_id")).cast("decimal(38,0)")).as("want_idsum"))
    val got =
      if (graft.ops.StoreFiles.parquetFileCount(labelsDir) > 0)
        spark.read.parquet(labelsDir)
          .groupBy(col("cell").cast("int").as("cell"))
          .agg(count(lit(1)).as("got_rows"),
            sum(xxhash64(col("vec_id")).cast("decimal(38,0)")).as("got_idsum"))
      else expect.select(col("cell"), lit(0L).as("got_rows"),
        lit(0L).cast("decimal(38,0)").as("got_idsum")).limit(0)
    val staleRows = expect.join(got, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("want_rows"), lit(0L)).as("want_rows"),
        coalesce(col("got_rows"), lit(0L)).as("got_rows"),
        coalesce(col("want_idsum"), lit(0L).cast("decimal(38,0)"))
          .as("want_idsum"),
        coalesce(col("got_idsum"), lit(0L).cast("decimal(38,0)"))
          .as("got_idsum"))
      .filter(col("got_rows") =!= col("want_rows") ||
        col("got_idsum") =!= col("want_idsum"))
      .select(col("cell"), col("want_rows"))
      .collect() // bounded by the quantizer's cell count
    val relabel = staleRows.filter(_.getLong(1) > 0)
      .map(_.getInt(0)).sorted
    val debris = staleRows.filter(_.getLong(1) == 0L)
      .map(_.getInt(0)).sorted
    if (relabel.nonEmpty)
      relabelCells(
          cells.filter(col("cell").isin(relabel.map(Integer.valueOf): _*)))
        .repartition(col("cell"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(labelsDir)
    debris.foreach(c =>
      graft.ops.StoreFiles.deleteDir(s"$labelsDir/cell=$c"))
    staleRows.length
  }

  /** [[knnCommunitiesMerge]] with the carried side read from the
    * labels ARTIFACT (partition-pruned to untouched cells) instead of
    * re-deriving the gold CC — the steady-state form: per-merge work
    * is the touched cells' edge build + a bounded CC over their edges
    * + a pruned label read; nothing untouched is recomputed. Equal to
    * the full rebuild by cell-confinement (components cannot span
    * cells), proven by the same hash gate. */
  def knnCommunitiesMergeFromLabels(spark: SparkSession,
      labelsDir: String, cells: DataFrame, batchFrom: Long): DataFrame = {
    val touched = cells.filter(col("vec_id") >= batchFrom)
      .select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    val touchedLits = touched.map(Integer.valueOf)
    val carried = spark.read.parquet(labelsDir)
      .filter(!col("cell").cast("int").isin(touchedLits: _*))
      .select(col("vec_id"), col("community_id"))
    val members = cells.filter(col("cell").isin(touchedLits: _*))
    val (labels, _) = Dedup.connectedComponents(
      knnEdgesOn(members)
        .select(col("vec_id").as("doc_a"), col("nbr_id").as("doc_b")))
    val recomputed = members.select(col("vec_id"))
      .join(labels, members("vec_id") === labels("doc_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("community_id"))
    carried.unionByName(recomputed).orderBy(col("vec_id"))
  }

  /** DRIVER-GATED serve path for the labels-fed merge: gold labels
    * artifact in a scratch dir, batch merged via
    * [[knnCommunitiesMergeFromLabels]] — oracle = the full
    * frozen-quantizer communities rebuild verbatim (the
    * [[knnCommunitiesMerge]] oracle through the artifact read). */
  def knnCommunitiesMergeServed(spark: SparkSession,
      dir: String): DataFrame = {
    val (all, batchFrom) = frozenGoldAssigned(spark, dir)
    val labelsDir = graft.ops.Scratch.dir("graft_knn_commsrv") + "/labels"
    writeKnnCommunityLabels(all.filter(col("vec_id") < batchFrom),
      labelsDir)
    knnCommunitiesMergeFromLabels(spark, labelsDir, all, batchFrom)
  }

  /** BOTH communities-merge forms — live cell-confined merge and the
    * labels-artifact merge — in ONE gated entry tagged by `form`,
    * sharing one frozen training and one labels scratch artifact
    * (round-14 verdict #1/#6: the two names re-paid the full
    * reachability-closure oracle twice). The labels-artifact read is
    * side-effect-free, so no materialization ordering is needed. */
  def knnCommunitiesMergeForms(spark: SparkSession,
      dir: String): DataFrame = {
    val (all, batchFrom) = frozenGoldAssigned(spark, dir)
    val labelsDir = graft.ops.Scratch.dir("graft_knn_commforms") + "/labels"
    // r17: the two forms share their DERIVED inputs (the round-14
    // shared-scratch discipline, one level further): the gold edge
    // set feeds the artifact build AND the live form's untouched leg
    // (it ran twice), and the touched-cells edges + their CC labels
    // are the same computation in both forms (they ran twice each —
    // the forms' distinct claims are the CARRY paths: artifact read
    // vs live anti-join, which stay separate below). Both pinned
    // frames are N·K-edge / label-sized, the artifact's own size.
    val touched = all.filter(col("vec_id") >= batchFrom)
      .select(col("cell")).distinct()
    // Decision record (r18): the gold-edge pin is CORPUS-LINEAR
    // (K·N edge rows) and lineage-free; executor loss on a cluster
    // fails the job rather than recomputing. Accepted in local-mode
    // gates — at scale the gold edges are the PERSISTED artifact
    // (writeKnnEdges) and this pin never ships.
    val goldEdges = knnEdgesOn(all.filter(col("vec_id") < batchFrom))
      .localCheckpoint()
    writeKnnCommunityLabelsFromEdges(
      all.filter(col("vec_id") < batchFrom), goldEdges, labelsDir)
    val touchedEdges =
      knnEdgesOn(all.join(broadcast(touched), Seq("cell")))
        .localCheckpoint()
    def ccLabels(e: DataFrame): DataFrame =
      Dedup.connectedComponents(
        e.select(col("vec_id").as("doc_a"), col("nbr_id").as("doc_b")))._1
    val touchedLabels = ccLabels(touchedEdges).localCheckpoint()
    val ids = all.select(col("vec_id"))
    def withSingletons(labels: DataFrame): DataFrame =
      ids.join(labels, ids("vec_id") === labels("doc_id"), "left")
        .select(ids("vec_id"),
          coalesce(col("cluster_id"), ids("vec_id")).as("community_id"))
    // live form: untouched components re-labeled from the live gold
    // edge set (anti-join carry), touched from the shared CC
    val live = withSingletons(
      ccLabels(goldEdges.join(broadcast(touched), Seq("cell"), "left_anti"))
        .unionByName(touchedLabels))
    // served form: untouched labels CARRIED from the artifact read
    // (the serve claim), touched from the same shared CC — the
    // recompute knnCommunitiesMergeFromLabels would run is the
    // identical computation on the identical members
    val touchedLits = touched.collect().map(r =>
      Integer.valueOf(r.getInt(0))).sorted
    val carried = spark.read.parquet(labelsDir)
      .filter(!col("cell").cast("int").isin(touchedLits: _*))
      .select(col("vec_id"), col("community_id"))
    val members = all.join(broadcast(touched), Seq("cell"))
      .select(col("vec_id"))
    val served = carried.unionByName(
      members.join(touchedLabels,
          members("vec_id") === touchedLabels("doc_id"), "left")
        .select(members("vec_id"),
          coalesce(col("cluster_id"), members("vec_id"))
            .as("community_id")))
    live.withColumn("form", lit("live"))
      .unionByName(served.withColumn("form", lit("served")))
      .select(col("form"), col("vec_id"), col("community_id"))
      .orderBy(col("form"), col("vec_id"))
  }

  /** BOTH sub-quantized multi-probe forms — live sampled-sub-chain
    * graph and the semantic-cells-store serve — in ONE gated entry
    * tagged by `form` (round-14 verdict #1: this family's oracle is
    * the single most expensive chain in the suite — the full sampled
    * sub-training replay — and was registered twice verbatim at ~39 s
    * per name in the judge's profile). */
  def knnGraphP2SubForms(spark: SparkSession, dir: String): DataFrame =
    knnGraphP2Sub(spark, dir).withColumn("form", lit("live"))
      .unionByName(
        knnGraphP2SubServed(spark, dir).withColumn("form", lit("served")))
      .select(col("form"), col("vec_id"), col("rk"), col("nbr_id"),
        col("cosine"))
      .orderBy(col("form"), col("vec_id"), col("rk"))

  /** BOTH coarse multi-probe forms — live and cell-store-served — in
    * ONE gated entry tagged by `form` (same dedupe as
    * [[knnGraphP2SubForms]], one `p2Sql` chain instead of two). */
  def knnGraphP2Forms(spark: SparkSession, dir: String): DataFrame =
    knnGraphP2(spark, dir).withColumn("form", lit("live"))
      .unionByName(
        knnGraphP2Served(spark, dir).withColumn("form", lit("served")))
      .select(col("form"), col("vec_id"), col("rk"), col("nbr_id"),
        col("cosine"))
      .orderBy(col("form"), col("vec_id"), col("rk"))

  /** BOTH cluster-card forms (live / cell-store-served) in ONE gated
    * entry tagged by `form` — one `cardSql` training chain instead of
    * two. */
  def clusterCardForms(spark: SparkSession, dir: String): DataFrame =
    clusterCard(spark, dir).withColumn("form", lit("live"))
      .unionByName(
        clusterCardServed(spark, dir).withColumn("form", lit("served")))
      .select(col("form"), col("cluster"), col("docs"),
        col("total_tokens"), col("n_sources"), col("top_source"),
        col("top_source_docs"), col("top_label"), col("top_label_docs"))
      .orderBy(col("form"), col("cluster"))

  /** BOTH balance-sample forms (live / cell-store-served) in ONE
    * gated entry tagged by `form` — one `balanceSql` training chain
    * instead of two. */
  def clusterBalanceForms(spark: SparkSession, dir: String): DataFrame =
    clusterBalanceSample(spark, dir).withColumn("form", lit("live"))
      .unionByName(
        clusterBalanceServed(spark, dir).withColumn("form", lit("served")))
      .select(col("form"), col("doc_id"), col("cluster"), col("source"),
        col("sample_hash"), col("sample_rank"))
      .orderBy(col("form"), col("cluster"), col("sample_rank"))

  /** Community size histogram — the dup-cluster-size distribution a
    * dedup report shows (how much of the corpus sits in large
    * semantic communities). Output is bounded by the number of
    * DISTINCT community sizes, compact at any scale; both legs are
    * map-side-combinable groupBys. */
  def knnCommunityHistogram(spark: SparkSession, dir: String): DataFrame =
    knnCommunities(spark, dir)
      .groupBy(col("community_id")).agg(count(lit(1)).as("members"))
      .groupBy(col("members")).agg(count(lit(1)).as("n_communities"))
      .orderBy(col("members"))

  /** Flag threshold: a vector is an embedding-space outlier when its
    * residual exceeds its cell's mean by this many standard
    * deviations. */
  val OutlierSigmas = 3

  /** Embedding-space outlier flags — the "weird vector" curation cut
    * (mis-embedded, corrupt, or off-distribution documents show up as
    * extreme residuals to their own topic centroid; SemDeDup-era
    * pipelines drop or re-embed them). For each vector: its assigned
    * cell, its squared distance to that cell's centroid
    * ([[graft.functions.NearestCentroid.distSq]] — one codegen'd
    * pass), and a flag for residuals more than [[OutlierSigmas]]σ
    * above the CELL's mean.
    *
    * Exactness discipline (the zipfFit recipe, per cell): the
    * per-row residual is quantized to integer micro-units, the cell
    * moments (n, Σd, Σd²) are EXACT integer sums (decimal(38,0) —
    * a long Σd² overflows at corpus scale, the id-hash-sum lesson),
    * and the σ comparison is carried out in exact BigInt arithmetic:
    * flag ⟺ n·d − s1 > 0 ∧ (n·d − s1)² > σ²·(n·s2 − s1²), which the
    * driver folds into ONE integer threshold per cell (integer sqrt,
    * provably the same predicate) so the distributed side is a plain
    * long compare against a broadcast K-row frame. The oracle states
    * the quadratic form directly in HUGEINT — both engines decide
    * every row identically, no float tolerance anywhere.
    *
    * Shape at scale: one map pass (assign + residual), one
    * map-side-combined groupBy bounded at K rows, a K-row collect
    * (the orderStat discipline), and a broadcast join — nothing
    * corpus-sized shuffles. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = KMeans.train(spark, dir)
    val a = KMeans.vecs(spark, dir).select(
      col("vec_id"),
      KMeans.assignOn(col("v"), cents).as("cell"),
      floor(graft.functions.NearestCentroid
        .distSq(col("v"), cents.map(_._2)) * lit(1000000.0))
        .cast("long").as("d2_micro"))
    val dec = col("d2_micro").cast("decimal(38,0)")
    // bounded collect: K cells' exact integer moments
    val thr = a.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(dec).as("s1"),
        sum(dec * dec).as("s2"))
      .collect().map { r =>
        val n = BigInt(r.getLong(1))
        val s1 = BigInt(r.getDecimal(2).toBigInteger)
        val s2 = BigInt(r.getDecimal(3).toBigInteger)
        // flag ⟺ n·d ≥ s1 + isqrt(σ²·(n·s2 − s1²)) + 1 ⟺ d ≥ ceil(…/n)
        val x = s1 + isqrt(BigInt(OutlierSigmas * OutlierSigmas) *
          (n * s2 - s1 * s1)) + 1
        (r.getInt(0), ((x + n - 1) / n).toLong)
      }.toSeq.toDF("cell", "thr")
    a.join(broadcast(thr), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("d2_micro"),
        (col("d2_micro") >= col("thr")).as("flagged"))
      .orderBy(col("vec_id"))
  }

  /** Fixed rounds of label propagation ([[knnLabelSpreadForms]]). */
  val LabelSpreadRounds = 2

  /** Label propagation over the kNN graph — weak-label densification
    * (semi-supervised label spreading): for [[LabelSpreadRounds]]
    * fixed rounds, every vector takes the MODAL label among itself
    * and its distinct graph neighbors (both edge directions), ties
    * broken (count desc, label asc) so both engines pick the same
    * winner. Fixed-round and synchronous, so the result is a pure
    * function of the edge set — oracle-replayable without a
    * fixpoint. Vectors in singleton cells have no edges and keep
    * their label through every round.
    *
    * Shape at scale: per round, one edge-sized join against the
    * current K-NN-bounded label frame + a map-side-combined
    * (vec_id, label) count whose per-vector group is bounded by the
    * vector's degree (≤ 2·[[KnnK]] + 1 votes), and a rank window
    * over that post-aggregation frame. Rounds are a FIXED small
    * constant — the plan depth stays bounded. */
  def knnLabelSpread(spark: SparkSession, dir: String): DataFrame = {
    val a = assignedWithV(spark, dir)
    labelSpreadOn(a, knnEdgesOn(a))
  }

  /** BOTH label-spread forms (live edge derivation / edges-ARTIFACT
    * fed) in ONE gated entry tagged by `form` — the graph family's
    * serve==rebuild discipline extended to its newest consumer. */
  def knnLabelSpreadForms(spark: SparkSession, dir: String): DataFrame = {
    val a = assignedWithV(spark, dir)
    // served leg reads the SHARED full-corpus edges store (r18) —
    // content is writeKnnEdges(a, …) verbatim, so the gate's claim
    // (live derivation == artifact-fed) is unchanged while the
    // private store build's second Σ|cell|² pairwise pass disappears
    OracleForms.union(
        "live" -> labelSpreadOn(a, knnEdgesOn(a)),
        "served" -> labelSpreadOn(a, knnEdgesStored(spark, dir)))
      .select(col("form"), col("vec_id"), col("label"),
        col("label_spread"), col("changed"))
      .orderBy(col("form"), col("vec_id"))
  }

  private def assignedWithV(spark: SparkSession,
      dir: String): DataFrame = {
    val cents = KMeans.train(spark, dir)
    KMeans.vecs(spark, dir).select(col("vec_id"), col("label"),
      KMeans.assignOn(col("v"), cents).as("cell"), col("v"))
  }

  /** The propagation core over a (vec_id, label, …) frame and an
    * edge frame carrying (vec_id, nbr_id). */
  private def labelSpreadOn(labels0: DataFrame,
      edges: DataFrame): DataFrame = {
    val sym = edges.select(col("vec_id").as("a"), col("nbr_id").as("b"))
      .unionByName(
        edges.select(col("nbr_id").as("a"), col("vec_id").as("b")))
      .distinct()
    var cur = labels0.select(col("vec_id"), col("label").as("lab"))
    for (_ <- 1 to LabelSpreadRounds) {
      val votes = sym
        .join(cur.withColumnRenamed("vec_id", "b"), Seq("b"))
        .select(col("a").as("vec_id"), col("lab"))
        .unionByName(cur)
      val counts = votes.groupBy(col("vec_id"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cnt").desc, col("lab").asc)
      cur = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("lab"))
    }
    labels0.select(col("vec_id"), col("label"))
      .join(cur, Seq("vec_id"))
      .select(col("vec_id"), col("label"),
        col("lab").as("label_spread"),
        (col("label") =!= col("lab")).as("changed"))
      .orderBy(col("vec_id"))
  }

  /** Exact integer square root (floor). */
  private def isqrt(x: BigInt): BigInt = {
    require(x >= 0, s"isqrt of negative $x")
    if (x < 2) x
    else {
      var g = BigInt(1) << ((x.bitLength + 1) / 2)
      var prev = BigInt(-1)
      while (g != prev) { prev = g; g = (g + x / g) >> 1 }
      while (g * g > x) g -= 1
      while ((g + 1) * (g + 1) <= x) g += 1
      g
    }
  }

  // ---------------------------------------------------------------
  // DuckDB oracle replays — the k-means training chain is
  // KMeans.trainCtes (the proven CTE replay); the card and the quota
  // are plain SQL over its final assignment joined to documents.
  // ---------------------------------------------------------------

  private def knnPairsFrom(t: String) =
    s"""SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, ${Similarity.cosineSql("qa.v", "qb.v")} AS cosine FROM $t a JOIN $t b ON a.cid = b.cid AND a.vec_id <> b.vec_id JOIN q qa ON qa.vec_id = a.vec_id JOIN q qb ON qb.vec_id = b.vec_id"""
  private val knnPairsSql = knnPairsFrom("af")

  // the removal chains: the SAME full-corpus quantizer (trainCtes is
  // untouched — removal never retrains), pairs/rank/closure over the
  // RETAINED assignment rows only
  private def knnRemoveCond = s"vec_id % 9 <> $KnnRemoveResidue"
  private def removedEdgesSql =
    s"""WITH ${KMeans.trainCtes}, afr AS (SELECT * FROM af WHERE $knnRemoveCond), p AS (${knnPairsFrom("afr")}) $knnRankedSql ORDER BY vec_id, rk"""
  private def removedLabelsSql =
    s"""WITH RECURSIVE ${KMeans.trainCtes}, afr AS (SELECT * FROM af WHERE $knnRemoveCond), p AS MATERIALIZED (${knnPairsFrom("afr")}), e AS ($knnRankedSql), sym AS (SELECT vec_id AS a, nbr_id AS b FROM e UNION ALL SELECT nbr_id, vec_id FROM e), reach(a, b) AS (SELECT a, b FROM sym UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a), cl AS (SELECT q.vec_id, least(q.vec_id, COALESCE(MIN(r.b), q.vec_id)) AS community_id FROM (SELECT * FROM q WHERE $knnRemoveCond) q LEFT JOIN reach r ON r.a = q.vec_id GROUP BY q.vec_id) SELECT vec_id, community_id FROM cl ORDER BY vec_id"""

  private val knnRankedSql =
    s"""SELECT vec_id, rk, nbr_id, cosine FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rk FROM p) WHERE rk <= $KnnK"""

  /** The knn-communities CTE chain (training + pairs + rank +
    * reachability closure + component-min labels) — shared by the
    * components, keep-best, and histogram oracles. */
  private lazy val communitiesCtes =
    s"""RECURSIVE ${KMeans.trainCtes}, p AS MATERIALIZED ($knnPairsSql), e AS ($knnRankedSql), sym AS (SELECT vec_id AS a, nbr_id AS b FROM e UNION ALL SELECT nbr_id, vec_id FROM e), reach(a, b) AS (SELECT a, b FROM sym UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a), cl AS (SELECT q.vec_id, least(q.vec_id, COALESCE(MIN(r.b), q.vec_id)) AS community_id FROM q LEFT JOIN reach r ON r.a = q.vec_id GROUP BY q.vec_id)"""

  /** Frozen-quantizer assignment prefix: gold slice, gold-trained
    * chain, assign-everyone — shared by the graph rebuilds and the
    * card-merge rebuild. */
  private lazy val frozenAssignCtes =
    s"""q AS (${KMeans.qSql}), qg AS MATERIALIZED (SELECT * FROM q WHERE vec_id <= (SELECT CAST(floor(max(vec_id) * 0.8) AS BIGINT) FROM q)), ${KMeans.trainChain("qg", "g", 64, KMeans.K)}, aall AS (SELECT vec_id, cid FROM (SELECT t.vec_id, c.cid, row_number() OVER (PARTITION BY t.vec_id ORDER BY ${KMeans.distSqlN("t.v", "c.cv", 64)}, c.cid) AS rn FROM q t CROSS JOIN c2g c) WHERE rn = 1)"""

  /** Shared CTE prefix of the frozen-quantizer rebuild replays: gold
    * slice, gold-trained chain, assign-everyone, in-cell pairs. */
  private lazy val mergeCtes =
    s"""$frozenAssignCtes, p AS MATERIALIZED (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, ${Similarity.cosineSql("qa.v", "qb.v")} AS cosine FROM aall a JOIN aall b ON a.cid = b.cid AND a.vec_id <> b.vec_id JOIN q qa ON qa.vec_id = a.vec_id JOIN q qb ON qb.vec_id = b.vec_id)"""

  /** The frozen-quantizer full-rebuild replay — the shared oracle of
    * the live batch merge, the store-fed merge, and the partition
    * append (all three Spark forms must equal this rebuild). */
  private lazy val mergeSql =
    s"""WITH $mergeCtes $knnRankedSql ORDER BY vec_id, rk"""

  /** Full-rebuild COMMUNITIES under the frozen gold quantizer — the
    * oracle of the incremental communities merge (same reachability
    * closure as [[communitiesCtes]], fed by the merge chain). */
  private lazy val mergeCommunitiesSql =
    s"""WITH RECURSIVE $mergeCtes, e AS ($knnRankedSql), sym AS (SELECT vec_id AS a, nbr_id AS b FROM e UNION ALL SELECT nbr_id, vec_id FROM e), reach(a, b) AS (SELECT a, b FROM sym UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a), cl AS (SELECT q.vec_id, least(q.vec_id, COALESCE(MIN(r.b), q.vec_id)) AS community_id FROM q LEFT JOIN reach r ON r.a = q.vec_id GROUP BY q.vec_id) SELECT vec_id, community_id FROM cl ORDER BY vec_id"""

  private def jdSqlFor(a: String) =
    s"""SELECT d.doc_id, CAST($a.cid AS INTEGER) AS cluster, q.label, d.source, CAST(len(${TextOps.toksSql}) AS BIGINT) AS n_tokens FROM $a JOIN q USING (vec_id) JOIN documents d ON d.doc_id = $a.vec_id"""

  /** The card derivation over `jd` — shared by the live-card replay
    * (fresh training) and the card-merge replay (frozen gold
    * training): merge == rebuild because counts/sums re-aggregate
    * exactly and the modal ranks re-derive with the same
    * tie-breaks. */
  private val cardBodySql =
    s"""ps AS MATERIALIZED (SELECT cluster, source, COUNT(*) AS sdocs, CAST(SUM(n_tokens) AS BIGINT) AS stoks FROM jd GROUP BY 1, 2), base AS (SELECT cluster, CAST(SUM(sdocs) AS BIGINT) AS docs, CAST(SUM(stoks) AS BIGINT) AS total_tokens, COUNT(*) AS n_sources FROM ps GROUP BY 1), ts AS (SELECT cluster, source AS top_source, sdocs AS top_source_docs FROM (SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY sdocs DESC, source) AS rn FROM ps) WHERE rn = 1), pl AS (SELECT cluster, label, COUNT(*) AS ldocs FROM jd GROUP BY 1, 2), tl AS (SELECT cluster, label AS top_label, ldocs AS top_label_docs FROM (SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY ldocs DESC, label) AS rn FROM pl) WHERE rn = 1) SELECT base.cluster, docs, total_tokens, n_sources, top_source, top_source_docs, top_label, top_label_docs FROM base JOIN ts USING (cluster) JOIN tl USING (cluster) ORDER BY cluster"""

  private val cardSql =
    s"""WITH ${KMeans.trainCtes}, jd AS MATERIALIZED (${jdSqlFor("af")}), $cardBodySql"""

  /** Full card rebuild under the frozen gold quantizer — the oracle
    * of the card-aggregate merge (store-after-merge == rebuild). */
  private lazy val cardMergeSql =
    s"""WITH $frozenAssignCtes, jd AS MATERIALIZED (${jdSqlFor("aall")}), $cardBodySql"""

  private val balanceSql =
    s"""WITH ${KMeans.trainCtes}, w AS (SELECT d.doc_id, CAST(af.cid AS INTEGER) AS cluster, d.source, ${Sampling.hashSql} AS sample_hash FROM af JOIN documents d ON d.doc_id = af.vec_id) SELECT doc_id, cluster, source, sample_hash, sample_rank FROM (SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY sample_hash, doc_id) AS sample_rank FROM w) WHERE sample_rank <= $BalancePerCluster ORDER BY cluster, sample_rank"""

  val oracle: Map[String, String] = Map(
    // serve == rebuild: the store's assignment is the live assignment
    // under the same centroids — the two forms fold into ONE entry
    // (form-tagged) so DuckDB pays the training chain once
    "curation_cluster_card_forms" ->
      OracleForms.sql(cardSql, Seq("live", "served")),
    // merge == rebuild for BOTH fold disciplines: DuckDB rebuilds the
    // card under the gold-trained frozen quantizer ONCE; Spark folds
    // the batch via the partition-pruned dynamic overwrite (`merge`)
    // and via the committed whole-store fold (`fold`, the streaming
    // sink's exactly-once protocol) and answers each from its store
    "curation_cluster_card_merge_forms" ->
      OracleForms.sql(cardMergeSql, Seq("fold", "merge")),
    "sample_cluster_balance_forms" ->
      OracleForms.sql(balanceSql, Seq("live", "served")),
    // in-cell pairwise cosine + per-vector rank — the IVF single-probe
    // approximation replayed exactly (same cell join, same cosine
    // fold, same tie-break)
    "sim_knn_graph" ->
      s"""WITH ${KMeans.trainCtes}, p AS ($knnPairsSql) $knnRankedSql ORDER BY vec_id, rk""",
    // removal: the converged post-takedown stores must equal the
    // retained-graph recompute under the FULL-corpus quantizer
    "sim_knn_remove_edges" -> removedEdgesSql,
    "sim_knn_remove_labels" -> removedLabelsSql,
    // reachability closure over the knn edge set = the bounded-round
    // large-star/small-star contraction (component-min labels agree —
    // the dedup_clusters congruence argument over a different edge
    // feeder)
    "sim_knn_components" ->
      s"""WITH $communitiesCtes SELECT vec_id, community_id FROM cl ORDER BY vec_id""",
    // keep policy = quality-argmax per community (ties to the lower
    // doc_id) — the dedup_keep_best idiom over the knn communities
    "sim_knn_keep_best" ->
      s"""WITH $communitiesCtes, q2 AS (SELECT doc_id, quality_score FROM (${TextOps.oracle("text_quality_score")})), j AS (SELECT cl.vec_id AS doc_id, cl.community_id, q2.quality_score FROM cl JOIN q2 ON q2.doc_id = cl.vec_id) SELECT doc_id, community_id, quality_score, rn = 1 AS kept FROM (SELECT *, row_number() OVER (PARTITION BY community_id ORDER BY quality_score DESC, doc_id) AS rn FROM j) ORDER BY doc_id""",
    "sim_knn_community_hist" ->
      s"""WITH $communitiesCtes, sz AS (SELECT community_id, COUNT(*) AS members FROM cl GROUP BY 1) SELECT members, COUNT(*) AS n_communities FROM sz GROUP BY 1 ORDER BY members""",
    // per-cell σ-flag replayed in EXACT integer arithmetic: the
    // quadratic HUGEINT form here is provably the same predicate as
    // the Spark side's isqrt-folded per-cell threshold (see the
    // embeddingOutliers scaladoc); the residual double is the same
    // left-to-right fold both engines run, quantized before any sum
    "sim_embedding_outliers" ->
      s"""WITH ${KMeans.trainCtes}, dd AS (SELECT af.vec_id, CAST(af.cid AS INTEGER) AS cell, CAST(floor(${KMeans.distSqlN("q.v", "c.cv", 64)} * 1000000.0) AS BIGINT) AS d2_micro FROM af JOIN q USING (vec_id) JOIN c2 c ON c.cid = af.cid), st AS (SELECT cell, CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(CAST(d2_micro AS HUGEINT)) AS HUGEINT) AS s1, CAST(SUM(CAST(d2_micro AS HUGEINT) * CAST(d2_micro AS HUGEINT)) AS HUGEINT) AS s2 FROM dd GROUP BY 1) SELECT dd.vec_id, dd.cell, dd.d2_micro, (n * d2_micro - s1 > 0 AND (n * d2_micro - s1) * (n * d2_micro - s1) > ${OutlierSigmas * OutlierSigmas} * (n * s2 - s1 * s1)) AS flagged FROM dd JOIN st USING (cell) ORDER BY dd.vec_id""",
    // merge == rebuild: DuckDB rebuilds the WHOLE graph under the
    // gold-trained frozen quantizer (train on qg, assign everyone,
    // rank) ONCE; the live merge, the store-fed merge, and the
    // in-place partition append all equal that rebuild, each keyed by
    // its form tag (round-14 verdict #1: this SQL used to run under
    // three names)
    "sim_knn_graph_merge_forms" ->
      OracleForms.sql(mergeSql, Seq("live", "served", "append")),
    // incremental communities: touched cells rerun CC, untouched
    // carry — equal to the full rebuild by cell-confinement; the
    // oracle IS the full frozen-quantizer communities rebuild, paid
    // once for both the live and the labels-artifact form
    "sim_knn_communities_merge_forms" ->
      OracleForms.sql(mergeCommunitiesSql, Seq("live", "served")),
    // multi-probe: af2 ranks every vector's two nearest final
    // centroids (the per-row nprobe=2), candidates join neighbors'
    // PRIMARY cell — same cosine, same tie-break, same top-k; live
    // and cell-store-served forms share the chain
    "sim_knn_graph_p2_forms" ->
      OracleForms.sql(p2Sql, Seq("live", "served")),
    // the full sampled sub-training replay — the single most
    // expensive chain in the suite (~39 s at sf0.01), now paid once
    // for both the live and the semantic-cells-store form
    "sim_knn_graph_p2_sub_forms" ->
      OracleForms.sql(p2SubSql, Seq("live", "served")),
    // fixed-round synchronous propagation: per round, modal label
    // over self + distinct symmetric neighbors with the (count desc,
    // label asc) tie-break — a pure function of the edge set, so the
    // live derivation and the edges-artifact form share the chain
    "sim_knn_label_spread_forms" ->
      OracleForms.sql(labelSpreadSql, Seq("live", "served"))
  )

  /** The label-spread replay: knn chain, symmetric-distinct
    * neighbors, [[LabelSpreadRounds]] modal-vote rounds. */
  private lazy val labelSpreadSql = {
    def round(curIn: String, curOut: String): String =
      s"$curOut AS (SELECT vec_id, lab FROM (SELECT vec_id, lab, row_number() OVER (PARTITION BY vec_id ORDER BY cnt DESC, lab) AS rn FROM (SELECT vec_id, lab, COUNT(*) AS cnt FROM (SELECT n.a AS vec_id, c.lab FROM nbr n JOIN $curIn c ON c.vec_id = n.b UNION ALL SELECT vec_id, lab FROM $curIn) GROUP BY 1, 2)) WHERE rn = 1)"
    val rounds = (1 to LabelSpreadRounds)
      .map(i => round(s"cur${i - 1}", s"cur$i")).mkString(", ")
    s"""WITH ${KMeans.trainCtes}, p AS ($knnPairsSql), e AS ($knnRankedSql), sym AS (SELECT vec_id AS a, nbr_id AS b FROM e UNION ALL SELECT nbr_id AS a, vec_id AS b FROM e), nbr AS (SELECT DISTINCT a, b FROM sym), cur0 AS (SELECT vec_id, label AS lab FROM q), $rounds SELECT q.vec_id, q.label, c.lab AS label_spread, q.label <> c.lab AS changed FROM q JOIN cur$LabelSpreadRounds c USING (vec_id) ORDER BY q.vec_id"""
  }

  /** The sub-quantized multi-probe replay: coarse chain + per-cell
    * SAMPLED sub-chains (the dedup_semantic_artifact training CTEs),
    * per-vector rn ≤ 2 over its coarse cell's sub-centroids, probes
    * joined against primary-cell members. */
  private lazy val p2SubSql = {
    val cellChains = (0 until KMeans.K).map { c =>
      s"ss$c AS (SELECT vec_id, label, v, vi FROM (SELECT q.vec_id, q.label, q.v, q.vi, row_number() OVER (ORDER BY q.vec_id) AS srn FROM q JOIN af USING (vec_id) WHERE af.cid = $c) WHERE srn <= ${Dedup.SampleCap}), " +
        KMeans.trainChain(s"ss$c", s"y$c", 64, Dedup.SubK)
    }.mkString(", ")
    val fineUnion = (0 until KMeans.K).map { c =>
      s"SELECT vec_id, $c * ${Dedup.SubK} + cid AS pcell, rn FROM (SELECT t.vec_id, cc.cid, row_number() OVER (PARTITION BY t.vec_id ORDER BY ${KMeans.distSqlN("t.v", "cc.cv", 64)}, cc.cid) AS rn FROM (SELECT q.vec_id, q.v FROM q JOIN af USING (vec_id) WHERE af.cid = $c) t CROSS JOIN c2y$c cc) WHERE rn <= 2"
    }.mkString(" UNION ALL ")
    s"""WITH ${KMeans.trainCtes}, $cellChains, fine AS ($fineUnion), m AS MATERIALIZED (SELECT f.vec_id, f.pcell AS cell, q.v FROM fine f JOIN q USING (vec_id) WHERE f.rn = 1), pr AS (SELECT f.vec_id, f.pcell, q.v FROM fine f JOIN q USING (vec_id)), p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, ${Similarity.cosineSql("a.v", "b.v")} AS cosine FROM pr a JOIN m b ON a.pcell = b.cell AND a.vec_id <> b.vec_id) $knnRankedSql ORDER BY vec_id, rk"""
  }

  private lazy val p2Sql =
    s"""WITH ${KMeans.trainCtes}, af2 AS (SELECT vec_id, cid FROM (SELECT t.vec_id, c.cid, row_number() OVER (PARTITION BY t.vec_id ORDER BY ${KMeans.distSqlN("t.v", "c.cv", 64)}, c.cid) AS rn FROM q t CROSS JOIN c2 c) WHERE rn <= 2), p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, ${Similarity.cosineSql("qa.v", "qb.v")} AS cosine FROM af2 a JOIN af b ON a.cid = b.cid AND a.vec_id <> b.vec_id JOIN q qa ON qa.vec_id = a.vec_id JOIN q qb ON qb.vec_id = b.vec_id) $knnRankedSql ORDER BY vec_id, rk"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_cluster_card_forms" -> clusterCardForms _,
    "curation_cluster_card_merge_forms" -> clusterCardMergeForms _,
    "sample_cluster_balance_forms" -> clusterBalanceForms _,
    "sim_knn_graph" -> knnGraph _,
    "sim_knn_remove_edges" -> knnRemoveEdges _,
    "sim_knn_remove_labels" -> knnRemoveLabels _,
    "sim_knn_components" -> knnCommunities _,
    "sim_knn_keep_best" -> knnKeepBest _,
    "sim_knn_community_hist" -> knnCommunityHistogram _,
    "sim_embedding_outliers" -> embeddingOutliers _,
    "sim_knn_label_spread_forms" -> knnLabelSpreadForms _,
    "sim_knn_graph_merge_forms" -> knnGraphMergeForms _,
    "sim_knn_graph_p2_forms" -> knnGraphP2Forms _,
    "sim_knn_graph_p2_sub_forms" -> knnGraphP2SubForms _,
    "sim_knn_communities_merge_forms" -> knnCommunitiesMergeForms _
  )
}
