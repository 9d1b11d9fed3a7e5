package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.StoreCommit

/** Product quantization (PQ) with asymmetric-distance (ADC) search over
  * the embeddings table — the memory-compression tier of the ANN
  * ladder (brute → LSH → IVF → multi-probe → PQ). Extension — the
  * reference has no similarity-search surface; this tier exists for
  * the training-data-pipeline mandate. The PQ formulation is Jégou
  * et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011.
  *
  * The 64-dim space splits into [[M]] contiguous subspaces of
  * [[SubDim]] dims; each gets its own [[Ks]]-centroid codebook from
  * the SAME deterministic quantized-Lloyd trainer the IVF path uses
  * ([[KMeans.trainOn]]), so the whole operator — train, encode,
  * search — replays in DuckDB as [[M]] parallel CTE chains.
  *
  *  - '''encode''' ([[pqCodes]]): each vector compresses to M small
  *    codes (here 4 × 3 bits = 64 dims × 8 bytes → 4 codes; at scale,
  *    a 512-dim float vector becomes 8–16 bytes). Map-only: the
  *    codebooks are M·Ks·SubDim literal doubles baked into one
  *    codegen'd projection — no join, no shuffle, no state.
  *  - '''search''' ([[pqTopK]]): ADC — the query is NOT quantized;
  *    a distance table dt[m][j] = ‖q_m − c_{m,j}‖² (M×Ks doubles) is
  *    computed once on the driver, and each row's approximate distance
  *    is M literal-array lookups summed: `dt0[code0] + … + dt3[code3]`.
  *    Scan cost per row is O(M) regardless of dimension — the whole
  *    point of PQ — and the scan stays one WholeStageCodegen span
  *    (filter → project → TakeOrdered top-k; no shuffle before the
  *    final K-row exchange).
  *
  * Scale shape: at 100 TB the codes table is ~1000× smaller than the
  * raw vectors, fits executor page cache, and ADC reads ONLY the codes
  * — the float vectors are never touched at query time. Combine with
  * the IVF cell filter ([[KMeans.ivfTrainedTopK]]) for the standard
  * IVF-PQ layout: prune to a cell, then ADC within it.
  */
object ProductQuant {

  val M = 4       // subspaces
  val SubDim = 16 // dims per subspace (4 × 16 = 64)
  val Ks = 8      // centroids per sub-quantizer
  val TopK = 10

  /** Per-subspace codebooks from the shared quantized-Lloyd trainer —
    * subspace m trains on dims [m·SubDim, (m+1)·SubDim). All M
    * trainings run as ONE grouped Lloyd loop (r17,
    * [[trainSubspaces]] — bit-identical to the per-slice
    * [[KMeans.trainOn]] calls this replaces), memoized per source
    * fingerprint like the trainer it wraps. */
  def codebooks(spark: SparkSession, dir: String): Seq[Seq[(Int, Seq[Double])]] =
    graft.ops.SessionStore.of(s"pqCodebooks|$M|$SubDim|$Ks",
        s"$dir/embeddings.parquet") {
      trainSubspaces(
        KMeans.vecs(spark, dir).select(col("vec_id"), col("v")), Ks)
    }

  private def codeCol(cbs: Seq[Seq[(Int, Seq[Double])]], m: Int): Column =
    KMeans.assignOn(slice(col("v"), m * SubDim + 1, SubDim), cbs(m))

  /** Map-only encode of `dir`'s corpus under PRE-TRAINED codebooks —
    * the production split: train on a sample, encode the fleet. */
  def encodeWith(spark: SparkSession, dir: String,
      cbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame =
    KMeans.vecs(spark, dir)
      .select(col("vec_id") +: col("label") +:
        (0 until M).map(m => codeCol(cbs, m).as(s"code$m")): _*)

  /** PQ encode: (vec_id, label, code0..code3) — the compressed corpus
    * representation downstream ADC scans read instead of the vectors.
    * Served from the shared codes store (r18): the raw-slice code
    * columns are identical with or without the coarse cell attached
    * ([[encodeWithCells]] = [[encodeWith]] + `cell`), so this reads
    * the store and drops `cell` instead of re-encoding the corpus. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    rawCodesStored(spark, dir)
      .select(col("vec_id") +: col("label") +:
        (0 until M).map(m => col(s"code$m")): _*)
      .orderBy(col("vec_id"))

  /** ADC distance table for a query vector: dt[m][j] = ‖q_m − c_{m,j}‖²,
    * left-to-right fold per entry — identical IEEE result to the
    * oracle's list_sum over the slice. */
  def distTable(qv: Seq[Double],
      cbs: Seq[Seq[(Int, Seq[Double])]]): Seq[Seq[Double]] =
    (0 until M).map { m =>
      val qs = qv.slice(m * SubDim, (m + 1) * SubDim)
      cbs(m).map { case (_, cv) =>
        qs.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
          acc + (x - c) * (x - c) }
      }
    }

  /** Query-side prep: the min-vec_id query's id and distance table. */
  def queryTable(spark: SparkSession, dir: String,
      cbs: Seq[Seq[(Int, Seq[Double])]]): (Long, Seq[Seq[Double]]) = {
    val (qid, _, qv) = KMeans.queryRow(spark, dir)
    (qid, distTable(qv, cbs))
  }

  /** ADC top-k over a PERSISTED codes table ([[encodeWith]] output):
    * the steady-state search — M lookups per row into the literal
    * distance table, the float vectors never read. Same values as
    * [[pqTopK]] under the same codebooks (ProductQuantSpec). */
  def adcOverCodes(codes: DataFrame, dt: Seq[Seq[Double]],
      qid: Long, k: Int = TopK): DataFrame = {
    val adc = (0 until M).map { m =>
      element_at(array(dt(m).map(lit): _*), col(s"code$m") + lit(1))
    }.reduceLeft(_ + _)
    codes.filter(col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
  }

  /** Exact-L2 re-rank of an explicit candidate id set against the raw
    * vectors of `dir` — the steady-state second leg of
    * [[ivfPqRerankTopK]], factored so a deployment can run it against
    * a PERSISTED codes table's ADC output ([[adcOverCodes]] with
    * k = [[RerankFactor]]·[[TopK]]). The ids arrive as a literal
    * pushed-down In predicate: k′ row fetches, row-group-prunable on a
    * vec_id-sorted layout, never a join against a full vector scan. */
  def exactRerankTopK(spark: SparkSession, dir: String, qv: Seq[Double],
      candIds: Seq[Long]): DataFrame =
    KMeans.vecs(spark, dir)
      .filter(col("vec_id").isin(candIds: _*))
      .select(col("vec_id"), col("label"),
        exactDistCol(qv).as("exact_dist"))
      .orderBy(col("exact_dist"), col("vec_id"))
      .limit(TopK)

  /** ADC top-k for the min-vec_id query vector: per-row distance is M
    * lookups into the driver-computed distance table, summed
    * left-to-right (dt0+dt1)+dt2)+dt3 — the same IEEE order the
    * oracle replays. Ascending distance, vec_id tiebreak. */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val cbs = codebooks(spark, dir)
    val (qid, dt) = queryTable(spark, dir, cbs)
    // r18: full scan of the shared CODES store (M small ints/row) —
    // the raw-vector scan + per-row sub-assigns this replaces read
    // the embeddings and re-derived the same codes per invocation
    rawCodesStored(spark, dir).filter(col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), adcOverStored(dt).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** PQ encode PLUS the coarse IVF cell per vector — one map-only
    * pass producing the production table layout: write this
    * `partitionBy("cell")` and an ADC query's cell filter becomes
    * parquet PARTITION PRUNING (the scan lists one directory of an
    * already-compressed table; asserted in ProductQuantSpec). */
  def encodeWithCells(spark: SparkSession, dir: String,
      coarse: Seq[(Int, Seq[Double])],
      cbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame =
    KMeans.vecs(spark, dir)
      .select(col("vec_id") +: col("label") +:
        KMeans.assignOn(col("v"), coarse).as("cell") +:
        (0 until M).map(m => codeCol(cbs, m).as(s"code$m")): _*)

  // ---------------------------------------------------------------
  // Session-scoped codes stores (r18): every live IVF-PQ gate
  // re-encoded the corpus per invocation — a full raw-vector scan
  // with K-coarse + M×Ks sub-assign NearestCentroid folds per row —
  // and then filtered on the computed cell, which can never prune
  // the parquet scan. One encode now lands in a cell-PARTITIONED
  // scratch store per (family, source fingerprint), and every
  // consumer's cell filter becomes partition pruning over an
  // already-compressed codes table (the exact serving shape
  // [[adcBatchTopKOverCoded]]'s scaladoc names as production).
  // Encode is a deterministic map under memoized quantizers, so
  // every consumer's values are unchanged; staleness rides the same
  // fingerprint guard as every session store.
  // ---------------------------------------------------------------

  /** Residual codes store: [[encodeWithCellsResidual]] written
    * `partitionBy("cell")`, shared by the residual ADC/rerank/
    * multi-probe gates and the eval rungs riding them. */
  private[graft] def residualCodesStoreFor(spark: SparkSession,
      dir: String): String =
    graft.ops.SessionStore.dir("resCodes",
        s"$dir/embeddings.parquet") { out =>
      val coarse = KMeans.train(spark, dir)
      val rcbs = residualCodebooks(spark, dir, coarse)
      encodeWithCellsResidual(spark, dir, coarse, rcbs)
        .write.partitionBy("cell").parquet(out)
    }

  /** Raw-slice codes store: [[encodeWithCells]] written
    * `partitionBy("cell")`, shared by the raw IVF-PQ gates and the
    * full-scan PQ forms (which read it ignoring `cell`). */
  private[graft] def rawCodesStoreFor(spark: SparkSession,
      dir: String): String =
    graft.ops.SessionStore.dir("rawCodes",
        s"$dir/embeddings.parquet") { out =>
      val coarse = KMeans.train(spark, dir)
      val cbs = codebooks(spark, dir)
      encodeWithCells(spark, dir, coarse, cbs)
        .write.partitionBy("cell").parquet(out)
    }

  /** A codes store read back, typed exactly like the encode output
    * (`cell` returns as a partition column). */
  private def codesStored(spark: SparkSession, store: String): DataFrame =
    graft.ops.SessionStore.parquet(spark, store)
      .select(col("vec_id") +: col("label") +:
        col("cell").cast("int").as("cell") +:
        (0 until M).map(m => col(s"code$m").cast("int").as(s"code$m")): _*)

  private def residualCodesStored(spark: SparkSession,
      dir: String): DataFrame =
    codesStored(spark, residualCodesStoreFor(spark, dir))

  private def rawCodesStored(spark: SparkSession, dir: String): DataFrame =
    codesStored(spark, rawCodesStoreFor(spark, dir))

  /** ADC column over stored code columns for a driver-built distance
    * table — M literal-array lookups summed left-to-right (the same
    * IEEE order as the expression-over-raw-vectors form it replaces:
    * the stored code IS [[KMeans.assignOn]] of the same slice). */
  private def adcOverStored(dt: Seq[Seq[Double]]): Column =
    (0 until M).map { m =>
      element_at(array(dt(m).map(lit): _*), col(s"code$m") + lit(1))
    }.reduceLeft(_ + _)

  /** Driver-side query prep for the composed IVF-PQ layouts: the
    * min-vec_id query's id, its coarse cell (same left-to-right fold
    * as [[KMeans.assignOn]], low-cid ties), and its ADC distance
    * table. */
  def queryPrep(spark: SparkSession, dir: String,
      coarse: Seq[(Int, Seq[Double])],
      cbs: Seq[Seq[(Int, Seq[Double])]]): (Long, Int, Seq[Seq[Double]]) = {
    val (qid, _, qv) = KMeans.queryRow(spark, dir)
    val qCid = coarse.map { case (cid, cv) =>
      (qv.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) }, cid)
    }.min._2
    (qid, qCid, distTable(qv, cbs))
  }

  /** IVF-PQ top-k — the composed production layout (FAISS `IVF,PQ`):
    * the coarse quantizer ([[KMeans.train]], K=10 full-space cells)
    * prunes the scan to the query's cell, ADC ranks within it. At
    * scale the codes table is partitioned by coarse cell
    * ([[encodeWithCells]]), so this reads one partition of an
    * already-1000×-compressed table. */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val coarse = KMeans.train(spark, dir)
    val cbs = codebooks(spark, dir)
    val (qid, qCid, dt) = queryPrep(spark, dir, coarse, cbs)
    // r18: the cell filter is partition pruning over the shared codes
    // store — the raw-vector scan + per-row assignment this replaces
    // could never prune (the predicate was an expression)
    rawCodesStored(spark, dir)
      .filter(col("cell") === qCid && col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), adcOverStored(dt).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** Literal K×64 coarse-centroid matrix for per-row centroid lookup
    * by assigned cell (array-of-array literal; element_at is
    * codegen'd). */
  private def coarseLit(coarse: Seq[(Int, Seq[Double])]): Column =
    array(coarse.map { case (_, cv) => array(cv.map(lit): _*) }: _*)

  /** Residual of `v` w.r.t. its assigned coarse cell — one fused
    * [[graft.functions.VecSub]] loop (codegen; `zip_with` would put an
    * interpreted HOF seam in the corpus-sized encode). */
  private def residualCol(coarse: Seq[(Int, Seq[Double])]): Column =
    graft.functions.VecSub(col("v"),
      element_at(coarseLit(coarse),
        KMeans.assignOn(col("v"), coarse) + lit(1)))

  /** Residual sub-quantizer codebooks — true FAISS `IVF,PQ`: each
    * subspace trains on RESIDUALS to the coarse centroid instead of
    * raw vector slices. Residual magnitudes are much smaller than raw
    * coordinates (the coarse quantizer has already explained the
    * cell-level structure), so the same Ks centroids resolve finer
    * detail — this is where IVF-PQ's recall at high compression comes
    * from (Jégou et al. §IV). Same deterministic trainer
    * ([[KMeans.trainFrame]]), so the whole chain still replays in
    * DuckDB. */
  def residualCodebooks(spark: SparkSession, dir: String,
      coarse: Seq[(Int, Seq[Double])]): Seq[Seq[(Int, Seq[Double])]] = {
    // memoized per source fingerprint (graft.ops.SessionStore, r17):
    // `coarse` is itself a deterministic function of the embeddings
    // file (every caller passes KMeans.train(spark, dir) or the
    // memoized equivalent — enforced below, so a future subset-trained
    // caller fails loudly instead of serving another coarse's
    // codebooks), so the residual sub-codebooks are too — and five
    // residual-PQ gate entries each re-trained them (M trainFrame
    // corpus passes per entry).
    // The require sits BEFORE the memo lookup (r18): inside the
    // compute block it only fired for the first payer, so a
    // custom-coarse caller arriving after the memo was warm would
    // silently get the default-coarse codebooks. KMeans.train is
    // itself memoized, so the check is a map lookup when warm.
    require(coarse == KMeans.train(spark, dir),
      "residualCodebooks is memoized per dir and assumes coarse = " +
        "KMeans.train(dir); train custom-coarse residual codebooks " +
        "through KMeans.trainFrame directly")
    graft.ops.SessionStore.of("residualCbs", s"$dir/embeddings.parquet") {
      val res = KMeans.vecs(spark, dir)
        .select(col("vec_id"), residualCol(coarse).as("v"))
      trainSubspaces(res, Ks)
    }
  }

  /** The M per-subspace [[KMeans.trainFrame]] calls fused into ONE
    * grouped Lloyd loop (r17, [[KMeans.trainFramesGrouped]] — per-
    * subspace results bit-identical, parity in OptimizationR17Spec):
    * subspace m's training rows are exactly the slice
    * [m·SubDim, (m+1)·SubDim) of every vector, so a posexplode of the
    * M slices is the same M row sets tagged by `grp`, and the fused
    * trainer replaces M × (1 + Rounds) corpus-scan jobs with
    * (1 + Rounds). */
  private def trainSubspaces(vs: DataFrame,
      k: Int): Seq[Seq[(Int, Seq[Double])]] =
    KMeans.trainFramesGrouped(
      vs.select(col("vec_id"), posexplode(
          array((0 until M).map(m =>
            slice(col("v"), m * SubDim + 1, SubDim)): _*))
        .as(Seq("grp", "v")))
        .select(col("grp"), col("vec_id"), col("v")),
      M, k)

  /** Residual encode with coarse cells — the production residual
    * IVF-PQ table layout (write `partitionBy("cell")`). Map-only:
    * coarse assign → fused residual subtract → M residual sub-assigns,
    * all inside one codegen span. ADC scans of this table are
    * byte-identical in shape to [[encodeWithCells]]' (same M small
    * codes per row) — the residual step changes WHAT the codes mean,
    * not what the scan reads. */
  def encodeWithCellsResidual(spark: SparkSession, dir: String,
      coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame =
    encodeFrameResidual(KMeans.vecs(spark, dir), coarse, rcbs)

  /** Residual encode over an arbitrary (vec_id, label, v) frame — the
    * micro-batch entry point the streaming vector sink appends with.
    * Codebooks are FROZEN inputs (trained once on a sample): the
    * FAISS production contract — an index retrain is a rebuild, not
    * an append — which is exactly what makes the encode a
    * deterministic per-row map and append == re-encode exact. */
  def encodeFrameResidual(vecs: DataFrame,
      coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame =
    vecs
      .select(col("vec_id"), col("label"),
        KMeans.assignOn(col("v"), coarse).as("cell"),
        residualCol(coarse).as("rv"))
      .select(col("vec_id") +: col("label") +: col("cell") +:
        (0 until M).map(m => KMeans.assignOn(
          slice(col("rv"), m * SubDim + 1, SubDim), rcbs(m))
          .as(s"code$m")): _*)

  /** Committed part-file count of a cell-partitioned codes store. */
  def codesFileCount(codesDir: String): Int = StoreCommit.fileCount(codesDir)

  /** Codes-store compaction — same policy as
    * [[graft.ext.Dedup.maybeCompactIndex]]: past `threshold` part
    * files (micro-batch appends write one file per cell per batch),
    * rebuild the store from the gold vector corpus. Codes are DERIVED
    * state (a deterministic map of gold under frozen codebooks), so
    * the rebuild is also the crash-recovery path for the gold→codes
    * append window. The rebuild repartitions by cell before the
    * partitioned write — one task per cell → ~K part files, the
    * compact layout the ADC partition-pruned scan wants (without the
    * file target the rebuild writes at plan parallelism and can
    * reproduce the fragmentation — the round-11 compaction lesson). */
  def maybeCompactCodes(spark: SparkSession, goldDir: String,
      codesDir: String, coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]],
      threshold: Int = Dedup.CompactFileThreshold): Boolean = {
    if (codesFileCount(codesDir) > threshold) {
      rebuildCodes(spark, goldDir, codesDir, coarse, rcbs)
      true
    } else false
  }

  /** Rebuild the codes store from the gold vector corpus — the
    * compaction body AND the crash repair for the gold→codes append
    * window (the vector sink wires it as its guard-prologue repair). */
  def rebuildCodes(spark: SparkSession, goldDir: String,
      codesDir: String, coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]]): Unit = {
    val gold = StoreCommit.read(spark, goldDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    // materialize BEFORE the replace: the plan reads goldDir, not
    // codesDir, but an eager pin keeps the rebuild one atomic job
    val rebuilt = encodeFrameResidual(gold, coarse, rcbs)
      .repartition(coarse.size, col("cell"))
      .localCheckpoint()
    // codes are derived state, but the staged replace also makes the
    // rebuild itself crash-safe for free
    StoreCommit.replace(codesDir) { next =>
      rebuilt.write.partitionBy("cell").parquet(next)
    }
  }

  /** Remove vectors from the PQ family (the codes tier's takedown,
    * composing two already-gated pieces): the removed ids join the
    * permanent `_removed` log the sink's post-crash fallback unions,
    * the vector gold corpus rewrites without them
    * ([[graft.ops.StoreCommit.replace]]; the root's watermark keeps
    * its PRE-removal value), then [[rebuildCodes]] — the same
    * derived-state recovery compaction uses — re-derives the codes
    * store from the retained gold. A crash between the two leaves the
    * marker down, so the next streamed batch's prologue runs the SAME
    * rebuild. Returns (removed vectors, reclaimed gold bytes). */
  def vacuumVectorGold(spark: SparkSession, removedIds: DataFrame,
      goldDir: String, codesDir: String,
      coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]]): (Long, Long) = {
    StoreCommit.recover(goldDir)
    StoreCommit.recover(codesDir)
    val rem = removedIds.select(col("vec_id")).distinct()
      .localCheckpoint()
    if (rem.isEmpty) return (0L, 0L)
    val bytesBefore =
      graft.ops.StoreFiles.dataBytes(StoreCommit.readDir(goldDir))
    val gold0 = StoreCommit.read(spark, goldDir)
    val before = gold0.count()
    val retained = gold0
      .join(broadcast(rem), Seq("vec_id"), "left_anti")
      .localCheckpoint()
    val removedN = before - retained.count()
    if (removedN == 0L) return (0L, 0L)
    // the log lands BEFORE the replace (a crash in between only logs
    // ids gold still holds; the log is read through distinct)
    graft.ops.SinkGuard.appendRemovedIds(rem, goldDir)
    graft.ops.StoreFiles.deleteMarker(goldDir, "_ids_synced")
    StoreCommit.replace(goldDir)(retained.write.parquet(_))
    rebuildCodes(spark, goldDir, codesDir, coarse, rcbs)
    graft.ops.StoreFiles.createMarker(goldDir, "_ids_synced")
    (removedN, bytesBefore -
      graft.ops.StoreFiles.dataBytes(StoreCommit.readDir(goldDir)))
  }

  /** Driver-side query prep for the residual layout: query id, coarse
    * cell, and the ADC table built from the query's RESIDUAL to that
    * cell's centroid (dt[m][j] = ‖(q − c_cell)_m − rc_{m,j}‖²). */
  def queryPrepResidual(spark: SparkSession, dir: String,
      coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]]): (Long, Int, Seq[Seq[Double]]) = {
    val (qid, _, qv) = KMeans.queryRow(spark, dir)
    val qCid = coarse.map { case (cid, cv) =>
      (qv.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) }, cid)
    }.min._2
    val qres = qv.zip(coarse(qCid)._2).map { case (x, c) => x - c }
    (qid, qCid, distTable(qres, rcbs))
  }

  /** Residual IVF-PQ top-k: prune to the query's coarse cell, ADC over
    * residual codes with the query-residual distance table. Scan cost
    * is IDENTICAL to [[ivfPqTopK]] (M lookups per row — the residual
    * arithmetic happened at encode/query-prep time); the win is
    * fidelity, asserted as recall ≥ the raw-quantizing form in
    * ProductQuantSpec. */
  def ivfPqResidualTopK(spark: SparkSession, dir: String): DataFrame = {
    val coarse = KMeans.train(spark, dir)
    val rcbs = residualCodebooks(spark, dir, coarse)
    val (qid, qCid, dt) = queryPrepResidual(spark, dir, coarse, rcbs)
    // r18: pruned scan of the shared residual-codes store (see
    // [[residualCodesStoreFor]]) — same codes, same ADC values
    residualCodesStored(spark, dir)
      .filter(col("cell") === qCid && col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), adcOverStored(dt).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** OPQ composition — the FAISS `OPQ,IVF,PQ` chain: the seeded
    * orthonormal rotation ([[ScalarQuant.rotationMatrix]], already
    * proven write-side-only by the SQ8 tier) is applied BEFORE coarse
    * training, so the coarse quantizer, the residuals, and every
    * residual sub-quantizer all live in ROTATED space. Rotation
    * spreads variance across the M subspace blocks — the failure mode
    * it fixes is a dominant raw dimension concentrating all the
    * quantization error in one sub-quantizer (Ge et al., OPQ, CVPR
    * 2013 use a LEARNED rotation; the seeded random one is FAISS's
    * `RandomRotationMatrix` drop-in and keeps the whole chain
    * deterministic and oracle-replayable).
    *
    * Serving cost is UNCHANGED: the rotation happens at encode time
    * (write side) and once per query on the driver ([[ScalarQuant
    * .rotateLocal]] — d² multiplies); the cell scan still reads M
    * small codes per row and sums M table lookups. The one
    * composition subtlety — per-probed-cell residuals — is inherited
    * unchanged from the residual chain because rotation is applied
    * strictly upstream of it. */
  def opqIvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    opqChainWith(spark, dir, ScalarQuant.rotationMatrix())

  /** The OPQ serving chain under an EXPLICIT rotation — shared by the
    * seeded form ([[opqIvfPqTopK]]) and the learned form
    * ([[opqLearnedTopK]]); everything downstream of `rot` is
    * identical, so the two differ only in where the rotation came
    * from. */
  private def opqChainWith(spark: SparkSession, dir: String,
      rot: Seq[Seq[Double]]): DataFrame = {
    val (rvecs, coarse, rcbs) = opqTrain(spark, dir, rot)
    val (qid, qCid, dt) = opqQueryPrep(spark, dir, rot, coarse, rcbs)
    val rv = residualCol(coarse)
    val adc = (0 until M).map { m =>
      element_at(array(dt(m).map(lit): _*),
        KMeans.assignOn(slice(rv, m * SubDim + 1, SubDim), rcbs(m)) + lit(1))
    }.reduceLeft(_ + _)
    rvecs
      .filter(KMeans.assignOn(col("v"), coarse) === qCid &&
        col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** The OPQ chain's training prefix under an explicit rotation —
    * rotated corpus, coarse quantizer over the rotated space, and the
    * per-subspace residual codebooks. Shared by the live chain
    * ([[opqChainWith]]) and the store build ([[writeOpqStore]]) so
    * the serve == rebuild contract is one definition deep. */
  private def opqTrain(spark: SparkSession, dir: String,
      rot: Seq[Seq[Double]])
      : (DataFrame, Seq[(Int, Seq[Double])], Seq[Seq[(Int, Seq[Double])]]) = {
    val rvecs = KMeans.vecs(spark, dir)
      .select(col("vec_id"), col("label"),
        graft.functions.MatVec(col("v"), rot).as("v"))
    val coarse = KMeans.trainFrame(
      rvecs.select(col("vec_id"), col("v")), KMeans.K)
    val res = rvecs.select(col("vec_id"), residualCol(coarse).as("v"))
    // r17: one grouped Lloyd loop instead of M per-subspace trainings
    // (see [[trainSubspaces]] — bit-identical results)
    val rcbs = trainSubspaces(res, Ks)
    (rvecs, coarse, rcbs)
  }

  /** Driver-side OPQ query prep: min-vec_id query rotated locally,
    * its coarse cell under the ROTATED centroids, and the ADC table
    * from its residual — the [[queryPrepResidual]] shape one rotation
    * deep. */
  private def opqQueryPrep(spark: SparkSession, dir: String,
      rot: Seq[Seq[Double]], coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]]): (Long, Int, Seq[Seq[Double]]) = {
    val (qid, _, qraw) = KMeans.queryRow(spark, dir)
    val qv = ScalarQuant.rotateLocal(qraw, rot)
    val qCid = coarse.map { case (cid, cv) =>
      (qv.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) }, cid)
    }.min._2
    val qres = qv.zip(coarse(qCid)._2).map { case (x, c) => x - c }
    (qid, qCid, distTable(qres, rcbs))
  }

  /** Alternating-minimization rounds for the LEARNED OPQ rotation —
    * fixed count, deterministic (Ge et al. use 50–100 on
    * billion-vector corpora). 12 measured as the knee on this corpus:
    * sample objective 411 → ~374, and the end-to-end evaluation
    * (re-trained serving codebooks) shows both lower reconstruction
    * error AND ≥ recall vs the seeded rotation — at 4 rounds the
    * error already improved but single-digit recall@10 was inside
    * its own noise. The spec asserts monotone descent per round (a
    * theorem of the three-step alternation, not an observation). */
  val OpqIters = 12

  /** Training-sample bound for the learned rotation — OPQ trains on a
    * sample in FAISS too; the min-vec_id window keeps it
    * deterministic and the collect bounded (512 × 64 doubles ≈
    * 256 KB). */
  val OpqSampleN = 512

  /** LEARNED OPQ rotation (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 — the non-parametric alternating
    * minimization), run DRIVER-LOCAL on a bounded min-vec_id sample,
    * the [[KMeans.trainLocal]] pattern: the expensive loop (rotate →
    * train sub-quantizers → encode → orthogonal-Procrustes update)
    * touches only the sample; the learned R then freezes and feeds
    * the standard distributed chain, so serving cost is identical to
    * the seeded form.
    *
    * Sub-quantizers initialize ONCE from the seeded rotation's sample
    * ([[KMeans.trainLocal]] per subspace), then each round alternates
    * three error-non-increasing steps — which is what makes the
    * spec's monotone-descent assertion a theorem, not an observation
    * (a cold re-train per round would void it):
    *  1. encode: y_i = concat of each subspace's nearest centroid
    *     (the PQ reconstruction of R·x_i) — fresh assignment can only
    *     lower the error the previous round left;
    *  2. update R = argmin over orthogonal R of Σ‖R·x_i − y_i‖² with
    *     the y_i FIXED — the orthogonal Procrustes solution R = U·Vᵀ
    *     from the SVD U·S·Vᵀ = A = Σ y_i·x_iᵀ (maximizes tr(R·Σx·yᵀ));
    *  3. one Lloyd step on the re-rotated sample (reassign, then
    *     centroid means; an emptied cell keeps its centroid) — both
    *     halves non-increasing by the standard k-means argument.
    *
    * The SVD runs on the 64×64 A via a cyclic-Jacobi eigensolve of
    * AᵀA = V·S²·Vᵀ (deterministic sweep order, fixed tolerance), with
    * U = A·V·S⁻¹. A is rank-deficient by construction (PQ
    * reconstructions span ≤ M·(Ks−1)+1 directions), so U's null-space
    * columns complete deterministically by Gram–Schmidt over the
    * identity basis — any completion attains the same objective;
    * R stays orthogonal either way (asserted in ProductQuantSpec
    * along with per-round monotone descent). */
  def learnedRotation(sample: Seq[Seq[Double]],
      iters: Int = OpqIters): Seq[Seq[Double]] = {
    val d = sample.head.length
    val xs = sample.map(_.toArray).toArray
    var r = ScalarQuant.rotationMatrix(d).map(_.toArray).toArray

    def rotate(x: Array[Double]): Array[Double] = {
      val y = new Array[Double](d)
      var i = 0
      while (i < d) {
        var a = 0.0; var j = 0
        while (j < d) { a += r(i)(j) * x(j); j += 1 }
        y(i) = a; i += 1
      }
      y
    }
    def reconstruct(xr: Array[Double],
        cbs: Seq[Seq[(Int, Seq[Double])]]): Array[Double] = {
      val y = new Array[Double](d)
      var m = 0
      while (m < M) {
        val sub = java.util.Arrays.copyOfRange(xr, m * SubDim,
          (m + 1) * SubDim)
        val best = cbs(m).minBy { case (cid, cv) =>
          (cv.zip(sub).foldLeft(0.0) { case (a, (c, x)) =>
            a + (x - c) * (x - c) }, cid)
        }._2
        var j = 0
        while (j < SubDim) { y(m * SubDim + j) = best(j); j += 1 }
        m += 1
      }
      y
    }

    var xrs = xs.map(rotate)
    var cbs: Seq[Seq[(Int, Seq[Double])]] = (0 until M).map { m =>
      KMeans.trainLocal(xrs.zipWithIndex.map { case (xr, i) =>
        (i.toLong, xr.slice(m * SubDim, (m + 1) * SubDim).toSeq)
      }.toSeq, Ks)
    }
    var lastErr = Double.MaxValue
    for (_ <- 0 until iters) {
      val ys = xrs.map(reconstruct(_, cbs))
      val err = xrs.zip(ys).map { case (xr, y) =>
        xr.zip(y).foldLeft(0.0) { case (a, (p, q)) =>
          a + (p - q) * (p - q) }
      }.sum
      require(err <= lastErr * (1 + 1e-9) + 1e-9,
        f"OPQ objective rose: $lastErr%.6f -> $err%.6f")
      lastErr = err
      // A = Σ y_i x_iᵀ, with the reconstructions FIXED
      val a = Array.fill(d, d)(0.0)
      for ((x, y) <- xs.zip(ys); i <- 0 until d; j <- 0 until d)
        a(i)(j) += y(i) * x(j)
      r = procrustes(a)
      xrs = xs.map(rotate)
      // one Lloyd step per subspace (reassign under the new R, then
      // centroid means; ties and empty cells deterministic)
      cbs = (0 until M).map { m =>
        val subs = xrs.map(_.slice(m * SubDim, (m + 1) * SubDim))
        val assign = subs.map { sv =>
          cbs(m).minBy { case (cid, cv) =>
            (cv.zip(sv).foldLeft(0.0) { case (acc, (c, x)) =>
              acc + (x - c) * (x - c) }, cid)
          }._1
        }
        cbs(m).map { case (cid, old) =>
          val members = subs.indices.filter(assign(_) == cid)
          if (members.isEmpty) (cid, old)
          else {
            val mean = new Array[Double](SubDim)
            members.foreach { i =>
              var j = 0
              while (j < SubDim) { mean(j) += subs(i)(j); j += 1 }
            }
            (cid, mean.map(_ / members.size).toSeq)
          }
        }
      }
    }
    r.map(_.toIndexedSeq).toIndexedSeq
  }

  /** Orthogonal Procrustes: the orthogonal R = U·Vᵀ maximizing
    * tr(R·Aᵀ) for A = U·S·Vᵀ, via cyclic-Jacobi on AᵀA. */
  private def procrustes(a: Array[Array[Double]]): Array[Array[Double]] = {
    val d = a.length
    // b = AᵀA (symmetric PSD)
    val b = Array.fill(d, d)(0.0)
    for (i <- 0 until d; j <- 0 until d) {
      var s = 0.0; var k = 0
      while (k < d) { s += a(k)(i) * a(k)(j); k += 1 }
      b(i)(j) = s
    }
    // cyclic Jacobi: v accumulates the eigenvector rotations
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until 30) {
      var off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) off += b(p)(q) * b(p)(q)
      if (off > 1e-18) {
        for (p <- 0 until d; q <- p + 1 until d if math.abs(b(p)(q)) > 1e-15) {
          val theta = 0.5 * math.atan2(2 * b(p)(q), b(q)(q) - b(p)(p))
          val c = math.cos(theta); val s = math.sin(theta)
          var k = 0
          while (k < d) {
            val bkp = b(k)(p); val bkq = b(k)(q)
            b(k)(p) = c * bkp - s * bkq
            b(k)(q) = s * bkp + c * bkq
            k += 1
          }
          k = 0
          while (k < d) {
            val bpk = b(p)(k); val bqk = b(q)(k)
            b(p)(k) = c * bpk - s * bqk
            b(q)(k) = s * bpk + c * bqk
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq
            v(k)(q) = s * vkp + c * vkq
            k += 1
          }
        }
      }
    }
    // left vectors: u_i ∝ A·v_i, built in DESCENDING-σ order with
    // modified Gram–Schmidt against the already-placed columns. For
    // well-separated σ this is a no-op (the A·v_i are orthogonal);
    // for tiny σ it is the numerically safe form — the naive
    // u_i = A·v_i / σ_i divides near-null directions by ~0 and the
    // amplified noise makes U non-orthogonal, which broke the descent
    // guarantee (measured: the objective ROSE 244→272 in one round).
    // Any column too small after projection (the true null space — PQ
    // reconstructions are rank-deficient by construction) defers to a
    // deterministic identity-basis completion; either way every
    // discarded direction contributes ≤ tol·σ_max to the trace, which
    // the caller's relative tolerance absorbs.
    val sigma = Array.tabulate(d)(i => math.sqrt(math.max(0.0, b(i)(i))))
    val sigMax = math.max(sigma.max, 1e-300)
    val u = Array.fill(d, d)(0.0)
    val filled = Array.fill(d)(false)
    def projectOut(w: Array[Double]): Unit =
      for (j <- 0 until d if filled(j)) {
        var dot = 0.0; var k = 0
        while (k < d) { dot += w(k) * u(k)(j); k += 1 }
        k = 0
        while (k < d) { w(k) -= dot * u(k)(j); k += 1 }
      }
    for (i <- (0 until d).sortBy(j => (-sigma(j), j))) {
      val w = new Array[Double](d)
      for (k <- 0 until d) {
        var s = 0.0; var j = 0
        while (j < d) { s += a(k)(j) * v(j)(i); j += 1 }
        w(k) = s
      }
      projectOut(w)
      val n = math.sqrt(w.foldLeft(0.0)((acc, x) => acc + x * x))
      if (n > 1e-10 * sigMax) {
        for (k <- 0 until d) u(k)(i) = w(k) / n
        filled(i) = true
      }
    }
    var cand = 0
    for (i <- 0 until d if !filled(i)) {
      var done = false
      while (!done && cand < d) {
        val w = Array.tabulate(d)(k => if (k == cand) 1.0 else 0.0)
        projectOut(w)
        val n = math.sqrt(w.foldLeft(0.0)((acc, x) => acc + x * x))
        if (n > 1e-8) {
          for (k <- 0 until d) u(k)(i) = w(k) / n
          filled(i) = true
          done = true
        }
        cand += 1
      }
      require(filled(i), "U null-space completion exhausted the basis")
    }
    // R = U·Vᵀ
    Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < d) { s += u(i)(k) * v(j)(k); k += 1 }
      s
    }
  }

  /** OPQ chain under the LEARNED rotation — `sim_opq_learned_topk`
    * (round-12 verdict stretch #7). The rotation trains driver-local
    * on the bounded sample; serving is [[opqChainWith]] verbatim.
    * Registered WITHOUT an oracle (the SVD inside the Procrustes
    * update is not DuckDB-expressible), so the driver records the
    * rows-only check; the substantive claims — per-round monotone
    * descent of the OPQ objective, orthogonality of the learned R,
    * and recall ≥ the seeded-rotation chain — are asserted in
    * ProductQuantSpec. */
  def opqLearnedTopK(spark: SparkSession, dir: String): DataFrame =
    opqChainWith(spark, dir, learnedRotationFor(spark, dir))

  /** The learned rotation for a corpus dir — the bounded min-vec_id
    * training sample + [[learnedRotation]], factored so the gated
    * data-check ([[opqRotationCheck]]) verifies the SAME matrix the
    * serving chain uses. */
  def learnedRotationFor(spark: SparkSession,
      dir: String): Seq[Seq[Double]] = {
    // memoized per source fingerprint: the iterative Procrustes/SVD
    // training is deterministic, and a gate sweep evaluates BOTH
    // sim_opq_learned_topk and sim_opq_rotation_check — without the
    // memo each paid the family's most expensive driver computation
    graft.ops.SessionStore.of("opqRotation", s"$dir/embeddings.parquet") {
      val sample = KMeans.vecs(spark, dir).orderBy(col("vec_id"))
        .limit(OpqSampleN).select(col("v")).collect()
        .map(_.getSeq[Double](0))
      learnedRotation(sample.toSeq)
    }
  }

  /** DRIVER-GATED data-check of the LEARNED OPQ rotation (round-15
    * verdict #6) — the checkable HALF of `sim_opq_learned_topk`'s
    * contract, gated even though the Procrustes SVD itself has no SQL
    * replay: a valid rotation must be ORTHOGONAL (R·Rᵀ = I) and
    * therefore NORM-PRESERVING on every corpus vector (‖Rx‖² = ‖x‖²).
    * Both invariants are stated in integer micro-units with a
    * half-up rounding, so double-precision noise (~1e-12 on O(1)
    * values) reads as exactly 0 and any real defect (a non-orthogonal
    * update, a transposed index) reads as a large integer. The oracle
    * states the SPEC — residuals 0 — plus the data-dependent row
    * count, so the norm check provably ran over the whole corpus:
    *
    *   (property, n, residual_micro)
    *   ("orthogonality", 64, 0)               — driver math on R
    *   ("norm_preservation", count(*), 0)     — corpus-wide max
    */
  def opqRotationCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rot = learnedRotationFor(spark, dir)
    val d = rot.size
    // max |(R·Rᵀ)_{ij} − δ_{ij}| — bounded driver arithmetic (64³)
    var maxOrtho = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var s = 0.0; var k = 0
        while (k < d) { s += rot(i)(k) * rot(j)(k); k += 1 }
        val want = if (i == j) 1.0 else 0.0
        if (math.abs(s - want) > maxOrtho) maxOrtho = math.abs(s - want)
        j += 1
      }
      i += 1
    }
    val orthoMicro = math.floor(maxOrtho * 1e6 + 0.5).toLong
    // corpus-wide max |‖Rx‖² − ‖x‖²| — one map-side-combinable pass
    val rv = graft.functions.MatVec(col("v"), rot)
    def sumSq(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0.0), (acc, x) => acc + x * x)
    val r = KMeans.vecs(spark, dir)
      .select(abs(sumSq(rv) - sumSq(col("v"))).as("dn"))
      .agg(count(lit(1)).as("n"), max(col("dn")).as("mx")).head()
    val normMicro = math.floor(r.getDouble(1) * 1e6 + 0.5).toLong
    Seq(("norm_preservation", r.getLong(0), normMicro),
        ("orthogonality", d.toLong, orthoMicro))
      .toDF("property", "n", "residual_micro")
      .orderBy(col("property"))
  }

  /** Candidate multiplier for the exact re-rank rung: the ADC pass
    * keeps k′ = [[RerankFactor]]·[[TopK]] candidates, the re-rank
    * touches exactly k′ raw vectors. */
  val RerankFactor = 4

  // ---- OPQ serving store (round-16 verdict #5): the build/serve
  // split the residual-ADC family has, for the OPQ rung — the
  // rotation, the rotated-space coarse centroids, the per-subspace
  // residual codebooks, and the pre-encoded codes persisted once,
  // so a serve pays query prep + one pruned codes scan, never the
  // 5-quantizer training pass. ----

  /** Persist the OPQ serving artifact as one committed version:
    * `rotation/`
    * (row-indexed d-vectors), `coarse/` (cid, cv), `codebooks/`
    * (m, cid, cv), and `codes/` (vec_id, label, cell, code0..M−1,
    * cell-partitioned — the ADC scan prunes to the probed cell).
    * Quantizer metadata is KB-sized; codes are the corpus-sized
    * component, repartitioned to one file per cell. */
  def writeOpqStore(spark: SparkSession, dir: String, store: String,
      rot: Seq[Seq[Double]]): Unit = {
    import spark.implicits._
    val (rvecs, coarse, rcbs) = opqTrain(spark, dir, rot)
    val codes = encodeFrameResidual(rvecs, coarse, rcbs)
      .repartition(KMeans.K, col("cell"))
      .localCheckpoint()
    StoreCommit.replace(store) { next =>
      rot.zipWithIndex.map { case (r, i) => (i, r) }.toDF("i", "vals")
        .coalesce(1).write.parquet(s"$next/rotation")
      coarse.toDF("cid", "cv")
        .coalesce(1).write.parquet(s"$next/coarse")
      rcbs.zipWithIndex.flatMap { case (cb, m) =>
        cb.map { case (cid, cv) => (m, cid, cv) } }
        .toDF("m", "cid", "cv")
        .coalesce(1).write.parquet(s"$next/codebooks")
      codes.write.partitionBy("cell").parquet(s"$next/codes")
    }
  }

  /** Read the store's frozen quantizers back (bounded collects:
    * d² + K·d + M·Ks·SubDim doubles ≈ tens of KB), in the exact
    * positional order the driver math indexes by. */
  def readOpqQuantizers(spark: SparkSession, store: String)
      : (Seq[Seq[Double]], Seq[(Int, Seq[Double])],
         Seq[Seq[(Int, Seq[Double])]]) = {
    val rot = StoreCommit.readSub(spark, store, "rotation")
      .orderBy(col("i")).select(col("vals"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val coarse = StoreCommit.readSub(spark, store, "coarse")
      .orderBy(col("cid")).select(col("cid"), col("cv"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    val cbRows = StoreCommit.readSub(spark, store, "codebooks")
      .orderBy(col("m"), col("cid"))
      .select(col("m"), col("cid"), col("cv"))
      .collect()
    val rcbs = (0 until M).map(m => cbRows.filter(_.getInt(0) == m)
      .map(r => (r.getInt(1), r.getSeq[Double](2).toSeq)).toSeq)
    (rot, coarse, rcbs)
  }

  /** Serve the min-vec_id query's OPQ top-k from a persisted store:
    * quantizer read-back + driver query prep + ONE cell-pruned scan
    * of the codes store (M table lookups per row) — no training
    * anywhere. Doubles round-trip parquet exactly and the ADC sum
    * replays [[opqChainWith]]'s expression order, so serve ==
    * rebuild bit for bit (the gated contract). */
  def opqServedTopK(spark: SparkSession, dir: String, store: String): DataFrame = {
    val (rot, coarse, rcbs) = readOpqQuantizers(spark, store)
    val (qid, qCid, dt) = opqQueryPrep(spark, dir, rot, coarse, rcbs)
    val adc = (0 until M).map { m =>
      element_at(array(dt(m).map(lit): _*), col(s"code$m") + lit(1))
    }.reduceLeft(_ + _)
    StoreCommit.readSub(spark, store, "codes")
      .filter(col("cell") === qCid && col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** The OPQ exact re-rank rung (round-16 verdict #5: PQ had one,
    * OPQ didn't — and the eval's margin readings showed exactly what
    * it buys): the served ADC scan keeps k′ = [[RerankFactor]]·
    * [[TopK]] candidates, then ONLY those rows' raw vectors are
    * fetched, ROTATED on the fly (rotation is an isometry, so exact
    * distance in the rotated space IS the exact distance — computed
    * rotated to replay the oracle's rotated-chain arithmetic
    * bit for bit), and ranked by exact L2 to the rotated query.
    * Candidate ids collect (k′ = 40 longs) and push down as an In
    * filter, the [[ivfPqRerankTopK]] point-fetch discipline. */
  def opqRerankServedTopK(spark: SparkSession, dir: String,
      store: String): DataFrame = {
    val (rot, coarse, rcbs) = readOpqQuantizers(spark, store)
    val (qid, qCid, dt) = opqQueryPrep(spark, dir, rot, coarse, rcbs)
    val qv = ScalarQuant.rotateLocal(KMeans.queryRow(spark, dir)._3, rot)
    val adc = (0 until M).map { m =>
      element_at(array(dt(m).map(lit): _*), col(s"code$m") + lit(1))
    }.reduceLeft(_ + _)
    val candIds = StoreCommit.readSub(spark, store, "codes")
      .filter(col("cell") === qCid && col("vec_id") =!= qid)
      .select(col("vec_id"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(RerankFactor * TopK)
      .collect().map(_.getLong(0)).toSeq
    KMeans.vecs(spark, dir)
      .filter(col("vec_id").isin(candIds: _*))
      .select(col("vec_id"), col("label"),
        graft.functions.MatVec(col("v"), rot).as("v"))
      .select(col("vec_id"), col("label"),
        exactDistCol(qv).as("exact_dist"))
      .orderBy(col("exact_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** OPQ store (seeded rotation), memoized per source fingerprint —
    * the gate sweep serves `sim_opq_served_topk`, `sim_opq_rerank`, AND
    * two `rag_eval_quant_forms` rows from it; without the memo each
    * would re-pay the 5-quantizer training build. Scratch-rooted: gate
    * infrastructure, not a production path (production stores are
    * caller-owned named dirs via [[writeOpqStore]]). */
  def opqStoreFor(spark: SparkSession, dir: String): String =
    graft.ops.SessionStore.dir("opqStore", s"$dir/embeddings.parquet") {
      writeOpqStore(spark, dir, _, ScalarQuant.rotationMatrix())
    }

  /** Exact squared-L2 of the row vector `v` to a LITERAL query vector,
    * as one left-to-right 64-term codegen chain — the same IEEE order
    * as [[distTable]] and the oracle's `list_sum(list_transform(...))`. */
  private def exactDistCol(qv: Seq[Double]): Column =
    qv.zipWithIndex.map { case (q, i) =>
      val d = element_at(col("v"), i + 1) - lit(q)
      d * d
    }.reduceLeft(_ + _)

  /** Residual IVF-PQ with an exact re-rank rung (FAISS `refine`): the
    * ADC scan keeps the top k′ = [[RerankFactor]]·[[TopK]] candidates
    * by approximate distance, then ONLY those k′ rows' raw vectors are
    * fetched and ranked by exact L2 to the query. This is the standard
    * final rung of the ANN ladder — it turns "recall ≥ the raw-
    * quantizing form" into "recall ≈ exact at k" while the scan still
    * never reads a float vector (the k′ raw fetches are point lookups,
    * partition-prunable in a real layout; the candidate set is
    * broadcast to the vector side).
    *
    * Cost at scale: the ADC cell scan (unchanged — codes only, one
    * codegen span) + k′ row fetches + a k′-row sort. The re-rank side
    * is constant-size no matter the corpus. */
  def ivfPqRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val coarse = KMeans.train(spark, dir)
    val rcbs = residualCodebooks(spark, dir, coarse)
    val (qid, qCid, dt) = queryPrepResidual(spark, dir, coarse, rcbs)
    val qv = KMeans.queryRow(spark, dir)._3
    // candidate ids COLLECT to the driver (k′ = 40 longs) and return
    // as a pushed-down In filter — a broadcast join would still scan
    // the whole raw-vector table to find 40 rows, while the literal
    // predicate reaches the parquet reader (PushedFilters, asserted in
    // ProductQuantSpec) and prunes row groups on a vec_id-sorted
    // layout: the re-rank leg is k′ point fetches at any corpus size.
    // The ADC leg reads the shared residual-codes store pruned to the
    // query's cell (r18) instead of re-encoding the corpus.
    val candIds = residualCodesStored(spark, dir)
      .filter(col("cell") === qCid && col("vec_id") =!= qid)
      .select(col("vec_id"), adcOverStored(dt).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(RerankFactor * TopK)
      .collect().map(_.getLong(0))
    exactRerankTopK(spark, dir, qv, candIds.toSeq)
  }

  /** Per-query residual prep for a QUERY BLOCK: each of the `nq`
    * min-vec_id queries gets its coarse cell and the ADC distance
    * table built from its residual to THAT cell — the batch analog of
    * [[queryPrepResidual]] (nq × M × [[Ks]] doubles of driver work,
    * independent of corpus size). */
  def batchQueryPrepResidual(spark: SparkSession, dir: String,
      coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]],
      nq: Int = KMeans.BatchQueries): Seq[(Long, Int, Seq[Seq[Double]])] =
    prepResidualRows(
      KMeans.vecs(spark, dir).orderBy(col("vec_id")).limit(nq)
        .select(col("vec_id"), col("v")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1))),
      coarse, rcbs)

  /** [[batchQueryPrepResidual]] for EXPLICIT (qid, qv) rows — the
    * margin-sampled eval batches at 100× prep their Voronoi-boundary
    * queries through this (driver work: |queries| × M × [[Ks]]). */
  def prepResidualRows(qrows: Seq[(Long, Seq[Double])],
      coarse: Seq[(Int, Seq[Double])],
      rcbs: Seq[Seq[(Int, Seq[Double])]]): Seq[(Long, Int, Seq[Seq[Double]])] =
    qrows.map { case (qid, qv) =>
      val qCid = coarse.map { case (cid, cv) =>
        (qv.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
          acc + (x - c) * (x - c) }, cid)
      }.min._2
      val qres = qv.zip(coarse(qCid)._2).map { case (x, c) => x - c }
      (qid, qCid, distTable(qres, rcbs))
    }

  /** Exact-rerank lists for EXPLICIT query rows over a CODED frame:
    * per query, the residual-ADC candidate cut at k′ =
    * [[RerankFactor]]·[[TopK]] (bounded collect — k′ longs), then
    * exact L2 over only those raw rows — (query_id, vec_id, rk ≤ k).
    * The per-query loop is driver orchestration over bounded lists;
    * every corpus-sized read stays a pruned cell scan. */
  def rerankBatchOverCoded(vecs: DataFrame, coded: DataFrame,
      prepped: Seq[(Long, Int, Seq[Seq[Double]])],
      qvOf: Map[Long, Seq[Double]], k: Int): DataFrame =
    prepped.map { case (qid, qCid, dt) =>
      val adc = (0 until M).map { m =>
        element_at(array(dt(m).map(lit): _*), col(s"code$m") + lit(1))
      }.reduceLeft(_ + _)
      val candIds = coded
        .filter(col("cell") === qCid && col("vec_id") =!= qid)
        .select(col("vec_id"), adc.as("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(RerankFactor * TopK)
        .collect().map(_.getLong(0)).toSeq
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("d"), col("vec_id")) // bounded: ≤ k′ rows
      vecs.filter(col("vec_id").isin(candIds: _*))
        .select(lit(qid).as("query_id"), col("vec_id"),
          exactDistCol(qvOf(qid)).as("d"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("vec_id"), col("rk"))
    }.reduce(_ unionByName _)

  /** Seeded-OPQ lists for EXPLICIT query rows: rotate the corpus
    * once, train the rotated coarse + residual codebooks once, then
    * answer the whole query block through the batched ADC fan-out —
    * (query_id, vec_id, rk ≤ k). */
  def opqBatchFor(spark: SparkSession, dir: String,
      rot: Seq[Seq[Double]], qrows: Seq[(Long, Seq[Double])],
      k: Int): DataFrame = {
    val rvecs = KMeans.vecs(spark, dir)
      .select(col("vec_id"), col("label"),
        graft.functions.MatVec(col("v"), rot).as("v"))
    val coarse = KMeans.trainFrame(
      rvecs.select(col("vec_id"), col("v")), KMeans.K)
    val res = rvecs.select(col("vec_id"), residualCol(coarse).as("v"))
    // r17: one grouped Lloyd loop instead of M per-subspace trainings
    // (see [[trainSubspaces]] — bit-identical results)
    val rcbs = trainSubspaces(res, Ks)
    val prepped = prepResidualRows(
      qrows.map { case (qid, qv) =>
        (qid, ScalarQuant.rotateLocal(qv, rot)) }, coarse, rcbs)
    adcBatchTopKOverCoded(encodeFrameResidual(rvecs, coarse, rcbs),
        prepped)
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("rk"))
  }

  /** Batched residual-ADC top-k over an already-ENCODED frame
    * (vec_id, label, cell, code0..M−1) — the composition of
    * [[KMeans.ivfBatchTopKWith]]'s query-block fan-out with the
    * compressed codes layout, and the true production serving shape:
    * on a cell-PARTITIONED codes store the per-row assignment pass
    * that dominates the raw-vector batch path disappears entirely
    * (the cell filter is parquet partition pruning), so a batch costs
    * one pruned scan of probed-cell CODES + |cell|·queries-per-cell
    * table lookups. Per-query distance tables and the per-cell query
    * lists ship as plan literals (nq × M × [[Ks]] doubles — no join);
    * each row fans out only to the queries probing its cell and is
    * scored by ONE CASE over qid, M lookups each; per-query top-k
    * rides the salted two-phase rank so no single task sorts a whole
    * cell. */
  def adcBatchTopKOverCoded(coded: DataFrame,
      prepped: Seq[(Long, Int, Seq[Seq[Double]])]): DataFrame = {
    require(prepped.nonEmpty, "empty query block")
    val byCell = prepped.groupBy(_._2)
    val probed = byCell.keys.toSeq
    // explode_OUTER (InferFiltersFromGenerate — KMeans.ivfBatchTopKWith):
    // null rows drop at the self-pair filter below
    val qArr = byCell.foldLeft(lit(null).cast("array<bigint>")) {
      case (acc, (cell, qs)) =>
        when(col("cell") === cell,
          array(qs.map(q => lit(q._1)).toIndexedSeq: _*)).otherwise(acc)
    }
    def adcFor(dt: Seq[Seq[Double]]): Column =
      (0 until M).map { m =>
        element_at(array(dt(m).map(lit): _*), col(s"code$m") + lit(1))
      }.reduceLeft(_ + _)
    val adc = prepped.tail.foldLeft(
      when(col("qid") === prepped.head._1, adcFor(prepped.head._3))) {
      case (acc, (qid, _, dt)) => acc.when(col("qid") === qid, adcFor(dt))
    }
    val scored = coded
      .filter(col("cell").isin(probed: _*))
      .withColumn("qid", explode_outer(qArr))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid").as("query_id"), col("vec_id"), col("label"),
        adc.as("adc_dist"))
    graft.ops.SkewOps.topKPerGroup(scored, col("query_id"),
      Seq(col("adc_dist"), col("vec_id")), TopK, col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        col("adc_dist"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Oracle-gated live form of the batched residual-ADC top-k: train,
    * encode, answer the [[KMeans.BatchQueries]]-query block in one
    * pass. The steady-state form feeds [[adcBatchTopKOverCoded]] the
    * persisted cell-partitioned codes scan instead (parity-asserted in
    * ProductQuantSpec; the 100× tier times it). */
  def adcBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    val coarse = KMeans.train(spark, dir)
    val rcbs = residualCodebooks(spark, dir, coarse)
    val prepped = batchQueryPrepResidual(spark, dir, coarse, rcbs)
    // r18: the shared residual-codes store IS the "persisted
    // cell-partitioned codes scan" this scaladoc already named as the
    // steady-state form — the probed-cells filter inside
    // adcBatchTopKOverCoded now prunes partitions
    adcBatchTopKOverCoded(residualCodesStored(spark, dir), prepped)
  }

  /** Residual IVF-PQ with nprobe=2 — the multi-probe knob composed
    * with the residual layout. The one subtlety vs the raw multi-probe
    * ([[ivfPqTopKMultiProbe]]): under residual encoding the distance
    * table is PER PROBED CELL, because the query's residual is taken
    * to each cell's centroid — so each probed cell gets its own
    * driver-built table and a row is scored with the table of the cell
    * it lives in (one CASE over the assigned cell, still map-only;
    * per-cell tables are how FAISS implements `nprobe` over `IVF,PQ`).
    * Work still scales with P/K of the codes table; recall is
    * monotonically ≥ both the residual single-probe and the raw
    * two-probe form (ProductQuantSpec). */
  def ivfPqResidualTopKMultiProbe(spark: SparkSession, dir: String,
      probes: Int = 2): DataFrame = {
    val coarse = KMeans.train(spark, dir)
    val rcbs = residualCodebooks(spark, dir, coarse)
    val (qid, _, qv) = KMeans.queryRow(spark, dir)
    val probeCids = coarse.map { case (cid, cv) =>
      (qv.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) }, cid)
    }.sorted.take(probes).map(_._2)
    // per-cell ADC: the query residual (and so the distance table)
    // depends on which cell a row lives in. Codes and cells come
    // from the shared residual-codes store (r18) — the probed-cells
    // filter is partition pruning.
    val adcByCell = probeCids.map { cid =>
      val qres = qv.zip(coarse(cid)._2).map { case (x, c) => x - c }
      cid -> adcOverStored(distTable(qres, rcbs))
    }
    val adc = adcByCell.tail.foldLeft(
      when(col("cell") === adcByCell.head._1, adcByCell.head._2)) {
      case (acc, (cid, d)) => acc.when(col("cell") === cid, d)
    }
    residualCodesStored(spark, dir)
      .filter(col("cell").isin(probeCids: _*) && col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** Multi-probe IVF-PQ top-k: ADC over the P nearest coarse cells
    * instead of one — the recall/latency knob (FAISS `nprobe`)
    * composed with the compressed-codes scan. Work scales with P/K of
    * the codes table (still partition-prunable per probed cell); P
    * fixed at 2 keeps the oracle an `rn <= 2` extension of the
    * single-probe CTE, and recall is monotonically ≥ single-probe
    * (ProductQuantSpec). */
  def ivfPqTopKMultiProbe(spark: SparkSession, dir: String,
      probes: Int = 2): DataFrame = {
    val coarse = KMeans.train(spark, dir)
    val cbs = codebooks(spark, dir)
    val (qid, _, qv) = KMeans.queryRow(spark, dir)
    val probeCids = coarse.map { case (cid, cv) =>
      (qv.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) }, cid)
    }.sorted.take(probes).map(_._2)
    val dt = distTable(qv, cbs)
    // r18: probed-cells partition pruning over the shared codes store
    rawCodesStored(spark, dir)
      .filter(col("cell").isin(probeCids: _*) && col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), adcOverStored(dt).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(TopK)
  }

  // ---- DuckDB replay: M parallel sub-chains over dimension slices ----

  private def lo(m: Int) = m * SubDim + 1
  private def hi(m: Int) = (m + 1) * SubDim

  /** Shared prefix: quantized table q, per-subspace slices q_m, and a
    * train chain per subspace (c2_m = final codebook, af_m = codes). */
  private val pqCtes: String = {
    val subs = (0 until M).map { m =>
      s"q_$m AS (SELECT vec_id, list_slice(v, ${lo(m)}, ${hi(m)}) AS v, " +
        s"list_slice(vi, ${lo(m)}, ${hi(m)}) AS vi FROM q), " +
        KMeans.trainChain(s"q_$m", s"_$m", SubDim, Ks)
    }.mkString(", ")
    s"q AS (${KMeans.qSql}), $subs"
  }

  private val codesJoin =
    (0 until M).map(m => s"JOIN af_$m USING (vec_id)").mkString(" ")

  // qrow carries the query's full vector AND its subspace slices; each
  // row's ADC distance is the per-subspace squared-L2 to its ASSIGNED
  // sub-centroid, summed left-to-right — exactly the lookup-table sum
  // the Spark side does
  private val qrowCte =
    s"qrow AS (SELECT vec_id AS qid, v AS qv, ${(0 until M)
      .map(m => s"list_slice(v, ${lo(m)}, ${hi(m)}) AS qv$m")
      .mkString(", ")} FROM q ORDER BY vec_id LIMIT 1)"

  private val cbJoins =
    (0 until M).map(m => s"JOIN c2_$m g$m ON g$m.cid = af_$m.cid").mkString(" ")

  private val adcSql =
    (0 until M).map(m => s"(${KMeans.distSqlN(s"r.qv$m", s"g$m.cv", SubDim)})")
      .reduceLeft((a, b) => s"($a + $b)")

  // Residual chain: rq = per-vector residual to the assigned coarse
  // centroid (same c2/af coarse CTEs), re-quantized; each subspace
  // trains on rq slices. qres = the query's residual to its probed
  // cell, pre-sliced per subspace.
  private val residCtes: String = {
    val rq = "rq AS (SELECT q.vec_id, " +
      "list_transform(range(1, 65), i -> q.v[i] - c.cv[i]) AS v, " +
      "list_transform(range(1, 65), i -> CAST(floor((q.v[i] - c.cv[i]) * 1048576.0 + 0.5) AS BIGINT)) AS vi " +
      "FROM q JOIN af USING (vec_id) JOIN c2 c ON af.cid = c.cid)"
    val subs = (0 until M).map { m =>
      s"rq_$m AS (SELECT vec_id, list_slice(v, ${lo(m)}, ${hi(m)}) AS v, " +
        s"list_slice(vi, ${lo(m)}, ${hi(m)}) AS vi FROM rq), " +
        KMeans.trainChain(s"rq_$m", s"_r$m", SubDim, Ks)
    }.mkString(", ")
    s"q AS (${KMeans.qSql}), ${KMeans.trainChain("q", "", 64, KMeans.K)}, $rq, $subs"
  }

  private val residQresCte =
    s"""qres AS (SELECT r.qid, ${(0 until M).map(m =>
      s"list_slice(list_transform(range(1, 65), i -> r.qv[i] - c.cv[i]), ${lo(m)}, ${hi(m)}) AS rv$m").mkString(", ")} FROM qrow r JOIN c2 c ON c.cid = (SELECT cid FROM qa))"""

  private val residCodesJoin =
    (0 until M).map(m => s"JOIN af_r$m USING (vec_id)").mkString(" ")
  private val residCbJoins =
    (0 until M).map(m => s"JOIN c2_r$m g$m ON g$m.cid = af_r$m.cid").mkString(" ")
  private val residAdcSql =
    (0 until M).map(m => s"(${KMeans.distSqlN(s"s.rv$m", s"g$m.cv", SubDim)})")
      .reduceLeft((a, b) => s"($a + $b)")

  /** Per-probed-cell query residual slices for the multi-probe
    * residual replay: one row per probed cell, the query's residual to
    * THAT cell's centroid — rows join on their own cell. */
  private val residQresMultiCte =
    s"""qresp AS (SELECT a.cid, ${(0 until M).map(m =>
      s"list_slice(list_transform(range(1, 65), i -> r.qv[i] - c.cv[i]), ${lo(m)}, ${hi(m)}) AS rv$m")
      .mkString(", ")} FROM qrow r CROSS JOIN qa a JOIN c2 c ON c.cid = a.cid)"""

  // OPQ replay: the 64×64 rotation as a VALUES literal (the rrsq8
  // idiom — list_sum folds are bit-equal to MatVec, proven by that
  // green entry), rotated vectors re-quantized into qo, then the
  // residual chain VERBATIM one level down: coarse trainChain over
  // qo, residuals w.r.t. c2o, per-subspace chains with _ro suffixes
  private val opqCtes: String = {
    // E-notation forces DOUBLE literals: a plain decimal literal in a
    // VALUES list parses as DECIMAL(18,17) in DuckDB, silently
    // re-rounding the rotation coefficients — the per-term products
    // then differ from MatVec's by an ulp and the raw-double adc_dist
    // output hash-misses (the rrsq8 entry survives the same literal
    // because its 8-bit code quantization absorbs ulps; this chain's
    // output is an unquantized double)
    def dlit(x: Double): String = {
      val s = x.toString
      if (s.contains("E") || s.contains("e")) s else s + "E0"
    }
    val rotRows = ScalarQuant.rotationMatrix().zipWithIndex.map {
      case (row, i) => s"(${i + 1}, [${row.map(dlit).mkString(", ")}])"
    }.mkString(", ")
    val rvl =
      "rvlo AS (SELECT e.vec_id, e.label, t.dim AS dim, list_sum(list_transform(range(1, 65), j -> t.mrow[j] * CAST(e.embedding[j] AS DOUBLE))) AS rx FROM embeddings e CROSS JOIN roto t)"
    val qo =
      "qo AS (SELECT vec_id, label, list(rx ORDER BY dim) AS v, list(CAST(floor(rx * 1048576.0 + 0.5) AS BIGINT) ORDER BY dim) AS vi FROM rvlo GROUP BY vec_id, label)"
    val rq =
      "rqo AS (SELECT q.vec_id, list_transform(range(1, 65), i -> q.v[i] - c.cv[i]) AS v, list_transform(range(1, 65), i -> CAST(floor((q.v[i] - c.cv[i]) * 1048576.0 + 0.5) AS BIGINT)) AS vi FROM qo q JOIN afo USING (vec_id) JOIN c2o c ON afo.cid = c.cid)"
    val subs = (0 until M).map { m =>
      s"rq_o$m AS (SELECT vec_id, list_slice(v, ${lo(m)}, ${hi(m)}) AS v, " +
        s"list_slice(vi, ${lo(m)}, ${hi(m)}) AS vi FROM rqo), " +
        KMeans.trainChain(s"rq_o$m", s"_ro$m", SubDim, Ks)
    }.mkString(", ")
    s"roto AS (SELECT * FROM (VALUES $rotRows) t(dim, mrow)), $rvl, $qo, ${KMeans.trainChain("qo", "o", 64, KMeans.K)}, $rq, $subs"
  }
  private val opqCodesJoin =
    (0 until M).map(m => s"JOIN af_ro$m USING (vec_id)").mkString(" ")
  private val opqCbJoins =
    (0 until M).map(m => s"JOIN c2_ro$m g$m ON g$m.cid = af_ro$m.cid")
      .mkString(" ")

  private val opqTopkSql =
    s"""WITH $opqCtes, qrow AS (SELECT vec_id AS qid, v AS qv FROM qo ORDER BY vec_id LIMIT 1), qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${KMeans
      .distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrow r CROSS JOIN c2o c) WHERE rn = 1), qres AS (SELECT r.qid, ${(0 until M).map(m =>
      s"list_slice(list_transform(range(1, 65), i -> r.qv[i] - c.cv[i]), ${lo(m)}, ${hi(m)}) AS rv$m").mkString(", ")} FROM qrow r JOIN c2o c ON c.cid = (SELECT cid FROM qa)) SELECT vec_id, label, adc_dist FROM (SELECT q.vec_id, q.label, $residAdcSql AS adc_dist FROM qo q $opqCodesJoin $opqCbJoins JOIN afo USING (vec_id) CROSS JOIN qres s CROSS JOIN qa WHERE afo.cid = qa.cid AND q.vec_id <> s.qid) ORDER BY adc_dist, vec_id LIMIT $TopK"""
      .replace(" AS (SELECT", " AS MATERIALIZED (SELECT")

  val oracle: Map[String, String] = Map(
    // every CTE of the OPQ chain is MATERIALIZED: DuckDB 1.0 INLINES
    // CTEs by default, and this chain's base table `qo` is itself an
    // aggregation over the 64×corpus rotation cross-join — the nested
    // trainChains reference it (transitively, through rqo/afo/c2o)
    // enough times that the inlined plan tree explodes past the
    // memory limit ("bad allocation" at the gate, poisoning every
    // later query on the shared connection). Materialization
    // collapses each CTE to one evaluation (measured: OOM → 1.0 s).
    // The unrotated chains get away with inlining because their base
    // `q` is a cast of the table scan.
    "sim_opq_ivfpq_topk" -> opqTopkSql,
    // serve == rebuild: the persisted-store serve replays the live
    // chain's values bit for bit, so its oracle IS the live SQL
    "sim_opq_served_topk" -> opqTopkSql,
    // OPQ exact re-rank: the ADC candidate list cut at k′ =
    // RerankFactor·TopK, re-ranked by exact L2 in the ROTATED space
    // (rotation is an isometry; the rotated arithmetic is what the
    // Spark side replays) — the sim_ivfpq_rerank pattern one
    // rotation deep
    "sim_opq_rerank" ->
      s"""WITH $opqCtes, qrow AS (SELECT vec_id AS qid, v AS qv FROM qo ORDER BY vec_id LIMIT 1), qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${KMeans
        .distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrow r CROSS JOIN c2o c) WHERE rn = 1), qres AS (SELECT r.qid, ${(0 until M).map(m =>
        s"list_slice(list_transform(range(1, 65), i -> r.qv[i] - c.cv[i]), ${lo(m)}, ${hi(m)}) AS rv$m").mkString(", ")} FROM qrow r JOIN c2o c ON c.cid = (SELECT cid FROM qa)), cand AS (SELECT vec_id, row_number() OVER (ORDER BY adc_dist, vec_id) AS crn FROM (SELECT q.vec_id, $residAdcSql AS adc_dist FROM qo q $opqCodesJoin $opqCbJoins JOIN afo USING (vec_id) CROSS JOIN qres s CROSS JOIN qa WHERE afo.cid = qa.cid AND q.vec_id <> s.qid)) SELECT vec_id, label, exact_dist FROM (SELECT q.vec_id, q.label, ${KMeans
        .distSqlN("r.qv", "q.v", 64)} AS exact_dist FROM qo q JOIN cand c ON q.vec_id = c.vec_id CROSS JOIN qrow r WHERE c.crn <= ${RerankFactor * TopK}) ORDER BY exact_dist, vec_id LIMIT $TopK"""
        .replace(" AS (SELECT", " AS MATERIALIZED (SELECT"),
    "sim_ivfpq_residual_topk" ->
      s"""WITH $residCtes, qrow AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT 1), qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${KMeans
        .distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrow r CROSS JOIN c2 c) WHERE rn = 1), $residQresCte SELECT vec_id, label, adc_dist FROM (SELECT q.vec_id, q.label, $residAdcSql AS adc_dist FROM q $residCodesJoin $residCbJoins JOIN af USING (vec_id) CROSS JOIN qres s CROSS JOIN qa WHERE af.cid = qa.cid AND q.vec_id <> s.qid) ORDER BY adc_dist, vec_id LIMIT $TopK""",
    // re-rank rung: the residual-ADC candidate list (rn over
    // (adc_dist, vec_id)) is cut at k' = RerankFactor·TopK, then those
    // k' rows re-rank by EXACT L2 to the raw query vector — the same
    // exact-distance list_sum the brute-force oracle uses
    "sim_ivfpq_rerank" ->
      s"""WITH $residCtes, qrow AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT 1), qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${KMeans
        .distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrow r CROSS JOIN c2 c) WHERE rn = 1), $residQresCte, cand AS (SELECT vec_id, row_number() OVER (ORDER BY adc_dist, vec_id) AS crn FROM (SELECT q.vec_id, $residAdcSql AS adc_dist FROM q $residCodesJoin $residCbJoins JOIN af USING (vec_id) CROSS JOIN qres s CROSS JOIN qa WHERE af.cid = qa.cid AND q.vec_id <> s.qid)) SELECT vec_id, label, exact_dist FROM (SELECT q.vec_id, q.label, ${KMeans
        .distSqlN("r.qv", "q.v", 64)} AS exact_dist FROM q JOIN cand c ON q.vec_id = c.vec_id CROSS JOIN qrow r WHERE c.crn <= ${RerankFactor * TopK}) ORDER BY exact_dist, vec_id LIMIT $TopK""",
    // residual × multi-probe: qa keeps TWO cells (rn <= 2) and qresp
    // carries a PER-CELL query residual — each row scores against the
    // table of the cell it lives in (af.cid = s.cid), the composition
    // subtlety the Spark side implements as a CASE over the cell
    "sim_ivfpq_residual_topk_p2" ->
      s"""WITH $residCtes, qrow AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT 1), qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${KMeans
        .distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrow r CROSS JOIN c2 c) WHERE rn <= 2), $residQresMultiCte SELECT vec_id, label, adc_dist FROM (SELECT q.vec_id, q.label, $residAdcSql AS adc_dist FROM q $residCodesJoin $residCbJoins JOIN af USING (vec_id) JOIN qresp s ON af.cid = s.cid CROSS JOIN qrow r WHERE q.vec_id <> r.qid) ORDER BY adc_dist, vec_id LIMIT $TopK""",
    // batched residual ADC: qrow LIMITs to the query BLOCK, qa/qres go
    // per-qid (PARTITION BY r.qid), rows meet every query probing
    // their cell (af.cid = s.cid) and rank within their query
    "sim_adc_batch_topk" ->
      s"""WITH $residCtes, qrow AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT ${KMeans.BatchQueries}), qa AS (SELECT qid, cid FROM (SELECT r.qid, c.cid, row_number() OVER (PARTITION BY r.qid ORDER BY ${KMeans
        .distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrow r CROSS JOIN c2 c) WHERE rn = 1), qres AS (SELECT r.qid, a.cid, ${(0 until M).map(m =>
        s"list_slice(list_transform(range(1, 65), i -> r.qv[i] - c.cv[i]), ${lo(m)}, ${hi(m)}) AS rv$m").mkString(", ")} FROM qrow r JOIN qa a USING (qid) JOIN c2 c ON c.cid = a.cid), scored AS (SELECT s.qid AS query_id, q.vec_id, q.label, $residAdcSql AS adc_dist FROM q $residCodesJoin $residCbJoins JOIN af USING (vec_id) JOIN qres s ON af.cid = s.cid WHERE q.vec_id <> s.qid) SELECT query_id, vec_id, label, adc_dist, CAST(rn AS INTEGER) AS rk FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn FROM scored) WHERE rn <= $TopK ORDER BY query_id, rn""",
    "sim_pq_codes" ->
      s"""WITH $pqCtes SELECT q.vec_id, q.label, ${(0 until M)
        .map(m => s"CAST(af_$m.cid AS INTEGER) AS code$m").mkString(", ")} FROM q $codesJoin ORDER BY vec_id""",
    "sim_pq_topk" ->
      s"""WITH $pqCtes, $qrowCte SELECT vec_id, label, adc_dist FROM (SELECT q.vec_id, q.label, $adcSql AS adc_dist FROM q $codesJoin $cbJoins CROSS JOIN qrow r WHERE q.vec_id <> r.qid) ORDER BY adc_dist, vec_id LIMIT $TopK""",
    // composed IVF-PQ: the coarse full-space chain (suffix-less c2/af,
    // shared with sim_kmeans_*) prunes to the query's cell via qa —
    // the same rn=1 CTE sim_kmeans_topk uses — and ADC ranks within it
    "sim_ivfpq_topk" ->
      s"""WITH $pqCtes, ${KMeans.trainChain("q", "", 64, KMeans.K)}, $qrowCte, qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${KMeans
        .distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrow r CROSS JOIN c2 c) WHERE rn = 1) SELECT vec_id, label, adc_dist FROM (SELECT q.vec_id, q.label, $adcSql AS adc_dist FROM q JOIN af USING (vec_id) $codesJoin $cbJoins CROSS JOIN qrow r CROSS JOIN qa WHERE af.cid = qa.cid AND q.vec_id <> r.qid) ORDER BY adc_dist, vec_id LIMIT $TopK""",
    // multi-probe: qa keeps the TWO nearest coarse cells (rn <= 2) and
    // the probe filter becomes an IN — the same extension
    // sim_kmeans_topk_p2 applies to the uncompressed IVF
    "sim_ivfpq_topk_p2" ->
      s"""WITH $pqCtes, ${KMeans.trainChain("q", "", 64, KMeans.K)}, $qrowCte, qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${KMeans
        .distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrow r CROSS JOIN c2 c) WHERE rn <= 2) SELECT vec_id, label, adc_dist FROM (SELECT q.vec_id, q.label, $adcSql AS adc_dist FROM q JOIN af USING (vec_id) $codesJoin $cbJoins CROSS JOIN qrow r WHERE af.cid IN (SELECT cid FROM qa) AND q.vec_id <> r.qid) ORDER BY adc_dist, vec_id LIMIT $TopK""",
    // the rotation-check SPEC: residuals exactly 0 in micro-units
    // (orthogonality and norm preservation are theorems of a valid
    // rotation — the gate proves the LEARNED R satisfies them), with
    // the data-dependent corpus count proving the norm check's scan
    // really covered every vector
    "sim_opq_rotation_check" ->
      """SELECT 'norm_preservation' AS property, (SELECT COUNT(*) FROM embeddings) AS n, CAST(0 AS BIGINT) AS residual_micro UNION ALL SELECT 'orthogonality', 64, CAST(0 AS BIGINT) ORDER BY property"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_pq_codes" -> pqCodes _,
    "sim_pq_topk" -> pqTopK _,
    "sim_ivfpq_topk" -> ivfPqTopK _,
    "sim_ivfpq_residual_topk" -> ivfPqResidualTopK _,
    "sim_opq_ivfpq_topk" -> opqIvfPqTopK _,
    "sim_opq_served_topk" -> ((s: SparkSession, dir: String) =>
      opqServedTopK(s, dir, opqStoreFor(s, dir))),
    "sim_opq_rerank" -> ((s: SparkSession, dir: String) =>
      opqRerankServedTopK(s, dir, opqStoreFor(s, dir))),
    // no oracle entry for the top-k itself: the Procrustes SVD is not
    // DuckDB-expressible — the driver records the rows-only check and
    // descent/recall are spec-asserted (ProductQuantSpec); the
    // rotation's CHECKABLE invariants are gated right below
    "sim_opq_learned_topk" -> opqLearnedTopK _,
    "sim_opq_rotation_check" -> opqRotationCheck _,
    "sim_ivfpq_rerank" -> ivfPqRerankTopK _,
    "sim_adc_batch_topk" -> adcBatchTopK _,
    "sim_ivfpq_topk_p2" ->
      ((s: SparkSession, dir: String) => ivfPqTopKMultiProbe(s, dir)),
    "sim_ivfpq_residual_topk_p2" ->
      ((s: SparkSession, dir: String) => ivfPqResidualTopKMultiProbe(s, dir))
  )
}
