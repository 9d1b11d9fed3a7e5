package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic fixed-round Lloyd's k-means over the embeddings
  * table — the centroid training the IVF probe path promises
  * ([[Similarity.ivfTopK]] consumes the pre-supplied coarse `label`;
  * this trains the coarse quantizer itself).
  *
  * The algorithm is defined for engine-independent exactness, so the
  * whole training loop is oracle-checkable (the same discipline as
  * the md5-keyed MinHash):
  *
  *  - init: the K min-vec_id vectors, centroid id = rank in vec_id
  *    order (no RNG);
  *  - assignment: argmin of squared L2 distance, computed as an
  *    explicit left-to-right fold over the 64 dims (identical IEEE
  *    result in any engine), ties to the lower centroid id;
  *  - update ("quantized-mean" Lloyd): member vectors are quantized
  *    once to integers (`floor(x·2^20 + 0.5)`), per-dim sums are
  *    EXACT integer arithmetic — order-independent across partitions
  *    and engines — and the new centroid component is
  *    `(sum / count) / 2^20` in double. A float mean would depend on
  *    partial-aggregation order; the integer sum cannot.
  *  - a FIXED round count (no data-dependent convergence test), so
  *    DuckDB replays the loop as a finite CTE chain.
  *
  * Scale shape: per round one map-only assignment (centroids are
  * literals — K·d doubles) + one partial/final aggregation down to
  * K·d scalar rows on the driver. That is exactly MLlib KMeans'
  * treeAggregate pattern; corpus size never lands on the driver.
  */
object KMeans {

  val K = 10
  val Rounds = 2
  private val Q = 1048576.0 // 2^20 quantization step

  private[graft] def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  /** The min-vec_id row that every single-query top-k entry searches
    * for: its id, label (of the table's label type) and vector
    * (widened to double, exact). Pulled once per embeddings version,
    * so building such a query starts no job once the row is known. */
  private[graft] def queryRow(spark: SparkSession,
      dir: String): (Long, Any, Seq[Double]) =
    graft.ops.SessionStore.of("queryRow", s"$dir/embeddings.parquet") {
      val r = vecs(spark, dir).orderBy(col("vec_id")).limit(1).head()
      (r.getLong(0), r.get(1), r.getSeq[Double](2).toVector)
    }

  /** argmin centroid id under the given centroids — map-only, one
    * codegen'd [[graft.functions.NearestCentroid]] loop per row (see
    * that scaladoc for why the composable forms fail at 20M rows:
    * interpreted HOFs ~3.7 ms/row; full unrolling OOMs janino).
    * Left-to-right IEEE fold per centroid, ties to the lower cid —
    * exactly the oracle's `ORDER BY dist, cid / rn = 1`. Requires
    * cids to be their positions, which [[trainOn]] guarantees. */
  private[graft] def assignOn(v: Column,
      cents: Seq[(Int, Seq[Double])]): Column = {
    require(cents.map(_._1) == cents.indices,
      s"centroid ids must be 0..${cents.size - 1} in order")
    graft.functions.NearestCentroid(v, cents.map(_._2))
  }

  private def assignCol(cents: Seq[(Int, Seq[Double])]): Column =
    assignOn(col("v"), cents)

  /** Train centroids: [[Rounds]] assignment/update iterations from the
    * min-vec_id init. Returns (cid, centroid) sorted by cid. */
  def train(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    trainOn(spark, dir, 1, 64, K)

  /** [[train]] generalized to a dimension slice [lo, lo+len) and a
    * centroid count k — the sub-quantizer trainer
    * [[ProductQuant]] runs per subspace. Identical discipline:
    * min-vec_id init, argmin assignment with low-cid ties,
    * quantized-integer mean update, fixed rounds.
    *
    * Memoized per (source fingerprint, slice, k) within the session
    * ([[graft.ops.SessionStore]]): the training is a deterministic pure
    * function of the embeddings file, and a registry sweep re-runs
    * the same frozen quantizer for every query in the family —
    * "train once, serve everything" is the contract the scaladocs
    * already promise. */
  private[ext] def trainOn(spark: SparkSession, dir: String,
      lo: Int, len: Int, k: Int): Seq[(Int, Seq[Double])] =
    graft.ops.SessionStore.of(s"kmeans|$lo|$len|$k",
        s"$dir/embeddings.parquet") {
      trainFrame(vecs(spark, dir)
        .select(col("vec_id"), slice(col("v"), lo, len).as("v")), k)
    }

  /** [[trainOn]] over an arbitrary (vec_id, v) frame — the entry point
    * residual PQ uses to train sub-quantizers on residual slices
    * instead of raw dimension slices. Same deterministic discipline. */
  private[graft] def trainFrame(e: DataFrame, k: Int): Seq[(Int, Seq[Double])] = {
    var cents: Seq[(Int, Seq[Double])] =
      e.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id"), col("v")).collect()
        .sortBy(_.getLong(0)).zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1).toSeq) }.toSeq
    val q = e.select(col("v"),
      transform(col("v"), x => floor(x * lit(Q) + lit(0.5)).cast("long"))
        .as("vi"))
    (1 to Rounds).foreach { _ =>
      val sums = q.select(assignCol(cents).as("cid"),
          posexplode(col("vi")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      val updated = sums.groupBy(_.getInt(0)).map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1))
          .map(r => r.getLong(2).toDouble / r.getLong(3).toDouble / Q).toSeq
      }
      // a centroid that loses every member keeps its previous position
      // (deterministic — no reseed RNG), so the quantizer always has
      // exactly K cells with stable ids; the oracle CTE mirrors this
      // with a COALESCE against the previous round's centroids
      cents = cents.map { case (cid, old) =>
        (cid, updated.getOrElse(cid, old))
      }
      assert(cents.size == k, s"centroid set shrank to ${cents.size}")
    }
    cents
  }

  /** Independent per-group [[trainFrame]]s fused into ONE distributed
    * pass per round (r17, guide §1.2 step 1): trains `groups`
    * independent k-means — one per value of `grp` in [0, groups) —
    * over a (grp, vec_id, v) frame. Arithmetic is IDENTICAL to
    * calling trainFrame once per group (parity asserted in
    * OptimizationR17Spec): the init is each group's k min-vec_id
    * members with ids = vec_id rank (the salted two-phase rank, so
    * the stage-2 sort is bounded — no corpus-sized window); the
    * assignment is the same [[graft.functions.NearestCentroid]] fold
    * under the row's OWN group's current centroids (a CASE over grp
    * picks the branch — codegen evaluates only the matched arm, the
    * [[Dedup.semanticDedupScaled]] fine-assign construct); and the
    * update sums the same `floor(x·2^20 + 0.5)` integers per
    * (grp, cid, dim) — integer sums are order-independent, so fusing
    * the groups into one aggregation cannot change any value. Empty
    * cells keep their previous centroid, exactly like trainFrame.
    * Replaces groups × (1 init + [[Rounds]]) corpus-scan jobs with
    * (1 + Rounds) — the first-payer cost of the per-cell
    * sub-quantizer memos. Fails loudly when a group has fewer than k
    * members (trainFrame's own loudness contract). */
  private[graft] def trainFramesGrouped(e: DataFrame, groups: Int,
      k: Int): IndexedSeq[Seq[(Int, Seq[Double])]] = {
    // the per-round assignment is a linear CASE chain over `groups`
    // NearestCentroid folds; NearestCentroid's scaladoc documents
    // janino failures on large generated expressions, so fail loudly
    // here instead of deep inside codegen (r17 ADVICE). Current
    // callers pass K=10 cells or M=4 subspaces.
    require(groups <= 64,
      s"trainFramesGrouped: $groups groups would generate a CASE " +
        "chain past the janino-safe bound (64); batch the groups or " +
        "fall back to per-group trainFrame")
    val initRows = graft.ops.SkewOps.topKPerGroup(
        e.select(col("grp"), col("vec_id"), col("v")),
        col("grp"), Seq(col("vec_id").asc), k, spreadBy = col("vec_id"))
      .select(col("grp"), col("vec_id"), col("v"))
      .collect() // bounded: ≤ groups · k rows
    var cents: IndexedSeq[Seq[(Int, Seq[Double])]] =
      (0 until groups).map { g =>
        val rows = initRows.filter(_.getInt(0) == g).sortBy(_.getLong(1))
        require(rows.length >= k,
          s"trainFramesGrouped: group $g has ${rows.length} members < $k")
        rows.take(k).toIndexedSeq.zipWithIndex.map { case (r, i) =>
          (i, r.getSeq[Double](2).toSeq)
        }
      }
    val q = e.select(col("grp"), col("v"),
      transform(col("v"), x => floor(x * lit(Q) + lit(0.5)).cast("long"))
        .as("vi"))
    (1 to Rounds).foreach { _ =>
      val assignG = (0 until groups).foldLeft(lit(-1)) { (acc, g) =>
        when(col("grp") === g, assignOn(col("v"), cents(g)))
          .otherwise(acc)
      }
      val sums = q.select(col("grp"), assignG.as("cid"),
          posexplode(col("vi")).as(Seq("dim", "x")))
        .groupBy(col("grp"), col("cid"), col("dim"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        .collect() // bounded: ≤ groups · k · dims rows
      cents = (0 until groups).map { g =>
        val upd = sums.filter(_.getInt(0) == g).groupBy(_.getInt(1))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(2))
              .map(r => r.getLong(3).toDouble / r.getLong(4).toDouble / Q)
              .toSeq
          }
        cents(g).map { case (cid, old) =>
          (cid, upd.getOrElse(cid, old))
        }
      }
      cents.foreach(c => assert(c.size == k,
        s"centroid set shrank to ${c.size}"))
    }
    cents
  }

  /** [[trainFrame]] run entirely on the DRIVER over an
    * already-collected member sample — the sampled-sub-quantizer
    * trainer ([[Dedup.semanticDedupArtifact]]) uses after ONE bounded
    * collect instead of per-cell corpus re-scans (FAISS practice:
    * coarse/fine quantizers train on samples, never the corpus).
    * Arithmetic is OPERATION-IDENTICAL to [[trainFrame]] and the
    * DuckDB [[trainChain]] replay: min-vec_id init with ids =
    * positions, argmin assignment as the left-to-right IEEE fold with
    * strict-< ties to the lower cid (the [[graft.functions.NearestCentroid]]
    * loop), quantized-integer mean update (`floor(x·2^20 + 0.5)` sums
    * — order-independent), empty cells keep their previous centroid,
    * [[Rounds]] fixed rounds. Parity with trainFrame is asserted in
    * DedupSpec. */
  private[graft] def trainLocal(members: Seq[(Long, Seq[Double])],
      k: Int): Seq[(Int, Seq[Double])] = {
    require(members.size >= k,
      s"trainLocal: ${members.size} members < $k centroids")
    val sorted = members.sortBy(_._1)
    val vs = sorted.map(_._2.toArray).toArray
    val vi = vs.map(_.map(x => math.floor(x * Q + 0.5).toLong))
    val d = vs(0).length
    var cents: Array[Array[Double]] = vs.take(k).map(_.clone())
    (1 to Rounds).foreach { _ =>
      val sums = Array.ofDim[Long](k, d)
      val counts = new Array[Long](k)
      var r = 0
      while (r < vs.length) {
        val v = vs(r)
        var best = 0
        var bestDist = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          val cv = cents(c)
          var acc = 0.0
          var i = 0
          while (i < d) { val t = v(i) - cv(i); acc += t * t; i += 1 }
          if (acc < bestDist) { bestDist = acc; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += vi(r)(i); i += 1 }
        r += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its centroid
        else Array.tabulate(d)(i =>
          sums(c)(i).toDouble / counts(c).toDouble / Q)
      }
    }
    cents.toIndexedSeq.zipWithIndex.map { case (cv, i) =>
      (i, cv.toIndexedSeq)
    }
  }

  /** Final cluster assignment under the trained centroids, next to the
    * stored coarse label for comparison. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val cents = train(spark, dir)
    vecs(spark, dir)
      .select(col("vec_id"), col("label"), assignCol(cents).as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** IVF top-5 with TRAINED centroids (the variant
    * [[Similarity.ivfTopK]]'s scaladoc promises): assign the corpus to
    * trained centroids, assign the query on the driver with the same
    * fold, probe only the query's cell. */
  def ivfTrainedTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTrainedTopKDepth(spark, dir, 5)

  /** [[ivfTrainedTopK]] at caller-chosen list depth (the RRF fusion
    * reads a deeper candidate list than the top-5 serving form). */
  def ivfTrainedTopKDepth(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val cents = train(spark, dir)
    val e = vecs(spark, dir)
    val (qid, _, qv) = queryRow(spark, dir)
    val qCid = cents.map { case (cid, cv) =>
      (qv.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) }, cid)
    }.min._2
    val qLit = array(qv.map(lit): _*)
    e.select(col("vec_id"), col("label"), col("v"),
        assignCol(cents).as("cluster"))
      .filter(col("cluster") === qCid && col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"),
        graft.functions.CosineSimilarity(col("v"), qLit).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Multi-probe IVF top-5: probe the P nearest centroids to the
    * query instead of one, the standard recall/latency knob (FAISS
    * `nprobe`). Work scales with the probed fraction P/K of the
    * corpus — still a partition-pruned scan, never the full table —
    * and recall is monotonically ≥ single-probe (asserted in
    * SimilaritySpec). P fixed at 2 keeps the oracle replayable as a
    * `rn <= 2` extension of the single-probe CTE. */
  def ivfTrainedTopKMultiProbe(spark: SparkSession, dir: String,
      probes: Int = 2): DataFrame = {
    val cents = train(spark, dir)
    val e = vecs(spark, dir)
    val (qid, _, qv) = queryRow(spark, dir)
    val probeCids = cents.map { case (cid, cv) =>
      (qv.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) }, cid)
    }.sorted.take(probes).map(_._2)
    val qLit = array(qv.map(lit): _*)
    e.select(col("vec_id"), col("label"), col("v"),
        assignCol(cents).as("cluster"))
      .filter(col("cluster").isin(probeCids: _*) && col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"),
        graft.functions.CosineSimilarity(col("v"), qLit).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  /** Batch size for [[ivfBatchTopK]] — small enough that the query
    * block ships as plan literals, large enough to exercise multiple
    * probe cells. Declared before the oracle map (object init order —
    * see TextOps.VocabK). */
  val BatchQueries = 4

  /** Batched IVF top-5: the [[BatchQueries]] min-vec_id vectors as a
    * QUERY BLOCK answered in ONE corpus pass — the serving shape that
    * matters in production, where queries arrive in batches and a
    * scan per query would multiply cost by the batch size. Each query
    * probes its assigned cell; the per-cell query lists ship as plan
    * literals (queries × 64 doubles — no join, no shuffle to meet
    * them), each scanned row fans out only to the queries probing its
    * cell, and per-query top-k rides the salted two-phase rank
    * ([[graft.ops.SkewOps.topKPerGroup]]) so no single task sorts a
    * whole cell. Work = probed-cells scan + |cell|·queries-per-cell
    * cosines — batch size multiplies only the fan-out leg, never the
    * scan. */
  def ivfBatchTopK(spark: SparkSession, dir: String): DataFrame =
    ivfBatchTopKWith(spark, dir, train(spark, dir))

  /** [[ivfBatchTopK]] under pre-trained centroids — the production
    * split (train once on a sample, serve batches against the full
    * corpus) and what the 100× tier times. */
  def ivfBatchTopKWith(spark: SparkSession, dir: String,
      cents: Seq[(Int, Seq[Double])],
      nq: Int = BatchQueries, k: Int = 5): DataFrame =
    ivfBatchTopKOn(spark, dir, cents, batchQueryRows(spark, dir, nq), k)

  /** [[ivfBatchTopKWith]] under a CALLER-CHOSEN query block — the
    * eval harness ([[RetrievalEval]]) probes mid-corpus queries whose
    * true neighbors cross cell boundaries, which the min-vec_id
    * block cannot express. */
  def ivfBatchTopKOn(spark: SparkSession, dir: String,
      cents: Seq[(Int, Seq[Double])],
      qrows: Seq[(Long, Seq[Double])], k: Int = 5,
      probes: Int = 1): DataFrame =
    ivfBatchScore(
      vecs(spark, dir).select(col("vec_id"), col("label"), col("v"),
        assignCol(cents).as("cluster")),
      cents, qrows, k, probes)

  /** The query block: the `nq` min-vec_id vectors, collected (nq × 64
    * doubles — driver-bounded prep, the serving contract where query
    * batches arrive from outside the corpus anyway). */
  def batchQueryRows(spark: SparkSession, dir: String,
      nq: Int = BatchQueries): Seq[(Long, Seq[Double])] =
    vecs(spark, dir).orderBy(col("vec_id")).limit(nq)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  /** The batched-IVF scoring core over a PRE-ASSIGNED (vec_id, label,
    * v, cluster) frame — shared by the live form (assignment computed
    * in the scan) and the steady-state form over the cell-partitioned
    * store ([[ivfBatchTopKFromCells]]), where `cluster` is the
    * PARTITION column and the probed-cells filter becomes partition
    * PRUNING: the corpus-wide raw-vector assignment leg (the dominant
    * cost of the live 20M row — every row pays the K·d argmin loop
    * just to be discarded by the probe filter) disappears entirely;
    * the scan reads probed-cells bytes only. */
  private def ivfBatchScore(cells: DataFrame,
      cents: Seq[(Int, Seq[Double])],
      qrows: Seq[(Long, Seq[Double])], k: Int = 5,
      probes: Int = 1): DataFrame = {
    // a query probes its `probes` nearest cells under the same
    // (distance, cid) order as assignment; a scanned row belongs to
    // exactly ONE cell partition, so multi-probe never duplicates a
    // (query, row) pair — the fan-out leg just widens
    def cellsOf(qv: Seq[Double]): Seq[Int] = cents.map { case (cid, cv) =>
      (qv.zip(cv).foldLeft(0.0) { case (acc, (x, c)) =>
        acc + (x - c) * (x - c) }, cid)
    }.sorted.take(probes).map(_._2)
    val byCell = qrows
      .flatMap { case (qid, qv) => cellsOf(qv).map(c => (c, qid, qv)) }
      .groupBy(_._1)
    val probed = byCell.keys.toSeq
    val qArr = byCell.foldLeft(
      lit(null).cast("array<struct<qid:bigint,qv:array<double>>>")) {
      case (acc, (cell, qs)) =>
        when(col("cluster") === cell,
          array(qs.map { case (_, qid, qv) =>
            struct(lit(qid).as("qid"),
              array(qv.map(lit): _*).as("qv")) }.toIndexedSeq: _*))
          .otherwise(acc)
    }
    // explode_OUTER (InferFiltersFromGenerate — Dedup.sharedPairJaccard):
    // the inferred size(qArr) > 0 filter would re-evaluate the
    // CASE-over-NearestCentroid chain per row as an interpreted
    // Filter; outer-form nulls drop at the qid filter below
    val scored = cells
      .filter(col("cluster").isin(probed: _*))
      .withColumn("q", explode_outer(qArr))
      .filter(col("q.qid") =!= col("vec_id"))
      .select(col("q.qid").as("query_id"), col("vec_id"), col("label"),
        graft.functions.CosineSimilarity(col("v"), col("q.qv"))
          .as("cosine"))
    graft.ops.SkewOps.topKPerGroup(scored, col("query_id"),
      Seq(col("cosine").desc, col("vec_id")), k, col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine"),
        col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Write the corpus as the cell-partitioned VECTOR store — assign
    * once, `partitionBy(cluster)`: the uncompressed-IVF analog of the
    * residual codes store the streaming ingest maintains. Build-once;
    * every later batch answer reads only its probed partitions.
    *
    * Carries `cluster2`, the per-row RUNNER-UP cell (round-13 verdict
    * #2 — the [[graft.functions.NearestCentroid]] rank-1 order
    * statistic under the SAME (distance, cid) order), as a plain data
    * column: the multi-probe graph ([[ClusterOps.knnGraphP2On]])
    * reads its probe list straight from the store instead of
    * re-paying a corpus assignment pass. Best + runner-up come from
    * one build-time pass; single-probe readers select their columns
    * by name and are unaffected. */
  def writeCellVectors(spark: SparkSession, dir: String, out: String,
      cents: Seq[(Int, Seq[Double])]): Unit =
    vecs(spark, dir)
      .select(col("vec_id"), col("label"), col("v"),
        assignCol(cents).as("cluster"),
        graft.functions.NearestCentroid
          .second(col("v"), cents.map(_._2)).as("cluster2"))
      .write.mode("overwrite").partitionBy("cluster").parquet(out)

  /** Steady-state batched IVF over the cell-partitioned store
    * ([[writeCellVectors]] output): identical answers to
    * [[ivfBatchTopKWith]] under the same centroids (parity asserted
    * in KMeansSpec), but the probe filter is partition pruning — no
    * corpus-wide assignment leg, scan cost = probed cells only. */
  def ivfBatchTopKFromCells(spark: SparkSession, cellsDir: String,
      cents: Seq[(Int, Seq[Double])],
      qrows: Seq[(Long, Seq[Double])], k: Int = 5): DataFrame =
    ivfBatchScore(
      spark.read.parquet(cellsDir)
        .select(col("vec_id"), col("label"), col("v"),
          col("cluster").cast("int").as("cluster")),
      cents, qrows, k)

  /** DRIVER-GATED serve path for batched IVF (round-12 verdict task
    * #3's fourth entry): build the cell-partitioned vector store into
    * a scratch dir, answer the query batch from it via
    * [[ivfBatchTopKFromCells]] — partition-pruned probes, zero
    * assignment leg in the serve plan (KMeansSpec asserts it); the
    * oracle is the live batch form's replay verbatim
    * (serve == rebuild). */
  def ivfBatchTopKServed(spark: SparkSession, dir: String): DataFrame = {
    val cents = train(spark, dir)
    val cellsDir = graft.ops.Scratch.dir("graft_ivf_served") + "/cells"
    writeCellVectors(spark, dir, cellsDir, cents)
    ivfBatchTopKFromCells(spark, cellsDir, cents,
      batchQueryRows(spark, dir))
  }

  // ---- DuckDB replay of the training loop as a CTE chain ----

  private[ext] val qSql =
    "SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, " +
      "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS vi FROM embeddings"

  private[ext] def distSqlN(v: String, cv: String, dims: Int): String =
    s"list_sum(list_transform(range(1, ${dims + 1}), i -> ($v[i] - $cv[i]) * ($v[i] - $cv[i])))"

  private def distSql(v: String, cv: String): String = distSqlN(v, cv, 64)

  /** The [[trainOn]] loop as a CTE chain over quantized table `qt`
    * (cols vec_id, v, vi): init `c0\$sfx` (k min-vec_id vectors), two
    * assign/update rounds, final centroids `c2\$sfx` and final
    * assignment `af\$sfx`. Empty clusters keep the previous round's
    * centroid (COALESCE over a left join) — mirrors train(). */
  private[ext] def trainChain(qt: String, sfx: String, dims: Int, k: Int): String = {
    val c0 =
      s"SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS cv FROM $qt ORDER BY vec_id LIMIT $k"
    def assign(cents: String): String =
      s"SELECT vec_id, cid FROM (SELECT t.vec_id, c.cid, row_number() OVER (PARTITION BY t.vec_id ORDER BY ${distSqlN("t.v", "c.cv", dims)}, c.cid) AS rn FROM $qt t CROSS JOIN $cents c) WHERE rn = 1"
    def update(assigned: String, prev: String): String =
      s"SELECT p.cid, COALESCE(u.cv, p.cv) AS cv FROM $prev p LEFT JOIN (SELECT cid, list(comp ORDER BY dim) AS cv FROM (SELECT a.cid, t.dim, CAST(SUM(qq.vi[t.dim]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1048576.0 AS comp FROM $assigned a JOIN $qt qq USING (vec_id) CROSS JOIN range(1, ${dims + 1}) t(dim) GROUP BY a.cid, t.dim) GROUP BY cid) u ON p.cid = u.cid"
    s"c0$sfx AS ($c0), a1$sfx AS (${assign(s"c0$sfx")}), c1$sfx AS (${update(s"a1$sfx", s"c0$sfx")}), a2$sfx AS (${assign(s"c1$sfx")}), c2$sfx AS (${update(s"a2$sfx", s"c1$sfx")}), af$sfx AS (${assign(s"c2$sfx")})"
  }

  private[ext] val trainCtes = s"q AS ($qSql), ${trainChain("q", "", 64, K)}"

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i]))"
  private[ext] def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)})"

  val oracle: Map[String, String] = Map(
    "sim_kmeans_assign" ->
      s"""WITH $trainCtes SELECT af.vec_id, q.label, CAST(af.cid AS INTEGER) AS cluster FROM af JOIN q USING (vec_id) ORDER BY vec_id""",
    "sim_kmeans_topk" ->
      s"""WITH $trainCtes, qrow AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT 1), qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${distSql("qrow.qv", "c.cv")}, c.cid) AS rn FROM qrow CROSS JOIN c2 c) WHERE rn = 1) SELECT vec_id, label, cosine FROM (SELECT af.vec_id, q.label, ${cosSql("q.v", "r.qv")} AS cosine FROM af JOIN q USING (vec_id) CROSS JOIN qrow r CROSS JOIN qa WHERE af.cid = qa.cid AND af.vec_id <> r.qid) ORDER BY cosine DESC, vec_id LIMIT 5""",
    // multi-probe: the qa CTE keeps the TWO nearest centroids (rn <= 2)
    // and the probe filter becomes an IN over them
    "sim_kmeans_topk_p2" ->
      s"""WITH $trainCtes, qrow AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT 1), qa AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY ${distSql("qrow.qv", "c.cv")}, c.cid) AS rn FROM qrow CROSS JOIN c2 c) WHERE rn <= 2) SELECT vec_id, label, cosine FROM (SELECT af.vec_id, q.label, ${cosSql("q.v", "r.qv")} AS cosine FROM af JOIN q USING (vec_id) CROSS JOIN qrow r WHERE af.cid IN (SELECT cid FROM qa) AND af.vec_id <> r.qid) ORDER BY cosine DESC, vec_id LIMIT 5""",
    // batch form: the qa CTE assigns a cell PER query (partition by
    // qid), candidates join on cell, per-query rank replaces LIMIT
    "sim_ivf_batch_topk" ->
      s"""WITH $trainCtes, qrows AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT $BatchQueries), qa AS (SELECT qid, qv, cid FROM (SELECT r.qid, r.qv, c.cid, row_number() OVER (PARTITION BY r.qid ORDER BY ${distSql("r.qv", "c.cv")}, c.cid) AS rn FROM qrows r CROSS JOIN c2 c) WHERE rn = 1), scored AS (SELECT qa.qid AS query_id, af.vec_id, q.label, ${cosSql("q.v", "qa.qv")} AS cosine FROM af JOIN q USING (vec_id) JOIN qa ON af.cid = qa.cid AND af.vec_id <> qa.qid) SELECT query_id, vec_id, label, cosine, CAST(rn AS INTEGER) AS rk FROM (SELECT query_id, vec_id, label, cosine, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn FROM scored) WHERE rn <= 5 ORDER BY query_id, rn"""
  )

  // the artifact-READ serve form must equal the live batch answer, so
  // its oracle IS the live replay verbatim (serve == rebuild)
  val servedOracle: Map[String, String] = Map(
    "sim_ivf_batch_topk_served" -> oracle("sim_ivf_batch_topk"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_kmeans_assign" -> kmeansAssign _,
    "sim_kmeans_topk" -> ivfTrainedTopK _,
    "sim_kmeans_topk_p2" ->
      ((s: SparkSession, dir: String) => ivfTrainedTopKMultiProbe(s, dir)),
    "sim_ivf_batch_topk" -> ivfBatchTopK _,
    "sim_ivf_batch_topk_served" -> ivfBatchTopKServed _
  )
}
