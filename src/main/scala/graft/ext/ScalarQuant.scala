package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) over the embeddings table — the
  * memory-compression rung BELOW product quantization on the ANN
  * ladder (brute → LSH → IVF → PQ → SQ8): each float dimension
  * compresses independently to an 8-bit code against per-dimension
  * corpus [min, max] bounds (the formulation FAISS ships as
  * `ScalarQuantizer(QT_8bit)`). Extension — the reference has no
  * similarity-search surface; this tier exists for the
  * training-data-pipeline mandate.
  *
  * Compared to PQ ([[ProductQuant]]): SQ8 needs NO codebook training
  * (the "codebook" is 64 (min, max) pairs from one aggregation pass),
  * decode is a multiply-add instead of a table lookup, and the
  * compression ratio is fixed at 4× from float32 (PQ reaches 32–64×).
  * It is the standard first stop when recall must stay near-exact and
  * training a codebook per corpus refresh is operationally unwanted.
  *
  *  - '''stats''' ([[dimStats]]): per-dimension (min, max). Shape:
  *    one 128-expression global aggregate — the shuffle carries one
  *    128-column partial row per task (order-independent min/max, so
  *    no fixed-point quantization is needed for hash-exactness,
  *    unlike the mean in `sim_group_centroids`).
  *  - '''encode''' ([[codes]]): map-only — the 64 (min, span) pairs
  *    ride as literal arrays in one projection; no join, no shuffle.
  *  - '''search''' ([[topK]]): SYMMETRIC distance in pure integer
  *    space — the query quantizes through the same bounds and the
  *    distance is Σ(codeᵈ − qcodeᵈ)², an exact BIGINT. Integer
  *    arithmetic makes the scan hash-exact by construction (no IEEE
  *    fold-order discipline needed) and SIMD-friendly in a columnar
  *    engine. Scan → TakeOrderedAndProject; the floats are never
  *    read at query time.
  *
  * Scale shape: at 100 TB the codes table is 4× smaller than the raw
  * vectors and the stats pass is one bounded aggregation; encode
  * parallelizes trivially. Compose with the IVF cell filter
  * ([[KMeans.ivfTrainedTopK]]) the same way PQ does for a pruned
  * probe. Quantization error is bounded per dimension by span/255,
  * so SQ8 recall dominates PQ's at the same probe set (asserted in
  * ScalarQuantSpec against the exact-L2 oracle ranking).
  */
object ScalarQuant {

  val Dim = 64
  val Levels = 255 // codes span 0..255 (256 levels)
  val TopK = 10

  /** Per-dimension (min, max) over the corpus as ONE global aggregate
    * with 2·[[Dim]] expressions (`min(v[d]), max(v[d])`) — deliberately
    * NOT a posexplode → groupBy(dim): the explode form inflates the
    * stream [[Dim]]× (20M vectors become 1.28B rows) before the
    * partial agg can shrink it, while this form keeps one row per
    * vector through a codegen'd HashAggregate whose partial state is a
    * single 128-column row per task. Min/max are order-independent, so
    * the result is hash-exact regardless of partitioning. */
  def dimStats(spark: SparkSession, dir: String): Seq[(Double, Double)] =
    // memoized per source fingerprint (graft.ops.SessionStore): min/max
    // per dim is a deterministic reduction of the embeddings file,
    // re-derived by every SQ8 form in the ladder
    graft.ops.SessionStore.of("dimStats", s"$dir/embeddings.parquet") {
      dimStatsOn(KMeans.vecs(spark, dir))
    }

  /** [[dimStats]] over an explicit (…, v: array<double>) frame — the
    * form the rotated-space path shares. */
  def dimStatsOn(vecs: DataFrame): Seq[(Double, Double)] = {
    val aggs = (0 until Dim).flatMap(d => Seq(
      min(col("v").getItem(d)).as(s"mn$d"),
      max(col("v").getItem(d)).as(s"mx$d")))
    val r = vecs.agg(aggs.head, aggs.tail: _*).head()
    (0 until Dim).map(d => (r.getDouble(2 * d), r.getDouble(2 * d + 1)))
  }

  /** Quantize one double against (min, max) — the single formula
    * shared (operation for operation, left to right) by the Spark
    * encode column, the driver-side query encode, and the DuckDB
    * oracle replay: floor((x − min) / (max − min) · 255), clamped to
    * [0, 255] at BOTH ends (FAISS SQ8 does the same). The lower clamp
    * matters under the production split — bounds frozen as an
    * artifact, new vectors encoded later: a component below the
    * stored per-dim min would otherwise yield a negative code, which
    * the packed-byte store ([[graft.functions.Sq8EncodeBytes]]) wraps
    * through `(byte)` (−2 → 254 after & 0xFF), silently diverging
    * from the list<int> and raw paths. */
  def quantize(x: Double, mn: Double, mx: Double): Int =
    if (mx == mn) 0
    else math.max(0,
      math.min(Levels, math.floor((x - mn) / (mx - mn) * 255.0).toInt))

  /** Composable-builtin encode column — kept as the CORRECTNESS
    * BASELINE the fused [[graft.functions.Sq8Encode]] loop is asserted
    * bit-equal to (ScalarQuantSpec). Interpreted HOF: at 20M vectors
    * the HOF forms measured 383 s for the top-k scan vs ~I/O-bound for
    * the fused expressions, which is why every production path in this
    * object routes through [[graft.functions.Sq8]]. */
  def codeCol(stats: Seq[(Double, Double)]): Column = {
    val mnA = array(stats.map { case (mn, _) => lit(mn) }: _*)
    val mxA = array(stats.map { case (_, mx) => lit(mx) }: _*)
    transform(col("v"), (x, i) => {
      val mn = element_at(mnA, i + 1)
      val mx = element_at(mxA, i + 1)
      when(mx === mn, lit(0))
        .otherwise(greatest(lit(0), least(lit(Levels),
          floor((x - mn) / (mx - mn) * 255.0).cast("int"))))
    })
  }

  /** SQ8 codes for the corpus as a canonical CSV string per vector
    * (64 codes would not fit as columns; the joined form keeps the
    * dump one scalar per vector and still pins every code). */
  def sq8Codes(spark: SparkSession, dir: String): DataFrame = {
    val stats = dimStats(spark, dir)
    KMeans.vecs(spark, dir)
      .select(col("vec_id"), col("label"),
        array_join(graft.functions.Sq8.encode(col("v"), stats)
          .cast("array<string>"), ",")
          .as("codes_csv"))
      .orderBy(col("vec_id"))
  }

  /** Symmetric SQ8 top-k for the min-vec_id query: integer distance
    * Σ(codeᵈ − qcodeᵈ)² over the on-the-fly encode, TakeOrdered. */
  def sq8TopK(spark: SparkSession, dir: String): DataFrame = {
    val stats = dimStats(spark, dir)
    val (qid, qcodes) = encodeQuery(spark, dir, stats)
    val dist = graft.functions.Sq8.dist(col("v"), stats, qcodes)
    KMeans.vecs(spark, dir)
      .filter(col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), dist.as("sq_dist"))
      .orderBy(col("sq_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** Corpus encode as a persistable codes frame (vec_id, label,
    * codes: array<int>) — the write-side of the production split:
    * encode once under frozen bounds, serve every query from the int
    * codes store ([[sq8OverCodes]]), floats never read again. */
  def encodeFrame(spark: SparkSession, dir: String,
      stats: Seq[(Double, Double)]): DataFrame =
    KMeans.vecs(spark, dir)
      .select(col("vec_id"), col("label"),
        graft.functions.Sq8.encode(col("v"), stats).as("codes"))

  /** Steady-state SQ8 top-k over a PERSISTED codes table
    * ([[encodeFrame]] output): the scan reads 64 ints per row instead
    * of 64 floats plus an encode — same integer distance, same
    * ranking as [[sq8TopK]] under the same bounds (asserted in
    * ScalarQuantSpec). */
  def sq8OverCodes(codes: DataFrame, qcodes: Seq[Int], qid: Long,
      k: Int = TopK): DataFrame = {
    val dist = graft.functions.Sq8.codesDist(col("codes"), qcodes)
    codes.filter(col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), dist.as("sq_dist"))
      .orderBy(col("sq_dist"), col("vec_id"))
      .limit(k)
  }

  /** Corpus encode as the PACKED-byte store (vec_id, label, codes:
    * binary — 64 bytes per vector, the FAISS uint8 layout). Parquet
    * BINARY decodes as one array copy where list<int> materializes 64
    * elements per row, so this is the preferred serving layout; the
    * ScaleUp tier records both. */
  def encodeFrameBytes(spark: SparkSession, dir: String,
      stats: Seq[(Double, Double)]): DataFrame =
    KMeans.vecs(spark, dir)
      .select(col("vec_id"), col("label"),
        graft.functions.Sq8.encodeBytes(col("v"), stats).as("codes"))

  /** Steady-state SQ8 top-k over the packed-byte store — same ranking
    * as [[sq8OverCodes]]/[[sq8TopK]] under the same bounds. */
  def sq8OverBytes(codes: DataFrame, qcodes: Seq[Int], qid: Long,
      k: Int = TopK): DataFrame = {
    val dist = graft.functions.Sq8.bytesDist(col("codes"), qcodes)
    codes.filter(col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), dist.as("sq_dist"))
      .orderBy(col("sq_dist"), col("vec_id"))
      .limit(k)
  }

  /** SQ8 top-k lists for EXPLICIT query rows under frozen corpus
    * bounds — (query_id, vec_id, rk ≤ k), the margin-sampled eval
    * batch's system frame. Per query: one integer-distance scan +
    * TakeOrdered; the rank window runs over the bounded k-row cut. */
  def sq8BatchFor(spark: SparkSession, dir: String,
      qrows: Seq[(Long, Seq[Double])], k: Int): DataFrame = {
    val stats = dimStats(spark, dir)
    qrows.map { case (qid, qv) =>
      val qcodes = qv.zip(stats).map {
        case (x, (mn, mx)) => quantize(x, mn, mx) }
      val dist = graft.functions.Sq8.dist(col("v"), stats, qcodes)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("d"), col("vec_id")) // bounded: ≤ k rows
      KMeans.vecs(spark, dir).filter(col("vec_id") =!= qid)
        .select(col("vec_id"), dist.as("d"))
        .orderBy(col("d"), col("vec_id")).limit(k)
        .select(lit(qid).as("query_id"), col("vec_id"),
          row_number().over(w).as("rk"))
    }.reduce(_ unionByName _)
  }

  /** Query-side encode under frozen bounds — the driver-side prep for
    * [[sq8OverCodes]]. */
  def encodeQuery(spark: SparkSession, dir: String,
      stats: Seq[(Double, Double)]): (Long, Seq[Int]) = {
    val (qid, _, qv) = KMeans.queryRow(spark, dir)
    (qid, qv.zip(stats).map { case (x, (mn, mx)) => quantize(x, mn, mx) })
  }

  /** IVF × SQ8 composition: probe only the query's coarse partition
    * (the `label` cell, as [[Similarity.ivfTopK]]), scored by the
    * integer SQ8 distance — the standard FAISS `IVF,SQ8` layout. At
    * scale the codes table is cell-partitioned (as the PQ codes store
    * is), so the cell filter is partition pruning and the scan reads
    * cell-size × 64 bytes, never the corpus. */
  def ivfSq8TopK(spark: SparkSession, dir: String): DataFrame = {
    val stats = dimStats(spark, dir)
    val (qid, qcodes) = encodeQuery(spark, dir, stats)
    val qLabel = KMeans.queryRow(spark, dir)._2
    val dist = graft.functions.Sq8.dist(col("v"), stats, qcodes)
    KMeans.vecs(spark, dir)
      .filter(col("label") === qLabel && col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"), dist.as("sq_dist"))
      .orderBy(col("sq_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** Seed of the random rotation — fixed, so the matrix is a
    * deterministic literal shared by the Spark plan and the oracle. */
  val RotSeed = 42L

  /** Seeded random orthonormal rotation via modified Gram–Schmidt
    * over gaussian draws — FAISS's `RandomRotationMatrix` vector
    * pre-transform. Rotation spreads variance evenly across
    * dimensions, which is exactly what per-dimension scalar
    * quantization wants: a dimension with a tiny range wastes its 8
    * bits while a dominant dimension clips precision; after a random
    * rotation every output dimension mixes all inputs. Pure seeded
    * Scala arithmetic → identical literal values in both engines. */
  def rotationMatrix(dim: Int = Dim, seed: Long = RotSeed): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    val basis = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    while (basis.size < dim) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      basis.foreach { b =>
        val dot = (0 until dim).foldLeft(0.0)((a, i) => a + v(i) * b(i))
        (0 until dim).foreach(i => v(i) -= dot * b(i))
      }
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      if (n > 1e-8) basis += v.map(_ / n)
    }
    basis.map(_.toIndexedSeq).toIndexedSeq
  }

  /** Driver-side M·x with the SAME left-to-right fold as
    * [[graft.functions.MatVec]] and the oracle's list_sum. */
  def rotateLocal(v: Seq[Double], rot: Seq[Seq[Double]]): Seq[Double] =
    rot.map(row => row.zip(v).foldLeft(0.0) { case (a, (m, x)) =>
      a + m * x
    })

  /** Random-rotation SQ8 top-k (FAISS `PreTransform(RandomRotation) +
    * SQ8`): the corpus rotates through one fused [[graft.functions.MatVec]]
    * loop, bounds derive in ROTATED space, and search is the same
    * integer-space scan. Rotation is orthonormal, so true L2
    * distances are unchanged — only the quantization grid moves;
    * recall vs exact L2 is asserted ≥ the axis-aligned form's in
    * ScalarQuantSpec. At scale the rotated codes persist exactly like
    * [[encodeFrameBytes]] (rotate-encode once, serve from bytes). */
  def rrsq8TopK(spark: SparkSession, dir: String): DataFrame = {
    val rot = rotationMatrix()
    val rotated = KMeans.vecs(spark, dir)
      .select(col("vec_id"), col("label"),
        graft.functions.MatVec(col("v"), rot).as("v"))
    val stats = dimStatsOn(rotated)
    val (qid, _, qv) = KMeans.queryRow(spark, dir)
    val qcodes = rotateLocal(qv, rot).zip(stats).map {
      case (x, (mn, mx)) => quantize(x, mn, mx)
    }
    rotated.filter(col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"),
        graft.functions.Sq8.dist(col("v"), stats, qcodes).as("sq_dist"))
      .orderBy(col("sq_dist"), col("vec_id"))
      .limit(TopK)
  }

  /** Shared oracle CTE: per-dim bounds + per-(vec, dim) codes, the
    * relational replay of [[codeCol]] (DuckDB lists are 1-indexed;
    * dim is kept 1-based here and shifted where exposed). */
  private val codesCte =
    s"""st AS (SELECT t.dim AS dim, MIN(CAST(embedding[t.dim] AS DOUBLE)) AS mn, MAX(CAST(embedding[t.dim] AS DOUBLE)) AS mx FROM embeddings CROSS JOIN range(1, ${Dim + 1}) t(dim) GROUP BY t.dim), codes AS (SELECT vec_id, label, t.dim AS dim, CASE WHEN st.mx = st.mn THEN 0 ELSE greatest(0, least($Levels, CAST(floor((CAST(embedding[t.dim] AS DOUBLE) - st.mn) / (st.mx - st.mn) * 255.0) AS BIGINT))) END AS code FROM embeddings CROSS JOIN range(1, ${Dim + 1}) t(dim) JOIN st ON st.dim = t.dim)"""

  val oracle: Map[String, String] = Map(
    "sim_sq8_codes" ->
      s"""WITH $codesCte SELECT vec_id, label, string_agg(CAST(code AS VARCHAR), ',' ORDER BY dim) AS codes_csv FROM codes GROUP BY vec_id, label ORDER BY vec_id""",
    "sim_sq8_topk" ->
      s"""WITH $codesCte, q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1), qc AS (SELECT c.dim, c.code FROM codes c JOIN q ON c.vec_id = q.qid) SELECT c.vec_id, c.label, CAST(SUM((c.code - qc.code) * (c.code - qc.code)) AS BIGINT) AS sq_dist FROM codes c JOIN qc ON c.dim = qc.dim CROSS JOIN q WHERE c.vec_id <> q.qid GROUP BY c.vec_id, c.label ORDER BY sq_dist, c.vec_id LIMIT $TopK""",
    "sim_ivfsq8_topk" ->
      s"""WITH $codesCte, q AS (SELECT vec_id AS qid, label AS qlabel FROM embeddings ORDER BY vec_id LIMIT 1), qc AS (SELECT c.dim, c.code FROM codes c CROSS JOIN q WHERE c.vec_id = q.qid) SELECT c.vec_id, c.label, CAST(SUM((c.code - qc.code) * (c.code - qc.code)) AS BIGINT) AS sq_dist FROM codes c JOIN qc ON c.dim = qc.dim CROSS JOIN q WHERE c.vec_id <> q.qid AND c.label = q.qlabel GROUP BY c.vec_id, c.label ORDER BY sq_dist, c.vec_id LIMIT $TopK""",
    // rotated-space replay: the 64×64 rotation rides as a VALUES
    // literal; rx is the same left-to-right fold MatVec generates
    "sim_rrsq8_topk" -> {
      val rows = rotationMatrix().zipWithIndex.map { case (row, i) =>
        s"(${i + 1}, [${row.mkString(", ")}])"
      }.mkString(", ")
      s"""WITH rot AS (SELECT * FROM (VALUES $rows) t(dim, mrow)), rv AS (SELECT e.vec_id, e.label, t.dim AS dim, list_sum(list_transform(range(1, ${Dim + 1}), j -> t.mrow[j] * CAST(e.embedding[j] AS DOUBLE))) AS rx FROM embeddings e CROSS JOIN rot t), rst AS (SELECT dim, MIN(rx) AS mn, MAX(rx) AS mx FROM rv GROUP BY dim), rcodes AS (SELECT rv.vec_id, rv.label, rv.dim, CASE WHEN rst.mx = rst.mn THEN 0 ELSE greatest(0, least($Levels, CAST(floor((rv.rx - rst.mn) / (rst.mx - rst.mn) * 255.0) AS BIGINT))) END AS code FROM rv JOIN rst USING (dim)), q AS (SELECT vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1), qc AS (SELECT c.dim, c.code FROM rcodes c JOIN q ON c.vec_id = q.qid) SELECT c.vec_id, c.label, CAST(SUM((c.code - qc.code) * (c.code - qc.code)) AS BIGINT) AS sq_dist FROM rcodes c JOIN qc ON c.dim = qc.dim CROSS JOIN q WHERE c.vec_id <> q.qid GROUP BY c.vec_id, c.label ORDER BY sq_dist, c.vec_id LIMIT $TopK"""
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_sq8_codes" -> sq8Codes _,
    "sim_sq8_topk" -> sq8TopK _,
    "sim_ivfsq8_topk" -> ivfSq8TopK _,
    "sim_rrsq8_topk" -> rrsq8TopK _
  )
}
