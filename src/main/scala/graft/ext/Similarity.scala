package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim; `label: int` — the coarse
  * cluster assignment, used as IVF partitions).
  *
  * Two paths:
  *  - brute-force cosine top-k: the exactness baseline. One pass over
  *    all vectors, TakeOrderedAndProject — O(N·d) per query, fine for
  *    batch scoring, not for 100 TB interactive.
  *  - IVF top-k: probe only the query's coarse partition (here the
  *    provided `label`; at scale the centroids come from k-means and
  *    the table is partitioned/bucketed by label so a probe reads one
  *    partition, not the corpus).
  *
  * All arithmetic is double-precision with an explicit left-to-right
  * fold, so results are bit-identical across engines and cluster
  * layouts (per-row computation only — no partial-agg reorder).
  */
object Similarity {

  /** Composable-builtin form — correctness baseline, kept for
    * documentation and the equivalence test in FunctionsSpec. */
  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  def cosineBuiltin(a: Column, b: Column): Column =
    dotBuiltin(a, b) / sqrt(dotBuiltin(a, a) * dotBuiltin(b, b))

  /** Hot path: native codegen'd expression (single fused loop, no
    * intermediate arrays) — bit-identical to the builtin form. */
  private[ext] def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Collect the query vector (row with min vec_id) as a literal. */
  private[ext] def queryVec(spark: SparkSession, dir: String): (Long, Column) = {
    val (id, _, vec) = KMeans.queryRow(spark, dir)
    (id, array(vec.map(lit): _*))
  }

  /** Brute-force cosine top-10 against the min-vec_id query vector.
    * Guarded: the full-corpus scan per query refuses to run past
    * [[Dedup.MaxExactRows]] — route large corpora through [[ivfTopK]]
    * (or its trained variant in [[KMeans]]), which probes one coarse
    * partition instead. The guard runs an EAGER `count()` job at
    * construction time (fail before the scan, not after) — baseline
    * path, don't build it inside a hot loop. */
  def bruteForceTopK(spark: SparkSession, dir: String,
      maxRows: Long = Dedup.MaxExactRows): DataFrame = {
    val (qid, q) = queryVec(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    require(n <= maxRows,
      s"bruteForceTopK scans the whole corpus per query ($n rows > limit " +
        s"$maxRows); use the IVF probe path at scale")
    e.filter(col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"),
        cosine(col("embedding").cast("array<double>"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF-style top-5: search only the query's coarse partition. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val (qid, qLabel, qv) = KMeans.queryRow(spark, dir)
    val q = array(qv.map(lit): _*)
    e.filter(col("label") === qLabel && col("vec_id") =!= qid)
      .select(col("vec_id"), col("label"),
        cosine(col("embedding").cast("array<double>"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  /** Fixed seeded ±1 hyperplanes, shared by the Spark plan and the
    * oracle SQL so both engines compute identical signatures. */
  private def planes(bits: Int = 8, dim: Int = 64): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(bits)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Random-hyperplane LSH signatures: `bits` sign bits from fixed
    * seeded ±1 planes (literal arrays in the plan — deterministic
    * across runs and engines-of-record). Vectors whose signatures
    * share a band are near-angle candidates; at scale the table is
    * partitioned by band so candidate generation is an equi-join. */
  def lshSignature(v: Column, bits: Int = 8, dim: Int = 64): Column =
    planes(bits, dim).zipWithIndex.map { case (p, j) =>
      val pl = array(p.map(lit): _*)
      shiftleft((dotBuiltin(v, pl) > 0).cast("long"), j)
    }.reduce(_.bitwiseOR(_))

  /** LSH-bucketed near-dup pairs over embeddings — the scale path for
    * `Dedup.embeddingCosinePairs` (equi-join on bucket, no all-pairs
    * product). The seeded planes are shared with the oracle SQL, so
    * even this approximate path is hash-checked exactly; recall vs the
    * exact baseline is additionally asserted in SimilaritySpec. */
  def lshBucketedPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", lshSignature(col("v")))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("bucket"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.CosineSimilarity(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= 0.45)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Contrastive training triplets (anchor, positive, negative) mined
    * from the corpus — the data-engineering step before training an
    * embedding model with a triplet/InfoNCE loss: positives are the
    * LSH near-angle pairs ([[lshBucketedPairs]] — already
    * cosine-confirmed), and each triplet's negative is IN-BATCH: the
    * next pair's positive in deterministic pair order, wrapping
    * cyclically (the standard in-batch negative-sampling scheme, made
    * deterministic so the oracle replays it). Triplets whose sampled
    * negative collides with their own anchor or positive are dropped
    * (the same-batch hazard in-batch sampling always filters).
    *
    * Shape at scale: the pair set is OUTPUT-sized (near-dup pairs,
    * orders of magnitude smaller than the corpus), so the single
    * unpartitioned lead() window ranks a bounded frame — same
    * justification as the dim-sized global windows PlanLintSpec
    * whitelists; shard the window by bucket when the pair set itself
    * is large. */
  def contrastivePairs(spark: SparkSession, dir: String): DataFrame =
    contrastiveOn(lshBucketedPairs(spark, dir))

  /** [[contrastivePairs]] core over an explicit (vec_a, vec_b, cosine)
    * pair frame — factored so the triplet logic is testable on
    * constructed pair sets (the corpus's own LSH pair set can be
    * legitimately empty at small scale factors). */
  private[graft] def contrastiveOn(pairs: DataFrame): DataFrame = {
    // the cyclic wrap (last pair's negative = FIRST pair's positive)
    // comes from a first_value over the same window frame, NOT a
    // separate collect() — a driver-side first-row fetch would
    // execute the whole upstream pair pipeline twice per call
    val w = Window.orderBy(col("vec_a"), col("vec_b"))
    val whole = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    pairs.withColumn("neg", lead(col("vec_b"), 1).over(w))
      .withColumn("negative",
        coalesce(col("neg"), first(col("vec_b")).over(whole)))
      .filter(col("negative") =!= col("vec_b")
        && col("negative") =!= col("vec_a"))
      .select(col("vec_a").as("anchor"), col("vec_b").as("positive"),
        col("negative"), col("cosine"))
      .orderBy(col("anchor"), col("positive"))
  }

  /** Embedding preprocessing profile: L2 norm, max-|x|, and an int8
    * quantization checksum (`floor(127·x/max_abs + 0.5)` summed — the
    * storage-shrink step before ANN indexing, reported as scalars so
    * the whole path is oracle-checkable). Per-row array folds only —
    * no shuffle beyond the final sort. */
  def embeddingProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), size(col("embedding")).as("n_dims"),
        graft.functions.VecStats(col("embedding").cast("array<double>"))
          .as("st"))
      .select(col("vec_id"), col("n_dims"),
        sqrt(element_at(col("st"), 1)).as("l2_norm"),
        element_at(col("st"), 2).as("max_abs"),
        element_at(col("st"), 3).cast("int").as("quant_sum"))
      .orderBy(col("vec_id"))

  /** The composable-builtin formulation of [[embeddingProfile]]'s
    * per-row statistics — four interpreted higher-order functions per
    * row; kept as the correctness baseline the fused
    * [[graft.functions.VecStats]] loop is asserted bit-identical to
    * (FunctionsSpec). */
  def embeddingProfileBuiltin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val maxAbs = array_max(transform(col("v"), x => abs(x)))
    val qsum = aggregate(
      transform(col("v"), x =>
        floor(lit(127.0) * x / col("max_abs") + lit(0.5)).cast("int")),
      lit(0), _ + _)
    e.select(col("vec_id"), col("v"), size(col("v")).as("n_dims"),
        sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), _ + _))
          .as("l2_norm"),
        maxAbs.as("max_abs"))
      .select(col("vec_id"), col("n_dims"), col("l2_norm"), col("max_abs"),
        when(col("max_abs") > 0, qsum).otherwise(lit(0)).as("quant_sum"))
      .orderBy(col("vec_id"))
  }

  /** Quantization step for exact distributed means (2^20) — the same
    * discipline as the k-means update: integer sums are
    * order-independent across partitions, so the mean is bit-identical
    * on any cluster layout and any engine. */
  private val Q = 1048576.0

  /** Exact mean embedding per label — the group-centroid / mean-pool
    * aggregation (class centroids, per-source document embeddings).
    * Output is one row per (label, dim) so every value is a scalar
    * the oracle hash-compares.
    *
    * Shape at scale: posexplode fans each vector into 64 scalar rows
    * (codegen'd Generate + per-scalar quantize — no interpreted
    * higher-order functions on the hot path), partial aggregation
    * combines map-side, and the only shuffle is labels × 64 partial
    * rows per task — the MLlib treeAggregate shape; corpus size never
    * crosses the wire. */
  def groupCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("x") * lit(Q) + lit(0.5)).cast("long")).as("s"))
      .select(col("label"), col("dim"), col("n_vecs"),
        (col("s").cast("double") / col("n_vecs") / lit(Q)).as("component"))
      .orderBy(col("label"), col("dim"))

  /** Nearest-representative assignment (IVF probe evaluation): each
    * vector is assigned to the label whose representative (min-vec_id
    * member) it is most cosine-similar to; `matches_label` reports
    * agreement with the stored coarse label. The 8 representatives
    * broadcast; one pass over the corpus. */
  def centroidAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val reps = e.join(
        e.groupBy(col("label").as("rep_label"))
          .agg(min(col("vec_id")).as("rep_id")),
        col("vec_id") === col("rep_id"))
      .select(col("rep_label"), col("v").as("rep_v"))
    val scored = e.join(broadcast(reps))
      .select(col("vec_id"), col("label"), col("rep_label"),
        cosine(col("v"), col("rep_v")).as("cos"))
    val best = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("rep_label"))
    scored.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"),
        col("rep_label").as("assigned_label"),
        (col("label") === col("rep_label")).as("matches_label"))
      .orderBy(col("vec_id"))
  }

  private val dotSql = (a: String, b: String) =>
    s"""list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"""
  private[ext] def cosineSql(a: String, b: String) =
    s"""${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)})"""

  // DuckDB replay of lshSignature: the same seeded planes as SQL
  // literals, bit j = sign of the plane-j dot product
  private def planeLit(p: Seq[Double]): String =
    p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
  private val lshSigSql = planes().zipWithIndex.map { case (p, j) =>
    s"(CASE WHEN list_sum(list_transform(range(1, ${p.size + 1}), i -> CAST(embedding[i] AS DOUBLE) * (${planeLit(p)})[i])) > 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  val oracle: Map[String, String] = Map(
    "sim_bruteforce_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id = (SELECT min(vec_id) FROM embeddings)) SELECT vec_id, label, ${cosineSql("embedding", "qe")} AS cosine FROM embeddings, q WHERE vec_id <> qid ORDER BY cosine DESC, vec_id LIMIT 10""",
    "sim_ivf_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel FROM embeddings WHERE vec_id = (SELECT min(vec_id) FROM embeddings)) SELECT vec_id, label, ${cosineSql("embedding", "qe")} AS cosine FROM embeddings, q WHERE label = qlabel AND vec_id <> qid ORDER BY cosine DESC, vec_id LIMIT 5""",
    "sim_lsh_bucketed_pairs" ->
      s"""WITH e AS (SELECT vec_id, embedding, CAST($lshSigSql AS BIGINT) AS bucket FROM embeddings) SELECT vec_a, vec_b, cosine FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${cosineSql("a.embedding", "b.embedding")} AS cosine FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) WHERE cosine >= 0.45 ORDER BY vec_a, vec_b""",
    "sim_embedding_profile" ->
      """SELECT vec_id, n_dims, sqrt(sq) AS l2_norm, max_abs, CASE WHEN max_abs > 0 THEN CAST(list_sum(list_transform(v, x -> CAST(floor(127.0 * x / max_abs + 0.5) AS INTEGER))) AS INTEGER) ELSE 0 END AS quant_sum FROM (SELECT vec_id, len(embedding) AS n_dims, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs FROM embeddings) ORDER BY vec_id""",
    "sim_group_centroids" ->
      s"""SELECT label, CAST(t.dim - 1 AS INTEGER) AS dim, COUNT(*) AS n_vecs, CAST(SUM(CAST(floor(CAST(embedding[t.dim] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1048576.0 AS component FROM embeddings CROSS JOIN range(1, 65) t(dim) GROUP BY label, t.dim ORDER BY label, dim""",
    "sim_contrastive_pairs" ->
      s"""WITH pr AS (SELECT vec_a, vec_b, cosine FROM (WITH e AS (SELECT vec_id, embedding, CAST($lshSigSql AS BIGINT) AS bucket FROM embeddings) SELECT vec_a, vec_b, cosine FROM (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${cosineSql("a.embedding", "b.embedding")} AS cosine FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) WHERE cosine >= 0.45)), ld AS (SELECT vec_a, vec_b, cosine, lead(vec_b) OVER (ORDER BY vec_a, vec_b) AS neg, first_value(vec_b) OVER (ORDER BY vec_a, vec_b ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_pos FROM pr) SELECT vec_a AS anchor, vec_b AS positive, COALESCE(neg, first_pos) AS negative, cosine FROM ld WHERE COALESCE(neg, first_pos) <> vec_b AND COALESCE(neg, first_pos) <> vec_a ORDER BY anchor, positive""",
    "sim_centroid_assign" ->
      s"""WITH reps AS (SELECT label AS rep_label, embedding AS rep_v FROM embeddings WHERE vec_id IN (SELECT min(vec_id) FROM embeddings GROUP BY label)), scored AS (SELECT e.vec_id, e.label, r.rep_label, ${cosineSql("e.embedding", "r.rep_v")} AS cos FROM embeddings e CROSS JOIN reps r), ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, rep_label) AS rk FROM scored) SELECT vec_id, label, rep_label AS assigned_label, label = rep_label AS matches_label FROM ranked WHERE rk = 1 ORDER BY vec_id"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_bruteforce_topk" ->
      ((s: SparkSession, dir: String) => bruteForceTopK(s, dir)),
    "sim_ivf_topk" -> ivfTopK _,
    "sim_lsh_bucketed_pairs" -> lshBucketedPairs _,
    "sim_contrastive_pairs" -> contrastivePairs _,
    "sim_embedding_profile" -> embeddingProfile _,
    "sim_group_centroids" -> groupCentroids _,
    "sim_centroid_assign" -> centroidAssign _
  )
}
