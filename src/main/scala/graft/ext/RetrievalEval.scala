package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval EVALUATION harness — the measurement tier a pipeline
  * runs after building an index and before trusting it: recall@k,
  * MRR, and binary-relevance nDCG of an approximate retriever
  * against the exact top-k ground truth, per query. The gated system
  * is the batched IVF probe ([[KMeans.ivfBatchTopKWith]] — the
  * serving shape the 100× tier times); the harness itself is
  * retriever-agnostic ([[metricsOn]] takes any `(query_id, vec_id,
  * rk)` frame).
  *
  * Exactness discipline: metrics are INTEGERS end-to-end. Ranks come
  * from the engines' bit-identical cosine order (the
  * `sim_bruteforce_topk` contract); the nDCG discounts
  * `floor(1e6 / log2(r+1))` are computed ONCE in Scala and embedded
  * as literals in BOTH engines, so no transcendental is ever
  * evaluated per-engine ([[Selection]]'s micro-nat rule, taken one
  * step further); MRR and nDCG normalize by integer division. The
  * `self` form — the exact run evaluated against itself — is the
  * harness's built-in calibration: every metric must read its
  * maximum (hits = k, MRR = nDCG = 1e6), and it shares the one truth
  * chain with the `ivf` form.
  *
  * Shape at scale: ground truth is exact top-k over the corpus for a
  * BOUNDED query sample ([[KMeans.BatchQueries]] plan-literal
  * vectors — the standard eval contract: exact truth on a sampled
  * query set, never all-pairs), one fan-out scan (each row scores
  * against the literal query block, no join) feeding the salted
  * two-phase rank ([[graft.ops.SkewOps.topKPerGroup]] — no single
  * task sorts a query's whole candidate list). The system side is
  * the already-gated probed-cells scan. Metrics are a k·queries-row
  * join + aggregate — bounded, trivially.
  *
  * Reference scope: the reference app (csv → pandas → MySQL,
  * /root/reference/etl_pipeline/transform.py) has no retrieval tier;
  * extension depth for the 100 TB training-data story.
  */
object RetrievalEval {

  /** Eval depth — matches [[KMeans.ivfBatchTopKWith]]'s serving k. */
  val EvalK = 5

  /** Binary-relevance nDCG discounts, micro-units: floor(1e6 /
    * log2(r+1)) for rank r — computed once here, literal in both
    * engines. */
  val DiscountMicro: Seq[(Int, Long)] = (1 to EvalK).map(r =>
    r -> math.floor(1e6 * math.log(2) / math.log(r + 1)).toLong)

  /** Ideal DCG: all k slots relevant. */
  val IdcgMicro: Long = DiscountMicro.map(_._2).sum

  /** Exact cosine top-k per query over the full corpus — the ground
    * truth. The query block ships as a plan literal (queries × 64
    * doubles), each scanned row fans out to every query (work =
    * queries × corpus, the [[KMeans.ivfBatchTopK]] fan-out without
    * the probe filter), per-query top-k rides the salted two-phase
    * rank. */
  def exactBatchTopK(e: DataFrame, qrows: Seq[(Long, Seq[Double])],
      k: Int): DataFrame = {
    val qArr = array(qrows.map { case (qid, qv) =>
      struct(lit(qid).as("qid"), array(qv.map(lit): _*).as("qv"))
    }: _*)
    val scored = e.withColumn("q", explode(qArr))
      .filter(col("q.qid") =!= col("vec_id"))
      .select(col("q.qid").as("query_id"), col("vec_id"),
        graft.functions.CosineSimilarity(col("v"), col("q.qv"))
          .as("cosine"))
    graft.ops.SkewOps.topKPerGroup(scored, col("query_id"),
      Seq(col("cosine").desc, col("vec_id")), k, col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("rk"))
  }

  /** The exact-truth frame shared by BOTH eval gates (r18): the
    * brute-force truth pass (queries × corpus cosines) ran once per
    * gate — `rag_eval_forms` and `rag_eval_quant_forms` each built
    * the identical [[exactBatchTopK]] over the same query block. The
    * result is BOUNDED (nq·[[EvalK]] rows), so it memoizes as
    * collected rows per source fingerprint ([[graft.ops.SessionStore]])
    * and recreates as a literal frame per consumer — same discipline
    * as the trained quantizers, same staleness guard. */
  private[ext] def truthFor(spark: SparkSession, dir: String): DataFrame = {
    val rows = graft.ops.SessionStore.of(s"evalTruth|$EvalK",
        s"$dir/embeddings.parquet") {
      val queries = KMeans.batchQueryRows(spark, dir)
      val got = exactBatchTopK(KMeans.vecs(spark, dir), queries, EvalK)
        .collect()
      require(got.length <= queries.size * EvalK, s"evalTruth collected " +
        s"${got.length} rows > nq*EvalK = ${queries.size}*$EvalK")
      got.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      rows.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3)).asJava,
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("vec_id", LongType, nullable = false),
        StructField("rk", IntegerType, nullable = false))))
  }

  /** Per-query metrics of `sys` against `truth` (both `(query_id,
    * vec_id, rk)`): hits@k, first relevant rank (0 = none), MRR and
    * binary nDCG in micro-units. */
  def metricsOn(sys: DataFrame, truth: DataFrame): DataFrame = {
    val t = truth.select(col("query_id").as("tq"),
      col("vec_id").as("tv")).withColumn("hit", lit(1L))
    val j = sys.select(col("query_id"), col("vec_id"),
        col("rk").cast("int").as("rk"))
      .join(t, col("query_id") === col("tq") && col("vec_id") === col("tv"),
        "left")
      .select(col("query_id"), col("rk"),
        coalesce(col("hit"), lit(0L)).as("hit"))
    val disc = DiscountMicro.foldLeft(lit(0L)) { case (acc, (r, d)) =>
      when(col("rk") === r, lit(d)).otherwise(acc)
    }
    j.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_sys"),
        sum(col("hit")).as("hits_at_k"),
        coalesce(min(when(col("hit") === 1L, col("rk"))), lit(0))
          .cast("int").as("first_rel_rank"),
        sum(when(col("hit") === 1L, disc).otherwise(lit(0L)))
          .as("dcg_micro"))
      .select(col("query_id"), col("n_sys"), col("hits_at_k"),
        col("first_rel_rank"),
        expr("CAST(CASE WHEN first_rel_rank > 0 THEN 1000000 DIV " +
          "first_rel_rank ELSE 0 END AS BIGINT)").as("mrr_micro"),
        col("dcg_micro"),
        expr(s"CAST(dcg_micro * 1000000 DIV $IdcgMicro AS BIGINT)")
          .as("ndcg_micro"))
  }

  /** DRIVER-GATED: the IVF probe evaluated against exact truth
    * (`ivf`) and the truth evaluated against itself (`self` — the
    * all-maxima calibration row), one shared truth chain. The truth
    * frame is k·queries rows, localCheckpointed once for its three
    * readers. */
  def evalForms(spark: SparkSession, dir: String): DataFrame = {
    val cents = KMeans.train(spark, dir)
    val qrows = KMeans.batchQueryRows(spark, dir)
    val truth = truthFor(spark, dir) // r18: shared with the quant gate
    val sys = KMeans.ivfBatchTopKWith(spark, dir, cents)
      .select(col("query_id"), col("vec_id"), col("rk"))
    val sysP2 = KMeans
      .ivfBatchTopKOn(spark, dir, cents, qrows, EvalK, probes = 2)
      .select(col("query_id"), col("vec_id"), col("rk"))
    OracleForms.union(
        "ivf" -> metricsOn(sys, truth),
        "ivf_p2" -> metricsOn(sysP2, truth),
        "self" -> metricsOn(truth, truth))
      .select(col("form"), col("query_id"), col("n_sys"),
        col("hits_at_k"), col("first_rel_rank"), col("mrr_micro"),
        col("dcg_micro"), col("ndcg_micro"))
      .orderBy(col("form"), col("query_id"))
  }

  /** DRIVER-GATED (round-15 verdict #4): recall@k / MRR / nDCG of
    * the QUANTIZED retriever ladder — where recall claims matter
    * most — against the same exact-truth chain:
    *
    *  - `adc`    — batched residual IVF-PQ ([[ProductQuant.adcBatchTopK]],
    *               the production serving shape), all queries;
    *  - `sq8`    — scalar-quantized full scan ([[ScalarQuant.sq8TopK]]);
    *  - `rerank` — residual ADC + exact re-rank rung
    *               ([[ProductQuant.ivfPqRerankTopK]]);
    *  - `opq`    — seeded-rotation OPQ IVF-PQ
    *               ([[ProductQuant.opqIvfPqTopK]]; the LEARNED
    *               rotation has no SQL replay — its data checks are
    *               `sim_opq_rotation_check` and ProductQuantSpec).
    *
    * The single-query forms evaluate the min-id query (their gated
    * contract); ranks re-derive from each form's own (distance,
    * vec_id) order over its bounded top-k output — a ≤[[ProductQuant.TopK]]-row
    * window, the same bounded-window class as the RRF fuse. */
  def evalQuantForms(spark: SparkSession, dir: String): DataFrame = {
    val qrows = KMeans.batchQueryRows(spark, dir)
    val truth = truthFor(spark, dir) // r18: shared with the ivf gate
    val qid = qrows.map(_._1).min
    def single(df: DataFrame, dist: String): DataFrame = {
      // bounded window: df is a top-k (≤ ProductQuant.TopK rows) frame
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(dist), col("vec_id"))
      df.select(col("vec_id"), col(dist))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= EvalK)
        .select(lit(qid).as("query_id"), col("vec_id"), col("rk"))
    }
    val adcSys = ProductQuant.adcBatchTopK(spark, dir)
      .filter(col("rk") <= EvalK)
      .select(col("query_id"), col("vec_id"), col("rk"))
    // the OPQ rows SERVE from the persisted store (build/serve split
    // like the ADC row — round-16 verdict #5): rotation, codebooks,
    // and codes are read back, never retrained, and the new
    // opq_rerank rung shows what the exact re-rank buys the
    // compressed form (the same margin the PQ rerank row repairs)
    val opqStore = ProductQuant.opqStoreFor(spark, dir)
    OracleForms.union(
        "adc" -> metricsOn(adcSys, truth),
        "opq" -> metricsOn(
          single(ProductQuant.opqServedTopK(spark, dir, opqStore),
            "adc_dist"), truth),
        "opq_rerank" -> metricsOn(
          single(ProductQuant.opqRerankServedTopK(spark, dir, opqStore),
            "exact_dist"), truth),
        "rerank" -> metricsOn(
          single(ProductQuant.ivfPqRerankTopK(spark, dir), "exact_dist"),
          truth),
        "sq8" -> metricsOn(
          single(ScalarQuant.sq8TopK(spark, dir), "sq_dist"), truth))
      .select(col("form"), col("query_id"), col("n_sys"),
        col("hits_at_k"), col("first_rel_rank"), col("mrr_micro"),
        col("dcg_micro"), col("ndcg_micro"))
      .orderBy(col("form"), col("query_id"))
  }

  // ---- DuckDB replay: the system chain is the gated
  // sim_ivf_batch_topk chain verbatim (same trainCtes), the truth
  // chain the same fan-out stated as a cross join, metrics one
  // grouped left join with the SAME discount literals. ----

  private def discountCase(rk: String): String =
    "CASE " + DiscountMicro.map { case (r, d) =>
      s"WHEN $rk = $r THEN $d" }.mkString(" ") + " ELSE 0 END"

  private def sysCtes: String =
    s"""qrows AS (SELECT vec_id AS qid, v AS qv FROM q ORDER BY vec_id LIMIT ${KMeans.BatchQueries}), qr AS (SELECT r.qid, r.qv, c.cid, row_number() OVER (PARTITION BY r.qid ORDER BY ${KMeans.distSqlN("r.qv", "c.cv", 64)}, c.cid) AS rn FROM qrows r CROSS JOIN c2 c), qa AS (SELECT qid, qv, cid FROM qr WHERE rn = 1), qa2 AS (SELECT qid, qv, cid FROM qr WHERE rn <= 2), ssc AS (SELECT qa.qid AS query_id, af.vec_id, ${KMeans.cosSql("q.v", "qa.qv")} AS cosine FROM af JOIN q USING (vec_id) JOIN qa ON af.cid = qa.cid AND af.vec_id <> qa.qid), sys AS (SELECT query_id, vec_id, rn AS rk FROM (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn FROM ssc) WHERE rn <= $EvalK), ssc2 AS (SELECT qa2.qid AS query_id, af.vec_id, ${KMeans.cosSql("q.v", "qa2.qv")} AS cosine FROM af JOIN q USING (vec_id) JOIN qa2 ON af.cid = qa2.cid AND af.vec_id <> qa2.qid), sys2 AS (SELECT query_id, vec_id, rn AS rk FROM (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn FROM ssc2) WHERE rn <= $EvalK)"""

  private def truthCtesOn(base: String): String =
    s"""ts AS (SELECT r.qid, e.vec_id, ${KMeans.cosSql("e.v", "r.qv")} AS cos FROM $base e CROSS JOIN qrows r WHERE e.vec_id <> r.qid), tr AS (SELECT qid AS query_id, vec_id, rk FROM (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM ts) WHERE rk <= $EvalK)"""

  private def truthCtes: String = truthCtesOn("q")

  private def metricsBlock(rel: String): String =
    s"""SELECT query_id, CAST(n_sys AS BIGINT) AS n_sys, CAST(hits_at_k AS BIGINT) AS hits_at_k, CAST(frr AS INT) AS first_rel_rank, CAST(CASE WHEN frr > 0 THEN 1000000 // frr ELSE 0 END AS BIGINT) AS mrr_micro, CAST(dcg AS BIGINT) AS dcg_micro, CAST(dcg * 1000000 // $IdcgMicro AS BIGINT) AS ndcg_micro FROM (SELECT s.query_id, COUNT(*) AS n_sys, SUM(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END) AS hits_at_k, COALESCE(MIN(CASE WHEN t.vec_id IS NOT NULL THEN s.rk END), 0) AS frr, SUM(CASE WHEN t.vec_id IS NOT NULL THEN ${discountCase("s.rk")} ELSE 0 END) AS dcg FROM $rel s LEFT JOIN tr t ON s.query_id = t.query_id AND s.vec_id = t.vec_id GROUP BY s.query_id)"""

  /** A single-query quantized system list as a derived-table CTE:
    * the family's EXISTING gated top-k oracle runs verbatim in its
    * own scope (DuckDB WITH-in-subquery — no CTE-name collisions
    * across families), ranks re-derived from its (distance, vec_id)
    * output order, query_id = the min-id query the form answers. */
  private def singleSysSql(innerSql: String, distCol: String): String =
    s"""(SELECT (SELECT MIN(vec_id) FROM embeddings) AS query_id, vec_id, CAST(rn AS INT) AS rk FROM (SELECT vec_id, row_number() OVER (ORDER BY $distCol, vec_id) AS rn FROM ($innerSql)) WHERE rn <= $EvalK)"""

  val oracle: Map[String, String] = Map(
    "rag_eval_forms" ->
      (s"WITH ${KMeans.trainCtes}, $sysCtes, $truthCtes " +
        s"SELECT 'ivf' AS form, m.* FROM (${metricsBlock("sys")}) m " +
        s"UNION ALL SELECT 'ivf_p2' AS form, m.* FROM (${metricsBlock("sys2")}) m " +
        s"UNION ALL SELECT 'self' AS form, m.* FROM (${metricsBlock("tr")}) m " +
        "ORDER BY form, query_id"),
    "rag_eval_quant_forms" ->
      // outer base CTE is `eq`, NOT `q`: the nested family chains
      // each define their own `q` and DuckDB's binder rejects the
      // cross-scope duplicate
      (s"WITH eq AS (${KMeans.qSql}), " +
        s"qrows AS (SELECT vec_id AS qid, v AS qv FROM eq ORDER BY vec_id LIMIT ${KMeans.BatchQueries}), " +
        s"${truthCtesOn("eq")}, " +
        s"sys_adc AS MATERIALIZED (SELECT query_id, vec_id, CAST(rk AS INT) AS rk FROM (${ProductQuant.oracle("sim_adc_batch_topk")}) WHERE rk <= $EvalK), " +
        s"sys_opq AS MATERIALIZED ${singleSysSql(ProductQuant.oracle("sim_opq_ivfpq_topk"), "adc_dist")}, " +
        s"sys_opqrr AS MATERIALIZED ${singleSysSql(ProductQuant.oracle("sim_opq_rerank"), "exact_dist")}, " +
        s"sys_rr AS MATERIALIZED ${singleSysSql(ProductQuant.oracle("sim_ivfpq_rerank"), "exact_dist")}, " +
        s"sys_sq8 AS MATERIALIZED ${singleSysSql(ScalarQuant.oracle("sim_sq8_topk"), "sq_dist")} " +
        s"SELECT 'adc' AS form, m.* FROM (${metricsBlock("sys_adc")}) m " +
        s"UNION ALL SELECT 'opq' AS form, m.* FROM (${metricsBlock("sys_opq")}) m " +
        s"UNION ALL SELECT 'opq_rerank' AS form, m.* FROM (${metricsBlock("sys_opqrr")}) m " +
        s"UNION ALL SELECT 'rerank' AS form, m.* FROM (${metricsBlock("sys_rr")}) m " +
        s"UNION ALL SELECT 'sq8' AS form, m.* FROM (${metricsBlock("sys_sq8")}) m " +
        "ORDER BY form, query_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rag_eval_forms" -> (evalForms _),
    "rag_eval_quant_forms" -> (evalQuantForms _))
}
