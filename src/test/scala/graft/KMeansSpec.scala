package graft

import org.apache.spark.sql.functions._
import graft.ext.KMeans

class KMeansSpec extends SparkSpec {

  private def vectors: Array[(Long, Array[Double])] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  private def wcss(cents: Seq[(Int, Seq[Double])],
      vs: Array[(Long, Array[Double])]): Double =
    vs.map { case (_, v) =>
      cents.map { case (_, c) =>
        v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
      }.min
    }.sum

  test("trained assignment covers every vector with a cluster in [0, K)") {
    val a = KMeans.kmeansAssign(spark, sf)
    assert(a.count() == Tables.embeddings(spark, sf).count())
    assert(a.filter(col("cluster") < 0 || col("cluster") >= KMeans.K)
      .count() == 0)
    assert(a.select(col("cluster")).distinct().count() > 1,
      "training should keep multiple clusters populated")
  }

  test("Lloyd training does not increase within-cluster squared distance") {
    val vs = vectors
    val init = vs.sortBy(_._1).take(KMeans.K).zipWithIndex
      .map { case ((_, v), i) => (i, v.toSeq) }.toSeq
    val trained = KMeans.train(spark, sf)
    assert(wcss(trained, vs) <= wcss(init, vs),
      "trained centroids should fit at least as well as the init")
  }

  test("trained IVF probe: 5 rows, descending cosine, from one cell") {
    val t = KMeans.ivfTrainedTopK(spark, sf).collect()
    assert(t.length == 5)
    val cosines = t.map(_.getDouble(2)).toSeq
    assert(cosines == cosines.sortBy(-_), "results must be cosine-descending")
  }

  test("batched IVF: every query gets a ranked block; the min-id " +
    "query's block equals the single-query operator") {
    val batch = KMeans.ivfBatchTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4)))
    val qids = batch.map(_._1).distinct.sorted.toSeq
    assert(qids.length == KMeans.BatchQueries)
    for (q <- qids) {
      val rows = batch.filter(_._1 == q).sortBy(_._4).toSeq
      assert(rows.map(_._4) == (1 to 5), s"query $q ranks: ${rows.map(_._4)}")
      val cos = rows.map(_._3)
      assert(cos == cos.sortBy(-_), s"query $q not cosine-descending")
      assert(rows.forall(_._2 != q), s"query $q returned itself")
    }
    val single = KMeans.ivfTrainedTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val q0 = batch.filter(_._1 == qids.head).sortBy(_._4)
      .map(r => (r._2, r._3)).toSeq
    assert(q0 == single,
      "batch block for the min-id query must equal ivfTrainedTopK")
  }

  test("batched IVF over the cell-partitioned store: identical answers, " +
    "probe filter is partition pruning, no assignment in the scan") {
    val cents = KMeans.train(spark, sf)
    val store = graft.ops.Scratch.dir("graft_ivfcells") + "/cells"
    KMeans.writeCellVectors(spark, sf, store, cents)
    val qrows = KMeans.batchQueryRows(spark, sf)
    val steady = KMeans.ivfBatchTopKFromCells(spark, store, cents, qrows)
    val live = KMeans.ivfBatchTopKWith(spark, sf, cents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4)))
    val fed = steady.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getInt(4)))
    assert(fed.toSeq == live.toSeq,
      "store-served batch diverges from the live assignment form")
    // the steady plan must carry the probe as PartitionFilters and no
    // NearestCentroid assignment loop anywhere in the scan
    val plan = steady.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"probe filter did not become partition pruning:\n$plan")
    assert(!plan.contains("nearestcentroid"),
      s"steady scan must not re-assign raw vectors:\n$plan")
  }
}
