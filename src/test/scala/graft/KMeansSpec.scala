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

  test("trainFramesGrouped equals per-group trainFrame, including a " +
      "group that exercises the empty-cell keep-previous path") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))))
    def row(g: Int, id: Long, v: Double*) =
      org.apache.spark.sql.Row(g, id, v.toSeq)
    val rows = Seq(
      // group 0: a spread set whose assignment shifts across rounds
      row(0, 1L, 0.1, 0.2, 0.3), row(0, 2L, 0.9, 0.8, 0.7),
      row(0, 3L, 0.15, 0.25, 0.35), row(0, 5L, 0.85, 0.75, 0.65),
      row(0, 8L, 0.5, 0.5, 0.5), row(0, 13L, 0.45, 0.55, 0.5),
      // group 1: ALL-IDENTICAL vectors — both init centroids
      // coincide, every member ties to cid 0, centroid 1 loses all
      // members and must keep its previous position (the
      // empty-cell COALESCE path, in both trainers)
      row(1, 4L, 0.3, 0.3, 0.3), row(1, 6L, 0.3, 0.3, 0.3),
      row(1, 7L, 0.3, 0.3, 0.3),
      // group 2: two tight clusters, different ids than group 0
      row(2, 9L, 0.0, 0.0, 1.0), row(2, 10L, 0.02, 0.01, 0.98),
      row(2, 11L, 1.0, 1.0, 0.0), row(2, 12L, 0.97, 0.99, 0.03))
    val df = spark.createDataFrame(rows.asJava, schema)
    val grouped = graft.ext.KMeans.trainFramesGrouped(df, 3, 2)
    val per = (0 until 3).map(g =>
      graft.ext.KMeans.trainFrame(
        df.filter(col("grp") === g).select(col("vec_id"), col("v")), 2))
    assert(grouped.size == 3)
    (0 until 3).foreach(g => assert(grouped(g) == per(g),
      s"group $g diverged:\n grouped=${grouped(g)}\n per-group=${per(g)}"))
  }
}
