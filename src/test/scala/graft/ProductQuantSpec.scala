package graft

import org.apache.spark.sql.functions._
import graft.ext.{KMeans, ProductQuant}

class ProductQuantSpec extends SparkSpec {

  test("pq codes: one row per vector, every code in [0, Ks)") {
    val c = ProductQuant.pqCodes(spark, sf)
    assert(c.count() == Tables.embeddings(spark, sf).count())
    (0 until ProductQuant.M).foreach { m =>
      assert(c.filter(col(s"code$m") < 0 ||
        col(s"code$m") >= ProductQuant.Ks).count() == 0)
      assert(c.select(col(s"code$m")).distinct().count() > 1,
        s"subspace $m should use more than one code")
    }
  }

  test("adc distance equals independent exact table-lookup recomputation") {
    val cbs = ProductQuant.codebooks(spark, sf)
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val qv = vs.head._2
    // local replay: encode each vector by argmin (low-cid ties), then
    // sum the query's per-subspace distances to the assigned centroids
    def d2(a: Array[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, c)) => acc + (x - c) * (x - c) }
    val expect = vs.tail.map { case (id, v) =>
      val dist = (0 until ProductQuant.M).map { m =>
        val s = m * ProductQuant.SubDim
        val sub = v.slice(s, s + ProductQuant.SubDim)
        val code = cbs(m).map { case (cid, cv) => (d2(sub, cv), cid) }.min._2
        d2(qv.slice(s, s + ProductQuant.SubDim), cbs(m)(code)._2)
      }.reduceLeft(_ + _)
      (id, dist)
    }.sortBy { case (id, d) => (d, id) }.take(ProductQuant.TopK)
    val got = ProductQuant.pqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == expect.toSeq)
  }

  test("ivf-pq equals independent cell-filtered lookup recomputation") {
    val coarse = KMeans.train(spark, sf)
    val cbs = ProductQuant.codebooks(spark, sf)
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val qv = vs.head._2
    def d2(a: Array[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, c)) => acc + (x - c) * (x - c) }
    def coarseCell(v: Array[Double]): Int =
      coarse.map { case (cid, cv) => (d2(v, cv), cid) }.min._2
    val qCell = coarseCell(qv)
    val expect = vs.tail
      .filter { case (_, v) => coarseCell(v) == qCell }
      .map { case (id, v) =>
        val dist = (0 until ProductQuant.M).map { m =>
          val s = m * ProductQuant.SubDim
          val sub = v.slice(s, s + ProductQuant.SubDim)
          val code = cbs(m).map { case (cid, cv) => (d2(sub, cv), cid) }.min._2
          d2(qv.slice(s, s + ProductQuant.SubDim), cbs(m)(code)._2)
        }.reduceLeft(_ + _)
        (id, dist)
      }.sortBy { case (id, d) => (d, id) }.take(ProductQuant.TopK)
    val got = ProductQuant.ivfPqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == expect.toSeq)
  }

  test("adc over persisted codes equals the live pq top-k") {
    val cbs = ProductQuant.codebooks(spark, sf)
    val dir = graft.ops.Scratch.dir("pq_codes")
    ProductQuant.encodeWith(spark, sf, cbs)
      .write.mode("overwrite").parquet(dir)
    val (qid, dt) = ProductQuant.queryTable(spark, sf, cbs)
    val fed = ProductQuant.adcOverCodes(spark.read.parquet(dir), dt, qid)
      .collect().map(r => (r.getLong(0), r.get(1), r.getDouble(2)))
    val live = ProductQuant.pqTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.get(1), r.getDouble(2)))
    assert(fed.toSeq == live.toSeq)
  }

  test("the shared codes stores still prune cells when read with a " +
      "supplied schema") {
    val cellFilter = """PartitionFilters: \[[^\]]*\(cell#\d+ = \d+\)""".r
    Seq(ProductQuant.ivfPqTopK(spark, sf),
        ProductQuant.ivfPqResidualTopK(spark, sf)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(cellFilter.findFirstIn(plan).nonEmpty,
        s"expected a cell partition filter in:\n$plan")
    }
  }

  test("cell-partitioned codes: ADC equals the live IVF-PQ and prunes partitions") {
    val coarse = KMeans.train(spark, sf)
    val cbs = ProductQuant.codebooks(spark, sf)
    val dir = graft.ops.Scratch.dir("pq_cells")
    ProductQuant.encodeWithCells(spark, sf, coarse, cbs)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val (qid, qCell, dt) = ProductQuant.queryPrep(spark, sf, coarse, cbs)
    val pruned = ProductQuant.adcOverCodes(
      spark.read.parquet(dir).filter(col("cell") === qCell), dt, qid)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains(s"cell"), s"expected partition pruning in:\n$plan")
    val live = ProductQuant.ivfPqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val got = pruned.collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == live.toSeq)
  }

  test("multi-probe IVF-PQ recall is at least single-probe recall") {
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val qv = vs.head._2
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, c)) => acc + (x - c) * (x - c) }
    val exact = vs.tail.map { case (id, v) => (d2(v, qv), id) }
      .sortBy(identity).take(ProductQuant.TopK).map(_._2).toSet
    val p1 = ProductQuant.ivfPqTopK(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val p2 = ProductQuant.ivfPqTopKMultiProbe(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert((p2 intersect exact).size >= (p1 intersect exact).size,
      s"probing 2 cells must not lose exact-neighbour recall")
    assert(p1.subsetOf(p2) || p2.size == ProductQuant.TopK,
      "multi-probe candidates extend the single-probe cell")
  }

  test("residual IVF-PQ: recall >= raw IVF-PQ at equal M/Ks; same scan shape") {
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val qv = vs.head._2
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, c)) => acc + (x - c) * (x - c) }
    val exact = vs.tail.map { case (id, v) => (d2(v, qv), id) }
      .sortBy(identity).take(ProductQuant.TopK).map(_._2).toSet
    val raw = ProductQuant.ivfPqTopK(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val resid = ProductQuant.ivfPqResidualTopK(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val rawRecall = (raw intersect exact).size
    val residRecall = (resid intersect exact).size
    info(s"recall@${ProductQuant.TopK}: raw=$rawRecall residual=$residRecall")
    assert(residRecall >= rawRecall,
      s"residual encoding must not lose recall: $residRecall < $rawRecall")
  }

  test("OPQ chain: recall >= unrotated residual IVF-PQ; rotation " +
    "preserves the exact neighbour set") {
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val qv = vs.head._2
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, c)) => acc + (x - c) * (x - c) }
    val exact = vs.tail.map { case (id, v) => (d2(v, qv), id) }
      .sortBy(identity).take(ProductQuant.TopK).map(_._2).toSet
    // rotation is orthonormal: the exact top-k in rotated space is
    // the same set (distances preserved within fp tolerance), so the
    // raw-space exact set is the valid recall target for OPQ too
    val rot = graft.ext.ScalarQuant.rotationMatrix()
    val exactRot = vs.tail.map { case (id, v) =>
      (d2(graft.ext.ScalarQuant.rotateLocal(v, rot).toArray,
        graft.ext.ScalarQuant.rotateLocal(qv, rot).toArray), id)
    }.sortBy(identity).take(ProductQuant.TopK).map(_._2).toSet
    assert(exactRot == exact,
      "orthonormal rotation changed the exact neighbour set")
    val resid = ProductQuant.ivfPqResidualTopK(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val opq = ProductQuant.opqIvfPqTopK(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val residRecall = (resid intersect exact).size
    val opqRecall = (opq intersect exact).size
    info(s"recall@${ProductQuant.TopK}: residual=$residRecall opq=$opqRecall")
    assert(opqRecall >= residRecall,
      s"rotated chain must not lose recall: $opqRecall < $residRecall")
  }

  test("learned OPQ: rotation stays orthonormal, the objective descends " +
    "monotonically, and recall >= the seeded-rotation chain") {
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val sample = vs.take(ProductQuant.OpqSampleN).map(_._2.toSeq).toSeq
    // monotone descent is asserted INSIDE learnedRotation (a rising
    // objective throws) — this call exercises all OpqIters rounds
    val rot = ProductQuant.learnedRotation(sample)
    val d = rot.length
    for (i <- 0 until d; j <- i until d) {
      val dot = rot(i).zip(rot(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-8,
        s"R rows $i,$j not orthonormal: $dot")
    }
    // end-to-end comparison vs the seeded rotation, under RE-TRAINED
    // serving codebooks (the chain's own shape, replicated locally so
    // 20 queries stay cheap): the learned rotation must (a) lower the
    // corpus reconstruction error — the transfer of the objective it
    // optimizes on the sample — and (b) not lose mean recall over 20
    // spread queries. A single query's recall@10 on this 500-vector
    // corpus is inside its own noise (set-intersection variance),
    // which is why the multi-query mean is the asserted form.
    val (seededRecon, seededRecall) =
      evalRotation(vs, graft.ext.ScalarQuant.rotationMatrix())
    val (learnedRecon, learnedRecall) = evalRotation(vs, rot)
    info(f"recon: seeded=$seededRecon%.2f learned=$learnedRecon%.2f; " +
      f"recall20: seeded=$seededRecall%.3f learned=$learnedRecall%.3f")
    assert(learnedRecon < seededRecon,
      f"learned rotation should lower end-to-end reconstruction " +
        f"error: $learnedRecon%.2f >= $seededRecon%.2f")
    assert(learnedRecall >= seededRecall,
      f"learned rotation lost recall: $learnedRecall%.3f < " +
        f"$seededRecall%.3f")
    // and the served chain runs end-to-end (rows-only driver check)
    assert(ProductQuant.opqLearnedTopK(spark, sf).count() ==
      ProductQuant.TopK)
  }

  /** Local replica of the OPQ serving chain under a given rotation —
    * coarse + residual sub-quantizers re-trained on the rotated
    * corpus (trainLocal: bit-identical arithmetic to the frame
    * trainer), returning (corpus reconstruction error, mean recall@k
    * over 20 spread queries, each served from its coarse cell by
    * ADC). */
  private def evalRotation(vs: Array[(Long, Array[Double])],
      r: Seq[Seq[Double]]): (Double, Double) = {
    import graft.ext.ScalarQuant
    val M = ProductQuant.M; val SubDim = ProductQuant.SubDim
    def rot(x: Array[Double]): Array[Double] =
      ScalarQuant.rotateLocal(x.toSeq, r).toArray
    def nearest(v: Array[Double],
        cbs: Seq[(Int, Seq[Double])]): (Int, Seq[Double]) =
      cbs.minBy { case (cid, cv) =>
        (cv.zip(v).foldLeft(0.0) { case (a, (c, x)) =>
          a + (x - c) * (x - c) }, cid) }
    val rvecs = vs.map { case (id, v) => (id, rot(v)) }
    val coarse = KMeans.trainLocal(
      rvecs.map { case (id, v) => (id, v.toSeq) }.toSeq, KMeans.K)
    val resid = rvecs.map { case (id, v) =>
      val c = nearest(v, coarse)._2
      (id, v.zip(c).map { case (x, cc) => x - cc })
    }
    val rcbs = (0 until M).map { m =>
      KMeans.trainLocal(resid.map { case (id, rv) =>
        (id, rv.slice(m * SubDim, (m + 1) * SubDim).toSeq) }.toSeq,
        ProductQuant.Ks)
    }
    val recon = resid.map { case (_, rv) =>
      val y = (0 until M).flatMap { m =>
        nearest(rv.slice(m * SubDim, (m + 1) * SubDim), rcbs(m))._2 }
      rv.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum
    }.sum
    val cellOf = rvecs.map { case (id, v) =>
      id -> nearest(v, coarse)._1 }.toMap
    val residMap = resid.toMap
    var hit = 0; var tot = 0
    for (qi <- 0 until 20) {
      val (qid, qraw) = vs(qi * vs.length / 20)
      def d2(a: Array[Double], b: Array[Double]) =
        a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
          acc + (x - y) * (x - y) }
      val exact = vs.filter(_._1 != qid)
        .map { case (id, v) => (d2(v, qraw), id) }
        .sortBy(identity).take(ProductQuant.TopK).map(_._2).toSet
      val qr = rot(qraw)
      val qCell = nearest(qr, coarse)._1
      val qres = qr.zip(coarse.find(_._1 == qCell).get._2)
        .map { case (x, c) => x - c }
      val dt = (0 until M).map { m =>
        val sub = qres.slice(m * SubDim, (m + 1) * SubDim)
        rcbs(m).map { case (_, cv) =>
          cv.zip(sub).foldLeft(0.0) { case (a, (c, x)) =>
            a + (x - c) * (x - c) } }
      }
      val adc = rvecs.filter { case (id, _) =>
        id != qid && cellOf(id) == qCell }
        .map { case (id, _) =>
          val rv = residMap(id)
          val dist = (0 until M).map { m =>
            val sub = rv.slice(m * SubDim, (m + 1) * SubDim)
            val code = rcbs(m).zipWithIndex.minBy { case ((cid, cv), _) =>
              (cv.zip(sub).foldLeft(0.0) { case (a, (c, x)) =>
                a + (x - c) * (x - c) }, cid) }._2
            dt(m)(code)
          }.sum
          (dist, id)
        }.sortBy(identity).take(ProductQuant.TopK).map(_._2).toSet
      hit += (adc intersect exact).size; tot += ProductQuant.TopK
    }
    (recon, hit.toDouble / tot)
  }

  test("residual codes table: ADC equals the live residual IVF-PQ and prunes") {
    val coarse = KMeans.train(spark, sf)
    val rcbs = ProductQuant.residualCodebooks(spark, sf, coarse)
    val dir = graft.ops.Scratch.dir("pq_resid")
    ProductQuant.encodeWithCellsResidual(spark, sf, coarse, rcbs)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val (qid, qCell, dt) =
      ProductQuant.queryPrepResidual(spark, sf, coarse, rcbs)
    val pruned = ProductQuant.adcOverCodes(
      spark.read.parquet(dir).filter(col("cell") === qCell), dt, qid)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      s"expected partition pruning in:\n$plan")
    val live = ProductQuant.ivfPqResidualTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val got = pruned.collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == live.toSeq)
  }

  test("exact re-rank rung: recall >= residual ADC; distances exact and ordered") {
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val byId = vs.toMap
    val qv = vs.head._2
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, c)) => acc + (x - c) * (x - c) }
    val exact = vs.tail.map { case (id, v) => (d2(v, qv), id) }
      .sortBy(identity).take(ProductQuant.TopK).map(_._2).toSet
    val resid = ProductQuant.ivfPqResidualTopK(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val rerank = ProductQuant.ivfPqRerankTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val rerankRecall = (rerank.map(_._1).toSet intersect exact).size
    val residRecall = (resid intersect exact).size
    info(s"recall@${ProductQuant.TopK}: residual=$residRecall rerank=$rerankRecall")
    assert(rerankRecall >= residRecall,
      s"exact re-rank must not lose recall: $rerankRecall < $residRecall")
    // every reported distance is the TRUE exact L2 (same left-to-right
    // IEEE fold), and the output is (dist, vec_id)-sorted — the two
    // properties that make this rung "exact on its candidate set"
    rerank.foreach { case (id, d) =>
      assert(d == d2(byId(id), qv), s"vec $id: $d != exact ${d2(byId(id), qv)}")
    }
    assert(rerank.sortBy { case (id, d) => (d, id) }.toSeq == rerank.toSeq)
    // the k′ raw-vector fetches must reach the scan as a pushed-down
    // In predicate (row-group prunable), not a join against a full scan
    val plan = ProductQuant.ivfPqRerankTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(vec_id"),
      s"expected the candidate ids pushed into the parquet scan:\n$plan")
    assert(!plan.contains("Join"), s"re-rank must not join:\n$plan")
  }

  test("OPQ store: served top-k equals the live chain bit for bit; " +
      "the rerank rung is exact-on-candidates and loses no recall") {
    val store = ProductQuant.opqStoreFor(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.get(1), r.getDouble(2))).toSeq
    // serve == rebuild: same ids, labels, AND raw double distances
    assert(rows(ProductQuant.opqServedTopK(spark, sf, store)) ==
      rows(ProductQuant.opqIvfPqTopK(spark, sf)),
      "persisted-store serve must replay the live OPQ chain exactly")
    // the rerank rung: exact rotated-space distances (an isometry of
    // the true L2), ordered, recall >= the ADC form on the exact
    // same-metric truth
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val qv = vs.head._2
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, c)) => acc + (x - c) * (x - c) }
    val exact = vs.tail.map { case (id, v) => (d2(v, qv), id) }
      .sortBy(identity).take(ProductQuant.TopK).map(_._2).toSet
    val adcIds = ProductQuant.opqServedTopK(spark, sf, store)
      .collect().map(_.getLong(0)).toSet
    val rr = ProductQuant.opqRerankServedTopK(spark, sf, store).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val rrRecall = (rr.map(_._1).toSet intersect exact).size
    val adcRecall = (adcIds intersect exact).size
    info(s"OPQ recall@${ProductQuant.TopK}: adc=$adcRecall rerank=$rrRecall")
    assert(rrRecall >= adcRecall,
      s"OPQ exact re-rank must not lose recall: $rrRecall < $adcRecall")
    // rotated-space exact distance == original-space exact distance
    // up to ulps (isometry); assert the ORDER is exactly the true
    // exact order on the candidate set (ranking is the contract)
    assert(rr.sortBy { case (id, d) => (d, id) }.toSeq == rr.toSeq)
    val byId = vs.toMap
    rr.foreach { case (id, d) =>
      assert(math.abs(d - d2(byId(id), qv)) <= 1e-9 * (1.0 + d),
        s"vec $id: rotated exact $d far from true ${d2(byId(id), qv)}")
    }
  }

  test("residual multi-probe: recall >= residual single-probe and >= raw multi-probe") {
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val qv = vs.head._2
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, c)) => acc + (x - c) * (x - c) }
    val exact = vs.tail.map { case (id, v) => (d2(v, qv), id) }
      .sortBy(identity).take(ProductQuant.TopK).map(_._2).toSet
    def recall(ids: Set[Long]) = (ids intersect exact).size
    val residP1 = ProductQuant.ivfPqResidualTopK(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val rawP2 = ProductQuant.ivfPqTopKMultiProbe(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val residP2 = ProductQuant.ivfPqResidualTopKMultiProbe(spark, sf)
      .collect().map(_.getLong(0)).toSet
    info(s"recall@${ProductQuant.TopK}: residP1=${recall(residP1)} " +
      s"rawP2=${recall(rawP2)} residP2=${recall(residP2)}")
    assert(recall(residP2) >= recall(residP1),
      "probing a second cell must not lose residual recall")
    assert(recall(residP2) >= recall(rawP2),
      "residual encoding must not lose recall vs raw at the same nprobe")
  }

  test("ADC over codes plans one exchange only (the final top-k gather)") {
    val cbs = ProductQuant.codebooks(spark, sf)
    val dir = graft.ops.Scratch.dir("pq_plan")
    ProductQuant.encodeWith(spark, sf, cbs)
      .write.mode("overwrite").parquet(dir)
    val (qid, dt) = ProductQuant.queryTable(spark, sf, cbs)
    val plan = ProductQuant.adcOverCodes(spark.read.parquet(dir), dt, qid)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition take, not a global sort:\n$plan")
    assert(!plan.contains("Join"), s"ADC must not join:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1,
      s"expected at most the final K-row gather exchange, got $exchanges:\n$plan")
  }

  test("adc top-k recalls some of the exact same-metric (L2) top-k") {
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val qv = vs.head._2
    val ranked = vs.tail.map { case (id, v) =>
      (v.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum, id)
    }.sorted.map(_._2)
    val rank = ranked.zipWithIndex.toMap
    val approx = ProductQuant.pqTopK(spark, sf)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val ranks = approx.map(rank)
    val meanRank = ranks.sum.toDouble / ranks.length
    // random top-10 from 499 candidates would average rank ~249; the
    // coarse 4×8 quantizer must land far closer than chance and put at
    // least one true top-k neighbour in its top-k
    assert(meanRank < 125.0, s"mean exact-L2 rank $meanRank (ranks ${ranks.toSeq})")
    assert(ranks.min < ProductQuant.TopK,
      s"no true top-${ProductQuant.TopK} neighbour recalled (ranks ${ranks.toSeq})")
  }

  test("batched residual ADC: block slice equals single-query form; codes-fed prunes") {
    val coarse = KMeans.train(spark, sf)
    val rcbs = ProductQuant.residualCodebooks(spark, sf, coarse)
    val prepped = ProductQuant.batchQueryPrepResidual(spark, sf, coarse, rcbs)
    val live = ProductQuant.adcBatchTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getInt(4)))
    // every query answers exactly TopK ranked rows, ascending distance
    val byQ = live.groupBy(_._1)
    assert(byQ.keySet == prepped.map(_._1).toSet)
    byQ.values.foreach { rs =>
      assert(rs.length == ProductQuant.TopK)
      assert(rs.map(_._5).sorted.toSeq == (1 to ProductQuant.TopK))
      val sorted = rs.sortBy(_._5)
      assert(sorted.map(r => (r._4, r._2)).toSeq ==
        sorted.map(r => (r._4, r._2)).sortBy(identity).toSeq)
    }
    // the min-id query's block slice IS the single-query residual ADC
    val q0 = prepped.map(_._1).min
    val single = ProductQuant.ivfPqResidualTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(live.filter(_._1 == q0).sortBy(_._5)
      .map(r => (r._2, r._4)).toSeq == single.toSeq)
    // codes-store-fed form: identical rows, partition-pruned scan
    val dir = graft.ops.Scratch.dir("pq_batch")
    ProductQuant.encodeWithCellsResidual(spark, sf, coarse, rcbs)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val fed = ProductQuant.adcBatchTopKOverCoded(
      spark.read.parquet(dir), prepped)
    val plan = fed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      s"expected partition pruning in:\n$plan")
    val got = fed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getInt(4)))
    assert(got.toSeq == live.toSeq)
  }

  test("vector-gold vacuum: codes rebuild to the retained re-encode, " +
      "gold bytes reclaim, the watermark survives, re-vacuum no-ops") {
    import java.nio.file.Files
    import graft.ext.{KMeans, ProductQuant}
    val base = graft.ops.Scratch.dir("graft_pq_vac")
    val goldDir = s"$base/gold"; val codesDir = s"$base/codes"
    val e = Tables.embeddings(spark, sf)
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    val coarse = KMeans.train(spark, sf)
    val rcbs = ProductQuant.residualCodebooks(spark, sf, coarse)
    graft.ops.StoreCommit.replace(goldDir)(e.write.parquet(_))
    graft.ops.StoreFiles.writeIdWatermark(goldDir, maxId)
    graft.ops.StoreFiles.createMarker(goldDir, "_ids_synced")
    ProductQuant.rebuildCodes(spark, goldDir, codesDir, coarse, rcbs)
    def cast(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("label").cast("long"),
          col("cell").cast("int"),
          col("code0"), col("code1"), col("code2"), col("code3"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toSet
    val rem = e.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
    val (n, bytes) = ProductQuant.vacuumVectorGold(spark, rem,
      goldDir, codesDir, coarse, rcbs)
    assert(n == rem.count() && bytes > 0)
    assert(graft.ops.StoreCommit.read(spark, goldDir)
      .filter(col("vec_id") % 9 === 4).isEmpty)
    assert(codeRows(graft.ops.StoreCommit.read(spark, codesDir)) == codeRows(
      ProductQuant.encodeFrameResidual(
        cast(e.filter(col("vec_id") % 9 =!= 4)), coarse, rcbs)),
      "vacuumed codes must equal the retained re-encode")
    // pre-removal watermark survives (replayed old batches must drop)
    assert(graft.ops.StoreFiles.readIdWatermark(goldDir)
      .contains(maxId))
    assert(graft.ops.StoreFiles.markerExists(goldDir, "_ids_synced"))
    // the permanent log holds the removed ids; re-vacuum no-ops
    assert(graft.ops.SinkGuard.removedIds(spark, goldDir)
      .get.count() == n)
    assert(ProductQuant.vacuumVectorGold(spark, rem, goldDir,
      codesDir, coarse, rcbs) == ((0L, 0L)))
  }

  private def writeEmbeddings(dir: String, seed: Int, n: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val rows = (0 until n).map { i =>
      org.apache.spark.sql.Row(i.toLong, s"l${i % 3}",
        Seq.tabulate(64)(d => ((i * 31 + d * 7 + seed) % 13) / 13.0))
    }.asJava
    spark.createDataFrame(rows, schema)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  test("residualCodebooks rejects custom coarse centroids even after " +
      "the per-dir memo is warm (r17 verdict: the guard used to sit " +
      "inside the memoized block and only fired for the first payer)") {
    val dir = graft.ops.Scratch.dir("r18rc")
    writeEmbeddings(dir, seed = 1, n = 40)
    val coarse = graft.ext.KMeans.train(spark, dir)
    // first payer with the canonical coarse — warms the memo
    val rcbs = graft.ext.ProductQuant.residualCodebooks(spark, dir, coarse)
    assert(rcbs.nonEmpty)
    // a custom-trained coarse after the memo is warm must fail loudly,
    // not silently receive the default-coarse codebooks
    val custom = coarse.map { case (cid, c) =>
      (cid, c.map(_ * 0.5))
    }
    val e = intercept[IllegalArgumentException] {
      graft.ext.ProductQuant.residualCodebooks(spark, dir, custom)
    }
    assert(e.getMessage.contains("residualCodebooks"),
      s"unexpected message: ${e.getMessage}")
  }
}
