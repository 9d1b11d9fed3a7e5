package graft

import org.apache.spark.sql.functions._
import graft.ext.{ClusterOps, KMeans, TextOps}

class ClusterOpsSpec extends SparkSpec {

  test("cluster card partitions the corpus: docs sum to corpus size, " +
      "token totals sum to the direct token count") {
    val card = ClusterOps.clusterCard(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(card.map(_.getAs[Long]("docs")).sum == docs.count())
    val directTokens = docs
      .select(sum(size(TextOps.tokens(col("text"))).cast("long")))
      .head().getLong(0)
    assert(card.map(_.getAs[Long]("total_tokens")).sum == directTokens)
  }

  test("cluster card internal consistency: modal counts bounded by " +
      "docs, source spread at least 1, clusters in [0, K)") {
    val card = ClusterOps.clusterCard(spark, sf).collect()
    assert(card.nonEmpty)
    card.foreach { r =>
      val docs = r.getAs[Long]("docs")
      assert(r.getAs[Int]("cluster") >= 0 &&
        r.getAs[Int]("cluster") < KMeans.K)
      assert(r.getAs[Long]("top_source_docs") <= docs)
      assert(r.getAs[Long]("top_label_docs") <= docs)
      assert(r.getAs[Long]("n_sources") >= 1L)
      // the modal source must cover at least docs / n_sources
      // (pigeonhole) — catches a tie-break that picks a minority row
      assert(r.getAs[Long]("top_source_docs") * r.getAs[Long]("n_sources")
        >= docs)
    }
  }

  test("served card equals the live card row for row") {
    val live = ClusterOps.clusterCard(spark, sf).collect().toSeq
    val served = ClusterOps.clusterCardServed(spark, sf).collect().toSeq
    assert(served == live)
  }

  test("served card plan has no assignment leg (cluster comes from " +
      "the store's partition column)") {
    // the live form must score centroids; the served form must not
    val livePlan = ClusterOps.clusterCard(spark, sf)
      .queryExecution.executedPlan.toString
    assert(livePlan.toLowerCase.contains("nearestcentroid"))
    val cents = KMeans.train(spark, sf)
    val cellsDir = graft.ops.Scratch.dir("graft_clu_spec") + "/cells"
    KMeans.writeCellVectors(spark, sf, cellsDir, cents)
    val servedPlan = spark.read.parquet(cellsDir)
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
      .queryExecution.executedPlan.toString
    assert(!servedPlan.toLowerCase.contains("nearestcentroid"))
  }

  test("cluster-balanced sample: per-cluster count = min(cell size, " +
      "quota), ranks dense from 1, deterministic across runs") {
    val sizes = ClusterOps.clusterCard(spark, sf)
      .select(col("cluster"), col("docs")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val s = ClusterOps.clusterBalanceSample(spark, sf).collect()
    val byCluster = s.groupBy(_.getAs[Int]("cluster"))
    byCluster.foreach { case (c, rows) =>
      assert(rows.length ==
        math.min(sizes(c), ClusterOps.BalancePerCluster.toLong))
      assert(rows.map(_.getAs[Int]("sample_rank")).sorted.toSeq ==
        (1 to rows.length))
    }
    val again = ClusterOps.clusterBalanceSample(spark, sf).collect()
    assert(again.toSeq == s.toSeq)
  }

  test("knn graph: neighbors share the cell, ranks dense from 1, " +
      "count = min(KnnK, cell size - 1)") {
    val cells = KMeans.kmeansAssign(spark, sf)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sizes = cells.values.groupBy(identity).map { case (c, v) =>
      c -> v.size
    }
    val g = ClusterOps.knnGraph(spark, sf).collect()
    val byVec = g.groupBy(_.getAs[Long]("vec_id"))
    // every vector in a cell of size >= 2 has edges
    assert(byVec.keySet == cells.filter { case (_, c) =>
      sizes(c) >= 2 }.keySet)
    byVec.foreach { case (v, rows) =>
      val expect = math.min(ClusterOps.KnnK, sizes(cells(v)) - 1)
      assert(rows.length == expect, s"vec $v")
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to expect))
      rows.foreach(r =>
        assert(cells(r.getAs[Long]("nbr_id")) == cells(v),
          s"neighbor crosses cells for vec $v"))
    }
  }

  test("knn graph top-1 matches a local in-cell argmax re-derivation") {
    val assigned = KMeans.kmeansAssign(spark, sf)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val top1 = ClusterOps.knnGraph(spark, sf)
      .filter(col("rk") === 1).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("nbr_id")).toMap
    // spot-check 25 vectors: the rank-1 neighbor is the in-cell argmax
    top1.keys.toSeq.sorted.take(25).foreach { v =>
      val cell = assigned(v)
      val best = assigned.collect {
        case (o, c) if c == cell && o != v => o
      }.map(o => (-cos(vs(v), vs(o)), o)).min._2
      assert(top1(v) == best, s"vec $v")
    }
  }

  test("served balance sample equals the live sample row for row") {
    val live = ClusterOps.clusterBalanceSample(spark, sf).collect().toSeq
    val served = ClusterOps.clusterBalanceServed(spark, sf)
      .collect().toSeq
    assert(served == live)
  }

  test("knn graph recall vs exact kNN: the single-probe approximation " +
      "keeps most true neighbors on this corpus") {
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    // exact top-KnnK per vector, brute force over the 500-vector
    // fixture (the quarantined exactness baseline, test-scale only)
    val exact = vs.map { case (v, av) =>
      v -> vs.collect { case (o, ao) if o != v => (-cos(av, ao), o) }
        .sorted.take(ClusterOps.KnnK).map(_._2).toSet
    }.toMap
    val approx = ClusterOps.knnGraph(spark, sf).collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (v, rows) => v -> rows.map(_.getAs[Long]("nbr_id")).toSet }
    val hits = approx.map { case (v, nbrs) =>
      (nbrs & exact(v)).size
    }.sum.toDouble
    val total = approx.size.toDouble * ClusterOps.KnnK
    val recall = hits / total
    info(f"knn graph recall@${ClusterOps.KnnK} = $recall%.3f")
    // measured regime on this fixture: 0.278 — single-probe recall is
    // BOUNDED by cell boundaries (a true neighbor in another L2 cell
    // is unreachable, and the fixture's cosine neighborhoods straddle
    // the L2-trained cells). The floor pins the regime so a ranking
    // or assignment regression (recall → ~random ≈ 3/cell-size) still
    // fails loudly; the multi-probe graph below is the recall knob.
    assert(recall >= 0.2, f"recall $recall%.3f below the 0.2 floor")
    // the multi-probe form must strictly dominate: same ranking over
    // a candidate set that includes every single-probe candidate
    val approx2 = ClusterOps.knnGraphP2(spark, sf).collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (v, rows) => v -> rows.map(_.getAs[Long]("nbr_id")).toSet }
    val hits2 = approx2.map { case (v, nbrs) =>
      (nbrs & exact(v)).size
    }.sum.toDouble
    val recall2 = hits2 / (approx2.size.toDouble * ClusterOps.KnnK)
    info(f"knn graph multi-probe recall@${ClusterOps.KnnK} = $recall2%.3f")
    assert(recall2 >= recall,
      f"multi-probe recall $recall2%.3f below single-probe $recall%.3f")
    assert(recall2 >= 0.4,
      f"multi-probe recall $recall2%.3f below the 0.4 floor")
  }

  test("knn communities match a local union-find over the same edges") {
    val edges = ClusterOps.knnGraph(spark, sf)
      .select(col("vec_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = Tables.embeddings(spark, sf)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = ids.map(i => i -> find(i)).toMap
    val got = ClusterOps.knnCommunities(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("community keep-best: one kept doc per community, the kept doc " +
      "is the community's quality argmax") {
    val kb = ClusterOps.knnKeepBest(spark, sf).collect()
    val byComm = kb.groupBy(_.getAs[Long]("community_id"))
    byComm.foreach { case (c, rows) =>
      val kept = rows.filter(_.getAs[Boolean]("kept"))
      assert(kept.length == 1, s"community $c")
      val best = rows.map(r => (-r.getAs[Double]("quality_score"),
        r.getAs[Long]("doc_id"))).min._2
      assert(kept.head.getAs[Long]("doc_id") == best, s"community $c")
    }
    // every embedded doc is triaged exactly once
    assert(kb.map(_.getAs[Long]("doc_id")).distinct.length ==
      Tables.embeddings(spark, sf).count())
  }

  test("community histogram conserves the corpus: sum of members x " +
      "n_communities equals the vector count") {
    val h = ClusterOps.knnCommunityHistogram(spark, sf).collect()
    val total = h.map(r =>
      r.getAs[Long]("members") * r.getAs[Long]("n_communities")).sum
    assert(total == Tables.embeddings(spark, sf).count())
  }

  test("knn graph batch merge equals the frozen-quantizer full rebuild") {
    import graft.ext.KMeans
    val vs = KMeans.vecs(spark, sf)
    val cut = vs.agg(floor(max(col("vec_id")) * lit(0.8)).cast("long"))
      .head().getLong(0)
    val cents = KMeans.trainFrame(
      vs.filter(col("vec_id") <= cut).select(col("vec_id"), col("v")),
      KMeans.K)
    // the rebuild: EVERY vector assigned under the frozen gold
    // quantizer, full graph
    val rebuild = ClusterOps.knnGraphOn(
      vs.select(col("vec_id"),
        KMeans.assignOn(col("v"), cents).as("cell"), col("v")))
      .collect().toSeq
    val merged = ClusterOps.knnGraphBatchMerge(spark, sf).collect().toSeq
    assert(merged == rebuild)
    // and the merge actually covers the batch side
    assert(merged.exists(_.getAs[Long]("vec_id") > cut))
  }

  test("store-fed knn merge equals the rebuild and prunes untouched " +
      "cells statically") {
    import graft.ext.KMeans
    val vs = KMeans.vecs(spark, sf)
    val cut = vs.agg(floor(max(col("vec_id")) * lit(0.8)).cast("long"))
      .head().getLong(0)
    val cents = KMeans.trainFrame(
      vs.filter(col("vec_id") <= cut).select(col("vec_id"), col("v")),
      KMeans.K)
    def assigned(f: org.apache.spark.sql.DataFrame) =
      f.select(col("vec_id"),
        KMeans.assignOn(col("v"), cents).as("cell"), col("v"))
    val edgesDir = graft.ops.Scratch.dir("graft_knn_edges") + "/edges"
    ClusterOps.writeKnnEdges(assigned(vs.filter(col("vec_id") <= cut)),
      edgesDir)
    val merged = ClusterOps.knnGraphMergeFromEdges(spark, edgesDir,
      assigned(vs), cut + 1).collect().toSeq
    val rebuild = ClusterOps.knnGraphOn(assigned(vs)).collect().toSeq
    assert(merged == rebuild)
  }

  test("edges-store append equals the full rebuild and leaves " +
      "untouched cell partitions' files byte-identical") {
    import graft.ext.KMeans
    val vs = KMeans.vecs(spark, sf)
    // a SMALL batch (the last 5 ids) so some cells stay untouched —
    // at most 5 of the K=10 partitions can be overwritten
    val cut = vs.agg(max(col("vec_id")).cast("long"))
      .head().getLong(0) - 5
    val cents = KMeans.trainFrame(
      vs.filter(col("vec_id") <= cut).select(col("vec_id"), col("v")),
      KMeans.K)
    def assigned(f: org.apache.spark.sql.DataFrame) =
      f.select(col("vec_id"),
        KMeans.assignOn(col("v"), cents).as("cell"), col("v"))
    val edgesDir = graft.ops.Scratch.dir("graft_knn_append_spec") + "/edges"
    ClusterOps.writeKnnEdges(assigned(vs.filter(col("vec_id") <= cut)),
      edgesDir)
    val touched = assigned(vs.filter(col("vec_id") > cut))
      .select(col("cell")).distinct().collect().map(_.getInt(0)).toSet
    assert(touched.nonEmpty && touched.size < graft.ext.KMeans.K,
      s"fixture regime: batch must touch a strict subset, got $touched")
    // snapshot (name, size, mtime) of every untouched partition file
    def files(cellDirOk: Int => Boolean): Map[String, (Long, Long)] = {
      val root = new java.io.File(edgesDir)
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("cell="))
        .filter(d => cellDirOk(d.getName.stripPrefix("cell=").toInt))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified()))
        .toMap
    }
    val beforeUntouched = files(c => !touched.contains(c))
    ClusterOps.appendKnnEdges(spark, edgesDir, assigned(vs), cut + 1)
    // untouched partitions: exactly the same files, untouched on disk
    assert(files(c => !touched.contains(c)) == beforeUntouched,
      "append must not rewrite untouched cell partitions")
    // store content == full rebuild under the same frozen quantizer
    val store = spark.read.parquet(edgesDir)
      .select(col("vec_id"), col("rk").cast("int").as("rk"),
        col("nbr_id"), col("cosine"))
      .orderBy(col("vec_id"), col("rk")).collect().toSeq
    val rebuild = ClusterOps.knnGraphOn(assigned(vs)).collect().toSeq
    assert(store == rebuild)
    // idempotent: re-appending the same batch changes nothing
    ClusterOps.appendKnnEdges(spark, edgesDir, assigned(vs), cut + 1)
    assert(spark.read.parquet(edgesDir)
      .select(col("vec_id"), col("rk").cast("int").as("rk"),
        col("nbr_id"), col("cosine"))
      .orderBy(col("vec_id"), col("rk")).collect().toSeq == rebuild)
  }

  test("sub-quantized store multi-probe: cell2 is a distinct in-coarse " +
      "runner-up and the p2 graph's recall dominates single-probe") {
    import graft.ext.Dedup
    val vecs = KMeans.vecs(spark, sf)
    val (coarse, subs) = Dedup.trainSemanticQuantizers(vecs, Dedup.SubK)
    val assigned = Dedup.assignSemanticCells(vecs, coarse, subs,
      Dedup.SubK).localCheckpoint()
    // cell2 != cell always, and both land in the same coarse block
    assigned.select(col("cell"), col("cell2")).collect().foreach { r =>
      val (c, c2) = (r.getInt(0), r.getInt(1))
      assert(c2 != c, s"runner-up equals primary: $c")
      assert(c / Dedup.SubK == c2 / Dedup.SubK,
        s"runner-up leaves the coarse block: $c vs $c2")
    }
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val exact = vs.map { case (v, av) =>
      v -> vs.collect { case (o, ao) if o != v => (-cos(av, ao), o) }
        .sorted.take(ClusterOps.KnnK).map(_._2).toSet
    }.toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val g = df.collect().groupBy(_.getAs[Long]("vec_id"))
        .map { case (v, rows) =>
          v -> rows.map(_.getAs[Long]("nbr_id")).toSet }
      g.map { case (v, nbrs) => (nbrs & exact(v)).size }.sum.toDouble /
        (g.size.toDouble * ClusterOps.KnnK)
    }
    val r1 = recallOf(ClusterOps.knnGraphOn(
      assigned.select(col("vec_id"), col("cell"), col("v"))))
    val r2 = recallOf(ClusterOps.knnGraphP2On(assigned))
    info(f"sub-store recall@${ClusterOps.KnnK}: p1 $r1%.3f p2 $r2%.3f")
    // the p2 candidate set strictly contains p1's (cell2 != cell),
    // so recall is monotone >= — the dominance claim at the
    // artifact the 100x tier rides
    assert(r2 >= r1, f"p2 recall $r2%.3f below single-probe $r1%.3f")
  }

  test("incremental communities equal the full frozen-quantizer CC " +
      "rebuild (cell-confinement: touched rerun + untouched carry)") {
    import graft.ext.KMeans
    val vs = KMeans.vecs(spark, sf)
    val cut = vs.agg(floor(max(col("vec_id")) * lit(0.8)).cast("long"))
      .head().getLong(0)
    val cents = KMeans.trainFrame(
      vs.filter(col("vec_id") <= cut).select(col("vec_id"), col("v")),
      KMeans.K)
    val allEdges = ClusterOps.knnGraphOn(
      vs.select(col("vec_id"),
        KMeans.assignOn(col("v"), cents).as("cell"), col("v")))
      .select(col("vec_id").as("doc_a"), col("nbr_id").as("doc_b"))
    val (labels, _) = graft.ext.Dedup.connectedComponents(allEdges)
    val rebuild = vs.select(col("vec_id"))
      .join(labels, vs("vec_id") === labels("doc_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("community_id"))
      .orderBy(col("vec_id")).collect().toSeq
    val merged = ClusterOps.knnCommunitiesMerge(spark, sf)
      .collect().toSeq
    assert(merged == rebuild)
  }

  test("cluster-balanced sample keeps the lowest-hash docs per cell") {
    // re-derive one cell's expected quota locally from the full
    // assignment — the salted two-phase rank must not change WHICH
    // rows survive, only how the rank is computed
    val assigned = KMeans.kmeansAssign(spark, sf)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val cell = assigned.groupBy(_._2).maxBy(_._2.length)._1
    val expect = assigned.filter(_._2 == cell).map(_._1)
      .sortBy(id => (graft.ext.Sampling.mixHashLocal(id), id))
      .take(ClusterOps.BalancePerCluster).toSet
    val got = ClusterOps.clusterBalanceSample(spark, sf)
      .filter(col("cluster") === cell)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("card-aggregate merge equals the full frozen-quantizer card " +
      "and leaves untouched cluster partitions' files byte-identical") {
    import graft.ext.KMeans
    import org.apache.spark.sql.functions._
    val vs = KMeans.vecs(spark, sf)
    // a SMALL batch (the last 5 ids) so some clusters stay untouched
    val cut = vs.agg(max(col("vec_id")).cast("long"))
      .head().getLong(0) - 5
    val cents = KMeans.trainFrame(
      vs.filter(col("vec_id") <= cut).select(col("vec_id"), col("v")),
      KMeans.K)
    val assigned = vs.select(col("vec_id"), col("label"),
      KMeans.assignOn(col("v"), cents).as("cluster"))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(graft.ext.TextOps.tokens(col("text"))).cast("long")
          .as("n_tokens"))
    val j = assigned.join(docs, assigned("vec_id") === docs("doc_id"))
      .select(col("doc_id"), col("cluster"), col("label"),
        col("source"), col("n_tokens"))
    val aggDir = graft.ops.Scratch.dir("graft_card_agg_spec") + "/agg"
    ClusterOps.writeClusterCardAgg(j.filter(col("doc_id") <= cut), aggDir)
    val touched = j.filter(col("doc_id") > cut)
      .select(col("cluster")).distinct().collect().map(_.getInt(0)).toSet
    assert(touched.nonEmpty && touched.size < KMeans.K,
      s"fixture regime: batch must touch a strict subset, got $touched")
    def files(sub: String,
        ok: Int => Boolean): Map[String, (Long, Long)] = {
      val root = new java.io.File(s"$aggDir/$sub")
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("cluster="))
        .filter(d => ok(d.getName.stripPrefix("cluster=").toInt))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified()))
        .toMap
    }
    val beforeSrc = files("src", c => !touched.contains(c))
    val beforeLab = files("lab", c => !touched.contains(c))
    ClusterOps.mergeClusterCardAgg(spark, aggDir,
      j.filter(col("doc_id") > cut))
    assert(files("src", c => !touched.contains(c)) == beforeSrc &&
      files("lab", c => !touched.contains(c)) == beforeLab,
      "merge must not rewrite untouched cluster partitions")
    // store-card == the card computed directly over the full frame
    // under the same frozen quantizer (merge == rebuild)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val fromStore = rows(ClusterOps.clusterCardFromAgg(spark, aggDir))
    // the live rebuild: group the SAME joined frame the artifact
    // accumulated (private cardOn path, reached via the public merge
    // gate entry's oracle at the driver; here via a direct groupBy)
    val perSrc = j.groupBy(col("cluster"), col("source"))
      .agg(count(lit(1)).as("sdocs"), sum(col("n_tokens")).as("stoks"))
    val srcStore = spark.read.parquet(s"$aggDir/src")
      .select(col("cluster").cast("int").as("cluster"), col("source"),
        col("sdocs"), col("stoks"))
    assert(rows(srcStore.orderBy(col("cluster"), col("source"))) ==
      rows(perSrc.orderBy(col("cluster"), col("source"))),
      "merged src aggregate must equal the full re-aggregate")
    assert(fromStore.nonEmpty)
    // the ATOMIC fold (the streaming sink's form) lands the same
    // merged aggregates, with the replay watermark committed inside
    // the same swap — store and watermark can never disagree
    val swapDir = graft.ops.Scratch.dir("graft_card_swap_spec") + "/agg"
    ClusterOps.writeClusterCardAgg(j.filter(col("doc_id") <= cut), swapDir)
    val maxId = j.agg(max(col("doc_id"))).head().getLong(0)
    ClusterOps.foldClusterCardAgg(spark, swapDir,
      j.filter(col("doc_id") > cut), maxId)
    assert(rows(ClusterOps.clusterCardFromAgg(spark, swapDir)) == fromStore,
      "atomic fold must equal the dynamic-overwrite merge")
    assert(graft.ops.StoreFiles.readIdWatermark(swapDir) == Some(maxId),
      "the watermark must be part of the swapped artifact")
    // NOT idempotent by design: the merge is an aggregate FOLD, so a
    // replayed batch would double-count — replay protection is the
    // CALLER's contract (the sinks' id-watermark guard), unlike the
    // knn append whose whole-partition overwrite self-dedups
    ClusterOps.mergeClusterCardAgg(spark, aggDir,
      j.filter(col("doc_id") > cut))
    val doubled = spark.read.parquet(s"$aggDir/src")
      .filter(col("cluster").isin(touched.toSeq.map(Integer.valueOf): _*))
      .agg(sum(col("sdocs"))).head().getLong(0)
    val single = perSrc
      .filter(col("cluster").isin(touched.toSeq.map(Integer.valueOf): _*))
      .agg(sum(col("sdocs"))).head().getLong(0)
    assert(doubled > single,
      "documented non-idempotence: a double-fold must be visible")
  }

  test("label spread: the fixed-round modal votes match a local " +
      "recompute over the same edges, and isolated vectors keep " +
      "their label") {
    val edges = ClusterOps.knnGraph(spark, sf)
      .select(col("vec_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels0 = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val nbrs = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .distinct.groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).toSet
      }
    var cur = labels0
    (1 to ClusterOps.LabelSpreadRounds).foreach { _ =>
      val c = cur
      cur = labels0.keys.map { v =>
        val votes = (nbrs.getOrElse(v, Set.empty).toSeq.map(c) :+ c(v))
          .groupBy(identity).map { case (l, o) => (l, o.size) }
        v -> votes.toSeq.map { case (l, n) => (-n, l) }.min._2
      }.toMap
    }
    val got = ClusterOps.knnLabelSpread(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3)))
    assert(got.nonEmpty && got.length == labels0.size)
    got.foreach { case (v, l0, ls, ch) =>
      assert(l0 == labels0(v))
      assert(ls == cur(v), s"vec $v: got $ls want ${cur(v)}")
      assert(ch == (l0 != ls))
    }
    // isolated vectors (no edges either direction) keep their label
    got.filterNot(g => nbrs.contains(g._1)).foreach { case (v, l0, ls, _) =>
      assert(l0 == ls, s"isolated vec $v must keep its label")
    }
  }

  test("embedding outliers: the σ-flag matches an exact BigInt " +
      "recompute per cell, and a singleton cell never flags itself") {
    val rows = ClusterOps.embeddingOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty)
    val s2b = BigInt(ClusterOps.OutlierSigmas.toLong *
      ClusterOps.OutlierSigmas)
    rows.groupBy(_._2).foreach { case (cell, rs) =>
      val n = BigInt(rs.length)
      val s1 = rs.iterator.map(r => BigInt(r._3)).sum
      val s2 = rs.iterator.map(r => BigInt(r._3) * BigInt(r._3)).sum
      rs.foreach { case (id, _, d, flagged) =>
        val lhs = n * BigInt(d) - s1
        val want = lhs > 0 && lhs * lhs > s2b * (n * s2 - s1 * s1)
        assert(flagged == want, s"vec $id in cell $cell")
      }
      if (rs.length == 1)
        assert(!rs.head._4, "a singleton cell cannot out-lie itself")
    }
    // the flag marks the tail, not the bulk
    assert(rows.count(_._4) < rows.length / 4,
      s"${rows.count(_._4)} of ${rows.length} flagged")
    // every vector appears exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
  }
}
