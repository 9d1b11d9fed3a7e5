package graft

import org.apache.spark.sql.functions._
import graft.ext.Retrieval

class RetrievalSpec extends SparkSpec {

  /** Independent local BM25: same tokenization, same micro-nat
    * arithmetic, straight Scala collections — no Spark in the
    * re-derivation. */
  private def localBm25(k: Int): Seq[(Long, Long, Long, Long)] = {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .map { case (id, tx) =>
        val t = tx.trim
        (id, if (t.isEmpty) Array.empty[String] else t.split("\\s+"))
      }
      .filter(_._2.nonEmpty).sortBy(_._1)
    val n = docs.length.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n.toDouble
    val (qid, qtoks) = docs.head
    val qterms = qtoks.zipWithIndex
      .groupBy(_._1).map { case (t, ps) => (t, ps.map(_._2).min) }
      .toSeq.sortBy { case (t, p) => (p, t) }.take(Retrieval.QueryTerms)
      .map(_._1).toSet
    val tf = docs.map { case (id, t) =>
      (id, t.length, t.filter(qterms).groupBy(identity)
        .map { case (w, o) => (w, o.length.toLong) })
    }
    val df = qterms.map(t => (t, tf.count(_._3.contains(t)).toLong)).toMap
    val idf = df.map { case (t, d) =>
      (t, math.floor(math.log((n - d + 0.5) / (d + 0.5) + 1.0) *
        1000000.0).toLong)
    }
    val scored = tf.filter(_._1 != qid).flatMap { case (id, dl, tfs) =>
      if (tfs.isEmpty) None
      else {
        val s = tfs.toSeq.map { case (t, f) =>
          math.floor(idf(t).toDouble *
            ((f.toDouble * 2.2) / (f.toDouble + 1.2 *
              (0.25 + 0.75 * (dl.toDouble / avgdl))))).toLong
        }.sum
        Some((id, tfs.size.toLong, s))
      }
    }
    scored.sortBy { case (id, _, s) => (-s, id) }.take(k).zipWithIndex
      .map { case ((id, m, s), i) => (id, m, s, i + 1L) }.toSeq
  }

  test("bm25 top-k matches the independent local reimplementation") {
    val got = Retrieval.bm25TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val want = localBm25(Retrieval.BmK)
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("batch form agrees with the single-query form on the shared query") {
    val single = Retrieval.bm25TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val qid = Tables.documents(spark, sf).agg(min(col("doc_id")))
      .head().getLong(0)
    val fromBatch = Retrieval.bm25Batch(spark, sf)
      .filter(col("query_id") === qid).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // df/idf per term depend only on the term, not on the batch, so
    // the shared query's list must be identical in both forms
    assert(single == fromBatch)
  }

  test("batch covers the BatchQueries lowest ids with contiguous ranks") {
    val rows = Retrieval.bm25Batch(spark, sf).collect()
    val wantQ = Tables.documents(spark, sf)
      .select(col("doc_id")).orderBy(col("doc_id"))
      .limit(Retrieval.BatchQueries).collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == wantQ)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ranks = rs.map(_.getLong(4)).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq, s"query $q ranks")
      assert(ranks.length <= Retrieval.BmK)
      // no result is the query document itself
      assert(!rs.exists(_.getLong(1) == q))
    }
  }

  test("rrf fusion scores re-derive from the two rank lists") {
    val rows = Retrieval.hybridRrf(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= Retrieval.BmK)
    rows.foreach { r =>
      val lex = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val vec = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(lex.nonEmpty || vec.nonEmpty)
      lex.foreach(x => assert(x >= 1 && x <= Retrieval.RrfDepth))
      vec.foreach(x => assert(x >= 1 && x <= Retrieval.RrfDepth))
      val want = lex.map(x => 1.0 / (Retrieval.RrfK + x)).getOrElse(0.0) +
        vec.map(x => 1.0 / (Retrieval.RrfK + x)).getOrElse(0.0)
      assert(r.getDouble(3) == want, s"doc ${r.getLong(0)}")
    }
    // descending by fused score with doc_id tie-break
    val s = rows.map(r => (r.getDouble(3), r.getLong(0)))
    assert(s.sortBy { case (v, id) => (-v, id) }.toSeq == s.toSeq)
  }

  test("batch rrf fusion: per-query scores re-derive from the two " +
      "batch rank lists, and the shared query's fused list agrees " +
      "with the single-query fusion") {
    val rows = Retrieval.hybridRrfBatch(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size > 1, "batch fusion should cover multiple queries")
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= Retrieval.BmK, s"query $q")
      assert(rs.map(_.getLong(5)).sorted.toSeq == (1L to rs.length),
        s"query $q ranks not dense")
      rs.foreach { r =>
        val lex = if (r.isNullAt(2)) None else Some(r.getLong(2))
        val vec = if (r.isNullAt(3)) None else Some(r.getLong(3))
        assert(lex.nonEmpty || vec.nonEmpty)
        lex.foreach(x => assert(x >= 1 && x <= Retrieval.RrfDepth))
        vec.foreach(x => assert(x >= 1 && x <= Retrieval.RrfDepth))
        val want = lex.map(x => 1.0 / (Retrieval.RrfK + x)).getOrElse(0.0) +
          vec.map(x => 1.0 / (Retrieval.RrfK + x)).getOrElse(0.0)
        assert(r.getDouble(4) == want, s"query $q doc ${r.getLong(1)}")
      }
      // descending fused score with doc_id tie-break, per query
      val s = rs.sortBy(_.getLong(5)).map(r => (r.getDouble(4), r.getLong(1)))
      assert(s.sortBy { case (v, id) => (-v, id) }.toSeq == s.toSeq)
    }
    // the batch's dense leg is the per-query-cell IVF probe while the
    // single-query form's is guarded brute force — different rungs, so
    // doc sets may differ; what must agree is the LEXICAL leg: the
    // shared min-id query's lex ranks match the single fusion's
    val q0 = byQ.keys.min
    val single = Retrieval.hybridRrf(spark, sf).collect()
      .flatMap(r => if (r.isNullAt(1)) None
        else Some(r.getLong(0) -> r.getLong(1))).toMap
    byQ(q0).foreach { r =>
      if (!r.isNullAt(2) && single.contains(r.getLong(1)))
        assert(r.getLong(2) == single(r.getLong(1)),
          s"lex rank diverges for doc ${r.getLong(1)}")
    }
  }

  test("store-fed batch fusion answers like the live batch fusion and " +
      "prunes BOTH stores (term buckets and probed cells)") {
    import graft.ext.KMeans
    val live = Retrieval.hybridRrfBatch(spark, sf).collect().toSeq
    val ixStore = graft.ops.Scratch.dir("graft_hyb_spec") + "/ix"
    Retrieval.writeBm25Index(
      Tables.documents(spark, sf)
        .select(col("doc_id"), graft.ext.TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0), ixStore)
    val cents = KMeans.train(spark, sf)
    val cellsDir = graft.ops.Scratch.dir("graft_hyb_spec_cells") + "/cells"
    KMeans.writeCellVectors(spark, sf, cellsDir, cents)
    val served = Retrieval.hybridRrfBatchFromStores(spark, sf, ixStore,
      cellsDir, cents)
    assert(served.collect().toSeq == live,
      "store-fed fusion must answer like the live batch fusion")
    // both artifact scans carry PARTITION filters: the postings read
    // prunes to the query terms' buckets, the vector read to the
    // queries' probed cells
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tbucket"),
      s"postings scan must prune term buckets:\n$plan")
    assert(plan.contains("cluster#") || plan.contains("cluster IN") ||
      plan.contains("cluster="),
      s"vector scan must prune probed cells:\n$plan")
  }

  test("matched postings are cut by a broadcast term join before any " +
      "corpus-sized exchange") {
    val plan = Retrieval.bm25TopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term filter must broadcast:\n$plan")
  }

  test("index serve answers like the live batch and prunes to the " +
      "query terms' buckets") {
    val live = Retrieval.bm25Batch(spark, sf).collect().toSeq
    val served = Retrieval.bm25Served(spark, sf).collect().toSeq
    assert(live.nonEmpty && served == live)
    // the store scan must carry a tbucket PARTITION filter (the
    // inverted-index read: probed buckets, never the whole store)
    val store = graft.ops.Scratch.dir("graft_bm25_spec") + "/ix"
    val td = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.ext.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    Retrieval.writeBm25Index(td, store)
    val plan = Retrieval.bm25FromIndex(spark, store, sf, 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tbucket"),
      s"store scan must prune term buckets:\n$plan")
  }

  test("append == rebuild: the split-built store answers identically") {
    val live = Retrieval.bm25Batch(spark, sf).collect().toSeq
    val appended = Retrieval.bm25IndexAppend(spark, sf).collect().toSeq
    assert(appended == live)
  }

  test("ivf-rung fusion: same lexical leg, dense leg from the probed " +
      "cell, scores re-derive from the ranks") {
    val rows = Retrieval.hybridRrfIvf(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= Retrieval.BmK)
    // dense leg ⊆ the trained probe's own list at the same depth
    val cell = graft.ext.KMeans
      .ivfTrainedTopKDepth(spark, sf, Retrieval.RrfDepth)
      .collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      val lex = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val vec = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(lex.nonEmpty || vec.nonEmpty)
      vec.foreach(_ => assert(cell.contains(r.getLong(0)),
        s"doc ${r.getLong(0)} not in the probed cell's list"))
      val want = lex.map(x => 1.0 / (Retrieval.RrfK + x)).getOrElse(0.0) +
        vec.map(x => 1.0 / (Retrieval.RrfK + x)).getOrElse(0.0)
      assert(r.getDouble(3) == want, s"doc ${r.getLong(0)}")
    }
    // the lexical leg is identical across rungs: any doc present in
    // both fusions carries the same lex_rank
    val bf = Retrieval.hybridRrf(spark, sf).collect()
      .flatMap(r => if (r.isNullAt(1)) None
        else Some(r.getLong(0) -> r.getLong(1))).toMap
    rows.foreach { r =>
      if (!r.isNullAt(1) && bf.contains(r.getLong(0)))
        assert(bf(r.getLong(0)) == r.getLong(1))
    }
  }

  test("takedown lifecycle: masked serve == fresh retained build, " +
      "vacuum applies physically + resets the list, torn vacuum " +
      "recovers, re-tombstone and never-indexed ids no-op") {
    import java.nio.file.Files
    val base = graft.ops.Scratch.dir("graft_take")
    val store = s"$base/ix"; val freshStore = s"$base/fresh"
    val d = Tables.documents(spark, sf)
    val td = d.select(col("doc_id"),
        graft.ext.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    val retained = td.filter(col("doc_id") % 9 =!= 4)
    Retrieval.writeBm25Index(td, store)
    Retrieval.writeBm25Index(retained, freshStore)
    def serve(s: String) = Retrieval.bm25BatchFromIndex(spark, sf, s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // NOTE: both stores serve the SAME query batch (from the docs
    // table), so the comparison isolates the store-side correction
    val pre = serve(store)
    Retrieval.tombstoneBm25Docs(spark,
      td.filter(col("doc_id") % 9 === 4).select(col("doc_id")), store)
    val want = serve(freshStore)
    assert(serve(store) == want,
      "masked serve must equal a fresh build on the retained corpus")
    assert(pre != want, "the takedown must actually change answers")
    // never-indexed ids no-op (the removed list stays id-stable)
    val remDir = graft.ops.SwapCommit.readDir(s"$store/removed")
    val nRem = spark.read.parquet(remDir).count()
    Retrieval.tombstoneBm25Docs(spark,
      spark.range(10).select((col("id") + 1000000L).as("doc_id")), store)
    assert(spark.read.parquet(remDir).count() == nRem)
    // torn vacuum: marker lost mid-flight → recovery completes it
    graft.ops.StoreFiles.deleteMarker(store, "_takedown_synced")
    assert(Retrieval.recoverBm25Takedown(spark, store),
      "pending removals without the consistency marker = torn vacuum")
    assert(serve(store) == want, "recovered store must serve retained")
    assert(graft.ops.SwapCommit.fileCount(s"$store/removed") == 0,
      "recovery must have reset the removed list")
    assert(!Retrieval.recoverBm25Takedown(spark, store))
    // a second vacuum with nothing pending is a no-op
    assert(Retrieval.vacuumBm25(spark, store) == ((0L, 0L)))
    // re-tombstone of already-vacuumed ids: no postings left → no-op
    Retrieval.tombstoneBm25Docs(spark,
      td.filter(col("doc_id") % 9 === 4).select(col("doc_id")), store)
    assert(graft.ops.SwapCommit.fileCount(s"$store/removed") == 0)
    assert(serve(store) == want)
  }

  test("a torn takedown vacuum heals through the lexical sink: the " +
      "degraded double-subtract window closes without operator action") {
    import java.nio.file.{Files, Paths}
    val base = graft.ops.Scratch.dir("graft_take_heal")
    val store = s"$base/ix"
    val d = Tables.documents(spark, sf)
    val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val td = d.select(col("doc_id"),
        graft.ext.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    Retrieval.writeBm25Index(td, store)
    Retrieval.tombstoneBm25Docs(spark,
      td.filter(col("doc_id") % 9 === 4).select(col("doc_id")), store)
    Retrieval.vacuumBm25(spark, store)
    // fabricate the crash window the review named: meta already
    // adjusted (the vacuum ran), but the removed list is back and the
    // consistency marker is down — every serve would double-subtract
    td.filter(col("doc_id") % 9 === 4)
      .select(col("doc_id"), size(col("t")).cast("int").as("dl"))
      .coalesce(1).write.mode("append").parquet(s"$store/removed")
    graft.ops.StoreFiles.deleteMarker(store, "_takedown_synced")
    // one streamed batch (a genuinely new doc) heals it in-line
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val fresh = d.orderBy(col("doc_id").desc).limit(1)
      .withColumn("doc_id", lit(ids.max + 1)).localCheckpoint()
    val tmp = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_heal_batch"))
    fresh.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val f = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(f.toPath, Paths.get(srcDir, "b0.parquet"))
    graft.streaming.EventStreams.lexicalIndexSink(
      spark.readStream.schema(d.schema).parquet(srcDir),
      store, s"$base/chk").stop()
    assert(graft.ops.StoreFiles.markerExists(store, "_takedown_synced"),
      "the sink must re-arm the takedown consistency marker")
    assert(graft.ops.SwapCommit.fileCount(s"$store/removed") == 0,
      "the sink must finish the torn vacuum (removed list reset)")
    // exactness: serve == one-shot build on retained ∪ the new doc
    val ref = s"$base/ref"
    Retrieval.writeBm25Index(
      td.filter(col("doc_id") % 9 =!= 4).unionByName(
        fresh.select(col("doc_id"),
            graft.ext.TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) > 0)), ref)
    def rows(s: String) = Retrieval.bm25BatchFromIndex(spark, sf, s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(rows(store) == rows(ref),
      "healed store must serve exactly like the fresh retained build")
  }
}
