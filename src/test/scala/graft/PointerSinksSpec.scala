package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.ops.{PointerSwap, StoreCommit}

/** The version half of [[graft.ops.StoreCommit]] under every artifact
  * sink: each corpus-sized store commits through versioned dirs + the
  * one-file pointer. Each family replays its lifecycle (seed → append
  * → replay no-op → orphan version from a mid-commit crash →
  * compaction version flip) and must answer exactly like its one-shot
  * sibling. ManifestSinksSpec covers the file-list half (objects a
  * torn job strands inside a committed version).
  */
class PointerSinksSpec extends SparkSpec {

  private def stage(df: org.apache.spark.sql.DataFrame, srcDir: String,
      name: String): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_ptr_batch"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val f = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(f.toPath, Paths.get(srcDir, name))
    ()
  }

  private def orphanVersion(root: String): java.nio.file.Path = {
    // a crash mid-replace: a staged version dir above the committed
    // one, never pointed at — recover() must roll it back
    import java.nio.file.{Files, Paths}
    val p = Paths.get(root, "v_00000017")
    Files.createDirectories(p)
    Files.write(p.resolve("junk"), Array[Byte](1))
    p
  }

  test("pointer-mode semantic-dedup sink: cells == one-shot, verdict " +
      "log == full recompute, replay no-ops, compaction flips versions") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Dedup
    val base = graft.ops.Scratch.dir("graft_sem_ptr")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsRoot = s"$base/cells"; val verdictsDir = s"$base/verdicts"
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    val gold = graft.ext.KMeans.vecs(spark, sf)
      .filter(col("vec_id") <= c0)
    val (coarse, subs) = Dedup.trainSemanticQuantizers(gold, Dedup.SubK)
    def runOnce(): Unit =
      EventStreams.semanticDedupSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        coarse, subs, Dedup.SubK, cellsRoot, verdictsDir,
        s"$base/chk").stop()

    stage(e.filter(col("vec_id") <= c0), srcDir, "b0.parquet"); runOnce()
    // crash mid-commit between batches: an orphan staged version
    val orphan = orphanVersion(cellsRoot)
    stage(e.filter(col("vec_id") > c0 && col("vec_id") <= c1),
      srcDir, "b1.parquet"); runOnce()
    assert(!java.nio.file.Files.exists(orphan),
      "orphan version must be rolled back at the next batch")
    stage(e.filter(col("vec_id") > c1), srcDir, "b2.parquet"); runOnce()

    val live = StoreCommit.readDir(cellsRoot)
    assert(live != cellsRoot &&
      java.nio.file.Files.exists(java.nio.file.Paths.get(cellsRoot, "CURRENT")))
    def cellRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("int"), col("v"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2))).toSet
    val oneShot = Dedup.assignSemanticCells(
      graft.ext.KMeans.vecs(spark, sf), coarse, subs, Dedup.SubK)
    assert(cellRows(spark.read.parquet(live)) == cellRows(oneShot),
      "pointer-committed cells store must equal the one-shot assignment")
    def verdictRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("int"), col("is_dup"),
          col("dup_of"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val full = verdictRows(Dedup.semanticDedupFromCells(spark, live))
    assert(verdictRows(StoreCommit.read(spark, verdictsDir)) == full)

    // replay no-op (counts too)
    stage(e.filter(col("vec_id") > c1), srcDir, "b2r.parquet"); runOnce()
    assert(spark.read.parquet(StoreCommit.readDir(cellsRoot)).count()
      == ids.length.toLong)
    assert(StoreCommit.read(spark, verdictsDir).count() == ids.length.toLong)

    // forced compaction: fragment the store, then compact — the
    // store must flip to a NEW version with identical content
    val frag = StoreCommit.read(spark, cellsRoot)
      .select(col("vec_id"), col("v"), col("cell").cast("int").as("cell"))
      .repartition(8).localCheckpoint()
    StoreCommit.replace(cellsRoot)(frag.write.partitionBy("cell").parquet(_))
    val v0 = StoreCommit.readDir(cellsRoot)
    assert(Dedup.maybeCompactSemanticCells(spark, cellsRoot,
      threshold = 1))
    val v1 = StoreCommit.readDir(cellsRoot)
    assert(v1 != v0, "compaction must commit a new version")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(v0)),
      "the superseded version is garbage-collected")
    assert(cellRows(spark.read.parquet(v1)) == cellRows(oneShot))
    // the root watermark survived the flip: the next batch replays
    // nothing without paying the anti-join fallback
    assert(graft.ops.StoreFiles.readIdWatermark(cellsRoot)
      .contains(ids.max))

    // takedown: the cells replace flips a version,
    // the ROOT-level removed-id log survives it, and neither the
    // removal nor a later compaction duplicates the log (the
    // review-caught unbounded-growth path)
    val remIds = e.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
    val n = graft.ext.Dedup.removeSemanticVectors(spark, remIds,
      cellsRoot, verdictsDir)
    assert(n == remIds.count() && n > 0)
    def logRows() = spark.read.parquet(s"$cellsRoot/_removed").count()
    assert(logRows() == n, "the log must hold exactly the removed ids")
    assert(StoreCommit.read(spark, verdictsDir).count() ==
      ids.length.toLong - n)
    // force a compaction cycle; the log must not grow
    val frag2 = StoreCommit.read(spark, cellsRoot)
      .withColumn("cell", col("cell").cast("int"))
      .repartition(8).localCheckpoint()
    StoreCommit.replace(cellsRoot)(frag2.write.partitionBy("cell").parquet(_))
    assert(Dedup.maybeCompactSemanticCells(spark, cellsRoot,
      threshold = 1))
    assert(logRows() == n,
      "a compaction must not re-append (duplicate) the removed log")
    assert(cellRows(StoreCommit.read(spark, cellsRoot)) ==
      cellRows(oneShot.join(broadcast(remIds), Seq("vec_id"),
        "left_anti")))
  }

  test("pointer-mode lexical sink: answers == live batch form through " +
      "replay, adoption, torn-append recovery, and compaction flips") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Retrieval
    val base = graft.ops.Scratch.dir("graft_bm25_ptr")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val store = s"$base/ix"
    val d = Tables.documents(spark, sf)
    val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length / 3); val c1 = ids(ids.length * 2 / 3)
    def runOnce(): Unit =
      EventStreams.lexicalIndexSink(
        spark.readStream.schema(d.schema).parquet(srcDir),
        store, s"$base/chk").stop()

    stage(d.filter(col("doc_id") <= c0), srcDir, "b0.parquet"); runOnce()
    val orphan = orphanVersion(s"$store/postings")
    stage(d.filter(col("doc_id") > c0 && col("doc_id") <= c1),
      srcDir, "b1.parquet"); runOnce()
    assert(!Files.exists(orphan))
    stage(d.filter(col("doc_id") > c1), srcDir, "b2.parquet"); runOnce()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val live = rows(Retrieval.bm25Batch(spark, sf))
    assert(live.nonEmpty && rows(Retrieval.bm25BatchFromIndex(
      spark, sf, store)) == live,
      "pointer-committed store must answer like the live batch form")

    // replay no-op
    val pLive = StoreCommit.readDir(s"$store/postings")
    val nPost = spark.read.parquet(pLive).count()
    stage(d.filter(col("doc_id") > c1), srcDir, "b2r.parquet"); runOnce()
    assert(spark.read.parquet(
      StoreCommit.readDir(s"$store/postings")).count() == nPost)

    // torn append: a doc's postings committed, but its committed-log
    // entry never landed — recovery removes them
    val lastId = ids.max
    val td = d.select(col("doc_id"),
        graft.ext.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    val lastPost = Retrieval.postingsOf(
      td.filter(col("doc_id") === lastId))
    // simulate: drop the doc from the committed log is impossible
    // (it's committed) — instead tear a FRESH synthetic doc id by
    // appending rows for an id the log has never seen
    val ghost = lastPost.withColumn("doc_id", lit(lastId + 1000))
      .localCheckpoint()
    StoreCommit.append(s"$store/postings")(
      ghost.write.mode("append").partitionBy("tbucket").parquet(_))
    graft.ops.StoreFiles.deleteMarker(store, "_committed_synced")
    assert(Retrieval.recoverBm25Store(spark, store),
      "recovery must detect the torn ghost doc")
    assert(spark.read.parquet(StoreCommit.readDir(s"$store/postings"))
      .filter(col("doc_id") === lastId + 1000).count() == 0)
    assert(rows(Retrieval.bm25BatchFromIndex(
      spark, sf, store)) == live)

    // compaction flips the postings version; answers unchanged
    val frag = StoreCommit.read(spark, s"$store/postings")
      .select(col("doc_id"), col("dl"), col("term"), col("tf"),
        col("tbucket").cast("int").as("tbucket"))
      .repartition(8).localCheckpoint()
    StoreCommit.replace(s"$store/postings")(
      frag.write.partitionBy("tbucket").parquet(_))
    val v0 = StoreCommit.readDir(s"$store/postings")
    assert(Retrieval.maybeCompactPostings(spark, store, threshold = 1))
    assert(StoreCommit.readDir(s"$store/postings") != v0)
    assert(rows(Retrieval.bm25BatchFromIndex(
      spark, sf, store)) == live)

    // ADOPTION: a store seeded OUTSIDE the sink (no marker) — the
    // sink's first batch recovers, bootstraps, and appends nothing new
    val store2 = s"$base/ix2"
    Retrieval.writeBm25Index(td, store2)
    val src2 = s"$base/src2"; Files.createDirectories(Paths.get(src2))
    stage(d.filter(col("doc_id") > c1), src2, "b0.parquet")
    EventStreams.lexicalIndexSink(
      spark.readStream.schema(d.schema).parquet(src2),
      store2, s"$base/chk2").stop()
    assert(rows(Retrieval.bm25BatchFromIndex(
      spark, sf, store2)) == live,
      "adopted pointer store must still answer like the live form")
  }

  test("pointer-mode vector-index sink: streamed codes == full " +
      "re-encode through replay and a compaction version flip") {
    import java.nio.file.{Files, Paths}
    import graft.ext.ProductQuant
    val base = graft.ops.Scratch.dir("graft_vec_ptr")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val codesRoot = s"$base/codes"; val goldDir = s"$base/gold"
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length / 2)
    // codebooks train ONCE and stay frozen (the family contract)
    val coarse = graft.ext.KMeans.train(spark, sf)
    val rcbs = ProductQuant.residualCodebooks(spark, sf, coarse)
    def cast(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    def runOnce(): Unit =
      EventStreams.incrementalVectorIndexSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        coarse, rcbs, codesRoot, goldDir, s"$base/chk").stop()

    stage(e.filter(col("vec_id") <= c0), srcDir, "b0.parquet"); runOnce()
    val orphan = orphanVersion(codesRoot)
    stage(e.filter(col("vec_id") > c0), srcDir, "b1.parquet"); runOnce()
    assert(!Files.exists(orphan))
    // replay no-op
    stage(e.filter(col("vec_id") > c0), srcDir, "b1r.parquet"); runOnce()

    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("label").cast("long"),
          col("cell").cast("int"),
          col("code0"), col("code1"), col("code2"), col("code3"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toSet
    val gold = StoreCommit.read(spark, goldDir)
    assert(gold.count() == ids.length.toLong)
    val want = codeRows(
      ProductQuant.encodeFrameResidual(cast(gold), coarse, rcbs))
    assert(codeRows(spark.read.parquet(
      StoreCommit.readDir(codesRoot))) == want,
      "pointer-committed codes must equal the full re-encode")

    // compaction (rebuild from gold) flips the version
    val v0 = StoreCommit.readDir(codesRoot)
    assert(ProductQuant.maybeCompactCodes(spark, goldDir, codesRoot,
      coarse, rcbs, threshold = 1))
    val v1 = StoreCommit.readDir(codesRoot)
    assert(v1 != v0 && codeRows(spark.read.parquet(v1)) == want)
  }

  test("pointer-mode dedup sink: verdict parity with the batch split, " +
      "replay no-op, index compaction flips versions") {
    import java.nio.file.{Files, Paths}
    import graft.ext.Dedup
    val base = graft.ops.Scratch.dir("graft_dedup_ptr")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val ixRoot = s"$base/ix"; val goldDir = s"$base/gold"
    val d = Tables.documents(spark, sf)
    val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length / 2)
    def runOnce(): Unit =
      EventStreams.incrementalDedupSink(
        spark.readStream.schema(d.schema).parquet(srcDir),
        ixRoot, goldDir, s"$base/chk").stop()

    stage(d.filter(col("doc_id") <= c0), srcDir, "b0.parquet"); runOnce()
    val orphan = orphanVersion(ixRoot)
    stage(d.filter(col("doc_id") > c0), srcDir, "b1.parquet"); runOnce()
    assert(!Files.exists(orphan))
    val streamed = StoreCommit.read(spark, goldDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // the sequential batch-split gold standard: b0 seeds (within-batch
    // dups kept by design), b1 judged against b0's gold only
    val u1 = Dedup.incrementalSplit(d.filter(col("doc_id") <= c0),
        d.filter(col("doc_id") > c0))
      .filter(col("verdict") === "unique")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expected = ids.filter(_ <= c0).toSet ++ u1
    assert(streamed == expected,
      s"pointer-mode gold diverged: extra=${streamed -- expected} " +
        s"missing=${expected -- streamed}")
    val nGold = streamed.size.toLong
    // replay no-op
    stage(d.filter(col("doc_id") > c0), srcDir, "b1r.parquet"); runOnce()
    assert(StoreCommit.read(spark, goldDir).count() == nGold)
    // index compaction rebuild flips the version, verdicts unchanged
    val v0 = StoreCommit.readDir(ixRoot)
    assert(Dedup.maybeCompactIndex(spark, goldDir, ixRoot,
      threshold = 0))
    val v1 = StoreCommit.readDir(ixRoot)
    assert(v1 != v0)
    val probe = Dedup.incrementalAgainstIndex(spark,
      d.filter(col("doc_id") > c0), ixRoot)
    assert(probe.filter(col("verdict") =!= "unique").count() > 0,
      "post-flip index must still recognize stored docs as dups")
  }

  test("pointer-mode dedup sink crash between gold append and index " +
      "append: the prologue repair commits a NEW index version, and " +
      "the batch probes THAT version — the duplicate is rejected") {
    // the round-16 ADVICE window: the sink used to resolve the live
    // index dir BEFORE the prologue, so the repair's
    // version flip (which DELETES the superseded committed dir) left
    // the probe reading a stale path → "empty store" branch → the
    // duplicate admitted to the append-only gold corpus unjudged
    import java.nio.file.{Files, Paths}
    import graft.ext.Dedup
    val base = graft.ops.Scratch.dir("graft_dedup_ptr_crash")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val ixRoot = s"$base/ix"; val goldDir = s"$base/gold"
    val d = Tables.documents(spark, sf)
    val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length / 2)
    def runOnce(): Unit =
      EventStreams.incrementalDedupSink(
        spark.readStream.schema(d.schema).parquet(srcDir),
        ixRoot, goldDir, s"$base/chk").stop()
    // seed the store through the sink so the index is pointer-committed
    stage(d.filter(col("doc_id") <= c0), srcDir, "b0.parquet"); runOnce()
    // crash window: a unique doc landed in gold, the index append and
    // the marker re-arm never ran
    val crashed = Dedup.incrementalSplit(d.filter(col("doc_id") <= c0),
        d.filter(col("doc_id") > c0))
      .filter(col("verdict") === "unique")
      .orderBy(col("doc_id")).limit(1)
      .select(col("doc_id")).collect().head.getLong(0)
    val crashedDoc = d.filter(col("doc_id") === crashed).localCheckpoint()
    StoreCommit.append(goldDir)(crashedDoc.write.mode("append").parquet(_))
    graft.ops.StoreFiles.deleteMarker(goldDir, "_ids_synced")
    graft.ops.StoreFiles.deleteIdWatermark(goldDir)
    // next batch: an exact duplicate of the crashed doc, new id
    val dup = crashedDoc.withColumn("doc_id", lit(ids.max + 1))
      .localCheckpoint()
    stage(dup, srcDir, "dup.parquet")
    val before = StoreCommit.read(spark, goldDir).count()
    runOnce()
    assert(StoreCommit.read(spark, goldDir).count() == before,
      "the duplicate of the crashed doc must be rejected in pointer mode")
    assert(StoreCommit.read(spark, goldDir)
      .filter(col("doc_id") === ids.max + 1).isEmpty)
  }

  test("pointer-mode knn graph sink: edges + labels equal the " +
      "one-shot rebuild with cells under pointer commit") {
    import java.nio.file.{Files, Paths}
    import graft.ext.{ClusterOps, KMeans}
    val base = graft.ops.Scratch.dir("graft_knn_ptr")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val cellsRoot = s"$base/cells"; val edgesDir = s"$base/edges"
    val labelsDir = s"$base/labels"
    val e = Tables.embeddings(spark, sf)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5)
    val cents = KMeans.trainFrame(
      KMeans.vecs(spark, sf).filter(col("vec_id") <= c0)
        .select(col("vec_id"), col("v")), KMeans.K)
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        graft.functions.NearestCentroid(col("v"), cents.map(_._2))
          .as("cell"), col("v"))
    def runOnce(): Unit =
      EventStreams.knnGraphSink(
        spark.readStream.schema(e.schema).parquet(srcDir),
        assign, cellsRoot, edgesDir, Some(labelsDir), s"$base/chk").stop()

    stage(e.filter(col("vec_id") <= c0), srcDir, "b0.parquet"); runOnce()
    stage(e.filter(col("vec_id") > c0), srcDir, "b1.parquet"); runOnce()
    // replay no-op
    stage(e.filter(col("vec_id") > c0), srcDir, "b1r.parquet"); runOnce()

    def edgeRows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("rk").cast("int"), col("nbr_id"),
        col("cosine"), col("cell").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    def labelRows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("community_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allAssigned = assign(KMeans.vecs(spark, sf))
    val oneShotE = s"$base/oneshot_e"; val oneShotL = s"$base/oneshot_l"
    ClusterOps.writeKnnEdges(allAssigned, oneShotE)
    ClusterOps.writeKnnCommunityLabels(allAssigned, oneShotL)
    assert(edgeRows(edgesDir) == edgeRows(oneShotE),
      "pointer-cells edges must equal the one-shot build")
    assert(labelRows(labelsDir) == labelRows(oneShotL),
      "pointer-cells labels must equal the one-shot build")
    assert(StoreCommit.readDir(cellsRoot) != cellsRoot)
    assert(PointerSwap.resolve(cellsRoot).isDefined)
  }
}
