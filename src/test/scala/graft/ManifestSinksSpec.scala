package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.ops.StoreCommit

/** The file-list half of [[graft.ops.StoreCommit]] under every
  * artifact-sink family: versioned dirs + pointer flip + a committed
  * FILE LIST per version, so no read trusts a directory listing or a
  * FileOutputCommitter task-file rename (PointerSinksSpec covers the
  * version half). Every test runs with
  * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` — the
  * object-store tuning that strips Spark's own `_SUCCESS` markers —
  * proving the protocol's completeness stamps are all self-written,
  * and each family gets a junk-invisibility probe: objects stranded
  * in the committed version by a torn job commit must never be read.
  */
class ManifestSinksSpec extends SparkSpec {

  /** Simulate a torn job commit: copy every data file of `srcSub`
    * into the live version's `destSub` WITHOUT extending the manifest
    * — exactly what FileOutputCommitter task renames strand when the
    * job dies mid-commit. */
  private def strandInto(srcSub: String, destSub: String): Int = {
    import java.nio.file.{Files, Paths}
    val parts = Option(new java.io.File(srcSub).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.createDirectories(Paths.get(destSub))
      Files.copy(f.toPath, Paths.get(destSub, s"torn-$i.parquet"))
    }
    parts.length
  }

  /** First committed `cell=`-partitioned part file under `live` — the
    * victim the stranded-replay-copy probes duplicate. */
  private def firstCellPart(live: String): java.nio.file.Path = {
    val it = java.nio.file.Files
      .walk(java.nio.file.Paths.get(live)).iterator()
    var found: Option[java.nio.file.Path] = None
    while (it.hasNext && found.isEmpty) {
      val p = it.next()
      if (p.toString.endsWith(".parquet") && p.toString.contains("cell="))
        found = Some(p)
    }
    found.get
  }

  /** Run `body` with the committer's _SUCCESS stamping disabled —
    * restore the previous value afterwards (shared session). */
  private def withoutSuccessMarkers[A](body: => A): A = {
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val conf = spark.sparkContext.hadoopConfiguration
    val old = Option(conf.get(key))
    conf.set(key, "false")
    try body
    finally old match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  private def stage(df: org.apache.spark.sql.DataFrame, srcDir: String,
      name: String): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = java.nio.file.Paths.get(graft.ops.Scratch.dir("graft_man_batch"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val f = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(f.toPath, Paths.get(srcDir, name))
    ()
  }

  test("manifest-mode lexical sink without Spark _SUCCESS markers: " +
      "answers == live batch form through replay, torn append, and " +
      "compaction; every version carries its manifest") {
    withoutSuccessMarkers {
      import java.nio.file.{Files, Paths}
      import graft.ext.Retrieval
      val base = graft.ops.Scratch.dir("graft_bm25_man")
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
      stage(d.filter(col("doc_id") > c0 && col("doc_id") <= c1),
        srcDir, "b1.parquet"); runOnce()
      stage(d.filter(col("doc_id") > c1), srcDir, "b2.parquet"); runOnce()

      // the committed postings version carries a manifest covering
      // exactly its data files (seed + append both sealed)
      val pLive = StoreCommit.readDir(s"$store/postings")
      val man = StoreCommit.manifest(pLive)
      assert(man.isDefined && man.get.nonEmpty)
      assert(man.get.toSet == StoreCommit.dataFiles(pLive).toSet)

      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val live = rows(Retrieval.bm25Batch(spark, sf))
      assert(live.nonEmpty && rows(Retrieval.bm25BatchFromIndex(
        spark, sf, store)) == live,
        "manifest-committed store must answer like the live batch form")

      // replay no-op (watermark guard, no manifest growth)
      val manBefore = StoreCommit.manifest(pLive).get.toSet
      stage(d.filter(col("doc_id") > c1), srcDir, "b2r.parquet"); runOnce()
      assert(StoreCommit.manifest(
        StoreCommit.readDir(s"$store/postings")).get.toSet == manBefore)

      // torn append: a ghost doc's rows land in the live version with
      // NO manifest seal and NO committed-log entry (the crash right
      // after the data objects, before the append's commit point) —
      // manifest reads never see them, so the store answers unchanged
      // even BEFORE recovery runs
      val td = d.select(col("doc_id"),
          graft.ext.TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      val ghost = Retrieval.postingsOf(
          td.filter(col("doc_id") === ids.max))
        .withColumn("doc_id", lit(ids.max + 1000)).localCheckpoint()
      ghost.write.mode("append").partitionBy("tbucket").parquet(pLive)
      assert(rows(Retrieval.bm25BatchFromIndex(
        spark, sf, store)) == live,
        "unmanifested objects must be invisible to manifest reads")
      // ...and the sink-level recovery pass agrees there is nothing
      // torn (the committed view is consistent), so the marker path
      // stays green
      graft.ops.StoreFiles.deleteMarker(store, "_committed_synced")
      Retrieval.recoverBm25Store(spark, store)
      assert(rows(Retrieval.bm25BatchFromIndex(
        spark, sf, store)) == live)

      // compaction rewrites into a NEW version (junk objects die with
      // the old one) whose manifest covers the compacted files
      assert(Retrieval.maybeCompactPostings(spark, store, threshold = 1))
      val v1 = StoreCommit.readDir(s"$store/postings")
      assert(v1 != pLive)
      assert(StoreCommit.manifest(v1).get.toSet == StoreCommit.dataFiles(v1).toSet)
      assert(rows(Retrieval.bm25BatchFromIndex(
        spark, sf, store)) == live)
    }
  }

  test("manifest append crash window: objects landed but the seal " +
      "didn't — the batch stays invisible and the replayed append " +
      "commits it exactly once") {
    withoutSuccessMarkers {
      import java.nio.file.{Files, Paths}
      import graft.ext.Retrieval
      val base = graft.ops.Scratch.dir("graft_bm25_man2")
      val store = s"$base/ix"
      val d = Tables.documents(spark, sf)
      val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
        .collect().map(_.getLong(0))
      val c0 = ids(ids.length / 2)
      val td = d.select(col("doc_id"),
          graft.ext.TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      Retrieval.writeBm25Index(td.filter(col("doc_id") <= c0), store)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val before = rows(Retrieval.bm25BatchFromIndex(
        spark, sf, store))
      // the crash: the batch's postings objects land in the live
      // version, but neither the manifest seal nor meta nor the
      // committed log ever ran
      val batch = td.filter(col("doc_id") > c0)
      Retrieval.postingsOf(batch).write.mode("append")
        .partitionBy("tbucket")
        .parquet(StoreCommit.readDir(s"$store/postings"))
      assert(rows(Retrieval.bm25BatchFromIndex(
        spark, sf, store)) == before,
        "the crashed batch must be invisible")
      // the replay: the SAME batch appended through the protocol —
      // the store now answers like a one-shot build on the union,
      // with no double counting from the stranded objects
      Retrieval.appendBm25Index(spark, batch, store)
      val live = rows(Retrieval.bm25Batch(spark, sf))
      assert(rows(Retrieval.bm25BatchFromIndex(
        spark, sf, store)) == live,
        "replayed append must commit exactly once (no stranded-object " +
          "double counting)")

      // TORN MANIFEST REPLACE (the review-caught window): the
      // single-file replace died between its delete and its rename —
      // the destination is gone but the SEALED staging object still
      // holds the exact intended list. The read must recover it
      // verbatim: an empty fallback would let the next append seal a
      // manifest naming only its own objects (hiding the store), and
      // a listing fallback would adopt the stranded duplicates this
      // very test planted above (double-counted scores)
      val pLive = StoreCommit.readDir(s"$store/postings")
      val committed = StoreCommit.manifest(pLive).get
      val conf = spark.sparkContext.hadoopConfiguration
      val mPath = new org.apache.hadoop.fs.Path(pLive, StoreCommit.ManifestName)
      val fsH = mPath.getFileSystem(conf)
      // what a manifest replace leaves in that window: sealed tmp, no dst
      val tmpPath =
        new org.apache.hadoop.fs.Path(pLive, s"${StoreCommit.ManifestName}.tmp")
      val o = fsH.create(tmpPath, true)
      o.write((committed.sorted :+ "#sealed").mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      o.close()
      fsH.delete(mPath, false)
      assert(StoreCommit.manifest(pLive).contains(committed.sorted),
        "the sealed staging manifest must heal the torn replace")
      // the OTHER half of the window: a PARTIAL tmp (crash mid-write,
      // seal never landed) must be ignored, not half-adopted
      locally {
        val o2 = fsH.create(tmpPath, true)
        o2.write(committed.sorted.take(1).mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        o2.close()
        assert(StoreCommit.manifest(pLive).isEmpty,
          "an unsealed staging manifest must never be trusted")
        // restore the sealed tmp for the append below
        val o3 = fsH.create(tmpPath, true)
        o3.write((committed.sorted :+ "#sealed").mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        o3.close()
      }
      val extra = td.filter(col("doc_id") === ids.max)
        .withColumn("doc_id", col("doc_id") + 77777L)
        .localCheckpoint()
      Retrieval.appendBm25Index(spark, extra, store)
      assert(StoreCommit.manifest(pLive).isDefined,
        "the append must re-seal a manifest")
      // exactness: the store must answer like a one-shot build on
      // td ∪ extra — earlier committed docs still present, the
      // appended doc's stats folded in
      val oneShot = s"$base/ix_torn_ref"
      Retrieval.writeBm25Index(td.unionByName(extra), oneShot)
      assert(rows(Retrieval.bm25BatchFromIndex(
          spark, sf, store)) ==
        rows(Retrieval.bm25BatchFromIndex(spark, sf, oneShot)),
        "after a torn-manifest append the store must still equal the " +
          "full one-shot build (no silent store hiding)")
    }
  }

  test("manifest-mode dedup sink: verdict parity, replay no-op, a " +
      "stranded fingerprint is invisible to the probe, and index " +
      "compaction seals a fresh manifest") {
    withoutSuccessMarkers {
      import java.nio.file.{Files, Paths}
      import graft.ext.Dedup
      val base = graft.ops.Scratch.dir("graft_dedup_man")
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
      stage(d.filter(col("doc_id") > c0), srcDir, "b1.parquet"); runOnce()
      val streamed = StoreCommit.read(spark, goldDir)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val u1 = Dedup.incrementalSplit(d.filter(col("doc_id") <= c0),
          d.filter(col("doc_id") > c0))
        .filter(col("verdict") === "unique")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val expected = ids.filter(_ <= c0).toSet ++ u1
      assert(streamed == expected, "manifest-mode gold diverged")
      // replay no-op
      stage(d.filter(col("doc_id") > c0), srcDir, "b1r.parquet"); runOnce()
      assert(StoreCommit.read(spark, goldDir).count() == streamed.size.toLong)
      // every committed index version seals a manifest that covers
      // exactly its data files (seed + per-batch appends)
      val ixLive = StoreCommit.readDir(ixRoot)
      assert(StoreCommit.manifest(ixLive).get.toSet ==
        StoreCommit.dataFiles(ixLive).toSet)

      // the junk probe, end to end THROUGH the sink: strand a
      // fingerprints object for a text the store has never admitted
      // (the shape a torn task rename leaves), then stream that very
      // text as a new doc — a listing-trusting probe would call it an
      // exact dup and silently reject it; the manifest probe must not
      // see the stranded object, judge it unique, and admit it
      val ghostText = "graft manifest ghost fixture text zzqx"
      val ghost = d.orderBy(col("doc_id").desc).limit(1)
        .withColumn("doc_id", lit(ids.max + 500))
        .withColumn("text", lit(ghostText)).localCheckpoint()
      val tmpIx = s"$base/ghost_ix"
      Dedup.appendGoldIndex(ghost, tmpIx)
      assert(strandInto(s"${StoreCommit.readDir(tmpIx)}/fingerprints",
        s"$ixLive/fingerprints") > 0)
      val probe = Dedup.incrementalAgainstIndex(spark,
        ghost.withColumn("doc_id", lit(ids.max + 600)),
        ixRoot)
      assert(probe.filter(col("verdict") === "unique").count() == 1,
        "a stranded unmanifested fingerprint must be invisible: the " +
          "ghost text has never been committed, so its dup is unique")
      stage(ghost.withColumn("doc_id", lit(ids.max + 600)),
        srcDir, "ghost.parquet"); runOnce()
      assert(StoreCommit.read(spark, goldDir)
        .filter(col("doc_id") === ids.max + 600).count() == 1,
        "the sink must admit the ghost text (stranded object unseen)")

      // compaction (rebuild from gold) flips the version — the junk
      // dies with the superseded dir, the fresh manifest is complete
      val v0 = ixLive
      assert(Dedup.maybeCompactIndex(spark, goldDir, ixRoot,
        threshold = 0))
      val v1 = StoreCommit.readDir(ixRoot)
      assert(v1 != v0)
      assert(StoreCommit.manifest(v1).get.toSet == StoreCommit.dataFiles(v1).toSet)
      val probe2 = Dedup.incrementalAgainstIndex(spark,
        ghost.withColumn("doc_id", lit(ids.max + 700)),
        ixRoot)
      assert(probe2.filter(col("verdict") =!= "unique").count() == 1,
        "post-compaction the admitted ghost doc IS committed — its " +
          "duplicate must now be recognized")
    }
  }

  test("manifest-mode semantic-dedup sink: cells == one-shot through " +
      "replay, and a stranded cells object never double-reads") {
    withoutSuccessMarkers {
      import java.nio.file.{Files, Paths}
      import graft.ext.Dedup
      val base = graft.ops.Scratch.dir("graft_sem_man")
      val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
      val cellsRoot = s"$base/cells"; val verdictsDir = s"$base/verdicts"
      val e = Tables.embeddings(spark, sf)
      val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
        .collect().map(_.getLong(0))
      val c0 = ids(ids.length * 3 / 5)
      val gold = graft.ext.KMeans.vecs(spark, sf)
        .filter(col("vec_id") <= c0)
      val (coarse, subs) = Dedup.trainSemanticQuantizers(gold, Dedup.SubK)
      def runOnce(): Unit =
        EventStreams.semanticDedupSink(
          spark.readStream.schema(e.schema).parquet(srcDir),
          coarse, subs, Dedup.SubK, cellsRoot, verdictsDir,
          s"$base/chk").stop()

      stage(e.filter(col("vec_id") <= c0), srcDir, "b0.parquet"); runOnce()
      stage(e.filter(col("vec_id") > c0), srcDir, "b1.parquet"); runOnce()
      // replay no-op
      stage(e.filter(col("vec_id") > c0), srcDir, "b1r.parquet"); runOnce()

      def cellRows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("cell").cast("int"), col("v"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2))).toSet
      val oneShot = cellRows(Dedup.assignSemanticCells(
        graft.ext.KMeans.vecs(spark, sf), coarse, subs, Dedup.SubK))
      assert(cellRows(StoreCommit.read(spark, cellsRoot)) == oneShot,
        "manifest-committed cells must equal the one-shot assignment")
      assert(StoreCommit.read(spark, verdictsDir).count() == ids.length.toLong)

      // strand a COPY of a committed cells partition file (what a
      // replayed-then-crashed task would leave): a listing read now
      // double-counts those vectors; the manifest read must not
      val live = StoreCommit.readDir(cellsRoot)
      val victim = firstCellPart(live)
      Files.copy(victim,
        victim.getParent.resolve("torn-replay-copy.parquet"))
      assert(spark.read.parquet(live).count() > ids.length.toLong,
        "precondition: the listing view really is poisoned")
      assert(cellRows(StoreCommit.read(spark, cellsRoot)) == oneShot,
        "the stranded copy must be invisible to manifest reads")
      assert(StoreCommit.fileCount(cellsRoot) ==
        StoreCommit.manifest(live).get.size)
    }
  }

  test("manifest-mode vector-index sink: streamed codes == full " +
      "re-encode, stranded codes invisible, compaction seals fresh") {
    withoutSuccessMarkers {
      import java.nio.file.{Files, Paths}
      import graft.ext.ProductQuant
      val base = graft.ops.Scratch.dir("graft_vec_man")
      val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
      val codesRoot = s"$base/codes"; val goldDir = s"$base/gold"
      val e = Tables.embeddings(spark, sf)
      val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
        .collect().map(_.getLong(0))
      val c0 = ids(ids.length / 2)
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
      stage(e.filter(col("vec_id") > c0), srcDir, "b1.parquet"); runOnce()
      stage(e.filter(col("vec_id") > c0), srcDir, "b1r.parquet"); runOnce()

      def codeRows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("label").cast("long"),
            col("cell").cast("int"),
            col("code0"), col("code1"), col("code2"), col("code3"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
            r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toSet
      val want = codeRows(ProductQuant.encodeFrameResidual(
        cast(StoreCommit.read(spark, goldDir)), coarse, rcbs))
      assert(codeRows(StoreCommit.read(spark, codesRoot)) == want,
        "manifest-committed codes must equal the full re-encode")

      // stranded replay copy: listing poisoned, manifest clean
      val live = StoreCommit.readDir(codesRoot)
      val victim = firstCellPart(live)
      Files.copy(victim,
        victim.getParent.resolve("torn-replay-copy.parquet"))
      assert(codeRows(StoreCommit.read(spark, codesRoot)) == want,
        "stranded codes must be invisible to manifest reads")

      // compaction (rebuild from gold) — junk dies with the old
      // version; the new version's manifest covers exactly its files
      assert(ProductQuant.maybeCompactCodes(spark, goldDir, codesRoot,
        coarse, rcbs, threshold = 1))
      val v1 = StoreCommit.readDir(codesRoot)
      assert(v1 != live)
      assert(StoreCommit.manifest(v1).get.toSet == StoreCommit.dataFiles(v1).toSet)
      assert(codeRows(StoreCommit.read(spark, codesRoot)) == want)
    }
  }

  test("manifest-mode knn graph sink: edges + labels == one-shot, and " +
      "a stranded cells object cannot trigger a false repair") {
    withoutSuccessMarkers {
      import java.nio.file.{Files, Paths}
      import graft.ext.{ClusterOps, KMeans}
      val base = graft.ops.Scratch.dir("graft_knn_man")
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
      assert(edgeRows(edgesDir) == edgeRows(oneShotE))
      assert(labelRows(labelsDir) == labelRows(oneShotL))

      // stranded cells copy: the LISTING view of the cells store now
      // disagrees with the edges store (inflated member counts), so a
      // listing-trusting consistency repair would fire and rewrite
      // healthy edge partitions; the manifest view stays consistent
      val live = StoreCommit.readDir(cellsRoot)
      val victim = firstCellPart(live)
      Files.copy(victim,
        victim.getParent.resolve("torn-replay-copy.parquet"))
      assert(ClusterOps.repairKnnEdges(spark, cellsRoot, edgesDir) == 0,
        "the committed view is consistent — a stranded object must " +
          "not trigger a false repair")
      assert(ClusterOps.repairKnnCommunityLabels(spark, cellsRoot,
        labelsDir) == 0)
      assert(edgeRows(edgesDir) == edgeRows(oneShotE),
        "edges must be untouched after the no-op repair")

      // takedown under the object-store protocol: the cells replace
      // commits a fresh manifest-sealed version (the stranded junk
      // dies with the old one) and the repairs converge edges+labels
      // to the one-shot build on the retained vectors
      val removed = e.filter(col("vec_id") % 9 === 4)
        .select(col("vec_id"))
      assert(ClusterOps.removeKnnVectors(spark, removed, cellsRoot,
        edgesDir, Some(labelsDir)) == removed.count())
      val vLive = StoreCommit.readDir(cellsRoot)
      assert(StoreCommit.manifest(vLive).get.toSet ==
        StoreCommit.dataFiles(vLive).toSet,
        "the removal's version must seal a complete manifest")
      val retained = assign(KMeans.vecs(spark, sf))
        .filter(col("vec_id") % 9 =!= 4)
      val retE = s"$base/ret_e"; val retL = s"$base/ret_l"
      ClusterOps.writeKnnEdges(retained, retE)
      ClusterOps.writeKnnCommunityLabels(retained, retL)
      assert(edgeRows(edgesDir) == edgeRows(retE),
        "manifest-mode removal must converge edges to the retained " +
          "one-shot build")
      assert(labelRows(labelsDir) == labelRows(retL))
    }
  }
}
