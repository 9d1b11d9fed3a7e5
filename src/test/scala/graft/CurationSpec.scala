package graft

import org.apache.spark.sql.functions._
import graft.ext.{Curation, TextOps}

class CurationSpec extends SparkSpec {

  test("decontamination flags match an independent local recomputation") {
    // independent check: shingle the corpus in plain Scala and
    // recompute the eval-overlap counts without Spark expressions
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(text: String): Set[String] = {
      val t = text.trim
      val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
      toks.sliding(Curation.ShingleK)
        .filter(_.length == Curation.ShingleK)
        .map(_.mkString(" ")).toSet
    }
    val evalGrams = docs.collect {
      case (id, text) if id % Curation.EvalModulus == 0 => grams(text)
    }.foldLeft(Set.empty[String])(_ ++ _)
    val expected = docs.collect {
      case (id, text) if id % Curation.EvalModulus != 0 =>
        id -> (grams(text) & evalGrams).size.toLong
    }.toMap

    val got = Curation.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("boilerplate counts match an independent local recomputation") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def gramList(text: String): Seq[String] = {
      val t = text.trim
      val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
      toks.sliding(Curation.ShingleK)
        .filter(_.length == Curation.ShingleK).map(_.mkString(" ")).toSeq
    }
    val perDoc = docs.map { case (id, text) => id -> gramList(text) }
    val df = perDoc.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.length }
    val expected = perDoc.map { case (id, gs) =>
      id -> (gs.size.toLong,
        gs.count(g => df(g) >= Curation.BoilerMinDocs).toLong)
    }.toMap
    val got = Curation.boilerplate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
  }

  test("boilerplate flag splits the corpus (some heavy, not all)") {
    val b = Curation.boilerplate(spark, sf)
    val heavy = b.filter(col("boiler_heavy")).count()
    assert(heavy > 0, "planted exact dups should be boilerplate-heavy")
    assert(heavy < b.count() / 2, "most of the corpus is not boilerplate")
  }

  test("decontamination fires on planted near-dups but not the whole corpus") {
    val rows = Curation.decontaminate(spark, sf)
      .select("contaminated").collect().map(_.getBoolean(0))
    val contaminated = rows.count(identity)
    assert(contaminated > 0, "planted near-dups should contaminate")
    assert(contaminated < rows.length / 10,
      s"8-gram rule should be rare, got $contaminated/${rows.length}")
  }

  test("eval documents never appear in the decontamination output") {
    val ids = Curation.decontaminate(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    assert(ids.forall(_ % Curation.EvalModulus != 0))
  }

  test("bloom decontamination dominates the exact overlap (one-sided error)") {
    val exact = Curation.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Curation.decontaminateBloom(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(bloom.map(_._1).toSeq == exact.keys.toSeq.sorted,
      "same train-doc universe as the exact path")
    // every truly shared gram sets all its bits, so per doc the bloom
    // count can only exceed the exact count (never undercount), and
    // every contaminated doc is flagged
    bloom.foreach { case (id, hits, flagged) =>
      assert(hits >= exact(id), s"doc $id: bloom $hits < exact ${exact(id)}")
      if (exact(id) > 0) assert(flagged, s"doc $id contaminated but unflagged")
    }
    val fpGrams = bloom.map(_._2).sum - exact.values.sum
    assert(fpGrams >= 0)
    info(s"bloom false-positive gram hits beyond exact: $fpGrams")
  }

  test("two-phase decontamination equals the exact probe row-for-row") {
    val exact = Curation.decontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val twoPhase = Curation.decontaminateTwoPhase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(twoPhase == exact,
      "bloom-prefiltered exact confirm must reproduce the exact output")
    // the confirm stage must BROADCAST the (contamination-bounded)
    // candidate ids as a semi-join — shuffling the corpus gram arrays
    // to meet them measured 1.2 GB / slower-than-exact at 100×.
    // Assert the join TYPE on the broadcast-hash node itself (the
    // exact-confirm gram join is also a BroadcastHashJoin, so mere
    // substring co-occurrence would pass even if the candidate
    // semi-join regressed to a shuffle join).
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val executed = Curation.decontaminateTwoPhase(spark, sf)
      .queryExecution.executedPlan
    val semiBroadcasts = collectPlan(executed) {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
    }
    assert(semiBroadcasts.nonEmpty,
      s"expected a BroadcastHashJoinExec with joinType=LeftSemi in:\n$executed")
  }

  test("pipeline assigns every document exactly one disposition") {
    val rows = Curation.curationPipeline(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.length.toLong == Tables.documents(spark, sf).count())
    assert(rows.map(_._1).distinct.length == rows.length)
    val valid = Set("eval_holdout", "duplicate", "short", "low_quality",
      "near_duplicate", "contaminated", "not_sampled",
      "train", "validation", "test")
    assert(rows.map(_._2).toSet.subsetOf(valid))
    // precedence spot-checks: every eval-modulus doc is a holdout,
    // and the pipeline yields a non-empty training set
    rows.filter(_._1 % Curation.EvalModulus == 0)
      .foreach { case (id, d) => assert(d == "eval_holdout", s"doc $id: $d") }
    assert(rows.count(_._2 == "train") > 0)
  }

  test("pipeline dispositions agree with the standalone stages") {
    val disp = Curation.curationPipeline(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // any doc the corpus filter drops carries the filter's reason,
    // unless it is an eval holdout
    val reasons = ext.TextOps.corpusFilter(spark, sf)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    reasons.foreach { case (id, reason) =>
      if (id % Curation.EvalModulus != 0 && reason != "keep")
        assert(disp(id) == reason, s"doc $id")
    }
    // any surviving contaminated doc is labeled contaminated
    val contam = Curation.decontaminate(spark, sf)
      .filter(org.apache.spark.sql.functions.col("contaminated"))
      .collect().map(_.getLong(0))
    contam.foreach { id =>
      val upstream = Set("duplicate", "short", "low_quality", "near_duplicate")
      assert(disp(id) == "contaminated" || upstream(disp(id)), s"doc $id")
    }
  }

  test("writeCurated materializes splits that reconcile with the pipeline") {
    val out = graft.ops.Scratch.dir("graft_curated")
    Curation.writeCurated(spark, sf, out)
    val dispCounts = Curation.curationPipeline(spark, sf)
      .groupBy("disposition").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpus = spark.read.parquet(s"$out/corpus")
    val splitCounts = corpus.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("train", "validation", "test").foreach { s =>
      assert(splitCounts.getOrElse(s, 0L) == dispCounts.getOrElse(s, 0L), s)
    }
    // split is a partition column: reading one split prunes to its dir
    assert(corpus.filter(col("split") === "train").count()
      == dispCounts.getOrElse("train", 0L))
    // chunk shards cover exactly the train docs that have tokens
    val trainChunkDocs = spark.read.parquet(s"$out/train_chunks")
      .select("doc_id").distinct().count()
    val expected = Curation.chunkPack(spark, sf).select("doc_id").distinct()
      .join(corpus.filter(col("split") === "train").select("doc_id"), "doc_id")
      .count()
    assert(trainChunkDocs == expected)
  }

  test("artifact-fed pipeline equals the live pipeline") {
    val out = graft.ops.Scratch.dir("graft_labels")
    ext.Sampling.writeSplitLabels(spark, sf, out)
    val live = Curation.curationPipeline(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    val fed = Curation.curationPipelineFrom(spark, sf, out).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    assert(fed == live)
  }

  test("artifact-fed pipeline: bucketed corpus leaves one doc_id exchange") {
    // broadcast + AQE off = the 100-TB sort-merge regime. The corpus
    // and the label artifact are co-bucketed on doc_id, so of the
    // pipeline's five doc_id-keyed joins plus the decontam groupBy,
    // the ONLY hash exchange on doc_id allowed is corpusFilter's
    // return leg from its content-fingerprint window (that reshuffle
    // is information-theoretically required: the dup rank is keyed by
    // content, not doc_id). Everything else must ride the bucketing.
    val out = graft.ops.Scratch.dir("graft_labels")
    ext.Sampling.writeSplitLabels(spark, sf, out)
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for (df <- Seq(Curation.curationPipelineFrom(spark, sf, out),
          Curation.curationPipelineSketch(spark, sf, out))) {
        val exchanges = df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
              && e.outputPartitioning.toString.contains("doc_id") => e
        }
        assert(exchanges.size == 1,
          s"expected exactly one doc_id hash exchange, got " +
            s"${exchanges.size}:\n${df.queryExecution.executedPlan}")
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("sketch pipeline equals the exact pipeline when bloom has no FPs") {
    val out = graft.ops.Scratch.dir("graft_labels")
    ext.Sampling.writeSplitLabels(spark, sf, out)
    // precondition: at this SF the bloom probe has zero false
    // positives (asserted by the dominance test), so dispositions
    // must agree outright
    val exact = Curation.curationPipelineFrom(spark, sf, out).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    val sketch = Curation.curationPipelineSketch(spark, sf, out).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    assert(sketch == exact)
  }

  test("persisted split labels round-trip the live split exactly") {
    val out = graft.ops.Scratch.dir("graft_labels")
    ext.Sampling.writeSplitLabels(spark, sf, out)
    val live = ext.Sampling.trainTestSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val fed = ext.Sampling.trainTestSplitFrom(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(fed == live)
    // the artifact is served from a doc_id-bucketed catalog table, so
    // a doc_id-keyed consumer can plan bucket-local joins; its scan
    // must not re-run the connected-components fixpoint (no joins at
    // all in the read plan)
    val plan = ext.Sampling.trainTestSplitFrom(spark, out)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("sequence packing matches an independent running-offset recomputation") {
    // independent recompute: chunk lengths in plain Scala, running
    // sum per (source, shard) in document order, start-offset rule
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val chunks = docs.flatMap { case (id, src, text) =>
      val t = text.trim
      val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
      toks.grouped(Curation.ChunkSize).zipWithIndex.map {
        case (c, i) => (src, id % Curation.PackShards, id, i.toLong, c.length.toLong)
      }
    }
    val expected = chunks.groupBy(c => (c._1, c._2)).toSeq.flatMap {
      case ((src, shard), cs) =>
        var cum = 0L
        cs.sortBy(c => (c._3, c._4)).map { case (_, _, id, idx, len) =>
          val seq = cum / Curation.PackBudget
          cum += len
          (id, src, shard, seq, idx, len)
        }
    }.toSet
    val got = Curation.packSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5).toLong)).toSet
    assert(got == expected)
  }

  test("packing summary reconciles with the packing detail") {
    val detail = Curation.packSequences(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getInt(5).toLong))
    val bySeq = detail.groupBy(d => (d._1, d._2, d._3))
      .map { case (k, cs) => k -> cs.map(_._4).sum }
    val expected = bySeq.groupBy(_._1._1).map { case (src, seqs) =>
      src -> (seqs.size.toLong, seqs.values.sum,
        seqs.values.count(_ >= Curation.PackBudget).toLong)
    }
    val got = Curation.packSequencesSummary(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
    // every chunk from chunkPack is packed exactly once
    assert(detail.length.toLong ==
      Curation.chunkPack(spark, sf).count())
  }

  test("vocabulary top-k matches an independent frequency count") {
    val texts = Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { text =>
      val t = text.trim
      if (t.nonEmpty) t.split("\\s+").foreach(w =>
        counts(w) = counts.getOrElse(w, 0L) + 1L)
    }
    val expected = counts.toSeq
      .sortBy { case (tok, n) => (-n, tok) }
      .take(TextOps.VocabK)
    val rows = TextOps.vocabTopK(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == expected)
  }

  test("chunk packing partitions every document's tokens exactly") {
    val tokenCounts = Tables.documents(spark, sf)
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n"))
      .filter(col("n") > 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val chunks = Curation.chunkPack(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet == tokenCounts.keySet)
    byDoc.foreach { case (id, cs) =>
      val n = tokenCounts(id)
      val expectChunks = (n + Curation.ChunkSize - 1) / Curation.ChunkSize
      assert(cs.length.toLong == expectChunks, s"doc $id chunk count")
      assert(cs.map(_._3.toLong).sum == n, s"doc $id token sum")
      // chunk indexes are dense 0..k-1 and only the last may be short
      assert(cs.map(_._2).sorted.toSeq == (0L until expectChunks).toSeq)
      cs.sortBy(_._2).dropRight(1).foreach { c =>
        assert(c._3 == Curation.ChunkSize, s"doc $id interior chunk ${c._2}")
      }
    }
  }

  test("rag composite returns exactly the retrieved docs' chunks " +
    "with their retrieval cosines") {
    val topk = graft.ext.KMeans.ivfTrainedTopK(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val rag = Curation.ragTopkChunks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(4)))
    assert(rag.map(_._1).toSet == topk.keySet)
    for ((d, c, _, _) <- rag) assert(c == topk(d), s"doc $d cosine")
    val chunks = Curation.chunkPack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .filter(x => topk.contains(x._1)).toSet
    assert(rag.map(x => (x._1, x._3, x._4)).toSet == chunks)
    assert(rag.nonEmpty)
  }

  test("data card reconciles with the component queries it aggregates") {
    import graft.ext.{Dedup, Sampling, Selection}
    val card = Curation.dataCard(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sf).count()
    assert(card("docs_total") == docs)
    assert(card("kept_filter") ==
      TextOps.corpusFilter(spark, sf).filter(col("keep")).count())
    val clus = Dedup.nearDupClusters(spark, sf)
      .select("cluster_id").collect().map(_.getLong(0))
    assert(card("nd_clusters") == clus.distinct.length.toLong)
    assert(card("nd_dup_docs") == (clus.length - clus.distinct.length).toLong)
    val splits = Sampling.trainTestSplit(spark, sf)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(card("split_train") == splits.getOrElse("train", 0L))
    assert(card("split_validation") == splits.getOrElse("validation", 0L))
    assert(card("split_test") == splits.getOrElse("test", 0L))
    assert(card("jsd_max_micronats") ==
      Selection.jsDivergence(spark, sf)
        .agg(max(col("jsd_micronats"))).head.getLong(0))
    assert(card.keySet.size == 9)
    // internal consistency: splits partition the corpus
    assert(card("split_train") + card("split_validation") +
      card("split_test") == docs)
  }

  test("artifact-fed data card equals the live card when the label " +
    "and count stores are current") {
    import graft.ext.{Sampling, Selection}
    val base = graft.ops.Scratch.dir("graft_card")
    val labelsDir = s"$base/labels"
    val countsDir = s"$base/counts"
    Sampling.writeSplitLabels(spark, sf, labelsDir)
    Selection.tokenCountsOn(Tables.documents(spark, sf))
      .write.mode("overwrite")
      .parquet(s"$countsDir/${Selection.TokenCountsTable}.parquet")
    val live = Curation.dataCard(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val fed = Curation.dataCardFrom(spark, sf, labelsDir, countsDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fed == live,
      "artifact-fed card diverges from the live build")
    // the steady-state plan must NOT contain the CC fixpoint's
    // localCheckpoint scan — label metrics come from the parquet store
    val plan = Curation.dataCardFrom(spark, sf, labelsDir, countsDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan") || !plan.contains("Checkpoint"),
      "artifact-fed card should read stores, not checkpointed CC labels")
  }

  test("the data card is incremental END-TO-END: gold-built label and " +
    "count stores folded with a batch still answer the exact live card") {
    // round-15: the card's expensive legs read two artifacts whose
    // merge == rebuild is individually gated; this closes the loop by
    // driving the card THROUGH both merge paths — gold build, batch
    // fold, card from the folded stores == the live full-corpus card
    import graft.ext.{Dedup, Sampling, Selection}
    val base = graft.ops.Scratch.dir("graft_card_inc")
    val labelsDir = s"$base/labels"
    val countsDir = s"$base/counts"
    val d = Tables.documents(spark, sf)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    val gold = d.filter(col("doc_id") <= cutoff)
    val batch = d.filter(col("doc_id") > cutoff)
    // labels: gold store, then the batch folds in (the split-label
    // merge path, merge == rebuild gated in SamplingSpec)
    Sampling.writeLabelArtifact(spark,
      Sampling.splitFromClusters(Dedup.nearDupClustersOn(gold)),
      labelsDir)
    Sampling.mergeSplitLabelsArtifact(spark, labelsDir, gold, batch)
    // counts: gold store, then the batch folds in (the count-artifact
    // merge path, exactly-once via the batch-id marker)
    Selection.tokenCountsOn(gold).write.mode("overwrite")
      .parquet(s"$countsDir/${Selection.TokenCountsTable}.parquet")
    assert(Selection.mergeTokenCountsArtifact(spark, countsDir,
      batch, 0L))
    val live = Curation.dataCard(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val fed = Curation.dataCardFrom(spark, sf, labelsDir, countsDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fed == live,
      "card over merged artifacts diverges from the live full build")
  }

  test("snapshot diff statuses match a local recompute of the fixture views") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def half(t: String) = t.substring(0, t.length / 2)
    val v1 = docs.filter(_._1 % 7 != 3)
      .map { case (id, s, t) => id -> ((s, if (id % 11 == 0) half(t) else t)) }
      .toMap
    val v2 = docs.filter(_._1 % 17 != 5)
      .map { case (id, s, t) => id -> ((s, t)) }.toMap
    val exp = (v1.keySet ++ v2.keySet).toSeq.map { id =>
      val status =
        if (!v1.contains(id)) "added"
        else if (!v2.contains(id)) "removed"
        else if (v1(id)._2 != v2(id)._2) "changed"
        else "unchanged"
      (v2.getOrElse(id, v1(id))._1, status)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = Curation.snapshotDiff(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == exp)
    // the fixture exercises every status
    assert(Set("added", "removed", "changed", "unchanged")
      .subsetOf(got.keySet.map(_._2)))
  }

  test("diff-driven keep-earliest re-curation CASCADES: a doc rejected " +
      "as a dup of a since-removed keeper is re-elected") {
    val ss = spark
    import ss.implicits._
    // v1: doc 1 keeps, doc 2 is its exact dup; doc 3 unique; doc 4 unique
    val v1 = Seq(
      (1L, "s1", "same text"), (2L, "s1", "Same Text "),
      (3L, "s1", "unique a"), (4L, "s2", "unique b"))
      .toDF("doc_id", "source", "text")
    // v2: doc 1 REMOVED (doc 2 must be re-elected keeper of its
    // group); doc 3 CHANGED into the same group (joins under keeper
    // 2); doc 5 ADDED as a dup of untouched doc 4 (its group becomes
    // touched through the entrant side only)
    val v2 = Seq(
      (2L, "s1", "Same Text "), (3L, "s1", "same text"),
      (4L, "s2", "unique b"), (5L, "s2", "UNIQUE B"))
      .toDF("doc_id", "source", "text")
    val out = Curation.diffRecurateKeepOn(v1, v2).collect()
      .map(r => (r.getString(3), r.getLong(0)) ->
        ((r.getLong(1), r.getBoolean(2)))).toMap
    val full = out.filter(_._1._1 == "full")
    val incr = out.filter(_._1._1 == "incr")
    assert(incr.map { case ((_, id), v) => id -> v } ==
      full.map { case ((_, id), v) => id -> v },
      "incremental must equal the full re-run")
    // the cascade itself: 2 re-elected, 3 demoted into 2's group,
    // 5 deduped against untouched 4
    assert(incr((("incr", 2L))) == ((2L, true)))
    assert(incr((("incr", 3L))) == ((2L, false)))
    assert(incr((("incr", 4L))) == ((4L, true)))
    assert(incr((("incr", 5L))) == ((4L, false)))
  }

  test("diff-driven card re-curation handles source appearance, " +
      "disappearance, and re-attribution exactly") {
    val ss = spark
    import ss.implicits._
    val v1 = Seq(
      (1L, "gone", "aaaa"), (2L, "stays", "bb"), (3L, "stays", "ccc"))
      .toDF("doc_id", "source", "text")
    // source `gone` fully removed; source `fresh` appears; one doc of
    // `stays` changes length; doc 3 MOVES to a new source with
    // identical text (the re-attribution case the source||text diff
    // fingerprint exists for — a text-only diff would miss it and
    // leave doc 3 counted under `stays`)
    val v2 = Seq(
      (2L, "stays", "bbbbbb"), (3L, "moved", "ccc"),
      (9L, "fresh", "dd"))
      .toDF("doc_id", "source", "text")
    val rows = Curation.diffRecurateCardOn(v1, v2).collect()
      .map(r => (r.getString(4), r.getString(0)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val expect = Map(
      "stays" -> ((1L, 6L, 2L)),
      "moved" -> ((1L, 3L, 3L)),
      "fresh" -> ((1L, 2L, 9L)))
    for (form <- Seq("full", "incr"); (src, v) <- expect)
      assert(rows(((form, src))) == v, s"$form/$src")
    assert(!rows.keySet.exists(_._2 == "gone"),
      "a fully-removed source must leave no card row")
  }
}
