package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Sampling}

class SamplingSpec extends SparkSpec {

  test("mix hash matches the independent local reimplementation") {
    val got = Tables.documents(spark, sf)
      .select(col("doc_id"), Sampling.mixHash(col("doc_id")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.nonEmpty)
    got.foreach { case (id, h) =>
      assert(h == Sampling.mixHashLocal(id), s"doc $id: $h")
      assert(h >= 0L && h < 1000003L)
    }
  }

  test("stratified sample is deterministic across runs") {
    val a = Sampling.stratifiedSample(spark, sf).collect().toSeq
    val b = Sampling.stratifiedSample(spark, sf).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("threshold samples are nested: lower rate is a subset of higher") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        (Sampling.mixHash(col("doc_id")) % Sampling.BucketCount).as("b"))
    def at(t: Long) = docs.filter(col("b") < t)
      .collect().map(_.getLong(0)).toSet
    val s10 = at(1000L); val s25 = at(2500L)
    val s50 = at(5000L); val s100 = at(10000L)
    assert(s10.subsetOf(s25) && s25.subsetOf(s50) && s50.subsetOf(s100))
    assert(s100.size.toLong ==
      Tables.documents(spark, sf).count())
  }

  test("summary sampled counts equal the sample's per-source sizes") {
    val fromSample = Sampling.stratifiedSample(spark, sf)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromSummary = Sampling.stratifiedSampleSummary(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(2))
      .filter(_._2 > 0L).toMap
    assert(fromSummary == fromSample)
  }

  test("epoch repetition matches an independent multiplicity recomputation") {
    val sources = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def weight10k(src: String): Long =
      "(\\d+)".r.findFirstIn(src).getOrElse("0").toLong % 4 match {
        case 0 => 25000L; case 1 => 20000L; case 2 => 10000L; case _ => 5000L
      }
    val expected = sources.map { case (id, src) =>
      val w = weight10k(src)
      val bucket = Sampling.mixHashLocal(id) % Sampling.BucketCount
      (id, src) -> (w / 10000L + (if (bucket < w % 10000L) 1L else 0L))
    }.toMap.filter(_._2 > 0)

    val got = Sampling.epochRepeat(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = got.groupBy(r => (r._1, r._2))
    assert(byDoc.keySet == expected.keySet)
    byDoc.foreach { case (k, rows) =>
      assert(rows.length.toLong == expected(k), s"doc $k multiplicity")
      // epochs are dense 0..reps-1
      assert(rows.map(_._3).sorted.toSeq == (0L until expected(k)).toSeq)
    }
  }

  test("fixed-count sample matches an independent per-source selection") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.map(_._1)
        .sortBy(id => (Sampling.mixHashLocal(id), id))
        .take(Sampling.FixedSampleK)
        .zipWithIndex
        .map { case (id, i) => (id, src, i + 1) }
    }.toSet
    val got = Sampling.fixedCountSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    assert(got == expected)
    // exactly min(K, stratum size) rows per source
    val perSource = got.groupBy(_._2).view.mapValues(_.size).toMap
    val sizes = docs.groupBy(_._2).view.mapValues(_.size).toMap
    sizes.foreach { case (src, n) =>
      assert(perSource.getOrElse(src, 0) ==
        math.min(Sampling.FixedSampleK, n), src)
    }
  }

  test("temperature weights match an independent recomputation and keep the budget") {
    val sizes = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getString(1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val w = sizes.view.mapValues(n =>
      math.floor(math.sqrt(n.toDouble) * Sampling.MixWeightScale).toLong).toMap
    val total = w.values.sum
    val expected = sizes.keys.map { src =>
      src -> (sizes(src), w(src), w(src).toDouble / total,
        w(src) * Sampling.MixBudgetDocs / total)
    }.toMap
    val got = Sampling.temperatureWeights(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (src, (docs, ws, p, budget)) =>
      val g = got(src)
      assert(g._1 == docs && g._2 == ws && g._4 == budget, s"$src: $g")
      assert(math.abs(g._3 - p) < 1e-12, s"$src: ${g._3} vs $p")
    }
    // integer floor split: the distributed budget never overshoots,
    // and undershoots by less than one doc per source
    val distributed = got.values.map(_._4).sum
    assert(distributed <= Sampling.MixBudgetDocs)
    assert(distributed > Sampling.MixBudgetDocs - got.size)
    // α = 1/2 flattens: smaller sources get MORE than proportional share
    val (minSrc, _) = sizes.minBy(_._2)
    val propShare = sizes(minSrc).toDouble / sizes.values.sum
    assert(got(minSrc)._3 >= propShare - 1e-12,
      s"sqrt smoothing should not give a small source less than proportional")
  }

  test("epoch shuffle is a per-epoch permutation with distinct orders") {
    val ids = Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    // independent recompute: hash, shard, then rank within (epoch, shard)
    val expected = (0L until Sampling.ShuffleEpochs).flatMap { e =>
      ids.map { id =>
        val h = Sampling.mixHashLocal(id * Sampling.ShuffleEpochs + e)
        (e, h % Sampling.ShuffleShards, h, id)
      }.groupBy(_._2).toSeq.flatMap { case (shard, rows) =>
        rows.sortBy(r => (r._3, r._4)).zipWithIndex.map {
          case ((ep, sh, _, id), i) => (ep, sh, (i + 1).toLong, id)
        }
      }
    }.toSet
    val got = Sampling.epochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3)))
    assert(got.toSet == expected)
    // each epoch is a permutation: every doc exactly once
    got.groupBy(_._1).foreach { case (e, rows) =>
      assert(rows.map(_._4).sorted.sameElements(ids.sorted), s"epoch $e")
    }
    // epochs see genuinely different orders: some doc changes shard
    val shardOf = got.groupBy(r => (r._1, r._4)).view.mapValues(_.head._2)
    assert(ids.exists(id => shardOf((0L, id)) != shardOf((1L, id))),
      "epoch 0 and 1 produced identical shard assignments")
    // positions are contiguous 1..n within every (epoch, shard)
    got.groupBy(r => (r._1, r._2)).foreach { case (k, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length), s"$k")
    }
  }

  test("shard manifest checksums the epoch-shuffle layout exactly") {
    val layout = Sampling.epochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val expected = layout.groupBy(r => (r._1, r._2)).map { case (k, rows) =>
      val joined = rows.sortBy(_._3).map(_._4).mkString(",")
      k -> (rows.length.toLong,
        java.security.MessageDigest.getInstance("MD5")
          .digest(joined.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    }
    val got = Sampling.shardManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    assert(got == expected)
    // the checksum is order-sensitive: perturbing the order changes it
    val (k, (_, fp)) = expected.head
    val perturbed = layout.filter(r => (r._1, r._2) == k)
      .sortBy(-_._3).map(_._4).mkString(",")
    val pfp = java.security.MessageDigest.getInstance("MD5")
      .digest(perturbed.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(pfp != fp)
  }

  test("train/test split never separates a near-dup pair (no leakage)") {
    val split = Sampling.trainTestSplit(spark, sf)
      .select("doc_id", "split")
    val pairs = Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b")
    val straddling = pairs
      .join(split.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
    assert(pairs.count() > 0, "test data should contain near-dup pairs")
    assert(straddling.count() == 0L,
      s"near-dup pairs straddle splits: ${straddling.collect().toSeq}")
  }

  test("split covers every document exactly once with a valid label") {
    val split = Sampling.trainTestSplit(spark, sf)
    val total = Tables.documents(spark, sf).count()
    assert(split.count() == total)
    assert(split.select("doc_id").distinct().count() == total)
    val labels = split.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("train", "validation", "test")))
    assert(labels.contains("train"), "80% decile mass must land in train")
  }

  test("incremental batch merge equals the full-corpus label rebuild") {
    // gold = 80% cutoff, batch = the appended rest (the same split the
    // registered query and dedup_incremental replay)
    val merged = Sampling.mergeBatchSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val rebuilt = Sampling.trainTestSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(merged == rebuilt,
      "merge-into-star-forest must reproduce the full CC rebuild exactly")
    // sanity: the merge actually exercises cross-boundary edges at
    // this SF (otherwise the test proves nothing)
    val d = Tables.documents(spark, sf)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    val crossEdges = Dedup.batchNearDupEdges(
      d.filter(col("doc_id") <= cutoff), d.filter(col("doc_id") > cutoff))
    assert(crossEdges.count() > 0,
      "test corpus should plant near-dups across the 80% boundary")
  }

  test("sequential merges compose: two appends == one full rebuild") {
    // the merge's output must itself be a valid star forest (doc →
    // component min) or the SECOND merge would start from a broken
    // invariant — this is the induction step that makes per-batch
    // label maintenance sound over an unbounded append sequence
    val d = Tables.documents(spark, sf)
    val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val c0 = ids(ids.length * 3 / 5); val c1 = ids(ids.length * 4 / 5)
    val gold0 = d.filter(col("doc_id") <= c0)
    val batch1 = d.filter(col("doc_id") > c0 && col("doc_id") <= c1)
    val batch2 = d.filter(col("doc_id") > c1)
    val labels0 = Sampling.splitFromClusters(Dedup.nearDupClustersOn(gold0))
    val labels1 = Sampling.mergeBatchLabels(labels0, gold0, batch1)
      .localCheckpoint()
    val gold1 = gold0.unionByName(batch1)
    val labels2 = Sampling.mergeBatchLabels(labels1, gold1, batch2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    val rebuilt = Sampling.trainTestSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(labels2 == rebuilt,
      "two sequential batch merges must equal the one-shot rebuild")
  }

  test("artifact merge: write gold labels, merge batch, read == rebuild") {
    val out = graft.ops.Scratch.dir("graft_merge")
    val d = Tables.documents(spark, sf)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    val gold = d.filter(col("doc_id") <= cutoff)
    val batch = d.filter(col("doc_id") > cutoff)
    Sampling.writeLabelArtifact(spark,
      Sampling.splitFromClusters(Dedup.nearDupClustersOn(gold)), out)
    Sampling.mergeSplitLabelsArtifact(spark, out, gold, batch)
    val fed = Sampling.trainTestSplitFrom(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val rebuilt = Sampling.trainTestSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(fed == rebuilt,
      "persisted artifact after merge must equal the full rebuild")
  }

  test("token-budget mix keeps exactly the maximal prefix per " +
    "(source, shard) quota") {
    val rows = Sampling.tokenBudgetMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def ntok(t: String): Long = {
      val s = t.trim; if (s.isEmpty) 0L else s.split("\\s+").length.toLong
    }
    val wScaled = docs.groupBy(_._2).map { case (s, xs) =>
      s -> math.floor(math.sqrt(xs.length.toDouble) *
        Sampling.MixWeightScale).toLong
    }
    val totalW = wScaled.values.sum
    val budget = wScaled.map { case (s, w) =>
      s -> w * Sampling.MixBudgetTokens / totalW / Sampling.MixTokenShards
    }
    val expected = docs
      .groupBy(d => (d._2, d._1 % Sampling.MixTokenShards)).toSeq
      .flatMap { case ((src, shard), xs) =>
        val ordered = xs.sortBy(d => (Sampling.mixHashLocal(d._1), d._1))
        var cum = 0L
        ordered.flatMap { d =>
          cum += ntok(d._3)
          if (cum <= budget(src)) Some((d._1, src, shard, ntok(d._3), cum))
          else None
        }
      }.toSet
    assert(rows == expected)
    assert(rows.nonEmpty, "budget should admit some documents")
    assert(rows.size < docs.length, "budget should cut some documents")
  }

  test("batch edge generation plans broadcast-only joins (gold side never shuffles)") {
    val d = Tables.documents(spark, sf)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    val edges = Dedup.batchNearDupEdges(
      d.filter(col("doc_id") <= cutoff), d.filter(col("doc_id") > cutoff))
    edges.collect() // materialize so AQE's FINAL plan is inspected
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    val shuffledJoins = collectPlan(edges.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    assert(shuffledJoins.isEmpty,
      s"batch-edge candidate/verify joins must broadcast the batch side:\n" +
        s"${edges.queryExecution.executedPlan}")
  }

  test("priority sample matches an independent local replay (sample, τ, estimator)") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val k = Sampling.PrioritySampleK
    assert(docs.length > k + 1, "fixture must exceed the sample size")
    // local replay: priority = (w·P as double) / (hash+1 as double)
    val pri = docs.map { case (id, w) =>
      (id, w, (w * 1000003L).toDouble /
        (Sampling.mixHashLocal(id) + 1L).toDouble)
    }.sortBy { case (id, _, p) => (-p, id) }
    val tau = pri(k)._3
    val expected = pri.take(k).map { case (id, w, p) =>
      (id, w, p, math.max(w.toDouble, tau))
    }.toSeq
    val got = Sampling.prioritySample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    assert(got == expected)
    // estimator structure: est ≥ w everywhere, and any item with
    // w ≥ τ is estimated by its own weight (the DLT certainty region)
    got.foreach { case (id, w, _, est) =>
      assert(est >= w.toDouble, s"doc $id")
      if (w.toDouble >= tau) assert(est == w.toDouble, s"doc $id")
    }
  }

  test("priority sample plans a TakeOrdered top-k, not a corpus sort") {
    val df = Sampling.prioritySample(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("per-source priority sample matches an independent local " +
      "replay (per-source top-k, per-source τ)") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val k = Sampling.PrioritySamplePerSource
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      val pri = ds.map { case (id, _, w) =>
        (id, w, (w * 1000003L).toDouble /
          (Sampling.mixHashLocal(id) + 1L).toDouble)
      }.sortBy { case (id, _, p) => (-p, id) }
      val tau = if (pri.length > k) pri(k)._3 else 0.0
      pri.take(k).map { case (id, w, p) =>
        (id, src, w, p, math.max(w.toDouble, tau))
      }
    }.sortBy { case (id, src, _, p, _) => (src, -p, id) }
    val got = Sampling.prioritySampleBySource(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got.nonEmpty && got == expected)
    // every source with > k docs contributes exactly k rows
    val bySource = docs.groupBy(_._2).view.mapValues(_.length)
    got.groupBy(_._2).foreach { case (src, rs) =>
      assert(rs.length == math.min(k, bySource(src)), src)
    }
  }
}
