package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup
import graft.ops.StoreCommit

class DedupSpec extends SparkSpec {

  test("LSH candidate pairs are a subset of exact all-pairs results") {
    val exact = Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH found pairs exact missed: ${lsh -- exact}")
  }

  test("source overlap matrix reconciles with the near-dup pair set") {
    val src = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map { r =>
        val (a, b) = (src(r.getLong(0)), src(r.getLong(1)))
        (if (a <= b) (a, b) else (b, a))
      }
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val got = Dedup.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    assert(got.nonEmpty, "planted near-dups should span sources")
    assert(got.keys.exists { case (a, b) => a != b },
      "planted near-dups should include cross-source pairs")
  }

  test("LSH recall is 100% on strong near-duplicates (jaccard ≥ 0.8)") {
    val strong = Dedup.ngramJaccardPairs(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty, "test data should contain planted near-dups")
    assert(strong.subsetOf(lsh),
      s"LSH missed strong near-dups: ${strong -- lsh}")
  }

  test("near-duplicate documents have close SimHash signatures") {
    val strongPair = Dedup.ngramJaccardPairs(spark, sf)
      .orderBy(col("jaccard").desc).limit(1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val sigs = Dedup.simhashSignatures(spark, sf)
      .filter(col("doc_id").isin(strongPair._1, strongPair._2))
      .select("simhash").collect().map(_.getLong(0))
    val hamming = java.lang.Long.bitCount(sigs(0) ^ sigs(1))
    assert(hamming <= 12, s"near-dup pair hamming=$hamming")
  }

  test("simhash banded pair join finds the planted near-dups") {
    val pairs = Dedup.simhashPairs(spark, sf)
    assert(pairs.count() > 0)
  }

  test("vacuum physically drops tombstoned docs, resets the list, " +
      "preserves the watermark, and the store serves like a fresh " +
      "build on the retained corpus") {
    import java.nio.file.Files
    val base = graft.ops.Scratch.dir("graft_vac")
    val goldDir = s"$base/gold"; val ixDir = s"$base/ix"
    val d = Tables.documents(spark, sf)
    val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val cutoff = ids(ids.length * 4 / 5)
    val gold = d.filter(col("doc_id") <= cutoff)
    StoreCommit.replace(goldDir)(gold.write.parquet(_))
    graft.ops.StoreFiles.writeIdWatermark(goldDir, cutoff)
    graft.ops.StoreFiles.createMarker(goldDir, "_ids_synced")
    Dedup.writeGoldIndex(gold, ixDir)
    val doomed = gold.filter(col("doc_id") % 7 === 3)
    val nDoomed = doomed.count()
    assert(nDoomed > 0)
    Dedup.tombstoneGoldIndex(doomed, ixDir)
    val goldBefore = StoreCommit.read(spark, goldDir).count()
    val (removed, reclaimed) = Dedup.vacuumGold(spark, goldDir, ixDir)
    assert(removed == nDoomed && reclaimed > 0,
      s"vacuum removed=$removed (want $nDoomed) reclaimed=$reclaimed")
    assert(StoreCommit.read(spark, goldDir).count() == goldBefore - nDoomed)
    // the tombstone list is RESET (removals are physical now)
    assert(StoreCommit.subFileCount(ixDir, "tombstones") == 0)
    // the PRE-vacuum watermark survives: replayed old batches drop
    assert(graft.ops.StoreFiles.readIdWatermark(goldDir).contains(cutoff))
    assert(graft.ops.StoreFiles.markerExists(goldDir, "_ids_synced"))
    // serving parity: the vacuumed index answers exactly like a live
    // split against the retained gold
    val fresh = d.filter(col("doc_id") > cutoff)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val servedRows = rows(Dedup.incrementalAgainstIndex(spark, fresh, ixDir))
    val liveRows = rows(Dedup.incrementalSplit(
      gold.filter(col("doc_id") % 7 =!= 3), fresh))
    assert(servedRows == liveRows)
    // idempotent: a second vacuum is a no-op
    assert(Dedup.vacuumGold(spark, goldDir, ixDir) == ((0L, 0L)))
  }

  test("hot-bucket collapse: the boilerplate clone cluster emits the " +
      "template's star, and candidate work obeys the capped bound") {
    val stats = Dedup.lshBucketStats(spark, sf).head()
    val saturated = stats.getAs[Long]("saturated_buckets")
    val uncapped = stats.getAs[Long]("uncapped_candidates")
    val capped = stats.getAs[Long]("capped_candidates")
    // the 301-doc clone cluster saturates all 4 of its band buckets
    assert(saturated >= 4 && stats.getAs[Long]("max_bucket") >= 301)
    // the collapse is the point: candidate work drops by >10× here
    // (~45k clique pairs -> ~300 star edges per saturated bucket)
    assert(capped * 10 < uncapped,
      s"cap did not collapse the quadratic cluster: $capped vs $uncapped")
    val d = Tables.documents(spark, sf)
    val ids = d.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (minId, maxId) = (ids.getLong(0), ids.getLong(1))
    val pairs = Dedup.minhashLshHotBucket(spark, sf)
    // every clone connects to the corpus through exactly one verified
    // star edge anchored at the bucket representative (the template),
    // with jaccard 1 (byte-identical text)
    val clonePairs = pairs.filter(col("doc_b") > maxId).collect()
    assert(clonePairs.length == Dedup.SkewClones)
    assert(clonePairs.forall(r =>
      r.getLong(0) == minId && r.getDouble(2) == 1.0))
    // emitted pairs are a subset of the capped candidate set: the
    // O(Σ min(n,cap)·n) bound holds on the materialized output too
    assert(pairs.count() <= capped)
  }

  test("prefix-filtered jaccard equals the full inverted-index result") {
    val full = Dedup.ngramJaccardPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Dedup.ngramJaccardPrefixPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty && pref === full,
      s"prefix filtering lost/added pairs: missing=${full -- pref} extra=${pref -- full}")
  }

  test("near-dup clusters: pairs co-clustered, canonical keep per cluster") {
    val clusters = Dedup.nearDupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // every near-dup pair lands in the same cluster
    Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").collect().foreach { r =>
        assert(clusters(r.getLong(0))._1 == clusters(r.getLong(1))._1)
      }
    // exactly one kept doc per cluster, and it is the cluster id
    val byCluster = clusters.values.groupBy(_._1)
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_._2) == 1)
      assert(clusters(cid) == (cid, true))
    }
    assert(byCluster.size < clusters.size, "planted dups should merge")
  }

  test("star-contraction CC: log-bounded rounds on a path graph") {
    val ss = SparkSpec.spark
    import ss.implicits._
    // a 64-node path is the adversarial case for min-label propagation
    // (needs diameter=63 rounds); star contraction must do it in
    // O(log n) — plus a disjoint triangle and an isolated pair
    val path = (0L until 63L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))
    val (labels, rounds) =
      Dedup.connectedComponents((path ++ extra).toDF("doc_a", "doc_b"))
    assert(rounds <= 8, s"path graph took $rounds rounds (not log-bounded)")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 63L).forall(got(_) == 0L), "path must collapse to min id")
    assert(Seq(100L, 101L, 102L).forall(got(_) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L)
    assert(got.size == 64 + 3 + 2, "exactly the edge-touched nodes labeled")
  }

  test("star-contraction CC: corpus edge set converges in few rounds") {
    val edges = Dedup.ngramJaccardPairs(spark, sf)
      .select(col("doc_a"), col("doc_b"))
    val (_, rounds) = Dedup.connectedComponents(edges)
    assert(rounds <= 6,
      s"near-dup graph took $rounds rounds — clusters should be shallow")
  }

  test("md5 simhash: near-dup pair shares bands; identical texts agree") {
    val md5Sigs = Dedup.simhashSignaturesMd5(spark, sf)
    // bands are 16-bit values
    val bad = md5Sigs.filter(
      (1 to 4).map(i => col(s"band${i - 1}")).map(c => c < 0 || c > 0xFFFF)
        .reduce(_ || _))
    assert(bad.count() === 0)
    // the strongest planted near-dup pair should agree on ≥1 band
    // (same property the banded join exploits)
    val strongPair = Dedup.ngramJaccardPairs(spark, sf)
      .orderBy(col("jaccard").desc).limit(1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    val rows = md5Sigs
      .filter(col("doc_id").isin(strongPair._1, strongPair._2))
      .collect().map(r => (1 to 4).map(i => r.getLong(i)))
    val shared = rows(0).zip(rows(1)).count { case (a, b) => a == b }
    assert(shared >= 1, s"near-dup pair shares no simhash band: $rows")
  }

  test("incremental dedup: one verdict per new doc, matches point into gold") {
    val d = graft.Tables.documents(spark, sf)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    val res = Dedup.incrementalNearDups(spark, sf).collect()
    assert(res.length == d.filter(col("doc_id") > cutoff).count())
    res.foreach { r =>
      val verdict = r.getString(1)
      assert(Set("exact_dup", "near_dup", "unique")(verdict))
      assert(r.getLong(0) > cutoff, "rows must be new-batch docs")
      if (verdict == "unique") assert(r.isNullAt(2) && r.isNullAt(3))
      else assert(r.getLong(2) <= cutoff, "match must be a gold doc")
      if (verdict == "near_dup") assert(r.getDouble(3) >= 0.2)
      if (verdict == "exact_dup") assert(r.isNullAt(3))
    }
    assert(res.count(_.getString(1) != "unique") > 0,
      "planted near-dups should cross the split")
  }

  test("incremental dedup against a persisted gold index matches the split form") {
    val d = graft.Tables.documents(spark, sf)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    val dir = graft.ops.Scratch.dir("gold_idx")
    Dedup.writeGoldIndex(d.filter(col("doc_id") <= cutoff), dir)
    val viaIndex = Dedup.incrementalAgainstIndex(spark,
      d.filter(col("doc_id") > cutoff), dir).collect().toSeq
    val direct = Dedup.incrementalNearDups(spark, sf).collect().toSeq
    assert(viaIndex == direct)
  }

  test("a gold index whose bands.band_val is the md5-hex string is " +
      "refused, naming the rebuild, instead of matching nothing") {
    val d = graft.Tables.documents(spark, sf)
    val cutoff = d.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    val base = graft.ops.Scratch.dir("gold_hex")
    val current = s"$base/current"; val hexEra = s"$base/hex"
    Dedup.writeGoldIndex(d.filter(col("doc_id") <= cutoff), current)
    // the same index in the pre-BINARY(16) band format: band_val as
    // the 32-char md5 hex string
    StoreCommit.replace(hexEra) { next =>
      Seq("fingerprints", "shingles").foreach(c =>
        StoreCommit.readSub(spark, current, c).write.parquet(s"$next/$c"))
      StoreCommit.readSub(spark, current, "bands")
        .withColumn("band_val", lower(hex(col("band_val"))))
        .write.partitionBy("band_idx").parquet(s"$next/bands")
    }
    val e = intercept[IllegalStateException] {
      Dedup.incrementalAgainstIndex(spark,
        d.filter(col("doc_id") > cutoff), hexEra)
    }
    assert(e.getMessage.contains("rebuildIndex"), e.getMessage)
  }

  test("rebuildIndex recovers the crash window between gold append " +
      "and index append") {
    val d = graft.Tables.documents(spark, sf)
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    val gold0 = d.filter(col("doc_id") <= maxId * 6 / 10)
    val batch1 = d.filter(col("doc_id") > maxId * 6 / 10
      && col("doc_id") <= maxId * 8 / 10)
    val batch2 = d.filter(col("doc_id") > maxId * 8 / 10)
    val base = graft.ops.Scratch.dir("gold_crash")
    // healthy start: gold corpus + matching index
    StoreCommit.replace(s"$base/gold")(gold0.write.parquet(_))
    Dedup.writeGoldIndex(gold0, s"$base/index")
    // simulated crash: batch1's uniques reach the gold corpus but the
    // index append never happens (the sink's documented crash window
    // — gold is written first so replay misses dups, never drops docs)
    val uniques1 = batch1.join(
      Dedup.incrementalAgainstIndex(spark, batch1, s"$base/index")
        .filter(col("verdict") === "unique").select("doc_id"),
      Seq("doc_id")).localCheckpoint()
    StoreCommit.append(s"$base/gold")(uniques1.write.mode("append").parquet(_))
    // recovery: rebuild the index from the gold source of truth …
    Dedup.rebuildIndex(spark, s"$base/gold", s"$base/index")
    val recovered = Dedup.incrementalAgainstIndex(
      spark, batch2, s"$base/index").collect().toSeq
    // … and it must judge batch2 exactly like an index built directly
    // from the same gold corpus by a crash-free run
    val cleanIdx = graft.ops.Scratch.dir("gold_clean")
    Dedup.writeGoldIndex(StoreCommit.read(spark, s"$base/gold"), cleanIdx)
    val clean = Dedup.incrementalAgainstIndex(
      spark, batch2, cleanIdx).collect().toSeq
    assert(recovered == clean)
    assert(recovered.nonEmpty)
  }

  test("tombstoned gold index judges like an index rebuilt without the " +
      "removed docs, and compaction folds the tombstones") {
    val d = graft.Tables.documents(spark, sf)
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    // gold under the sink invariant (only accepted uniques enter, so
    // exact-fingerprint groups are singletons): keep min doc per fp
    val slice = d.filter(col("doc_id") <= maxId * 8 / 10)
    val fpc = md5(lower(trim(col("text"))).cast("binary"))
    val keepIds = slice.select(col("doc_id"), fpc.as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val gold = slice.join(keepIds, Seq("doc_id")).localCheckpoint()
    val probe = d.filter(col("doc_id") > maxId * 8 / 10).localCheckpoint()
    val base = graft.ops.Scratch.dir("gold_ts")
    StoreCommit.replace(s"$base/gold")(gold.write.parquet(_))
    Dedup.writeGoldIndex(gold, s"$base/index")
    val orig = Dedup.incrementalAgainstIndex(spark, probe, s"$base/index")
      .localCheckpoint()
    // removal set: docs the probe batch actually MATCHES — removing
    // them must flip those verdicts (the re-curation cascade)
    val removed = orig.filter(col("match_id").isNotNull)
      .select(col("match_id").as("doc_id")).distinct().limit(3)
      .localCheckpoint()
    assert(removed.count() > 0, "fixture must have matched probes")
    Dedup.tombstoneGoldIndex(removed, s"$base/index")
    val viaTombstones = Dedup.incrementalAgainstIndex(
      spark, probe, s"$base/index").collect().toSeq
    // truth: a fresh index built on gold minus the removed docs
    val cleanIdx = graft.ops.Scratch.dir("gold_ts_clean")
    Dedup.writeGoldIndex(
      gold.join(removed, Seq("doc_id"), "left_anti"), cleanIdx)
    val clean = Dedup.incrementalAgainstIndex(spark, probe, cleanIdx)
      .collect().toSeq
    assert(viaTombstones == clean,
      "tombstoned index must answer like the rebuilt-without index")
    assert(viaTombstones != orig.collect().toSeq,
      "removing match targets must change some verdicts")
    // rebuild excludes the tombstoned docs AND carries the list (gold
    // is append-only — dropping it would resurrect the docs at the
    // NEXT rebuild)
    Dedup.rebuildIndex(spark, s"$base/gold", s"$base/index")
    assert(StoreCommit.subFileCount(s"$base/index", "tombstones") > 0,
      "rebuild must carry the tombstone component forward")
    val rebuilt = Dedup.incrementalAgainstIndex(
      spark, probe, s"$base/index").collect().toSeq
    assert(rebuilt == clean)
    // the resurrection regression: a SECOND rebuild from the same
    // (unchanged, still containing the removed rows) gold corpus must
    // not bring the removed docs back
    Dedup.rebuildIndex(spark, s"$base/gold", s"$base/index")
    val rebuiltTwice = Dedup.incrementalAgainstIndex(
      spark, probe, s"$base/index").collect().toSeq
    assert(rebuiltTwice == clean,
      "second rebuild must not resurrect tombstoned docs")
  }

  test("index compaction: threshold triggers a rebuild that shrinks files, " +
      "verdicts unchanged") {
    val d = graft.Tables.documents(spark, sf)
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    val base = graft.ops.Scratch.dir("gold_compact")
    val gold0 = d.filter(col("doc_id") <= maxId / 2)
    StoreCommit.replace(s"$base/gold")(gold0.write.parquet(_))
    Dedup.writeGoldIndex(gold0, s"$base/index")
    // fragment the store with several small appends (each append adds
    // part files per component, like the streaming sink's micro-batches)
    val probe = d.filter(col("doc_id") > maxId * 9 / 10)
    (0 until 4).foreach { i =>
      val b = d.filter(col("doc_id") > maxId * (5 + i) / 10
        && col("doc_id") <= maxId * (6 + i) / 10)
      // uniques-only appends (the appendGoldIndex contract, and what
      // the streaming sink does) keep the fingerprint probe key-unique
      val uniques = b.join(
        Dedup.incrementalAgainstIndex(spark, b, s"$base/index")
          .filter(col("verdict") === "unique").select("doc_id"),
        Seq("doc_id")).localCheckpoint()
      StoreCommit.append(s"$base/gold")(uniques.write.mode("append").parquet(_))
      Dedup.appendGoldIndex(uniques, s"$base/index")
    }
    val fragmented = Dedup.indexFileCount(s"$base/index")
    val before = Dedup.incrementalAgainstIndex(spark, probe, s"$base/index")
      .collect().toSeq
    // under-threshold: a no-op
    assert(!Dedup.maybeCompactIndex(spark, s"$base/gold", s"$base/index",
      threshold = fragmented + 1))
    assert(Dedup.indexFileCount(s"$base/index") == fragmented)
    // over-threshold: rebuild runs and the store shrinks
    assert(Dedup.maybeCompactIndex(spark, s"$base/gold", s"$base/index",
      threshold = fragmented - 1))
    val compacted = Dedup.indexFileCount(s"$base/index")
    assert(compacted < fragmented,
      s"rebuild should compact: $compacted vs $fragmented part files")
    // derived state: the compacted index judges probes identically
    val after = Dedup.incrementalAgainstIndex(spark, probe, s"$base/index")
      .collect().toSeq
    assert(after == before)
  }

  test("substring spans: engine output matches an independent local recompute") {
    val L = Dedup.SpanGram
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // plain-string recompute (no fingerprinting — a 60-bit fp
    // collision in the engine would surface here as a mismatch)
    val occ = docs.flatMap { case (id, text) =>
      val t = text.trim
      val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
      (0 to toks.length - L).map(i =>
        (id, i + 1L, toks.slice(i, i + L).mkString(" ")))
    }
    val counts = occ.groupBy(_._3).map { case (g, xs) => g -> xs.length }
    val expected = occ.filter(o => counts(o._3) >= Dedup.SpanMinOcc)
      .groupBy(_._1).toSeq.flatMap { case (id, os) =>
        val ps = os.map(_._2).distinct.sorted
        // island merge: starts within L tokens overlap or touch
        val islands = ps.foldLeft(List.empty[(Long, Long)]) {
          case (acc, p) => acc match {
            case (s, e) :: rest if p - e <= L => (s, p) :: rest
            case _ => (p, p) :: acc
          }
        }.reverse
        islands.map { case (s, e) => (id, s, e + L - 1, e + L - s) }
      }.sortBy(x => (x._1, x._2))
    val got = Dedup.substringSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "test corpus should contain duplicated spans")
    assert(got.exists(_._4 > L),
      "island merge should produce at least one span longer than one gram")
  }

  test("substring summary reconciles with the span rows") {
    val perDoc = Dedup.substringSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val rows = Dedup.substringSpanSummary(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val bySrc = docs.groupBy(_._2)
    for (r <- rows) {
      val src = r.getString(0)
      val ids = bySrc(src).map(_._1)
      assert(r.getLong(1) == ids.length.toLong)
      assert(r.getLong(2) == ids.count(perDoc.contains).toLong)
      assert(r.getLong(3) == ids.flatMap(perDoc.get).sum)
    }
    assert(rows.map(_.getLong(2)).sum == perDoc.size.toLong)
  }

  test("semantic dedup flags exactly the same-cluster pairs of the " +
    "all-pairs cosine baseline") {
    val rows = Dedup.semanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val cl = rows.map(r => r._1 -> r._2).toMap
    val pairs = Dedup.embeddingCosinePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sameCluster = pairs.filter { case (a, b) => cl(a) == cl(b) }
    val expected = sameCluster.groupBy(_._2)
      .map { case (b, xs) => b -> xs.map(_._1).min }
    for ((id, _, isDup, dupOf) <- rows) {
      assert(isDup == expected.contains(id), s"vec $id flag")
      assert(dupOf == expected.get(id), s"vec $id dup_of")
    }
    assert(expected.nonEmpty,
      "corpus should contain same-cluster semantic dups")
    assert(rows.count(_._3) <= pairs.map(_._2).distinct.length,
      "SemDeDup flags are a subset of the all-pairs baseline's")
  }

  test("scaled semantic dedup: fine cells nest in coarse cells and " +
    "flags are a subset of the coarse form's") {
    val coarse = Dedup.semanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    val scaled = Dedup.semanticDedupScaled(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(scaled.length == coarse.size)
    for ((id, cell, _) <- scaled)
      assert(cell / Dedup.SubK == coarse(id)._1,
        s"vec $id: fine cell $cell outside coarse cluster ${coarse(id)._1}")
    val coarseFlags = coarse.filter(_._2._2).keySet
    val scaledFlags = scaled.filter(_._3).map(_._1).toSet
    assert(scaledFlags.subsetOf(coarseFlags),
      s"sub-splitting can only LOSE pairs: ${scaledFlags -- coarseFlags}")
    assert(scaledFlags.nonEmpty,
      "tight duplicate pairs should survive the sub-split")
  }

  test("local sampled trainer is bit-identical to the frame trainer " +
    "on the same member set") {
    import org.apache.spark.sql.functions._
    // parity proof for KMeans.trainLocal: run both trainers over one
    // coarse cell's full membership — identical init, assignment,
    // quantized-mean update, rounds → identical doubles
    val cents = graft.ext.KMeans.trainFrame(
      graft.ext.KMeans.vecs(spark, sf).select(col("vec_id"), col("v")),
      graft.ext.KMeans.K)
    val cell0 = graft.ext.KMeans.vecs(spark, sf)
      .select(col("vec_id"), col("v"),
        graft.ext.KMeans.assignOn(col("v"), cents).as("cluster"))
      .filter(col("cluster") === 0)
      .select(col("vec_id"), col("v"))
    val fromFrame = graft.ext.KMeans.trainFrame(cell0, Dedup.SubK)
    val members = cell0.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val fromLocal = graft.ext.KMeans.trainLocal(members, Dedup.SubK)
    assert(fromLocal == fromFrame,
      "trainLocal diverges from trainFrame on identical input")
  }

  test("artifact semantic dedup: cells nest in coarse clusters, flags " +
    "are a subset of the coarse form's, and the disk artifact serves " +
    "the identical result") {
    import org.apache.spark.sql.functions._
    val coarse = Dedup.semanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    val art = Dedup.semanticDedupArtifact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(art.length == coarse.size)
    for ((id, cell, _, _) <- art)
      assert(cell / Dedup.SubK == coarse(id)._1,
        s"vec $id: fine cell $cell outside coarse cluster ${coarse(id)._1}")
    val coarseFlags = coarse.filter(_._2._2).keySet
    val artFlags = art.filter(_._3).map(_._1).toSet
    assert(artFlags.subsetOf(coarseFlags),
      s"sub-splitting can only LOSE pairs: ${artFlags -- coarseFlags}")
    assert(artFlags.nonEmpty,
      "tight duplicate pairs should survive the sampled sub-split")
    // disk artifact round-trip: write the cell-partitioned store,
    // serve from it, identical rows — training/assignment never re-run
    val cellsDir = graft.ops.Scratch.dir("graft_semcells") + "/cells"
    Dedup.writeSemanticCells(spark, sf, cellsDir)
    val fromDisk = Dedup.semanticDedupFromCells(spark, cellsDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(fromDisk.toSeq == art.toSeq,
      "artifact-served dedup diverges from the live build")
  }

  test("semantic batch delta equals the full frozen-quantizer dedup " +
    "restricted to batch rows; batch side broadcasts") {
    import org.apache.spark.sql.functions._
    val vecs = graft.ext.KMeans.vecs(spark, sf)
    val gold = vecs.filter(col("vec_id") < Dedup.SemBatchCut)
    val batch = vecs.filter(col("vec_id") >= Dedup.SemBatchCut)
    assert(batch.count() > 0)
    val (coarse, subs) =
      Dedup.trainSemanticQuantizers(gold, Dedup.SubK)
    // ground truth: assign EVERYONE under the frozen quantizers, run
    // the full in-cell prune, keep batch rows
    val all = Dedup.assignSemanticCells(vecs, coarse, subs, Dedup.SubK)
      .localCheckpoint()
    val full = Dedup.semanticDedupOverCells(all)
      .filter(col("vec_id") >= Dedup.SemBatchCut)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val delta = Dedup.semanticDedupBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(delta.toSeq == full.toSeq,
      "append delta diverges from the full rebuild's batch rows")
    assert(delta.exists(_._3), "batch should contain semantic dups")
    // gold verdicts are untouched by construction: batch ids are all
    // higher, and dup_of only looks at lower ids
    assert(batch.agg(min(col("vec_id"))).head.getLong(0) >
      gold.agg(max(col("vec_id"))).head.getLong(0))
    // the delta's pairwise join must broadcast the batch side
    val goldCells = Dedup.assignSemanticCells(gold, coarse, subs,
      Dedup.SubK).localCheckpoint()
    val batchCells = Dedup.assignSemanticCells(batch, coarse, subs,
      Dedup.SubK).localCheckpoint()
    val plan = Dedup.batchSemanticDups(goldCells, batchCells)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"batch side must broadcast:\n$plan")
  }

  test("artifact-fed keep-best equals the live CC-built form") {
    val labelsDir = graft.ops.Scratch.dir("graft_kb_labels")
    graft.ext.Sampling.writeSplitLabels(spark, sf, labelsDir)
    val live = Dedup.keepBestQuality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSeq
    val fed = Dedup.keepBestQualityFrom(spark, sf, labelsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSeq
    assert(fed == live, "artifact-fed keep-best diverges from live")
  }

  test("subKFor scales the cell count linearly with the corpus") {
    assert(Dedup.subKFor(2000) == 2) // floor at 2 sub-cells
    assert(Dedup.subKFor(200000) == 40)
    assert(Dedup.subKFor(20000000) == 4000)
    // effective cell size stays ~TargetCellSize as N grows
    for (n <- Seq(100000L, 1000000L, 10000000L)) {
      val cells = graft.ext.KMeans.K.toLong * Dedup.subKFor(n)
      val per = n.toDouble / cells
      assert(per <= Dedup.TargetCellSize * 1.1,
        s"cell size $per drifts above target at n=$n")
    }
    // sample modulus keeps the window input bounded
    assert(Dedup.sampleModulusFor(500, Dedup.SampleCap) == 1L)
    assert(Dedup.sampleModulusFor(20000000, 320) > 1L)
  }

  test("all-pairs embedding baseline refuses to run past its row guard") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingCosinePairs(spark, sf, maxRows = 10)
    }
    assert(ex.getMessage.contains("lshBucketedPairs"),
      "guard message should point at the scale path")
  }

  test("method agreement reconciles the text and semantic pair sets") {
    val text = Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Dedup.embeddingCosinePairs(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val both = text.intersect(sem)
    val row = Dedup.methodAgreement(spark, sf).head()
    assert(row.getLong(0) == text.size.toLong)
    assert(row.getLong(1) == sem.size.toLong)
    assert(row.getLong(2) == both.size.toLong)
    assert(row.getLong(3) == (text.size - both.size).toLong)
    assert(row.getLong(4) == (sem.size - both.size).toLong)
    val union = text.union(sem).size
    val expectJ = if (union == 0) 0.0 else both.size.toDouble / union
    assert(row.getDouble(5) == expectJ)
  }

  test("keep-best selects exactly one member per cluster: the quality " +
      "argmax, ties to the lower doc_id") {
    val scores = graft.ext.TextOps.qualityScore(spark, sf)
      .select("doc_id", "quality_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val clusters = Dedup.nearDupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectKept = clusters.groupBy(_._2).map { case (_, members) =>
      members.map(_._1).minBy(id => (-scores(id), id))
    }.toSet
    val rows = Dedup.keepBestQuality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(rows.length == clusters.length)
    rows.foreach { case (id, cid, q, kept) =>
      assert(q == scores(id), s"doc $id score")
      assert(kept == expectKept(id), s"doc $id kept flag")
    }
    // exactly one canonical member per cluster
    val keptPerCluster = rows.filter(_._4).groupBy(_._2)
      .view.mapValues(_.length).toMap
    assert(rows.map(_._2).toSet == keptPerCluster.keySet)
    assert(keptPerCluster.values.forall(_ == 1))
    // the policy differs from lowest-id somewhere on this corpus
    // (otherwise the operator is indistinguishable from dedup_clusters)
    val lowestId = clusters.groupBy(_._2).map { case (_, m) =>
      m.map(_._1).min
    }.toSet
    assert(expectKept != lowestId,
      "quality-argmax should pick a non-minimal id in some cluster")
  }
}
