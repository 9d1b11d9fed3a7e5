package graft

import graft.ext.Selection
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Independent-recompute checks for the model-based selection tier:
  * plain-Scala bigram-LM and DSIR reimplementations over collected
  * text (not the Column expressions under test), compared exactly —
  * both engines sum identical quantized-integer log terms, so the
  * scores admit exact equality, no epsilon. */
class SelectionSpec extends SparkSpec {

  private def toks(text: String): Array[String] = {
    val t = text.trim
    if (t.isEmpty) Array.empty[String] else t.split("\\s+")
  }
  private def bigrams(t: Array[String]): Seq[String] =
    t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq

  private def docsRaw: Array[(Long, String, String, String)] =
    Tables.documents(spark, sf)
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

  test("bigram-LM NLL matches an independent quantized recomputation") {
    val docs = docsRaw
    val allBg = docs.flatMap(d => bigrams(toks(d._4)))
    val c2 = allBg.groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val c1 = c2.groupBy(_._1.split(" ")(0)).map { case (w, xs) => w -> xs.values.sum }
    val v = docs.flatMap(d => toks(d._4)).distinct.length.toLong
    def lp(b: String): Long =
      math.floor(math.log((c2(b) + 1).toDouble / (c1(b.split(" ")(0)) + v)) * Selection.QuantNats).toLong
    val expected = docs.map { case (id, _, _, text) =>
      val bg = bigrams(toks(text))
      (id, bg.size.toLong, -bg.map(lp).sum)
    }.sortBy(_._1)
    val got = Selection.bigramNll(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert((g._1, g._2, g._3) == e, s"$g vs $e")
      assert(g._4 == e._3.toDouble / e._2, s"avg mismatch: $g vs $e")
    }
    // the signal must vary, or the perplexity filter is vacuous
    assert(got.map(_._4).distinct.length > 10, "avg_nll is near-constant")
  }

  test("perplexity buckets are per-language terciles against independent cutoffs") {
    val rows = Selection.pplBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(rows.length == docsRaw.length)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val sorted = rs.sortBy(r => (r._3, r._1))
      val c1 = sorted(math.ceil(sorted.length / 3.0).toInt - 1)._3
      val c2 = sorted(math.ceil(sorted.length * 2.0 / 3.0).toInt - 1)._3
      rs.foreach { case (id, _, avg, bucket) =>
        val exp = if (avg <= c1) "head" else if (avg <= c2) "middle" else "tail"
        assert(bucket == exp, s"doc $id in $lang: $bucket != $exp")
      }
      // terciles must actually split every language's documents
      assert(Set("head", "middle", "tail").subsetOf(rs.map(_._4).toSet),
        s"$lang buckets degenerate: ${rs.map(_._4).toSet}")
    }
  }

  test("DSIR weights and selection match an independent recomputation") {
    val docs = docsRaw
    val spark2 = spark
    import spark2.implicits._
    // bucket via the engine's own md5 fingerprint (the hash family is
    // the engine-independent part; the spec checks the arithmetic)
    val distinctToks = docs.flatMap(d => toks(d._4)).distinct.toSeq
    val bkOf = distinctToks.toDF("tok")
      .select($"tok", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.conv(
          org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.md5($"tok".cast("binary")), 1, 15),
          16, 10).cast("long"),
        org.apache.spark.sql.functions.lit(Selection.DsirBuckets)).as("bk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val target = docs.filter(_._2 == Selection.DsirTargetSource)
    val raw = docs.filter(_._2 != Selection.DsirTargetSource)
    val tCounts = target.flatMap(d => toks(d._4)).groupBy(bkOf)
      .map { case (b, xs) => b -> xs.length.toLong }
    val rCounts = raw.flatMap(d => toks(d._4)).groupBy(bkOf)
      .map { case (b, xs) => b -> xs.length.toLong }
    val tTot = tCounts.values.sum; val rTot = rCounts.values.sum
    def qln(num: Long, den: Long): Long =
      math.floor(math.log(num.toDouble / den) * Selection.QuantNats).toLong
    def lam(b: Long): Long =
      qln(tCounts.getOrElse(b, 0L) + 1, tTot + Selection.DsirBuckets) -
        qln(rCounts.getOrElse(b, 0L) + 1, rTot + Selection.DsirBuckets)
    val expected = raw.map { case (id, src, _, text) =>
      val ts = toks(text)
      (id, src, ts.length.toLong, ts.map(t => lam(bkOf(t))).sum)
    }.sortBy(_._1)
    val got = Selection.dsirWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert((g._1, g._2, g._3, g._4) == e, s"$g vs $e")
    }
    // selection = exactly the top ceil(frac·n) by (weight desc, id)
    val k = math.ceil(Selection.DsirKeepFrac * got.length).toLong
    val topIds = got.sortBy(r => (-r._4, r._1)).take(k.toInt).map(_._1).toSet
    assert(got.count(_._5) == k)
    got.foreach(r => assert(r._5 == topIds.contains(r._1), s"selected flag wrong: $r"))
    // weights must separate target-like docs from the rest
    assert(got.map(_._4).distinct.length > 10, "DSIR weights are near-constant")
  }

  test("DSIR scorer joins the λ table by broadcast, no corpus-sized shuffle join") {
    val plan = Selection.dsirWeights(spark, sf).queryExecution.executedPlan
    val bhj = collectPlan(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "expected broadcast hash join(s) in the DSIR plan")
    val smj = collectPlan(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"unexpected sort-merge join(s): $smj")
  }

  test("JS divergence matches an independent quantized recompute; " +
      "bounded by ln 2") {
    val docs = Tables.documents(spark, sf).select("source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val cst = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { case (src, text) =>
      val t = text.trim
      if (t.nonEmpty) t.split("\\s+").foreach { tok =>
        cst((src, tok)) = cst.getOrElse((src, tok), 0L) + 1
      }
    }
    val cs = cst.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ct = cst.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val cTot = cst.values.sum
    val expect = cs.map { case (src, cS) =>
      val terms = ct.map { case (tok, cT) =>
        val pd = cst.getOrElse((src, tok), 0L).toDouble / cS
        val qd = cT.toDouble / cTot
        val md = (pd + qd) / 2
        val term = (if (pd > 0) pd * math.log(pd / md) * 0.5 else 0.0) +
          qd * math.log(qd / md) * 0.5
        math.floor(term * Selection.QuantNats).toLong
      }
      src -> terms.sum
    }
    val got = Selection.jsDivergence(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == cs.size)
    got.foreach { case (src, nTok, micro, jsd) =>
      assert(nTok == cs(src), s"source $src token total")
      assert(micro == expect(src), s"source $src jsd micronats")
      assert(jsd == micro.toDouble / Selection.QuantNats)
      // bounds (with quantization slack on the low side): JSD ∈ [0, ln 2]
      assert(micro >= -ct.size && micro <= math.ceil(
        math.log(2) * Selection.QuantNats).toLong, s"source $src out of range")
    }
  }

  test("curriculum manifest: phases follow the ppl buckets, shards are " +
      "the mix hash, positions are dense easy-first ranks") {
    import graft.ext.Sampling
    val buckets = Selection.pplBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3)))
    val rows = Selection.curriculum(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getInt(4), r.getLong(5),
        r.getLong(6)))
    assert(rows.length == buckets.length)
    val bucketOf = buckets.map(b => b._1 -> b._4).toMap
    val nllOf = buckets.map(b => b._1 -> b._3).toMap
    val phaseFor = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    rows.foreach { case (id, bucket, phase, shard, _) =>
      assert(bucket == bucketOf(id), s"doc $id bucket")
      assert(phase == phaseFor(bucket), s"doc $id phase")
      assert(shard ==
        Sampling.mixHashLocal(id) % Selection.CurriculumShards,
        s"doc $id shard")
    }
    // positions: dense 1..n per (phase, shard), ordered by (nll, id)
    rows.groupBy(r => (r._3, r._4)).foreach { case (grp, members) =>
      val sorted = members.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1L to members.length).toSeq,
        s"group $grp positions not dense")
      val expectOrder = members
        .sortBy(m => (nllOf(m._1).getOrElse(Double.MaxValue), m._1))
        .map(_._1).toSeq
      assert(sorted.map(_._1).toSeq == expectOrder,
        s"group $grp not in easy-first order")
    }
  }

  test("incremental token-count merge scores identically to the full " +
      "recompute, including through a persisted artifact") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val gold = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    assert(batch.count() > 0)
    val full = Selection.jsDivergence(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val merged = Selection.jsDivergenceFromCounts(
      Selection.mergeTokenCounts(Selection.tokenCountsOn(gold), batch))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(merged == full)
    // persisted artifact round-trip: write gold counts, merge the
    // batch against the on-disk table
    val dir = graft.ops.Scratch.dir("graft_tokcounts") + "/counts"
    Selection.tokenCountsOn(gold).write.mode("overwrite").parquet(dir)
    val fromDisk = Selection.jsDivergenceFromCounts(
      Selection.mergeTokenCounts(spark.read.parquet(dir), batch))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fromDisk == full)
  }

  test("artifact merge folds into a MARKER-LESS seeded count table " +
      "instead of replacing it") {
    import org.apache.spark.sql.functions._
    // seed via the documented batch path — a plain parquet write, no
    // _batch_id marker. The merge must treat the existing DIRECTORY as
    // the artifact (lastApplied = -1) and fold the batch in; keying on
    // the marker would silently re-initialize from just the batch.
    val docs = Tables.documents(spark, sf)
    val gold = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val countsDir = graft.ops.Scratch.dir("graft_seedcounts")
    Selection.tokenCountsOn(gold).write.mode("overwrite")
      .parquet(s"$countsDir/${Selection.TokenCountsTable}.parquet")
    assert(Selection.mergeTokenCountsArtifact(spark, countsDir, batch, 0L))
    val merged = Selection.jsDivergenceFromArtifact(spark, countsDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val full = Selection.jsDivergence(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(merged == full, "seeded artifact was replaced, not merged")
    // replay no-op still holds once the marker exists
    assert(!Selection.mergeTokenCountsArtifact(spark, countsDir, batch, 0L))
  }

  test("NB lang scores match an independent local closed-form replay") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toksOf(s: String): Seq[String] =
      if (s.trim.isEmpty) Seq.empty else s.trim.split("\\s+").toSeq
    val train = docs.filter { case (id, _, _) =>
      graft.ext.Sampling.mixHashLocal(id) % 10 < Selection.NbTrainDeciles }
    val ct = train.flatMap { case (_, l, t) => toksOf(t).map((l, _)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ctot = ct.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    val v = ct.keys.map(_._2).toSet.size.toLong
    val nTrain = train.length.toLong
    val priors = train.groupBy(_._2).map { case (l, d) =>
      l -> math.floor(
        math.log(d.length.toDouble / nTrain.toDouble) * 1e6).toLong }
    def q(x: Double): Long = math.floor(math.log(x) * 1e6).toLong
    val lp0 = ctot.map { case (l, c) => l -> q(1.0 / (c + v).toDouble) }
    val cands = lp0.keySet.intersect(priors.keySet).toSeq.sorted
    val expected = docs.map { case (id, lang, text) =>
      val scores = cands.map { c =>
        val tokSum = toksOf(text).map { t =>
          ct.get((c, t)) match {
            case Some(n) => q((n + 1).toDouble / (ctot(c) + v).toDouble)
            case None => lp0(c)
          }
        }.sum
        c -> (tokSum + priors(c))
      }
      val (pred, s) = scores.minBy { case (c, sc) => (-sc, c) }
      (id, lang, pred, s,
        graft.ext.Sampling.mixHashLocal(id) % 10 >= Selection.NbTrainDeciles)
    }.sortBy(_._1).toSeq
    val got = Selection.nbLangScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(got == expected)
  }

  test("NB confusion covers exactly the held-out docs and beats the prior") {
    val scored = Selection.nbLangScore(spark, sf).collect()
    val test = scored.filter(_.getBoolean(4))
    val conf = Selection.nbConfusion(spark, sf).collect()
    assert(conf.map(_.getLong(2)).sum == test.length.toLong)
    val correct = conf.filter(_.getBoolean(3)).map(_.getLong(2)).sum
    // on this synthetic word-soup corpus the lang signal is weak:
    // the hand-built stopword heuristic scores 36.8% and NB lands in
    // the same class (~34%), both far above the 5-class 20% chance
    // floor — assert the chance floor with a 1.25× margin, not
    // majority (which neither classifier reaches here)
    val nCands = scored.map(_.getString(1)).distinct.length
    assert(correct * nCands * 4 > test.length.toLong * 5,
      s"NB ($correct/${test.length}, $nCands classes) should beat " +
        "1.25x the uniform-chance floor")
  }
}
