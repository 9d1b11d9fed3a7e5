package graft

import graft.ext.TextOps

/** Independent-recompute checks for the repetition and OOV-rate
  * signals: plain-Scala reimplementations over collected text (not
  * the Column expressions under test), compared exactly for integer
  * fields and to 1e-12 for the single-division doubles. */
class TextSignalsSpec extends SparkSpec {

  private def toks(text: String): Array[String] = {
    val t = text.trim
    if (t.isEmpty) Array.empty[String] else t.split("\\s+")
  }

  test("repetition signals match an independent per-document recomputation") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, text) =>
      val t = toks(text)
      val bg = t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val top = if (bg.isEmpty) 0L
        else bg.groupBy(identity).values.map(_.size).max.toLong
      val dupFrac = if (t.isEmpty) 0.0 else 1.0 - t.distinct.length.toDouble / t.length
      val bgFrac = if (bg.isEmpty) 0.0 else top.toDouble / bg.size
      (id, t.length, t.distinct.length, dupFrac, bg.size, top, bgFrac,
        bgFrac > TextOps.RepTopBigramFrac || dupFrac > TextOps.RepDupTokenFrac)
    }.sortBy(_._1)
    val got = TextOps.repetition(spark, sf).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3),
        r.getInt(4), r.getLong(5), r.getDouble(6), r.getBoolean(7)))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3 &&
        g._5 == e._5 && g._6 == e._6 && g._8 == e._8, s"$g vs $e")
      assert(math.abs(g._4 - e._4) < 1e-12 && math.abs(g._7 - e._7) < 1e-12,
        s"$g vs $e")
    }
    // the thresholds must split the corpus, not rubber-stamp it
    val flagged = got.count(_._8)
    assert(flagged > 0 && flagged < got.length,
      s"repetitive flag is degenerate: $flagged of ${got.length}")
  }

  test("OOV rate matches an independent vocabulary + count recomputation") {
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, text) =>
      toks(text).foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1L)
    }
    val vocab = counts.toSeq.sortBy { case (tok, n) => (-n, tok) }
      .take(TextOps.OovVocabK).map(_._1).toSet
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val all = ds.flatMap(d => toks(d._2))
      val oov = all.count(w => !vocab(w)).toLong
      src -> (all.length.toLong, oov, oov.toDouble / all.length)
    }
    val got = TextOps.oovRate(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (src, (n, oov, rate)) =>
      val g = got(src)
      assert(g._1 == n && g._2 == oov, s"$src: $g vs ($n, $oov)")
      assert(math.abs(g._3 - rate) < 1e-12, s"$src: ${g._3} vs $rate")
    }
    // with a vocab smaller than the corpus's distinct tokens, some
    // mass must be out-of-vocabulary
    assert(got.values.exists(_._2 > 0))
  }

  test("per-source quality cut keeps exactly the docs at or above " +
    "their source's exact p25 score") {
    import graft.ext.TextOps
    val scores = TextOps.qualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val srcOf = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cutoffs = srcOf.toSeq.groupBy(_._2).map { case (src, xs) =>
      val sorted = xs.map(x => (scores(x._1), x._1)).sorted
      val k = math.ceil(sorted.length * TextOps.QualityCutFrac).toInt
      src -> sorted(k - 1)._1
    }
    val rows = TextOps.qualitySourceCut(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(rows.length == srcOf.size)
    for ((id, src, score, cutoff, kept) <- rows) {
      assert(score == scores(id), s"doc $id score")
      assert(cutoff == cutoffs(src), s"source $src cutoff")
      assert(kept == (score >= cutoff), s"doc $id kept flag")
    }
    assert(rows.exists(!_._5), "the cut should drop someone")
    assert(rows.count(_._5) > rows.length / 2, "p25 cut keeps most docs")
  }

  test("gopher rules match an independent recompute; first failing rule " +
      "wins; each binding rule fires somewhere") {
    val stop = Set("the", "and", "of", "to", "a")
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def expect(text: String): (Long, Option[Double], Int, Long, String) = {
      val t = toks(text)
      val n = t.length.toLong
      val meanLen =
        if (n == 0) None
        else Some((text.length - (n - 1)).toDouble / n)
      val maxLen = if (t.isEmpty) 0 else t.map(_.length).max
      val hits = t.count(stop.contains).toLong
      val reason =
        if (n < TextOps.GopherMinWords || n > TextOps.GopherMaxWords)
          "word_count"
        else if (meanLen.exists(m => m < TextOps.GopherMinMeanLen ||
            m > TextOps.GopherMaxMeanLen)) "mean_word_len"
        else if (hits < TextOps.GopherMinStopHits) "stopword"
        else if (maxLen > TextOps.GopherMaxWordLen) "max_word_len"
        else "keep"
      (n, meanLen, maxLen, hits, reason)
    }
    val rows = TextOps.gopherRules(spark, sf).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (n, meanLen, maxLen, hits, reason) = expect(docs(id))
      assert(r.getInt(2) == n, s"doc $id word_count")
      assert((if (r.isNullAt(3)) None else Some(r.getDouble(3))) == meanLen,
        s"doc $id mean_word_len")
      assert(r.getInt(4) == maxLen, s"doc $id max_word_len")
      assert(r.getInt(5) == hits, s"doc $id stop_hits")
      assert(r.getString(6) == reason, s"doc $id reason")
      assert(r.getBoolean(7) == (reason == "keep"), s"doc $id kept")
    }
    val reasons = rows.map(_.getString(6)).toSet
    assert(Set("keep", "word_count", "mean_word_len", "stopword")
      .subsetOf(reasons), s"calibrated rules should all fire, got $reasons")
    val keptFrac = rows.count(_.getBoolean(7)).toDouble / rows.length
    assert(keptFrac > 0.5 && keptFrac < 0.95,
      s"rule set should split the corpus, kept $keptFrac")
  }

  test("language confusion matrix reconciles with per-doc predictions") {
    val preds = TextOps.langId(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(6)))
    val expect = preds.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val rows = TextOps.langConfusion(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.map(x => x._1 -> x._2).toMap == expect)
    rows.foreach { case ((l, p), _, c) => assert(c == (l == p)) }
    assert(rows.map(_._2).sum == preds.length)
    // the heuristic should be non-trivially right AND non-perfect on
    // this corpus, otherwise the audit reads nothing
    val correct = rows.filter(_._3).map(_._2).sum.toDouble / preds.length
    assert(correct > 0.3 && correct < 1.0, s"degenerate accuracy $correct")
  }

  test("winnowing sketch matches an independent recompute and carries " +
      "the MOSS guarantee on an injected overlap") {
    import java.security.MessageDigest
    def fp60(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def sketch(text: String): Set[(Int, Long)] = {
      val t = toks(text)
      if (t.length < TextOps.WinnowK) return Set.empty
      val hs = t.sliding(TextOps.WinnowK).map(_.mkString(" "))
        .map(fp60).toArray
      if (hs.length < TextOps.WinnowW) return Set.empty
      (0 to hs.length - TextOps.WinnowW).flatMap { i0 =>
        val win = hs.slice(i0, i0 + TextOps.WinnowW)
        val mn = win.min
        val j = win.lastIndexWhere(_ == mn)
        Some((i0 + j + 1, mn)) // 1-based gram position
      }.toSet
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.flatMap { case (id, text) =>
      sketch(text).map { case (p, f) => (id, p, f) }
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = TextOps.winnowFingerprints(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == expect)
    // MOSS guarantee: two texts sharing a K+W-1-token run share a
    // selected fingerprint
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val a = sketch(s"one two three $shared x1 y1 z1")
    val b = sketch(s"p q r s t u v w $shared")
    assert(a.map(_._2).intersect(b.map(_._2)).nonEmpty,
      "winnowing must select a common fingerprint for a 7-token overlap")
  }

  test("zipf fit matches an independent local least squares") {
    val docs = Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
    val freq = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { tx =>
      val t = tx.trim
      if (t.nonEmpty) t.split("\\s+").foreach(w =>
        freq(w) = freq.getOrElse(w, 0L) + 1L)
    }
    val top = freq.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(TextOps.ZipfFitV).map(_._2)
    val pts = top.zipWithIndex.map { case (f, i) =>
      (math.floor(math.log((i + 1).toDouble) * 1e6).toLong,
        math.floor(math.log(f.toDouble) * 1e6).toLong)
    }
    val n = BigInt(pts.length)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val slope = (num.toDouble * 1e6 / den.toDouble).toLong
    val intercept =
      ((sy * den - num * sx).toDouble / (n * den).toDouble).toLong
    val r = TextOps.zipfFit(spark, sf).head()
    assert(r.getLong(0) == pts.length.toLong)
    assert(r.getLong(1) == top.head)
    assert(r.getLong(2) == slope && r.getLong(3) == intercept)
    // a frequency-ranked head always slopes downward, and the
    // intercept (ln freq at rank 1) can't sit below the fit's tail
    assert(slope < 0L)
    assert(r.getLong(3) > 0L)
  }

  test("heaps fit matches an independent local curve + least squares") {
    val rows = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val m = rows.map(_._1).max + 1
    val pn = TextOps.HeapsPoints
    val toks = rows.map { case (id, tx) =>
      val t = tx.trim
      (id, if (t.isEmpty) Array.empty[String] else t.split("\\s+"))
    }.filter(_._2.nonEmpty)
    def jOf(id: Long) =
      math.floor((id * pn).toDouble / m.toDouble).toLong
    val tokJ = toks.groupBy(t => jOf(t._1)).view
      .mapValues(_.map(_._2.length.toLong).sum).toMap
    val vocJ = toks.flatMap { case (id, t) => t.map(w => (w, jOf(id))) }
      .groupBy(_._1).values.map(_.map(_._2).min)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var cumT = 0L; var cumV = 0L
    val pts = (0L until pn.toLong).flatMap { j =>
      cumT += tokJ.getOrElse(j, 0L); cumV += vocJ.getOrElse(j, 0L)
      if (cumT > 0 && cumV > 0)
        Some((math.floor(math.log(cumT.toDouble) * 1e6).toLong,
          math.floor(math.log(cumV.toDouble) * 1e6).toLong))
      else None
    }
    val n = BigInt(pts.length)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val beta = (num.toDouble * 1e6 / den.toDouble).toLong
    val logc =
      ((sy * den - num * sx).toDouble / (n * den).toDouble).toLong
    val r = TextOps.heapsFit(spark, sf).head()
    assert(r.getLong(0) == pts.length.toLong)
    assert(r.getLong(1) == cumT && r.getLong(2) == cumV)
    assert(r.getLong(3) == beta && r.getLong(4) == logc)
    // vocabulary growth is monotone and sublinear: 0 ≤ β ≤ 1. This
    // fixture's fixed word list SATURATES in the first checkpoint
    // (β ≈ 0) — the flat end of exactly the spectrum the stat
    // screens (natural text ~0.5; ID-ridden corpora → 1)
    assert(beta >= 0L && beta <= 1000000L, s"beta=$beta")
    assert(cumV.toDouble <= cumT.toDouble)
  }

  test("text stats served from the BM25 postings store equal the " +
      "live forms exactly (vocab, zipf, heaps)") {
    import org.apache.spark.sql.functions._
    val store = graft.ops.Scratch.dir("graft_textstats_store") + "/ix"
    graft.ext.Retrieval.writeBm25Index(
      Tables.documents(spark, sf)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t")),
      store)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(TextOps.vocabTopKFromStore(spark, s"$store/postings"))
      == rows(TextOps.vocabTopK(spark, sf)),
      "vocab from postings must equal the live explode-count")
    assert(rows(TextOps.zipfFitFromStore(spark, s"$store/postings"))
      == rows(TextOps.zipfFit(spark, sf)),
      "zipf fit from postings must equal the live fit")
    assert(rows(TextOps.heapsFitFromStore(spark, store))
      == rows(TextOps.heapsFit(spark, sf)),
      "heaps fit from postings must equal the live fit")
  }
}
