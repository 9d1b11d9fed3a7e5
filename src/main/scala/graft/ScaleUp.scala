package graft
import org.apache.spark.sql.functions._
import graft.ops.QueryProfile

/** Dev experiment: build key-shifted 10×/100× copies of the star
  * tables AND the documents corpus under /tmp, then time headline +
  * dedup queries against base and scaled data, recording SHUFFLE
  * BYTES alongside wall seconds — measured evidence across two
  * decades of scaling that the plans stay linear (PLANS.md "Reading
  * these at 100 TB").
  *
  * Usage: `runMain graft.ScaleUp [copies]` (default 100).
  *
  * Every timed row, query or one-time build, is one [[QueryProfile]]
  * record: wall, rows, jobs, stages, tasks, executor time and shuffle
  * bytes. `[scaleup]` lines carry what a record cannot: recall,
  * candidate volumes, store sizes.
  *
  * Scaling design:
  *  - orders/lineitem: key-shifted copies (`key + i·maxKey`) keep
  *    join fan-outs identical to the base data;
  *  - documents: each copy prefixes every TOKEN with `c<i>_`, so
  *    shingles differ across copies and the near-dup structure is
  *    each copy's own (output pairs scale ×copies, LINEAR). Naive
  *    identical-text copies would make every doc an exact dup of its
  *    99 siblings — C(100,2) output pairs per doc, a quadratic
  *    OUTPUT artifact of the copy process, not a plan property.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(100)
    val spark = GraftSession.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/scale$copies"
    def measure[T](n: String, dir: String)(body: => T): T =
      QueryProfile.measure(spark, n, dir)(body)
    def note(n: String, dir: String, s: String): Unit =
      println(f"[scaleup] $n%-32s $dir%-24s $s")

    if (!new java.io.File(s"$dst/lineitem.parquet").exists()) {
      val li = Tables.lineitem(spark, src)
      val o = Tables.orders(spark, src)
      val maxOrder = o.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      (0 until copies).map { i =>
        o.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrder))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/orders.parquet")
      (0 until copies).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrder))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
      val d = Tables.documents(spark, src)
      val maxDoc = d.agg(max(col("doc_id"))).head().getLong(0) + 1
      (0 until copies).map { i =>
        d.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
      for (t <- Seq("customer", "supplier", "part", "nation", "region"))
        Tables.load(spark, src, t).write.mode("overwrite")
          .parquet(s"$dst/$t.parquet")
      println(s"[scaleup] built $dst (${copies}x)")
    }

    // one untimed pass so the first timed query isn't paying JVM/
    // codegen warm-up (the round-4 first run measured q1 at 6-8 s
    // cold vs 0.5 s steady)
    SparkEntry.queries("q6_revenue_per_region_year")(spark, src).collect()
    SparkEntry.queries("q6_revenue_per_region_year")(spark, dst).collect()

    // doc_id-bucketed gold corpus: built BEFORE any timed row, because
    // several steady-state consumers read it (dedup_incremental, the
    // artifact/sketch curation tiers) and the first one to run would
    // otherwise absorb the one-time corpus rewrite into its timing
    for (d <- Seq(src, dst)) {
      measure("gold_docs_bucket_build", d)(
        graft.pipeline.GoldLayout.ensureBucketedTable(
          spark, d, "documents", "doc_id"))
    }

    def timed(n: String, dir: String, reps: Int)(
        body: => org.apache.spark.sql.DataFrame): Unit =
      (1 to reps).foreach(_ => measure(n, dir)(body.collect()))

    def time(n: String, dir: String, reps: Int): Unit =
      timed(n, dir, reps)(SparkEntry.queries(n)(spark, dir))

    // section selector: SPARK_GRAFT_SCALEUP_SECTIONS=ops8,curation
    // reruns just those tiers (unset = everything). Keeps a re-measure
    // of one tier from re-paying the 300 s curation composites.
    val sections = sys.env.get("SPARK_GRAFT_SCALEUP_SECTIONS")
      .map(_.split(",").map(_.trim).toSet)
    def on(s: String): Boolean = sections.forall(_.contains(s))

    if (on("headline")) {
      for (q <- Seq("q1_total_revenue", "q6_revenue_per_region_year",
          "q8_avg_shipping_days")) {
        time(q, src, 2); time(q, dst, 2)
      }
      // bucketed gold layout: the exchange-free answer to q8's 100×
      // regime (both-sides shuffle SMJ, 852 MB measured round 4). The
      // one-time layout build is timed separately — it's the write-side
      // cost a lakehouse pays once, amortized over every downstream
      // fact-fact join.
      for (d <- Seq(src, dst)) {
        measure("gold_bucketed_build", d)(
          graft.pipeline.GoldLayout.ensureBucketed(spark, d))
        time("q8_shipping_days_bucketed", d, 2)
      }
      for (q <- Seq("dedup_minhash_lsh", "dedup_incremental")) {
        time(q, src, 1); time(q, dst, 1)
      }
    }
    if (on("curation")) {
      // curation tier: sampling is scan-shaped (zero exchange on the
      // core), chunk packing is a pure explode, decontamination is a
      // broadcast probe (NOTE: the % EvalModulus pseudo-benchmark makes
      // the eval side scale WITH the corpus here — a real benchmark is
      // O(thousands of docs), so production broadcast cost is constant;
      // the number to read is the probe side's linearity), and the
      // split rides the connected-components fixpoint (the one
      // driver-loop graph job, previously unmeasured at 100×)
      for (q <- Seq("sample_stratified", "text_chunk_pack",
          "decontam_eval_overlap", "split_train_test", "mix_epoch_repeat")) {
        time(q, src, 1); time(q, dst, 1)
      }
      // constant-size eval set: the % EvalModulus pseudo-benchmark above
      // scales WITH the corpus (every copy contributes eval docs), which
      // overstates the broadcast side — a real benchmark is fixed-size.
      // Scaling the modulus by `copies` holds the eval-doc count at the
      // base level, so this row is the true production shape (probe-side
      // linear, broadcast constant).
      timed("decontam_const_eval", dst, 1)(
        graft.ext.Curation.decontaminateWith(spark, dst,
          graft.ext.Curation.EvalModulus * copies))
    }
    if (on("bloom")) {
      // the bloom variant of decontam_const_eval's shape: the eval
      // side collapses to a 128 KB bitmask on the driver and the probe
      // is join-free map work — the row to compare against the
      // broadcast-hash-join probe above
      timed("decontam_bloom_const_eval", dst, 1)(
        graft.ext.Curation.decontaminateBloomWith(spark, dst,
          graft.ext.Curation.EvalModulus * copies))
      // two-phase: bloom prefilter + exact confirm on flagged docs —
      // exact output, expected to land between the bloom row above
      // and the broadcast-join exact row (decontam_const_eval)
      timed("decontam_two_phase_const_eval", dst, 1)(
        graft.ext.Curation.decontaminateTwoPhaseWith(spark, dst,
          graft.ext.Curation.EvalModulus * copies))
      // the fully-sketched composed pipeline: label artifact for split
      // + nd_keep, bloom bitmask for decontam — every corpus-sized
      // stage map-shaped or artifact-fed (compare
      // curation_pipeline_artifact, whose decontam is the broadcast
      // join). Needs the label artifact; build it here if the curation
      // tier hasn't yet (a fresh all-sections run reaches bloom first),
      // so the sketch row is never silently skipped.
      if (!new java.io.File(s"$dst/curated").exists()) {
        measure("split_labels_build", dst)(
          graft.ext.Sampling.writeSplitLabels(spark, dst, s"$dst/curated"))
      }
      timed("curation_pipeline_sketch", dst, 2)(
        graft.ext.Curation.curationPipelineSketch(spark, dst,
          s"$dst/curated"))
    }
    if (on("curation")) {
      // composed curation pipeline: live (embeds the CC-fixpoint split —
      // the run-once corpus-build cost) vs artifact-fed (the steady-state
      // form every later invocation runs). The labels build is timed
      // separately: it IS the one-time cost the artifact amortizes.
      timed("curation_pipeline_live", dst, 1)(
        graft.ext.Curation.curationPipeline(spark, dst))
      val labelsDir = s"$dst/curated"
      measure("split_labels_build", dst)(
        graft.ext.Sampling.writeSplitLabels(spark, dst, labelsDir))
      timed("curation_pipeline_artifact", dst, 2)(
        graft.ext.Curation.curationPipelineFrom(spark, dst, labelsDir))
    }
    if (on("ops8")) {
      // round-8 operator tier: packing, fixed-count sampling, vocab,
      // repetition, OOV, temperature mixing — all designed map-shaped,
      // window-sharded, or vocabulary-bounded; these rows are the
      // evidence
      for (q <- Seq("text_pack_sequences", "sample_fixed_count",
          "text_repetition", "text_oov_rate",
          "mix_temperature_weights", "mix_epoch_shuffle",
          "mix_shard_manifest", "text_boilerplate")) {
        time(q, src, 1); time(q, dst, 1)
      }
      // the vocab LIVE leg on its own (the forms entry also builds a
      // scratch postings store; the live explode is this row's shape
      // claim — vocabulary-bounded shuffle)
      timed("text_vocab_live", src, 1)(
        graft.ext.TextOps.vocabTopK(spark, src))
      timed("text_vocab_live", dst, 1)(
        graft.ext.TextOps.vocabTopK(spark, dst))
    }
    if (on("mm")) {
      // multimodal plumbing at 100×: binary metadata (pure map),
      // mapPartitions stub decode (the Dataset encoder round-trip is
      // the cost being measured — a real codec adds per-row decode on
      // top), and the bounded frame-index expansion
      for (q <- Seq("mm_metadata", "mm_features", "mm_frame_sample")) {
        time(q, src, 1); time(q, dst, 1)
      }
    }
    if (on("dedup8")) {
      // the rest of the dedup ladder at 100×: exact-hash summary,
      // fingerprints (pure map), SimHash banded pairs, n-gram Jaccard
      // inverted index — closing the unmeasured dedup rows. The
      // prefix-filtered variant rides the same tier so the two
      // candidate-generation shapes (full inverted index vs PPJoin
      // prefix) are directly comparable as the CC edge feeder
      // (round-9 verdict task 7).
      for (q <- Seq("dedup_exact_summary", "text_fingerprint",
          "dedup_simhash", "dedup_ngram_jaccard", "dedup_ngram_prefix",
          "dedup_source_overlap")) {
        time(q, src, 1); time(q, dst, 1)
      }
    }
    if (on("skew")) {
      // deliberately boilerplate-skewed 100× corpus (round-16 verdict
      // #1): the scaled documents plus a template cluster of
      // 300·copies byte-identical clones — one band value collecting
      // ~30k docs, the template-page skew real crawls produce. The
      // uncapped band self-join would enumerate ~C(30k,2) ≈ 4.5·10⁸
      // candidates out of that one bucket; the capped join emits the
      // template's star. Read the rows together: the skewed capped
      // run should land near the unskewed run (the cluster adds ~3%
      // rows and ZERO quadratic work), and the stats row prints the
      // avoided candidate count as data.
      val skewBase = s"$dst/skew"
      if (!new java.io.File(s"$skewBase/documents.parquet").exists()) {
        val d = Tables.documents(spark, dst)
        val template = d.orderBy(col("doc_id")).limit(1).drop("doc_id")
        val bound = d.agg(max(col("doc_id")).as("mx"))
        val clones = spark.range(1, 300L * copies + 1).toDF("r")
          .crossJoin(broadcast(template)).crossJoin(broadcast(bound))
          .withColumn("doc_id", col("mx") + col("r")).drop("r", "mx")
        d.unionByName(clones.select(d.columns.map(col): _*))
          .write.mode("overwrite").parquet(s"$skewBase/documents.parquet")
        println(s"[scaleup] built $skewBase (${300 * copies} clones)")
      }
      time("dedup_minhash_lsh", dst, 1)
      timed("dedup_lsh_skew_capped", skewBase, 1)(
        graft.ext.Dedup.minhashLshPairs(spark, skewBase))
      timed("dedup_lsh_skew_stats", skewBase, 1)(
        graft.ext.Dedup.lshBucketStatsOn(Tables.documents(spark, skewBase)))
    }
    if (on("vacuum")) {
      // physical vacuum at 100× (round-16 verdict #4): gold + index
      // on the full scaled corpus, tombstone the doc_id % 7 == 3
      // class (~14%), vacuum, report reclaimed bytes. The build is
      // the dominant cost (one index pass); the vacuum itself is one
      // anti-join rewrite of gold plus the same index rebuild a
      // compaction pays — the number to read is reclaimed bytes
      // scaling with the removed fraction while the wall stays at
      // compaction cost.
      val vbase = s"$dst/vacuum"
      val goldDir = s"$vbase/gold"; val ixDir = s"$vbase/ix"
      val d = Tables.documents(spark, dst)
      if (!new java.io.File(goldDir).exists()) {
        measure("vacuum_store_build", dst) {
          d.write.mode("overwrite").parquet(goldDir)
          graft.ext.Dedup.writeGoldIndex(d, ixDir)
        }
        note("vacuum_store_build", dst,
          f"gold ${graft.ops.StoreFiles.dirBytes(goldDir) / 1048576.0}%9.1f MB  " +
          f"ix ${graft.ops.StoreFiles.dirBytes(ixDir) / 1048576.0}%9.1f MB")
      }
      graft.ext.Dedup.tombstoneGoldIndex(
        d.filter(col("doc_id") % 7 === 3), ixDir)
      val (removed, reclaimed) = measure("vacuum_gold", dst)(
        graft.ext.Dedup.vacuumGold(spark, goldDir, ixDir))
      note("vacuum_gold", dst, f"removed $removed%d rows  " +
        f"reclaimed ${reclaimed / 1048576.0}%9.1f MB  gold_after " +
        f"${graft.ops.StoreFiles.dirBytes(goldDir) / 1048576.0}%9.1f MB")
    }
    if (on("r11")) {
      // round-11 re-measure: the boilerplate singleton-gram prefilter
      // (totals now arithmetic on the token count — no second shingle
      // build) and the prefix-vs-inverted candidate comparison rows
      // the timed-out dedup8 pass didn't reach. The prefix row may
      // REFUSE past its broadcast-vocab guard — that refusal is the
      // measurement (the regime boundary), not a crash: record it and
      // keep the section going.
      // the density statistic first — one skinny aggregate per scale,
      // so the regime boundary is a printed NUMBER either way. The
      // volume probe itself rides prefixIndex, whose broadcast-vocab
      // guard can refuse — that refusal is ALSO a measurement, so it
      // gets the same handler instead of aborting the section
      // (round-12 review finding).
      for (d <- Seq(src, dst)) {
        try println(s"[scaleup] prefix_candidate_volume      $d: " +
          graft.ext.Dedup.prefixCandidateVolume(spark, d))
        catch { case e: IllegalArgumentException =>
          println(s"[scaleup] prefix_candidate_volume REFUSED at $d: " +
            e.getMessage)
        }
      }
      for (q <- Seq("text_boilerplate", "dedup_ngram_prefix",
          "dedup_source_overlap"); d <- Seq(src, dst)) {
        // only the prefix path HAS refusal guards; an
        // IllegalArgumentException from the other two would be a real
        // bug and must propagate, not be recorded as "REFUSED"
        // (round-12 review finding)
        if (q == "dedup_ngram_prefix") {
          try time(q, d, 1)
          catch { case e: IllegalArgumentException =>
            println(s"[scaleup] $q REFUSED at $d: ${e.getMessage}")
          }
        } else time(q, d, 1)
      }
    }
    if (on("sparse")) {
      // round-12 verdict task #6: the prefix path's WIN regime,
      // measured — completing the regime table. The density guard
      // proved where prefix filtering LOSES (the copy corpus is
      // pair-dense by construction: 85.6M candidates at 100×,
      // refusal); this corpus is its mirror: every token is
      // doc_id-prefixed (real-vocabulary-like — every content shingle
      // df-1), plus ONE universal boilerplate footer. The footer's
      // hot shingles give every doc pair a shared shingle, so the
      // inverted join must grind ~8·C(5000,2) ≈ 100M candidate
      // partials — while the canonical df-ascending prefix order
      // ranks exactly those shingles LAST and keeps them out of
      // essentially every prefix, so the prefix path's candidate set
      // collapses to the handful of short docs whose prefix window
      // reaches the footer. Same verified pair set either way
      // (prefix filtering is lossless; DedupSpec asserts it).
      val sdir = s"$dst/sparse"
      if (!new java.io.File(s"$sdir/documents.parquet").exists()) {
        Tables.documents(spark, src).orderBy(col("doc_id")).limit(5000)
          .select(col("doc_id"), col("source"),
            concat(
              concat_ws(" ", transform(split(col("text"), "\\s+"),
                t => concat(col("doc_id").cast("string"), lit("x"), t))),
              lit(" shared boilerplate footer sentence repeated " +
                "verbatim on every single document"))
              .as("text"))
          .write.mode("overwrite").parquet(s"$sdir/documents.parquet")
        println(s"[scaleup] built $sdir (5000 uniquified docs + " +
          "universal footer)")
      }
      try println(s"[scaleup] prefix_candidate_volume      $sdir: " +
        graft.ext.Dedup.prefixCandidateVolume(spark, sdir))
      catch { case e: IllegalArgumentException =>
        println(s"[scaleup] prefix_candidate_volume REFUSED at $sdir: " +
          e.getMessage)
      }
      timed("dedup_ngram_prefix_sparse", sdir, 1)(
        graft.ext.Dedup.ngramJaccardPrefixPairs(spark, sdir))
      timed("dedup_ngram_jaccard_sparse", sdir, 1)(
        graft.ext.Dedup.ngramJaccardPairs(spark, sdir))
    }

    // ANN-tier corpus (copies×100 key-shifted embeddings copies —
    // 20M vectors at copies=100): shared by the ann, annbatch, and
    // r11b sections, built once on first need
    def ensureAnnEmbeddings(): Unit =
      if (!new java.io.File(s"$dst/embeddings.parquet").exists()) {
        val e0 = Tables.embeddings(spark, src)
        val maxVec = e0.agg(max(col("vec_id"))).head().getLong(0) + 1
        e0.crossJoin(spark.range(copies * 100).toDF("copy"))
          .select((col("vec_id") + col("copy") * lit(maxVec)).as("vec_id"),
            col("label"), col("embedding"))
          .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
        println(s"[scaleup] built $dst/embeddings.parquet (${copies * 100}x)")
      }

    if (on("r11b")) {
      // round-11 session-2 additions over the 100× documents corpus:
      // the Gopher rule filter (pure per-row scan) and BOTH phash
      // banding widths — the 25-bit registered form is EXPECTED to
      // show the birthday saturation its scaladoc documents (5-bit
      // band values collide corpus-wide past ~2^12 docs, candidate
      // counts go quadratic in group size), the 60-bit wide form is
      // the production shape whose candidates stay proportional
      time("text_gopher_rules", src, 1); time("text_gopher_rules", dst, 1)
      // narrow (25-bit) phash measured at BASE scale only: its
      // saturation is already visible there (500 docs → 1.9k pairs at
      // sf0.01, 5000 docs → 199k pairs at sf0.1 — quadratic in the
      // per-band group size exactly as the scaladoc's birthday bound
      // predicts), and at 500k docs the candidate set is ~10ⁱ⁰ rows —
      // a deliberate non-row: the measured evidence IS that you must
      // widen the signature past ~2^12 docs. The wide row below is
      // the production shape at 100×.
      time("mm_phash_neardup", src, 1)
      timed("mm_phash_wide", src, 1)(
        graft.ext.Multimodal.phashNearDupWide(spark, src))
      timed("mm_phash_wide", dst, 1)(
        graft.ext.Multimodal.phashNearDupWide(spark, dst))
      // SQ8 tier against the ann tier's 20M-vector corpus (built on
      // first need by ensureAnnEmbeddings — so it is always present
      // here): the stats pass is ONE 128-expression aggregate (no
      // posexplode inflation), search is an integer-space scan, the
      // IVF composition prunes to one cell. Each *_topk row re-pays
      // the stats pass by construction (the codes/bounds are not
      // persisted here) — at steady state the bounds are an artifact
      // and only the scan leg remains.
      ensureAnnEmbeddings()
      locally {
        timed("sim_sq8_stats_20m", dst, 1) {
          val aggs = (0 until graft.ext.ScalarQuant.Dim).flatMap(d => Seq(
            min(col("v").getItem(d)).as(s"mn$d"),
            max(col("v").getItem(d)).as(s"mx$d")))
          Tables.embeddings(spark, dst)
            .select(col("embedding").cast("array<double>").as("v"))
            .agg(aggs.head, aggs.tail: _*)
        }
        timed("sim_sq8_topk_20m", dst, 1)(
          graft.ext.ScalarQuant.sq8TopK(spark, dst))
        timed("sim_ivfsq8_topk_20m", dst, 1)(
          graft.ext.ScalarQuant.ivfSq8TopK(spark, dst))
        // production split: encode once (write-side, timed), then
        // serve from the int codes store — compare this scan against
        // the re-encoding row above
        val sqStats = graft.ext.ScalarQuant.dimStats(spark, dst)
        measure("sq8_encode_build", dst)(
          graft.ext.ScalarQuant.encodeFrame(spark, dst, sqStats)
            .write.mode("overwrite").parquet(s"$dst/sq8_codes.parquet"))
        val (sqQid, sqQcodes) =
          graft.ext.ScalarQuant.encodeQuery(spark, dst, sqStats)
        timed("sim_sq8_codes_store_20m", dst, 2)(
          graft.ext.ScalarQuant.sq8OverCodes(
            spark.read.parquet(s"$dst/sq8_codes.parquet"), sqQcodes, sqQid))
        // packed-byte layout (the FAISS uint8 store): binary decodes
        // as one copy vs list<int>'s per-element materialization
        measure("sq8_bytes_encode_build", dst)(
          graft.ext.ScalarQuant.encodeFrameBytes(spark, dst, sqStats)
            .write.mode("overwrite").parquet(s"$dst/sq8_bytes.parquet"))
        timed("sim_sq8_bytes_store_20m", dst, 2)(
          graft.ext.ScalarQuant.sq8OverBytes(
            spark.read.parquet(s"$dst/sq8_bytes.parquet"), sqQcodes, sqQid))
        // random-rotation pre-transform: the rotate+encode write-side
        // delta (one fused MatVec loop per row — d² mults); the SERVE
        // cost is byte-identical to the un-rotated byte store, so only
        // the build is timed separately, with a parity probe after
        locally {
          val rot = graft.ext.ScalarQuant.rotationMatrix()
          val rotated = Tables.embeddings(spark, dst)
            .select(col("vec_id"), col("label"),
              graft.functions.MatVec(
                col("embedding").cast("array<double>"), rot).as("v"))
          val rStats = graft.ext.ScalarQuant.dimStatsOn(rotated)
          measure("sq8_rr_bytes_encode_build", dst)(
            rotated.select(col("vec_id"), col("label"),
                graft.functions.Sq8.encodeBytes(col("v"), rStats).as("codes"))
              .write.mode("overwrite").parquet(s"$dst/sq8_rr_bytes.parquet"))
          val (q0, _, q0v) = graft.ext.KMeans.queryRow(spark, dst)
          val rq = graft.ext.ScalarQuant
            .rotateLocal(q0v, rot).zip(rStats)
            .map { case (x, (mn, mx)) =>
              graft.ext.ScalarQuant.quantize(x, mn, mx) }
          timed("sim_sq8_rr_bytes_store_20m", dst, 2)(
            graft.ext.ScalarQuant.sq8OverBytes(
              spark.read.parquet(s"$dst/sq8_rr_bytes.parquet"),
              rq, q0))
        }
      }
    }
    if (on("r11c")) {
      // round-11 batch 3 at 100×: winnowing (HOF-window sketch —
      // interpreted transform per row, map-only; the row that shows
      // whether the fused-expression port is needed), JSD (one
      // corpus explode → model-bounded everything), keep-best
      // (clusters CC + score join + cluster-keyed rank)
      timed("text_winnow_cnt", src, 1)(
        graft.ext.TextOps.winnowFingerprints(spark, src)
          .groupBy().agg(count(lit(1)).as("sketch_rows"),
            countDistinct(col("fp")).as("distinct_fps")))
      timed("text_winnow_cnt", dst, 1)(
        graft.ext.TextOps.winnowFingerprints(spark, dst)
          .groupBy().agg(count(lit(1)).as("sketch_rows"),
            countDistinct(col("fp")).as("distinct_fps")))
      for (q <- Seq("text_js_divergence", "dedup_keep_best")) {
        time(q, src, 1); time(q, dst, 1)
      }
      // the composed data card (CC labels materialized once) and the
      // curriculum manifest (bigram-model chain + sharded position
      // windows) — the two heaviest round-11 composites
      for (q <- Seq("curation_data_card", "mix_curriculum")) {
        time(q, src, 1); time(q, dst, 1)
      }
      // artifact-fed card (round-11 verdict #3): the split-label and
      // token-count stores a running pipeline maintains anyway feed
      // the five label metrics and the JSD leg — the live CC fixpoint
      // (61 s / 4.1 GB above) drops out of the steady-state card; the
      // build rows are the one-time costs the merge paths amortize
      locally {
        val artDir = s"$dst/card_artifacts"
        measure("card_labels_artifact_build", dst)(
          graft.ext.Sampling.writeSplitLabels(spark, dst, artDir))
        measure("card_counts_artifact_build", dst)(
          graft.ext.Selection.tokenCountsOn(Tables.documents(spark, dst))
            .write.mode("overwrite").parquet(
              s"$artDir/${graft.ext.Selection.TokenCountsTable}.parquet"))
        timed("curation_data_card_artifact", dst, 1)(
          graft.ext.Curation.dataCardFrom(spark, dst, artDir, artDir))
        // per-source card (round-13): same legs grouped by source —
        // must land in the corpus card's steady-state class (the
        // sources-sized groupBy replaces a global aggregate; nothing
        // else changes)
        timed("curation_card_by_source_art", dst, 1)(
          graft.ext.Curation.dataCardBySourceFrom(spark, dst, artDir, artDir))
        // keep-best from the same label store: the live form's CC
        // fixpoint (the 64 s row above) drops out too
        timed("dedup_keep_best_artifact", dst, 1)(
          graft.ext.Dedup.keepBestQualityFrom(spark, dst, artDir))
      }
    }
    if (on("spans")) {
      // round-11 text/mix additions over the 100× documents corpus:
      // span-level substring dedup (positions shuffle once as 60-bit
      // fingerprints for the gram-count agg; islands run over only
      // the duplicated positions) and the token-budget cut (one
      // source-domain agg + sharded running sums)
      for (q <- Seq("dedup_substring_spans", "dedup_substring_summary",
          "mix_token_budget")) {
        time(q, src, 1); time(q, dst, 1)
      }
    }
    if (on("sem")) {
      // SemDeDup at 100× embeddings. The ann tier's copies are
      // bit-IDENTICAL (scan cost doesn't depend on values), but an
      // all-duplicates corpus is adversarial for ANY pairwise-verify
      // dedup — every cross-copy pair qualifies and the intra-cell
      // candidate set goes quadratic in the copy count by
      // construction. So this tier builds its own 100× table with a
      // per-copy perturbation on dimension 0: dup structure stays
      // (copies of a base vector remain near-identical — a 100-copy
      // dup group per base vector), while the work measured is the
      // honest per-cell pairwise pass, Σ|cell|² ≈ N²/K cosines.
      val semDir = s"$dst/sem"
      if (!new java.io.File(s"$semDir/embeddings.parquet").exists()) {
        val e0 = Tables.embeddings(spark, src)
        val maxVec = e0.agg(max(col("vec_id"))).head().getLong(0) + 1
        e0.crossJoin(spark.range(copies).toDF("copy"))
          .select((col("vec_id") + col("copy") * lit(maxVec)).as("vec_id"),
            col("label"),
            transform(col("embedding"),
              (x, i) => when(i === 0,
                x + col("copy").cast("float") * lit(1e-3f)).otherwise(x))
              .as("embedding"))
          .write.mode("overwrite").parquet(s"$semDir/embeddings.parquet")
        println(s"[scaleup] built $semDir/embeddings.parquet (${copies}x, perturbed)")
      }
      timed("dedup_semantic_100x", semDir, 1)(
        graft.ext.Dedup.semanticDedup(spark, semDir))
      // the K knob: sub-clustered cells cut the in-cell pairwise
      // pass ~SubK× — the row that answers the fixed-K wall above
      timed("dedup_semantic_scaled_100x", semDir, 1)(
        graft.ext.Dedup.semanticDedupScaled(spark, semDir))
      // PRODUCTION form (round-11 verdict #1): K ∝ N (subKFor — 400
      // effective cells at 200k vectors vs the literal 50), sampled
      // sub-quantizer training (one bounded collect, zero per-cell
      // corpus re-scans), and the (vec_id, cell, v) assignment
      // materialized ONCE as a cell-partitioned artifact feeding both
      // pairwise legs. Build and serve timed separately: the build is
      // the one-time corpus cost; the serve row is the steady-state
      // pairwise pass and must come in ≈ (K·SubK / K)× below the
      // coarse row's in-cell wall.
      locally {
        val n = Tables.embeddings(spark, semDir).count()
        val subK = graft.ext.Dedup.subKFor(n)
        val cap = math.max(graft.ext.Dedup.SampleCap, subK * 8)
        val mod = graft.ext.Dedup.sampleModulusFor(n, cap)
        println(s"[scaleup] sem artifact: n=$n subK=$subK cap=$cap mod=$mod " +
          s"(${graft.ext.KMeans.K * subK} effective cells)")
        val cellsDir = s"$semDir/sem_cells.parquet"
        measure("sem_cells_artifact_build", semDir)(
          graft.ext.Dedup.writeSemanticCells(spark, semDir, cellsDir,
            subK, cap, mod))
        timed("dedup_semantic_artifact_100x", semDir, 1)(
          graft.ext.Dedup.semanticDedupFromCells(spark, cellsDir))
        // steady APPEND: the last copy arrives as a batch — quantizers
        // frozen from the gold side, the batch encodes map-only, the
        // delta prune touches only the batch's cells (partition-pruned
        // gold scan + broadcast batch). This is the per-append cost
        // the artifact amortizes the build against.
        val e0n = Tables.embeddings(spark, src)
          .agg(max(col("vec_id"))).head().getLong(0) + 1
        val batchCut = (copies - 1).toLong * e0n
        val vs = graft.ext.KMeans.vecs(spark, semDir)
        val gold = vs.filter(col("vec_id") < batchCut)
        val sBatch = vs.filter(col("vec_id") >= batchCut)
        val (gc, gs) = graft.ext.Dedup.trainSemanticQuantizers(
          gold, subK, cap, mod)
        val goldCellsDir = s"$semDir/sem_gold_cells.parquet"
        graft.ext.Dedup.assignSemanticCells(gold, gc, gs, subK)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(goldCellsDir)
        timed("dedup_semantic_append_100x", semDir, 1) {
          val bc = graft.ext.Dedup
            .assignSemanticCells(sBatch, gc, gs, subK).localCheckpoint()
          graft.ext.Dedup.batchSemanticDups(
            spark.read.parquet(goldCellsDir)
              .select(col("vec_id"), col("cell").cast("int").as("cell"),
                col("v")), bc)
        }
      }
    }
    if (on("annbatch")) {
      // the batched serving shape against the ann tier's 20M-vector
      // corpus under base-trained centroids: one scan of the probed
      // cells answers the whole query block
      if (new java.io.File(s"$dst/embeddings.parquet").exists()) {
        val coarseB = graft.ext.KMeans.train(spark, src)
        timed("sim_ivf_batch_topk_20m", dst, 2)(
          graft.ext.KMeans.ivfBatchTopKWith(spark, dst, coarseB))
        // the amortization reference: ONE query costs the same scan,
        // so the 4-query block above is ~4 answers for 1 pass
        timed("sim_ivf_batch_topk_q1_20m", dst, 2)(
          graft.ext.KMeans.ivfBatchTopKWith(spark, dst, coarseB, nq = 1))
        // steady state over the cell-partitioned store (round-11
        // verdict #6): assign once at build, then the probe filter is
        // partition PRUNING — the live rows above pay a 20M-row
        // NearestCentroid assignment just to discard the unprobed
        // cells; this row reads probed-cell bytes only
        val cellStore = s"$dst/ivf_cells.parquet"
        if (!new java.io.File(cellStore).exists()) {
          measure("ivf_cells_store_build", dst)(
            graft.ext.KMeans.writeCellVectors(spark, dst, cellStore, coarseB))
        }
        val qb = graft.ext.KMeans.batchQueryRows(spark, dst)
        timed("sim_ivf_batch_topk_steady_20m", dst, 2)(
          graft.ext.KMeans.ivfBatchTopKFromCells(
            spark, cellStore, coarseB, qb))
      }
    }
    if (on("merge")) {
      // incremental label maintenance at 100×: gold = copies 0..98,
      // batch = the last copy (one base-corpus-sized append). The
      // gold-only label build is the one-time corpus cost the
      // artifact amortizes; the MERGE row is the steady-state append
      // cost and must track the batch, not the corpus — compare it
      // against the full-rebuild row below.
      val dDocs = Tables.documents(spark, dst)
      val maxDoc = Tables.documents(spark, src)
        .agg(max(col("doc_id"))).head().getLong(0) + 1
      val batchCut = (copies - 1).toLong * maxDoc
      val gold = dDocs.filter(col("doc_id") < batchCut)
      val batch = dDocs.filter(col("doc_id") >= batchCut)
      val goldLabels = measure("merge_gold_labels_build", dst)(
        graft.ext.Sampling.splitFromClusters(
          graft.ext.Dedup.nearDupClustersOn(gold)).localCheckpoint())
      note("merge_gold_labels_build", dst,
        s"(one-time build over ${copies - 1} copies)")
      timed("split_merge_batch_100x", dst, 1)(
        graft.ext.Sampling.mergeBatchLabels(goldLabels, gold, batch))
      timed("split_rebuild_full_100x", dst, 1)(
        graft.ext.Sampling.splitFromClusters(
          graft.ext.Dedup.nearDupClustersOn(dDocs)))
    }
    if (on("ann")) {
      // ANN tier at a corpus that actually stresses the scan: the base
      // embeddings table is 500 rows at every SF, so copies×100
      // key-shifted copies (20M vectors at copies=100 on the sf0.1 base) via a range
      // cross-join (a unionByName of 10k frames would be a plan
      // explosion). Vector CONTENT is copy-identical — scan cost does
      // not depend on values, and ties resolve on vec_id.
      ensureAnnEmbeddings()
      // the guarded brute-force full scan — this row records what the
      // MaxExactRows guard protects against
      timed("sim_bruteforce_full", dst, 2)(
        graft.ext.Similarity.bruteForceTopK(spark, dst,
          maxRows = Long.MaxValue))
      // PQ production shape: codebooks trained on the BASE sample,
      // corpus encoded once (the write-side cost, timed separately),
      // steady-state ADC reads ONLY the codes table — 3 small ints per
      // row instead of 64 floats, M lookups instead of a 64-dim fold
      val cbs = graft.ext.ProductQuant.codebooks(spark, src)
      measure("pq_encode_build", dst)(
        graft.ext.ProductQuant.encodeWith(spark, dst, cbs)
          .write.mode("overwrite").parquet(s"$dst/pq_codes.parquet"))
      val (qid, dt) = graft.ext.ProductQuant.queryTable(spark, src, cbs)
      timed("sim_pq_adc_codes", dst, 2)(
        graft.ext.ProductQuant.adcOverCodes(
          spark.read.parquet(s"$dst/pq_codes.parquet"), dt, qid))
      // the full production layout (FAISS IVF,PQ): codes PARTITIONED
      // by coarse cell, so the ADC scan partition-prunes to ~1/K of
      // the already-57x-compressed table before reading anything
      val coarse = graft.ext.KMeans.train(spark, src)
      measure("pq_encode_cells_build", dst)(
        graft.ext.ProductQuant.encodeWithCells(spark, dst, coarse, cbs)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$dst/pq_codes_cells.parquet"))
      val (qid2, qCell, dt2) =
        graft.ext.ProductQuant.queryPrep(spark, src, coarse, cbs)
      timed("sim_ivfpq_adc_partitioned", dst, 2)(
        graft.ext.ProductQuant.adcOverCodes(
          spark.read.parquet(s"$dst/pq_codes_cells.parquet")
            .filter(col("cell") === qCell), dt2, qid2))
      // residual IVF-PQ: codes mean residual-to-centroid offsets, but
      // the table layout and ADC scan are byte-identical — this row
      // exists to show the recall upgrade costs nothing at query time
      val rcbs = graft.ext.ProductQuant.residualCodebooks(spark, src, coarse)
      measure("pq_encode_resid_build", dst)(
        graft.ext.ProductQuant.encodeWithCellsResidual(spark, dst, coarse, rcbs)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$dst/pq_codes_resid.parquet"))
      val (qid3, qCell3, dt3) =
        graft.ext.ProductQuant.queryPrepResidual(spark, src, coarse, rcbs)
      timed("sim_ivfpq_resid_partitioned", dst, 2)(
        graft.ext.ProductQuant.adcOverCodes(
          spark.read.parquet(s"$dst/pq_codes_resid.parquet")
            .filter(col("cell") === qCell3), dt3, qid3))
      // re-rank rung steady state: the SAME partition-pruned ADC scan
      // keeps k' candidates, then k' point fetches (pushed In filter,
      // row-group prunable) against the raw vectors — the row that
      // shows the exactness upgrade costs the ADC scan plus a
      // constant-size fetch at any corpus size
      val qv = graft.ext.KMeans.queryRow(spark, src)._3
      timed("sim_ivfpq_rerank_steady", dst, 2) {
        val cand = graft.ext.ProductQuant.adcOverCodes(
          spark.read.parquet(s"$dst/pq_codes_resid.parquet")
            .filter(col("cell") === qCell3), dt3, qid3,
          k = graft.ext.ProductQuant.RerankFactor *
            graft.ext.ProductQuant.TopK)
          .collect().map(_.getLong(0)).toSeq
        graft.ext.ProductQuant.exactRerankTopK(spark, dst, qv, cand)
      }
      // per-row profile (fused VecStats loop) and the exact group
      // mean (posexplode + integer partial agg) — the two vector
      // kernels that read every element of every vector
      time("sim_embedding_profile", dst, 1)
      time("sim_group_centroids", dst, 1)
    }
    if (on("r13b")) {
      // round-13 session-2 operators at 100×:
      // priority sampling — per-partition top-(k+1) heaps merged at
      // the driver (TakeOrderedAndProject), so the row should track
      // the documents SCAN with ~zero shuffle at any corpus size
      time("sample_weighted_priority", src, 1)
      time("sample_weighted_priority", dst, 1)
      // per-source quota variant: salted two-phase rank instead of
      // the global TakeOrdered; still no corpus-sized exchange
      time("sample_priority_by_source", src, 1)
      time("sample_priority_by_source", dst, 1)
      // PII: the summary reduces to sources-sized rows (the map-side
      // combinable groupBy); the redact row is the same scan-bound
      // projection reduced to one stats row so 6M redacted texts
      // never cross to the driver (Catalyst's EliminateSorts drops
      // the registry form's oracle-dump orderBy under the aggregate)
      time("text_pii_summary", src, 1)
      time("text_pii_summary", dst, 1)
      timed("text_pii_redact_scan", dst, 1)(
        graft.ext.Pii.piiRedact(spark, dst)
          .agg(count(lit(1)).as("docs"),
            sum(length(col("redacted"))).as("chars"),
            sum(col("n_email") + col("n_phone") + col("n_ip"))
              .as("matches")))
      // NB language model, train + score end-to-end through the
      // held-out confusion reduction (langs² output rows). NOTE the
      // copy corpus's token prefixes multiply the VOCABULARY by
      // `copies` (real corpora grow sublinearly, Heaps' law), so the
      // model broadcast here is a deliberate 100×-vocab stress of
      // the model-bounded-broadcast claim, not the production shape.
      time("text_nb_confusion", src, 1)
      time("text_nb_confusion", dst, 1)
      // corpus-statistics fits: vocab-bounded aggregate + bounded
      // take + driver fit — shuffle tracks VOCABULARY (deliberately
      // 100×-multiplied by the copy prefixes here; Heaps-sublinear
      // in reality), never the corpus
      timed("text_zipf_live", src, 1)(
        graft.ext.TextOps.zipfFit(spark, src))
      timed("text_zipf_live", dst, 1)(
        graft.ext.TextOps.zipfFit(spark, dst))
      timed("text_heaps_live", src, 1)(
        graft.ext.TextOps.heapsFit(spark, src))
      timed("text_heaps_live", dst, 1)(
        graft.ext.TextOps.heapsFit(spark, dst))
    }
    if (on("r13c")) {
      // BM25 lexical retrieval: live (matched-postings scan per
      // answer — the broadcast term filter cuts the corpus explosion
      // before any exchange) vs the inverted-index store (build once,
      // then every answer partition-prunes to the query terms'
      // buckets). The hybrid fusion runs at base only: embeddings
      // don't scale with the copy corpus, and the dense leg is the
      // guarded brute-force rung by design (the fusion is
      // rung-agnostic — see Retrieval.hybridRrf).
      time("rag_bm25_topk", src, 1); time("rag_bm25_topk", dst, 1)
      time("rag_bm25_batch", src, 1); time("rag_bm25_batch", dst, 1)
      val ixStore = s"$dst/bm25_ix"
      if (!new java.io.File(ixStore).exists()) {
        measure("bm25_index_build", dst) {
          graft.ext.Retrieval.writeBm25Index(
            Tables.documents(spark, dst)
              .select(col("doc_id"),
                graft.ext.TextOps.tokens(col("text")).as("t"))
              .filter(size(col("t")) > 0), ixStore)
        }
      }
      timed("rag_bm25_batch_served", dst, 2)(
        graft.ext.Retrieval.bm25BatchFromIndex(spark, dst, ixStore))
      // text-stats served from the SAME store (round-15): the live
      // legs re-tokenize the corpus (text_*_live rows); these are
      // bounded aggregates over the postings the lexical lifecycle
      // already maintains — the corpus text is never re-read
      timed("text_vocab_served", dst, 2)(
        graft.ext.TextOps.vocabTopKFromStore(spark, s"$ixStore/postings"))
      timed("text_zipf_served", dst, 2)(
        graft.ext.TextOps.zipfFitFromStore(spark, s"$ixStore/postings"))
      timed("text_heaps_served", dst, 2)(
        graft.ext.TextOps.heapsFitFromStore(spark, ixStore))
      time("rag_hybrid_rrf", src, 1)
    }
    // embedding corpus with ALIGNED doc ids and NON-DEGENERATE
    // neighborhoods, shared by the clu/ragev tiers. The tier needs
    // documents and embeddings with aligned ids at scale, so it
    // copies the embeddings with the SAME maxDoc shift the documents
    // build used (the sem tier's maxVec shift would misalign: sf0.1
    // has 5000 docs but 2000 vectors) and reuses the token-prefixed
    // documents via a symlink.
    // round-15 fixture (verdict #3): the old all-perturbed-copies
    // corpus was recall-DEGENERATE — every vector's true neighbors
    // were its own 1e-3-perturbed copies, same cell by construction,
    // so every recall ladder read 1.000 and the multi-probe/OPQ
    // recall claims rested on the 500-vector base fixture alone. The
    // v2 corpus keeps half the copies as perturbed near-dups (the
    // dedup story needs them) and strings the other half along
    // INTERPOLATION CHAINS between far base pairs: v(t) = (1-t)·v_a
    // + t·v_b with t stepped per copy, so each chain crosses cell
    // boundaries and points near the crossing have true neighbors in
    // the OTHER cell — recall@k < 1 under single-probe, recovered by
    // the runner-up probe. Versioned dir: every derived cache
    // (knn_cells, gold edges, labels, bm25 index) keys off the path
    // and rebuilds with it.
    val cluDir = s"$dst/clu2"
    def ensureCluCorpus(): Unit =
      if (!new java.io.File(s"$cluDir/embeddings.parquet").exists()) {
        new java.io.File(cluDir).mkdirs()
        val d0 = Tables.documents(spark, src)
        val maxDoc = d0.agg(max(col("doc_id"))).head().getLong(0) + 1
        val e0 = Tables.embeddings(spark, src)
        val nBase = e0.count()
        // partner = the base vector half the id-rank order away (a
        // far vector, almost always another cell); one-time global
        // window over the BASE table only (2k rows at sf0.1)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("vec_id"))
        val ranked = e0.withColumn("r", row_number().over(w))
        val partners = ranked.select(
          ((col("r") - 1 + lit(nBase / 2)) % lit(nBase) + 1).as("r"),
          col("embedding").as("pemb"))
        ranked.join(partners, "r")
          .crossJoin(spark.range(copies).toDF("copy"))
          .select((col("vec_id") + col("copy") * lit(maxDoc)).as("vec_id"),
            col("label"),
            when(col("copy") % 2 === 1,
              // odd copies: same-cell perturbed near-dups
              transform(col("embedding"),
                (x, i) => when(i === 0,
                  x + col("copy").cast("float") * lit(1e-3f)).otherwise(x)))
              .otherwise(
                // even copies (incl. 0 ≈ original at t ≈ 0.003):
                // a point on the a→partner segment, t stepped per
                // copy across (0, 0.8] — cross-cell neighborhoods
                zip_with(col("embedding"), col("pemb"),
                  (x, y) => {
                    val t = (lit(0.003f) + (col("copy") / lit(2))
                      .cast("float") * lit(1.6f / copies.toFloat))
                    x * (lit(1.0f) - t) + y * t
                  }))
              .as("embedding"))
          .write.mode("overwrite").parquet(s"$cluDir/embeddings.parquet")
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$cluDir/documents.parquet"),
          java.nio.file.Paths.get(s"$dst/documents.parquet"))
        println(s"[scaleup] built $cluDir (${copies}x aligned embeddings, " +
          "half perturbed dups / half cross-cell interpolation chains)")
      }
    if (on("clu")) {
      ensureCluCorpus()
      // live forms timed directly (the registry entries are now
      // form-tagged unions — timing those would double-count)
      timed("curation_cluster_card", src, 1)(
        graft.ext.ClusterOps.clusterCard(spark, src))
      timed("curation_cluster_card", cluDir, 1)(
        graft.ext.ClusterOps.clusterCard(spark, cluDir))
      timed("sample_cluster_balance", src, 1)(
        graft.ext.ClusterOps.clusterBalanceSample(spark, src))
      timed("sample_cluster_balance", cluDir, 1)(
        graft.ext.ClusterOps.clusterBalanceSample(spark, cluDir))
      // steady state: store build once, card answered from the store
      // (assignment leg gone — partition column)
      val cellStore = s"$cluDir/cells"
      if (!new java.io.File(cellStore).exists()) {
        measure("cluster_cells_build", cluDir)(
          graft.ext.KMeans.writeCellVectors(spark, cluDir, cellStore,
            graft.ext.KMeans.train(spark, cluDir)))
      }
      timed("cluster_card_served_100x", cluDir, 2)(
        graft.ext.ClusterOps.clusterCardFrom(spark, cellStore, cluDir))
      timed("cluster_balance_served_100x", cluDir, 2)(
        graft.ext.ClusterOps.clusterBalanceFrom(spark, cellStore, cluDir))
      // round-15 #4: the card-aggregate artifact — gold build once,
      // a 50-doc batch folds into touched partitions only, the card
      // answers from the store with no corpus scan. The merge is a
      // deliberate single rep (an aggregate fold is NOT idempotent —
      // the documented contract), into a per-run scratch store seeded
      // from the cached cell store.
      locally {
        val assignedStore = spark.read.parquet(cellStore)
          .select(col("vec_id"), col("label"),
            col("cluster").cast("int").as("cluster"))
        val docs = Tables.documents(spark, cluDir)
          .select(col("doc_id"), col("source"),
            size(graft.ext.TextOps.tokens(col("text"))).cast("long")
              .as("n_tokens"))
        val j = assignedStore
          .join(docs, assignedStore("vec_id") === docs("doc_id"))
          .select(col("doc_id"), col("cluster"), col("label"),
            col("source"), col("n_tokens"))
        // max over the JOINED frame: documents run to 100·maxDoc but
        // embeddings only to ~99·maxDoc + base — a documents-side max
        // would put the whole batch past every embedding (measured:
        // touched 0 clusters)
        // 5-doc batch: with K = 10 coarse clusters a 50-doc batch
        // touches all 10 partitions (measured) and the pruning story
        // vanishes; 5 docs touch a strict subset
        val batchFrom = j.agg(max(col("doc_id"))).head().getLong(0) - 4
        val aggDir = graft.ops.Scratch.dir("graft_card_agg_100x") + "/agg"
        measure("card_agg_build_100x", cluDir)(
          graft.ext.ClusterOps.writeClusterCardAgg(
            j.filter(col("doc_id") < batchFrom), aggDir))
        val touched = j.filter(col("doc_id") >= batchFrom)
          .select(col("cluster")).distinct().count()
        measure("card_agg_merge_100x", cluDir)(
          graft.ext.ClusterOps.mergeClusterCardAgg(spark, aggDir,
            j.filter(col("doc_id") >= batchFrom)))
        note("card_agg_merge_100x", cluDir,
          f"(touched $touched%d/${graft.ext.KMeans.K}%d clusters)")
        timed("card_from_agg_100x", cluDir, 2)(
          graft.ext.ClusterOps.clusterCardFromAgg(spark, aggDir))
      }
      // kNN graph: the live coarse form at base scale; at 200k
      // vectors the coarse in-cell pairwise is the N²/K wall (the
      // SemDeDup lesson), so the 100× row rides the sub-quantized
      // cell artifact (K ∝ N via subKFor) — same store discipline,
      // and the graph inherits its finer single-probe approximation
      time("sim_knn_graph", src, 1)
      timed("sim_knn_graph_p2", src, 1)(
        graft.ext.ClusterOps.knnGraphP2(spark, src))
      timed("sim_knn_graph_merge", src, 1)(
        graft.ext.ClusterOps.knnGraphBatchMerge(spark, src))
      locally {
        val n = Tables.embeddings(spark, cluDir).count()
        val subK = graft.ext.Dedup.subKFor(n)
        val cap = math.max(graft.ext.Dedup.SampleCap, subK * 8)
        val mod = graft.ext.Dedup.sampleModulusFor(n, cap)
        val knnCells = s"$cluDir/knn_cells"
        // round-14: the store carries the runner-up cell from build
        // time; a cached old-schema store rebuilds once
        val staleSchema = new java.io.File(knnCells).exists() &&
          !spark.read.parquet(knnCells).columns.contains("cell2")
        if (!new java.io.File(knnCells).exists() || staleSchema) {
          measure("knn_cells_build", cluDir)(
            graft.ext.Dedup.writeSemanticCells(spark, cluDir, knnCells,
              subK, cap, mod))
          note("knn_cells_build", cluDir,
            s"(${graft.ext.KMeans.K * subK} effective cells" +
            (if (staleSchema) ", schema refresh: +cell2)" else ")"))
        }
        timed("sim_knn_graph_100x", cluDir, 1)(
          graft.ext.ClusterOps.knnGraphOn(
            spark.read.parquet(knnCells)
              .select(col("vec_id"), col("cell").cast("int").as("cell"),
                col("v"))))
        // community structure over the artifact graph: the CC loop is
        // edge-set-only (600k skinny rows at 200k vectors), so the
        // histogram's cost is the graph build + a bounded contraction
        val (hist, rounds) = measure("knn_community_hist_100x", cluDir) {
          val edges = graft.ext.ClusterOps.knnGraphOn(
              spark.read.parquet(knnCells)
                .select(col("vec_id"), col("cell").cast("int").as("cell"),
                  col("v")))
            .select(col("vec_id").as("doc_a"), col("nbr_id").as("doc_b"))
          val (labels, rounds) =
            graft.ext.Dedup.connectedComponents(edges)
          (labels
            .groupBy(col("cluster_id")).agg(count(lit(1)).as("members"))
            .groupBy(col("members")).agg(count(lit(1)).as("n_communities"))
            .orderBy(col("members")).collect(), rounds)
        }
        note("knn_community_hist_100x", cluDir,
          s"(cc_rounds=$rounds, sizes=${hist.length})")
        // steady-state graph APPEND: a 50-vector micro-batch against
        // the gold edges artifact — recompute only the batch's cells
        // (≤ 50 of the 400), read the rest from the store
        val store = spark.read.parquet(knnCells)
          .select(col("vec_id"), col("cell").cast("int").as("cell"),
            col("v"))
        val batchFrom = store.agg(max(col("vec_id"))).head().getLong(0) - 49
        val goldEdgesDir = s"$cluDir/knn_gold_edges"
        if (!new java.io.File(goldEdgesDir).exists()) {
          measure("knn_gold_edges_build", cluDir)(
            graft.ext.ClusterOps.writeKnnEdges(
              store.filter(col("vec_id") < batchFrom), goldEdgesDir))
        }
        timed("knn_graph_merge_100x", cluDir, 2)(
          graft.ext.ClusterOps.knnGraphMergeFromEdges(spark,
            goldEdgesDir, store, batchFrom))
        // round-14 #1: the WRITE-side append — recompute the batch's
        // touched cells and overwrite only their partitions of the
        // edges store (the merge above still re-emits all edges to
        // its caller; this is the production fold-in). Idempotent
        // across reps and runs: same batch, same content.
        (1 to 2).foreach { _ =>
          val touched = store.filter(col("vec_id") >= batchFrom)
            .select(col("cell")).distinct().count()
          val total = store.select(col("cell")).distinct().count()
          measure("knn_edges_append_100x", cluDir)(
            graft.ext.ClusterOps.appendKnnEdges(spark, goldEdgesDir,
              store, batchFrom))
          note("knn_edges_append_100x", cluDir,
            s"(touched $touched/$total cells)")
        }
        // round-14 stretch: incremental communities from the labels
        // artifact — carried cells are a pruned read, only touched
        // cells re-run the CC (compare the 29-30 s full-graph
        // community build above)
        val labelsStore = s"$cluDir/knn_comm_labels"
        if (!new java.io.File(labelsStore).exists()) {
          measure("knn_comm_labels_build", cluDir)(
            graft.ext.ClusterOps.writeKnnCommunityLabels(
              store.filter(col("vec_id") < batchFrom), labelsStore))
        }
        (1 to 2).foreach { _ =>
          measure("knn_communities_merge_100x", cluDir)(
            graft.ext.ClusterOps.knnCommunitiesMergeFromLabels(
              spark, labelsStore, store, batchFrom).count())
        }
        // round-14 #2: multi-probe graph at the sub-quantized
        // artifact — probes (cell, cell2) read straight from the
        // store, no assignment pass
        val storeP2 = spark.read.parquet(knnCells)
          .select(col("vec_id"), col("cell").cast("int").as("cell"),
            col("cell2").cast("int").as("cell2"), col("v"))
        timed("sim_knn_graph_p2_100x", cluDir, 1)(
          graft.ext.ClusterOps.knnGraphP2On(storeP2))
        // recall ladder at 100×: exact top-K ground truth for a
        // 100-vector query sample (literal query block — no
        // cartesian), then single- vs multi-probe graph recall over
        // the sample. Work: 100 · N cosines for truth, in-cell /
        // two-cell candidates for the graphs.
        locally {
          val k = graft.ext.ClusterOps.KnnK
          // round-15 #3: the sample must draw MID-CHAIN interpolated
          // points (even copies, hash-spread across the t range) —
          // the first-100-ids sample sat at the chains' endpoints
          // where every neighbor shares the cell, and recall read a
          // degenerate 1.000 for both probes
          val maxDoc0 = Tables.documents(spark, src)
            .agg(max(col("doc_id"))).head().getLong(0) + 1
          val sample = storeP2
            .filter((col("vec_id") / lit(maxDoc0)).cast("long")
              % 2 === 0)
            .withColumn("h", xxhash64(col("vec_id")))
            .orderBy(col("h")).limit(100)
            .select(col("vec_id"), col("v")).collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
          val sampleIds = sample.map(_._1)
          val qArr = array(sample.map { case (qid, qv) =>
            struct(lit(qid).as("qid"),
              array(qv.map(lit): _*).as("qv")) }: _*)
          def topSets(scored: org.apache.spark.sql.DataFrame) =
            graft.ops.SkewOps.topKPerGroup(scored, col("qid"),
                Seq(col("cosine").desc, col("nbr").asc), k, col("nbr"))
              .select(col("qid"), col("nbr")).collect()
              .groupBy(_.getLong(0))
              .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
          val truth = measure("knn_recall_truth_100x", cluDir)(
            topSets(storeP2
              .withColumn("q", explode(qArr))
              .filter(col("q.qid") =!= col("vec_id"))
              .select(col("q.qid").as("qid"), col("vec_id").as("nbr"),
                graft.functions.CosineSimilarity(col("v"), col("q.qv"))
                  .as("cosine"))))
          def graphSets(df: org.apache.spark.sql.DataFrame) = df
            .filter(col("vec_id").isin(sampleIds.map(Long.box): _*))
            .select(col("vec_id"), col("nbr_id")).collect()
            .groupBy(_.getLong(0))
            .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
          def recallOf(g: Map[Long, Set[Long]]): Double =
            sampleIds.map(q => (g.getOrElse(q, Set.empty) &
              truth.getOrElse(q, Set.empty)).size).sum.toDouble /
              (sampleIds.size.toDouble * k)
          val r1 = recallOf(graphSets(
            graft.ext.ClusterOps.knnGraphOn(storeP2
              .select(col("vec_id"), col("cell"), col("v")))))
          val r2 = recallOf(graphSets(
            graft.ext.ClusterOps.knnGraphP2On(storeP2)))
          note("knn_recall_100x", cluDir,
            f"p1 $r1%.3f  p2 $r2%.3f  (100 queries, k=$k)")
        }
      }
      // round-14 #3: batch hybrid fusion in the SERVE class — both
      // legs from artifacts over the aligned 100× corpus (postings
      // store pruned to query-term buckets, vector store pruned to
      // probed cells)
      locally {
        val cents = graft.ext.KMeans.train(spark, cluDir)
        val ixStore = s"$cluDir/bm25_ix"
        if (!new java.io.File(ixStore).exists()) {
          measure("clu_bm25_index_build", cluDir) {
            graft.ext.Retrieval.writeBm25Index(
              Tables.documents(spark, cluDir)
                .select(col("doc_id"),
                  graft.ext.TextOps.tokens(col("text")).as("t"))
                .filter(size(col("t")) > 0), ixStore)
          }
        }
        time("rag_hybrid_rrf_batch", src, 1)
        timed("rag_hybrid_batch_served", cluDir, 2)(
          graft.ext.Retrieval.hybridRrfBatchFromStores(spark, cluDir,
            ixStore, cellStore, cents))
      }
    }
    // round-14 follow-up: the edges append timed in ISOLATION (fresh
    // session state, no cached 100× tables, no prior 600k-row
    // collects) — the clu-session rows carry ~10 s of context cost
    // (heap pressure from the tier's pinned tables and collected
    // graphs) that belongs to the session, not the operator. Rides
    // the clu tier's existing stores; skips if they're absent.
    if (on("knnappend")) locally {
      val cluDir = s"$dst/clu2"
      val knnCells = s"$cluDir/knn_cells"
      val goldEdgesDir = s"$cluDir/knn_gold_edges"
      if (new java.io.File(knnCells).exists() &&
          new java.io.File(goldEdgesDir).exists()) {
        val store = spark.read.parquet(knnCells)
          .select(col("vec_id"), col("cell").cast("int").as("cell"),
            col("v"))
        val batchFrom = store.agg(max(col("vec_id"))).head().getLong(0) - 49
        (1 to 3).foreach { _ =>
          val touched = store.filter(col("vec_id") >= batchFrom)
            .select(col("cell")).distinct().count()
          measure("knn_edges_append_isolated", cluDir)(
            graft.ext.ClusterOps.appendKnnEdges(spark, goldEdgesDir,
              store, batchFrom))
          note("knn_edges_append_isolated", cluDir,
            s"(touched $touched cells, delta merge)")
        }
      } else println(s"[scaleup] knnappend: stores missing under $cluDir")
    }
    // round-13 stretch #8: learned OPQ at 100× — the rotation trains
    // DRIVER-LOCAL on the bounded base sample (timed separately: the
    // amortization claim), serving is the identical chain either way;
    // recall of both rotations vs the exact-L2 top-K over the
    // perturbed 200k corpus. Own section flag (`opq`) so it reruns
    // without repaying the whole clu tier; rides the clu corpus.
    if (on("clu") || on("opq")) locally {
      val cluDir = s"$dst/clu2"
      if (new java.io.File(s"$cluDir/embeddings.parquet").exists())
        locally {
        import graft.ext.ProductQuant
        val (sample, rot) = measure("opq_learn_rotation", cluDir) {
          val sample = graft.ext.KMeans.vecs(spark, cluDir)
            .orderBy(col("vec_id")).limit(ProductQuant.OpqSampleN)
            .select(col("v")).collect().map(_.getSeq[Double](0))
          (sample, ProductQuant.learnedRotation(sample.toSeq))
        }
        note("opq_learn_rotation", cluDir,
          f"(driver-local, ${sample.length}%d-vector sample, " +
          f"${rot.size}x${rot.head.size} R)")
        // one collect per rotation: the wall row AND the recall read
        // the same run (the chain re-trains per call — don't pay it
        // twice per rotation)
        def runChain(name: String,
            df: org.apache.spark.sql.DataFrame): Set[Long] =
          measure(name, cluDir)(df.select(col("vec_id")).collect())
            .map(_.getLong(0)).toSet
        val seededIds = runChain("sim_opq_seeded_100x",
          ProductQuant.opqIvfPqTopK(spark, cluDir))
        val learnedIds = runChain("sim_opq_learned_100x",
          ProductQuant.opqLearnedTopK(spark, cluDir))
        val vs = graft.ext.KMeans.vecs(spark, cluDir)
        val (qid, _, qv) = graft.ext.KMeans.queryRow(spark, cluDir)
        val qLit = array(qv.map(lit): _*)
        val truth = vs.filter(col("vec_id") =!= qid)
          .select(col("vec_id"),
            aggregate(zip_with(col("v"), qLit, (x, y) => (x - y) * (x - y)),
              lit(0.0), (a, x) => a + x).as("d2"))
          .orderBy(col("d2"), col("vec_id")).limit(ProductQuant.TopK)
          .collect().map(_.getLong(0)).toSet
        def recallOf(ids: Set[Long]): Double =
          ids.intersect(truth).size.toDouble / ProductQuant.TopK
        println(f"[scaleup] opq_recall_100x              $cluDir%-18s " +
          f"seeded ${recallOf(seededIds)}%.2f  " +
          f"learned ${recallOf(learnedIds)}%.2f  (vs exact-L2 top-" +
          f"${ProductQuant.TopK}%d)")
      }
    }
    if (on("bpe")) {
      // BPE trainer's two scale axes, isolated. (a) CORPUS axis: the
      // scaled corpus with its per-copy word prefixes stripped has the
      // base vocabulary at 100× the rows — only the histogram build
      // (the single corpus-sized stage) should grow, the 12 merge
      // rounds run on the same vocabulary-sized table. (b) VOCAB axis:
      // the prefixed corpus under a widened word model has ~100× the
      // vocabulary — rounds now process a 100× symbol table, the
      // histogram cost is the same scan. Encode rides axis (a): a
      // corpus-sized stream joined to the vocabulary dimension.
      import graft.ext.Bpe
      def docsStripped(d: String) =
        Tables.documents(spark, d).withColumn("text",
          regexp_replace(col("text"), "c\\d+_", ""))
      for ((tag, d) <- Seq(("src", src), ("dst", dst))) {
        lazy val hist = Bpe.wordHist(docsStripped(d)).localCheckpoint()
        measure("bpe_hist_corpus_axis", d)(hist.count())
        val (rules, seg) = measure("bpe_train_corpus_axis", d)(
          Bpe.trainOn(hist))
        note("bpe_train_corpus_axis", d, s"(${rules.length} merges)")
        measure("bpe_encode_corpus_axis", d)(
          Bpe.encodeOn(docsStripped(d), seg).count())
      }
      locally {
        lazy val hist = Bpe.wordHist(Tables.documents(spark, dst),
          "^[a-z0-9_]+$").localCheckpoint()
        measure("bpe_hist_vocab_axis", dst)(hist.count())
        val (rules, _) = measure("bpe_train_vocab_axis", dst)(
          Bpe.trainOn(hist))
        note("bpe_train_vocab_axis", dst, s"(${rules.length} merges)")
        // REALISTIC MERGE COUNT (round-15 verdict #3): a 1k-rule
        // vocabulary through the batched trainer — ~⌈1000/64⌉ rounds
        // of bounded driver pulls instead of 1k sequential argmax
        // round-trips, on the widened-vocab axis where there are
        // enough distinct pairs to sustain it. The report/fertility
        // composition then re-runs on the BIG vocabulary, proving the
        // downstream tier consumes a realistic tokenizer, not the
        // 12-rule gate anchor.
        val (bigRules, bigSegC) = measure("bpe_train_batched_1k", dst) {
          val (r, seg) = Bpe.trainBatched(hist, 1024)
          (r, seg.localCheckpoint())
        }
        note("bpe_train_batched_1k", dst, s"(${bigRules.length} merges, " +
          s"${(bigRules.length + 63) / 64} rounds)")
        val (rep, fert) = measure("bpe_report_big_vocab", dst)((
          Bpe.bpeReportOn(Tables.documents(spark, dst),
            bigSegC, "^[a-z0-9_]+$").collect(),
          Bpe.bpeFertilityOn(Tables.documents(spark, dst),
            bigSegC, "^[a-z0-9_]+$").collect()))
        note("bpe_report_big_vocab", dst, "(cpt_micro " +
          rep.map(_.getAs[Long]("chars_per_token_micro")).mkString(",") +
          "; fert_micro " +
          fert.map(_.getAs[Long]("fertility_micro")).mkString(",") + ")")
      }
    }
    // REAL-vocabulary BPE (round-16 verdict #3): large merge counts
    // actually RUN end to end, not extrapolated from 1k. Widened word
    // model on the 100x prefixed corpus (the vocab axis — ~100x
    // distinct words sustains 8k+ distinct pairs), maxBatch raised so
    // the driver sync count stays bounded. The per-round hook prints
    // every 4th round — the number to read is round cost staying FLAT
    // as the rule count grows (the checkpointReset planning-cost law
    // at realistic merge counts), and the downstream
    // report/fertility/mix tier re-proven on the trained vocabulary.
    def bpeVocabAxis(tag: String, merges: Int, maxBatch: Int): Unit = {
      import graft.ext.{Bpe, Sampling}
      // the c<i>_ prefixes alone top out at ~3.1k words (~4k merges
      // before every word is one symbol — measured: the first run
      // EXHAUSTED at 4,014); a second per-doc-class token prefix
      // (w<doc_id mod 97>_) widens the vocabulary to the ~300k-word
      // regime a real multilingual corpus has, which sustains the
      // full production merge budget
      val docsW = Tables.documents(spark, dst).withColumn("text",
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("w"), pmod(col("doc_id"), lit(97)).cast("string"),
            lit("_$1"))))
        .localCheckpoint()
      val hist = Bpe.wordHist(docsW, "^[a-z0-9_]+$").localCheckpoint()
      note(s"${tag}_vocab", dst, s"(vocab ${hist.count()})")
      var rounds = 0
      val (rules, segC) = measure(s"${tag}_train", dst) {
        val (rules, seg) = Bpe.trainBatched(hist, merges, maxBatch,
          onRound = (r, n, s) => {
            rounds = r
            if (r % 4 == 0 || s > 60) note(f"${tag}_round r$r%04d", dst,
              f"$s%8.2f s  ($n%d rules)")
          })
        (rules, seg.localCheckpoint())
      }
      note(s"${tag}_train", dst, s"(${rules.length} merges, $rounds rounds)")
      val (rep, fert, mix) = measure(s"${tag}_downstream", dst) {
        val fertDf = Bpe.bpeFertilityOn(docsW, segC, "^[a-z0-9_]+$")
          .localCheckpoint()
        (Bpe.bpeReportOn(docsW, segC, "^[a-z0-9_]+$").collect(),
          fertDf.collect(),
          Sampling.fertilityWeightedMixOn(docsW, fertDf).collect())
      }
      note(s"${tag}_downstream", dst, "(cpt_micro " +
        rep.map(_.getAs[Long]("chars_per_token_micro")).mkString(",") +
        "; fert_micro " +
        fert.map(_.getAs[Long]("fertility_micro")).mkString(",") +
        "; mix sampled " +
        mix.map(_.getAs[Long]("sampled_docs")).mkString(",") + ")")
    }
    if (on("bpe8k")) bpeVocabAxis("bpe8k", 8192, maxBatch = 256)
    // the PRODUCTION vocabulary size: 32k merges run for real, where
    // round 16 could only extrapolate — maxBatch 512 keeps the driver
    // sync count in the hundreds as the pair table thins
    if (on("bpe32k")) bpeVocabAxis("bpe32k", 32768, maxBatch = 512)
    if (on("ragev")) {
      // the eval harness against the ann tier's 20M-vector corpus:
      // the exact-truth pass is the one corpus-sized cost (a fan-out
      // scan + the salted two-phase rank over queries × corpus scored
      // rows), paid once per eval batch; the metrics join is bounded
      // at queries·k rows. The IVF row re-pays its probe scan — the
      // point of the row pair is truth-cost vs probe-cost at the same
      // corpus.
      ensureAnnEmbeddings()
      import graft.ext.{KMeans, RetrievalEval}
      val cents = KMeans.train(spark, src)
      val qrows = KMeans.batchQueryRows(spark, dst)
      def evalRow(tag: String, dir: String,
          truth: org.apache.spark.sql.DataFrame)(
          sys: => org.apache.spark.sql.DataFrame): Unit = {
        val m = measure(tag, dir)(RetrievalEval.metricsOn(sys, truth)
          .orderBy(col("query_id")).collect())
        note(tag, dir, s"(hits@${RetrievalEval.EvalK} " +
          s"${m.map(_.getLong(2)).mkString(",")}, ndcg_micro " +
          s"${m.map(_.getLong(6)).mkString(",")})")
      }
      val truth = measure("rag_eval_truth_20m", dst)(
        RetrievalEval.exactBatchTopK(
          KMeans.vecs(spark, dst), qrows, RetrievalEval.EvalK)
          .localCheckpoint())
      note("rag_eval_truth_20m", dst,
        s"(exact top-${RetrievalEval.EvalK}, ${qrows.length} queries)")
      evalRow("rag_eval_ivf_20m", dst, truth)(
        KMeans.ivfBatchTopKWith(spark, dst, cents)
          .select(col("query_id"), col("vec_id"), col("rk")))
      // the copies corpus is recall-degenerate for the min-id block
      // (its true neighbors are its own perturbed copies, same cell)
      // — the clu2 cross-cell-chain fixture with MID-CHAIN queries is
      // where the harness measures something: neighbors of a deep
      // interpolation point straddle the cell boundary
      ensureCluCorpus()
      val centsC = KMeans.train(spark, cluDir)
      // HARD queries by construction: the 4 vectors with the smallest
      // assignment margin (best vs runner-up cell distance) sit on
      // Voronoi boundaries, where single-probe recall actually loses
      // neighbors — min-id or random queries sample cell interiors
      // and read a vacuous 1.0
      val qC = KMeans.vecs(spark, cluDir)
        .select(col("vec_id"), col("v"),
          (graft.functions.NearestCentroid
            .secondDistSq(col("v"), centsC.map(_._2)) -
            graft.functions.NearestCentroid
              .distSq(col("v"), centsC.map(_._2))).as("margin"))
        .orderBy(col("margin"), col("vec_id")).limit(4)
        .select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      val truthC = measure("rag_eval_truth_clu2", cluDir)(
        RetrievalEval.exactBatchTopK(
          KMeans.vecs(spark, cluDir), qC, RetrievalEval.EvalK)
          .localCheckpoint())
      note("rag_eval_truth_clu2", cluDir, "(min-margin boundary queries)")
      evalRow("rag_eval_ivf_clu2", cluDir, truthC)(
        KMeans.ivfBatchTopKOn(spark, cluDir, centsC, qC)
          .select(col("query_id"), col("vec_id"), col("rk")))
      // the multi-probe recovery, quantified by the SAME harness:
      // probing the runner-up cell should win back the boundary
      // losses the margin-sampled queries exposed
      evalRow("rag_eval_ivf_p2_clu2", cluDir, truthC)(
        KMeans.ivfBatchTopKOn(spark, cluDir, centsC, qC,
            RetrievalEval.EvalK, probes = 2)
          .select(col("query_id"), col("vec_id"), col("rk")))
      // the QUANTIZED ladder on the SAME margin-sampled boundary
      // queries (round-15 verdict #4): recall where each compressed
      // index actually loses — min-id queries read vacuous maxima
      import graft.ext.{ProductQuant, ScalarQuant}
      val rcbsC = ProductQuant.residualCodebooks(spark, cluDir, centsC)
      val codedC = ProductQuant
        .encodeWithCellsResidual(spark, cluDir, centsC, rcbsC)
        .localCheckpoint()
      val prepC = ProductQuant.prepResidualRows(qC, centsC, rcbsC)
      evalRow("rag_eval_adc_clu2", cluDir, truthC)(ProductQuant
        .adcBatchTopKOverCoded(codedC, prepC)
        .filter(col("rk") <= RetrievalEval.EvalK)
        .select(col("query_id"), col("vec_id"), col("rk")))
      evalRow("rag_eval_rerank_clu2", cluDir, truthC)(
        ProductQuant.rerankBatchOverCoded(
          KMeans.vecs(spark, cluDir), codedC, prepC, qC.toMap,
          RetrievalEval.EvalK))
      evalRow("rag_eval_sq8_clu2", cluDir, truthC)(ScalarQuant.sq8BatchFor(
        spark, cluDir, qC, RetrievalEval.EvalK))
      evalRow("rag_eval_opq_clu2", cluDir, truthC)(ProductQuant.opqBatchFor(
        spark, cluDir, ScalarQuant.rotationMatrix(), qC,
        RetrievalEval.EvalK))
    }
    if (on("opqserve")) {
      // OPQ build/serve split at 100× (round-16 verdict #5): the
      // round-16 OPQ eval row trained rotation + 5 quantizers
      // in-call (~77 s at this scale); the persisted store pays that
      // ONCE, and a serve is query prep + one cell-pruned codes scan
      // (+ k′ point fetches for the rerank rung). The serve rows are
      // the steady-state numbers a deployment sees.
      ensureCluCorpus()
      import graft.ext.{ProductQuant, ScalarQuant}
      val store = s"$cluDir/opq_store"
      if (!new java.io.File(store).exists()) {
        measure("opq_store_build", cluDir)(
          ProductQuant.writeOpqStore(spark, cluDir, store,
            ScalarQuant.rotationMatrix()))
        note("opq_store_build", cluDir,
          f"(${graft.ops.StoreFiles.dirBytes(store) / 1048576.0}%9.1f MB)")
      }
      timed("opq_served_topk", cluDir, 2)(
        ProductQuant.opqServedTopK(spark, cluDir, store))
      timed("opq_rerank_served", cluDir, 2)(
        ProductQuant.opqRerankServedTopK(spark, cluDir, store))
    }
    if (on("recurate")) {
      // diff-driven re-curation at 100× (round-15 verdict stretch #7):
      // the incremental keep-earliest maintenance must track the DIFF
      // (~20% of docs under the fixture mods), not the corpus — its
      // keeper recompute is confined to touched fingerprint groups.
      // Expected shape: v1-state build and the full recompute both
      // track corpus size; the incremental leg tracks |diff| (plus
      // one state-sized anti-join + scan-bounded joins, no corpus
      // text re-read).
      import graft.ext.Curation
      for (d <- Seq(src, dst)) {
        val (v1, v2) = Curation.snapshotViews(Tables.documents(spark, d))
        val (state, keep1) = measure("recurate_v1_state_build", d) {
          val state = Curation.docFp(v1).localCheckpoint()
          (state, state.groupBy(col("fp"))
            .agg(min(col("doc_id")).as("keeper")).localCheckpoint())
        }
        note("recurate_v1_state_build", d, s"(${state.count()} docs)")
        val diff = measure("recurate_diff", d)(
          Curation.snapshotDiffDocsOn(v1, v2).localCheckpoint())
        note("recurate_diff", d, s"(${diff.count()} diff docs)")
        // the re-crawl SHIPMENT: changed/added docs arrive WITH their
        // texts (a real delta feed) — staging it is ingest, not
        // maintenance cost. Passing it as the v2 side is exact: the
        // incremental leg joins v2 against the diff's ids anyway.
        val arrivals = v2.join(diff.select(col("doc_id")),
          Seq("doc_id")).localCheckpoint()
        measure("recurate_incremental", d)(Curation
          .diffRecurateKeepIncr(state, keep1, diff, arrivals).count())
        // the store-maintenance write: touched-group verdicts only
        // (the full per-doc frame above is the gate's comparison
        // shape, not what a deployed store rewrites)
        measure("recurate_incremental_delta", d)(Curation
          .diffRecurateKeepIncr(state, keep1, diff, arrivals,
            deltaOnly = true).count())
        measure("recurate_full_rebuild", d) {
          val p2 = Curation.docFp(v2)
          p2.join(p2.groupBy(col("fp"))
            .agg(min(col("doc_id")).as("keeper")), "fp").count()
        }
      }
    }
    if (on("zorder")) {
      // layout write cost + the skipping it buys, both scales: the
      // write is one range exchange; the probe is files touched by a
      // second-key box (parquet footer min/max stand-in, measured on
      // the actual written files' envelopes).
      import graft.pipeline.ZOrderLayout
      for (d <- Seq(src, dst)) {
        val li = Tables.lineitem(spark, d)
        val zDir = graft.ops.Scratch.dir("graft_zorder_scale") + "/z"
        measure("zorder_write", d)(
          ZOrderLayout.zorderWrite(li, "l_partkey", "l_suppkey", zDir))
        val env = spark.read.parquet(zDir)
          .groupBy(input_file_name())
          .agg(min(col("l_suppkey")).as("lo"), max(col("l_suppkey")).as("hi"))
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        val yb = li.agg(min(col("l_suppkey")), max(col("l_suppkey"))).head()
        val (ylo, ySpan) = (yb.getLong(0), yb.getLong(1) - yb.getLong(0) + 1)
        val (bLo, bHi) = (ylo + 3 * ySpan / 10, ylo + 4 * ySpan / 10)
        val t = env.count { case (lo, hi) => hi >= bLo && lo <= bHi }
        note("zorder_box_touched", d,
          s"$t of ${env.length} files (y box [$bLo,$bHi])")
      }
    }
    spark.stop()
  }
}
