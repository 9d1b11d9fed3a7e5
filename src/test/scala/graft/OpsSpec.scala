package graft

import org.apache.spark.sql.functions._
import graft.ops.ColumnOps._
import graft.ops.{StageLog, StatsOps}

class OpsSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  test("normalizeName standardizes like the reference (P2)") {
    assert(normalizeName(" Order Date ") == "order_date")
    assert(normalizeName("Total Revenue") == "total_revenue")
  }

  test("safeDiv yields null on zero divisor (F9/F23)") {
    val df = Seq((10.0, 2.0), (10.0, 0.0)).toDF("a", "b")
    val out = df.select(safeDiv($"a", $"b")).collect()
    assert(out(0).getDouble(0) == 5.0)
    assert(out(1).isNullAt(0))
  }

  test("buckets are exhaustive and disjoint (F15-F17)") {
    val df = Seq(-5.0, 0.0, 0.05, 0.10, 0.30, 0.31, 100.0).toDF("r")
    val cats = df.select(marginCategory($"r")).as[String].collect()
    assert(cats.forall(Set("low", "medium", "high")))
    val units = Seq(0, 49, 50, 200, 201).toDF("u")
    assert(units.select(orderSizeCategory($"u")).as[String].collect()
      .sameElements(Array("small", "small", "medium", "medium", "large")))
    val days = Seq(0, 3, 4, 7, 8).toDF("d")
    assert(days.select(shippingSpeedCategory($"d")).as[String].collect()
      .sameElements(Array("fast", "fast", "normal", "normal", "slow")))
  }

  test("clip bounds and min-max normalization invariants (F13/F14)") {
    val df = Seq(-100.0, 0.0, 50.0, 1000.0).toDF("x")
    val clipped = df.select(clip($"x", 0.0, 100.0)).as[Double].collect()
    assert(clipped.forall(v => v >= 0.0 && v <= 100.0))
    val norm = df.select(minMaxScale($"x", -100.0, 1000.0)).as[Double].collect()
    assert(norm.forall(v => v >= 0.0 && v <= 1.0))
    // constant column guard
    assert(df.select(minMaxScale($"x", 5.0, 5.0)).as[Double].collect()
      .forall(_ == 0.0))
  }

  test("sumMoney is exact and partition-order independent") {
    val vals = (1 to 1000).map(i => i + 0.01 * (i % 100))
    val a = vals.toDF("x").repartition(1).agg(sumMoney($"x")).head.getDouble(0)
    val b = vals.reverse.toDF("x").repartition(17).agg(sumMoney($"x")).head.getDouble(0)
    assert(a == b) // bit-identical despite different partitioning
  }

  test("orderStat quantiles are the lower order statistic (A9)") {
    val df = (1 to 100).map(_.toDouble).toDF("x")
    assert(StatsOps.orderStat(df, $"x", 0.25) == 25.0) // floor(0.25*99)=24 → 25th value
    assert(StatsOps.orderStat(df, $"x", 0.5) == 50.0)
    assert(StatsOps.median(df, $"x") == 50.0)
    val (lo, hi) = StatsOps.iqrBounds(df, $"x")
    assert(lo == 25.0 - 1.5 * 50.0 && hi == 75.0 + 1.5 * 50.0)
  }

  test("medianColumn is orderStat's lower median, planned lazily") {
    val cases = Seq(
      "even n" -> (1 to 10).map(i => Option(i.toDouble)),
      "odd n" -> (1 to 11).map(i => Option(i.toDouble)),
      "one value" -> Seq(Option(7.0)),
      "duplicates" -> Seq(3.0, 1.0, 3.0, 3.0, 2.0, 1.0).map(Option(_)),
      "nulls" -> (Seq(None, None, None) ++ (1 to 4).map(i => Option(i * 1.5))))
    cases.foreach { case (name, vals) =>
      val df = vals.toDF("x").repartition(3)
      val med = df.withColumn("m", StatsOps.medianColumn(df, $"x"))
        .select($"m").distinct().as[Double].collect().toSeq
      assert(med == Seq(StatsOps.orderStat(df, $"x", 0.5)), name)
    }
    // the median runs with the plan that uses it, not at construction
    val df = (1 to 100).map(_.toDouble).toDF("x")
    assert(JobCount.of(spark)(
      df.withColumn("m", StatsOps.medianColumn(df, $"x"))) == 0)
  }

  test("a median over no non-null value fails loudly") {
    val allNull = Seq(Option.empty[Double], None).toDF("x")
    val empty = (1 to 3).map(_.toDouble).toDF("x").filter($"x" > 10)
    def messages(e: Throwable) = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    Seq(allNull, empty).foreach { df =>
      val eager = intercept[Exception](StatsOps.median(df, $"x"))
      assert(messages(eager).contains("no non-null value"), messages(eager))
      // a plan whose rows need that median fails when it runs
      val rows = Seq(1, 2).toDF("y")
      val lazyErr = intercept[Exception](
        rows.withColumn("m", StatsOps.medianColumn(df, $"x")).collect())
      assert(messages(lazyErr).contains("no non-null value"), messages(lazyErr))
    }
  }

  test("StageLog.observed collects metrics with the action, no extra pass") {
    val src = Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
      .toDF("id", "v")
    val (df, obs) = StageLog.observed("clean", src, "v")
    assert(df.count() == 3)
    val m = StageLog.metrics(obs)
    assert(m("rows") == 3L && m("nulls_v") == 1L)
    val table = StageLog.metricsTable(ss, Seq("clean" -> m))
    assert(table.collect().head.getLong(1) == 3L)
  }

  test("boxplot five-number summaries are internally consistent") {
    val rows = graft.queries.EltOps.boxplot(spark, sf).collect()
    assert(rows.length == 5, "one row per order priority")
    rows.foreach { r =>
      val Seq(mn, q1, med, q3, mx, wlo, whi) = (2 to 8).map(r.getDouble).toSeq
      assert(mn <= q1 && q1 <= med && med <= q3 && q3 <= mx,
        s"five-number order violated: $r")
      assert(wlo >= mn && whi <= mx && wlo <= whi, s"whiskers outside range: $r")
      assert(r.getLong(9) >= 0 && r.getLong(9) < r.getLong(1))
    }
  }

  test("exact rank windows over low-NDV keys refuse oversized groups") {
    val ex = intercept[IllegalArgumentException] {
      graft.queries.EltOps.boxplot(spark, sf, maxGroupRows = 10)
    }
    assert(ex.getMessage.contains("percentile_approx"),
      "guard message should point at the sketch variant")
    val ex2 = intercept[IllegalArgumentException] {
      graft.ext.EventOps.groupedQuantiles(spark, sf, maxGroupRows = 10)
    }
    assert(ex2.getMessage.contains("percentile_approx"))
  }

  test("approx boxplot/quantiles track the exact plans within IQR tolerance") {
    def byGroup(df: org.apache.spark.sql.DataFrame,
        cols: Seq[Int]): Map[String, Seq[Double]] =
      df.collect().map(r => r.getString(0) -> cols.map(r.getDouble)).toMap
    val exact = byGroup(graft.queries.EltOps.boxplot(spark, sf), Seq(3, 4, 5))
    val approx =
      byGroup(graft.queries.EltOps.boxplotApprox(spark, sf), Seq(3, 4, 5))
    exact.foreach { case (grp, eq) =>
      val iqr = math.max(eq(2) - eq(0), 1e-9)
      eq.zip(approx(grp)).foreach { case (e, a) =>
        assert(math.abs(e - a) <= 0.05 * iqr,
          s"approx quartile drifted: grp=$grp exact=$e approx=$a")
      }
    }
    val eq2 = byGroup(graft.ext.EventOps.groupedQuantiles(spark, sf),
      Seq(1, 2, 3))
    val aq2 = byGroup(graft.ext.EventOps.groupedQuantilesApprox(spark, sf),
      Seq(1, 2, 3))
    eq2.foreach { case (grp, eq) =>
      val spread = math.max(eq(2) - eq(0), 1e-9)
      eq.zip(aq2(grp)).foreach { case (e, a) =>
        assert(math.abs(e - a) <= 0.05 * spread,
          s"approx quantile drifted: grp=$grp exact=$e approx=$a")
      }
    }
  }

  test("StoreCommit refuses a swap-era root and an unstamped version " +
      "loudly, never reading them as empty or by listing") {
    import java.nio.file.{Files => JF, Paths}
    import graft.ops.{StoreCommit, StoreFiles}
    val s = spark
    import s.implicits._
    val base = graft.ops.Scratch.dir("graft_swap_era")
    def refused(body: => Any): String =
      intercept[IllegalStateException](body).getMessage
    // the rename-aside layout: data files at the root, no CURRENT and
    // no v_* dir — every access throws and names the rebuild
    val legacy = s"$base/legacy"
    Seq(1L, 2L).toDF("x").write.parquet(legacy)
    Seq(refused(StoreCommit.recover(legacy)),
        refused(StoreCommit.read(spark, legacy)),
        refused(StoreCommit.fileCount(legacy)),
        refused(StoreCommit.append(legacy)(_ => ()))).foreach(m =>
      assert(m.contains("StoreCommit.replace"), m))
    // a partitioned swap-era store (files only under cell= dirs), and
    // a family API over a swap-era dedup index
    val legacyCells = s"$base/legacy_cells"
    Seq((1L, 0), (2L, 1)).toDF("x", "cell")
      .write.partitionBy("cell").parquet(legacyCells)
    refused(StoreCommit.readDir(legacyCells))
    val legacyIx = s"$base/legacy_ix"
    Seq(("fp", 1L)).toDF("fp", "exact_match")
      .write.parquet(s"$legacyIx/fingerprints")
    refused(graft.ext.Dedup.incrementalAgainstIndex(spark,
      Tables.documents(spark, sf).limit(1), legacyIx))
    // absent roots and roots holding only guard state are unseeded
    assert(StoreCommit.fileCount(s"$base/absent") == 0)
    StoreFiles.createMarker(s"$base/guarded", "_ids_synced")
    Seq(3L).toDF("vec_id").write.parquet(s"$base/guarded/_removed")
    assert(StoreCommit.fileCount(s"$base/guarded") == 0)
    // the rebuild: the same content committed through replace
    val fresh = s"$base/fresh"
    StoreCommit.replace(fresh)(Seq(1L, 2L).toDF("x").write.parquet(_))
    assert(StoreCommit.read(spark, fresh).count() == 2)
    // a committed version whose manifest is gone is damaged: loud,
    // never a directory-listing fallback
    JF.delete(Paths.get(StoreCommit.readDir(fresh), StoreCommit.ManifestName))
    assert(refused(StoreCommit.read(spark, fresh))
      .contains(StoreCommit.ManifestName))
    refused(StoreCommit.fileCount(fresh))
  }

  test("a replace that fails on a fresh root commits nothing: its " +
      "staged version is an orphan that recover deletes") {
    import graft.ops.StoreCommit
    val s = spark
    import s.implicits._
    val root = graft.ops.Scratch.dir("graft_first_fail") + "/t"
    // the body writes parquet at the version root (the job committer
    // stamps its own completion marker there), then fails
    intercept[IllegalStateException](StoreCommit.replace(root) { next =>
      Seq(1L, 2L).toDF("x").write.parquet(next)
      throw new IllegalStateException("body failed after its write")
    })
    assert(StoreCommit.fileCount(root) == 0)
    StoreCommit.recover(root)
    val left = Option(new java.io.File(root).list())
      .getOrElse(Array.empty[String]).toSeq
    assert(!left.exists(_.startsWith("v_")) && !left.contains("CURRENT"),
      s"recover must delete the orphan, left $left")
    StoreCommit.replace(root)(Seq(3L).toDF("x").write.parquet(_))
    assert(StoreCommit.read(spark, root).as[Long].collect().toSeq == Seq(3L))
  }

  test("StoreCommit: versioned commits resolve through the pointer, " +
      "and every crash shape (incomplete orphan, complete orphan, " +
      "torn pointer, missing pointer) recovers to the right state") {
    import graft.ops.StoreCommit
    import java.nio.file.{Files => JF, Paths}
    val root = graft.ops.Scratch.dir("graft_ptr") + "/t"
    def write(v: Long, to: String): Unit =
      Seq(v).toDF("x").coalesce(1).write.mode("overwrite").parquet(to)
    // a complete version the protocol never pointed at: data plus a
    // sealed manifest
    def forgeComplete(v: Long, to: String): Unit = {
      write(v, to)
      StoreCommit.writeManifest(to, StoreCommit.dataFiles(to))
    }
    def readBack: Long = StoreCommit.read(spark, root).head.getLong(0)
    assert(StoreCommit.committed(root).isEmpty)
    StoreCommit.replace(root)(write(1L, _))
    assert(readBack == 1L)
    StoreCommit.replace(root)(write(2L, _))
    assert(readBack == 2L)
    // GC: only the committed version remains
    assert(Option(new java.io.File(root).listFiles()).get
      .count(_.getName.startsWith("v_")) == 1)
    // crash BEFORE the version completed: the incomplete orphan is
    // invisible to resolve and deleted by recover (the caller's
    // replay re-stages it)
    JF.createDirectories(Paths.get(s"$root/v_00000003"))
    JF.writeString(Paths.get(s"$root/v_00000003/part-junk"), "partial")
    assert(readBack == 2L)
    StoreCommit.recover(root)
    assert(!new java.io.File(s"$root/v_00000003").exists())
    assert(readBack == 2L)
    // crash AFTER the version completed but BEFORE the pointer
    // replace began: a complete orphan above a VALID pointer is
    // uncommitted work — rolled back, the replay re-runs it
    forgeComplete(3L, s"$root/v_00000003")
    assert(readBack == 2L,
      "a valid pointer must win over a higher complete version")
    StoreCommit.recover(root)
    assert(!new java.io.File(s"$root/v_00000003").exists())
    // crash INSIDE the pointer replace: torn content falls back to
    // the highest complete version — exactly the commit in flight
    forgeComplete(3L, s"$root/v_00000003")
    JF.writeString(Paths.get(s"$root/CURRENT"), "v_000000")
    assert(readBack == 3L, "torn pointer must roll FORWARD")
    StoreCommit.recover(root)
    assert(JF.readString(Paths.get(s"$root/CURRENT")).trim
      == "v_00000003", "recover must repair the pointer")
    assert(!new java.io.File(s"$root/v_00000002").exists(),
      "the superseded version is GC'd on recovery")
    // crash in the delete-then-rename gap: pointer MISSING entirely
    forgeComplete(4L, s"$root/v_00000004")
    JF.delete(Paths.get(s"$root/CURRENT"))
    assert(readBack == 4L, "missing pointer must roll FORWARD")
    // the next commit recovers by itself and continues the chain
    StoreCommit.replace(root)(write(5L, _))
    assert(readBack == 5L)
    assert(StoreCommit.committed(root).get.endsWith("v_00000005"))
  }

  test("temporal split: boundaries match the recomputed 70/85% range " +
      "cuts, splits are time-ordered, summary reconciles") {
    import org.apache.spark.sql.functions._
    import graft.ext.EventOps
    val e = Tables.events(spark, sf)
      .select(col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val mn = e.values.min; val mx = e.values.max
    val cut1 = mn + (mx - mn) * EventOps.TemporalTrainPct / 100
    val cut2 = mn + (mx - mn) * EventOps.TemporalValPct / 100
    val rows = EventOps.temporalSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(4)))
    assert(rows.length == e.size)
    rows.foreach { case (id, split) =>
      val us = e(id)
      val expect = if (us <= cut1) "train"
        else if (us <= cut2) "validation" else "test"
      assert(split == expect, s"event $id split")
    }
    val bySplit = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(Set("train", "validation", "test").subsetOf(bySplit.keySet),
      s"all three splits should be populated, got $bySplit")
    // no temporal leakage: every train ts strictly precedes every
    // validation ts, which precedes every test ts
    def tsOf(s: String) = rows.filter(_._2 == s).map(p => e(p._1))
    assert(tsOf("train").max <= tsOf("validation").min)
    assert(tsOf("validation").max <= tsOf("test").min)
    val summary = EventOps.temporalSplitSummary(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary == bySplit.map { case (k, v) => k -> v.toLong })
  }

  test("parquetFileCount and dataBytes see what a reader sees: files " +
      "under hidden (_-prefixed) subdirs are not store content") {
    import java.nio.file.Files
    val sess = spark; import sess.implicits._
    val d = graft.ops.Scratch.dir("graft_hidden")
    Seq(1, 2, 3).toDF("a").coalesce(1).write.parquet(s"$d/store")
    // the guard root's permanent removed-id log, and torn staging
    Seq(4L, 5L).toDF("id").coalesce(1).write
      .parquet(s"$d/store/_removed")
    val n = graft.ops.StoreFiles.parquetFileCount(s"$d/store")
    assert(n == 1,
      s"a removal log must not count as store content (got $n)")
    // a committed store's data bytes come from its manifest: the
    // guard log at its root and torn junk inside its version (never
    // read) are not store content
    val c = s"$d/committed"
    graft.ops.StoreCommit.replace(c)(
      Seq(1, 2, 3).toDF("a").coalesce(1).write.parquet(_))
    Seq(4L, 5L).toDF("id").coalesce(1).write.parquet(s"$c/_removed")
    val withLog = graft.ops.StoreFiles.dirBytes(c)
    val dataOnly = graft.ops.StoreCommit.dataBytes(c)
    assert(dataOnly > 0 && dataOnly < withLog,
      "dataBytes must exclude the hidden log dirBytes includes")
    val live = new java.io.File(graft.ops.StoreCommit.readDir(c))
    val part = live.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, live.toPath.resolve("part-torn.parquet"))
    assert(graft.ops.StoreCommit.dataBytes(c) == dataOnly,
      "dataBytes must not count unlisted junk")
    // an empty store that carries ONLY a log reads as unseeded — the
    // seeded probe must not send a sink into the read-the-store path
    Seq(9L).toDF("id").coalesce(1).write
      .parquet(s"$d/empty/_removed")
    assert(graft.ops.StoreFiles.parquetFileCount(s"$d/empty") == 0)
  }
}
