package graft

import graft.pipeline.ZOrderLayout
import graft.ops.StoreCommit
import org.apache.spark.sql.functions._

/** The z-order layout's reason to exist, asserted end-to-end: files
  * actually written by [[ZOrderLayout.zorderWrite]] prune a
  * second-key box query that a single-key sorted layout cannot. */
class ZOrderSpec extends SparkSpec {

  test("interleave is the Morton curve on the 16x16 grid") {
    val sess = spark
    import sess.implicits._
    val pts = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrderLayout.interleave(col("x"), col("y")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    def ref(x: Long, y: Long): Long =
      (0 until 4).map(i => (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))).sum
    assert(pts.forall { case (x, y) => got((x, y)) == ref(x, y) })
    // bijective on the grid
    assert(got.values.toSet.size == 256 && got.values.forall(z => z >= 0 && z < 256))
  }

  test("zorder groups bound both keys; linear groups bound only the sort key") {
    val rows = ZOrderLayout.zorderStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    val (zo, lin) = rows.partition(_._1 == "zorder")
    assert(zo.nonEmpty && lin.nonEmpty)
    val li = Tables.lineitem(spark, sf)
    val b = li.agg(min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    val (xSpan, ySpan) = (b.getLong(1) - b.getLong(0) + 1, b.getLong(3) - b.getLong(2) + 1)
    // each z-group is one cell of the 4x4 macro grid: quarter-span in BOTH dims
    assert(zo.forall(g => g._4 - g._3 <= xSpan / 4 + 1 &&
      g._6 - g._5 <= ySpan / 4 + 1))
    // the linear groups span (nearly) the whole second-key domain — no
    // y skipping (>= 90% guards the unlikely absent-value draw)
    assert(lin.forall(g => (g._6 - g._5 + 1) * 10 >= ySpan * 9))
    assert(rows.map(_._2).sum == 2 * li.count())
  }

  test("written files prune a second-key box query the linear layout cannot") {
    val li = Tables.lineitem(spark, sf)
    val zDir = graft.ops.Scratch.dir("graft_zorder") + "/z"
    val linDir = graft.ops.Scratch.dir("graft_zorder") + "/lin"
    ZOrderLayout.zorderWrite(li, "l_partkey", "l_suppkey", zDir)
    li.repartitionByRange(1 << ZOrderLayout.GroupBits, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(linDir)

    def fileEnvelopes(dir: String): Array[(Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("l_suppkey").as("lo"), max("l_suppkey").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))

    val yb = li.agg(min("l_suppkey"), max("l_suppkey")).head()
    val (ylo, ySpan) = (yb.getLong(0), yb.getLong(1) - yb.getLong(0) + 1)
    val (boxLo, boxHi) = (ylo + 3 * ySpan / 10, ylo + 4 * ySpan / 10)
    def touched(env: Array[(Long, Long)]): Int =
      env.count { case (lo, hi) => hi >= boxLo && lo <= boxHi }
    val zEnv = fileEnvelopes(zDir)
    val linEnv = fileEnvelopes(linDir)
    assert(zEnv.length > 1 && linEnv.length > 1)
    // linear files all span the y domain; zorder touches only the
    // macro-grid rows intersecting the box
    assert(touched(linEnv) == linEnv.length)
    assert(touched(zEnv) * 2 <= zEnv.length,
      s"zorder touched ${touched(zEnv)} of ${zEnv.length} files")
    // layout must not change the data
    val key = (d: org.apache.spark.sql.DataFrame) =>
      d.agg(count(lit(1)), sum(col("l_orderkey") * col("l_linenumber")),
        sum(col("l_partkey") + col("l_suppkey"))).head().toSeq
    assert(key(spark.read.parquet(zDir)) == key(li))
  }

  test("quantile boundaries re-even a skewed key that value widths cannot") {
    val rows = ZOrderLayout.zorderSkewStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    val (q, v) = rows.partition(_._1 == "quantile")
    assert(q.nonEmpty && v.nonEmpty)
    val qRatio = q.map(_._2).max.toDouble / q.map(_._2).min
    val vRatio = v.map(_._2).max.toDouble / v.map(_._2).min
    // the residual quantile-form unevenness is the y grid's (its span
    // is 10 at sf0.001, so value widths land 1 or 2 suppkeys per
    // bucket) — the x re-evening must still cut the ratio decisively
    assert(qRatio < 2.0, s"quantile groups should be near-even, ratio $qRatio")
    assert(vRatio > 2.0 && vRatio > qRatio * 2,
      s"value widths on x^2 should skew (value $vRatio vs quantile $qRatio)")
    // both forms partition the same rows
    assert(q.map(_._2).sum == v.map(_._2).sum)
  }

  test("streaming z-order store equals its source through replay, a " +
      "compaction-crash, and keeps tight envelopes after OPTIMIZE") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.EventStreams
    val base = graft.ops.Scratch.dir("graft_zstore")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val store = s"$base/store"
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val maxKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val cuts = (1 to 5).map(i => maxKey * i / 5)
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_zstore_batch"))
      li.filter(col("l_orderkey") > lo && col("l_orderkey") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.zorderStoreSink(
        spark.readStream.schema(li.schema).parquet(srcDir),
        store, s"$base/chk", "l_partkey", "l_suppkey", "l_orderkey")
        .stop()
    def content(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    stageFile(Long.MinValue, cuts(0), "b0.parquet"); runOnce()
    stageFile(cuts(0), cuts(1), "b1.parquet"); runOnce()
    // crash inside a compaction's replace: the pointer renamed aside
    // mid-replace with an incomplete version staged — the next batch
    // must recover it
    Files.move(Paths.get(s"$store/CURRENT"), Paths.get(s"$store/CURRENT.tmp"))
    Files.createDirectories(Paths.get(s"$store/v_00000099"))
    Files.write(Paths.get(s"$store/v_00000099/junk"), Array[Byte](1))
    stageFile(cuts(1), cuts(2), "b2.parquet"); runOnce()
    stageFile(cuts(2), cuts(3), "b3.parquet"); runOnce()
    // 4 deltas by now -> compaction fired at least once
    stageFile(cuts(3), Long.MaxValue, "b4.parquet"); runOnce()
    assert(content(graft.pipeline.ZOrderLayout.readStore(spark,
      StoreCommit.readDir(store))) ==
      content(li), "store must equal the source after crash + OPTIMIZE")
    // replayed batch is a no-op (its delta subdir self-overwrites)
    stageFile(cuts(3), Long.MaxValue, "b4_replay.parquet"); runOnce()
    assert(content(graft.pipeline.ZOrderLayout.readStore(spark,
      StoreCommit.readDir(store))) ==
      content(li), "a replayed batch must be a no-op")
    // the compacted base keeps the skipping property: every base file
    // bounds the second key well below the full domain
    val yb = li.agg(min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val ySpan = yb.getLong(1) - yb.getLong(0) + 1
    val env = spark.read.parquet(s"${StoreCommit.readDir(store)}/base")
      .groupBy(input_file_name())
      .agg(min(col("l_suppkey")).as("lo"), max(col("l_suppkey")).as("hi"))
      .collect().map(r => r.getLong(2) - r.getLong(1) + 1)
    assert(env.length > 1 && env.count(_ * 2 <= ySpan) * 2 >= env.length,
      s"most base files must bound y below half its domain, spans ${env.toSeq}")
  }

  test("tiered store: torn deltas are invisible; superseded deltas " +
      "never double-count; minor folds deltas without touching base") {
    import java.nio.file.{Files, Paths}
    val sess = spark
    import sess.implicits._
    val root = graft.ops.Scratch.dir("graft_ztier") + "/s"
    val store = StoreCommit.writeDir(root)
    val part = (lo: Long, hi: Long) =>
      (lo to hi).map(i => (i, i % 7, i % 5)).toDF("id", "x", "y")
    ZOrderLayout.appendDelta(part(1, 10), store, "id")
    ZOrderLayout.appendDelta(part(11, 20), store, "id")
    // a torn delta: parquet file present, no _SUCCESS (crashed job)
    val torn = Paths.get(s"$store/delta/batch=99")
    Files.createDirectories(torn)
    part(90, 99).coalesce(1).write.mode("overwrite")
      .parquet(s"$store/delta/_t")
    val pf = new java.io.File(s"$store/delta/_t").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(pf.toPath, torn.resolve("part-torn.parquet"))
    graft.ops.StoreFiles.deleteDir(s"$store/delta/_t")
    assert(ZOrderLayout.deltaCount(store) == 2,
      "torn delta must be invisible to the listing")
    graft.ops.StoreFiles.deleteIdWatermark(store)
    assert(ZOrderLayout.storeWatermark(spark, store, "id").contains(20L),
      "torn delta must not poison the re-derived watermark")
    // minor: both deltas fold into one run named by the max id
    ZOrderLayout.minorCompact(spark, store, "x", "y")
    assert(new java.io.File(s"$store/l1/run=20").exists())
    assert(ZOrderLayout.deltaCount(store) == 0)
    // resurrect a superseded delta (crash between run and sweep):
    // readers must not double-count it
    ZOrderLayout.appendDelta(part(15, 18), store, "id")
    assert(ZOrderLayout.deltaCount(store) == 0,
      "a delta at or below the max run id is superseded")
    assert(ZOrderLayout.readStore(spark, store).count() == 20)
    ZOrderLayout.sweepSuperseded(store)
    assert(!new java.io.File(s"$store/delta/batch=18").exists())
    // major folds base-absent run + a live delta into the base
    ZOrderLayout.appendDelta(part(21, 30), store, "id")
    ZOrderLayout.compactStore(spark, root, "x", "y", "id")
    val live = StoreCommit.readDir(root)
    assert(ZOrderLayout.readStore(spark, live).count() == 30)
    assert(ZOrderLayout.deltaCount(live) == 0 &&
      new java.io.File(s"$live/base").exists())
  }

  test("delete-delta tier: reads mask immediately, minors fold minus " +
      "deletes while retaining the mask, majors apply physically and " +
      "drop the tier; replayed delete batches are idempotent") {
    import java.nio.file.Files
    val sess = spark
    import sess.implicits._
    val root = graft.ops.Scratch.dir("graft_zdel") + "/s"
    val store = StoreCommit.writeDir(root)
    val part = (lo: Long, hi: Long) =>
      (lo to hi).map(i => (i, i % 7, i % 5)).toDF("id", "x", "y")
    def ids() = ZOrderLayout.readStore(spark, StoreCommit.readDir(root))
      .select("id").collect().map(_.getLong(0)).toSet
    ZOrderLayout.appendDelta(part(1, 10), store, "id")
    ZOrderLayout.appendDelta(part(11, 20), store, "id")
    ZOrderLayout.minorCompact(spark, store, "x", "y")
    ZOrderLayout.appendDelta(part(21, 30), store, "id")
    // the delete batch spans base-bound rows (run) AND a live delta
    val doomed = Set(3L, 12L, 25L)
    ZOrderLayout.appendDeleteDelta(
      doomed.toSeq.map(i => Tuple1(i)).toDF("id"), store, "id")
    val want = (1L to 30L).toSet -- doomed
    assert(ids() == want, "pending deletes must mask every read")
    // replay of the SAME delete batch lands in the same subdir
    val delDirs = () => graft.ops.StoreFiles
      .committedPartitionDirs(s"$store/del", "batch=").size
    val n0 = delDirs()
    ZOrderLayout.appendDeleteDelta(
      doomed.toSeq.map(i => Tuple1(i)).toDF("id"), store, "id")
    assert(delDirs() == n0, "replayed delete batch must be idempotent")
    // a minor fold applies deletes to ITS input but keeps the mask
    // (base/run rows it cannot touch are still hidden by it)
    ZOrderLayout.minorCompact(spark, store, "x", "y")
    assert(delDirs() == n0,
      "minor compaction must retain the delete-delta")
    assert(ids() == want)
    assert(spark.read.parquet(s"$store/l1/run=30")
      .filter(col("id") === 25L).isEmpty,
      "the minor fold must drop deleted rows from the run it writes")
    // the watermark stays at the pre-delete max (replay guard intact)
    assert(ZOrderLayout.storeWatermark(spark, store, "id").contains(30L))
    // the major applies deletes physically and drops the del tier
    ZOrderLayout.compactStore(spark, root, "x", "y", "id")
    val live = StoreCommit.readDir(root)
    assert(ids() == want)
    assert(ZOrderLayout.pendingDeletes(spark, live).isEmpty,
      "major compaction must retire the applied delete-deltas")
    assert(spark.read.parquet(s"$live/base").count() == want.size.toLong)
    assert(ZOrderLayout.storeWatermark(spark, live, "id").contains(30L))
  }

  test("pointer-mode z-store sink: replay + minor/major compaction " +
      "commit through versioned dirs, content exact") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.EventStreams
    val base = graft.ops.Scratch.dir("graft_zstore_ptr")
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    val store = s"$base/store"
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val maxKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val cuts = (1 to 5).map(i => maxKey * i / 5)
    def stageFile(lo: Long, hi: Long, name: String): Unit = {
      val tmp = java.nio.file.Paths.get(
        graft.ops.Scratch.dir("graft_zptr_batch"))
      li.filter(col("l_orderkey") > lo && col("l_orderkey") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, Paths.get(srcDir, name))
    }
    def runOnce(): Unit =
      EventStreams.zorderStoreSink(
        spark.readStream.schema(li.schema).parquet(srcDir),
        store, s"$base/chk", "l_partkey", "l_suppkey", "l_orderkey")
        .stop()
    def content(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    stageFile(Long.MinValue, cuts(0), "b0.parquet"); runOnce()
    stageFile(cuts(0), cuts(1), "b1.parquet"); runOnce()
    // crash mid-major-compaction: an orphan staged
    // version above the committed one — recover must roll it back
    val live0 = StoreCommit.readDir(store)
    val orphan = Paths.get(store, "v_00000007")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk"), Array[Byte](1))
    stageFile(cuts(1), cuts(2), "b2.parquet"); runOnce()
    assert(!Files.exists(orphan), "orphan version must be rolled back")
    stageFile(cuts(2), cuts(3), "b3.parquet"); runOnce()
    stageFile(cuts(3), Long.MaxValue, "b4.parquet"); runOnce()
    val live = StoreCommit.readDir(store)
    assert(live != store && Files.exists(Paths.get(store, "CURRENT")))
    assert(content(ZOrderLayout.readStore(spark, live)) == content(li),
      "pointer-committed store must equal the source")
    // replayed batch is a no-op
    stageFile(cuts(3), Long.MaxValue, "b4r.parquet"); runOnce()
    assert(content(ZOrderLayout.readStore(spark,
      StoreCommit.readDir(store))) == content(li))
    // the major compaction flipped versions at least once: base
    // exists inside the committed version
    assert(Files.exists(Paths.get(live, "base")), s"no base under $live")
    assert(live0 != live, "compaction must have flipped the version")
  }

  test("quantile boundaries match their integer definition exactly") {
    val sess = spark
    import sess.implicits._
    // 8 rows, heavy duplication. cum: 1->5, 5->6, 9->8; rule
    // cum*4 >= j*8 needs cum >= 2j: j=1,2 -> value 1 (cum 5);
    // j=3 -> value 5 (cum 6)
    val df = Seq(1L, 1L, 1L, 1L, 1L, 5L, 9L, 9L).toDF("v")
    val b = ZOrderLayout.quantileBoundaries(df, col("v"), 4)
    assert(b == Seq(1L, 1L, 5L), s"got $b")
    val coords = df.select(ZOrderLayout.quantileCoord(col("v"), b).as("c"))
      .collect().map(_.getLong(0)).toSeq
    assert(coords.sorted == Seq(2L, 2L, 2L, 2L, 2L, 3L, 3L, 3L))
  }
}
