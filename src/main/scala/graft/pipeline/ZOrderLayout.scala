package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.OracleForms
import graft.ops.StoreCommit

/** Z-order (Morton-curve) data layout — multi-dimensional clustering
  * for file skipping, [[GoldLayout]]'s sibling for the OTHER gold
  * read regime: point/range lookups on TWO independent keys. A
  * single-key sort clusters min/max file statistics for that key
  * only; a query on the second key reads every file. Interleaving
  * the bits of both keys' grid coordinates gives a total order whose
  * prefixes are rectangles in key space, so EVERY file bounds BOTH
  * keys — the Delta/Hudi `OPTIMIZE ZORDER` idea, over plain parquet
  * min/max row-group stats.
  *
  * Scale shape — deliberately nothing rank-based: grid coordinates
  * are VALUE-quantized against the exact global min/max (one
  * map-side-combinable aggregate pulling 4 scalars to the driver;
  * an exact-rank ntile would be a single-partition global window,
  * the one plan shape this engine bans at 100 TB). The file group is
  * the z-value's PREFIX (top [[GroupBits]] bits) — group assignment
  * is per-row arithmetic, so the layout write is
  * `repartitionByRange(z).sortWithinPartitions(z)`: one range
  * exchange, perfectly parallel, and group populations stay near-even
  * exactly when the keys are near-uniform (TPC-H-ish keys are; a
  * skewed dimension wants quantile boundaries instead — the
  * documented variant, at the cost of the order-statistic pass).
  * Everything is int64 arithmetic — engine-exact, no tolerance.
  *
  * The gate compares the z-order grouping against the single-key
  * `linear` grouping under one shared chain: per file group, row
  * count and min/max of BOTH keys. The z-order rows bound both
  * dimensions tightly (each group spans ¼ of each key's range at
  * [[GroupBits]] = 4); the linear rows bound only the sort key — the
  * second key's min/max spans the whole domain in every group, the
  * no-skipping pathology made visible as data. ZOrderSpec quantifies
  * it end-to-end: files actually written by [[zorderWrite]] prune a
  * second-key box query that the linear layout cannot.
  *
  * Reference scope: the reference's lakehouse tier is a flat csv →
  * MySQL load (/root/reference/etl_pipeline/load.py); layout for
  * selective reads is extension depth for the 100 TB story.
  */
object ZOrderLayout {

  /** Grid resolution per dimension (2^Bits buckets). */
  val Bits = 4

  /** File-group count = 2^GroupBits (z-value prefix). */
  val GroupBits = 4

  /** Bit-interleave two [[Bits]]-bit grid coordinates: x in the even
    * z bits, y in the odd. */
  def interleave(xb: Column, yb: Column): Column =
    (0 until Bits).map { i =>
      (shiftleft(shiftright(xb, i).bitwiseAND(1), 2 * i))
        .bitwiseOR(shiftleft(shiftright(yb, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Value-quantized grid coordinate: (v - lo) * 2^Bits div span, in
    * [0, 2^Bits) for v in [lo, hi]. floor-of-double-division equals
    * exact integer division while (v − lo)·2^Bits < 2^53 and the
    * quotient is small (both hold for any realistic key domain; the
    * scaled numerator would need a ~2^49 key span to break it). */
  def gridCoord(v: Column, lo: Long, hi: Long): Column =
    floor(((v - lit(lo)) * lit(1L << Bits)).cast("double") /
      lit((hi - lo + 1).toDouble)).cast("long")

  /** Exact min/max of both keys — the 4 driver scalars the layout is
    * parameterized by (combinable aggregate, bounded metadata). */
  private def bounds(df: DataFrame, x: String, y: String): (Long, Long, Long, Long) = {
    val r = df.agg(min(col(x)), max(col(x)), min(col(y)), max(col(y))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Source frame with grid coords, z-value, and both group ids. */
  def zFrame(df: DataFrame, x: String, y: String): DataFrame = {
    val (xlo, xhi, ylo, yhi) = bounds(df, x, y)
    val xb = gridCoord(col(x), xlo, xhi)
    val yb = gridCoord(col(y), ylo, yhi)
    val z = interleave(xb, yb)
    df.withColumn("zval", z)
      .withColumn("zgrp", shiftright(col("zval"), 2 * Bits - GroupBits))
      .withColumn("lingrp", shiftright(xb, Bits - GroupBits))
  }

  /** Write `df` z-ordered on `(x, y)` into ~2^GroupBits files: one
    * range exchange on the z-value, rows sorted within each file so
    * parquet row-group stats are tight on BOTH keys. */
  def zorderWrite(df: DataFrame, x: String, y: String, dir: String): Unit =
    zFrame(df, x, y)
      .repartitionByRange(1 << GroupBits, col("zval"))
      .sortWithinPartitions(col("zval"))
      .drop("zval", "zgrp", "lingrp")
      .write.mode("overwrite").parquet(dir)

  /** Per-group stats under a grouping column: the min/max envelope a
    * reader's file-skipping sees. */
  private def groupStats(zf: DataFrame, grp: String, x: String, y: String): DataFrame =
    zf.groupBy(col(grp).as("grp"))
      .agg(count(lit(1)).as("n"),
        min(col(x)).as("x_min"), max(col(x)).as("x_max"),
        min(col(y)).as("y_min"), max(col(y)).as("y_max"))

  /** DRIVER-GATED: z-order vs linear group envelopes on
    * lineitem(l_partkey, l_suppkey), one shared chain. */
  def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    val zf = zFrame(Tables.lineitem(spark, dir), "l_partkey", "l_suppkey")
      .localCheckpoint() // one source pass feeds both groupings
    OracleForms.union(
        "zorder" -> groupStats(zf, "zgrp", "l_partkey", "l_suppkey"),
        "linear" -> groupStats(zf, "lingrp", "l_partkey", "l_suppkey"))
      .select(col("form"), col("grp"), col("n"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"))
      .orderBy(col("form"), col("grp"))
  }

  /** Exact integer quantile boundaries over the DISTINCT-VALUE
    * histogram — the skewed-key alternative to [[gridCoord]]'s value
    * widths. Boundary j (1-based) = the smallest value whose
    * cumulative count satisfies cum·parts ≥ j·N (all-integer — no
    * float rank anywhere). The histogram is map-side-combinable and
    * DOMAIN-bounded (distinct key values, not corpus rows); the
    * cumulative pass runs on the driver over that bounded frame, the
    * [[graft.ext.TextOps]] heapsFit discipline. Guarded loudly when
    * the domain itself is huge — `approxQuantile` boundaries are the
    * documented sketch path there (the layout tolerates approximate
    * boundaries; only the GATE needs exact ones). */
  def quantileBoundaries(df: DataFrame, c: Column, parts: Int,
      maxDomain: Long = 1L << 20): Seq[Long] = {
    val hist = df.groupBy(c.as("v")).agg(count(lit(1)).as("cnt"))
    val nv = hist.count()
    require(nv <= maxDomain,
      s"quantileBoundaries: $nv distinct values exceed the exact " +
        s"driver-side limit $maxDomain; use approxQuantile boundaries")
    val rows = hist.orderBy(col("v")).collect()
    val n = rows.map(_.getLong(1)).sum
    var cum = 0L
    val cums = rows.map { r => cum += r.getLong(1); (r.getLong(0), cum) }
    (1 until parts).map(j => cums.find(_._2 * parts >= j.toLong * n).get._1)
  }

  /** Grid coordinate under quantile boundaries: the count of
    * boundaries ≤ v (a literal fold — map-only, codegen-friendly). */
  def quantileCoord(v: Column, bounds: Seq[Long]): Column =
    bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(v >= lit(b), lit(1L)).otherwise(lit(0L))
    }

  /** DRIVER-GATED: the skewed-key regime [[zorderStats]]'s scaladoc
    * promises. The x key is l_partkey SQUARED — uniform in count,
    * quadratic in value, so [[gridCoord]]'s equal value widths put
    * ~half the rows in the lowest buckets while the quantile
    * boundaries re-even them. Both forms share one source pass; the
    * group envelopes make the pathology DATA (value form: population
    * ratio ~4× at sf0.01; quantile form: ~1×). */
  def zorderSkewStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select((col("l_partkey") * col("l_partkey")).as("xs"),
        col("l_suppkey").as("ys"))
      .localCheckpoint() // bounds agg + histogram + both stats passes
    val r = li.agg(min(col("xs")), max(col("xs")),
      min(col("ys")), max(col("ys"))).head()
    val (xlo, xhi, ylo, yhi) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val bounds = quantileBoundaries(li, col("xs"), 1 << Bits)
    val yb = gridCoord(col("ys"), ylo, yhi)
    def statsOf(xb: Column): DataFrame = li
      .withColumn("grp",
        shiftright(interleave(xb, yb), 2 * Bits - GroupBits))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        min(col("xs")).as("x_min"), max(col("xs")).as("x_max"),
        min(col("ys")).as("y_min"), max(col("ys")).as("y_max"))
    OracleForms.union(
        "value" -> statsOf(gridCoord(col("xs"), xlo, xhi)),
        "quantile" -> statsOf(quantileCoord(col("xs"), bounds)))
      .select(col("form"), col("grp"), col("n"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"))
      .orderBy(col("form"), col("grp"))
  }

  // ---- maintained z-ordered store (the OPTIMIZE analog) ----------
  //
  // TIERED layout inside the committed [[StoreCommit]] version (the
  // single-tier compaction rewrote the WHOLE base every CompactAfter
  // deltas: O(store) per trigger, O(N²/batch) amortized):
  //
  //   base                major-compacted z-ordered parquet (L2)
  //   l1/run=<maxId>      z-ordered L1 runs (minor compactions)
  //   delta/batch=<maxId> raw per-trigger appends (L0)
  //   del/batch=<hash>    pending delete batches
  //   _id_watermark       replay scalar (optimization only)
  //
  // MINOR compaction (every [[CompactAfter]] deltas) folds the
  // pending deltas into ONE z-sorted L1 run — cost tracks the DELTAS,
  // never the base. MAJOR compaction (base := zorder(base ∪ runs ∪
  // deltas), one whole-store [[StoreCommit.replace]]) fires only when
  // the runs have grown to [[MajorSizeRatio]] × the base (or
  // [[MaxL1Runs]] runs bound the read amplification) — the size-ratio
  // trigger means the base roughly doubles per major rewrite, so every
  // row is rewritten O(log N) times over the store's life instead of
  // O(N/batch) times: the LSM growth law.
  //
  // Every tier dir is committed by the version's manifest: deltas and
  // delete batches are [[StoreCommit.append]]s, and a minor compaction
  // lists its run and drops the absorbed deltas in one manifest
  // replace. A tier dir is NAMED by a pure function of its row set, so
  // one already listed is a replay no-op.

  /** Number of delta subdirs that triggers a MINOR compaction. */
  val CompactAfter = 4

  /** MAJOR compaction fires when Σ|L1 runs| ≥ ratio × |base| — the
    * size-ratio trigger that makes per-row rewrite work logarithmic. */
  val MajorSizeRatio = 1.0

  /** Hard bound on accumulated L1 runs (read-amplification cap): at
    * this many runs a major compaction fires regardless of ratio. */
  val MaxL1Runs = 8

  private def idOf(dir: String): Long =
    dir.substring(dir.lastIndexOf('=') + 1).toLong

  /** The committed dirs of one tier (`l1`, `delta`, `del`), as
    * version-relative paths. */
  private[graft] def tierDirs(store: String, tier: String): Seq[String] =
    StoreCommit.subdirs(store, tier).map(d => s"$tier/$d")

  /** Commit `dir` written by `write` (given its absolute path), unless
    * it is already listed; `retire`'s entries leave the manifest in
    * the same replace. */
  private def commitTier(store: String, dir: String,
      retire: Seq[String] = Seq.empty)(write: String => Unit): Unit = {
    val tier = dir.takeWhile(_ != '/')
    if (!tierDirs(store, tier).contains(dir))
      StoreCommit.append(store, retire)(live => write(s"$live/$dir"))
  }

  /** Pending delta count — the minor-compaction trigger. */
  def deltaCount(store: String): Int = tierDirs(store, "delta").size

  // ---- DELETE-delta tier: the re-crawl story. A removal (a vacuumed
  // doc, a takedown, a re-crawled page) lands as an L0 delete batch
  // under del/batch=<content-hash>: reads anti-join the pending set
  // (broadcast — removal-sized), MINOR compaction folds its input
  // minus the deletes (the delete batch is RETAINED, still masking
  // base and older-run rows it cannot touch), and MAJOR compaction
  // applies every delete physically — the whole-store replace writes
  // only the retained base, and the del tier vanishes with the old
  // version. Content-hash naming (order-independent 64-bit fold of
  // the id set) makes a replayed delete batch a no-op, the same
  // idempotence the data deltas get from max-id naming — deletes
  // target EXISTING ids, so the monotone name algebra does not apply
  // to them. Under the monotone-id ingest contract a deleted id can
  // never be re-appended, so dropping the del tier at major
  // compaction loses nothing. ----

  /** Append a DELETE batch: every current and future read of the
    * store hides these ids until a major compaction removes the rows
    * physically. `ids` needs just the id column (extra columns are
    * projected away); empty sets are a no-op. */
  def appendDeleteDelta(ids: DataFrame, store: String,
      idCol: String): Unit = {
    val d = ids.select(col(idCol)).distinct().localCheckpoint()
    if (d.isEmpty) return
    // order-independent 64-bit fold (bit_xor never overflows — the
    // ANSI-mode sum alternative does), salted with the set size so
    // prefix-ish sets don't collide trivially
    val r = d.select(xxhash64(col(idCol).cast("string")).as("h"))
      .agg(expr("bit_xor(h)").as("h"), count(lit(1)).as("n")).head()
    val name = java.lang.Long.toUnsignedString(
      r.getLong(0) ^ (r.getLong(1) * 0x9E3779B97F4A7C15L))
    commitTier(store, s"del/batch=$name")(
      d.coalesce(1).write.mode("overwrite").parquet(_))
  }

  /** The pending delete set (distinct ids across committed del
    * batches), None when the tier is empty. The single column keeps
    * the id column's NAME, so consumers anti-join without threading
    * it. */
  def pendingDeletes(spark: SparkSession, store: String): Option[DataFrame] = {
    val dirs = tierDirs(store, "del")
    if (dirs.isEmpty) None
    else Some(dirs.map(StoreCommit.readSub(spark, store, _))
      .reduce(_ unionByName _).distinct())
  }

  private def minusDeletes(rows: DataFrame,
      del: Option[DataFrame]): DataFrame =
    del.map(d => rows.join(broadcast(d), Seq(d.columns.head), "left_anti"))
      .getOrElse(rows)

  /** All live rows of the store: (base ∪ L1 runs ∪ deltas) minus the
    * pending delete set — every read sees removals immediately, at the
    * cost of one broadcast anti-join while deletes pend (zero once a
    * major compaction has applied them physically). */
  def readStore(spark: SparkSession, store: String): DataFrame = {
    val parts = baseTier(store) ++ tierDirs(store, "l1") ++
      tierDirs(store, "delta")
    require(parts.nonEmpty, s"empty z-order store at $store")
    minusDeletes(
      parts.map(StoreCommit.readSub(spark, store, _)).reduce(_ unionByName _),
      pendingDeletes(spark, store))
  }

  private def baseTier(store: String): Seq[String] =
    if (StoreCommit.subFileCount(store, "base") > 0) Seq("base") else Seq.empty

  /** The replay watermark, re-derived when the scalar is torn or
    * missing: run/delta dir NAMES are their max ids (cheap, no data
    * read); only a bare base needs the one-column max scan. */
  def storeWatermark(spark: SparkSession, store: String,
      idCol: String): Option[Long] =
    graft.ops.StoreFiles.readIdWatermark(StoreCommit.readDir(store)).orElse {
      val named = (tierDirs(store, "l1") ++ tierDirs(store, "delta")).map(idOf)
      val baseMax = baseTier(store).map(StoreCommit.readSub(spark, store, _)
        .agg(max(col(idCol))).head().getLong(0))
      val all = named ++ baseMax
      if (all.isEmpty) None else Some(all.max)
    }

  /** Append a batch as a delta dir named by the batch's own max id
    * (computed here, so the name is by construction a pure function of
    * the row set), then the watermark scalar. A replay whose delta is
    * already committed is a no-op. Returns the max id. `rows` must be
    * non-empty and pinned by the caller (the sink localCheckpoints the
    * fresh set). */
  def appendDelta(rows: DataFrame, store: String, idCol: String): Long = {
    val batchMax = rows.agg(max(col(idCol))).head().getLong(0)
    commitTier(store, s"delta/batch=$batchMax")(
      rows.write.mode("overwrite").parquet(_))
    graft.ops.StoreFiles.writeIdWatermark(StoreCommit.readDir(store), batchMax)
    batchMax
  }

  /** MINOR compaction: fold every committed delta into one z-sorted L1
    * run named by the max id absorbed; the run's listing and the
    * deltas' removal are one manifest replace, then the delta dirs are
    * deleted. Cost tracks Σ|deltas| — the base is never read. A crash
    * mid-run-write leaves the run unlisted and the redo overwrites it;
    * a crash before the delta dirs' deletion leaves them unlisted,
    * hence invisible, until the next major compaction's replace. */
  def minorCompact(spark: SparkSession, store: String,
      x: String, y: String): Unit = {
    val live = tierDirs(store, "delta")
    if (live.isEmpty) return
    val runId = live.map(idOf).max
    // fold minus the pending deletes — applying them EARLY to the
    // rows this minor touches (the delete batch itself is retained:
    // it still masks base/older-run rows only a major can rewrite).
    // An all-deleted fold still writes the (empty, schema-bearing)
    // run: the deltas are absorbed either way.
    val rows0 = live.map(StoreCommit.readSub(spark, store, _))
      .reduce(_ unionByName _)
    val rows = minusDeletes(rows0, pendingDeletes(spark, store))
      .localCheckpoint()
    commitTier(store, s"l1/run=$runId", retire = live) { runDir =>
      if (rows.isEmpty) rows.coalesce(1).write.mode("overwrite").parquet(runDir)
      else zorderWrite(rows, x, y, runDir)
    }
  }

  /** MAJOR compaction: base := zorder((base ∪ runs ∪ deltas) minus
    * pending deletes) through one whole-store replace (watermark
    * inside, so the commit is old-or-new, never a mix). This is where
    * the delete tier is applied PHYSICALLY: [[readStore]] anti-joins
    * the pending set, the new version lists only `base`, and the del
    * tier vanishes with the replaced version — correct because
    * monotone ingest ids can never re-append a deleted id. O(store) by
    * design — the size-ratio trigger in [[maybeCompactStore]] bounds
    * how often it is paid. */
  def compactStore(spark: SparkSession, store: String,
      x: String, y: String, idCol: String): Unit = {
    val wm = storeWatermark(spark, store, idCol)
    val all = readStore(spark, store).localCheckpoint()
    StoreCommit.replace(store) { next =>
      zorderWrite(all, x, y, s"$next/base")
      wm.foreach(graft.ops.StoreFiles.writeIdWatermark(next, _))
    }
  }

  /** The tiered maintenance policy the streaming sink runs after each
    * append: minor when [[CompactAfter]] deltas pend; major when the
    * L1 tier reaches [[MajorSizeRatio]] × the base's committed bytes
    * or [[MaxL1Runs]] runs. Returns (minorRan, majorRan). */
  def maybeCompactStore(spark: SparkSession, store: String,
      x: String, y: String, idCol: String)
      : (Boolean, Boolean) = {
    val minor = deltaCount(store) >= CompactAfter
    if (minor) minorCompact(spark, store, x, y)
    val runs = tierDirs(store, "l1")
    val major = runs.nonEmpty && (runs.size >= MaxL1Runs ||
      StoreCommit.dataBytes(store, "l1") >=
        (MajorSizeRatio * StoreCommit.dataBytes(store, "base")).toLong)
    if (major) compactStore(spark, store, x, y, idCol)
    (minor, major)
  }

  /** Z-order group envelopes of an arbitrary row set — the
    * [[zorderStats]] zorder half as a composable op (the store gate
    * feeds it both the source and the maintained store). */
  def zorderGroupStats(rows: DataFrame, x: String, y: String): DataFrame =
    groupStats(zFrame(rows, x, y), "zgrp", x, y)

  /** DRIVER-GATED: the maintained store serves the same rows — and
    * therefore the same z-order group envelopes — as its source,
    * through the full TIERED lifecycle: three delta appends, a minor
    * compaction folding the first two into an L1 run (so reads span
    * base-absent run + delta), then the major whole-store compaction.
    * One scratch store per source fingerprint, memoized (the
    * shared-scratch discipline). */
  def zorderStoreForms(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val store = graft.ops.SessionStore.dir("zstore",
        s"$dir/lineitem.parquet") { s =>
      landTiers(spark, li, s)
      compactStore(spark, s, "l_partkey", "l_suppkey", "l_orderkey")
    }
    OracleForms.union(
        "source" -> zorderGroupStats(li, "l_partkey", "l_suppkey"),
        "store" -> zorderGroupStats(readStore(spark, store),
          "l_partkey", "l_suppkey"))
      .select(col("form"), col("grp"), col("n"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"))
      .orderBy(col("form"), col("grp"))
  }

  /** The gate stores' landing: lineitem in three l_orderkey-range
    * delta appends, with a minor compaction folding the first two
    * into an L1 run before the third lands. */
  private def landTiers(spark: SparkSession, li: DataFrame,
      s: String): Unit = {
    val maxKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val (c1, c2) = (maxKey / 3, 2 * maxKey / 3)
    appendDelta(li.filter(col("l_orderkey") <= c1), s, "l_orderkey")
    appendDelta(li.filter(col("l_orderkey") > c1 &&
      col("l_orderkey") <= c2), s, "l_orderkey")
    minorCompact(spark, s, "l_partkey", "l_suppkey")
    appendDelta(li.filter(col("l_orderkey") > c2), s, "l_orderkey")
  }

  /** Residue class the delete gate removes (l_orderkey % 5 ==
    * [[DeleteResidue]]) — fixed so DuckDB replays the retained set. */
  private val DeleteResidue = 2L

  /** The DELETE-delta tier, gated end to end: the
    * [[zorderStoreForms]] lifecycle plus a delete batch of the
    * l_orderkey % 5 == [[DeleteResidue]] class. Two forms, both
    * replaying one retained-rows chain in DuckDB:
    *
    *  - `masked`    — read with the delete-delta PENDING (stats
    *                  written before any major ran): the anti-join
    *                  mask hides the rows;
    *  - `compacted` — read after the MAJOR compaction applied the
    *                  deletes physically (the del tier is gone).
    *
    * Hash-equality of both against the fresh retained-set replay IS
    * the tier's contract: read == landing minus removed, before and
    * after physical application. */
  def zstoreDeleteForms(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val base = graft.ops.SessionStore.dir("zstoreDel",
        s"$dir/lineitem.parquet") { base =>
      val s = s"$base/store"
      landTiers(spark, li, s)
      appendDeleteDelta(
        li.filter(col("l_orderkey") % 5 === DeleteResidue),
        s, "l_orderkey")
      // write the masked read BEFORE the major applies the deletes
      zorderGroupStats(readStore(spark, s), "l_partkey", "l_suppkey")
        .write.parquet(s"$base/masked")
      compactStore(spark, s, "l_partkey", "l_suppkey", "l_orderkey")
    }
    OracleForms.union(
        "compacted" -> zorderGroupStats(readStore(spark, s"$base/store"),
          "l_partkey", "l_suppkey"),
        "masked" -> spark.read.parquet(s"$base/masked"))
      .select(col("form"), col("grp"), col("n"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"))
      .orderBy(col("form"), col("grp"))
  }

  private def interleaveSql(xb: String, yb: String): String =
    (0 until Bits).map { i =>
      s"((($xb >> $i) & 1) << ${2 * i}) | ((($yb >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")

  private val statsSql: String = {
    val grid = (v: String, lo: String, hi: String) =>
      s"(($v - $lo) * ${1L << Bits}) // ($hi - $lo + 1)"
    s"""WITH b AS (SELECT MIN(l_partkey) AS xlo, MAX(l_partkey) AS xhi, MIN(l_suppkey) AS ylo, MAX(l_suppkey) AS yhi FROM lineitem),
zf AS (SELECT ${interleaveSql("xb", "yb")} AS zval, xb, yb, l_partkey, l_suppkey FROM (SELECT ${grid("l_partkey", "b.xlo", "b.xhi")} AS xb, ${grid("l_suppkey", "b.ylo", "b.yhi")} AS yb, l_partkey, l_suppkey FROM lineitem, b)),
st AS (SELECT 'zorder' AS form, zval >> ${2 * Bits - GroupBits} AS grp, COUNT(*) AS n, MIN(l_partkey) AS x_min, MAX(l_partkey) AS x_max, MIN(l_suppkey) AS y_min, MAX(l_suppkey) AS y_max FROM zf GROUP BY 1, 2
UNION ALL SELECT 'linear' AS form, xb >> ${Bits - GroupBits} AS grp, COUNT(*) AS n, MIN(l_partkey) AS x_min, MAX(l_partkey) AS x_max, MIN(l_suppkey) AS y_min, MAX(l_suppkey) AS y_max FROM zf GROUP BY 1, 2)
SELECT form, grp, n, x_min, x_max, y_min, y_max FROM st ORDER BY form, grp"""
  }

  private val skewStatsSql: String = {
    val inter = (xb: String, yb: String) => (0 until Bits).map { i =>
      s"(((($xb) >> $i) & 1) << ${2 * i}) | (((($yb) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")
    s"""WITH li2 AS (SELECT l_partkey * l_partkey AS xs, l_suppkey AS ys FROM lineitem),
b AS (SELECT MIN(xs) AS xlo, MAX(xs) AS xhi, MIN(ys) AS ylo, MAX(ys) AS yhi, COUNT(*) AS n FROM li2),
hist AS (SELECT xs AS v, COUNT(*) AS cnt FROM li2 GROUP BY xs),
cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
bx AS (SELECT j, MIN(v) AS bv FROM cum CROSS JOIN range(1, ${1 << Bits}) t(j) WHERE cum * ${1 << Bits} >= j * (SELECT n FROM b) GROUP BY j),
co AS (SELECT xs, ys, ((xs - b.xlo) * ${1 << Bits}) // (b.xhi - b.xlo + 1) AS xbv, (SELECT COUNT(*) FROM bx WHERE bv <= xs) AS xbq, ((ys - b.ylo) * ${1 << Bits}) // (b.yhi - b.ylo + 1) AS yb FROM li2, b),
zf AS (SELECT 'value' AS form, (${inter("xbv", "yb")}) >> ${2 * Bits - GroupBits} AS grp, xs, ys FROM co
UNION ALL SELECT 'quantile' AS form, (${inter("xbq", "yb")}) >> ${2 * Bits - GroupBits} AS grp, xs, ys FROM co)
SELECT form, grp, COUNT(*) AS n, MIN(xs) AS x_min, MAX(xs) AS x_max, MIN(ys) AS y_min, MAX(ys) AS y_max FROM zf GROUP BY form, grp ORDER BY form, grp"""
  }

  // one shared chain for the store-forms gates: the zorder grouping
  // alone over a (possibly row-filtered) lineitem projection — the
  // store gate replays it unfiltered (store content == source), the
  // delete gate replays it on the RETAINED rows (both its forms must
  // equal a fresh build on what remains)
  private def zGroupSqlWhere(cond: String): String = {
    val grid = (v: String, lo: String, hi: String) =>
      s"(($v - $lo) * ${1L << Bits}) // ($hi - $lo + 1)"
    s"""WITH li0 AS (SELECT l_partkey, l_suppkey FROM lineitem$cond),
b AS (SELECT MIN(l_partkey) AS xlo, MAX(l_partkey) AS xhi, MIN(l_suppkey) AS ylo, MAX(l_suppkey) AS yhi FROM li0),
zf AS (SELECT ${interleaveSql("xb", "yb")} AS zval, l_partkey, l_suppkey FROM (SELECT ${grid("l_partkey", "b.xlo", "b.xhi")} AS xb, ${grid("l_suppkey", "b.ylo", "b.yhi")} AS yb, l_partkey, l_suppkey FROM li0, b))
SELECT zval >> ${2 * Bits - GroupBits} AS grp, COUNT(*) AS n, MIN(l_partkey) AS x_min, MAX(l_partkey) AS x_max, MIN(l_suppkey) AS y_min, MAX(l_suppkey) AS y_max FROM zf GROUP BY 1"""
  }
  private val zGroupSql = zGroupSqlWhere("")

  val oracle: Map[String, String] = Map(
    "layout_zorder_stats" -> statsSql,
    "layout_zorder_skew_stats" -> skewStatsSql,
    "layout_zorder_store_forms" ->
      (graft.ext.OracleForms.sql(zGroupSql, Seq("source", "store")) +
        " ORDER BY form, grp"),
    "layout_zstore_delete_forms" ->
      (graft.ext.OracleForms.sql(
        zGroupSqlWhere(s" WHERE l_orderkey % 5 <> $DeleteResidue"),
        Seq("compacted", "masked")) + " ORDER BY form, grp"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder_stats" -> (zorderStats _),
    "layout_zorder_skew_stats" -> (zorderSkewStats _),
    "layout_zorder_store_forms" -> (zorderStoreForms _),
    "layout_zstore_delete_forms" -> (zstoreDeleteForms _))
}
