package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol of every durable, directory-shaped store
  * (the dedup gold corpus and index, BM25 postings, PQ codes and
  * gold, semantic cells and verdicts, kNN cells, the OPQ and z-order
  * stores, and the card, word-histogram, split-label and token-count
  * artifacts). Layout under a store root:
  *
  * {{{
  *   root/v_00000007/...            one committed version (data files)
  *   root/v_00000007/_MANIFEST      the version's committed file list
  *   root/CURRENT                   one line: the committed version
  *   root/_<marker>, root/_removed  guard state, outside any version
  * }}}
  *
  * The pointer flip ([[PointerSwap]]) commits a VERSION and the
  * manifest ([[Manifest]]) commits its FILE SET. Both are single
  * small-object replaces, so no step depends on an atomic directory
  * rename or on a consistent listing, and the protocol is safe on
  * posix, HDFS and S3-class object stores alike. Readers read exactly
  * the committed list: objects a torn FileOutputCommitter job strands
  * inside a version are never read.
  *
  * Invariants:
  *  - every committed version carries a manifest — [[replace]] stamps
  *    it before the flip, so a committed version WITHOUT one is a
  *    damaged store and every access throws instead of falling back to
  *    the listing;
  *  - root-level state (guard markers, watermarks, the permanent
  *    `_removed` id log) survives every [[replace]], which touches
  *    only version dirs;
  *  - a root holding data files but no `CURRENT` and no `v_*` dir was
  *    written outside this protocol (by the retired rename-aside
  *    swap, or a plain write). Every access throws and names the
  *    rebuild; reading it as "nothing committed" would serve an empty,
  *    unseeded store — a silent wrong answer.
  *
  * Single-writer contract: the streaming sinks' foreachBatch
  * serialization, or one maintenance call at a time.
  */
object StoreCommit {

  /** Close every crash window at `root` (roll a torn pointer forward,
    * delete uncommitted or superseded versions). */
  def recover(root: String): Unit = {
    committed(root)
    PointerSwap.recover(root)
  }

  /** The committed version dir, None when nothing is committed yet. */
  private def committed(root: String): Option[String] = {
    val live = PointerSwap.resolve(root)
    if (live.isEmpty && !PointerSwap.versioned(root) &&
        StoreFiles.parquetFileCount(root) > 0)
      throw new IllegalStateException(
        s"$root holds data files but no CURRENT pointer and no v_* " +
          "version: it was written outside graft.ops.StoreCommit (a " +
          "rename-aside swap-era store or a plain write) and cannot be " +
          "read as committed. Rebuild it from its source through " +
          "StoreCommit.replace (the family's build, rebuild or seeding " +
          "sink), or move its files into a fresh root that way.")
    live
  }

  /** The committed version's file list — a committed version without
    * one is damaged, never silently listed. */
  private def files(live: String): Seq[String] =
    Manifest.read(live).getOrElse(throw new IllegalStateException(
      s"committed store version $live has no ${Manifest.Name}: every " +
        "version is stamped when StoreCommit.replace commits it, so " +
        "this store was damaged or written outside the protocol — " +
        "rebuild it through StoreCommit.replace"))

  /** The committed version dir for reads and existence probes, or a
    * never-existing placeholder when nothing is committed (so probes
    * read the unseeded answer). */
  def readDir(root: String): String =
    // v_00000000 can never exist (versions start at 1)
    committed(root).getOrElse(s"$root/v_00000000")

  /** The committed version appends write into; an empty first version
    * (with its empty manifest) is committed when none exists. */
  def writeDir(root: String): String =
    committed(root).getOrElse {
      replace(root)(_ => ())
      PointerSwap.resolve(root).getOrElse(
        sys.error(s"StoreCommit: empty seed commit failed at $root"))
    }

  /** Replace the whole store content: `body` fully writes the
    * replacement into the staging version it is given; the manifest is
    * stamped from the writer's own post-write listing (every rename the
    * job does has happened when its write call returns), and the
    * pointer flip is the commit point. */
  def replace(root: String)(body: String => Unit): Unit =
    PointerSwap.writeAndCommit(root) { next =>
      body(next)
      Manifest.stamp(next)
    }

  /** Run `body` as an APPEND into the committed version, then extend
    * its manifest by the writer's own before/after listing delta —
    * single-writer, so the delta is exactly this append's objects and
    * junk an earlier torn job stranded can never be adopted. The
    * manifest replace is the append's commit point: a crash before it
    * leaves the new objects invisible, and the sink's replay guard
    * re-runs the batch. */
  def append(root: String)(body: String => Unit): Unit = {
    val live = writeDir(root)
    val committedFiles = files(live)
    val before = Manifest.dataFiles(live)
    body(live)
    val added = Manifest.dataFiles(live).filterNot(before.toSet)
    Manifest.write(live, (committedFiles ++ added).distinct)
  }

  /** Read exactly the committed file list. `basePath` is pinned to the
    * version dir, preserving partition-column discovery and pruning. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val live = committedDir(root)
    readFiles(spark, live, "", files(live))
  }

  /** Number of committed data objects — the seeded-store probe (0 when
    * nothing is committed). */
  def fileCount(root: String): Int =
    committed(root).map(files(_).size).getOrElse(0)

  /** Read one SUBCOMPONENT of the committed version — the shape of the
    * multi-component stores (the dedup index's `fingerprints`/`bands`/
    * `shingles`/`tombstones`, the OPQ store's `rotation`/`codebooks`/
    * `codes`): exactly the committed list's `sub/` entries, `basePath`
    * pinned to the component dir (`band_idx=`, `cell=` discovery). */
  def readSub(spark: SparkSession, root: String, sub: String): DataFrame = {
    val live = committedDir(root)
    readFiles(spark, live, sub, files(live).filter(_.startsWith(s"$sub/")))
  }

  /** Committed data-object count of one subcomponent — the
    * per-component face of [[fileCount]]. */
  def subFileCount(root: String, sub: String): Int =
    committed(root).map(files(_).count(_.startsWith(s"$sub/"))).getOrElse(0)

  private def committedDir(root: String): String =
    committed(root).getOrElse(throw new IllegalStateException(
      s"nothing is committed at $root (callers gate reads on fileCount)"))

  private def readFiles(spark: SparkSession, live: String, sub: String,
      listed: Seq[String]): DataFrame = {
    val base = if (sub.isEmpty) live else s"$live/$sub"
    // an empty component of a committed store reads its (empty) dir,
    // which fails schema inference exactly as an empty listing would;
    // callers gate on the counts first
    val paths = if (listed.isEmpty) Seq(base) else listed.map(f => s"$live/$f")
    spark.read.option("basePath", base).parquet(paths: _*)
  }
}
