package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol of every durable, directory-shaped store
  * (the dedup gold corpus and index, BM25 postings, PQ codes and
  * gold, semantic cells and verdicts, kNN cells, the OPQ and z-order
  * stores, and the card, word-histogram, split-label and token-count
  * artifacts). Layout under a store root:
  *
  * {{{
  *   root/v_00000007/...            one store version (data files)
  *   root/v_00000007/_MANIFEST      its sealed committed file list
  *   root/CURRENT                   one line: the committed version
  *   root/_<marker>, root/_removed  guard state, outside any version
  * }}}
  *
  * The sealed manifest is the only completeness record: a version is
  * complete iff it holds a readable sealed `_MANIFEST` (one relative
  * data-file path per line, sorted, UTF-8, then the seal line
  * `#sealed`). Readers read exactly the listed files, so objects a
  * torn FileOutputCommitter job strands inside a version are never
  * read, and no step trusts a directory listing. `CURRENT` and
  * `_MANIFEST` are each replaced as one small object
  * ([[StoreFiles.replaceSmall]]), so no step depends on an atomic
  * directory rename: the protocol is safe on posix, HDFS and S3-class
  * object stores alike.
  *
  * [[replace]] writes the next version, stamps its manifest from the
  * writer's own listing, then replaces `CURRENT` (the commit point)
  * and deletes the superseded version. [[append]] writes into the
  * committed version and replaces its manifest with the committed list
  * plus the writer's before/after listing delta (the commit point);
  * single-writer, so the delta is exactly this append's objects, and
  * junk an earlier torn job stranded is never adopted.
  *
  * Crash table — what [[recover]] and every read make of each shape:
  *  - inside a replace's body: the staged version has no manifest, so
  *    it was never committed. Above a valid `CURRENT` it is rolled
  *    back; with no valid `CURRENT` (a failed first commit) it is an
  *    orphan, deleted, and the root reads as unseeded;
  *  - after the stamp, before or inside the pointer replace
  *    (`CURRENT` missing or torn): the highest complete version is the
  *    commit in flight — rolled forward and re-pointed. A torn write
  *    can only truncate `CURRENT`, and no strict prefix of a
  *    `v_\d{8}` name is one, so a torn pointer never aliases another
  *    version;
  *  - a complete version above a valid `CURRENT`: uncommitted work,
  *    rolled back so the caller's replay re-runs it;
  *  - inside an append's body: the new objects are unlisted, hence
  *    invisible, and the sink's replay guard re-runs the batch;
  *  - inside a manifest replace (old manifest deleted, rename not
  *    landed): the sealed `_MANIFEST.tmp` holds the exact list and is
  *    read verbatim; an unsealed one (crash mid-write) is ignored.
  *
  * Damage is loud, never a listing fallback:
  *  - a valid `CURRENT` naming a version without a manifest: every
  *    read throws and names the rebuild;
  *  - a root holding data files but no `CURRENT` and no `v_*` dir was
  *    written outside this protocol (a rename-aside swap-era store or
  *    a plain write): every access throws and names the rebuild —
  *    reading it as "nothing committed" would serve an empty, unseeded
  *    store.
  *
  * Root-level state (guard markers, watermarks, the permanent
  * `_removed` id log) survives every [[replace]], which touches only
  * version dirs; version history is not kept. Single-writer contract:
  * the streaming sinks' foreachBatch serialization, or one maintenance
  * call at a time.
  */
object StoreCommit {

  private[graft] val ManifestName = "_MANIFEST"

  private val Seal = "#sealed"

  private val VersionRe = "^v_(\\d{8})$".r

  private def isVersion(name: String): Boolean =
    VersionRe.pattern.matcher(name).matches()

  private def exists(path: String): Boolean = {
    val (fs, p) = StoreFiles.fsOf(path)
    fs.exists(p)
  }

  /** All version dir names under `root`, ascending. */
  private def versions(root: String): Seq[String] = {
    val (fs, p) = StoreFiles.fsOf(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(isVersion).sorted
  }

  /** The sealed file list of version dir `dir`, None when it has none
    * (never stamped, or only a partial staging copy). */
  private[graft] def manifest(dir: String): Option[Seq[String]] = {
    def lines(name: String): Option[Seq[String]] =
      StoreFiles.readSmall(dir, name)
        .map(_.split("\n").map(_.trim).filter(_.nonEmpty).toSeq)
    lines(ManifestName)
      .orElse(lines(s"$ManifestName.tmp").filter(_.lastOption.contains(Seal)))
      .map(_.filterNot(_.startsWith("#")))
  }

  private[graft] def writeManifest(dir: String, files: Seq[String]): Unit =
    StoreFiles.replaceSmall(dir, ManifestName,
      (files.sorted :+ Seal).mkString("\n"))

  /** Recursive (relative path, bytes) of the data files under
    * `live/sub`, paths relative to `live`: everything except
    * `_`/`.`-prefixed names and in-flight `_temporary` staging. */
  private def listing(live: String, sub: String = ""): Seq[(String, Long)] = {
    val (fs, liveP) = StoreFiles.fsOf(live)
    val p = if (sub.isEmpty) liveP else new Path(liveP, sub)
    if (!fs.exists(p)) return Seq.empty
    val base = liveP.toUri.getPath
    val out = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".") &&
          !rel.contains("_temporary/"))
        out += rel -> f.getLen
    }
    out.result()
  }

  /** The data files a writer's listing sees under version dir `dir`,
    * sorted — what a manifest stamp would list. */
  private[graft] def dataFiles(dir: String): Seq[String] =
    listing(dir).map(_._1).sorted

  /** `CURRENT`'s target when it parses to a full version name whose
    * dir exists. */
  private def pointer(root: String): Option[String] =
    StoreFiles.readSmall(root, "CURRENT").map(_.trim)
      .filter(n => isVersion(n) && exists(s"$root/$n"))

  /** The committed version's name: the valid pointer's target, else
    * the highest complete version (roll forward). */
  private def resolve(root: String): Option[String] =
    pointer(root).orElse(
      versions(root).filter(n => manifest(s"$root/$n").isDefined).lastOption)

  /** The committed version dir, None when nothing is committed. */
  private[graft] def committed(root: String): Option[String] = {
    val live = resolve(root)
    if (live.isEmpty && !exists(s"$root/CURRENT") &&
        versions(root).isEmpty && StoreFiles.parquetFileCount(root) > 0)
      throw new IllegalStateException(
        s"$root holds data files but no CURRENT pointer and no v_* " +
          "version: it was written outside graft.ops.StoreCommit (a " +
          "rename-aside swap-era store or a plain write) and cannot be " +
          "read as committed. Rebuild it from its source through " +
          "StoreCommit.replace (the family's build, rebuild or seeding " +
          "sink), or move its files into a fresh root that way.")
    live.map(n => s"$root/$n")
  }

  /** The committed version's file list — a committed version without
    * one is damaged, never silently listed. */
  private def listed(live: String): Seq[String] =
    manifest(live).getOrElse(throw new IllegalStateException(
      s"committed store version $live has no $ManifestName: every " +
        "version is stamped when StoreCommit.replace commits it, so " +
        "this store was damaged or written outside the protocol — " +
        "rebuild it through StoreCommit.replace"))

  /** Close every crash window at `root`: re-point a missing or torn
    * `CURRENT` at the committed version, then delete every other
    * version dir (uncommitted orphans and the superseded version). */
  def recover(root: String): Unit =
    committed(root) match {
      case None =>
        // nothing committed: the next commit re-stages v_00000001
        versions(root).foreach(n => StoreFiles.deleteDir(s"$root/$n"))
        StoreFiles.deleteMarker(root, "CURRENT")
      case Some(dir) =>
        val name = new Path(dir).getName
        if (!pointer(root).contains(name))
          StoreFiles.replaceSmall(root, "CURRENT", name)
        versions(root).filter(_ != name)
          .foreach(n => StoreFiles.deleteDir(s"$root/$n"))
    }

  /** The committed version dir for reads and existence probes, or a
    * never-existing placeholder when nothing is committed (so probes
    * read the unseeded answer). */
  def readDir(root: String): String =
    // v_00000000 can never exist (versions start at 1)
    committed(root).getOrElse(s"$root/v_00000000")

  /** Replace the whole store content: `body` fully writes the
    * replacement into the staging version it is given (every rename
    * its job does has happened when its write call returns), the
    * manifest is stamped from the writer's own listing, and the
    * `CURRENT` replace is the commit point. The previous version stays
    * readable throughout and is deleted only after the commit. */
  def replace(root: String)(body: String => Unit): Unit = {
    recover(root)
    val prev = resolve(root)
    val n = prev match {
      case Some(VersionRe(d)) => d.toInt + 1
      case _ => 1
    }
    val name = f"v_$n%08d"
    val next = s"$root/$name"
    body(next)
    writeManifest(next, dataFiles(next))
    StoreFiles.replaceSmall(root, "CURRENT", name)
    prev.foreach(p => StoreFiles.deleteDir(s"$root/$p"))
  }

  /** Run `body` as an APPEND into the committed version (an empty
    * first version is committed when none exists), then replace its
    * manifest: the committed list minus the entries under each
    * `retire` subdir, plus the objects `body` added. The retired
    * subdirs are deleted after that commit; a crash before the delete
    * leaves them unlisted, hence invisible. */
  def append(root: String, retire: Seq[String] = Seq.empty)
      (body: String => Unit): Unit = {
    val live = committed(root).getOrElse {
      replace(root)(_ => ())
      committed(root).get
    }
    val kept = listed(live)
      .filterNot(f => retire.exists(r => f.startsWith(s"$r/")))
    val before = dataFiles(live).toSet
    body(live)
    writeManifest(live, (kept ++ dataFiles(live).filterNot(before)).distinct)
    retire.foreach(r => StoreFiles.deleteDir(s"$live/$r"))
  }

  /** The committed file list, relative to the version dir; empty when
    * nothing is committed. */
  private def files(root: String): Seq[String] =
    committed(root).map(listed).getOrElse(Seq.empty)

  /** Number of committed data objects — the seeded-store probe (0 when
    * nothing is committed). */
  def fileCount(root: String): Int = files(root).size

  /** Committed data-object count of one subcomponent — the
    * per-component face of [[fileCount]]. */
  def subFileCount(root: String, sub: String): Int =
    files(root).count(_.startsWith(s"$sub/"))

  /** Names of the committed first-level subdirs of `sub` ("" for the
    * version dir itself): partition dirs (`cell=3`) and tier dirs
    * (`batch=20`), answered from the manifest, never a listing. */
  def subdirs(root: String, sub: String = ""): Seq[String] = {
    val pre = if (sub.isEmpty) "" else s"$sub/"
    files(root).filter(_.startsWith(pre)).map(_.stripPrefix(pre))
      .filter(_.contains('/')).map(_.takeWhile(_ != '/')).distinct.sorted
  }

  /** Byte total of the committed data objects (under `sub` when
    * given): torn junk and guard state a listing would count are
    * excluded. 0 when nothing is committed. */
  def dataBytes(root: String, sub: String = ""): Long =
    committed(root).map { live =>
      val want = listed(live).toSet
      listing(live, sub).collect { case (f, n) if want(f) => n }.sum
    }.getOrElse(0L)

  /** Read exactly the committed file list. `basePath` is pinned to the
    * version dir, preserving partition-column discovery and pruning. */
  def read(spark: SparkSession, root: String): DataFrame =
    readSub(spark, root, "")

  /** Read one SUBCOMPONENT of the committed version — the shape of the
    * multi-component stores (the dedup index's `fingerprints`/`bands`/
    * `shingles`/`tombstones`, the OPQ store's `rotation`/`codebooks`/
    * `codes`, the z-order store's tiers): exactly the committed list's
    * `sub/` entries, `basePath` pinned to the component dir
    * (`band_idx=`, `cell=` discovery). */
  def readSub(spark: SparkSession, root: String, sub: String): DataFrame = {
    val live = committed(root).getOrElse(throw new IllegalStateException(
      s"nothing is committed at $root (callers gate reads on fileCount)"))
    val base = if (sub.isEmpty) live else s"$live/$sub"
    val listedSub =
      if (sub.isEmpty) listed(live) else listed(live).filter(_.startsWith(s"$sub/"))
    // an empty component of a committed store reads its (empty) dir,
    // which fails schema inference exactly as an empty listing would;
    // callers gate on the counts first
    val paths =
      if (listedSub.isEmpty) Seq(base) else listedSub.map(f => s"$live/$f")
    spark.read.option("basePath", base).parquet(paths: _*)
  }
}
