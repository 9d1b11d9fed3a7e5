package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** The version half of [[StoreCommit]]: versioned staging dirs plus
  * a one-file commit POINTER. Layout under the store root:
  *
  * {{{
  *   root/v_00000001/...   fully-written store versions
  *   root/CURRENT          one line: the committed version's dir name
  * }}}
  *
  * Write protocol ([[writeAndCommit]]): the replacement is FULLY
  * written to the next version dir (completeness stamped by a
  * top-level `_SUCCESS`), then the pointer file is replaced. Readers
  * [[resolve]] the pointer and read that version dir — never a
  * half-written one.
  *
  * Why this is safe on S3-class object stores: nothing is ever renamed
  * between directories. A crash mid-version-write leaves an incomplete
  * orphan the pointer never references; the pointer replacement is a
  * single SMALL-OBJECT write (one atomic object PUT on S3, a tmp-file
  * plus single-file rename elsewhere), and every pointer failure shape
  * is RECOVERABLE from layout alone: version numbers are monotone and
  * a new version is only ever completed as part of committing it, so
  * "pointer missing or torn" resolves to the HIGHEST COMPLETE version,
  * which is exactly the commit that was in flight (roll forward),
  * while an orphan above a VALID pointer is an uncommitted write that
  * [[recover]] deletes so the caller's replay re-runs it (roll back).
  * The commit point is the pointer replace, atomically observable in
  * both directions.
  *
  * Single-writer contract. Garbage collection keeps only the committed
  * version: version history is not this mechanism's job, crash safety
  * is.
  */
object PointerSwap {

  private val VersionRe = "^v_(\\d{8})$".r

  // the shared ops-layer FileSystem resolution (one definition)
  private def fsOf(dir: String): (FileSystem, Path) = StoreFiles.fsOf(dir)

  private def nameOf(n: Int): String = f"v_$n%08d"

  /** A version dir is complete iff its `_SUCCESS` stamp landed
    * (written LAST by [[writeAndCommit]]). */
  private def complete(fs: FileSystem, root: Path, name: String): Boolean =
    fs.exists(new Path(new Path(root, name), "_SUCCESS"))

  /** All version dir names under root, ascending. */
  private def versions(fs: FileSystem, root: Path): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(VersionRe.pattern.matcher(_).matches())
      .sorted

  /** The pointer's target, when the file exists, parses, and names an
    * existing COMPLETE version. Strict full-name validation: a torn
    * write can only truncate the content, and no strict prefix of a
    * `v_\d{8}` name is itself one, so a torn pointer can never alias
    * a different valid version. */
  private def pointerTarget(fs: FileSystem, root: Path): Option[String] = {
    val cur = new Path(root, "CURRENT")
    if (!fs.exists(cur)) None
    else scala.util.Try {
      val in = fs.open(cur)
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    }.toOption
      .filter(VersionRe.pattern.matcher(_).matches())
      .filter(complete(fs, root, _))
  }

  /** Whether `root` is laid out by this protocol: it holds a pointer
    * file or at least one version dir (complete or not). */
  def versioned(root: String): Boolean = {
    val (fs, rootP) = fsOf(root)
    fs.exists(new Path(rootP, "CURRENT")) || versions(fs, rootP).nonEmpty
  }

  /** The COMMITTED version dir: the pointer's target when valid, else
    * the highest complete version (a missing/torn pointer can only be
    * a crash inside the pointer replace, whose in-flight commit that
    * highest complete version is — roll forward). None on an empty or
    * never-committed root. */
  def resolve(root: String): Option[String] = {
    val (fs, rootP) = fsOf(root)
    pointerTarget(fs, rootP)
      .orElse(versions(fs, rootP).filter(complete(fs, rootP, _)).lastOption)
      .map(n => s"$root/$n")
  }

  /** Close every crash window: re-point a missing/torn pointer at the
    * resolved commit (roll forward), then delete every other version
    * dir — orphans ABOVE a valid pointer are uncommitted work whose
    * replay re-runs (roll back), versions below are superseded. */
  def recover(root: String): Unit = {
    val (fs, rootP) = fsOf(root)
    if (!fs.exists(rootP)) return
    resolve(root) match {
      case None =>
        // nothing committed: incomplete orphans are deleted so the
        // first commit re-stages from v_00000001
        versions(fs, rootP).foreach(n =>
          fs.delete(new Path(rootP, n), true))
      case Some(dir) =>
        val name = new Path(dir).getName
        if (!pointerTarget(fs, rootP).contains(name))
          writePointer(fs, rootP, name)
        versions(fs, rootP).filter(_ != name).foreach(n =>
          fs.delete(new Path(rootP, n), true))
    }
    ()
  }

  /** Replace the pointer: tmp file + delete + single-FILE rename. On
    * posix/HDFS the rename is atomic; on an S3-class store the rename
    * is implemented as a copy (one atomic object PUT over CURRENT) +
    * delete of the tmp object. The delete-then-rename gap ("CURRENT
    * briefly missing") resolves forward by [[resolve]]'s
    * highest-complete fallback — the new version is already complete
    * when the pointer moves. */
  private def writePointer(fs: FileSystem, root: Path,
      name: String): Unit = {
    val tmp = new Path(root, "CURRENT.tmp")
    val cur = new Path(root, "CURRENT")
    val out = fs.create(tmp, true)
    try out.write(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(cur)) fs.delete(cur, false)
    require(fs.rename(tmp, cur), s"pointer rename failed: $tmp -> $cur")
  }

  /** Write the replacement via `body` (given the next version's
    * path), stamp it complete, then commit by replacing the pointer.
    * `body` must fully materialize the artifact; the previous
    * committed version (if any) is readable throughout via
    * [[resolve]] and is garbage-collected only after the new commit
    * lands. */
  def writeAndCommit(root: String)(body: String => Unit): Unit = {
    recover(root)
    val (fs, rootP) = fsOf(root)
    fs.mkdirs(rootP)
    val committed = resolve(root).map(d => new Path(d).getName)
    val n = committed match {
      case Some(VersionRe(d)) => d.toInt + 1
      case _ => 1
    }
    val next = nameOf(n)
    val nextDir = s"$root/$next"
    body(nextDir)
    StoreFiles.createMarker(nextDir, "_SUCCESS")
    writePointer(fs, rootP, next)
    committed.foreach(c => fs.delete(new Path(rootP, c), true))
    ()
  }
}
