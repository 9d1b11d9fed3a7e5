package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** The file half of [[StoreCommit]]: the committed FILE LIST of a
  * store version.
  *
  * The pointer flip ([[PointerSwap]]) commits a whole version, but
  * per-object writes INSIDE a version ride Spark's FileOutputCommitter,
  * whose task-file renames at job commit are non-atomic on S3-class
  * stores: a crash mid-commit can leave a PARTIAL set of task files
  * already renamed into the destination, and any reader that trusts
  * the directory LISTING trusts those torn renames. The manifest
  * removes that trust: each commit records the version's data files in
  * one small `_MANIFEST` object (write-temp + single-file rename — the
  * same atomicity class as the pointer itself), and readers read
  * EXACTLY the listed files. Objects a torn job commit strands in the
  * directory are invisible — no recovery scan has to find them.
  *
  * Append protocol ([[StoreCommit.append]]): new objects land first
  * (uniquely named by the writing job), then the manifest is extended
  * by the delta of the writer's own before/after listings —
  * single-writer, so the delta is exactly this append's objects, and
  * junk stranded by an EARLIER torn job (present in the before
  * listing) can never be adopted. A crash before the manifest replace
  * leaves the new objects unlisted, hence invisible, and the sink's
  * replay guard re-runs the batch; the manifest replace itself is the
  * commit point.
  *
  * Format: one RELATIVE path per line, sorted, UTF-8, terminated by a
  * seal line — diffable, and the relative form survives a store being
  * mounted under a different root (bucket remount, local mirror).
  */
object Manifest {

  val Name = "_MANIFEST"

  /** Recursive relative paths of the DATA files under `dir`:
    * everything except `_`/`.`-prefixed names and in-flight
    * `_temporary` staging. Sorted for determinism. */
  def dataFiles(dir: String): Seq[String] = {
    val (fs, p) = StoreFiles.fsOf(dir)
    if (!fs.exists(p)) return Seq.empty
    val base = p.toUri.getPath
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      val rel = f.toUri.getPath.stripPrefix(base).stripPrefix("/")
      val name = f.getName
      if (!name.startsWith("_") && !name.startsWith(".") &&
          !rel.contains("_temporary/"))
        out += rel
    }
    out.result().sorted
  }

  /** Seal line terminating every manifest object: a `.tmp` staging
    * manifest is trusted ONLY when sealed — a crash mid-write leaves
    * it unsealed and it is ignored, never half-adopted. */
  private val Seal = "#sealed"

  /** The committed file list, when `dir` carries one. The torn
    * single-file replace window (delete landed, rename didn't) is
    * HEALED here, not fallen through: in that window the sealed
    * `.tmp` object still holds the exact intended list, so the read
    * recovers it verbatim. None means the version was never stamped,
    * which [[StoreCommit]] refuses as a damaged store. */
  def read(dir: String): Option[Seq[String]] = {
    val (fs, p) = StoreFiles.fsOf(dir)
    def parse(path: Path): Option[Seq[String]] =
      if (!fs.exists(path)) None
      else scala.util.Try {
        val in = fs.open(path)
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
        finally in.close()
      }.toOption
    parse(new Path(p, Name)) match {
      case Some(lines) => Some(lines.filterNot(_.startsWith("#")))
      case None =>
        // the torn-replace window: trust the staging object iff its
        // seal line made it to storage (a partial write has not)
        parse(new Path(p, s"$Name.tmp"))
          .filter(_.lastOption.contains(Seal))
          .map(_.filterNot(_.startsWith("#")))
    }
  }

  /** Replace the manifest: temp object + single-FILE rename (the
    * [[PointerSwap]] pointer discipline — atomic on posix/HDFS, one
    * object PUT on S3-class stores). */
  def write(dir: String, files: Seq[String]): Unit = {
    val (fs, p) = StoreFiles.fsOf(dir)
    val tmp = new Path(p, s"$Name.tmp")
    val dst = new Path(p, Name)
    val out = fs.create(tmp, true)
    try out.write((files.sorted :+ Seal).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"manifest rename failed: $tmp -> $dst")
  }

  /** Stamp `dir` with a manifest of its CURRENT data files — valid
    * only from the single writer right after its write call returned
    * (every rename the job will do has happened by then). */
  def stamp(dir: String): Unit = write(dir, dataFiles(dir))
}
