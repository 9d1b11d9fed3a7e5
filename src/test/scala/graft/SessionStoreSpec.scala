package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.ops.SessionStore

/** The [[graft.ops.SessionStore]] seam itself: builds nest, a second
  * call serves the first build, and no hand-rolled store creeps back
  * into the layers that must go through the seam. Rewrite staleness
  * per store family is StoreStalenessSpec. */
class SessionStoreSpec extends SparkSpec {

  private def unique(tag: String) = s"spec|$tag|${System.nanoTime()}"

  test("a build that calls other SessionStore builds does not throw") {
    val outer = unique("outer")
    // enough nested keys that some land in the outer key's hash bin,
    // where a reentrant computeIfAbsent throws "Recursive update"
    val got = SessionStore.of(outer) {
      val inner = (0 until 64).map(i => SessionStore.of(s"$outer|$i")(Int.box(i)))
      val dir = SessionStore.dir(s"$outer|dir")(out => Files.createDirectory(Paths.get(out)))
      (inner.map(_.intValue).sum, Files.isDirectory(Paths.get(dir)))
    }
    assert(got == ((0 until 64).sum, true))
  }

  test("a second call serves the first build instead of rebuilding") {
    var builds = 0
    val key = unique("value")
    def value() = SessionStore.of(key) { builds += 1; Seq(1, 2, 3) }
    assert(value() == Seq(1, 2, 3) && value() == Seq(1, 2, 3))
    assert(builds == 1, "second of() must serve the memo")
    var writes = 0
    val dirKey = unique("dir")
    def store() = SessionStore.dir(dirKey) { out =>
      writes += 1
      Files.createDirectory(Paths.get(out))
    }
    val first = store()
    assert(store() == first && writes == 1,
      "second dir() must return the first build's path")
    assert(!first.contains("|"), s"scratch path carries the family key: $first")
  }

  test("no hand-rolled store in ext/, pipeline/ or streaming/: every " +
      "build-once store goes through SessionStore") {
    val hits = sourceHits(Seq("ext", "pipeline", "streaming"),
      Seq("ConcurrentHashMap", "computeIfAbsent", "TrainMemo"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** `file:line: word` for every line under `roots` (relative to
    * `src/main/scala/graft`, which must exist — run from the repo
    * root) that contains a banned word. */
  private def sourceHits(roots: Seq[String], banned: Seq[String]): Seq[String] =
    for {
      root <- roots.map(d => Paths.get("src/main/scala/graft", d))
      _ = assert(Files.isDirectory(root), s"run from repo root; missing $root")
      f <- Files.walk(root).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      word <- banned if line.contains(word)
    } yield s"$f:${n + 1}: $word"

  test("one commit seam in ext/, pipeline/ and streaming/: durable " +
      "stores commit only through StoreCommit") {
    val hits = sourceHits(Seq("ext", "pipeline", "streaming"),
      Seq("ArtifactSwap", "SwapCommit", "PointerCommit",
        "ManifestCommit", "PointerSwap.", "Manifest."))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one completeness stamp under src/main/scala: the sealed " +
      "manifest, no PointerSwap, Manifest, _SUCCESS marker or " +
      "committedPartitionDirs") {
    val hits = sourceHits(Seq(""), Seq("PointerSwap", "Manifest.",
      "\"_SUCCESS\"", "committedPartitionDirs"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("SessionStore.fingerprint changes on a same-length source " +
      "rewrite that keeps the old mtime") {
    val dir = graft.ops.Scratch.dir("r17fp")
    val f = new java.io.File(dir, "t.parquet")
    def write(ids: Seq[Long]): Unit = {
      val s = spark; import s.implicits._
      ids.toDF("id").coalesce(1).write.mode("overwrite")
        .option("compression", "none").parquet(s"$dir/w")
      val part = new java.io.File(s"$dir/w").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, f.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    write(Seq(1L, 2L, 3L))
    val (len, mtime) = (f.length, f.lastModified)
    val fp1 = graft.ops.SessionStore.fingerprint(f.getPath)
    write(Seq(4L, 5L, 6L))
    assert(f.setLastModified(mtime) && f.lastModified == mtime)
    assert(f.length == len, "the rewrite must keep the file length")
    val fp2 = graft.ops.SessionStore.fingerprint(f.getPath)
    assert(fp1 != fp2, "rewritten source must change the fingerprint")
  }
}
