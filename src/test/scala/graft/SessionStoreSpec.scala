package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SessionStore

/** The [[graft.ops.SessionStore]] seam itself: builds nest, a second
  * call serves the first build, and no hand-rolled store creeps back
  * into the layers that must go through the seam. Rewrite staleness
  * per store family is StoreStalenessSpec. */
class SessionStoreSpec extends AnyFunSuite {

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
    val banned = Seq("ConcurrentHashMap", "computeIfAbsent", "TrainMemo")
    val roots = Seq("ext", "pipeline", "streaming")
      .map(d => Paths.get("src/main/scala/graft", d))
    roots.foreach(r =>
      assert(Files.isDirectory(r), s"run from repo root; missing $r"))
    val hits = for {
      root <- roots
      f <- Files.walk(root).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      word <- banned if line.contains(word)
    } yield s"$f:${n + 1}: $word"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
