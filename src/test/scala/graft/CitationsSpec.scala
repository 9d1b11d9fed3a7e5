package graft

import java.nio.file.{Files, Path, Paths}
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Provenance hygiene: every absolute `/root/reference/...` path cited
  * in `src/main` scaladoc must name a real file or directory of the
  * reference tree. Extension operators with no reference analog must say
  * so instead of citing files that were never there (the round-8 verdict
  * found three such dead paths).
  *
  * Two modes, chosen by whether the reference tree is present:
  *  - '''Manifest (always).''' Each cite is checked against the committed
  *    manifest `src/test/resources/reference-paths.txt`: one path per
  *    line, relative to `/root/reference`, with `#` comments. A cite
  *    passes if it is a manifest entry, or a directory that is a
  *    `/`-bounded prefix of one (`elt` passes, `elt/transform` does not).
  *  - '''On disk (when `/root/reference` is a directory).''' In addition,
  *    every cite must exist on disk and every manifest entry must exist
  *    on disk, so a box with the tree checks strictly more than the
  *    manifest alone.
  *
  * The manifest was taken from the paths `SURVEY.md` cites; SURVEY.md was
  * written against the real tree. To cite a new reference file, first
  * cite it in SURVEY.md, then add its path to the manifest; a manifest
  * entry that SURVEY.md does not contain verbatim fails this spec. */
class CitationsSpec extends AnyFunSuite {
  import CitationsSpec._

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq

  test("every /root/reference path cited in src/main exists on disk") {
    val srcMain = Paths.get("src/main/scala")
    assert(Files.isDirectory(srcMain), s"run from repo root; missing $srcMain")
    val known = manifest()
    val onDisk = Files.isDirectory(Paths.get(ReferenceRoot))
    val dead = for {
      f <- scalaFiles(srcMain)
      text = new String(Files.readAllBytes(f), "UTF-8")
      (cite, why) <- deadCitations(text, known, onDisk)
    } yield s"$f cites $cite: $why"
    val missing =
      if (onDisk) known.toSeq.sorted
        .filterNot(rel => Files.exists(Paths.get(ReferenceRoot, rel)))
        .map(rel => s"manifest entry $rel does not exist under $ReferenceRoot")
      else Nil
    assert(dead.isEmpty && missing.isEmpty, (dead ++ missing).mkString("\n"))
  }

  test("every manifest entry appears verbatim in SURVEY.md") {
    val survey = new String(Files.readAllBytes(Paths.get("SURVEY.md")), "UTF-8")
    val absent = manifest().toSeq.sorted.filterNot(survey.contains(_))
    assert(absent.isEmpty, s"manifest entries not cited in SURVEY.md: ${absent.mkString(", ")}")
  }

  test("manifest mode flags the dead paths commit 17a52fd removed") {
    val known = manifest()
    val text =
      """/** See /root/reference/elt/transform_pipeline.ipynb cell 3 and
        |  * /root/reference/notebooks for the original. */""".stripMargin
    assert(deadCitations(text, known, onDisk = false).map(_._1) ==
      Seq("/root/reference/elt/transform_pipeline.ipynb", "/root/reference/notebooks"))
  }

  test("manifest mode accepts entries and /-bounded directory prefixes only") {
    val known = Set("elt/transforms.ipynb", "etl_pipeline/load.py")
    def dead(cite: String) = deadCitations(s"see $cite:12.", known, onDisk = false).map(_._1)
    assert(dead("/root/reference/elt/transforms.ipynb").isEmpty)
    assert(dead("/root/reference/etl_pipeline/load.py").isEmpty)
    assert(dead("/root/reference/elt").isEmpty)
    assert(dead("/root/reference/elt/transform") == Seq("/root/reference/elt/transform"))
    assert(dead("/root/reference/etl_pipeline/load") == Seq("/root/reference/etl_pipeline/load"))
    assert(dead("/root/reference/el") == Seq("/root/reference/el"))
  }
}

object CitationsSpec {
  val ReferenceRoot = "/root/reference"

  private val CitePattern = "/root/reference/[A-Za-z0-9_/.-]*[A-Za-z0-9_]".r

  /** Manifest entries: reference-relative paths, blank and `#` lines dropped. */
  def manifest(): Set[String] = {
    val src = Source.fromResource("reference-paths.txt")("UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet
    finally src.close()
  }

  /** The distinct cites in `text` that fail, each with the reason. A cite
    * fails if its reference-relative path is neither in `known` nor a
    * `/`-bounded directory prefix of an entry, or, when `onDisk`, if it
    * does not exist on disk. */
  def deadCitations(text: String, known: Set[String], onDisk: Boolean): Seq[(String, String)] =
    CitePattern.findAllIn(text).toSeq.distinct.flatMap { cite =>
      val rel = cite.stripPrefix(ReferenceRoot + "/")
      val listed = known(rel) || known.exists(_.startsWith(rel + "/"))
      if (!listed) Some(cite -> "not in the manifest")
      else if (onDisk && !Files.exists(Paths.get(cite))) Some(cite -> "not on disk")
      else None
    }
}
