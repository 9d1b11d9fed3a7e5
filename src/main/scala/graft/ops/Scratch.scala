package graft.ops

import java.io.File

/** Scratch directories for the DRIVER-GATED `*Served` paths, which
  * build a corpus-sized artifact (vector cells, postings, split
  * labels) purely so the serve form can be gated against the live
  * form. The returned DataFrames read the artifact LAZILY, so the
  * builder cannot delete in-function — instead every scratch root is
  * registered once for recursive deletion at JVM exit. Without this,
  * every Verify/gate run leaked full stores into /tmp across the
  * repeated sf0.01/sf0.1 runs the workflow prescribes (round-13
  * ADVICE).
  *
  * Scope: harness/gate code only — production artifact stores are
  * caller-owned named directories, never scratch.
  */
object Scratch {

  private val roots =
    new java.util.concurrent.ConcurrentLinkedQueue[File]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def rmTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** Create a fresh temp directory and register it for recursive
    * deletion at JVM exit. Returns the directory path. */
  def dir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    roots.add(d)
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val it = roots.iterator()
        while (it.hasNext) rmTree(it.next())
      }, "graft-scratch-cleanup"))
    d.toString
  }
}
