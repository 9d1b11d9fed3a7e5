package graft.ops

import java.io.{File, RandomAccessFile}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one in-session memo for every build-once store: trained
  * quantizers and rotations (bounded metadata), collected truth rows,
  * inferred parquet schemas (see [[parquet]]), and corpus-sized scratch
  * parquet stores (knn edges, PQ codes, BM25 tokens, verified pair
  * sets, label artifacts, z-order stores). A registry sweep or a
  * long-lived serving session asks for the same store many times;
  * every build is a deterministic pure function of its source files,
  * so it runs once per source version.
  *
  * Keys are `family` (the build's name plus its parameters, e.g.
  * `s"kmeans|$lo|$len|$k"`) plus the [[fingerprint]] of every source
  * path the build reads. A rewritten source yields a new key, so a
  * store that declares its sources cannot serve stale data;
  * StoreStalenessSpec checks that every family declares them.
  *
  * Values are plain values, schemas or paths, never session-bound
  * plans (a checkpointed DataFrame dies with its SparkContext). Nothing
  * is persisted: a fresh process always rebuilds from the parquet
  * inputs, and `dir` stores live under [[Scratch]], deleted at JVM
  * exit. */
object SessionStore {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Memoized build of a value. Plain get-then-putIfAbsent, NOT
    * computeIfAbsent: builds nest (the knn edges store trains k-means,
    * the residual codes store trains residual codebooks), and
    * ConcurrentHashMap.computeIfAbsent forbids reentrant updates. A
    * racing duplicate build is harmless: every build is deterministic,
    * so both racers produce the same value and the first one wins. */
  def of[T <: AnyRef](family: String, sources: String*)(build: => T): T = {
    val key = (family +: sources.map(fingerprint)).mkString("|")
    val hit = memo.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = build
      val prev = memo.putIfAbsent(key, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  /** Memoized build of a parquet store: allocates a fresh scratch path
    * (not yet created, so `write` may `.write.parquet` it directly or
    * nest tables under it), runs `write` on it and returns the path. */
  def dir(family: String, sources: String*)(write: String => Unit): String =
    of(family, sources: _*) {
      val out = Scratch.dir("graft_" + family.takeWhile(_.isLetterOrDigit)) +
        "/store"
      write(out)
      out
    }

  /** The session settings that change what parquet schema inference
    * returns for the same files (nanos as Long vs. timestamp, binary as
    * string, INT96 as timestamp, NTZ inference, footer merging). */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Reads a parquet path with its schema supplied, so building the
    * DataFrame starts no Spark job: a bare `spark.read.parquet` runs a
    * footer-reading inference job on every call. The schema is inferred
    * once per source fingerprint and per session inference settings
    * (a schema is a plain value, not bound to a session), so a
    * rewritten source or a differently configured session gets its own.
    * A path with no local file behind it (a missing table, a remote
    * filesystem) has no fingerprint and reads as before: a missing path
    * still throws here, at construction. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    if (!new File(path).exists) spark.read.parquet(path)
    else {
      val confs = inferenceConfs.map(k => spark.conf.getOption(k).orNull)
      val schema = of(("schema" +: confs).mkString("|"), path) {
        spark.read.parquet(path).schema
      }
      spark.read.schema(schema).parquet(path)
    }

  /** Fingerprint of a source path (a parquet file or a directory of
    * part files): per file, name, length, mtime and a digest of the
    * parquet footer. The footer holds row counts, column statistics and
    * offsets, so a same-length rewrite within one mtime tick still
    * changes the key. Reads only each file's tail, never its data. */
  def fingerprint(path: String): String = {
    val src = new File(path)
    val files =
      if (src.isDirectory)
        Option(src.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      else Array(src)
    path + "|" + files.map(f =>
      s"${f.getName}:${f.length}:${f.lastModified}:${footerDigest(f)}")
      .mkString("|")
  }

  /** Hex MD5 of a parquet file's footer (the metadata block before the
    * trailing 4-byte length and `PAR1` magic); empty for anything that
    * is not a parquet file. */
  private def footerDigest(f: File): String = {
    if (!f.isFile || f.length < 12) return ""
    val raf = new RandomAccessFile(f, "r")
    try {
      val tail = new Array[Byte](8)
      raf.seek(f.length - 8)
      raf.readFully(tail)
      val len = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (new String(tail, 4, 4, "US-ASCII") != "PAR1" ||
          len <= 0 || len > f.length - 12) ""
      else {
        val footer = new Array[Byte](len)
        raf.seek(f.length - 8 - len)
        raf.readFully(footer)
        java.security.MessageDigest.getInstance("MD5").digest(footer)
          .map("%02x".format(_)).mkString
      }
    } finally raf.close()
  }
}
