package graft

import org.apache.spark.sql.functions._

/** Focused coverage for the round-17 optimization internals: the
  * one-pass MinHash expression must be value-identical to the legacy
  * per-hash formulation on every edge shape, and the source
  * fingerprint the session stores are keyed on must see a SOURCE
  * REWRITE — stale centroids or stale cluster labels would be a silent
  * correctness hole, not a performance bug (StoreStalenessSpec covers
  * every store family). */
class OptimizationR17Spec extends SparkSpec {

  private val NumHashes = 8

  test("MinHashes equals the legacy per-hash transform/array_min " +
      "chain on normal, empty, null, null-element and unicode shingle sets") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sh",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = true))))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, Seq("a b c", "b c d", "c d e")),
      org.apache.spark.sql.Row(2L, Seq.empty[String]),
      org.apache.spark.sql.Row(3L, null),
      org.apache.spark.sql.Row(4L, Seq("x y z", null, "y z w")),
      org.apache.spark.sql.Row(5L, Seq("héllo wörld ünïcode", "日本 語 テスト")),
      org.apache.spark.sql.Row(6L, Seq("dup dup dup", "dup dup dup")))
    val df = spark.createDataFrame(rows.asJava, schema)
    def legacy(j: Int) =
      array_min(transform(col("sh"), s =>
        md5(concat(lit(s"$j|"), s).cast("binary"))))
    val cmp = df.select(
      col("id"),
      graft.functions.MinHashes(col("sh"), NumHashes).as("fast"),
      array((0 until NumHashes).map(legacy): _*).as("slow"))
    val bad = cmp.collect().filter { r =>
      val fast = if (r.isNullAt(1)) null else r.getSeq[String](1)
      val slow = r.getSeq[String](2)
      // legacy has no single null-array form (array() of per-hash
      // nulls); the expression returns null for a null input array —
      // its consumer getItem(j) yields null either way
      if (fast == null) slow.exists(_ != null)
      else fast != slow
    }
    assert(bad.isEmpty,
      s"MinHashes diverges from the legacy chain on ids " +
        s"${bad.map(_.getLong(0)).toSeq}")
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

  test("trainFramesGrouped equals per-group trainFrame, including a " +
      "group that exercises the empty-cell keep-previous path") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))))
    def row(g: Int, id: Long, v: Double*) =
      org.apache.spark.sql.Row(g, id, v.toSeq)
    val rows = Seq(
      // group 0: a spread set whose assignment shifts across rounds
      row(0, 1L, 0.1, 0.2, 0.3), row(0, 2L, 0.9, 0.8, 0.7),
      row(0, 3L, 0.15, 0.25, 0.35), row(0, 5L, 0.85, 0.75, 0.65),
      row(0, 8L, 0.5, 0.5, 0.5), row(0, 13L, 0.45, 0.55, 0.5),
      // group 1: ALL-IDENTICAL vectors — both init centroids
      // coincide, every member ties to cid 0, centroid 1 loses all
      // members and must keep its previous position (the
      // empty-cell COALESCE path, in both trainers)
      row(1, 4L, 0.3, 0.3, 0.3), row(1, 6L, 0.3, 0.3, 0.3),
      row(1, 7L, 0.3, 0.3, 0.3),
      // group 2: two tight clusters, different ids than group 0
      row(2, 9L, 0.0, 0.0, 1.0), row(2, 10L, 0.02, 0.01, 0.98),
      row(2, 11L, 1.0, 1.0, 0.0), row(2, 12L, 0.97, 0.99, 0.03))
    val df = spark.createDataFrame(rows.asJava, schema)
    val grouped = graft.ext.KMeans.trainFramesGrouped(df, 3, 2)
    val per = (0 until 3).map(g =>
      graft.ext.KMeans.trainFrame(
        df.filter(col("grp") === g).select(col("vec_id"), col("v")), 2))
    assert(grouped.size == 3)
    (0 until 3).foreach(g => assert(grouped(g) == per(g),
      s"group $g diverged:\n grouped=${grouped(g)}\n per-group=${per(g)}"))
  }
}
