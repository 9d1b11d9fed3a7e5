package graft

import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity

class FunctionsSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  test("native cosine is bit-identical to the composable builtin form") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.orderBy(col("vec_id")).limit(1).select(col("v")).head.getSeq[Double](0)
    val qc = array(q.map(lit): _*)
    val native = e.select(col("vec_id"), CosineSimilarity(col("v"), qc).as("c"))
      .orderBy(col("vec_id")).collect().map(_.getDouble(1))
    val builtin = e.select(col("vec_id"),
        graft.ext.Similarity.cosineBuiltin(col("v"), qc).as("c"))
      .orderBy(col("vec_id")).collect().map(_.getDouble(1))
    assert(native.sameElements(builtin))
  }

  test("fused VecStats profile is bit-identical to the composable builtin form") {
    val native = graft.ext.Similarity.embeddingProfile(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4)))
    val builtin = graft.ext.Similarity.embeddingProfileBuiltin(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4)))
    assert(native.sameElements(builtin))
  }

  test("native cosine handles nulls, length mismatch, zero vectors") {
    val df = Seq(
      (1, Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (2, Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (3, Seq(0.0, 0.0), Seq(1.0, 1.0))
    ).toDF("id", "a", "b")
    val out = df.select(CosineSimilarity(col("a"), col("b"))).collect()
    assert(out(0).getDouble(0) == 1.0)
    assert(out(1).getDouble(0) == 0.0)
    assert(out(2).isNullAt(0)) // zero-norm → null
    val mismatch = Seq((1, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("id", "a", "b")
    assert(mismatch.select(CosineSimilarity(col("a"), col("b"))).head.isNullAt(0))
    val nulls = Seq((1, null.asInstanceOf[Seq[Double]], Seq(1.0)))
      .toDF("id", "a", "b")
    assert(nulls.select(CosineSimilarity(col("a"), col("b"))).head.isNullAt(0))
  }

  test("cosine_similarity is SQL-callable after registration") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(0.6d, 0.8d)) AS c")
      .head.getDouble(0)
    assert(math.abs(r - 0.6) < 1e-15)
  }

  test("nearest centroid breaks exact ties to the lower centroid id") {
    val df = Seq(Tuple1(Seq(1.0, 0.0))).toDF("v")
    // centroids 0 and 1 are identical → both at distance 0; first wins
    val dup = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    assert(df.select(graft.functions.NearestCentroid(col("v"), dup))
      .head.getInt(0) == 0)
    // an exact-match centroid at a higher id still wins over ties
    val equi = Seq(Seq(0.0, 1.0), Seq(2.0, 1.0), Seq(1.0, 0.0))
    assert(df.select(graft.functions.NearestCentroid(col("v"), equi))
      .head.getInt(0) == 2)
    // equidistant non-identical centroids (both at d²=2) → lower id
    val equiOnly = Seq(Seq(0.0, 1.0), Seq(2.0, 1.0))
    assert(df.select(graft.functions.NearestCentroid(col("v"), equiOnly))
      .head.getInt(0) == 0, "tie at d²=2 must keep the lower id")
  }

  test("second-nearest centroid = index 1 of the (dist, cid) sort, " +
      "ties to the lower id") {
    val df = Seq(Tuple1(Seq(1.0, 0.0))).toDF("v")
    // centroids 0 and 1 identical at distance 0: best = 0, second = 1
    val dup = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    assert(df.select(graft.functions.NearestCentroid.second(col("v"), dup))
      .head.getInt(0) == 1)
    // best is the exact match (id 2); runner-up tie at d²=2 between
    // ids 0 and 1 keeps the lower
    val equi = Seq(Seq(0.0, 1.0), Seq(2.0, 1.0), Seq(1.0, 0.0))
    assert(df.select(graft.functions.NearestCentroid.second(col("v"), equi))
      .head.getInt(0) == 0)
    // exhaustive agreement with a local argsort on random-ish vectors
    val cb = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(2.0, -1.0),
      Seq(-1.0, 3.0))
    val vs = Seq(Seq(0.4, 0.2), Seq(1.5, 0.9), Seq(-0.5, 2.0),
      Seq(2.0, 0.0), Seq(1.0, 1.0))
    val got = vs.map(Tuple1(_)).toDF("v")
      .select(graft.functions.NearestCentroid.second(col("v"), cb))
      .collect().map(_.getInt(0)).toSeq
    val expect = vs.map { v =>
      cb.zipWithIndex.map { case (c, i) =>
        (v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, i)
      }.sorted.apply(1)._2
    }
    assert(got == expect)
  }

  test("nearest_centroid distSq equals the local left-to-right fold " +
      "to the assigned centroid, bit-exactly") {
    val cb = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(2.0, -1.0),
      Seq(-1.0, 3.0))
    val vs = Seq(Seq(0.4, 0.2), Seq(1.5, 0.9), Seq(-0.5, 2.0),
      Seq(2.0, 0.0), Seq(1.0, 1.0))
    val got = vs.map(Tuple1(_)).toDF("v")
      .select(graft.functions.NearestCentroid.distSq(col("v"), cb))
      .collect().map(_.getDouble(0)).toSeq
    val expect = vs.map { v =>
      cb.map { c =>
        var acc = 0.0; var i = 0
        while (i < v.length) {
          val t = v(i) - c(i); acc += t * t; i += 1
        }
        acc
      }.min
    }
    // bit-exact, not approximate: the expression runs the same fold
    assert(got == expect)
    // the exact-match vector has residual exactly 0.0
    assert(got.last == 0.0)
  }

  test("vec_stats is SQL-callable after registration") {
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT vec_stats(array(3.0d, -4.0d)) AS st").head.getSeq[Double](0)
    // sum_sq = 25, max_abs = 4, quant_sum = floor(127*3/4+.5) + floor(-127+.5)
    assert(r == Seq(25.0, 4.0,
      math.floor(127.0 * 3.0 / 4.0 + 0.5) + math.floor(-127.0 + 0.5)))
  }

  test("vec_stats pins quant_sum=0 for the all-zero vector (no NaN)") {
    graft.functions.GraftExtensions.register(spark)
    // 127*x/max_abs would be 0/0=NaN per element; the guard emits 0,
    // matching the oracle SQL's CASE WHEN max_abs > 0 guard
    val r = spark.sql(
      "SELECT vec_stats(array(0.0d, 0.0d, 0.0d)) AS st").head.getSeq[Double](0)
    assert(r == Seq(0.0, 0.0, 0.0))
    // interpreted eval path agrees with codegen
    val zero = Seq(Tuple1(Seq(0.0, 0.0))).toDF("v")
    val viaCol = zero.select(graft.functions.VecStats(col("v")))
      .head.getSeq[Double](0)
    assert(viaCol == Seq(0.0, 0.0, 0.0))
  }

  test("nearest centroid rejects a vector shorter than the codebook dim") {
    val short = Seq(Tuple1(Seq(1.0))).toDF("v")
    val cb = Seq(Seq(0.0, 1.0), Seq(1.0, 0.0))
    val ex = intercept[Exception] {
      short.select(graft.functions.NearestCentroid(col("v"), cb)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("codebook dimension")), ex.toString)
  }

  test("rolling hash matches the reference computation and is stable") {
    // reference implementation in plain Scala over UTF-8 bytes
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)(graft.functions.RollingHash.step)
    val samples = Seq("", "a", "hello world", "the same the same",
      "unicode é中文")
    val got = samples.toDF("s")
      .select(graft.functions.RollingHash(col("s")))
      .collect().map(_.getLong(0))
    assert(got.sameElements(samples.map(ref)))
    // distinct inputs hash distinctly here; equal inputs collide
    assert(ref("abc") != ref("abd") && ref("abc") == ref("abc"))
  }

  test("rolling gram keys: O(1) rolling update equals a direct " +
      "per-position Horner refold") {
    import graft.functions.{RollingGramKeys, RollingHash}
    val Mod = BigInt(2).pow(61) - 1
    // reference: per-token byte hash, then an independent (non-rolling)
    // Horner fold per position in BigInt arithmetic
    def ref(toks: Seq[String], k: Int): Seq[Long] = {
      val th = toks.map(t => BigInt(
        t.getBytes("UTF-8").foldLeft(0L)(RollingHash.step)))
      (0 to toks.length - k).map { i =>
        th.slice(i, i + k).foldLeft(BigInt(0)) { (g, x) =>
          (g * RollingGramKeys.GramBase + x) mod Mod
        }.toLong
      }
    }
    val samples = Seq(
      "a b c d e f g h", // distinct tokens
      "x y x y x y x y x y", // periodic — rolling evictions repeat
      "one two three", // shorter than some k
      "t t t t t t t t t t") // all-equal tokens
    for (s <- samples; k <- Seq(1, 2, 3, 8)) {
      val toks = s.split(" ").toSeq
      val got = Seq(toks).toDF("t")
        .select(RollingGramKeys(col("t"), k))
        .head().getSeq[Long](0)
      val expect = if (toks.length < k) Seq.empty[Long] else ref(toks, k)
      assert(got == expect, s"mismatch at k=$k for '$s'")
    }
    // shared gram ⇒ shared key (the property span dedup rests on)
    val a = "p q r s t u v w".split(" ").toSeq
    val b = "z z p q r s t u v w".split(" ").toSeq
    val ka = Seq(a).toDF("t").select(RollingGramKeys(col("t"), 8))
      .head().getSeq[Long](0)
    val kb = Seq(b).toDF("t").select(RollingGramKeys(col("t"), 8))
      .head().getSeq[Long](0)
    assert(kb.contains(ka.head), "identical 8-gram must share its key")
  }

  test("native cosine runs inside whole-stage codegen") {
    val e = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("v"))
    val plan = e.select(CosineSimilarity(col("v"), col("v")).as("c"))
      .queryExecution.executedPlan.toString
    // "*(n)" marks operators fused into WholeStageCodegen stage n
    assert(plan.linesIterator.exists(l =>
      l.contains("cosinesimilarity") && l.trim.startsWith("*(")), plan)
  }

  test("SimHashAgg equals the declarative 64-column vote formulation") {
    val agg = graft.ext.Dedup.simhashSignaturesAgg(spark, sf)
      .collect().map(r => (r.getLong(0), (1 to 4).map(r.getLong)))
    val declarative = graft.ext.Dedup.simhashSignaturesMd5(spark, sf)
      .collect().map(r => (r.getLong(0), (1 to 4).map(r.getLong)))
    assert(agg.nonEmpty && agg.sameElements(declarative))
  }

  test("simhash_agg is SQL-callable and merges across partitions") {
    graft.functions.GraftExtensions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_simhash")
    // force multiple partitions so partial buffers must merge
    val r = spark.sql(
      """SELECT simhash_agg(md5(CAST(tok AS BINARY))) AS sig
        |FROM (SELECT explode(split(text, ' ')) AS tok
        |      FROM docs_simhash DISTRIBUTE BY doc_id)""".stripMargin)
      .head.getLong(0)
    val single = spark.sql(
      """SELECT simhash_agg(md5(CAST(tok AS BINARY))) AS sig
        |FROM (SELECT explode(split(text, ' ')) AS tok
        |      FROM docs_simhash) t""".stripMargin)
      .repartition(1)
      .head.getLong(0)
    assert(r == single)
  }

  test("MinHashes equals the legacy per-hash transform/array_min " +
      "chain on normal, empty, null, null-element and unicode shingle sets") {
    val NumHashes = 8
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
}
