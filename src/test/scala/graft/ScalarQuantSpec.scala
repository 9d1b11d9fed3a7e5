package graft

import org.apache.spark.sql.functions._
import graft.ext.ScalarQuant

/** SQ8 scalar quantization: codes and integer-space search are checked
  * against a fully independent in-memory recompute (collected floats,
  * plain Scala arithmetic) — the same proof shape DedupSpec uses for
  * fingerprints. Recall is additionally pinned against the exact-L2
  * ranking. */
class ScalarQuantSpec extends SparkSpec {

  private lazy val local: Seq[(Long, Int, Array[Double])] =
    Tables.embeddings(spark, sf).orderBy(col("vec_id")).collect().map { r =>
      (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(_.toDouble).toArray)
    }.toSeq

  private lazy val statsLocal: Array[(Double, Double)] = {
    val dim = local.head._3.length
    Array.tabulate(dim) { d =>
      val xs = local.map(_._3(d))
      (xs.min, xs.max)
    }
  }

  private def codesLocal(v: Array[Double]): Array[Int] =
    v.zip(statsLocal).map { case (x, (mn, mx)) =>
      ScalarQuant.quantize(x, mn, mx)
    }

  test("dimStats equals the collected per-dimension bounds exactly") {
    val got = ScalarQuant.dimStats(spark, sf)
    assert(got.length == statsLocal.length)
    assert(got.zip(statsLocal).forall { case (a, b) => a == b })
  }

  test("sq8 codes match an independent Scala recompute for every vector") {
    val got = ScalarQuant.sq8Codes(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.size == local.size)
    local.foreach { case (id, _, v) =>
      assert(got(id) == codesLocal(v).mkString(","), s"codes diverge at vec $id")
    }
  }

  test("dequantization error is bounded by span/255 per dimension") {
    local.foreach { case (_, _, v) =>
      v.zip(statsLocal).foreach { case (x, (mn, mx)) =>
        val span = mx - mn
        if (span > 0) {
          val code = ScalarQuant.quantize(x, mn, mx)
          val deq = mn + code * span / 255.0
          assert(math.abs(deq - x) <= span / 255.0 * (1 + 1e-12),
            s"decode error exceeds the quantization step at x=$x")
        }
      }
    }
  }

  test("sq8 top-k distances match the integer recompute; recall >= 7/10 " +
      "vs exact L2") {
    val (qid, _, qv) = local.minBy(_._1)
    val qc = codesLocal(qv)
    def sqDist(v: Array[Double]): Long =
      codesLocal(v).zip(qc).map { case (a, b) =>
        (a.toLong - b) * (a.toLong - b)
      }.sum
    val expect = local.filter(_._1 != qid)
      .map { case (id, _, v) => (id, sqDist(v)) }
      .sortBy { case (id, d) => (d, id) }
      .take(ScalarQuant.TopK)
    val got = ScalarQuant.sq8TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == expect.toSeq)

    val exact = local.filter(_._1 != qid)
      .map { case (id, _, v) =>
        val d = v.zip(qv).foldLeft(0.0) { case (acc, (a, b)) =>
          acc + (a - b) * (a - b)
        }
        (id, d)
      }
      .sortBy { case (id, d) => (d, id) }
      .take(ScalarQuant.TopK).map(_._1).toSet
    val recall = got.map(_._1).count(exact.contains)
    assert(recall >= 7, s"SQ8 recall degraded: $recall/10 vs exact L2")
  }

  test("fused Sq8 expressions are bit-equal to the composable HOF forms") {
    import org.apache.spark.sql.functions._
    val stats = ScalarQuant.dimStats(spark, sf)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (qid, qcodes) = ScalarQuant.encodeQuery(spark, sf, stats)
    val qA = array(qcodes.map(c => lit(c.toLong)): _*)
    val hofDist = aggregate(
      zip_with(ScalarQuant.codeCol(stats), qA,
        (a, b) => (a.cast("long") - b) * (a.cast("long") - b)),
      lit(0L), (acc, d) => acc + d)
    val both = vecs.select(col("vec_id"),
      ScalarQuant.codeCol(stats).as("hof_codes"),
      graft.functions.Sq8.encode(col("v"), stats).as("fused_codes"),
      hofDist.as("hof_dist"),
      graft.functions.Sq8.dist(col("v"), stats, qcodes).as("fused_dist"),
      graft.functions.Sq8.codesDist(
        graft.functions.Sq8.encode(col("v"), stats), qcodes)
        .as("codes_dist")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"encode diverges at vec ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(4),
        s"dist diverges at vec ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(5),
        s"codes-dist diverges at vec ${r.getLong(0)}")
    }
  }

  test("codes-store serving path equals the on-the-fly encode ranking") {
    val stats = ScalarQuant.dimStats(spark, sf)
    val store = graft.ops.Scratch.dir("graft_sq8") + "/codes"
    ScalarQuant.encodeFrame(spark, sf, stats)
      .write.mode("overwrite").parquet(store)
    val (qid, qcodes) = ScalarQuant.encodeQuery(spark, sf, stats)
    val fromStore = ScalarQuant
      .sq8OverCodes(spark.read.parquet(store), qcodes, qid).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val live = ScalarQuant.sq8TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(fromStore.toSeq == live.toSeq)
    // packed-byte layout: same ranking again
    val byteStore = store + "_bytes"
    ScalarQuant.encodeFrameBytes(spark, sf, stats)
      .write.mode("overwrite").parquet(byteStore)
    val fromBytes = ScalarQuant
      .sq8OverBytes(spark.read.parquet(byteStore), qcodes, qid).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(fromBytes.toSeq == live.toSeq)
  }

  test("rotation matrix is orthonormal; rotated sq8 matches an " +
      "independent recompute and holds recall") {
    val rot = ScalarQuant.rotationMatrix()
    val d = rot.length
    // R·Rᵀ = I within fp tolerance
    for (i <- 0 until d; j <- i until d) {
      val dot = rot(i).zip(rot(j)).map { case (a, b) => a * b }.sum
      val expectv = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expectv) < 1e-10, s"R not orthonormal at ($i,$j)")
    }
    // independent recompute of the rotated-space ranking
    val rLocal = local.map { case (id, l, v) =>
      (id, l, ScalarQuant.rotateLocal(v, rot).toArray)
    }
    val statsRot = {
      Array.tabulate(d) { k =>
        val xs = rLocal.map(_._3(k)); (xs.min, xs.max)
      }
    }
    def codesRot(v: Array[Double]): Array[Int] =
      v.zip(statsRot).map { case (x, (mn, mx)) =>
        ScalarQuant.quantize(x, mn, mx)
      }
    val (qid, _, qv) = local.minBy(_._1)
    val qc = codesRot(ScalarQuant.rotateLocal(qv, rot).toArray)
    val expect = rLocal.filter(_._1 != qid)
      .map { case (id, _, v) =>
        (id, codesRot(v).zip(qc).map { case (a, b) =>
          (a.toLong - b) * (a.toLong - b)
        }.sum)
      }
      .sortBy { case (id, dd) => (dd, id) }
      .take(ScalarQuant.TopK)
    val got = ScalarQuant.rrsq8TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == expect.toSeq)
    // recall vs exact L2 (rotation preserves L2, so the target set is
    // the same as the axis-aligned form's)
    val exact = local.filter(_._1 != qid)
      .map { case (id, _, v) =>
        (id, v.zip(qv).foldLeft(0.0) { case (a, (x, y)) =>
          a + (x - y) * (x - y)
        })
      }
      .sortBy { case (id, dd) => (dd, id) }
      .take(ScalarQuant.TopK).map(_._1).toSet
    val recall = got.map(_._1).count(exact.contains)
    assert(recall >= 7, s"RR-SQ8 recall degraded: $recall/10 vs exact L2")
  }

  test("out-of-bounds components clamp to [0, 255] identically across " +
      "raw, int-codes, and packed-byte layouts under frozen bounds") {
    import org.apache.spark.sql.functions._
    // the production split: bounds frozen as an artifact, NEW vectors
    // encoded later — components may fall outside the stored per-dim
    // [min, max]. An unclamped lower bound would make the (byte)
    // store wrap (−2 → 254 after & 0xFF) and silently diverge from
    // the list<int> and raw paths.
    val d = ScalarQuant.Dim
    val frozen = Seq.fill(d)((0.0, 1.0))
    val v = Array.tabulate(d) { i =>
      if (i % 3 == 0) -0.5 else if (i % 3 == 1) 1.5 else 0.5
    }
    // driver-side formula clamps both ends
    assert(ScalarQuant.quantize(-0.5, 0.0, 1.0) == 0)
    assert(ScalarQuant.quantize(1.5, 0.0, 1.0) == 255)
    val qcodes = Seq.fill(d)(0)
    val row = spark.range(1)
      .select(array(v.map(lit): _*).as("v"))
      .select(
        graft.functions.Sq8.encode(col("v"), frozen).as("codes"),
        graft.functions.Sq8.encodeBytes(col("v"), frozen).as("bytes"),
        graft.functions.Sq8.dist(col("v"), frozen, qcodes).as("raw_d"),
        graft.functions.Sq8.codesDist(
          graft.functions.Sq8.encode(col("v"), frozen), qcodes).as("codes_d"),
        graft.functions.Sq8.bytesDist(
          graft.functions.Sq8.encodeBytes(col("v"), frozen), qcodes)
          .as("bytes_d"))
      .head()
    val codes = row.getSeq[Int](0)
    val bytes = row.getAs[Array[Byte]](1)
    val expectCodes = v.map(x => ScalarQuant.quantize(x, 0.0, 1.0))
    assert(codes == expectCodes.toSeq)
    assert(codes.forall(c => c >= 0 && c <= 255))
    assert(bytes.map(_ & 0xFF).toSeq == codes, "byte store diverges from int store")
    val expectD = expectCodes.map(c => c.toLong * c).sum
    assert(row.getLong(2) == expectD)
    assert(row.getLong(3) == expectD)
    assert(row.getLong(4) == expectD, "packed-byte distance diverges")
  }

  test("ivf-sq8 probe returns the query cell's sq8 ranking exactly") {
    val (qid, qLabel, qv) = local.minBy(_._1)
    val qc = codesLocal(qv)
    val expect = local.filter { case (id, l, _) => id != qid && l == qLabel }
      .map { case (id, _, v) =>
        val d = codesLocal(v).zip(qc).map { case (a, b) =>
          (a.toLong - b) * (a.toLong - b)
        }.sum
        (id, d)
      }
      .sortBy { case (id, d) => (d, id) }
      .take(ScalarQuant.TopK)
    val got = ScalarQuant.ivfSq8TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.forall(_._2 == qLabel), "probe escaped the query cell")
    assert(got.map(r => (r._1, r._3)).toSeq == expect.toSeq)
  }
}
