package graft.ext

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.ZOrderLayout
import graft.streaming.EventStreams

/** Rewrite staleness, one case per [[graft.ops.SessionStore]] family:
  * build the store over version A of its source, rewrite the source in
  * place to version B (different ids), and require the next call to
  * equal a cold build over B in a fresh directory. Every case also
  * requires A and B to be distinguishable, a repeat call on an
  * unchanged source to return the same answer, and every id an
  * observation carries to come from the current source version. A
  * store keyed on its directory alone serves A after the rewrite and
  * fails here. Inputs are at most 40 rows, except the 55 vectors of
  * the embeddings: the semantic quantizers train SubK sub-centroids in
  * each of K coarse cells, so they need K·SubK = 50 gold vectors. */
class StoreStalenessSpec extends graft.SparkSpec {

  /** What a call returns: sorted row strings (or a value's string) and
    * the source ids it carries, if any. */
  private case class Obs(rows: Seq[String], ids: Set[Long])

  private val IdCols = Seq("vec_id", "vec_a", "doc_id", "doc_a",
    "event_id", "query_id", "o_orderkey")

  private def frame(df: DataFrame): Obs = {
    val got = df.collect()
    val idx = IdCols.map(df.columns.indexOf(_)).find(_ >= 0)
    Obs(got.map(_.toString).sorted.toSeq,
      idx.map(i => got.map(_.getAs[Number](i).longValue).toSet)
        .getOrElse(Set.empty))
  }
  private def value(v: Any): Obs = Obs(Seq(v.toString), Set.empty)

  private case class Family(name: String, table: String,
      observe: String => Obs)

  private val families: Seq[Family] = Seq(
    // trained values
    Family("kmeans", "embeddings", d => value(KMeans.train(spark, d))),
    Family("subCentroidsScaled", "embeddings",
      d => frame(Dedup.semanticDedupScaled(spark, d))),
    Family("semQuant", "embeddings",
      d => value(Dedup.semanticQuantizersFor(spark, d, Dedup.SubK))),
    Family("semQuantGold", "embeddings",
      d => frame(Dedup.semanticDedupBatch(spark, d))),
    Family("pqCodebooks", "embeddings",
      d => value(ProductQuant.codebooks(spark, d))),
    Family("residualCbs", "embeddings", d => value(ProductQuant
      .residualCodebooks(spark, d, KMeans.train(spark, d)))),
    Family("dimStats", "embeddings",
      d => value(ScalarQuant.dimStats(spark, d))),
    Family("evalTruth", "embeddings",
      d => frame(RetrievalEval.truthFor(spark, d))),
    Family("frozenGold", "embeddings", { d =>
      val (all, batchFrom) = ClusterOps.frozenGoldAssigned(spark, d)
      val o = frame(all)
      o.copy(rows = s"batchFrom=$batchFrom" +: o.rows)
    }),
    Family("opqRotation", "embeddings",
      d => value(ProductQuant.learnedRotationFor(spark, d))),
    Family("queryRow", "embeddings", { d =>
      val (id, label, v) = KMeans.queryRow(spark, d)
      Obs(Seq(s"$id|$label|${v.mkString(",")}"), Set(id))
    }),
    // parquet stores over embeddings
    Family("cosPairs", "embeddings",
      d => frame(Dedup.embeddingCosinePairs(spark, d))),
    Family("resCodes", "embeddings", d => frame(spark.read.parquet(
      ProductQuant.residualCodesStoreFor(spark, d)))),
    Family("rawCodes", "embeddings", d => frame(spark.read.parquet(
      ProductQuant.rawCodesStoreFor(spark, d)))),
    Family("knnEdges", "embeddings", d => frame(spark.read.parquet(
      ClusterOps.knnEdgesStoreFor(spark, d)))),
    Family("knnCommunities", "embeddings",
      d => frame(ClusterOps.knnCommunities(spark, d))),
    Family("knnRemove", "embeddings", { d =>
      val (e, l) = (frame(ClusterOps.knnRemoveEdges(spark, d)),
        frame(ClusterOps.knnRemoveLabels(spark, d)))
      Obs(e.rows ++ l.rows, e.ids ++ l.ids)
    }),
    Family("opqStore", "embeddings", d => frame(graft.ops.SwapCommit
      .readSub(spark, ProductQuant.opqStoreFor(spark, d), "codes"))),
    // stores over documents
    Family("ngramPairs", "documents",
      d => frame(Dedup.ngramJaccardPairs(spark, d))),
    Family("ndClusters", "documents",
      d => frame(Dedup.nearDupClusters(spark, d))),
    Family("splitLabels", "documents", d => frame(Sampling
      .trainTestSplitFrom(spark, Sampling.splitLabelsFor(spark, d)))),
    Family("tokenCounts", "documents", d => frame(spark.read.parquet(
      s"${Curation.tokenCountsFor(spark, d)}/" +
        s"${Selection.TokenCountsTable}.parquet"))),
    Family("bm25Toks", "documents",
      d => frame(Retrieval.bm25TopK(spark, d))),
    Family("bpe", "documents", d => frame(Bpe.bpeMerges(spark, d))),
    Family("textStats", "documents",
      d => frame(TextOps.heapsFitForms(spark, d))),
    // the inferred schema of a table read, over a column-set rewrite
    Family("tableSchema", "orders", { d =>
      val df = graft.Tables.orders(spark, d)
      val o = frame(df)
      o.copy(rows = df.columns.mkString(",") +: o.rows)
    }),
    // stores over lineitem and events
    Family("zstore", "lineitem",
      d => frame(ZOrderLayout.zorderStoreForms(spark, d))),
    Family("zstoreDel", "lineitem",
      d => frame(ZOrderLayout.zstoreDeleteForms(spark, d))),
    Family("eventsStream", "events", { d =>
      val name = s"staleness_events_${System.nanoTime()}"
      val q = EventStreams.runToMemory(
        EventStreams.eventsStream(spark, d).select(col("event_id")),
        name, "append")
      try frame(spark.table(name)) finally q.stop()
    }))

  /** Source ids of each version: A and B overlap in no id. */
  private def ids(table: String, v: Int): Seq[Long] = (table, v) match {
    case ("embeddings", 0) => (0L until 50L) ++ (400L until 405L)
    case ("embeddings", _) => (100L until 150L) ++ (410L until 414L)
    case ("documents", 0) => 1L to 8L
    case ("documents", _) => 20L to 25L
    // the z-order gate lands thirds of the key range: each must be
    // non-empty
    case ("lineitem", 0) => Seq(1L, 3L, 5L, 7L)
    case ("lineitem", _) => Seq(2L, 4L, 6L)
    case ("events", 0) => 0L until 30L
    case ("orders", 0) => 1L to 4L
    case ("orders", _) => 5L to 9L
    case (_, _) => 100L until 130L
  }

  private def write(table: String, dir: String, v: Int): Unit = {
    val path = s"$dir/$table.parquet"
    val keep = ids(table, v)
    table match {
      case "embeddings" =>
        val schema = StructType(Seq(StructField("vec_id", LongType),
          StructField("label", StringType),
          StructField("embedding", ArrayType(DoubleType))))
        // ten well-separated clusters (vec_id % 10), five gold members
        // each; the min-vec_id init seeds one centroid per cluster
        val rows = keep.map { i =>
          Row(i, s"l${i % 3}", Seq.tabulate(64)(d =>
            (if (d % 10 == i % 10) 1.0 else 0.0) +
              ((i * 7 + d * 3 + v) % 11) / 100.0))
        }
        spark.createDataFrame(rows.asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
      case "documents" =>
        val schema = StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType), StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_chars", LongType)))
        val rows = keep.map { i =>
          val t = s"the quick brown fox jumps over the lazy dog $i"
          Row(i, t, "en", s"s${i % 2}", t.length.toLong)
        }
        spark.createDataFrame(rows.asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
      case "lineitem" =>
        spark.read.parquet(s"$sf/lineitem.parquet")
          .filter(col("l_orderkey").isin(keep: _*))
          .coalesce(1).write.mode("overwrite").parquet(path)
      case "orders" =>
        // version B drops a column and adds another
        val cols = if (v == 0) Seq("o_orderkey", "o_custkey")
          else Seq("o_orderkey", "o_totalprice", "o_orderstatus")
        spark.read.parquet(s"$sf/orders.parquet")
          .filter(col("o_orderkey").isin(keep: _*)).select(cols.map(col): _*)
          .coalesce(1).write.mode("overwrite").parquet(path)
      case "events" =>
        // a single parquet file, like the shipped corpus: the stream
        // stages it through a symlink
        val tmp = s"$dir/_write"
        spark.read.parquet(s"$sf/events.parquet")
          .filter(col("event_id").isin(keep: _*))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(path),
          StandardCopyOption.REPLACE_EXISTING)
        graft.ops.StoreFiles.deleteDir(tmp)
    }
  }

  private def corpus(table: String, v: Int): String = {
    val dir = graft.ops.Scratch.dir(s"staleness_$table")
    write(table, dir, v)
    dir
  }

  families.foreach { f =>
    test(s"session store family ${f.name} reflects a rewrite of " +
        s"${f.table}") {
      // the cold build over B shares nothing with the A build: run
      // them concurrently (the builds are job-overhead bound)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val coldRun = Future(f.observe(corpus(f.table, 1)))
      val dir = corpus(f.table, 0)
      val before = f.observe(dir)
      val cold = Await.result(coldRun, scala.concurrent.duration.Duration.Inf)
      assert(before.rows.nonEmpty && cold.rows.nonEmpty)
      assert(before != cold, "versions A and B must be distinguishable")
      assert(before.ids.subsetOf(ids(f.table, 0).toSet))
      assert(f.observe(dir) == before,
        "an unchanged source must serve the same answer")
      write(f.table, dir, 1)
      val after = f.observe(dir)
      assert(after == cold,
        s"${f.name} served stale data after a rewrite of ${f.table}")
      assert(after.ids.subsetOf(ids(f.table, 1).toSet))
    }
  }
}
