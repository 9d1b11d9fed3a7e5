package graft

import org.apache.spark.sql.functions._
import graft.ops.{ColumnOps, SkewOps}

/** Scale-technique evidence: salted aggregation equals the direct
  * groupBy, and bucketed tables join without a shuffle — the two
  * idioms the 100 TB design leans on beyond AQE's defaults. */
class ScaleTechniquesSpec extends SparkSpec {

  test("salted sum/count equals direct groupBy on a skewed key") {
    val li = Tables.lineitem(spark, sf)
    // l_returnflag is a classic low-cardinality hot key
    val direct = li.groupBy(col("l_returnflag").as("k"))
      .agg(ColumnOps.sumMoney(col("l_quantity")).as("total"),
        count(col("l_quantity")).as("n"))
      .orderBy("k")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val salted = SkewOps.saltedSumCount(li, col("l_returnflag"),
        col("l_quantity"), salts = 16, spreadBy = Some(col("l_orderkey")))
      .orderBy("k")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(direct.sameElements(salted))
  }

  test("salted two-phase top-k per group equals the direct rank window") {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("grp"), col("o_orderkey"),
        col("o_totalprice"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val direct = o.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 4).orderBy(col("grp"), col("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    val salted = SkewOps.topKPerGroup(o, col("grp"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 4,
        spreadBy = col("o_orderkey"), salts = 16)
      .orderBy(col("grp"), col("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    assert(direct.sameElements(salted))
  }

  test("bucketed tables join without an exchange on the join key") {
    val db = spark
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    o.write.mode("overwrite").bucketBy(8, "o_custkey")
      .sortBy("o_custkey").saveAsTable("orders_bkt")
    c.write.mode("overwrite").bucketBy(8, "c_custkey")
      .sortBy("c_custkey").saveAsTable("customer_bkt")
    // disable broadcast so the join would otherwise shuffle both sides
    val prev = db.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = db.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      db.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      db.conf.set("spark.sql.adaptive.enabled", "false")
      val j = db.table("orders_bkt").join(db.table("customer_bkt"),
        col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be shuffle-free:\n$plan")
      assert(j.count() == o.count())
    } finally {
      db.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      db.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("partitioned layout prunes non-matching partitions at scan") {
    val out = graft.ops.Scratch.dir("graft_part")
    val o = Tables.orders(spark, sf)
      .withColumn("order_year", year(col("o_orderdate")))
    o.write.mode("overwrite").partitionBy("order_year").parquet(out)
    val filtered = spark.read.parquet(out)
      .filter(col("order_year") === 1995)
      .select(col("o_orderkey"), col("o_totalprice"))
    // the year predicate must become a partition filter (directory
    // pruning), not a row filter over the full scan
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") &&
      scan.contains("order_year"), s"no partition pruning:\n$scan")
    val expected = o.filter(col("order_year") === 1995).count()
    assert(filtered.count() == expected && expected > 0)
  }
}
