package graft

import java.nio.file.Files

import graft.sources.BucketedLayout
import org.apache.spark.sql.functions._

/** The co-located-join contract: two tables bucketed by the join key
  * into the same bucket count join AND aggregate on that key with ZERO
  * shuffles — the layout-time shuffle is the only one ever paid. */
class BucketedLayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val (ordersTbl, itemsTbl) = {
    val db = "graft_bltest"
    BucketedLayout.ensureDatabase(spark, db,
      QueriesShared.tempDir("graft_bltest_").toString)
    val orders = (1L to 200L).map(k => (k, s"P${k % 5}")).toDF("o_orderkey", "o_pri")
    val items = (1L to 200L).flatMap(k =>
      (1 to (k % 4 + 1).toInt).map(i => (k, i, k * 0.5 + i))
    ).toDF("l_orderkey", "l_num", "l_price")
    BucketedLayout.writeBucketed(orders, s"$db.orders_b", "o_orderkey", 4)
    BucketedLayout.writeBucketed(items, s"$db.items_b", "l_orderkey", 4)
    (s"$db.orders_b", s"$db.items_b")
  }

  private def joined = {
    val o = spark.table(ordersTbl)
    val l = spark.table(itemsTbl)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(o("o_orderkey"), col("o_pri"))
      .agg(round(sum("l_price"), 2).as("rev"), count(lit(1)).as("n"))
  }

  test("bucketed join + keyed agg plans with no shuffle Exchange") {
    // Disable broadcast so the pin proves CO-LOCATION, not small-side
    // luck — at 100 TB neither fact side broadcasts.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning")
          && !plan.contains("Exchange rangepartitioning")
          && !plan.contains("Exchange SinglePartition"),
        s"bucketed join/agg must not shuffle:\n${plan.take(3000)}")
      assert(plan.contains("SelectedBucketsCount"), plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed result is layout-independent (matches the raw-frame join)") {
    val got = joined
      .orderBy("o_orderkey")
      .as[(Long, String, Double, Long)].collect().toSeq
    val orders = (1L to 200L).map(k => (k, s"P${k % 5}")).toDF("o_orderkey", "o_pri")
    val items = (1L to 200L).flatMap(k =>
      (1 to (k % 4 + 1).toInt).map(i => (k, i, k * 0.5 + i))
    ).toDF("l_orderkey", "l_num", "l_price")
    val want = orders.join(items, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_pri")
      .agg(round(sum("l_price"), 2).as("rev"), count(lit(1)).as("n"))
      .orderBy("o_orderkey")
      .as[(Long, String, Double, Long)].collect().toSeq
    assert(got == want)
  }

  test("ensureDatabase survives an apostrophe-bearing location and quotes the db") {
    val loc = QueriesShared.tempDir("graft_bl_q_").resolve("it's a dir")
    Files.createDirectory(loc)
    BucketedLayout.ensureDatabase(spark, "graft_bltest_q", loc.toString)
    assert(spark.catalog.databaseExists("graft_bltest_q"))
    intercept[IllegalArgumentException] {
      BucketedLayout.ensureDatabase(spark, "bad`name", "/tmp/x")
    }
  }

  test("per-bucket sort is recorded: scan carries the bucket spec") {
    val meta = spark.sql(s"DESCRIBE EXTENDED $ordersTbl")
      .as[(String, String, String)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(meta.get("Num Buckets").exists(_.trim == "4"), meta.toString)
    assert(meta.get("Bucket Columns").exists(_.contains("o_orderkey")))
    assert(meta.get("Sort Columns").exists(_.contains("o_orderkey")))
  }
}
