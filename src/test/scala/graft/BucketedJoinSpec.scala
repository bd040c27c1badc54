package graft

import org.apache.spark.sql.functions._

/** Substantiates the 100 TB co-location claim in PLANS.md: two tables
  * bucketed by the join key join WITHOUT any Exchange — at scale this is
  * the difference between an all-to-all shuffle of both fact tables and
  * a purely local merge per bucket. (Bucketing needs a catalog table, so
  * this writes to a temp warehouse; the production analogue is the same
  * `bucketBy` on the lake catalog.)
  */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed co-located join plans zero exchanges") {
    val dir = tempDir("graft_bucketed").toString
    val orders = (1L to 1000L).map(k => (k, k % 97, s"P$k")).toDF("o_orderkey", "o_custkey", "o_tag")
    val lines = (1L to 3000L).map(i => (i % 1000 + 1, i, i * 1.5)).toDF("l_orderkey", "l_lineid", "l_amount")

    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/orders_b").saveAsTable("orders_b")
    lines.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/lines_b").saveAsTable("lines_b")
    // Disable auto-broadcast: with a broadcastable side the planner
    // rightly ignores bucketing, and the point here is the co-located
    // big⋈big path.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lines_b"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"expected no shuffle, got:\n$plan")
      assert(joined.count() == 3000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lines_b")
    }
  }
}
