package graft

import graft.sources.Sources

/** Bucketed co-located joins: both sides pre-hashed into matching
  * bucket counts on the join key must sort-merge WITHOUT any exchange —
  * the plan shape that amortizes the shuffle of a repeatedly-joined
  * 100 TB fact table down to zero.
  */
class BucketingSpec extends SparkSpec {

  test("join on the bucket key runs with no exchange on either side") {
    val sf = Fixtures.testdata("0.001")
    Sources.writeBucketed(Tables.orders(spark, sf), "b_orders", "o_orderkey", 4)
    Sources.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "b_lineitem", "l_orderkey", 4)
    try {
      // force the shuffle-ful path to be the alternative: no broadcast
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.table("b_lineitem")
          .join(spark.table("b_orders"),
            org.apache.spark.sql.functions.col("l_orderkey") ===
              org.apache.spark.sql.functions.col("o_orderkey"))
        assert(j.count() === Tables.lineitem(spark, sf).count())
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange"),
          s"bucketed join still shuffles:\n$plan")
        // non-bucketed twin of the same join DOES shuffle — the control
        val raw = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
          .join(Tables.orders(spark, sf),
            org.apache.spark.sql.functions.col("l_orderkey") ===
              org.apache.spark.sql.functions.col("o_orderkey"))
        raw.count()
        assert(raw.queryExecution.executedPlan.toString.contains("Exchange"))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("group-by on the bucket key needs no exchange before the aggregate") {
    val sf = Fixtures.testdata("0.001")
    Sources.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "b_li_agg", "l_orderkey", 4)
    try {
      val agg = spark.table("b_li_agg").groupBy("l_orderkey").count()
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed group-by still shuffles:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS b_li_agg")
  }
}
