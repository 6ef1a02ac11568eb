package graft

import org.apache.spark.QueryProbe
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.operators.SessionMemo

/** The library's one eager materialization (`GraftBridge.checkpoint`,
  * which every in-query cut and every session-memo leaf goes through),
  * the registry's terminal sort over it, and the parquet schema memo of
  * `Tables`: the Spark jobs they exist to remove must stay removed, and
  * the shortcuts must stay correct. */
class CheckpointSpec extends SparkSpec {
  private val sf = Fixtures.testdata("0.001")

  /** 3 rows whose optimizer estimate is a cross-join product of two
    * lineitem projections. */
  private def threeRows: DataFrame = {
    val li = Tables.lineitem(spark, sf)
    li.select("l_returnflag").distinct()
      .crossJoin(li.filter(col("l_linenumber") === 1).select("l_linenumber").distinct())
  }

  private val broadcastLimit = 10L * 1024 * 1024

  test("a cut leaf reports the stored size of its blocks, not the plan estimate") {
    assert(threeRows.queryExecution.optimizedPlan.stats.sizeInBytes > broadcastLimit,
      "fixture: the lazy plan must estimate above the broadcast threshold")
    val cut = GraftBridge.checkpoint(threeRows)
    assert(cut.count() === 3L)
    val size = cut.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < 64 * 1024, s"3 stored rows reported as $size bytes")
  }

  test("a join of a small cut to a parquet frame broadcasts the cut in AQE's initial plan") {
    val cut = GraftBridge.checkpoint(threeRows)
    val joined = Tables.lineitem(spark, sf).join(cut, Seq("l_returnflag", "l_linenumber"))
    // Not executed: the adaptive root's current plan is its initial plan.
    val initial = joined.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    val bhj = initial.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size === 1, s"expected one BroadcastHashJoin in the initial plan:\n$initial")
    val build = bhj.head.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.head.left
      case _ => bhj.head.right
    }
    assert(build.collectFirst { case s: RDDScanExec => s }.isDefined,
      s"the broadcast side must be the checkpoint scan:\n$initial")
    assert(joined.count() > 0L)
  }

  test("the registry sorts a result over a checkpoint in one job with no Exchange") {
    // A graded result is lazy: its terminal total-order sort runs in
    // the caller's action, pinned to one partition by the registry's
    // rule (`onePartitionSortIfSmall`) because the checkpoint leaf is
    // small, so no range exchange and no sampling job runs. A sort
    // under a Limit plans as TakeOrderedAndProject either way.
    val rows = (0L until 1000L).filter(_ % 7 == 0).reverse
    val cut = GraftBridge.checkpoint(spark.range(0, 1000, 1, 4).toDF())
    for (limit <- Seq(None, Some(5))) {
      val sorted = cut.filter(col("id") % 7 === 0).orderBy(col("id").desc)
      val out = GraftBridge.onePartitionSortIfSmall(limit.fold(sorted)(sorted.limit))
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"limit=$limit:\n$plan")
      val (got, stats) = QueryProbe.measure(spark)(out.collect())
      assert(stats.jobs === 1, s"limit=$limit: the terminal sort ran ${stats.jobs} jobs")
      assert(got.map(_.getLong(0)).toSeq === limit.fold(rows)(rows.take))
    }
  }

  test("reading the same table twice launches one footer job") {
    val dir = Fixtures.tempDir()
    Fixtures.lineitem(spark, dir, Seq(1L -> 2L, 3L -> 4L))
    val (_, stats) = QueryProbe.measure(spark) {
      Tables.lineitem(spark, dir)
      Tables.lineitem(spark, dir)
    }
    assert(stats.jobs === 1)
    assert(Tables.lineitem(spark, dir).count() === 2L)
  }

  test("rewriting a parquet source with a new schema makes the next read re-infer it") {
    val dir = Fixtures.tempDir()
    Fixtures.lineitem(spark, dir, Seq(1L -> 2L))
    assert(Tables.lineitem(spark, dir).columns.toSeq === Seq("l_orderkey", "l_partkey"))
    Fixtures.write(spark.range(3).select(col("id").as("l_orderkey"),
      lit("x").as("l_comment")), dir, "lineitem")
    val again = Tables.lineitem(spark, dir)
    assert(again.columns.toSeq === Seq("l_orderkey", "l_comment"))
    assert(again.count() === 3L)
  }

  test("a declared layout must match the partition count and name unique columns") {
    def laid = spark.range(8).toDF("k").repartition(2, col("k")).sortWithinPartitions("k")
    val ok = GraftBridge.checkpoint(laid, Some(GraftBridge.Layout(2, Seq("k"), Seq("k"))))
    assert(ok.count() === 8L)
    intercept[IllegalArgumentException](
      GraftBridge.checkpoint(laid, Some(GraftBridge.Layout(3, Seq("k"), Seq("k")))))
    intercept[IllegalArgumentException](
      GraftBridge.checkpoint(laid.select(col("k"), col("k")),
        Some(GraftBridge.Layout(2, Seq("k"), Seq("k")))))
    intercept[IllegalArgumentException](
      GraftBridge.checkpoint(laid, Some(GraftBridge.Layout(2, Seq("k"), Seq("missing")))))
  }

  test("a declared layout must be the plan's last repartition and sort") {
    val parts = spark.range(8).toDF("k").withColumn("v", -col("k")).repartition(2, col("k"))
    def declare(df: DataFrame) =
      GraftBridge.checkpoint(df, Some(GraftBridge.Layout(2, Seq("k"), Seq("k"))))
    val unsorted = intercept[IllegalArgumentException](declare(parts))
    assert(unsorted.getMessage.contains("sortWithinPartitions"))
    intercept[IllegalArgumentException](declare(parts.sortWithinPartitions("v")))
    intercept[IllegalArgumentException](declare(parts.sortWithinPartitions(col("k").desc)))
    intercept[IllegalArgumentException](declare(parts.sortWithinPartitions("k").filter(col("v") < 0)))
    intercept[IllegalArgumentException](
      declare(spark.range(8).toDF("k").repartition(2).sortWithinPartitions("k")))
    assert(declare(parts.sortWithinPartitions("k")).count() === 8L)
  }

  test("evtByUser is laid out for the session's current shuffle partition count") {
    SessionMemo.clear()
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      val a = operators.Events.evtByUser(spark, sf).rdd.getNumPartitions
      spark.conf.set(key, "3")
      val b = operators.Events.evtByUser(spark, sf).rdd.getNumPartitions
      assert(a === before.toInt)
      assert(b === 3, "a memoized base laid out for another partition count was served")
    } finally {
      spark.conf.set(key, before)
      SessionMemo.clear()
    }
  }

  test("a memoized chain is rebuilt after the shuffle partition count changes") {
    SessionMemo.clear()
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      val a = operators.Graph.lpaLabels(spark, sf)
      assert(operators.Graph.lpaLabels(spark, sf) eq a, "the memo missed under one conf")
      spark.conf.set(key, "3")
      assert(!(operators.Graph.lpaLabels(spark, sf) eq a),
        "a chain memoized under another partition count was served")
    } finally {
      spark.conf.set(key, before)
      SessionMemo.clear()
    }
  }
}
