package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r17: the shared user-clustered events base (Events.evtByUser) and
  * the layout-declaring checkpoint behind it
  * (GraftBridge.checkpoint with a declared Layout).
  *
  * What must hold for the optimization to be real AND safe:
  *  - contents: the base is the events table, row for row (same
  *    multiset — repartition+sort+checkpoint must not drop/dup rows);
  *  - layout: a user-partitioned window over the base plans with NO
  *    Exchange and, when ordered by (ts, event_id), NO Sort — the
  *    whole point of declaring the layout (plain localCheckpoint
  *    re-enters the planner as UnknownPartitioning under AQE);
  *  - honesty: the declared HashPartitioning is the TRUE layout —
  *    every row sits in the partition Spark's hash repartition maps
  *    its user_id to (a false declaration would silently corrupt any
  *    later co-partition join).
  */
class EvtBaseSpec extends SparkSpec {

  private val sf = Fixtures.testdata("0.001")

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: children.flatMap(deepNodes)
  }

  test("evtByUser is the events table, row for row") {
    operators.SessionMemo.clear()
    val base = operators.Events.evtByUser(spark, sf)
      .select("event_id", "user_id", "event_type")
    val raw = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type")
    assert(base.exceptAll(raw).isEmpty && raw.exceptAll(base).isEmpty,
      "shared base must carry exactly the events rows")
  }

  test("a user window over evtByUser plans with no Exchange and no Sort") {
    operators.SessionMemo.clear()
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val df = operators.Events.evtByUser(spark, sf)
      .select(col("user_id"), col("event_id"),
        lead("event_type", 1).over(w).as("nt"))
    // no orderBy terminal here, so ANY Exchange/Sort would belong to
    // the window — the base's declared layout must satisfy both.
    val nodes = deepNodes(executed(df))
    assert(!nodes.exists(_.isInstanceOf[Exchange]),
      s"window over the base must not exchange:\n${executed(df)}")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      s"window ordered by (ts, event_id) over the base must not re-sort:\n${executed(df)}")
  }

  test("the declared HashPartitioning is the true physical layout") {
    operators.SessionMemo.clear()
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val placed = operators.Events.evtByUser(spark, sf)
      .select(col("user_id"), spark_partition_id().as("pid"))
      // the partition Spark's HashPartitioning(user_id, n) maps to:
      .withColumn("expect", pmod(hash(col("user_id")), lit(n)))
    val wrong = placed.filter(col("pid") =!= col("expect")).count()
    assert(wrong == 0L,
      s"$wrong rows sit outside their declared hash partition — the " +
        "declared layout would corrupt co-partition joins")
  }
}
