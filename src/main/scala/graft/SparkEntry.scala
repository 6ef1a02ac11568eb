package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Entry points of the graded suite — see SURVEY.md §7.
  *
  * The engine is a library of named, oracle-paired DataFrame pipelines
  * grouped into operator modules (graft.operators.*); this object
  * concatenates them for the driver's t1/t2/bench harness.
  */
object SparkEntry {

  private[graft] val modules: Seq[OpModule] =
    Seq(Scans, Joins, Aggregates, SortSet, Subqueries, Windows, Events,
      LlmText, LlmSim, EtlMerge, Graph)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3 shape: scan → pushed filters → broadcast+shuffle joins →
    * hash aggregate → top-k.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val c = Tables.customer(spark, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    Tables.lineitem(spark, d)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Every graded query, by name: the one registry Bench, Verify,
    * PlanDump, the benchmark harness and the specs read. Each result
    * goes through `GraftBridge.onePartitionSortIfSmall`: the total-order
    * sort every graded query ends in (the `OpModule` determinism
    * contract) runs in one task, without a range exchange, whenever the
    * query's inputs fit the session's broadcast threshold. That task
    * runs the sort's whole input stage, not just the sort. Over larger
    * inputs the sort stays a parallel range sort. Raising
    * `spark.sql.autoBroadcastJoinThreshold` to force broadcasts also
    * widens one-task sorting to inputs of that size. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _).map { case (name, q) =>
      name -> ((s: SparkSession, d: String) => GraftBridge.onePartitionSortIfSmall(q(s, d)))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check).
    */
  def oracleSql: Map[String, String] =
    modules.map(_.oracles).reduce(_ ++ _)
}
