package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.storage.RDDBlockId

/** Minimal `private[sql]`-access bridge so the graft library can wrap
  * its custom Catalyst expressions as public `Column`s and register
  * SQL functions on a live session. The same pattern every public
  * Spark extension library uses for Expression-backed Columns.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def functionRegistry(spark: SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** Current-database table names straight off the session catalog —
    * driver-side metadata, no Dataset materialization. */
  def catalogTableNames(spark: SparkSession): Seq[String] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .listTables(spark.catalog.currentDatabase).map(_.table)

  /** A physical layout a checkpoint may declare: `n` hash partitions on
    * `partCols`, each sorted ascending (nulls first) by `orderCols`. */
  final case class Layout(n: Int, partCols: Seq[String], orderCols: Seq[String])

  /** THE eager materialization of the library: a local checkpoint
    * whose `LogicalRDD` leaf reports the MEASURED size of its stored
    * blocks as `stats.sizeInBytes`. `Dataset.localCheckpoint` keeps the
    * optimizer's estimate of the plan it replaced — a product of
    * children for a join — under which a join over a node-sized cut
    * plans as a SortMergeJoin that AQE demotes to a broadcast only
    * after both sides' shuffle-map jobs ran. The size comes from the
    * block manager master, which every block put reports to
    * synchronously before its task ends (`getRDDStorageInfo` reads the
    * listener-fed status store, which can lag the job).
    *
    * `layout` (r17) additionally declares the frame's physical layout:
    * under AQE the adaptive root reports `UnknownPartitioning`, so a
    * hash-clustered + sorted frame would re-enter the planner
    * layout-less and every consumer would pay the Exchange + Sort
    * again (measured: the r17 evt base checkpointed to
    * `UnknownPartitioning(0)`). CONTRACT (caller-verified): the input
    * plan must END in `repartition(n, partCols)` (a REPARTITION_BY_NUM
    * shuffle — AQE never coalesces or skew-splits a user-numbered
    * repartition, so the RDD's layout IS HashPartitioning(partCols, n))
    * followed by `sortWithinPartitions(orderCols)`. Checked here: the
    * partition count is `n`, and every declared column names exactly
    * one output column. */
  def checkpoint(df: Dataset[Row], layout: Option[Layout] = None): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val leaf = df.localCheckpoint(eager = true)
      .asInstanceOf[classic.Dataset[Row]].logicalPlan
      .asInstanceOf[execution.LogicalRDD]
    val (part, ord) = layout.fold((leaf.outputPartitioning, leaf.outputOrdering)) {
      case Layout(n, partCols, orderCols) =>
        require(leaf.rdd.getNumPartitions == n,
          s"checkpoint: RDD has ${leaf.rdd.getNumPartitions} partitions, " +
            s"caller declared $n — plan must end in repartition(n, cols)")
        def attr(c: String) = leaf.output.filter(_.name == c) match {
          case Seq(a) => a
          case found => throw new IllegalArgumentException(
            s"checkpoint: declared layout column '$c' matches ${found.size} " +
              s"output columns of [${leaf.output.map(_.name).mkString(", ")}]")
        }
        (catalyst.plans.physical.HashPartitioning(partCols.map(attr), n),
          orderCols.map(c => catalyst.expressions.SortOrder(
            attr(c), catalyst.expressions.Ascending)))
    }
    val master = SparkEnv.get.blockManager.master
    val stored = (0 until leaf.rdd.getNumPartitions).iterator
      .flatMap(p => master.getBlockStatus(RDDBlockId(leaf.rdd.id, p)).values)
      .map(b => b.memSize + b.diskSize).sum
    classic.Dataset.ofRows(spark,
      leaf.copy(outputPartitioning = part, outputOrdering = ord)(spark,
        Some(logical.Statistics(sizeInBytes = BigInt(math.max(1L, stored)))),
        Some(leaf.constraints)))
  }

  /** `df` with its root global sort — under any Project/Limit above
    * it — planned over ONE unshuffled partition
    * (`Repartition(1, shuffle = false)`, a CoalesceExec reporting
    * SinglePartition). A global sort otherwise plans a range exchange:
    * one RangePartitioner sampling job plus one shuffle-map job before
    * the sort runs. Only for dimension-sized results (the
    * `scopedPersist` contract); a plan without a root sort is
    * returned as is. */
  def onePartitionSort(df: Dataset[Row]): DataFrame = {
    def pin(p: logical.LogicalPlan): Option[logical.LogicalPlan] = p match {
      case s: logical.Sort if s.global =>
        Some(s.copy(child = logical.Repartition(1, shuffle = false, s.child)))
      case _: logical.Project | _: logical.GlobalLimit | _: logical.LocalLimit =>
        pin(p.children.head).map(c => p.withNewChildren(Seq(c)))
      case _ => None
    }
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    pin(ds.logicalPlan).fold(df)(classic.Dataset.ofRows(ds.sparkSession, _))
  }
}
