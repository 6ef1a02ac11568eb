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
    * `UnknownPartitioning(0)`). Verified before anything runs: every
    * declared column names exactly one output column, and the analyzed
    * plan ENDS in `repartition(n, partCols)` (a REPARTITION_BY_NUM
    * shuffle — AQE never coalesces or skew-splits a user-numbered
    * repartition, so the RDD's layout IS HashPartitioning(partCols, n))
    * followed by `sortWithinPartitions(orderCols)`, ascending with
    * nulls first. After the checkpoint the RDD's partition count is
    * checked against `n`. */
  def checkpoint(df: Dataset[Row], layout: Option[Layout] = None): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    layout.foreach(verifyLayout(ds.logicalPlan, _))
    val leaf = ds.localCheckpoint(eager = true)
      .asInstanceOf[classic.Dataset[Row]].logicalPlan
      .asInstanceOf[execution.LogicalRDD]
    val (part, ord) = layout.fold((leaf.outputPartitioning, leaf.outputOrdering)) {
      case Layout(n, partCols, orderCols) =>
        require(leaf.rdd.getNumPartitions == n,
          s"checkpoint: RDD has ${leaf.rdd.getNumPartitions} partitions, " +
            s"caller declared $n — plan must end in repartition(n, cols)")
        def attr(c: String) = leaf.output.find(_.name == c).get
        (catalyst.plans.physical.HashPartitioning(partCols.map(attr), n),
          orderCols.map(c => catalyst.expressions.SortOrder(
            attr(c), catalyst.expressions.Ascending)))
    }
    val master = SparkEnv.get.blockManager.master
    val stored = (0 until leaf.rdd.getNumPartitions).iterator
      .flatMap(p => master.getBlockStatus(RDDBlockId(leaf.rdd.id, p)).values)
      .map(b => b.memSize + b.diskSize).sum
    classic.Dataset.ofRows(ds.sparkSession,
      leaf.copy(outputPartitioning = part, outputOrdering = ord)(ds.sparkSession,
        Some(logical.Statistics(sizeInBytes = BigInt(math.max(1L, stored)))),
        Some(leaf.constraints)))
  }

  /** `plan` ends in `Sort(orderCols asc, global = false)` over
    * `RepartitionByExpression(partCols, n)`, and every declared column
    * names exactly one output column. */
  private def verifyLayout(plan: logical.LogicalPlan, l: Layout): Unit = {
    (l.partCols ++ l.orderCols).distinct.foreach { c =>
      val found = plan.output.count(_.name == c)
      require(found == 1, s"checkpoint: declared layout column '$c' matches $found " +
        s"output columns of [${plan.output.map(_.name).mkString(", ")}]")
    }
    import catalyst.expressions.{Ascending, Attribute, Expression, NullsFirst, SortOrder}
    def name(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    val laidOut = plan match {
      case logical.Sort(order, false, r: logical.RepartitionByExpression, _) =>
        r.optNumPartitions.contains(l.n) &&
          r.partitionExpressions.map(name) == l.partCols.map(Some(_)) &&
          order.map {
            case SortOrder(e, Ascending, NullsFirst, _) => name(e)
            case _ => None
          } == l.orderCols.map(Some(_))
      case _ => false
    }
    require(laidOut, s"checkpoint: declared $l, but the plan does not end in " +
      s"repartition(${l.n}, ${l.partCols.mkString(", ")}).sortWithinPartitions(" +
      s"${l.orderCols.mkString(", ")}):\n${plan.treeString}")
  }

  /** `df` with its root global sort — under any Project or SQL `WITH`
    * above it — planned over ONE unshuffled partition
    * (`Repartition(1, shuffle = false)`, a CoalesceExec reporting
    * SinglePartition) when `df`'s inputs are small: the
    * `stats.sizeInBytes` of the analyzed plan's distinct leaves
    * (subquery plans included) sum to at most the session's
    * `spark.sql.autoBroadcastJoinThreshold`. `SparkEntry.queries`
    * applies it to every graded result. A global sort otherwise plans
    * a range exchange, whose RangePartitioner runs a sampling job that
    * computes the sort's whole input stage before the shuffle-map job
    * computes it again. A coalesce adds no stage boundary, so the
    * whole last stage runs in that one task: everything back to the
    * previous shuffle (scans, broadcast joins, windows, expressions),
    * not just the sort. A sort under a Limit is left as it is: it
    * plans as TakeOrderedAndProject, which never samples. A plan
    * without a root sort is returned as is.
    *
    * A file scan's leaf reports its compressed file bytes (before any
    * filter), a checkpoint leaf its stored bytes; a reference to a SQL
    * `WITH` relation is counted through the leaves of its definition.
    * Leaves are told apart by their canonical form, so an input read
    * more than once (a self-join, a checkpoint read in two branches)
    * counts once.
    * The sum bounds neither the last stage's CPU cost nor the rows the
    * sort gets (a join can expand them), and the threshold bounds a
    * relation sent to every executor, not a stage's work: the cut-off
    * is measured, not derived. Timed per query at sf0.1 on 2 and 4
    * cores, the one-task plans of the admitted queries took 18–19%
    * less time in total than their range sorts, and the one-task plan
    * also won on the inputs above the default 10 MB; on more cores,
    * and for a CPU-heavy last stage, the range sort's parallelism
    * counts for more. Raising the threshold to force broadcasts also
    * widens one-task sorting to inputs of that size. The optimizer's
    * estimate of the sort input is not used: for a join it is the
    * product of the children (34 GB for a 60k-row equi-join).
    * A threshold <= 0 disables the rewrite; a streaming frame, or a
    * plan over larger inputs, keeps its parallel range sort. */
  def onePartitionSortIfSmall(df: Dataset[Row]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val bound = ds.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    def inputBytes = ds.logicalPlan
      .collectWithSubqueries {
        case l: logical.LeafNode if !l.isInstanceOf[logical.CTERelationRef] => l
      }.distinctBy(_.canonicalized).map(_.stats.sizeInBytes).sum
    def pin(p: logical.LogicalPlan): Option[logical.LogicalPlan] = p match {
      case s: logical.Sort if s.global =>
        Some(s.copy(child = logical.Repartition(1, shuffle = false, s.child)))
      case p: logical.Project => pin(p.child).map(c => p.copy(child = c))
      case w: logical.WithCTE => pin(w.plan).map(c => w.copy(plan = c))
      case _ => None
    }
    if (bound <= 0 || df.isStreaming || inputBytes > bound) df
    else pin(ds.logicalPlan).fold(df)(classic.Dataset.ofRows(ds.sparkSession, _))
  }
}
