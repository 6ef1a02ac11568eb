package graft

/** Generic 100 TB-shape sweep over EVERY graded query (r11, r10
  * verdict #9): PlansSpec locks ~75 flagship shapes in detail; this
  * suite closes the remaining gap with invariants that hold for ALL
  * 327 graded queries, so a planner regression ANYWHERE fails
  * `sbt test` instead of a future bench:
  *
  *  1. No query may plan a shuffled CartesianProduct. (Gated
  *     cross-pair universes are fine — they plan as
  *     BroadcastNestedLoopJoin over a broadcast gated side, which is
  *     exactly the shape that scales; a CartesianProduct means BOTH
  *     sides shuffle everywhere.)
  *  2. Every window function must be partitioned, except the
  *     explicitly listed queries whose global windows ride provably
  *     bounded frames (dimension-sized or gate-bounded — each listed
  *     with its bound below, and each such window's site in the code
  *     names the same bound). A new unpartitioned window anywhere
  *     else — ordered or not; either runs as Spark's "WindowExec: No
  *     Partition Defined" single-partition frame — is the classic
  *     scale killer, and a listed query that no longer plans one
  *     fails too, so the list names exactly the queries behind that
  *     warning.
  *  3. No shuffled join builds against a raw dimension table.
  *  4. At sf0.001, where every query's inputs are far below the
  *     broadcast threshold, no query plans a range exchange: the
  *     terminal total-order sort runs in one partition
  *     (`SparkEntry.queries`), so no RangePartitioner sampling job
  *     computes the sort's input stage a second time.
  *
  * Plans are inspected WITHOUT executing (queryExecution.executedPlan
  * before any action): cartesians, window specs and exchanges of the
  * initial plan are structural, not AQE-dependent. Every graded result
  * is lazy, so each plan is the one the query's action runs, from its
  * sources or the checkpoints its body takes while it is built (the
  * iterative kernels' rounds, the session memo's leaves) to the
  * terminal sort. Building those checkpoints runs their jobs, so the
  * sweep's construction doubles as a smoke run of the chains.
  */
class PlanSweepSpec extends SparkSpec {

  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

  private val sf = Fixtures.testdata("0.001")

  /** Queries whose global (unpartitioned) windows ride bounded frames
    * — the bound is the invariant; anything NOT listed here must
    * partition every window. */
  private val boundedGlobalWindows: Map[String, String] = Map(
    "etl_backfill_plan" -> "|missing days| rows (gap spine)",
    "etl_ttl_purge_plan" -> "|distinct days| rows (age ledger)",
    "text_zipf" -> "top-50 vocabulary frame",
    "mix_curriculum_order" -> "|sources| rank frame",
    "win_mom_growth" -> "monthly grain — ~|months| rows",
    "evt_abtest_hl" -> "gated <=2,500-pair HL median (user_id < 100)",
    "agg_gini" -> "two-phase bucket offsets — |buckets| frame, never |customers|",
    "agg_ks_test" -> "two-phase bucket offsets — |buckets| frame",
    "agg_quantile_sketch" -> ("two-phase bucket offsets — |price buckets| frame; " +
      "coreset cumulative weight over <= 256 rows per lineitem partition"),
    "sample_user_cap" -> "count-of-counts histogram — |distinct per-user count values| frame, never |users|",
    "win_pct_of_total" -> "grand total over the 25-row nation rollup",
    "agg_benford" -> "grand total over the <= 10-row leading-digit rollup")

  /** Window specs with no partition columns: the argument list starts
    * with a sort column or, for an unordered frame, with the frame
    * itself — the single-partition shape. The first TOP-LEVEL argument is extracted paren-depth-
    * aware (r11 advice: a naive split on ',' truncates an ordering
    * expression that itself contains commas — e.g. pmod(x, 2) ASC →
    * head "pmod(x" with no " ASC" — and the single-partition shape
    * the sweep exists to catch escapes detection). */
  private def unpartitionedSpecs(plan: String): Seq[String] =
    plan.split("windowspecdefinition\\(").drop(1).toSeq
      .map(_.takeWhile(_ != '\n'))
      .filter { spec =>
        val head = new StringBuilder
        var depth = 0
        var done = false
        spec.foreach { c =>
          if (!done) c match {
            case '(' => depth += 1; head.append(c)
            case ')' =>
              if (depth == 0) done = true // the spec's own closing paren
              else { depth -= 1; head.append(c) }
            case ',' if depth == 0 => done = true
            case _ => head.append(c)
          }
        }
        val h = head.toString
        h.contains(" ASC") || h.contains(" DESC") || h.startsWith("specifiedwindowframe")
      }

  /** Every graded query's physical plan (tree + string), computed
    * ONCE — building a query runs its body's checkpoint jobs, so
    * per-test recomputation would triple the suite's wall-clock. */
  private lazy val physical: Seq[(String, SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.executedPlan
    }

  private lazy val plans: Seq[(String, String)] =
    physical.map { case (n, p) => n -> p.toString }

  /** Descend across AQE stage / reused-exchange boundaries (the
    * PlansSpec deepNodes discipline — TreeNode.collect does not). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: children.flatMap(nodes)
  }

  private val DimTables = Set("region", "nation", "supplier")

  /** If this join side is a RAW dimension read — no join / aggregate /
    * window / generate anywhere in the subtree, every leaf scan one of
    * the three dimension tables — return the table name. A raw dim
    * side under a shuffled join is the broadcast-degradation shape:
    * it should always have planned a broadcast build. (A dim scan
    * under an aggregate or another join is a composite side — those
    * may legitimately shuffle.) */
  private def rawDimSide(side: SparkPlan): Option[String] = {
    val ns = nodes(side)
    val composite = ns.exists { n =>
      val nn = n.nodeName
      nn.contains("Join") || nn.contains("Aggregate") ||
        nn.contains("Window") || nn.contains("Generate")
    }
    if (composite) None
    else {
      val scans = ns.collect { case f: FileSourceScanExec =>
        DimTables.find(t => f.relation.location.rootPaths
          .exists(_.toString.contains(s"/$t.parquet")))
      }
      if (scans.nonEmpty && scans.forall(_.isDefined)) scans.head else None
    }
  }

  /** Shuffled joins whose build-able side is a raw dimension read. */
  private def dimShuffleJoins(p: SparkPlan): Seq[String] =
    nodes(p).flatMap {
      case j: SortMergeJoinExec =>
        (rawDimSide(j.left).toSeq ++ rawDimSide(j.right).toSeq)
          .map(t => s"SortMergeJoin over raw $t")
      case j: ShuffledHashJoinExec =>
        (rawDimSide(j.left).toSeq ++ rawDimSide(j.right).toSeq)
          .map(t => s"ShuffledHashJoin over raw $t")
      case _ => Nil
    }

  test("spec parser catches comma-bearing unpartitioned orderings") {
    // The r11-advice escape case: ordered by an expression containing
    // a comma, no partition columns — must be detected; the same
    // expression BEHIND a partition column must pass.
    val bad = "Window [windowspecdefinition(pmod(x#1, 2) ASC NULLS FIRST, " +
      "specifiedwindowframe(RangeFrame, unboundedpreceding$(), currentrow$()))]"
    assert(unpartitionedSpecs(bad).nonEmpty,
      "comma-bearing unpartitioned ordering escaped detection")
    val ok = "Window [windowspecdefinition(grp#2, pmod(x#1, 2) ASC NULLS " +
      "FIRST, specifiedwindowframe(RangeFrame, unboundedpreceding$(), " +
      "currentrow$()))]"
    assert(unpartitionedSpecs(ok).isEmpty,
      "partitioned window falsely flagged")
    // A grand total: no partition and no ordering, the frame first.
    val total = "Window [sum(v#3) windowspecdefinition(specifiedwindowframe(" +
      "RowFrame, unboundedpreceding$(), unboundedfollowing$()))]"
    assert(unpartitionedSpecs(total).nonEmpty,
      "unordered unpartitioned window escaped detection")
  }

  test("no graded query plans a shuffled CartesianProduct") {
    val offenders =
      plans.collect { case (n, p) if p.contains("CartesianProduct") => n }
    assert(offenders.isEmpty,
      s"queries planning shuffled cartesians: ${offenders.mkString(", ")}")
  }

  test("every window is partitioned unless its global frame is provably bounded") {
    val offenders = plans.flatMap { case (name, plan) =>
      if (boundedGlobalWindows.contains(name)) None
      else {
        val bad = unpartitionedSpecs(plan)
        if (bad.nonEmpty) Some(s"$name: ${bad.head.take(120)}") else None
      }
    }
    assert(offenders.isEmpty,
      "unpartitioned windows outside the bounded whitelist:\n" +
        offenders.mkString("\n"))
  }

  test("no graded query shuffle-joins a raw dimension table") {
    // r11 verdict #3 (broadcast-degradation gate): an explicit
    // broadcast() hint that silently degrades — dropped in a
    // refactor, or re-planned — turns a map-side dimension join into
    // a full shuffle of the fact side at 100 TB. The structural
    // invariant: a SortMergeJoin/ShuffledHashJoin may never build
    // against a RAW read (no join/agg/window between scan and join)
    // of region/nation/supplier — those always fit a broadcast.
    val offenders = physical.flatMap { case (name, plan) =>
      dimShuffleJoins(plan).map(o => s"$name: $o")
    }
    assert(offenders.isEmpty,
      "shuffled joins building a raw dimension side:\n" +
        offenders.mkString("\n"))
  }

  test("no graded query plans a range exchange over small inputs") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val offenders = physical.collect { case (name, plan) if nodes(plan).exists {
        case e: ShuffleExchangeLike => e.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      } => name }
    assert(offenders.isEmpty,
      s"range-partitioned sorts over sf0.001 inputs: ${offenders.mkString(", ")}")
  }

  test("the dim-shuffle detector fires on a deliberately degraded join") {
    // Prove the gate can actually catch the regression it exists for:
    // the same lineitem⋈supplier join WITH the broadcast path available
    // passes, and with broadcasting forbidden (what a dropped hint
    // plus a mis-estimate produces) plans an SMJ over the raw supplier
    // scan that the detector must flag.
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf).select("l_suppkey", "l_quantity")
    val sup = Tables.supplier(spark, sf).select("s_suppkey", "s_name")
    def plan() = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .queryExecution.executedPlan
    assert(dimShuffleJoins(plan()).isEmpty,
      "healthy broadcast-able join falsely flagged")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hits = dimShuffleJoins(plan())
      assert(hits.nonEmpty,
        "detector missed a forced SMJ over the raw supplier table")
      assert(hits.exists(_.contains("supplier")), s"wrong table named: $hits")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("whitelisted global windows still exist where declared") {
    // The whitelist must not rot: if a listed query no longer plans
    // any global window (e.g. it was reshaped), the entry should be
    // removed so the sweep stays tight.
    val planMap = plans.toMap
    val stale = boundedGlobalWindows.keys.toSeq.sorted.filter { name =>
      planMap.get(name).forall(p => unpartitionedSpecs(p).isEmpty)
    }
    assert(stale.isEmpty,
      s"whitelist entries with no global window (remove them): ${stale.mkString(", ")}")
  }
}
