package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Physical-plan audits: correctness tests prove the WHAT, these prove
  * the HOW survives a 100 TB scale-up — filters reach the parquet
  * scan, small dimensions broadcast, equi-joins never degenerate to
  * cartesian products, and map-side partial aggregation precedes every
  * shuffle-ful aggregate. Plan regressions (a lost pushdown, a
  * broadcast threshold miss) are graded failures at scale even though
  * every row still comes back right.
  */
class PlansSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // force AQE to finalize the adaptive plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def treeString(df: DataFrame): String = executed(df).toString

  /** Collect across AQE stage boundaries: finalized stages are leaf
    * QueryStageExec nodes that TreeNode.collect does not descend into,
    * so a plain collect on the adaptive plan misses everything inside
    * them. */
  private def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: children.flatMap(deepNodes)
  }

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("filter_pred pushes predicates into the parquet scan") {
    val scan = treeString(q("filter_pred"))
    assert(scan.contains("PushedFilters: ["),
      s"no pushed filters in:\n$scan")
    assert(!scan.contains("PushedFilters: []"),
      s"pushed-filter list is empty in:\n$scan")
  }

  test("scan_pruned reads only the projected columns") {
    val scan = treeString(q("scan_pruned"))
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipinstruct"),
      s"unpruned read schema: $readSchema")
  }

  test("join_broadcast and join_multiway broadcast their dimension sides") {
    // string-match: AQE wraps finalized stages in leaf QueryStageExec
    // nodes that TreeNode.collect does not descend into.
    Seq("join_broadcast", "join_multiway").foreach { name =>
      assert(treeString(q(name)).contains("BroadcastHashJoin"),
        s"$name: no broadcast hash join in plan")
    }
  }

  test("equi-joins never plan a cartesian product") {
    Seq("join_inner_equi", "join_left_outer", "join_semi", "join_anti",
      "join_multiway", "join_asof", "multimodal_join").foreach { name =>
      assert(!treeString(q(name)).contains("CartesianProduct"),
        s"$name degenerated to a cartesian product")
    }
  }

  test("join_interval_bucketed stays an equi-join — no BNL/cartesian fallback") {
    // the whole point of the grid-bucketing: a time-proximity join with
    // no natural equi key must NOT plan a nested-loop join.
    val plan = treeString(q("join_interval_bucketed"))
    assert(!plan.contains("CartesianProduct"),
      s"bucketed interval join degenerated to a cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed interval join degenerated to a nested loop:\n$plan")
  }

  test("scan_table_counts reads zero columns (metadata-driven count)") {
    val plan = treeString(q("scan_table_counts"))
    assert(plan.contains("ReadSchema: struct<>"),
      s"count(*) scan decodes data pages:\n$plan")
  }

  test("evt_rfm assigns quintiles with broadcast thresholds, not a window") {
    // the global-ntile formulation would serialize all users through
    // one partition; the threshold-broadcast shape must stay window-free.
    val plan = treeString(q("evt_rfm"))
    assert(!plan.contains("Window"), s"rfm plan grew a window operator:\n$plan")
  }

  test("agg_corr_matrix reads lineitem exactly once for all 10 moments") {
    val plan = treeString(q("agg_corr_matrix"))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"correlation matrix scans the table $scans times")
  }

  test("group-by aggregates do partial (map-side) aggregation before the shuffle") {
    val plan = treeString(q("agg_groupby"))
    // HashAggregate(partial) → Exchange → HashAggregate(final)
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
  }

  test("minhash signatures are a map-only plan (no shuffle before the sort)") {
    // the terminal orderBy runs in one partition over these small
    // inputs, so not even a range exchange remains
    val plan = executed(q("dedup_minhash_sig"))
    val exchanges = deepNodes(plan).collect { case e: Exchange => e }
    assert(exchanges.isEmpty, s"signature computation shuffles:\n$plan")
  }

  test("whole-stage codegen covers the relational hot paths") {
    // compact tree strings mark codegen stages as `*(n)`.
    Seq("agg_groupby", "join_inner_equi", "project_arith").foreach { name =>
      val plan = treeString(q(name))
      assert(plan.contains("*("), s"$name: no codegen spans:\n$plan")
    }
  }

  test("text_chunk and text_clean stay map-only up to the terminal sort") {
    Seq("text_chunk", "text_clean", "sample_hash").foreach { name =>
      val plan = executed(q(name))
      val exchanges = deepNodes(plan).collect { case e: Exchange => e }
      assert(exchanges.isEmpty, s"$name shuffles:\n$plan")
    }
  }

  test("etl merges run as one join, never a cartesian product") {
    Seq("etl_merge_upsert", "etl_scd2_merge").foreach { name =>
      val plan = treeString(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product")
      assert(plan.contains("FullOuter"), s"$name lost its full-outer join")
    }
  }

  test("embed_kmeans broadcasts the centroid side of every scoring pass") {
    val plan = treeString(q("embed_kmeans"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"centroid side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "kmeans cross-score degenerated to a non-broadcast cartesian")
  }

  test("subq_lateral plans a lateral join, not a cartesian re-execution") {
    assert(!treeString(q("subq_lateral")).contains("CartesianProduct"),
      "lateral subquery degenerated to a cartesian product")
  }

  test("embed_quantize broadcasts the per-dimension params") {
    val plan = treeString(q("embed_quantize"))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"quantization params not broadcast:\n$plan")
  }

  test("agg_argmax is one partial-aggregated pass (no window, no join)") {
    val plan = treeString(q("agg_argmax"))
    assert(plan.contains("partial_min") || plan.contains("partial_max"),
      s"no partial aggregation in argmax:\n$plan")
    assert(!plan.contains("Window"), s"argmax fell back to a window:\n$plan")
  }

  test("text_contamination broadcasts the benchmark gram set") {
    // the eval-set side must never shuffle the corpus gram stream
    // against itself — bench grams broadcast, overlap is map-side.
    val plan = treeString(q("text_contamination"))
    assert(plan.contains("BroadcastHashJoin"),
      s"bench gram set not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "contamination join degenerated to a cartesian")
  }

  /** Build a persist-scoped query's INNER (un-checkpointed) plan —
    * the public entry eagerly materializes via localCheckpoint, which
    * collapses the executed plan to an RDD scan; plan locks assert on
    * the pipeline underneath. The scope is released (and the cache
    * cleared) after the assertion runs. */
  private def scopedPlan(body: graft.operators.PersistScope => DataFrame)(
      check: String => Unit): Unit = {
    val scope = new graft.operators.PersistScope
    try check(treeString(body(scope)))
    finally scope.release()
  }

  test("sim_knn_pq broadcasts the query distance maps onto pivoted codes") {
    // ADC scoring (r15 pivot) = pivoted code rows (one per vector)
    // ⋈ broadcast of the ≤|Q|-row per-query distance-map table — the
    // only join fanout left is |Q|; the non-equi (vec_id ≠ q_id)
    // condition makes it a broadcast nested-loop against 10 rows,
    // NEVER a shuffled join or an unbroadcast cartesian.
    scopedPlan(graft.operators.LlmSim.knnPqBody(spark, sf)) { plan =>
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"distance-map table not broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        "ADC scoring degenerated to a cartesian")
    }
  }

  test("join_salted stays an equi-join on (key, salt)") {
    val plan = treeString(q("join_salted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"salted join lost its equi-join shape:\n$plan")
  }

  test("win_ewma folds on the day-grain rollup, not raw events") {
    // two partial-agged aggregations (daily sums, per-type series);
    // the O(n^2) fold must sit above the rollup, so the plan carries
    // partial aggregation before its exchanges.
    val plan = treeString(q("win_ewma"))
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
  }

  test("evt_rolling_active expands windows on day-grain pairs only") {
    // the BNL between-join is fine — it joins the ~30-row broadcast
    // day spine against day-grain pairs — but it must sit ABOVE the
    // distinct that collapses raw events, never against raw events.
    val plan = treeString(q("evt_rolling_active"))
    assert(plan.contains("BroadcastExchange"),
      s"day spine not broadcast:\n$plan")
    assert(plan.contains("partial_"),
      s"no partial distinct/agg below the range join:\n$plan")
  }

  test("graph_triangles pushes the order window into the scan and broadcasts degrees") {
    // r16: triangles reads the session-memoized edge cut, so the
    // parquet pushdown is locked on the EDGE BUILD plan; the consumer
    // plan keeps the broadcast/no-cartesian locks.
    val build = treeString(graft.operators.Graph.edges(spark, sf))
    val pushed = build.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("o_orderdate"),
      s"order-date window not pushed to the parquet scan:\n$pushed")
    val plan = treeString(q("graph_triangles"))
    assert(plan.contains("BroadcastHashJoin"),
      s"degree table not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "wedge enumeration degenerated to a cartesian")
  }

  test("graph_pagerank keeps every iteration an equi-join with partial aggregation") {
    val plan = treeString(q("graph_pagerank"))
    assert(!plan.contains("CartesianProduct"),
      "rank/edge join degenerated to a cartesian")
    assert(plan.contains("partial_"),
      s"no map-side partial aggregation in the contribution sums:\n$plan")
  }

  test("basket_rules broadcasts the brand dimension and pre-aggregates") {
    val plan = treeString(q("basket_rules"))
    assert(plan.contains("BroadcastHashJoin"),
      s"brand/count sides not broadcast:\n$plan")
    assert(plan.contains("partial_"),
      s"pair counts not partially aggregated:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "pair join degenerated to a cartesian")
  }

  test("graph_link_predict wedge join stays an equi-join") {
    val plan = treeString(q("graph_link_predict"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge/anti joins lost their equi shape:\n$plan")
  }

  test("graph_link_predict enforces the hub degree cap before wedge expansion") {
    // a super-hub would expand C(deg, 2) structs inside one row; the
    // broadcast degree filter must bound the hubs that reach
    // collect_set — losing this filter is an OOM at skewed scale.
    val plan = treeString(q("graph_link_predict"))
    assert(plan.contains("<= 2000"),
      s"degree-cap filter missing from the wedge-hub side:\n$plan")
  }

  test("agg_ks_test runs its CDF windows partitioned (two-pass offsets)") {
    // the running CDF must never be a global-order window over the
    // value grid — a continuous payload makes the grid events-sized.
    // Shape: >=1 bucket-partitioned window doing the per-value running
    // sums; at most one unpartitioned window, and only over the
    // dimension-sized per-bucket rollup.
    val windows = deepNodes(executed(q("agg_ks_test"))).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "no partitioned CDF window — global-order formulation is back")
    assert(windows.count(_.partitionSpec.isEmpty) <= 1,
      "more than one unpartitioned window in the KS plan")
  }

  test("agg_gini ranks customers with a partitioned window (two-pass offsets)") {
    // same contract as agg_ks_test: the |customers| rollup must not
    // serialize through one unpartitioned row_number.
    val windows = deepNodes(executed(q("agg_gini"))).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "no partitioned rank window — global row_number is back")
    assert(windows.count(_.partitionSpec.isEmpty) <= 1,
      "more than one unpartitioned window in the gini plan")
  }

  test("join_asof_nearest stays an equi-join — no BNL over the time predicate") {
    val plan = treeString(q("join_asof_nearest"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"nearest join degenerated to a non-equi plan:\n$plan")
  }

  test("graph_kcore peels from truncated per-round leaves, not re-derivation") {
    // every round's edge set is CUT (localCheckpoint): losing the cut
    // re-derives the incidence join ~3^r times AND regrows the logical
    // plan ~3^r — AQE re-renders that plan string per stage update,
    // which measured 17-22 s (vs ~2 s cut) and OOMed a 1 GiB driver.
    scopedPlan(graft.operators.Graph.kcoreBody(spark, sf)) { plan =>
      assert(plan.contains("ExistingRDD"),
        s"no truncated superstep leaves in the k-core plan:\n$plan")
      assert(!plan.toLowerCase.contains("parquet"),
        s"k-core trace re-derives from raw scans — a round lost its cut:\n$plan")
      assert(plan.length < 100000,
        s"k-core plan string is ${plan.length} chars — compounding lineage is back")
    }
  }

  test("trained-IVF probe reads the truncated assignment, not the Lloyd lineage") {
    // r5 verdict #4, upgraded r6: the 2-iteration training chain CUTS
    // per round (localCheckpoint — see PersistScope.cut), so the probe
    // plan must read truncated RDD leaves and run a BOUNDED number of
    // LIVE parquet scans — an un-truncated chain re-derives the full
    // embedding scan once per training reference, the live-scan count
    // explodes with the iteration count, and the compounding plan
    // string melts AQE's per-stage render.
    val scope = new graft.operators.PersistScope
    try {
      val p = executed(graft.operators.LlmSim.ivfBody(spark, sf, 4)(scope))
      assert(p.toString.contains("ExistingRDD"),
        s"no truncated training leaves in the IVF probe plan:\n$p")
      val live = deepNodes(p).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(live.length <= 2,
        s"IVF probe plan runs ${live.length} live parquet scans — training lineage is back:\n$p")
    } finally scope.release()
  }

  test("sim_ndcg_eval persists the tier universe once and broadcasts the ideal DCG") {
    // The graded-relevance universe (10·|V| pairs) must be read from
    // its truncated checkpoint leaf by BOTH consumers (ideal ranking +
    // retrieved join) — r15: an eager cut, because the two consumer
    // stages raced a lazily persisted cold cache and re-materialized
    // the brute scoring once each —
    // and the |Q|-row ideal-DCG table must broadcast onto the
    // path×query spine; no path's candidate join may degenerate to a
    // cartesian over the universe.
    scopedPlan(graft.operators.LlmSim.ndcgBody(spark, sf)) { plan =>
      assert(plan.contains("ExistingRDD"),
        s"tier universe is not read from a truncated leaf:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"ideal DCG table is not broadcast onto the spine:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"a retrieval path degenerated to a cartesian:\n$plan")
    }
  }

  test("sim_rrf_fusion fuses from the persisted universe with partitioned windows") {
    // The fused grading must ride the SAME truncated tier universe as
    // the per-path eval (never re-derive the brute scan), broadcast
    // the |Q|-row ideal-DCG table onto the query spine, keep the
    // fusion window partitioned by q_id (≤18 candidates per query),
    // and no path may degenerate to a cartesian.
    scopedPlan(graft.operators.LlmSim.rrfBody(spark, sf)) { plan =>
      assert(plan.contains("ExistingRDD"),
        s"tier universe is not read from a truncated leaf:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"ideal DCG table is not broadcast onto the spine:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"a retrieval path degenerated to a cartesian:\n$plan")
      // Every window (fusion ranking + the composed paths' candidate
      // ranks) must partition by the query key (q_id / vec_id).
      val specs = plan.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(specs.nonEmpty, s"fusion ranking window missing:\n$plan")
      specs.foreach(l => assert(l.contains("q_id") || l.contains("vec_id"),
        s"unpartitioned fusion window: $l"))
    }
  }

  test("sim_knn_graph walks truncated edge leaves with per-query windows") {
    // The hop rounds must read the symmetrized edge frame and the
    // visited set from truncated checkpoint leaves (un-cut, the
    // superstep lineage compounds ~branching^rounds), every rank
    // window must partition on a per-query/per-node key, and no hop
    // may degenerate to a cartesian.
    scopedPlan(graft.operators.LlmSim.knnGraphBody(spark, sf)) { plan =>
      assert(plan.contains("ExistingRDD"),
        s"no truncated superstep leaves in the graph walk plan:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"a hop degenerated to a cartesian:\n$plan")
      val specs = plan.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      specs.foreach(l => assert(l.contains("q_id") || l.contains("a_id"),
        s"unpartitioned walk window: $l"))
    }
  }

  test("sim_knn_mips broadcasts the query elements") {
    val plan = treeString(q("sim_knn_mips"))
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastQueryStage"),
      s"query side of MIPS scoring is not broadcast:\n$plan")
  }

  test("evt_stickiness expands windows on day-grain pairs only") {
    // the 28-way range join must read the persisted distinct
    // (day, user) rollup, never raw events.
    scopedPlan(graft.operators.Events.stickinessBody(spark, sf)) { plan =>
      assert(plan.contains("InMemoryTableScan"),
        s"stickiness range join is not reading the day-grain cache:\n$plan")
    }
  }

  test("sample_hash folds text through the native codegen'd expression, not HOF lambdas") {
    // The r6 perf-weak item: the per-char interpreted aggregate/
    // transform fold must stay replaced by text_fold_hash (one JIT'd
    // loop per row). A reappearing higher-order fold would evaluate
    // one boxed lambda step per CHARACTER of every document.
    val plan = treeString(q("sample_hash"))
    assert(plan.contains("text_fold_hash"),
      s"sample_hash no longer uses the native fold:\n$plan")
    assert(!plan.contains("lambdafunction"),
      s"interpreted HOF lambdas are back in the sample_hash hot path:\n$plan")
  }

  test("span dedup runs equi-joins with partial aggregation and per-doc windows only") {
    Seq("dedup_span_extend", "dedup_span_scrub").foreach { name =>
      val plan = executed(q(name))
      val tree = plan.toString
      assert(!tree.contains("CartesianProduct") && !tree.contains("BroadcastNestedLoop"),
        s"$name: non-equi join in the span census:\n$tree")
      // the tid document-frequency census must combine map-side
      assert(tree.contains("partial_"), s"$name: no partial aggregation:\n$tree")
      // gap-islands / rebuild windows must be per-doc, never global
      val windows = deepNodes(plan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$name: unpartitioned window over token-grain data:\n$tree")
    }
  }

  test("multimodal_decode_hist broadcasts the decoded metadata side") {
    val tree = treeString(q("multimodal_decode_hist"))
    assert(tree.contains("BroadcastHashJoin"),
      s"metadata join should broadcast |docs|-sized meta:\n$tree")
    assert(!tree.contains("CartesianProduct"), s"cartesian in decode plan:\n$tree")
  }

  test("round-7 batch operators keep equi-join shapes — no cartesian/BNL fallback") {
    // sim_range_search must pair through the bucket equi-join, the BFS
    // frontier joins must stay equi on the node key, and theil-sen's
    // pair expansion must equi-join on event_type (range residual as a
    // join condition, not a nested loop over the rollup).
    Seq("sim_range_search", "graph_bfs_layers", "win_trend_theilsen",
      "evt_absorb_prob", "evt_forecast_holt").foreach { name =>
      val plan = treeString(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a nested loop:\n$plan")
    }
  }

  test("sim_knn_ivfpq broadcasts the query-side tables and stays cartesian-free") {
    scopedPlan(graft.operators.LlmSim.ivfpqBody(spark, sf)) { plan =>
      assert(plan.contains("BroadcastHashJoin"),
        s"cell gate / distance table should broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian in ivfpq plan:\n$plan")
    }
  }

  test("win_changepoint windows are partitioned by event_type") {
    val plan = treeString(q("win_changepoint"))
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, s"no window in changepoint plan:\n$plan")
    winLines.foreach(l => assert(l.contains("event_type"),
      s"unpartitioned window frame: $l"))
  }

  test("sim_range_search partially aggregates the neighbor rollup") {
    val plan = treeString(q("sim_range_search"))
    assert(plan.contains("partial_"),
      s"range-search rollup shuffles unaggregated rows:\n$plan")
  }

  test("sample_weighted ranks inside source partitions, not one global window") {
    val plan = treeString(q("sample_weighted"))
    val winLine = plan.linesIterator.find(_.contains("row_number()")).getOrElse("")
    assert(winLine.contains("source"),
      s"priority window is not partitioned by source: $winLine")
  }

  test("round-7 continuation rollups keep map-side partial aggregation") {
    // every one of these shuffles a rollup, not raw rows
    Seq("text_docfreq_prune", "evt_behavior_cos_hist", "agg_winsorized",
      "agg_moments", "evt_survival_km").foreach { name =>
      val plan = treeString(q(name))
      assert(plan.contains("partial_"),
        s"$name shuffles unaggregated rows:\n$plan")
    }
  }

  test("win_seasonal_split windows are partitioned by event_type") {
    val plan = treeString(q("win_seasonal_split"))
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    winLines.foreach(l => assert(l.contains("event_type"),
      s"unpartitioned seasonal window: $l"))
  }

  test("win_rolling_median window is user-partitioned, never global") {
    val plan = treeString(q("win_rolling_median"))
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    winLines.foreach(l => assert(l.contains("user_id"),
      s"unpartitioned rolling-median window: $l"))
  }

  test("graph_clustering_coeff stays equi-joined with a partial-agged rollup") {
    scopedPlan(graft.operators.Graph.clusteringBody(spark, sf)) { plan =>
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"wedge enumeration degenerated to a cartesian:\n$plan")
      assert(plan.contains("partial_"),
        s"decile rollup shuffles unaggregated nodes:\n$plan")
    }
  }

  test("sim_label_homophily is bucket-gated and partially aggregated") {
    val plan = treeString(q("sim_label_homophily"))
    assert(!plan.contains("CartesianProduct"),
      s"homophily pair join degenerated to all-pairs:\n$plan")
    assert(plan.contains("partial_"),
      s"homophily rollup shuffles unaggregated endpoints:\n$plan")
  }

  test("text vocabulary rollups keep map-side partial aggregation") {
    Seq("text_hapax_ratio", "text_ngram_entropy").foreach { name =>
      val plan = treeString(q(name))
      assert(plan.contains("partial_"),
        s"$name shuffles unaggregated tokens:\n$plan")
    }
  }

  test("sample_balanced_class ranks in label partitions, broadcast min") {
    val plan = treeString(q("sample_balanced_class"))
    val winLine = plan.linesIterator
      .find(_.contains("row_number()")).getOrElse("")
    assert(winLine.contains("label"),
      s"class rank window is not partitioned by label: $winLine")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"min-class scalar is not broadcast:\n$plan")
  }

  test("win_bollinger frames are type-partitioned, never global") {
    val plan = treeString(q("win_bollinger"))
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    winLines.foreach(l => assert(l.contains("event_type"),
      s"unpartitioned bollinger window: $l"))
  }

  test("correlation-family rollups keep partial aggregation, no cartesian blowup") {
    // type_corr/autocorr build dimension-sized spines via an explicit
    // broadcast cross (fine); the data-sized joins must stay equi.
    Seq("evt_type_corr", "evt_autocorr", "evt_user_overlap").foreach { name =>
      val plan = treeString(q(name))
      assert(plan.contains("partial_"),
        s"$name shuffles unaggregated rows:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian on the data-sized side:\n$plan")
    }
  }

  test("batch-M rollups keep partial aggregation and partitioned windows") {
    Seq("embed_centroid_drift", "text_js_divergence").foreach { name =>
      val plan = treeString(q(name))
      assert(plan.contains("partial_"),
        s"$name shuffles unaggregated rows:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a data-sized cartesian:\n$plan")
    }
    val plan = treeString(q("win_rolling_corr"))
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    winLines.foreach(l => assert(l.contains("event_type"),
      s"unpartitioned rolling-corr window: $l"))
  }

  test("round-8 operators keep their scale shapes") {
    // evt_pit_features: ALL feature frames ride per-user windows (one
    // user_id exchange), never a global window, and no self-join.
    val pit = treeString(q("evt_pit_features"))
    val pitWins = pit.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(pitWins.nonEmpty)
    pitWins.foreach(l => assert(l.contains("user_id"),
      s"unpartitioned PIT feature window: $l"))
    assert(!pit.contains("CartesianProduct") &&
      !pit.contains("BroadcastNestedLoopJoin"),
      s"PIT features degenerated to a pair join:\n$pit")
    // text_heavy_hitters: the candidate recount must be a BROADCAST
    // left-semi join (candidates are sketch-sized), and the recount
    // aggregates map-side.
    val hh = treeString(q("text_heavy_hitters"))
    assert(hh.contains("BroadcastHashJoin") && hh.contains("LeftSemi"),
      s"MG candidates did not broadcast into a semi join:\n$hh")
    assert(hh.contains("partial_"), s"recount shuffles raw tokens:\n$hh")
    // dedup_semdedup / etl_zorder_layout / evt_decay_score /
    // evt_abtest_welch / etl_compaction_plan: equi-join shapes and
    // partial aggregation throughout — no cartesian fallback.
    Seq("dedup_semdedup", "etl_zorder_layout", "evt_decay_score",
      "evt_abtest_welch", "etl_compaction_plan", "multimodal_frame_census",
      "evt_session_native", "multimodal_audio_stats", "evt_forecast_hw",
      "sim_mmr_diversify", "embed_matryoshka_eval", "text_tokenizer_fertility",
      "etl_bucket_advisor", "evt_pit_features")
      .foreach { name =>
        val plan = treeString(q(name))
        assert(!plan.contains("CartesianProduct"),
          s"$name planned a data-sized cartesian:\n$plan")
      }
    // etl_compaction_plan's packing window is per-type, never global.
    val cp = treeString(q("etl_compaction_plan"))
    cp.linesIterator.filter(_.contains("windowspecdefinition")).foreach(l =>
      assert(l.contains("event_type"), s"global packing window: $l"))
  }

  test("round-9/10 operators keep their scale shapes") {
    // sample_dsir (r10 reshape): the Gumbel-top-k must ride
    // TakeOrderedAndProject (per-partition top-64 heaps) + a
    // broadcast winner join — NEVER a window, partitioned or not:
    // the per-doc frame is data-sized and a global rank would
    // single-partition it at 100 TB.
    scopedPlan(graft.operators.LlmText.dsirBody(spark, sf)) { dsir =>
      assert(dsir.contains("TakeOrderedAndProject"),
        s"sample_dsir lost its two-phase top-k:\n$dsir")
      assert(!dsir.contains("windowspecdefinition"),
        s"sample_dsir regressed to a window rank:\n$dsir")
      assert(dsir.contains("BroadcastHashJoin"),
        s"sample_dsir winner set did not broadcast:\n$dsir")
      assert(!dsir.contains("CartesianProduct"),
        s"sample_dsir planned a data-sized cartesian:\n$dsir")
    }
    // embed_rq: codebook joins are broadcast (codebooks are
    // dimension-sized), residual math stays equi-join shaped.
    scopedPlan(graft.operators.LlmSim.rqBody(spark, sf)) { rq =>
      assert(rq.contains("BroadcastHashJoin"),
        s"embed_rq codebooks did not broadcast:\n$rq")
      assert(!rq.contains("CartesianProduct"),
        s"embed_rq planned a data-sized cartesian:\n$rq")
    }
    // embed_silhouette: every window is per-vector (vec_id) — the
    // |V|·C score matrix must never rank through a global frame.
    scopedPlan(graft.operators.LlmSim.silhouetteBody(spark, sf)) { sil =>
      val wins = sil.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(wins.nonEmpty, s"silhouette top-2 rank window missing:\n$sil")
      wins.foreach(l =>
        assert(l.contains("vec_id"), s"unpartitioned silhouette window: $l"))
    }
    // sim_recall_hamming: recall joins are equi-joins on (q_id, n_id)
    // — no cartesian fallback.
    scopedPlan(graft.operators.LlmSim.recallHammingBody(spark, sf)) { rh =>
      assert(!rh.contains("CartesianProduct"),
        s"sim_recall_hamming planned a data-sized cartesian:\n$rh")
    }
    // multimodal_video_decode (unscoped): decoded frame stats meet
    // container meta through a broadcast join; the decode itself is
    // mapPartitions (no wide shuffle of frame bytes).
    val vid = treeString(q("multimodal_video_decode"))
    assert(vid.contains("BroadcastHashJoin"),
      s"video decode meta join did not broadcast:\n$vid")
  }

  test("round-10 operators keep their scale shapes") {
    // dedup_incremental: the new→old match is a (band, bsig) bucket
    // equi-join — never a cartesian (batch × corpus would be the
    // scale-killer this operator exists to avoid).
    val inc = treeString(q("dedup_incremental"))
    assert(!inc.contains("CartesianProduct") &&
      !inc.contains("BroadcastNestedLoopJoin"),
      s"dedup_incremental lost its bucket equi-join shape:\n$inc")
    // dedup_incremental_exact: the bloom word table BROADCASTS (the
    // nightly batch must never shuffle against the corpus), candidates
    // stay equi-join shaped.
    val ix = treeString(q("dedup_incremental_exact"))
    assert(ix.contains("BroadcastHashJoin"),
      s"bloom word table did not broadcast:\n$ix")
    assert(!ix.contains("CartesianProduct"),
      s"dedup_incremental_exact planned a cartesian:\n$ix")
    // dedup_incremental_embedding: candidates are within-cell pairs —
    // an equi-join on cell, never batch × corpus.
    scopedPlan(graft.operators.LlmSim.incEmbBody(spark, sf)) { ie =>
      assert(!ie.contains("CartesianProduct"),
        s"dedup_incremental_embedding paired batch × corpus:\n$ie")
      assert(ie.contains("BroadcastHashJoin") || ie.contains("SortMergeJoin"),
        s"within-cell pairing lost its equi-join:\n$ie")
    }
    // sample_kcenter: every greedy round picks via kcenterNext — the
    // frontier argmax must be TakeOrderedAndProject (per-partition
    // top-1), never a global sort or window. The rounds are
    // lineage-cut inside the body, so the lock targets the shared
    // helper the body calls, on a frontier-shaped frame.
    locally {
      import org.apache.spark.sql.functions.col
      val frontier = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label").cast("double").as("nd"))
      val kc = treeString(graft.operators.LlmSim.kcenterNext(frontier))
      assert(kc.contains("TakeOrderedAndProject"),
        s"kcenter frontier argmax lost its two-phase shape:\n$kc")
      assert(!kc.contains("windowspecdefinition"),
        s"kcenter argmax regressed to a window rank:\n$kc")
    }
    // ...and the terminal trace must never rank through a window.
    scopedPlan(graft.operators.LlmSim.kcenterBody(spark, sf)) { kc =>
      assert(!kc.contains("windowspecdefinition"),
        s"sample_kcenter regressed to a window rank:\n$kc")
    }
  }

  test("round-10 continuation operators keep their scale shapes") {
    // text_gopher_rules / evt_did: one partial-agged pass, no
    // window, no cartesian — the rule ledger and the DiD cell frame
    // must stay map+combine shaped.
    Seq("text_gopher_rules", "evt_did").foreach { name =>
      val plan = treeString(q(name))
      assert(plan.contains("partial_"),
        s"$name lost its partial aggregation:\n$plan")
      assert(!plan.contains("windowspecdefinition"),
        s"$name grew a window:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name planned a cartesian:\n$plan")
    }
    // sample_quality_topp: every window (rank + quota count) is
    // partitioned by source — a global rank would single-partition
    // the doc frame at scale.
    val topp = treeString(q("sample_quality_topp"))
    val tw = topp.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(tw.nonEmpty, s"quality_topp rank window missing:\n$topp")
    tw.foreach(l =>
      assert(l.contains("source"), s"unpartitioned quality_topp window: $l"))
    // mix_epoch_schedule: the schedule math rides |sources|-sized
    // broadcast frames — no cartesian of data-sized inputs, no window.
    val mes = treeString(q("mix_epoch_schedule"))
    assert(!mes.contains("CartesianProduct"),
      s"mix_epoch_schedule planned a cartesian:\n$mes")
    assert(!mes.contains("windowspecdefinition"),
      s"mix_epoch_schedule grew a window:\n$mes")
    // sim_knn_graph_stats: top-3 rank windows are per-vector (a_id),
    // candidate generation and the mutual-edge self-join stay
    // equi-join shaped — never all-pairs.
    val kg = treeString(q("sim_knn_graph_stats"))
    val kw = kg.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(kw.nonEmpty, s"knn_graph rank window missing:\n$kg")
    kw.foreach(l =>
      assert(l.contains("a_id"), s"unpartitioned knn_graph window: $l"))
    assert(!kg.contains("CartesianProduct"),
      s"sim_knn_graph_stats planned a cartesian:\n$kg")
  }

  test("round-10 second-batch operators keep their scale shapes") {
    // evt_cuped: one partial-agged user rollup; the pooled-moment
    // scalar rides a broadcast join (BroadcastNestedLoopJoin for the
    // 1-row cross), never a shuffled cartesian of data-sized inputs.
    val cuped = treeString(q("evt_cuped"))
    assert(cuped.contains("partial_"),
      s"evt_cuped lost its partial aggregation:\n$cuped")
    assert(!cuped.contains("CartesianProduct"),
      s"evt_cuped planned a shuffled cartesian:\n$cuped")
    assert(!cuped.contains("windowspecdefinition"),
      s"evt_cuped grew a window:\n$cuped")
    // text_boilerplate: the df rank window partitions by source — a
    // global rank would single-partition the gram frame at scale.
    val boiler = treeString(q("text_boilerplate"))
    val bw = boiler.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(bw.nonEmpty, s"boilerplate rank window missing:\n$boiler")
    bw.foreach(l =>
      assert(l.contains("source"), s"unpartitioned boilerplate window: $l"))
    // sim_hard_negatives: candidates come from the bucket equi-join
    // (never all-pairs) and the rank window is per-vector (a_id).
    val hn = treeString(q("sim_hard_negatives"))
    val hw = hn.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(hw.nonEmpty, s"hard-negative rank window missing:\n$hn")
    hw.foreach(l =>
      assert(l.contains("a_id"), s"unpartitioned hard-negative window: $l"))
    assert(!hn.contains("CartesianProduct"),
      s"sim_hard_negatives planned a cartesian:\n$hn")
    // embed_isotropy: the |labels|·64 sum frame and the |labels| s2
    // frame broadcast back to the data-sized sides; no window, no
    // cartesian, partial aggs survive.
    val iso = treeString(q("embed_isotropy"))
    assert(iso.contains("partial_"),
      s"embed_isotropy lost its partial aggregation:\n$iso")
    assert(iso.toLowerCase.contains("broadcast"),
      s"embed_isotropy lost its broadcast joins:\n$iso")
    assert(!iso.contains("windowspecdefinition"),
      s"embed_isotropy grew a window:\n$iso")
    assert(!iso.contains("CartesianProduct"),
      s"embed_isotropy planned a cartesian:\n$iso")
  }

  test("round-10 third-batch operators keep their scale shapes") {
    // evt_power_mde: the welch rollup discipline — partial aggs, no
    // window, no cartesian (the 1-row stat frame needs none).
    val mde = treeString(q("evt_power_mde"))
    assert(mde.contains("partial_"),
      s"evt_power_mde lost its partial aggregation:\n$mde")
    assert(!mde.contains("windowspecdefinition"),
      s"evt_power_mde grew a window:\n$mde")
    assert(!mde.contains("CartesianProduct"),
      s"evt_power_mde planned a cartesian:\n$mde")
    // evt_abtest_hl: the pair frame must be built AFTER the user_id
    // gate (a pushed filter on the scan) — the global median window
    // is legal only because the frame is gate-bounded.
    val hl = treeString(q("evt_abtest_hl"))
    assert(hl.contains("user_id#") || hl.contains("user_id <"),
      s"evt_abtest_hl lost its user gate:\n$hl")
    assert(!hl.contains("CartesianProduct"),
      s"evt_abtest_hl planned a shuffled cartesian (gated sides must broadcast):\n$hl")
    // embed_abtt: the Gram self-join partial-aggs to d² rows; the
    // per-dim sums and count broadcast; no window anywhere. Locked on
    // the un-checkpointed body (the scopedPersist terminal collapses
    // to an RDD scan).
    scopedPlan(graft.operators.LlmSim.abttBody(spark, sf)) { abtt =>
      assert(abtt.contains("partial_"),
        s"embed_abtt lost its partial aggregation:\n$abtt")
      assert(abtt.toLowerCase.contains("broadcast"),
        s"embed_abtt lost its broadcast joins:\n$abtt")
      assert(!abtt.contains("windowspecdefinition"),
        s"embed_abtt grew a window:\n$abtt")
    }
    // multimodal_ahash_dedup (r15, banded): near-pair candidates
    // come from the (band, value) EQUI-join over the exploded 16-bit
    // bands — never a cartesian or a nested-loop pairing; no window.
    // Locked on the un-checkpointed banded frame (the scopedPersist
    // terminal collapses to an RDD scan).
    val ahScope = new graft.operators.PersistScope
    try {
      val ah = treeString(graft.operators.LlmSim.ahashBandedNear(
        graft.operators.LlmSim.ahashHashes(spark, sf)))
      assert(ah.contains("SortMergeJoin") || ah.contains("BroadcastHashJoin"),
        s"ahash banded census lost its equi-join:\n$ah")
      assert(!ah.contains("CartesianProduct") &&
        !ah.contains("BroadcastNestedLoopJoin"),
        s"ahash banded census degenerated to a pairing join:\n$ah")
      assert(!ah.contains("windowspecdefinition"),
        s"ahash banded census grew a window:\n$ah")
    } finally ahScope.release()
  }

  test("round-10 fourth-batch operators keep their scale shapes") {
    // evt_funnel_wilson: one partial-agged user rollup feeds a 1-row
    // stat frame — no window, no cartesian.
    val fw = treeString(q("evt_funnel_wilson"))
    assert(fw.contains("partial_"),
      s"evt_funnel_wilson lost its partial aggregation:\n$fw")
    assert(!fw.contains("windowspecdefinition"),
      s"evt_funnel_wilson grew a window:\n$fw")
    assert(!fw.contains("CartesianProduct"),
      s"evt_funnel_wilson planned a cartesian:\n$fw")
    // mix_post_dedup_shift: both universes partial-agg; the
    // |sources|-sized totals broadcast back (no shuffled cartesian).
    val mps = treeString(q("mix_post_dedup_shift"))
    assert(mps.contains("partial_"),
      s"mix_post_dedup_shift lost its partial aggregation:\n$mps")
    assert(!mps.contains("CartesianProduct"),
      s"mix_post_dedup_shift planned a shuffled cartesian:\n$mps")
    assert(!mps.contains("windowspecdefinition"),
      s"mix_post_dedup_shift grew a window:\n$mps")
    // text_crossval_ppl: the freq table and T+V scalars broadcast;
    // the per-doc fold is in-row (no window).
    val cv = treeString(q("text_crossval_ppl"))
    assert(cv.contains("partial_"),
      s"text_crossval_ppl lost its partial aggregation:\n$cv")
    assert(cv.toLowerCase.contains("broadcast"),
      s"text_crossval_ppl lost its broadcast freq join:\n$cv")
    assert(!cv.contains("windowspecdefinition"),
      s"text_crossval_ppl grew a window:\n$cv")
    // sim_ivf_routing_depth: the centroid rank window is per-query
    // (vec_id) and the truth set broadcasts; locked on the
    // un-checkpointed body.
    scopedPlan(graft.operators.LlmSim.routingDepthBody(spark, sf)) { rd =>
      val rw = rd.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(rw.nonEmpty, s"routing-depth rank window missing:\n$rd")
      assert(rw.exists(_.contains("vec_id")),
        s"routing-depth centroid rank must partition by vec_id:\n$rd")
      assert(!rd.contains("CartesianProduct"),
        s"sim_ivf_routing_depth planned a shuffled cartesian:\n$rd")
    }
  }

  test("round-10 fifth-batch operators keep their scale shapes") {
    // evt_ab_srm: distinct + rollup, no window, no cartesian.
    val srm = treeString(q("evt_ab_srm"))
    assert(srm.contains("partial_"),
      s"evt_ab_srm lost its partial aggregation:\n$srm")
    assert(!srm.contains("windowspecdefinition") &&
      !srm.contains("CartesianProduct"),
      s"evt_ab_srm grew a window or cartesian:\n$srm")
    // embed_knn_label_acc: per-vector rank windows only (a_id), no
    // cartesian — candidates stay bucket equi-join shaped.
    val acc = treeString(q("embed_knn_label_acc"))
    val aw = acc.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(aw.nonEmpty, s"label-acc rank window missing:\n$acc")
    aw.foreach(l =>
      assert(l.contains("a_id"), s"unpartitioned label-acc window: $l"))
    assert(!acc.contains("CartesianProduct"),
      s"embed_knn_label_acc planned a cartesian:\n$acc")
    // mix_curriculum_order: the only window rides the |sources| frame
    // (dimension-sized); the freq/total scalars broadcast.
    val cur = treeString(q("mix_curriculum_order"))
    assert(cur.contains("partial_"),
      s"mix_curriculum_order lost its partial aggregation:\n$cur")
    assert(cur.toLowerCase.contains("broadcast"),
      s"mix_curriculum_order lost its broadcast joins:\n$cur")
    assert(!cur.contains("CartesianProduct"),
      s"mix_curriculum_order planned a shuffled cartesian:\n$cur")
    // sample_dedup_aware: cluster sizes broadcast back; no window.
    val sda = treeString(q("sample_dedup_aware"))
    assert(sda.toLowerCase.contains("broadcast"),
      s"sample_dedup_aware lost its broadcast size join:\n$sda")
    assert(!sda.contains("windowspecdefinition"),
      s"sample_dedup_aware grew a window:\n$sda")
    // evt_seq_boundary: the cumulative window partitions by user_id
    // (≤4 rows per user) and the look spine joins via broadcast —
    // a global window or shuffled spine join would not scale.
    val sq = treeString(q("evt_seq_boundary"))
    val sw = sq.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(sw.nonEmpty, s"seq-boundary cumulative window missing:\n$sq")
    sw.foreach(l =>
      assert(l.contains("user_id"), s"unpartitioned seq-boundary window: $l"))
    assert(sq.toLowerCase.contains("broadcast"),
      s"evt_seq_boundary lost its broadcast joins:\n$sq")
  }

  test("subAssign degrades off broadcast when the threshold forbids it") {
    // r11 verdict #1: the sub-centroid side of subSplit's assignment
    // join must be SIZE-ESTIMATED, never hint-broadcast — it is
    // ~|V|/625 rows, tiny at every measured decade but 8 GB+ at a
    // true 100 TB corpus, where an explicit broadcast() would force
    // an oversized build instead of degrading to a shuffled
    // cell-keyed join with AQE skew-splitting. Proof both ways: with
    // broadcasting forbidden the join plans shuffled (an explicit
    // hint would override the threshold and still broadcast); with
    // the default threshold the checkpointed, accurately sized frame
    // broadcasts at graded scale, so the fast path is intact.
    import org.apache.spark.sql.functions._
    val scope = new graft.operators.PersistScope
    try {
      val (_, assign) = graft.operators.LlmSim.ivfTrain(spark, sf, scope)
      val members = assign.select(col("vec_id"), col("cell"), col("embedding"))
        .withColumn("snrm",
          graft.functions.GraftFunctions.vecNorm(col("embedding")))
      val cents = scope.cut(members.groupBy("cell")
        .agg(min_by(col("embedding"), col("vec_id")).as("seed"))
        .select(col("cell"), lit(1L).as("sub"),
          transform(col("seed"), _.cast("double")).as("sc_emb")))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val forbidden =
        treeString(graft.operators.LlmSim.subAssign(members, cents))
      assert(!forbidden.contains("BroadcastHashJoin")
          && !forbidden.contains("BroadcastNestedLoop"),
        s"sub-assign broadcasts with the threshold off — a hint is back:\n$forbidden")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      val auto = treeString(graft.operators.LlmSim.subAssign(members, cents))
      assert(auto.contains("BroadcastHashJoin"),
        s"sub-assign stopped broadcasting the tiny centroid frame:\n$auto")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      scope.release()
    }
  }

  test("text_bpe_merges: round argmax is TakeOrderedAndProject over a partial-agged census") {
    // The merge rounds are lineage-cut inside the body (the unrolled-
    // kernel discipline), so the terminal plan can't show their
    // shape — lock the factored helpers on a round-shaped frame
    // instead (the kcenterNext pattern). The pair census must
    // partial-aggregate (map-side combine before its exchange) and
    // the round's winning pair must be a per-partition top-1 heap
    // merge, never a global sort or a window rank.
    import org.apache.spark.sql.functions._
    val syms = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    val census = graft.operators.LlmText.bpePairCensus(syms)
    val cs = treeString(census)
    assert(cs.contains("partial_sum"),
      s"bpe pair census lost its map-side combine:\n$cs")
    val top = treeString(graft.operators.LlmText.bpeTop(census))
    assert(top.contains("TakeOrderedAndProject"),
      s"bpe round argmax lost its two-phase top-1 shape:\n$top")
    assert(!top.contains("windowspecdefinition"),
      s"bpe round argmax regressed to a window rank:\n$top")
  }

  test("graph_sssp: relaxation round partial-aggregates, merges full-outer; top-20 never global-sorts") {
    // The graded rounds are checkpoint-cut, so rebuild ONE relaxation
    // round + the terminal top-k from the package-private weighted
    // edge source (the stressContrib lock discipline): the per-node
    // min must map-side combine, the distance merge must stay a
    // FULL-outer join (an inner merge silently drops newly-reached
    // nodes), no window anywhere, and the closing top-20 must be a
    // TakeOrderedAndProject, never a global sort of every node.
    import org.apache.spark.sql.functions._
    val e = graft.operators.Graph.edgesW(spark, sf)
    val cost = expr("1000000 div w")
    val adjw = e.select(col("u").as("a"), col("v").as("b"), cost.as("c"))
      .union(e.select(col("v").as("a"), col("u").as("b"), cost.as("c")))
    val dist = spark.range(1)
      .select(lit(0L).as("node"), lit(0L).as("dist"))
    val relaxed = adjw
      .join(dist.select(col("node").as("dn"), col("dist").as("du")),
        col("a") === col("dn"))
      .groupBy(col("b").as("node"))
      .agg(min(col("du") + col("c")).as("nd"))
    val merged = dist.join(relaxed, Seq("node"), "full_outer")
      .select(col("node"),
        least(coalesce(col("dist"), lit(Long.MaxValue / 4)),
          coalesce(col("nd"), lit(Long.MaxValue / 4))).as("dist"))
      .orderBy(col("dist"), col("node")).limit(20)
    val plan = treeString(merged)
    assert(plan.contains("TakeOrderedAndProject"),
      s"sssp top-20 lost its two-phase top-k shape:\n$plan")
    assert(plan.contains("FullOuter"),
      s"sssp distance merge lost its full-outer shape:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"sssp relaxation grew a window:\n$plan")
    assert(plan.contains("partial_"),
      s"sssp per-node min lost its map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"sssp planned a cartesian:\n$plan")
  }

  test("graph_stress_centrality: node rollup partial-aggregates; top-20 never global-sorts") {
    // The graded query's terminal result is checkpoint-truncated
    // (scopedPersist), so rebuild the terminal stage on the
    // package-private pre-top-k frame — the PersistScope discipline
    // for plan tests. If TakeOrderedAndProject disappears the query
    // global-sorts every interior node; a window here would be a
    // whole-graph rank; the node rollup must map-side combine.
    import org.apache.spark.sql.functions.{col, countDistinct, sum}
    val scope = new graft.operators.PersistScope
    try {
      val df = graft.operators.Graph.stressContrib(spark, sf, scope)
        .filter(col("st") > 0)
        .groupBy("node")
        .agg(countDistinct("src").as("n_src"), sum("st").as("stress"))
        .orderBy(col("stress").desc, col("node"))
        .limit(20)
      val plan = treeString(df)
      assert(plan.contains("TakeOrderedAndProject"),
        s"stress top-20 lost its two-phase top-k shape:\n$plan")
      assert(!plan.contains("windowspecdefinition"),
        s"stress rollup grew a window:\n$plan")
      assert(plan.contains("partial_"),
        s"stress node rollup lost its map-side combine:\n$plan")
    } finally scope.release()
  }

  test("text_burstiness: both censuses partial-aggregate; doc count broadcasts in") {
    // One corpus-scale pass: the (doc, token) census and the token
    // rollup must both map-side combine, the one-row doc count must
    // arrive as a broadcast (never a shuffle), and the top-30 must be
    // a TakeOrderedAndProject.
    val plan = treeString(SparkEntry.queries("text_burstiness")(spark, sf))
    assert(plan.contains("partial_count"),
      s"burstiness census lost its map-side combine:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"doc-count scalar stopped broadcasting:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"burstiness top-30 lost its two-phase top-k shape:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"burstiness grew a window:\n$plan")
  }

  test("text_countmin: sketch census partial-aggregates; readout joins broadcast the fixed grid") {
    // The whole point of the CMS is that the corpus pays ONE
    // map-side-combining aggregation to the fixed (r, bucket) grid —
    // if the partial agg disappears, 4·|tokens| rows cross the wire;
    // if the sketch/probe joins stop broadcasting, two ≤2,048-row
    // frames shuffle-sort against each other.
    val plan = treeString(SparkEntry.queries("text_countmin")(spark, sf))
    assert(plan.contains("partial_count"),
      s"CMS bucket census lost its map-side combine:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"CMS readout stopped broadcasting the fixed-size sketch:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a fixed-size CMS frame shuffle-sorts:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"CMS readout grew a window:\n$plan")
  }

  test("text_kn_continuation: the only window is doc-partitioned; censuses partial-aggregate") {
    val plan = treeString(SparkEntry.queries("text_kn_continuation")(spark, sf))
    val specs = plan.split("windowspecdefinition\\(").drop(1)
    assert(specs.nonEmpty && specs.forall(_.startsWith("doc_id")),
      s"kn bigram window must partition by doc_id:\n$plan")
    assert(plan.contains("partial_count"),
      s"kn bigram census lost its map-side combine:\n$plan")
  }

  test("flagship entry broadcasts the filtered customer dimension") {
    val df = SparkEntry.entry(spark)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "entry should broadcast-join the filtered customer side")
  }
}
