package graft

/** Spark-job budgets of the benchmark's queries: each of them is bound
  * by the per-job scheduling floor, not by its data, so a job that
  * moves no data creeping back is a slowdown the suite's results
  * cannot show. The budgets are the counts of a settled pass (schema
  * memo and codegen warm, session memo cleared, as a timed bench pass
  * sees them) at sf0.001 with the suite's 4 shuffle partitions. */
class JobBudgetSpec extends SparkSpec {
  private val sf = Fixtures.testdata("0.001")

  /** Runs the settled pass of `budget` (`Bench.pass`, after one pass
    * that warms the schema memo and codegen) and checks every count. A
    * query that throws, or whose counts may be incomplete, fails: it
    * could launch fewer jobs than it runs when it works. */
  private def withinBudget(budget: Seq[(String, Int)]): Unit = {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    val names = budget.map(_._1)
    def pass(): Seq[Bench.Row] = {
      val rows = Bench.pass(spark, sf, names)
      rows.foreach(r => assert(r.error.isEmpty, s"${r.name} failed: ${r.error}"))
      rows
    }
    pass()
    val got = pass().map(r => r.name -> r.stats.jobs).toMap
    budget.foreach { case (name, max) =>
      assert(got(name) <= max, s"$name ran ${got(name)} jobs, budget $max (all: $got)")
    }
  }

  test("the chains queries stay within their Spark job budgets") {
    // Each result is lazy: its last stage runs in the caller's write,
    // not in a terminal checkpoint job before it plus a second job to
    // read that checkpoint back.
    withinBudget(Seq(
      "graph_components" -> 21,
      "sim_knn_ivf" -> 16,
      "evt_absorb_prob" -> 6,
      "evt_markov_steady" -> 4))
  }

  test("the relational queries run their terminal sort without a sampling job") {
    // One job per stage left: the sort's input stage runs once, in the
    // sort's own task, instead of once for the range sampler and once
    // for the range shuffle's map side. agg_gini ends in a one-row
    // aggregate with no sort, so its count is the control.
    withinBudget(Seq(
      "agg_gini" -> 7,
      "join_fuzzy_match" -> 2,
      "win_ntile_cume" -> 2,
      "subq_correlated" -> 3,
      "text_repetition" -> 2,
      "dedup_minhash_sig" -> 1))
  }
}
