package graft

import org.apache.spark.sql.JobProbe
import graft.operators.SessionMemo

/** Spark-job budgets of the iterative chains: each of these queries is
  * bound by the per-job scheduling floor, not by its data, so a job
  * that moves no data creeping back is a slowdown the suite's results
  * cannot show. The budgets are the counts of a settled pass (schema
  * memo and codegen warm, session memo cleared, as a timed bench pass
  * sees them) at sf0.001 with the suite's 4 shuffle partitions. */
class JobBudgetSpec extends SparkSpec {
  private val sf = Fixtures.testdata("0.001")

  private val budget = Seq(
    "graph_components" -> 22,
    "sim_knn_ivf" -> 17,
    "evt_absorb_prob" -> 7,
    "evt_markov_steady" -> 5)

  test("the chains queries stay within their Spark job budgets") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    def pass(): Seq[(String, Int)] = {
      SessionMemo.clear()
      budget.map { case (name, _) =>
        name -> JobProbe.count(spark)(SparkEntry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save())._2
      }
    }
    pass()
    val got = pass().toMap
    budget.foreach { case (name, max) =>
      assert(got(name) <= max, s"$name ran ${got(name)} jobs, budget $max (all: $got)")
    }
  }
}
