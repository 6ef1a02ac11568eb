package graft

import org.json4s.JObject
import org.json4s.jackson.JsonMethods

/** `Bench.pass`, the one timed pass of the bench and of the job-budget
  * specs: each row splits its query's wall time into the time some
  * Spark job was running and the driver's gap, written as the row's
  * `layers` entry, and every pass starts from a cleared session memo. */
class BenchSpec extends SparkSpec {
  private val sf = Fixtures.testdata("0.001")
  // sim_knn_ivfpq runs jobs at the same time (`OpModule.par`);
  // sim_knn_ivf reads the memoized IVF index; agg_gini uses neither.
  private val names = Seq("sim_knn_ivfpq", "sim_knn_ivf", "agg_gini")

  test("a pass's rows split each query's wall time into in-job time and driver gap") {
    Tables.embeddings(spark, sf) // the schema memo's footer job, outside both passes
    val passes = Seq.fill(2)(Bench.pass(spark, sf, names))
    passes.foreach { rows =>
      assert(rows.map(_.name) === names)
      rows.foreach { case row @ Bench.Row(name, buildS, s, error) =>
        assert(error.isEmpty, s"$name threw $error")
        assert(s.jobs > 0 && s.stages > 0 && s.tasks > 0, s"$name: $s")
        assert(s.inJobS > 0 && s.inJobS <= s.wallS, s"$name: in-job time above wall time: $s")
        assert(buildS <= s.wallS, s"$name: build $buildS s above wall time: $s")
        // The written columns: the gap is the wall time less the
        // in-job time, each rounded to the millisecond.
        val col = JsonMethods.parse(Bench.layer(row)).asInstanceOf[JObject].values
          .map { case (k, v) => k -> v.toString.toDouble }
        assert(Seq("jobs", "stages", "tasks").map(col) === Seq(s.jobs, s.stages, s.tasks).map(_.toDouble))
        assert(math.abs(col("driver_gap_s") - (s.wallS - col("in_job_s"))) <= 0.0011, s"$name: $col, $s")
      }
    }
    // Were the memo kept, the second pass would read the IVF index
    // the first one built and run fewer jobs.
    val Seq(first, second) = passes.map(_.map(r => r.name -> r.stats.jobs).toMap)
    assert(first("sim_knn_ivf") === second("sim_knn_ivf"), s"first $first, second $second")
  }
}
