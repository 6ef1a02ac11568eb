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

  test("every job of a pass carries its query's name, also from `par`'s pool threads") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // Builds sim_knn_ivfpq once under another job group, so the pool
    // threads `par` starts here inherit that group. This test runs
    // first: the suite's later passes would start them under the
    // query's own name and hide a missing hand-over.
    sc.setJobGroup("stale", "stale")
    try SparkEntry.queries("sim_knn_ivfpq")(spark, sf) finally sc.clearJobGroup()
    org.apache.spark.QueryProbe.measure(spark)(()) // drains those jobs' events
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    // the pass drains the listener bus before it returns
    val rows = try Bench.pass(spark, sf, Seq("sim_knn_ivfpq")) finally sc.removeSparkListener(listener)
    val got = groups.toArray.toSeq
    assert(rows.head.error.isEmpty && got.size === rows.head.stats.jobs, s"$rows, $got")
    assert(got.forall(_ == "sim_knn_ivfpq"), s"job groups: ${got.groupBy(identity).view.mapValues(_.size).toMap}")
  }

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
