package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query stage/job decomposition (r13 verdict #1): for each named
  * query, count Spark jobs, stages, tasks, and the SUM of executor
  * task time, beside the wall-clock — separating SCHEDULING FLOOR
  * (many tiny jobs/stages whose tasks do microseconds of work; wall ≫
  * Σtask/cores) from REAL WORK (wall ≈ Σtask/cores). A query whose
  * task-time sum divided by core count is a small fraction of its
  * wall-clock is floor-bound: the fix is fewer eager jobs (lineage
  * cuts) and fewer tasks per job (partition counts on tiny frames),
  * not a better plan.
  *
  * Usage: SPARK_GRAFT_QUERIES=a,b,c runMain graft.Audit
  * Each query is run as a `noop` write, as Bench times it: the full
  * physical plan, terminal sort and windows included (a `count()`
  * would let the optimizer drop both). Emits one JSON line per query
  * and writes the full list to `audit_out.json` in the working
  * directory.
  */
object Audit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(32)
    val cpus = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val qFilter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benched = SparkEntry.queries.filter { case (n, _) =>
      qFilter.forall(_.contains(n)) }

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val jobMs = new AtomicLong(0L)
    val jobStartAt = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobStartAt.put(j.jobId, j.time)
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = jobStartAt.remove(j.jobId)
        if (s != 0L) jobMs.addAndGet(j.time - s)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })

    def run(fn: (SparkSession, String) => DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Warm-up pass (JIT/codegen/classloading), uncounted.
    benched.foreach { case (_, fn) =>
      try run(fn) catch { case _: Throwable => () }
    }
    // Count from a cold memo, as Bench.timedPass does: the warm-up
    // built every SessionMemo frame, and a memo consumer's row must
    // include its own build jobs.
    graft.operators.SessionMemo.clear()
    val out = new StringBuilder("[")
    var first = true
    benched.foreach { case (name, fn) =>
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L); jobMs.set(0L)
      val t0 = System.nanoTime()
      // Record failures instead of swallowing them (r14 advice #4): a
      // throwing query otherwise emits a normal-looking row whose
      // numbers are just the time-to-throw — it would read as a
      // floor-bound fast query.
      val err: Option[String] =
        try { run(fn); None }
        catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      val wallSec = (System.nanoTime() - t0) / 1e9
      // listener bus is async; drain before reading counters
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      val errJson = err.map(c => s""","error":"$c"""").getOrElse("")
      val line =
        f"""{"query":"$name","wall_sec":$wallSec%.3f,"jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},"task_time_sec":${taskMs.get / 1e3}%.3f,"task_over_cores_sec":${taskMs.get / 1e3 / cpus}%.3f,"in_job_sec":${jobMs.get / 1e3}%.3f,"driver_gap_sec":${math.max(0.0, wallSec - jobMs.get / 1e3)}%.3f$errJson}"""
      println("[audit] " + line)
      if (!first) out.append(",\n")
      out.append(line); first = false
    }
    out.append("]")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("audit_out.json"),
      out.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
