package org.apache.spark

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What one measured body ran: its wall time, the Spark jobs, stages
  * and tasks it launched, the summed run time of those tasks, and the
  * time during which at least one of its jobs was running. `drained`
  * is false when the listener bus did not empty in time before or
  * after the body: the counts may then miss the body's events or hold
  * an earlier body's. */
final case class QueryStats(wallS: Double, jobs: Int, stages: Int, tasks: Int,
    taskS: Double, inJobS: Double, drained: Boolean) {
  /** Wall time with no job running: construction and planning on the
    * driver, and the gaps between one job's end and the next one's
    * start. */
  def driverGapS: Double = wallS - inJobS
}

/** The one Spark-job probe of the library: Bench's per-query split and
  * the specs' job counts both read it. Listener events reach listeners
  * asynchronously, so the listener bus (`private[spark]`, hence this
  * package) is drained before `body` starts and again before the
  * counts are read, as Spark's own test utilities do. In-job time is
  * the union of the jobs' intervals within the body's window, not
  * their sum: jobs that run at the same time (`OpModule.par`) count
  * once, so it never exceeds the wall time. */
object QueryProbe {
  /** How long a drain waits (Spark's own default is 10 s). A drain
    * that times out marks the stats instead of throwing, so one slow
    * bus cannot end a whole bench pass. */
  private val DrainTimeoutMs = 60000L

  def measure[T](spark: SparkSession)(body: => T): (T, QueryStats) = {
    val sc = spark.sparkContext
    val recorder = new Recorder
    val drainedBefore = drain(sc)
    sc.addSparkListener(recorder)
    try {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val drained = drain(sc) && drainedBefore
      (out, recorder.stats(startMs, wallS, drained))
    } finally sc.removeSparkListener(recorder)
  }

  private def drain(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(DrainTimeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Job intervals come from the scheduler's event times (milliseconds
    * of the wall clock); the body's window starts at `startMs` and
    * lasts `wallS`. A job with no end event ends with the window. */
  private final class Recorder extends SparkListener {
    private val started = mutable.Map[Int, Long]()
    private val ended = mutable.Map[Int, Long]()
    private var stages, tasks = 0
    private var taskMs = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(started(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(ended(e.jobId) = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.taskInfo != null) taskMs += e.taskInfo.duration
    }

    def stats(startMs: Long, wallS: Double, drained: Boolean): QueryStats = synchronized {
      val endMs = startMs + wallS * 1e3
      val spans = started.toSeq.map { case (id, s) =>
        (math.max(s.toDouble, startMs.toDouble), math.min(ended.get(id).fold(endMs)(_.toDouble), endMs))
      }.sortBy(_._1)
      // Walk the spans by start; `reached` is the latest end seen.
      val (inJobMs, _) = spans.foldLeft((0.0, startMs.toDouble)) { case ((sum, reached), (s, e)) =>
        (sum + math.max(0.0, e - math.max(s, reached)), math.max(reached, e))
      }
      QueryStats(wallS, started.size, stages, tasks, taskMs / 1e3, inJobMs / 1e3, drained)
    }
  }
}
