package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._

/** Records one span per Spark job while registered, with the job's
  * tags, call stack and the summed metrics of the tasks that ran for
  * it. Spans stay in memory until `drainTo`; the benchmark's report
  * turns them into per-layer figures.
  *
  * Tags come from the local properties the harness sets around each
  * call. Jobs submitted from threads that did not inherit them (the
  * global pool `PersistScope.par` uses) carry no tags, or stale ones;
  * the report attributes those by time window. */
final class Trace extends SparkListener {
  import Trace._
  private final class Job(val id: Int, val start: Long, val tags: Map[String, String],
      val callStack: String) {
    // tasks, task ms, shuffle write, shuffle read, disk spill, input bytes, stages
    val acc = new Array[Long](7)
  }
  private val open = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val done = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // The details of a job's final stage are the call stack of the
    // thread that submitted it.
    val callStack = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val j = new Job(e.jobId, e.time,
      Seq(QueryKey, PhaseKey).map(k => k -> prop(k)).toMap, callStack)
    open.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.acc.synchronized(j.acc(6) += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = Option(e.taskMetrics)
      j.acc.synchronized {
        j.acc(0) += 1
        j.acc(1) += Option(e.taskInfo).map(_.duration).getOrElse(0L)
        m.foreach { t =>
          j.acc(2) += t.shuffleWriteMetrics.bytesWritten
          j.acc(3) += t.shuffleReadMetrics.totalBytesRead
          j.acc(4) += t.diskBytesSpilled
          j.acc(5) += t.inputMetrics.bytesRead
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { j =>
      val a = j.acc.synchronized(j.acc.clone())
      done.add(Json.obj(
        "type" -> "job", "job" -> j.id, "start_ms" -> j.start, "end_ms" -> e.time,
        "query" -> j.tags(QueryKey), "phase" -> j.tags(PhaseKey),
        "call_stack" -> j.callStack, "tasks" -> a(0), "task_ms" -> a(1),
        "shuffle_write_b" -> a(2), "shuffle_read_b" -> a(3), "spill_b" -> a(4),
        "input_b" -> a(5), "stages" -> a(6)))
    }

  def drainTo(out: String => Unit): Unit = {
    var s = done.poll()
    while (s != null) { out(s); s = done.poll() }
  }
}

object Trace {
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"
}

/** Flat JSON objects for the harness's event log. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case null | None => "null"
      case Some(x) => value(x)
      case x => value(x)
    })
  }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case x => str(x.toString)
  }
}
