package graft.perfbench

import java.io.{FileOutputStream, OutputStreamWriter, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.operators.SessionMemo

/** One closed-loop client over a pinned, ordered list of
  * `SparkEntry.queries`, in one JVM with one local SparkSession.
  *
  * A run is: an untimed warm-up pass whose action digests every result
  * for the output check, then `--passes` timed passes (with `--trace 1`
  * at least three, every second one traced), cut short only if they
  * run past `--max-seconds`. Every pass starts with `SessionMemo.clear()`,
  * so each pays its own memo builds. Each query is timed as two calls:
  * construction (`SparkEntry.queries(name)(spark, dir)`) and the
  * terminal action, a `noop` write that computes every output row and
  * column. Each pass also records the CPU time of the JIT compiler's
  * threads, the number of classes the JVM loaded, the machine's busy
  * and stolen CPU time (`HostCpu`) and the speed of one core (`Probe`). The harness only
  * records; it writes one JSON object per line to `--events` and leaves
  * every figure to the report.
  *
  * Usage: Harness --data DIR --order FILE --passes N --max-seconds S --trace 0|1
  *                --cores N --events FILE [--dump DIR]
  * `--order` holds one query name per line, in run order; `--dump`
  * also writes each checked result to DIR/name as parquet and the
  * DuckDB twins of `SparkEntry.oracleSql` to DIR/oracle_sql.json.
  */
object Harness {
  final case class Args(data: String, order: Seq[String], passes: Int, maxSeconds: Double,
      trace: Boolean, cores: Int, events: String, dump: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val order = scala.io.Source.fromFile(need("order"), "UTF-8")
    try Args(need("data"), order.getLines().map(_.trim).filter(_.nonEmpty).toVector,
      need("passes").toInt, need("max-seconds").toDouble, need("trace") == "1", need("cores").toInt,
      need("events"), m.get("dump"))
    finally order.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.cores > 0 && a.passes > 0 && a.maxSeconds > 0,
      "cores, passes and max-seconds must be positive")
    val log = new PrintWriter(new OutputStreamWriter(
      new FileOutputStream(a.events), StandardCharsets.UTF_8), true)
    val emit: String => Unit = s => log.println(s)
    Probe.start()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    emit(Json.obj("type" -> "start",
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> System.currentTimeMillis(), "cores" -> a.cores,
      "spark_version" -> spark.version))
    try try run(spark, a, emit) finally spark.stop() finally log.close()
  }

  private def run(spark: SparkSession, a: Args, emit: String => Unit): Unit = {
    val known = SparkEntry.queries
    a.order.filterNot(known.contains).foreach(n =>
      emit(Json.obj("type" -> "unresolved", "name" -> n)))
    val plan = a.order.filter(known.contains).map(n => n -> known(n))
    val sc = spark.sparkContext

    def storageMb(): Double = sc.statusTracker.getExecutorInfos
      .map(e => e.usedOnHeapStorageMemory + e.usedOffHeapStorageMemory).sum / 1048576.0

    def error(e: Throwable): String =
      e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).linesIterator
        .nextOption().getOrElse("").take(300)

    /** One query: construction, then `finish` on the result, both timed
      * and tagged; `finish` returns extra fields for the query's record. */
    def query(pass: String, name: String, fn: (SparkSession, String) => DataFrame)(
        finish: DataFrame => Seq[(String, Any)]): Unit = {
      sc.setLocalProperty(Trace.QueryKey, name)
      sc.setLocalProperty(Trace.PhaseKey, "build")
      var err: String = null
      val s0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val df = try fn(spark, a.data) catch { case e: Throwable => err = error(e); null }
      val t1 = System.nanoTime(); val s1 = System.currentTimeMillis()
      val held = storageMb()
      val persisted = sc.getPersistentRDDs.size
      sc.setLocalProperty(Trace.PhaseKey, "action")
      val s1b = System.currentTimeMillis(); val t1b = System.nanoTime()
      val extra = if (df == null) Nil
        else try finish(df) catch { case e: Throwable => err = error(e); Nil }
      val t2 = System.nanoTime(); val s2 = System.currentTimeMillis()
      Seq(Trace.QueryKey, Trace.PhaseKey).foreach(sc.setLocalProperty(_, null))
      emit(Json.obj(Seq[(String, Any)]("type" -> "query", "pass" -> pass, "name" -> name,
        "start_ms" -> s0, "build_end_ms" -> s1, "action_start_ms" -> s1b, "end_ms" -> s2,
        "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1b) / 1e9,
        "wall_s" -> ((t1 - t0) + (t2 - t1b)) / 1e9, "held_mb" -> held,
        "persisted_rdds" -> persisted, "storage_mb" -> storageMb(),
        "error" -> Option(err)) ++ extra: _*))
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    val classes = ManagementFactory.getClassLoadingMXBean

    /** One pass over the plan; returns its wall time in seconds. */
    def pass(id: String, kind: String, traced: Boolean)(
        finish: (String, DataFrame) => Seq[(String, Any)]): Double = {
      val tracer = if (traced) Some(new Trace) else None
      tracer.foreach(sc.addSparkListener)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs()
      val jit0 = JitCpu.byThread(); val cl0 = classes.getTotalLoadedClassCount
      val (busy0, steal0) = HostCpu.ticks(); val probe0 = Probe.mark()
      val s0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      SessionMemo.clear()
      plan.foreach { case (name, fn) => query(id, name, fn)(df => finish(name, df)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val s1 = System.currentTimeMillis()
      val jit = JitCpu.since(jit0); val loaded = classes.getTotalLoadedClassCount - cl0
      val (busy1, steal1) = HostCpu.ticks(); val probe = Probe.since(probe0)
      tracer.foreach { t =>
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(t)
        t.drainTo(emit)
      }
      emit(Json.obj("type" -> "pass", "pass" -> id, "kind" -> kind, "traced" -> traced,
        "start_ms" -> s0, "end_ms" -> s1, "wall_s" -> wall, "gc_ms" -> (gcMs() - gc0),
        "jit_cpu_s" -> jit, "classes_loaded" -> loaded,
        "busy_ticks" -> (busy1 - busy0), "steal_ticks" -> (steal1 - steal0),
        "probe_s" -> probe,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0))
      wall
    }

    val noop: (String, DataFrame) => Seq[(String, Any)] = { (_, df) =>
      df.write.format("noop").mode("overwrite").save(); Nil
    }
    // The warm-up's action is the output check: it digests every row and
    // column through the same physical plan the timed noop write runs
    // (and dumps the result with --dump). One tiny noop write first
    // warms the writer path itself.
    noop("", spark.range(1).toDF())
    pass("warmup", "warmup", traced = false) { (name, df) =>
      a.dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
      val (rows, digest) = Digest.of(df)
      Seq("rows" -> rows, "digest" -> digest)
    }
    a.dump.foreach { d =>
      val oracles = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> v }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/oracle_sql.json"),
        Json.obj(oracles: _*))
    }
    val (busy, steal) = HostCpu.ticks()
    emit(Json.obj("type" -> "setup", "first_timed_ms" -> System.currentTimeMillis(),
      "busy_ticks" -> busy, "steal_ticks" -> steal, "probe_s" -> Probe.since(0)))
    val passes = if (a.trace) a.passes.max(3) else a.passes
    var k = 0
    var timed = 0.0
    while (k < passes && timed < a.maxSeconds) {
      timed += pass(k.toString, "timed", traced = a.trace && k % 2 == 1)(noop)
      k += 1
    }
  }
}

/** CPU time of the JVM's JIT compiler threads, read from /proc (Linux);
  * where there is no /proc it reads as zero. */
object JitCpu {
  private val Tasks = java.nio.file.Paths.get("/proc/self/task")

  /** Thread id -> CPU nanoseconds, for the compiler threads alive now. */
  def byThread(): Map[String, Long] = {
    val ids = Option(Tasks.toFile.list()).getOrElse(Array.empty[String])
    ids.flatMap { id =>
      try {
        val dir = Tasks.resolve(id)
        if (!java.nio.file.Files.readString(dir.resolve("comm")).contains("CompilerThre")) None
        else Some(id -> java.nio.file.Files.readString(dir.resolve("schedstat"))
          .trim.split(" ")(0).toLong)
      } catch { case _: java.io.IOException => None }    // the thread has ended
    }.toMap
  }

  /** Compiler CPU seconds since `before`; a thread that started since
    * counts from zero, one that ended since is not seen. */
  def since(before: Map[String, Long]): Double =
    byThread().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9
}

/** The machine's CPU time from the first line of /proc/stat (Linux), in
  * clock ticks summed over all CPUs: busy (user, nice, system, irq,
  * softirq) and steal, the time the hypervisor ran something else while
  * a virtual CPU had work. (0, 0) where there is no /proc/stat. */
object HostCpu {
  def ticks(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }
}

/** The speed the host gives one core, measured while the program runs.
  * A daemon thread times a fixed CPU kernel (an L2-sized multiply-add
  * chain, about 0.2 ms) every 10 ms. Host load that slows the cores
  * without taking them away (a busy hyperthread sibling, a lower clock)
  * slows the kernel as much as the program; the lower quartile of the
  * kernel's times over an interval leaves out samples that another
  * thread interrupted. */
object Probe {
  private val times = new Array[Long](1 << 17)           // 20+ minutes of samples
  @volatile private var n = 0
  private val data = Array.tabulate(1 << 15)(i => i * 0x9e3779b97f4a7c15L)
  @volatile private var sink = 0L

  private def kernel(): Long = {
    var x = 0L
    var r = 0
    while (r < 4) {
      var j = 0
      while (j < data.length) { x = x * 31 + (data(j) ^ (x >>> 7)); j += 1 }
      r += 1
    }
    x
  }

  def start(): Unit = {
    val t = new Thread(() => while (n < times.length) {
      val t0 = System.nanoTime()
      sink += kernel()
      times(n) = System.nanoTime() - t0
      n += 1
      Thread.sleep(10)
    }, "perfbench-probe")
    t.setDaemon(true)
    t.start()
  }

  /** A position in the sample log. */
  def mark(): Int = n

  /** Lower quartile of the kernel's time, in seconds, over the samples
    * taken since `from`; 0 when there are none. */
  def since(from: Int): Double = {
    val xs = times.slice(from, n).sorted
    if (xs.isEmpty) 0.0 else xs(xs.length / 4) / 1e9
  }
}
