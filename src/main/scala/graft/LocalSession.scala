package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of the command-line mains (Bench, Audit,
  * Verify, PlanDump, StressGen): `local[n]` with n shuffle partitions,
  * UTC session time, no UI, WARN logging, and a generated-code cache
  * that holds a whole pass. n is SPARK_GRAFT_CPUS when set, else the
  * caller's `defaultCpus`.
  */
object LocalSession {
  /** `spark.sql.codegen.cache.maxEntries` (static, Spark default 100).
    * One pass over all 327 queries at sf0.01 compiles 3238 distinct
    * generated classes (`CodegenMetrics.METRIC_COMPILATION_TIME`, cache
    * unbounded, local[4]); later passes add 54–118 new ones. At 100
    * entries every pass recompiled nearly all of them; 4096 holds a
    * pass with headroom, at ~240 MB Metaspace for the whole JVM. */
  val CodegenCacheEntries = 4096

  def apply(defaultCpus: Int): SparkSession = {
    val n = cpus(sys.env.get("SPARK_GRAFT_CPUS"), defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from a SPARK_GRAFT_CPUS value: a positive integer, or
    * `default` when the variable is unset. */
  private[graft] def cpus(env: Option[String], default: Int): Int =
    env.fold(default) { v =>
      val n = v.trim.toIntOption
      require(n.exists(_ > 0), s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n.get
    }
}
