package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of the command-line mains (Bench, Audit,
  * Verify, PlanDump, StressGen): `local[n]` with n shuffle partitions,
  * UTC session time, no UI, WARN logging. n is SPARK_GRAFT_CPUS when
  * set, else the caller's `defaultCpus`.
  */
object LocalSession {
  def apply(defaultCpus: Int): SparkSession = {
    val n = cpus(sys.env.get("SPARK_GRAFT_CPUS"), defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
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
