package graft

/** Plan-evidence dumper (r16 optimization round, guide §1.2/§7.2):
  * writes `explain("formatted")` for the named queries to
  * `<outDir>/<query>_<suffix>.txt`, so before/after plan claims in
  * OPTIMIZATION_r16.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...|all>
  * (`all` dumps every registry query, in name order). Env:
  * SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  * `tools/plandiff.py` compares two such dump directories.
  *
  * Notes: SessionMemo is cleared before EACH dump so every plan is
  * the cold-session shape (memoized sub-chains appear as checkpoint
  * RDD-scan leaves only where a query's own body memoizes them —
  * that collapse IS the optimization being documented). Every graded
  * result is lazy, so the dumped plan is the plan the query's action
  * runs, terminal sort included; only the checkpoints a body takes
  * while it is built appear as RDD-scan leaves.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(8)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      graft.operators.SessionMemo.clear()
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val txt = try SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      catch { case e: Throwable => s"ERROR: ${e.getClass.getName}: ${e.getMessage}" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $name -> ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
