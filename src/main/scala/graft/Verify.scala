package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: substring filters — rehearse just the named
    // queries while iterating (the driver always calls with 2 args).
    val filters = args.drop(2)
    def keep(name: String): Boolean =
      filters.isEmpty || filters.exists(name.contains)
    val spark = LocalSession(4)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_BUCKETED=true runs the ENTIRE matrix over the
    // hash-clustered catalog layout — the DuckDB oracle still reads the
    // loose parquet, so a green run proves every graded query is
    // layout-independent end-to-end (tools/qa.sh has a leg for this).
    Tables.withRequestedLayout(spark, sfDir) { _ =>
      SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
