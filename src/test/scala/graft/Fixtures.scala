package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Temp-dir parquet fixtures shaped like the driver testdata, so module
  * specs can exercise queries on tiny hand-computable tables through
  * the same `(spark, sfDir)` entry points the driver grades.
  */
object Fixtures {
  /** Root of the generated testdata scales: `testdata` under the
    * home directory (TESTDATA.md), or SPARK_GRAFT_TESTDATA when set. */
  val testdataRoot: String = sys.env.getOrElse("SPARK_GRAFT_TESTDATA",
    new java.io.File(sys.props("user.home"), "testdata").getPath)

  /** The generated testdata directory of one scale factor, e.g. "0.001". */
  def testdata(sf: String): String = s"$testdataRoot/sf$sf"

  def tempDir(): String =
    Files.createTempDirectory("graft-fixture").toString

  def write(df: DataFrame, dir: String, table: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")

  /** documents table: (doc_id, text, lang, source, n_chars). */
  def documents(spark: SparkSession, dir: String, texts: Seq[String]): Unit = {
    import spark.implicits._
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    write(df, dir, "documents")
  }

  /** events table with ts as raw nanos (the driver files are
    * TIMESTAMP(NANOS); `Tables.events` reads them as longs). */
  def events(spark: SparkSession, dir: String,
             rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    val df = rows
      .map { case (id, tsUs, user, typ, v) => (id, tsUs * 1000L, user, typ, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    write(df, dir, "events")
  }

  /** lineitem slice for the co-purchase graph ops: (orderkey, partkey). */
  def lineitem(spark: SparkSession, dir: String,
               rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    write(rows.toDF("l_orderkey", "l_partkey"), dir, "lineitem")
  }

  /** orders table slice used by join_asof: key, custkey, orderdate (µs). */
  def orders(spark: SparkSession, dir: String,
             rows: Seq[(Long, Long, Long)]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = rows.toDF("o_orderkey", "o_custkey", "od_us")
      .withColumn("o_orderdate", timestamp_micros(col("od_us")))
      .withColumn("o_orderstatus", lit("O"))
      .withColumn("o_totalprice", lit(100.0))
      .drop("od_us")
    write(df, dir, "orders")
  }
}
