package graft

import java.nio.file.Files
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.sources.Sources

/** Round-trip and quarantine semantics of the source/sink surface. */
class SourcesSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-src").toString

  test("csv round-trip preserves values under an explicit schema") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq((1L, "ann"), (2L, "bob")).toDF("id", "name")
    Sources.writeCsv(df, s"$dir/c")
    val schema = new StructType().add("id", LongType).add("name", StringType)
    val back = Sources.readCsv(spark, s"$dir/c", schema)
      .select("id", "name").orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "ann"), (2L, "bob")))
  }

  test("malformed json rows quarantine instead of failing the read") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "rows.json"),
      """{"id": 1, "name": "ok"}
        |this is not json
        |{"id": 2, "name": "also ok"}
        |""".stripMargin)
    val schema = new StructType().add("id", LongType).add("name", StringType)
    // Spark disallows querying ONLY the corrupt-record column straight
    // off the reader (QUERY_ONLY_CORRUPT_RECORD_COLUMN); materialize.
    val got = Sources.readJson(spark, dir, schema).cache()
    try {
      assert(got.filter(s"${Sources.CorruptCol} IS NULL").count() === 2)
      assert(got.filter(s"${Sources.CorruptCol} IS NOT NULL").count() === 1)
    } finally got.unpersist()
  }

  test("schema evolution: merged read surfaces late-added columns as nulls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    // v1 load: (id, name); v2 load adds a score column.
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/load=1")
    Seq((3L, "c", 0.5)).toDF("id", "name", "score")
      .write.parquet(s"$dir/load=2")
    val merged = graft.sources.Sources.readParquetMerged(
      spark, s"$dir/load=1", s"$dir/load=2")
    assert(merged.columns.toSet === Set("id", "name", "score"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getLong(0), r.isNullAt(2)))
    assert(rows.toSeq === Seq((1L, true), (2L, true), (3L, false)))
  }

  test("orc round-trip preserves values and pushes filters into the scan") {
    val dir = tmp()
    val docs = Tables.documents(spark, Fixtures.testdata("0.001"))
      .select("doc_id", "lang", "n_chars")
    Sources.writeOrc(docs, s"$dir/docs_orc")
    val back = Sources.readOrc(spark, s"$dir/docs_orc")
    assert(back.count() === docs.count())
    val sample = back.orderBy("doc_id").limit(3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = docs.orderBy("doc_id").limit(3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(sample === expect)
    // the native vectorized ORC reader must push the predicate down
    val f = back.filter("doc_id < 10")
    f.count()
    val scan = f.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scan.contains("PushedFilters") && !scan.contains("PushedFilters: []"),
      s"no pushed filters in ORC scan:\n$scan")
  }

  test("partitioned parquet write prunes on the partition column") {
    val dir = tmp()
    val docs = Tables.documents(spark, Fixtures.testdata("0.001"))
    Sources.writeParquet(docs, s"$dir/docs", partitionCols = Seq("lang"))
    // one subdirectory per lang value
    val subdirs = new java.io.File(s"$dir/docs").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs.forall(_.startsWith("lang=")))
    val back = Sources.readParquet(spark, s"$dir/docs")
    assert(back.count() === docs.count())
    // partition filter must prune, not scan-and-filter: the scanned
    // files for one lang live under exactly that partition dir.
    val one = back.filter("lang = 'en'")
    val scanned = one.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.linesIterator.filter(_.contains("PartitionFilters")))
    assert(one.count() === docs.filter("lang = 'en'").count())
    assert(scanned.exists(_.contains("lang")), s"no partition filter in plan: $scanned")
  }
}
