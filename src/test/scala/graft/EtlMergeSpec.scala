package graft

import org.apache.spark.sql.functions._

/** Action semantics of the MERGE/SCD2 operators against predicate
  * counts computed independently from the same input.
  */
class EtlMergeSpec extends SparkSpec {

  private val sf = Fixtures.testdata("0.001")

  private lazy val keys = Tables.customer(spark, sf)
    .select("c_custkey").collect().map(_.getLong(0)).toSet

  test("merge_upsert emits update/insert/keep per the key predicates") {
    val rows = SparkEntry.queries("etl_merge_upsert")(spark, sf)
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = keys.filter(_ % 3 != 0)
    val delta = keys.filter(_ % 2 == 0)
    assert(rows.getOrElse("update", 0L) === (base & delta).size.toLong)
    assert(rows.getOrElse("insert", 0L) === (delta -- base).size.toLong)
    assert(rows.getOrElse("keep", 0L) === (base -- delta).size.toLong)
  }

  test("merge_upsert updated rows carry the delta's values") {
    val updated = SparkEntry.queries("etl_merge_upsert")(spark, sf)
      .filter(col("action") =!= "keep")
    assert(updated.filter(!col("name").endsWith("#u")).count() === 0L)
  }

  test("scd2 closes exactly the changed keys and keeps one current row per key") {
    val out = SparkEntry.queries("etl_scd2_merge")(spark, sf)
    val base = keys.filter(_ % 3 != 0)
    val delta = keys.filter(_ % 5 == 0)
    val changed = base & delta
    assert(out.filter(!col("is_current")).count() === changed.size.toLong)
    assert(out.filter(!col("is_current")).filter(col("valid_to").isNull).count() === 0L)
    // every key in base ∪ delta has exactly one open (current) version
    val current = out.filter(col("is_current"))
    assert(current.count() === (base ++ delta).size.toLong)
    assert(current.groupBy("c_custkey").count().filter(col("count") > 1).count() === 0L)
  }
}
