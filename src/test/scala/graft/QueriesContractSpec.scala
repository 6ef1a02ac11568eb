package graft

/** Driver-contract invariants over the whole query inventory, run
  * against the sf0.001 smoke data: every query must execute, produce a
  * duplicate-free schema, and be fully deterministic (the t2 gate
  * hash-compares ordered rows, so a missing total-order sort or an
  * order-dependent double sum is a graded failure, not a nit).
  */
class QueriesContractSpec extends SparkSpec {

  private val sf = Fixtures.testdata("0.001")

  /** Pair-producing dedup/similarity queries may legitimately find no
    * pairs in the 500-doc smoke corpus. */
  private val mayBeEmpty =
    Set("dedup_near_minhash", "dedup_minhash_eval", "dedup_ngram_jaccard",
      "dedup_simhash_pairs", "dedup_methods_agreement", "sim_cosine_pairs",
      "dedup_embedding")

  /** approx_count_distinct's HLL estimate is engine-specific by design;
    * the driver records a rows-only check for it (SURVEY §2.4). */
  private val intentionallyUnoracled = Set("agg_approx_distinct")

  test("every query has an oracle twin and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.diff(q).isEmpty, s"oracles without query: ${o.diff(q)}")
    assert(q.diff(o).diff(intentionallyUnoracled).isEmpty,
      s"queries without oracle: ${q.diff(o).diff(intentionallyUnoracled)}")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no graded query outputs an array/map/struct column") {
    // The driver's pandas-side compare hashes and sorts every output
    // column; numpy arrays are unhashable, so ANY nested-typed column
    // is an automatic red CORRECTNESS row (killed agg_centroid_udaf in
    // r01 and agg_quantiles in r02 — both since flattened to long
    // form). Keep graded outputs scalar-only; array shapes belong in
    // sbt-only tests.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType]
            || f.dataType.isInstanceOf[MapType]
            || f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"nested-typed graded output columns (pandas-unhashable): ${offenders.mkString("; ")}")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: runs, sane schema, deterministic, ${if (mayBeEmpty(name)) "may be empty" else "non-empty"}") {
      val df = fn(spark, sf)
      val cols = df.columns
      assert(cols.distinct.length === cols.length, s"duplicate columns: ${cols.mkString(",")}")
      val r1 = fn(spark, sf).collect()
      val r2 = fn(spark, sf).collect()
      assert(r1.length === r2.length)
      r1.zip(r2).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a === b, s"row $i differs between runs — output order or values nondeterministic")
      }
      if (!mayBeEmpty(name)) assert(r1.nonEmpty, "expected non-empty result at sf0.001")
    }
  }
}
