package graft

import org.apache.spark.sql.types._

/** Fast-fail guard against silent testdata schema drift.
  *
  * Round-5 lesson: the testdata was regenerated and changed
  * events.ts from parquet TIMESTAMP(NANOS) to TIMESTAMP(MICROS); the
  * engine discovered the drift 59 times over as an opaque analyzer
  * error deep inside each events query. This spec asserts the expected
  * (column name, allowed-dtype-set) contract per table ONCE, with a
  * readable message naming the drifted column — so the next upstream
  * regeneration costs one red test, not 59.
  *
  * Timestamp-ish columns accept the full set of encodings the loader
  * tolerates: LongType (ns-as-long legacy mode), TIMESTAMP_NTZ
  * (µs, isAdjustedToUTC=false), and TIMESTAMP (µs adjusted) — matching
  * the dtype-adaptive branch in Tables.events.
  */
class SchemaContractSpec extends SparkSpec {
  private val sfDir = Fixtures.testdata("0.001")

  private val tsLike: Set[DataType] = Set(LongType, TimestampNTZType, TimestampType)

  /** table -> ordered (column, allowed dtypes) contract, as RAW-loaded
    * by spark.read.parquet (nanosAsLong on, so ns encodings load too).
    */
  private val contract: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> Set(IntegerType), "r_name" -> Set(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> Set(IntegerType), "n_name" -> Set(StringType),
      "n_regionkey" -> Set(IntegerType)),
    "customer" -> Seq(
      "c_custkey" -> Set(LongType), "c_name" -> Set(StringType),
      "c_nationkey" -> Set(IntegerType), "c_acctbal" -> Set(DoubleType),
      "c_mktsegment" -> Set(StringType)),
    "supplier" -> Seq(
      "s_suppkey" -> Set(LongType), "s_name" -> Set(StringType),
      "s_nationkey" -> Set(IntegerType), "s_acctbal" -> Set(DoubleType)),
    "part" -> Seq(
      "p_partkey" -> Set(LongType), "p_name" -> Set(StringType),
      "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
      "p_size" -> Set(IntegerType), "p_retailprice" -> Set(DoubleType)),
    "orders" -> Seq(
      "o_orderkey" -> Set(LongType), "o_custkey" -> Set(LongType),
      "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
      "o_orderdate" -> tsLike, "o_orderpriority" -> Set(StringType)),
    "lineitem" -> Seq(
      "l_orderkey" -> Set(LongType), "l_partkey" -> Set(LongType),
      "l_suppkey" -> Set(LongType), "l_linenumber" -> Set(IntegerType),
      "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
      "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> tsLike),
    "events" -> Seq(
      "event_id" -> Set(LongType), "ts" -> tsLike,
      "user_id" -> Set(LongType), "event_type" -> Set(StringType),
      "value" -> Set(DoubleType), "props" -> Set(StringType)),
    "documents" -> Seq(
      "doc_id" -> Set(LongType), "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType),
      "n_chars" -> Set(LongType)),
    "embeddings" -> Seq(
      "vec_id" -> Set(LongType),
      "embedding" -> Set(ArrayType(FloatType, containsNull = true),
                         ArrayType(FloatType, containsNull = false)),
      "label" -> Set(IntegerType)))

  /** Returns human-readable drift descriptions (empty = conforming). */
  private def driftOf(table: String, loaded: StructType): Seq[String] = {
    val expected = contract(table)
    if (loaded.map(_.name) != expected.map(_._1))
      Seq(s"$table: column set/order drifted — expected ${expected.map(_._1).mkString(",")} " +
          s"but loaded ${loaded.map(_.name).mkString(",")}")
    else
      expected.zip(loaded).collect {
        case ((name, allowed), field) if !allowed.contains(field.dataType) =>
          s"$table.$name: dtype drifted to ${field.dataType.simpleString} " +
          s"(allowed: ${allowed.map(_.simpleString).mkString(" | ")})"
      }
  }

  test("testdata schema matches the expected contract (fast-fail on drift)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val drift = Tables.names.flatMap { t =>
      driftOf(t, spark.read.parquet(s"$sfDir/$t.parquet").schema)
    }
    assert(drift.isEmpty,
      s"\nTESTDATA SCHEMA DRIFT — upstream regeneration changed the surface:\n  " +
      drift.mkString("\n  ") +
      "\nFix the loader (Tables.scala) / contract here, and re-sync FIXTURES.md.")
  }

  test("a deliberately drifted dtype produces a readable failure naming the column") {
    // Simulates the r5 incident in reverse: events.ts as DOUBLE (never
    // an allowed encoding) plus a dropped column — both must be caught
    // and named, proving the guard fires before any query would.
    val badTs = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", DoubleType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val d1 = driftOf("events", badTs)
    assert(d1.size == 1 && d1.head.startsWith("events.ts: dtype drifted to double"), d1.toString)

    val dropped = StructType(badTs.fields.filterNot(_.name == "props"))
    val d2 = driftOf("events", dropped)
    assert(d2.size == 1 && d2.head.contains("column set/order drifted"), d2.toString)
  }

  test("Tables.events normalizes ts to TimestampType regardless of encoding") {
    val ts = Tables.events(spark, sfDir).schema("ts").dataType
    assert(ts == TimestampType,
      s"events.ts must load as TIMESTAMP after normalization, got ${ts.simpleString}")
  }
}
