package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val lines = Seq("(1,a,∅)", "(2,b,[1,2])", "(3,c,[])")
  private def digest(parts: Seq[Seq[String]]) =
    Digest.render("s", parts.map(p => Digest.fold(p.iterator)))

  test("swapping two rows changes the digest") {
    assert(digest(Seq(lines)) != digest(Seq(Seq(lines(1), lines(0), lines(2)))))
  }

  test("the split into partitions does not change the digest") {
    val whole = digest(Seq(lines))
    assert(digest(Seq(lines.take(1), lines.drop(1))) == whole)
    assert(digest(Seq(Nil, lines.take(2), Nil, lines.drop(2))) == whole)
  }

  test("the schema is part of the digest") {
    val p = Seq(Digest.fold(lines.iterator))
    assert(Digest.render("a bigint", p) != Digest.render("b bigint", p))
  }

  test("values render canonically: nulls, empty arrays, decimals, maps in any order") {
    val t = StructType(Seq(StructField("x", ArrayType(IntegerType))))
    assert(Digest.canon(InternalRow(null), t) != Digest.canon(InternalRow(new GenericArrayData(Nil)), t))
    assert(Digest.canon(Decimal(BigDecimal("12.50")), DecimalType(12, 2)) == "12.50")
    val mt = MapType(IntegerType, StringType)
    def m(kv: (Int, String)*) = ArrayBasedMapData(kv.map(_._1).toArray, kv.map(p => UTF8String.fromString(p._2)).toArray)
    assert(Digest.canon(m(1 -> "x", 2 -> "y"), mt) == Digest.canon(m(2 -> "y", 1 -> "x"), mt))
  }

  test("a DataFrame digest follows its row order and ignores partitioning") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val df = spark.range(0, 100).selectExpr("id", "cast(id * 7 % 13 as string) s",
        "array(id, null) a", "cast(id as decimal(12, 2)) d")
      val sorted = Digest.of(df.orderBy("id"))
      assert(sorted == Digest.of(df.orderBy("id").coalesce(1)))
      assert(sorted._1 == 100L)
      assert(sorted != Digest.of(df.orderBy(col("id").desc)))
    } finally spark.stop()
  }
}
