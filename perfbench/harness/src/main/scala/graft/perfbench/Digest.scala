package graft.perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-sensitive digest of a query's full result.
  *
  * The rows are folded as a polynomial hash in result order,
  * h = Σ rowHash(r_i)·B^(n−1−i) mod 2^64, so swapping two rows changes
  * the digest while a different split of the same row sequence into
  * partitions does not (partial hashes concatenate exactly). The
  * schema is part of the digest, so a renamed or retyped column is a
  * different result. Rows are read in Spark's internal format straight
  * from the executed plan (no deserializer) and rendered canonically:
  * dates and timestamps as their day and microsecond counts, so the
  * digest does not depend on any time zone.
  */
object Digest {
  private val B = 0x100000001b3L

  final case class Part(rows: Long, hash: Long, pow: Long) {
    def ++(o: Part): Part = Part(rows + o.rows, hash * o.pow + o.hash, pow * o.pow)
  }
  val Empty: Part = Part(0L, 0L, 1L)

  /** Canonical text of one internal-format value of type `t`. */
  def canon(v: Any, t: DataType): String = if (v == null) "∅" else t match {
    case s: StructType =>
      val r = v.asInstanceOf[InternalRow]
      s.fields.indices.map(i => canon(r.get(i, s(i).dataType), s(i).dataType))
        .mkString("(", ",", ")")
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).map(i => canon(a.get(i, et), et)).mkString("[", ",", "]")
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map(i => canon(ks.get(i, kt), kt) + "->" + canon(vs.get(i, vt), vt))
        .sorted.mkString("{", ",", "}")
    case BinaryType => v.asInstanceOf[Array[Byte]].map(x => f"$x%02x").mkString("0x", "", "")
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
    case u: UserDefinedType[_] => canon(v, u.sqlType)
    case _ => v.toString
  }

  def lineHash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  def fold(lines: Iterator[String]): Part = {
    var n = 0L; var h = 0L; var p = 1L
    lines.foreach { s => h = h * B + lineHash(s); p *= B; n += 1 }
    Part(n, h, p)
  }

  /** Hex digest of an in-order sequence of partition parts. */
  def render(schema: String, parts: Seq[Part]): String = {
    val all = parts.foldLeft(Empty)(_ ++ _)
    f"${MurmurHash3.stringHash(schema)}%08x${all.hash}%016x"
  }

  /** (row count, digest) of `df`, computing every row and column once
    * through the same physical plan a write of `df` executes. */
  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val rdd = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.toRdd
    val parts = rdd.mapPartitions(it => Iterator(fold(it.map(r => canon(r, schema)))))
      .collect().toSeq
    (parts.map(_.rows).sum, render(schema.simpleString, parts))
  }
}
