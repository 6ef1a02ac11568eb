package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** The size rule of the registry's terminal sort
  * (`GraftBridge.onePartitionSortIfSmall`, applied to every
  * `SparkEntry.queries` result): a query whose inputs fit the session's
  * broadcast threshold sorts in one partition, any other keeps its
  * range sort, and both give the same rows. Each test sets the
  * threshold itself and restores it. */
class TerminalSortSpec extends SparkSpec {
  private val sf = Fixtures.testdata("0.001")
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val before = spark.conf.getOption(Threshold)
    spark.conf.set(Threshold, v)
    try body finally before.fold(spark.conf.unset(Threshold))(spark.conf.set(Threshold, _))
  }

  /** The initial physical plan, not executed. */
  private def initial(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def ranged(df: DataFrame): Boolean = initial(df).exists {
    case e: ShuffleExchangeLike => e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  private def graded(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  /** The query as its module defines it, before the registry's rewrite. */
  private def unwrapped(name: String): DataFrame =
    SparkEntry.modules.find(_.queries.contains(name)).get.queries(name)(spark, sf)

  /** Analyzed plan with expression ids dropped, so two constructions of
    * one query compare equal. */
  private def shape(df: DataFrame): String =
    df.queryExecution.analyzed.treeString.replaceAll("#\\d+L?", "")

  private val sorted = Seq("join_fuzzy_match", "win_ntile_cume", "subq_correlated",
    "text_repetition", "dedup_minhash_sig")

  test("a query over inputs above the threshold keeps its range exchange, with the same rows") {
    val small = sorted.map(n => n -> graded(n))
    small.foreach { case (n, df) => assert(!ranged(df), s"$n: range exchange over small inputs") }
    withThreshold("1024") {
      sorted.zip(small).foreach { case (n, (_, one)) =>
        val big = graded(n)
        assert(ranged(big), s"$n: inputs above a 1 KB threshold lost their range sort")
        assert(big.collect().toSeq === one.collect().toSeq, s"$n: outputs differ")
      }
    }
  }

  test("an input read twice counts once against the threshold") {
    val dir = Fixtures.tempDir()
    Fixtures.write(spark.range(0, 200).select((col("id") % 50).as("k"), col("id").as("v")),
      dir, "t")
    val parquet = spark.read.parquet(s"$dir/t.parquet")
    val cut = GraftBridge.checkpoint(spark.range(0, 200, 1, 4)
      .select((col("id") % 50).as("k"), col("id").as("v")))
    for ((t, kind) <- Seq(parquet -> "parquet", cut -> "checkpoint")) {
      // S <= threshold < 2S: the self-join's two leaves count as one.
      val size = t.queryExecution.analyzed.stats.sizeInBytes.toLong
      def selfJoin = GraftBridge.onePartitionSortIfSmall(
        t.as("a").join(t.as("b"), col("a.k") === col("b.k"))
          .select(col("a.v").as("av"), col("b.v").as("bv")).orderBy("av", "bv"))
      val expected = withThreshold("-1")(selfJoin.collect().toSeq)
      withThreshold((size * 3 / 2).toString) {
        val df = selfJoin
        assert(!ranged(df), s"$kind of $size bytes read twice lost its one-partition sort")
        assert(df.collect().toSeq === expected)
      }
      assert(expected.size === 800)
    }
  }

  test("a threshold of -1 leaves every plan as it is") {
    withThreshold("-1") {
      val df = Tables.orders(spark, sf).orderBy(col("o_orderkey"))
      assert(GraftBridge.onePartitionSortIfSmall(df) eq df)
      (sorted :+ "agg_gini").foreach { n =>
        assert(shape(graded(n)) === shape(unwrapped(n)), s"$n was rewritten")
      }
      sorted.foreach(n => assert(ranged(graded(n)), s"$n: no range exchange at -1"))
    }
  }

  test("an orderBy(...).limit(n) still plans TakeOrderedAndProject") {
    withThreshold("10MB") {
      val top = Tables.orders(spark, sf).orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(5)
      assert(GraftBridge.onePartitionSortIfSmall(top) eq top)
      val freq = graded("agg_freq_items")
      assert(shape(freq) === shape(unwrapped("agg_freq_items")))
      Seq(top, freq).foreach { df =>
        assert(initial(df).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
          s"no TakeOrderedAndProject:\n${initial(df)}")
        assert(!ranged(df))
      }
    }
  }
}
