package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up synthesizer for the local stress leg (r7 advice #3): build
  * an sf1-equivalent dataset by unioning N key-shifted copies of the
  * sf0.1 tables, preserving every cross-table join relationship
  * (shifted foreign keys land on the same-shift dimension copy) and
  * per-entity structure (each copy brings NEW users/orders/docs, so
  * per-key group sizes stay realistic instead of inflating 10×).
  *
  * Copies are differentiated where identity would distort the
  * operators under test: document text gets a per-copy prefix (and
  * n_chars is recomputed) so exact/near-dup rates stay realistic
  * rather than multiplying every duplicate class by N; embeddings are
  * rotated by copy index so ANN/dedup geometry gets new points, not N
  * coincident ones. region/nation stay as-is (true dimensions).
  *
  * Usage: runMain graft.StressGen [srcDir] [outDir] [copies] [mode]
  * Defaults: /root/testdata/sf0.1 → /root/repo/tmp-sf1 × 10.
  *
  * mode=skew-events (r10, r9 verdict stretch #9): instead of scaling,
  * read srcDir's ALREADY-SCALED events table and funnel every 5th
  * event (event_id % 5 = 0 — deterministic, ~20% of all events) to
  * ONE new hot user — the adversarial key distribution that breaks
  * per-user hash partitioning if any per-user operator holds a
  * group's data in task memory. Only events.parquet is written; copy
  * the other tables from srcDir to build the full leg.
  */
object StressGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/tmp-sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("full")
    val spark = LocalSession(32)

    val ks = spark.range(copies).toDF("k")

    /** Union `copies` key-shifted replicas: each key column named in
      * `shifts` moves by k·span(col), computed from the source so the
      * copies' keyspaces are disjoint but join-consistent. */
    def scaled(name: String, shifts: Seq[String]): DataFrame = {
      val df = Tables(spark, src, name)
      val spans = shifts.map { c =>
        c -> (df.agg(max(col(c))).head().getLong(0) + 1L)
      }
      val crossed = df.crossJoin(broadcast(ks))
      spans.foldLeft(crossed) { case (d, (c, span)) =>
        d.withColumn(c, col(c) + col("k") * lit(span))
      }
    }

    def write(name: String, df: DataFrame): Unit = {
      // 32 files per table: the multi-file layout a real corpus has
      // (single-file testdata serializes per-row-expensive map stages).
      df.drop("k").repartition(32).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[stressgen] wrote $name")
    }

    if (mode == "skew-events") {
      val ev = Tables(spark, src, "events")
      val hot = ev.agg(max("user_id")).head().getLong(0) + 1L
      write("events", ev.withColumn("user_id",
        when(col("event_id") % 5 === 0, lit(hot)).otherwise(col("user_id"))))
      println(s"[stressgen] hot user_id = $hot owns ~20% of events")
      spark.stop()
      return
    }

    Seq("region", "nation").foreach(n => write(n, Tables(spark, src, n)))
    write("supplier", scaled("supplier", Seq("s_suppkey")))
    write("part", scaled("part", Seq("p_partkey")))
    write("customer", scaled("customer", Seq("c_custkey")))
    write("orders", scaled("orders", Seq("o_orderkey", "o_custkey")))
    write("lineitem", scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", scaled("events", Seq("event_id", "user_id")))
    write("documents",
      scaled("documents", Seq("doc_id"))
        .withColumn("text",
          when(col("k") === 0, col("text"))
            .otherwise(concat(lit("v"), col("k"), lit(" "), col("text"))))
        .withColumn("n_chars", length(col("text")).cast("long")))
    // Rotation index wraps at the embedding dimension (r11: the sf10
    // leg runs 100 copies over 64-dim vectors); copies past one full
    // wrap additionally REVERSE the rotated vector so every copy's
    // point set keeps distinct geometry (a plain k%dim rotation would
    // make copy 64 coincide with copy 0 and inflate the embedding
    // dedup/ANN duplicate structure 100×). That scheme disambiguates
    // only up to 2·dim copies (rotate×{plain,reversed}): copy 2·dim
    // has the same r AND the same reverse branch as copy dim — fail
    // LOUDLY rather than silently reintroduce duplicate inflation on
    // a future >128× leg (r11 advice).
    val dim = Tables(spark, src, "embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    require(copies <= 2 * dim,
      s"embeddings rotation scheme distinguishes at most 2*dim=${2 * dim} " +
        s"copies; asked for $copies — extend the scheme (e.g. key the " +
        "reverse branch on (k div dim) parity plus a per-wrap sign flip) " +
        "before scaling past it")
    write("embeddings",
      scaled("embeddings", Seq("vec_id"))
        .withColumn("r", pmod(col("k"), size(col("embedding"))))
        .withColumn("rot",
          when(col("r") === 0, col("embedding")).otherwise(
            concat(
              slice(col("embedding"), col("r") + 1,
                size(col("embedding")) - col("r")),
              slice(col("embedding"), lit(1), col("r")))))
        .withColumn("embedding",
          when(col("k") < size(col("embedding")), col("rot"))
            .otherwise(reverse(col("rot"))))
        .drop("r", "rot"))
    spark.stop()
  }
}
