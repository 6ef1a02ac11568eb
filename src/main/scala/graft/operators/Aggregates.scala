package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Aggregation operators (SURVEY.md §2.4).
  *
  * Scale notes: all groupBy aggregations here are partial-aggregate +
  * shuffle-on-key + final-aggregate (Spark does map-side combine
  * automatically for algebraic aggregates), so shuffle volume is
  * |groups| not |rows|. `countDistinct` expands to a two-phase
  * aggregate (distinct shuffle then count) — at 100 TB prefer
  * `approx_count_distinct` (HLL sketch, one pass, mergeable), graded
  * by tolerance in `agg_approx_distinct` (each engine bounds its own
  * estimate against its own exact count; only engine-stable columns
  * are emitted).
  * `rollup`/`cube`/grouping-sets expand the grouping sets before the
  * shuffle; output stays |groups|-sized.
  */
object Aggregates extends OpModule {

  /** Merged rank-stride quantile coreset + its readout (r15 verdict
    * #5): per partition, SORT locally and keep every ⌈n_p/256⌉-th
    * element with its stride as weight (plus a remainder row) — a
    * deterministic KLL-shaped mergeable summary whose cumulative
    * weight at an emitted element IS that element's exact local rank,
    * so the merged coreset displaces any quantile's global rank by at
    * most Σ_p stride_p ≤ n/256 + #partitions (the error-bound theorem
    * InvariantsSpec pins). The merge is a plain union — ≤ 256·P rows
    * cross the shuffle, never the data (the text_heavy_hitters
    * mapPartitions discipline); at 100 TB the coreset is the ONLY
    * thing leaving the executors. Returns (q, sketch_v, n) for
    * q ∈ {0.5, 0.9, 0.99}; package-visible for the invariant spec. */
  private[graft] def quantileSketch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val coreset = GraftBridge.checkpoint(
      Tables.lineitem(s, d).select(col("l_extendedprice").cast("double"))
        .as[Double].mapPartitions { it =>
          val arr = it.toArray
          java.util.Arrays.sort(arr)
          val n = arr.length
          if (n == 0) Iterator.empty
          else {
            val st = math.max(1, n / 256)
            val k = n / st
            val full = (1 to k).iterator.map(i => (arr(i * st - 1), st.toLong))
            val rem = n - k * st
            if (rem > 0) full ++ Iterator((arr(n - 1), rem.toLong)) else full
          }
        }.toDF("v", "w"))
    // Unpartitioned: the coreset holds <= 256 rows per lineitem partition.
    val wOrd = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = coreset.withColumn("cw", sum("w").over(wOrd))
    val tot = coreset.agg(sum("w").as("n")) // Σw = exact row count
    val qs = Seq(0.5, 0.9, 0.99).toDF("q")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qs))
      .filter(col("cw") >= ceil(col("q") * col("n")))
      .groupBy("q")
      .agg(min("v").as("sketch_v"), first("n").as("n"))
  }

  val queries: Map[String, Q] = Map(
    "agg_quantile_sketch" -> ((s, d) => {
      // Sketch quantiles, tolerance-graded (the agg_approx_distinct
      // discipline: each engine runs ITS OWN sketch — Spark the
      // rank-stride coreset above, DuckDB t-digest approx_quantile —
      // and grades it against the same exact rank-based truth; only
      // engine-stable columns are emitted). Exact p-quantile = the
      // value at rank ⌈p·n⌉ of the full sort — the truth leg, priced
      // like every brute truth in the recall family. The coreset's
      // rank-error theorem (≤ n/256 + P) puts the value error far
      // inside the 5% band on this price distribution.
      // r16 (ADVICE r15 #3): the truth rank was the suite's only
      // full-corpus single-partition window (row_number over a global
      // orderBy). It now rides the agg_gini TWO-PASS PARTITION-OFFSET
      // sort: a coarse price bucket splits the corpus, per-bucket
      // counts (dimension-sized) become exclusive prefix offsets
      // broadcast back, and row_number runs PARTITIONED by bucket —
      // offset + local rank equals the global rank exactly (bucket
      // order aligns with v order; ties share a bucket, and the value
      // AT a rank is tie-order-free). The rank-k join picks identical
      // exact_v, so the graded output is unchanged.
      val sk = quantileSketch(s, d)
      val vals = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("v"))
        .withColumn("bk", floor(col("v") / 1000).cast("long"))
      // Unpartitioned offsets: one row per price bucket.
      val wPrev = Window.orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = vals.groupBy("bk").agg(count(lit(1)).as("c"))
        .select(col("bk"),
          coalesce(sum("c").over(wPrev), lit(0L)).as("off"))
      val w = Window.partitionBy("bk").orderBy("v")
      val ranked = vals.join(broadcast(offs), Seq("bk"))
        .withColumn("rn", row_number().over(w).cast("long") + col("off"))
      val exact = ranked.join(broadcast(sk),
          col("rn") === ceil(col("q") * col("n")).cast("long"))
        .select(col("q"), col("v").as("exact_v"), col("sketch_v"))
      exact
        .select((col("q") * 100).cast("long").as("q_pct"),
          col("exact_v"),
          (abs(col("sketch_v") - col("exact_v")) <=
            col("exact_v") * lit(0.05)).as("within_5pct"))
        .orderBy("q_pct")
    }),


    "agg_winsorized" -> ((s, d) => {
      // Winsorized mean (r7): per-type mean of value after clamping
      // to the [p10, p90] band — the robust center that keeps every
      // row (unlike trimming) while capping tail leverage; the
      // metric an invoicing/billing rollup uses when a few huge
      // values would otherwise swing the average. Thresholds come
      // from one exact-percentile pass on the ⌊value·100⌋ integer
      // grid, FLOORED to integers so the clamp itself is exact
      // integer arithmetic — the winsorized mean is then a single
      // exact-integer ratio on both engines (no double accumulates
      // across rows). Two passes over the type rollup; thresholds
      // broadcast.
      val v = floor(col("value") * 100).cast("long")
      val base = Tables.events(s, d).select(col("event_type"), v.as("v"))
      val th = base.groupBy(col("event_type").as("t_type"))
        .agg(floor(expr("percentile(v, 0.1D)")).cast("long").as("lo"),
          floor(expr("percentile(v, 0.9D)")).cast("long").as("hi"))
      base.join(broadcast(th), col("event_type") === col("t_type"))
        .select(col("event_type"),
          least(greatest(col("v"), col("lo")), col("hi")).as("w"),
          col("lo"), col("hi"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          first(col("lo")).as("lo_c"), first(col("hi")).as("hi_c"),
          sum(col("w")).as("sw"))
        .select(col("event_type"), col("n"),
          round(col("lo_c").cast("double") / 100.0, 4).as("lo_v"),
          round(col("hi_c").cast("double") / 100.0, 4).as("hi_v"),
          round(col("sw").cast("double")
            / (lit(100.0) * col("n").cast("double")), 4).as("winsorized_mean"))
        .orderBy("event_type")
    }),

    "agg_moments" -> ((s, d) => {
      // Higher-moment profile (r7): mean/sd/skewness/excess-kurtosis
      // of event value per type — the distribution-shape screen that
      // catches what agg_stats' first two moments can't (heavy tails,
      // asymmetric drift). All four raw power sums accumulate on the
      // exact ⌊value·100⌋ integer grid in DECIMAL(38) (v⁴ ≤ 6.25e18
      // fits a 64-bit term; the SUM would overflow, the decimal
      // doesn't) — one partial-agged pass, order-independent, and the
      // central-moment doubles derive from identical exact integers
      // on both engines. Skew/kurtosis are scale-invariant so the
      // cent grid cancels; mean/sd rescale by the single exact /100.
      val v = floor(col("value") * 100).cast("long")
      // v ≤ ~56k on this data: v² and v³ fit int64; v⁴ does NOT
      // (≈9.9e18 > 2⁶³−1) — it multiplies as v²·v² lifted to DECIMAL
      // first (mirrored with HUGEINT in the oracle)
      val mom = Tables.events(s, d)
        .select(col("event_type"), v.as("v"), (v * v).as("v2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(38,0)")).as("s1"),
          sum(col("v2").cast("decimal(38,0)")).as("s2"),
          sum((col("v2") * col("v")).cast("decimal(38,0)")).as("s3"),
          sum(col("v2").cast("decimal(38,0)")
            * col("v2").cast("decimal(38,0)")).as("s4"))
      val n = col("n").cast("double")
      val m = col("s1").cast("double") / n
      val m2 = col("s2").cast("double") / n - m * m
      val m3 = col("s3").cast("double") / n -
        lit(3.0) * m * (col("s2").cast("double") / n) +
        lit(2.0) * m * m * m
      val m4 = col("s4").cast("double") / n -
        lit(4.0) * m * (col("s3").cast("double") / n) +
        lit(6.0) * m * m * (col("s2").cast("double") / n) -
        lit(3.0) * m * m * m * m
      mom.select(col("event_type"), col("n"),
          round(m / 100.0, 4).as("mean_v"),
          round(sqrt(m2) / 100.0, 4).as("sd_v"),
          when(m2 > 0, round(m3 / (m2 * sqrt(m2)), 4)).as("skewness"),
          when(m2 > 0, round(m4 / (m2 * m2) - lit(3.0), 4)).as("ex_kurtosis"))
        .orderBy("event_type")
    }),

    "agg_bootstrap_ci" -> ((s, d) => {
      // Poisson bootstrap CI (r7): 95% confidence interval for the
      // mean order value per market segment — THE distributed
      // bootstrap (per-row independent Poisson(1) resample weights,
      // so one pass replaces B full resamples; the shape production
      // systems use precisely because rows never co-locate). The
      // "random" weights are a deterministic Knuth scramble of
      // (o_orderkey, replica) thresholded at the Poisson(1) pmf
      // (0/1/2/3+ occurrences), so both engines draw the identical
      // resamples — no rand(), partition-independent. The B=32
      // replica explode partial-aggs to |segments|·B rows before the
      // shuffle; replica means divide exact DECIMAL sums; the CI is
      // an exact percentile over 32 engine-identical doubles.
      val B = 32
      val o = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("o_orderkey"),
          Dec2(col("o_totalprice")).as("price"))
      val rep = o.select(col("segment"), col("o_orderkey"), col("price"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("h",
          (knuth31(col("o_orderkey")) + col("b") * lit(97003L)) % lit(1000003L))
        .withColumn("w", when(col("h") < 367879, lit(0L))
          .when(col("h") < 735758, lit(1L))
          .when(col("h") < 919698, lit(2L)).otherwise(lit(3L)))
      val means = rep.groupBy("segment", "b")
        .agg((sum(col("price") * col("w")).cast("double")
          / sum(col("w")).cast("double")).as("mb"))
      val ci = means.groupBy(col("segment").as("c_seg"))
        .agg(round(expr("percentile(mb, 0.025D)"), 4).as("ci_lo"),
          round(expr("percentile(mb, 0.975D)"), 4).as("ci_hi"))
      o.groupBy("segment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("price")).cast("double") / count(lit(1)), 4)
            .as("mean_price"))
        .join(broadcast(ci), col("segment") === col("c_seg"))
        .select("segment", "n_orders", "mean_price", "ci_lo", "ci_hi")
        .orderBy("segment")
    }),

    "agg_string_agg" -> ((s, d) =>
      // Ordered string aggregation: sort_array(collect_list) gives the
      // deterministic order string_agg(... ORDER BY) has in the oracle.
      Tables.customer(s, d).filter(col("c_custkey") < 500)
        .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          concat_ws(",", sort_array(collect_list(col("c_name")))).as("names"))
        .orderBy("c_nationkey")),

    "agg_global" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("cnt"),
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum(Dec2(col("l_extendedprice"))).cast("double") / count(lit(1)), 4)
          .as("avg_price"),
        date_format(min("l_shipdate"), "yyyy-MM-dd").as("min_ship"),
        date_format(max("l_shipdate"), "yyyy-MM-dd").as("max_ship"))),

    "agg_groupby" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum(Dec2(col("l_extendedprice"))), 4).cast("double").as("sum_base_price"),
          round(sum(Dec2(col("l_extendedprice")) * (lit(1) - Dec2(col("l_discount")))), 4)
            .cast("double").as("sum_disc_price"),
          round(sum(Dec2(col("l_extendedprice")) * (lit(1) - Dec2(col("l_discount")))
            * (lit(1) + Dec2(col("l_tax")))), 4).cast("double").as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(sum(Dec2(col("l_extendedprice"))).cast("double") / count(lit(1)), 4)
            .as("avg_price"),
          round(sum(Dec2(col("l_discount"))).cast("double") / count(lit(1)), 4)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "agg_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct("l_partkey").as("nparts"),
          countDistinct("l_suppkey").as("nsupps"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // Tolerance-graded (r5): HLL sketch VALUES differ between engines
    // by design, so the approx estimate itself never reaches the
    // output — each engine bounds ITS OWN estimate against ITS exact
    // count and emits the boolean. `exact_users` and `within_5pct`
    // hash-match; the 5% bound has margin because Spark runs HLL++ at
    // rsd=0.01 and DuckDB's HLL is ~1-2% error. The exact-count twin
    // agg_exact_distinct_users stays as the value-level grade.
    "agg_approx_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"),
          approx_count_distinct(col("user_id"), 0.01).as("approx_local"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_local") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).as("within_5pct"))
        .orderBy("event_type")),

    // Exact-count twin of agg_approx_distinct (SURVEY §2.4's promised
    // graded form): same grouping, countDistinct, COUNT(DISTINCT) oracle.
    "agg_exact_distinct_users" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    "agg_rollup" -> ((s, d) =>
      Tables.orders(s, d)
        .rollup(year(col("o_orderdate")).cast("long").as("yr"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(Dec2(col("o_totalprice"))), 4).cast("double").as("total"))
        .orderBy(col("yr").asc_nulls_first, col("o_orderstatus").asc_nulls_first)),

    "agg_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    "agg_grouping_sets" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(GroupingSetsSql)
    }),

    "agg_having" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(Dec2(col("o_totalprice"))), 4).cast("double").as("spend"))
        .filter(col("n_orders") >= 12)
        .orderBy("o_custkey")),

    "agg_stats" -> ((s, d) => {
      // Sample stddev/variance/Pearson-corr from exact decimal/integer
      // power sums (Σx, Σx², Σy, Σy², Σxy) instead of the streaming
      // built-ins: the sums are order-independent, so the doubles fed
      // to the closed-form formulas are bit-identical in both engines
      // (the built-ins' merge order diverges from the oracle's).
      // Magnitudes stay far under 2^53 here; at extreme scale switch
      // to the built-ins + looser rounding.
      val x = Dec2(col("value"))
      val y = col("user_id")
      val g = Tables.events(s, d).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(x).as("s1"), sum(x * x).as("s2"),
        sum(y).as("sy"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"),
        round(expr("percentile(value, 0.5)"), 4).as("med"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"))
      val n = col("n")
      val s1 = col("s1").cast("double"); val s2 = col("s2").cast("double")
      val sy = col("sy").cast("double"); val syy = col("syy").cast("double")
      val sxy = col("sxy").cast("double")
      val vr = (s2 - s1 * s1 / n) / (n - 1)
      g.select(col("event_type"),
        round(sqrt(vr), 4).as("sd"),
        round(vr, 4).as("vr"),
        round((n * sxy - s1 * sy)
          / sqrt((n * s2 - s1 * s1) * (n * syy - sy * sy)), 4).as("cor"),
        col("med"), col("p90"))
        .orderBy("event_type")
    }),

    "agg_weighted_avg" -> ((s, d) =>
      // Quantity-weighted mean discount per return flag: both sums run
      // in exact decimal (order-independent), the one double division
      // happens last — engine-identical before the display round.
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(sum(Dec2(col("l_discount")) * col("l_quantity")).cast("double")
            / sum(col("l_quantity")), 6).cast("double").as("wavg_disc"),
          round(avg(Dec2(col("l_discount"))), 6).cast("double").as("avg_disc"))
        .orderBy("l_returnflag")),

    "agg_argmax" -> ((s, d) =>
      // argmax via lexicographic struct max — one partial-aggregated
      // pass (no window, no self-join): richest customer per segment,
      // ties broken to the higher key by the struct's second field.
      Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("m"))
        .select(col("c_mktsegment"), col("m.c_acctbal").as("top_bal"),
          col("m.c_custkey").as("top_cust"))
        .orderBy("c_mktsegment")),

    "agg_mode" -> ((s, d) => {
      // Modal value per group with a deterministic tie-break (lowest
      // key wins) — built-in mode() tie-breaking is engine-unspecified,
      // so both sides rank (count desc, value asc) explicitly. Two
      // phases: |groups·values| partial-agg shuffle, then a window over
      // the (small) distinct-combination set.
      val counts = Tables.customer(s, d)
        .groupBy("c_mktsegment", "c_nationkey").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment").orderBy(col("cnt").desc, col("c_nationkey"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_mktsegment"),
          col("c_nationkey").cast("long").as("mode_nation"), col("cnt"))
        .orderBy("c_mktsegment")
    }),

    "agg_outlier_iqr" -> ((s, d) => {
      // IQR outlier screen per event type: values outside
      // [Q1 − 1.5·IQR, Q3 + 1.5·IQR]. Exact percentiles broadcast
      // back (identical interpolation on both engines ⇒ identical
      // fences, exact comparisons); one scan + one |types|-sized agg.
      val e = Tables.events(s, d)
      val t = e.groupBy("event_type")
        .agg(expr("percentile(value, array(0.25D, 0.75D))").as("q"))
        .select(col("event_type").as("t2"),
          element_at(col("q"), 1).as("q1"), element_at(col("q"), 2).as("q3"))
      e.join(broadcast(t), col("event_type") === col("t2"))
        .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
        .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(when(col("value") < col("lo") || col("value") > col("hi"), 1))
            .as("n_outliers"),
          round(min("lo"), 4).as("lo_fence"), round(min("hi"), 4).as("hi_fence"))
        .orderBy("event_type")
    }),

    "agg_hhi" -> ((s, d) => {
      // Herfindahl-Hirschman concentration of order revenue across
      // customers, per nation: HHI = Σ shareᵢ² = Σrevᵢ² / (Σrev)² —
      // near 1/n means spend is diffuse, near 1 means one whale. The
      // squared revenues stay DECIMAL (exact) through both sums; the
      // one divide runs in doubles. Two partial aggs: fact → per-
      // customer revenue, then the |customers|-sized concentration
      // rollup.
      val cust = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("n_name"))
        .agg(sum(Dec2(col("o_totalprice"))).as("rev"))
      cust.groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("rev") * col("rev")).cast("double")
            / (sum(col("rev")).cast("double") * sum(col("rev")).cast("double")),
            6).as("hhi"))
        .orderBy("nation")
    }),

    "agg_gini" -> ((s, d) => {
      // Gini coefficient of customer spend — the inequality summary
      // behind the Pareto view. G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ)
      // over ascending-sorted spend; every moment is an exact decimal
      // (rank·spend products included), so G is engine-exact before
      // its single rounding. Ranks come from a TWO-PASS
      // PARTITION-OFFSET sort: a coarse spend bucket splits the
      // customer rollup, per-bucket counts (dimension-sized) turn into
      // exclusive prefix offsets broadcast back, and row_number runs
      // PARTITIONED by bucket — offset + local rank equals the global
      // rank exactly (bucket order aligns with x order; ties share a
      // bucket), without |customers| rows through one partition at
      // 100×. The oracle keeps the plain global row_number — identical
      // ranks either way.
      val spend = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(Dec2(col("o_totalprice"))).as("x"))
        .withColumn("bk", floor(col("x") / 10000).cast("long"))
      // Unpartitioned offsets: one row per spend bucket, never per customer.
      val wPrev = Window.orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = spend.groupBy("bk").agg(count(lit(1)).as("c"))
        .select(col("bk"),
          coalesce(sum("c").over(wPrev), lit(0L)).as("off"))
      val w = Window.partitionBy("bk").orderBy(col("x"), col("o_custkey"))
      val ranked = spend.join(broadcast(offs), Seq("bk"))
        .withColumn("i", row_number().over(w).cast("long") + col("off"))
      ranked.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("x") * col("i")).as("six"))
        .select(col("n"),
          round(col("sx"), 4).cast("double").as("total_spend"),
          round((lit(2) * col("six").cast("double")
            - (col("n") + 1).cast("double") * col("sx").cast("double"))
            / (col("n").cast("double") * col("sx").cast("double")), 4)
            .as("gini"))
    }),

    "agg_benford" -> ((s, d) => {
      // Benford first-digit audit of order totals — the classic
      // anomaly screen for fabricated numbers. The leading digit is
      // extracted through EXACT integer cents and string conversion
      // (integer→string renders identically in both engines;
      // floor(log10(double)) can straddle an ulp at powers of ten).
      // Observed share vs the Benford expectation ln(1+1/d)/ln(10),
      // both from engine-exact inputs.
      val cents = Dec2(col("o_totalprice")) * 100
      val digit = substring(cents.cast("long").cast("string"), 1, 1)
      // Unpartitioned grand total over the <= 10-row digit rollup.
      val n = sum("n_orders").over(Window.partitionBy())
      Tables.orders(s, d)
        .groupBy(digit.as("digit"))
        .agg(count(lit(1)).as("n_orders"))
        .select(col("digit"), col("n_orders"),
          round(col("n_orders").cast("double") / n, 4).as("observed"),
          round(log(lit(1.0) + lit(1.0) / col("digit").cast("double"))
            / log(lit(10.0)), 4).as("benford"))
        .orderBy("digit")
    }),

    "win_mom_growth" -> ((s, d) => {
      // Month-over-month revenue growth — the reporting staple. One
      // shuffle for the monthly rollup, then an unpartitioned lag over
      // the ~80-row month series; growth pct divides exact-decimal-derived
      // doubles. First month's growth is NULL by definition.
      val monthly = Tables.orders(s, d)
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(sum(Dec2(col("o_totalprice"))).as("rev_d"))
      val w = Window.orderBy("month")
      monthly
        .withColumn("prev_d", lag("rev_d", 1).over(w))
        .select(col("month"),
          round(col("rev_d"), 4).cast("double").as("revenue"),
          round((col("rev_d").cast("double") - col("prev_d").cast("double"))
            * 100 / col("prev_d").cast("double"), 4).as("growth_pct"))
        .orderBy("month")
    }),

    "agg_entropy" -> ((s, d) =>
      // Shannon entropy of each user's event-type mix — the
      // distribution-drift metric. H = ln n − (Σ c·ln c)/n from
      // integer counts; the Σ c·ln c double fold runs over a SORTED
      // in-row list (≤ |types| elements), fixing summation order on
      // both engines where a sum() over shuffled rows would not be.
      Tables.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("n"), sort_array(collect_list(col("c"))).as("cs"))
        .select(col("user_id"), col("n"),
          round(log(col("n").cast("double"))
            - expr("aggregate(cs, CAST(0 AS DOUBLE)," +
              " (acc, x) -> acc + CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE)))")
              / col("n"), 4).as("entropy"))
        .orderBy("user_id")),

    "agg_corr_matrix" -> ((s, d) => {
      // Pairwise Pearson correlation MATRIX over the four lineitem
      // measures in ONE aggregation pass: every moment (Sx, Sxx, Sxy)
      // is an exact decimal sum, so the doubles entering the corr
      // formula are bit-identical across engines (built-in corr() sums
      // doubles in partition order — nondeterministic under hash
      // compare). The 10 moments reduce map-side; the 6 matrix cells
      // unpivot from the single stats row in-row.
      val l = Tables.lineitem(s, d)
      def m(c: String) = Dec2(col(c))
      val stats = l.agg(
        count(lit(1)).as("n"),
        sum(m("l_quantity")).as("s_q"), sum(m("l_quantity") * m("l_quantity")).as("s_qq"),
        sum(m("l_extendedprice")).as("s_e"), sum(m("l_extendedprice") * m("l_extendedprice")).as("s_ee"),
        sum(m("l_discount")).as("s_d"), sum(m("l_discount") * m("l_discount")).as("s_dd"),
        sum(m("l_tax")).as("s_t"), sum(m("l_tax") * m("l_tax")).as("s_tt"),
        sum(m("l_quantity") * m("l_extendedprice")).as("s_qe"),
        sum(m("l_quantity") * m("l_discount")).as("s_qd"),
        sum(m("l_quantity") * m("l_tax")).as("s_qt"),
        sum(m("l_extendedprice") * m("l_discount")).as("s_ed"),
        sum(m("l_extendedprice") * m("l_tax")).as("s_et"),
        sum(m("l_discount") * m("l_tax")).as("s_dt"))
      val nD = col("n").cast("double")
      def dbl(c: String) = col(c).cast("double")
      def corrOf(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
        round((nD * dbl(sxy) - dbl(sx) * dbl(sy))
          / (sqrt(nD * dbl(sxx) - dbl(sx) * dbl(sx))
            * sqrt(nD * dbl(syy) - dbl(sy) * dbl(sy))), 4)
      val cells = array(
        struct(lit("l_discount").as("col_x"), lit("l_tax").as("col_y"),
          corrOf("s_d", "s_t", "s_dd", "s_tt", "s_dt").as("corr")),
        struct(lit("l_extendedprice").as("col_x"), lit("l_discount").as("col_y"),
          corrOf("s_e", "s_d", "s_ee", "s_dd", "s_ed").as("corr")),
        struct(lit("l_extendedprice").as("col_x"), lit("l_tax").as("col_y"),
          corrOf("s_e", "s_t", "s_ee", "s_tt", "s_et").as("corr")),
        struct(lit("l_quantity").as("col_x"), lit("l_discount").as("col_y"),
          corrOf("s_q", "s_d", "s_qq", "s_dd", "s_qd").as("corr")),
        struct(lit("l_quantity").as("col_x"), lit("l_extendedprice").as("col_y"),
          corrOf("s_q", "s_e", "s_qq", "s_ee", "s_qe").as("corr")),
        struct(lit("l_quantity").as("col_x"), lit("l_tax").as("col_y"),
          corrOf("s_q", "s_t", "s_qq", "s_tt", "s_qt").as("corr")))
      stats.select(explode(cells).as("c"))
        .select(col("c.col_x").as("col_x"), col("c.col_y").as("col_y"),
          col("c.corr").as("corr"))
        .orderBy("col_x", "col_y")
    }),

    "agg_chi2" -> ((s, d) => {
      // χ² independence test over the lang × source contingency table
      // (is the language mix uniform across crawl sources?). Expected
      // counts need the FULL grid including zero cells, so the grid is
      // rows × cols (≤ |langs|·|sources| — broadcastable at any corpus
      // size) left-joined to observed counts. The Σ over per-cell
      // double terms folds over the (lang, source)-SORTED in-row list,
      // pinning summation order on both engines.
      val cells = Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rows = cells.groupBy("lang").agg(sum("o").as("rt"))
      val cols = cells.groupBy("source").agg(sum("o").as("ct"))
      val n = cells.agg(sum("o").as("n"))
      rows.crossJoin(cols).join(cells, Seq("lang", "source"), "left")
        .crossJoin(broadcast(n))
        .select(lit(1).as("g"), struct(col("lang"), col("source"),
          expr("""((cast(coalesce(o, 0) AS double)
                 |  - cast(rt AS double) * cast(ct AS double) / cast(n AS double))
                 | * (cast(coalesce(o, 0) AS double)
                 |  - cast(rt AS double) * cast(ct AS double) / cast(n AS double)))
                 | / (cast(rt AS double) * cast(ct AS double) / cast(n AS double))
                 |""".stripMargin.replaceAll("\n", " ")).as("term")).as("cell"))
        .groupBy("g")
        .agg(count(lit(1)).as("n_cells"),
          expr("aggregate(sort_array(collect_list(cell)), cast(0.0 AS double)," +
            " (acc, x) -> acc + x.term)").as("chi2_raw"))
        .select(col("n_cells"), round(col("chi2_raw"), 4).as("chi2"))
    }),

    "agg_ks_test" -> ((s, d) => {
      // Two-sample Kolmogorov–Smirnov distance between the click and
      // view value distributions — the numeric drift test next to
      // etl_value_drift's categorical one. The CDF grid is the
      // DISTINCT exact-decimal values (Dec2 — no double-rounding grid
      // hazards), built by one partial-agged rollup. The running CDFs
      // are TWO-PASS PARTITION-OFFSET sums: the grid buckets by a
      // coarse value range, per-bucket totals (a dimension-sized
      // rollup) turn into exclusive prefix offsets broadcast back, and
      // the per-value running sums run PARTITIONED by bucket — no
      // global-order window ever sees the grid, so a continuous
      // 100 TB payload (grid ≈ |events|) still parallelizes. Bucket
      // boundaries align with value order, so offset + local running
      // sum equals the global CDF exactly; all CDF terms stay exact
      // integer ratios and the argmax row is engine-identical (the
      // oracle keeps the plain global-window formulation — identical
      // integers either way).
      val e = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"), Dec2(col("value")).as("v"))
      val g = e.groupBy("v").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_b"))
      val tots = g.agg(sum("n_a").as("tot_a"), sum("n_b").as("tot_b"))
      val gb = g.withColumn("bk", floor(col("v") / 50).cast("long"))
      // Unpartitioned offsets: one row per value bucket.
      val wPrev = Window.orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = gb.groupBy("bk")
        .agg(sum("n_a").as("ba"), sum("n_b").as("bb"))
        .select(col("bk"),
          coalesce(sum("ba").over(wPrev), lit(0L)).as("oa"),
          coalesce(sum("bb").over(wPrev), lit(0L)).as("ob"))
      val w = Window.partitionBy("bk").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      gb.join(broadcast(offs), Seq("bk"))
        .withColumn("ca", sum("n_a").over(w) + col("oa"))
        .withColumn("cb", sum("n_b").over(w) + col("ob"))
        .crossJoin(broadcast(tots))
        .select(col("v"), col("tot_a"), col("tot_b"),
          abs(col("ca").cast("double") / col("tot_a").cast("double")
            - col("cb").cast("double") / col("tot_b").cast("double")).as("adiff"))
        .orderBy(col("adiff").desc, col("v"))
        .limit(1)
        .select(col("v").cast("double").as("at_value"),
          col("tot_a"), col("tot_b"), round(col("adiff"), 4).as("ks"))
    }),

    "agg_quantiles" -> ((s, d) =>
      // Multi-quantile summary per group: exact linear-interpolated
      // p25/p50/p75/p90 of event value in ONE array-valued percentile
      // expression — one sort-based agg pass, not four. Both engines
      // interpolate at p·(n−1), so on identical inputs the quantiles
      // are bit-identical; round(4) is belt-and-braces. The array is
      // posexploded to (event_type, p, q) rows for grading: the
      // driver's pandas-side compare cannot hash array cells (r02
      // lesson, same as the centroid UDAF in r01), and the long shape
      // is what a profiler joins against anyway.
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          expr("transform(percentile(value, array(0.25D, 0.5D, 0.75D, 0.9D))," +
            " q -> round(q, 4))").as("qs"))
        .select(col("event_type"), col("n"),
          posexplode(col("qs")).as(Seq("pos0", "q")))
        .select(col("event_type"), col("n"),
          expr("element_at(array(0.25D, 0.5D, 0.75D, 0.9D), pos0 + 1)").as("p"),
          col("q"))
        .orderBy("event_type", "p")),

    "agg_salted_twophase" -> ((s, d) =>
      // Two-phase SALTED aggregation — the hot-key mitigation pattern
      // as a graded operator. event_type has only 5 values, so every
      // key is a heavy hitter; phase 1 counts per (key, salt-shard)
      // behind a 16-way deterministic salt (event_id mod 16 — stable
      // across re-runs, unlike partition-derived salts), phase 2
      // re-aggregates the ≤ |keys|·16 partials. The salt never reaches
      // the output, so the oracle is the PLAIN group-by: salting must
      // be a pure execution-strategy change, not a semantic one.
      // n_shards makes the sharding itself assertable.
      Tables.events(s, d)
        .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("salt"))
        .agg(count(lit(1)).as("n"), sum(Dec2(col("value"))).as("v"))
        .groupBy("event_type")
        .agg(sum("n").as("n_events"),
          round(sum("v"), 4).cast("double").as("val_sum"),
          count(lit(1)).as("n_shards"))
        .orderBy("event_type")),

    "agg_time_rollup" -> ((s, d) => {
      // Multi-grain reporting rollup: day / week / month aggregates of
      // the same scan in ONE pass via GROUPING SETS (one Expand ×3 +
      // one agg — vs three scans for the naive union). Grain columns
      // are derived first so the sets group plain columns; inactive
      // grains are NULL, and ordering over all three grain columns is
      // total.
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(TimeRollupSql)
    }),

    "agg_filtered" -> ((s, d) =>
      // Filtered-aggregate surface (the FILTER clause family): per-day
      // totals alongside per-condition counts/sums from the SAME scan —
      // one pass, one partial agg; the conditional decimal sum skips
      // non-matching rows as NULL (exactly FILTER semantics, so a day
      // with no purchases yields NULL, not 0).
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
          count(when(col("event_type") === "error", 1)).as("n_errors"),
          round(sum(when(col("event_type") === "purchase", Dec2(col("value")))), 4)
            .cast("double").as("purchase_value"),
          round(count(when(col("event_type") === "error", 1)).cast("double")
            / count(lit(1)), 4).as("err_rate"))
        .orderBy("day")),

    "agg_collect" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(
          array_join(sort_array(collect_set(col("source"))), ",").as("sources"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")),

    "agg_freq_items" -> ((s, d) => {
      // Exact frequent-items census: the 25 heaviest parts by lineitem
      // support with their exact per-myriad share — the support probe
      // behind basket_rules' pair mining and the skew audit behind
      // join_salted. One partial-agged groupBy (the |parts|-sized
      // rollup is the only shuffle), the corpus total broadcasts as
      // one row, the share is pure integer arithmetic (cnt·10000 div
      // N — a relative-threshold gate would be scale-brittle: at
      // growing |parts| every share shrinks below any fixed cut), and
      // the top-k is TakeOrderedAndProject (per-partition top-k then
      // merge — never a global sort of the rollup). At 100 TB this
      // exact pass is what a Misra-Gries/SpaceSaving sketch
      // approximates; exact stays viable because the key space is
      // dimension-sized even when the fact table is not.
      val l = Tables.lineitem(s, d).select(col("l_partkey"))
      val tot = l.agg(count(lit(1)).as("n_rows"))
      l.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .select(col("l_partkey"), col("cnt"),
          expr("cnt * 10000 div n_rows").as("per_myriad"))
        .orderBy(col("cnt").desc, col("l_partkey"))
        .limit(25)
    }),
  )

  /** Shared Spark/DuckDB SQL — identical text runs on both engines.
    * The grouping-set result is folded to non-null (grain, bucket)
    * columns: NULL-able DATE outputs are a hash-compare hazard (pandas
    * NaT ≠ NaT), so inactive grains never reach the output schema.
    */
  private val TimeRollupSql =
    """WITH g AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS g_day,
      |    CAST(date_trunc('week', ts) AS DATE) AS g_week,
      |    CAST(date_trunc('month', ts) AS DATE) AS g_month,
      |    user_id
      |  FROM events
      |), r AS (
      |  SELECT g_day, g_week, g_month, count(*) AS n_events,
      |    count(DISTINCT user_id) AS n_users
      |  FROM g
      |  GROUP BY GROUPING SETS ((g_day), (g_week), (g_month))
      |)
      |SELECT
      |  CASE WHEN g_day IS NOT NULL THEN 'day'
      |       WHEN g_week IS NOT NULL THEN 'week' ELSE 'month' END AS grain,
      |  coalesce(g_day, g_week, g_month) AS bucket_start,
      |  n_events, n_users
      |FROM r
      |ORDER BY grain, bucket_start""".stripMargin

  private val GroupingSetsSql =
    """SELECT c_mktsegment, c_nationkey, count(*) AS cnt, round(sum(c_acctbal), 4) AS bal
      |FROM customer
      |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      |ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin

  val oracles: Map[String, String] = Map(
    "agg_quantile_sketch" ->
      """WITH v AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
        |n AS (SELECT count(*) AS n FROM v),
        |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
        |ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        |exact AS (
        |  SELECT qs.q, r.v AS exact_v
        |  FROM ranked r, n, qs
        |  WHERE r.rn = CAST(ceil(qs.q * n.n) AS BIGINT)),
        |appx AS (
        |  SELECT 0.5 AS q, approx_quantile(v, 0.5) AS av FROM v
        |  UNION ALL SELECT 0.9, approx_quantile(v, 0.9) FROM v
        |  UNION ALL SELECT 0.99, approx_quantile(v, 0.99) FROM v)
        |SELECT CAST(e.q * 100 AS BIGINT) AS q_pct, e.exact_v,
        |  (abs(a.av - e.exact_v) <= e.exact_v * 0.05) AS within_5pct
        |FROM exact e JOIN appx a ON a.q = e.q
        |ORDER BY q_pct""".stripMargin,

    "agg_winsorized" ->
      """WITH base AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events),
        |th AS (
        |  SELECT event_type AS t_type,
        |    CAST(floor(quantile_cont(v, 0.1)) AS BIGINT) AS lo,
        |    CAST(floor(quantile_cont(v, 0.9)) AS BIGINT) AS hi
        |  FROM base GROUP BY event_type),
        |w AS (
        |  SELECT event_type, least(greatest(v, lo), hi) AS w, lo, hi
        |  FROM base JOIN th ON base.event_type = th.t_type)
        |SELECT event_type, count(*) AS n,
        |  round(CAST(any_value(lo) AS DOUBLE) / 100.0, 4) AS lo_v,
        |  round(CAST(any_value(hi) AS DOUBLE) / 100.0, 4) AS hi_v,
        |  round(CAST(sum(w) AS DOUBLE) / (100.0 * CAST(count(*) AS DOUBLE)), 4)
        |    AS winsorized_mean
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Identical double trees from identical exact DECIMAL power sums;
    // CASE guards the zero-variance branch on both engines.
    "agg_moments" ->
      """WITH mom AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(v AS HUGEINT)) AS s1,
        |    sum(CAST(v2 AS HUGEINT)) AS s2,
        |    sum(CAST(v2 * v AS HUGEINT)) AS s3,
        |    sum(CAST(v2 AS HUGEINT) * CAST(v2 AS HUGEINT)) AS s4
        |  FROM (SELECT event_type, v, v * v AS v2 FROM (
        |          SELECT event_type,
        |            CAST(floor(value * 100) AS BIGINT) AS v FROM events))
        |  GROUP BY event_type),
        |d AS (
        |  SELECT event_type, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS d1,
        |    CAST(s2 AS DOUBLE) AS d2, CAST(s3 AS DOUBLE) AS d3,
        |    CAST(s4 AS DOUBLE) AS d4
        |  FROM mom),
        |c AS (
        |  SELECT event_type, n,
        |    d1 / nd AS m,
        |    d2 / nd - (d1 / nd) * (d1 / nd) AS m2,
        |    d3 / nd - 3.0 * (d1 / nd) * (d2 / nd)
        |      + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m3,
        |    d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)
        |      + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)
        |      - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m4
        |  FROM d)
        |SELECT event_type, n,
        |  round(m / 100.0, 4) AS mean_v,
        |  round(sqrt(m2) / 100.0, 4) AS sd_v,
        |  CASE WHEN m2 > 0 THEN round(m3 / (m2 * sqrt(m2)), 4) END AS skewness,
        |  CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 4) END AS ex_kurtosis
        |FROM c ORDER BY event_type""".stripMargin,

    "agg_bootstrap_ci" ->
      """WITH o AS (
        |  SELECT c_mktsegment AS segment, o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |rep AS (
        |  SELECT segment, price, b,
        |    ((o_orderkey % 2147483648) * 2654435761 + b * 97003) % 1000003 AS h
        |  FROM o CROSS JOIN (SELECT unnest(range(0, 32)) AS b)),
        |wts AS (
        |  SELECT segment, b, price,
        |    CASE WHEN h < 367879 THEN 0 WHEN h < 735758 THEN 1
        |         WHEN h < 919698 THEN 2 ELSE 3 END AS w
        |  FROM rep),
        |means AS (
        |  SELECT segment, b,
        |    CAST(sum(price * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS mb
        |  FROM wts GROUP BY segment, b),
        |ci AS (
        |  SELECT segment, round(quantile_cont(mb, 0.025), 4) AS ci_lo,
        |    round(quantile_cont(mb, 0.975), 4) AS ci_hi
        |  FROM means GROUP BY segment),
        |base AS (
        |  SELECT segment, count(*) AS n_orders,
        |    round(CAST(sum(price) AS DOUBLE) / count(*), 4) AS mean_price
        |  FROM o GROUP BY segment)
        |SELECT segment, n_orders, mean_price, ci_lo, ci_hi
        |FROM base JOIN ci USING (segment) ORDER BY segment""".stripMargin,

    "agg_string_agg" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, count(*) AS n,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names
        |FROM customer WHERE c_custkey < 500
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "agg_global" ->
      """SELECT count(*) AS cnt, round(sum(l_quantity), 4) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_price,
        |  strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
        |  strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
        |FROM lineitem""".stripMargin,

    "agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 4) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 4) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))), 4) AS DOUBLE) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nparts,
        |  count(DISTINCT l_suppkey) AS nsupps, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Each engine bounds its own HLL estimate against its own exact
    // count; only the engine-stable columns (exact, boolean) are
    // emitted, so the hash matches even though the sketches differ.
    "agg_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  (abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |    <= count(DISTINCT user_id) * 0.05) AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_exact_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_rollup" ->
      """SELECT year(o_orderdate) AS yr, o_orderstatus, count(*) AS cnt,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 4) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
        |ORDER BY yr NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,

    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_grouping_sets" -> GroupingSetsSql,

    "agg_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 4) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 12
        |ORDER BY o_custkey""".stripMargin,

    "agg_stats" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(12,2))) AS s1,
        |    sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS s2,
        |    sum(user_id) AS sy, sum(user_id * user_id) AS syy,
        |    sum(CAST(value AS DECIMAL(12,2)) * user_id) AS sxy,
        |    round(quantile_cont(value, 0.5), 4) AS med,
        |    round(quantile_cont(value, 0.9), 4) AS p90
        |  FROM events GROUP BY event_type
        |)
        |SELECT event_type,
        |  round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)), 4) AS sd,
        |  round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1), 4) AS vr,
        |  round((n * CAST(sxy AS DOUBLE) - CAST(s1 AS DOUBLE) * sy)
        |    / sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |         * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) AS cor,
        |  med, p90
        |FROM g ORDER BY event_type""".stripMargin,

    "agg_weighted_avg" ->
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(12,2)) * l_quantity) AS DOUBLE)
        |    / sum(l_quantity), 6) AS wavg_disc,
        |  round(avg(CAST(l_discount AS DECIMAL(12,2))), 6) AS avg_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_argmax" ->
      """SELECT c_mktsegment, c_acctbal AS top_bal, c_custkey AS top_cust FROM (
        |  SELECT c_mktsegment, c_acctbal, c_custkey,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        |  FROM customer
        |) WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin,

    "agg_mode" ->
      """SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS mode_nation, cnt FROM (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY count(*) DESC, c_nationkey) AS rn
        |  FROM customer GROUP BY c_mktsegment, c_nationkey
        |) WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin,

    "agg_outlier_iqr" ->
      """WITH t AS (
        |  SELECT event_type AS t2, quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY t2
        |), j AS (
        |  SELECT e.event_type, e.value,
        |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        |  FROM events e JOIN t ON e.event_type = t.t2
        |)
        |SELECT event_type, count(*) AS n,
        |  count(*) FILTER (WHERE value < lo OR value > hi) AS n_outliers,
        |  round(min(lo), 4) AS lo_fence, round(min(hi), 4) AS hi_fence
        |FROM j GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "agg_hhi" ->
      """WITH cust AS (
        |  SELECT c_custkey, n_name,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name AS nation, count(*) AS n_customers,
        |  round(CAST(sum(rev * rev) AS DOUBLE)
        |    / (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE)), 6)
        |    AS hhi
        |FROM cust GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS x
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
        |  FROM spend
        |), m AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(x * i) AS six FROM ranked
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(round(sx, 4) AS DOUBLE) AS total_spend,
        |  round((2 * CAST(six AS DOUBLE) - (n + 1) * CAST(sx AS DOUBLE))
        |    / (n * CAST(sx AS DOUBLE)), 4) AS gini
        |FROM m""".stripMargin,

    "agg_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT) AS VARCHAR), 1, 1) AS digit
        |  FROM orders
        |), g AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n FROM g)
        |SELECT digit, n_orders,
        |  round(CAST(n_orders AS DOUBLE) / n, 4) AS observed,
        |  round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 4) AS benford
        |FROM g CROSS JOIN t ORDER BY digit""".stripMargin,

    "win_mom_growth" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_d
        |  FROM orders GROUP BY month
        |), g AS (
        |  SELECT month, rev_d, lag(rev_d, 1) OVER (ORDER BY month) AS prev_d
        |  FROM m
        |)
        |SELECT month, CAST(round(rev_d, 4) AS DOUBLE) AS revenue,
        |  round((CAST(rev_d AS DOUBLE) - CAST(prev_d AS DOUBLE)) * 100
        |    / CAST(prev_d AS DOUBLE), 4) AS growth_pct
        |FROM g ORDER BY month""".stripMargin,

    "agg_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY user_id, event_type
        |), u AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |    list_sort(list(c)) AS cs
        |  FROM c GROUP BY user_id
        |)
        |SELECT user_id, n,
        |  round(ln(CAST(n AS DOUBLE))
        |    - list_sum(list_transform(cs,
        |        x -> CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE)))) / n, 4)
        |    AS entropy
        |FROM u ORDER BY user_id""".stripMargin,

    "agg_corr_matrix" ->
      """WITH s AS (
        |  SELECT count(*) AS n,
        |    sum(q) AS s_q, sum(q*q) AS s_qq, sum(e) AS s_e, sum(e*e) AS s_ee,
        |    sum(d) AS s_d, sum(d*d) AS s_dd, sum(t) AS s_t, sum(t*t) AS s_tt,
        |    sum(q*e) AS s_qe, sum(q*d) AS s_qd, sum(q*t) AS s_qt,
        |    sum(e*d) AS s_ed, sum(e*t) AS s_et, sum(d*t) AS s_dt
        |  FROM (
        |    SELECT CAST(l_quantity AS DECIMAL(12,2)) AS q,
        |      CAST(l_extendedprice AS DECIMAL(12,2)) AS e,
        |      CAST(l_discount AS DECIMAL(12,2)) AS d,
        |      CAST(l_tax AS DECIMAL(12,2)) AS t
        |    FROM lineitem
        |  )
        |)
        |SELECT 'l_discount' AS col_x, 'l_tax' AS col_y,
        |  round((CAST(n AS DOUBLE) * CAST(s_dt AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_t AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(s_dd AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(s_tt AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE))), 4) AS corr
        |FROM s
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_discount',
        |  round((CAST(n AS DOUBLE) * CAST(s_ed AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_d AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(s_ee AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(s_dd AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE))), 4)
        |FROM s
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_tax',
        |  round((CAST(n AS DOUBLE) * CAST(s_et AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_t AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(s_ee AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(s_tt AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE))), 4)
        |FROM s
        |UNION ALL
        |SELECT 'l_quantity', 'l_discount',
        |  round((CAST(n AS DOUBLE) * CAST(s_qd AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_d AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(s_qq AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(s_dd AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE))), 4)
        |FROM s
        |UNION ALL
        |SELECT 'l_quantity', 'l_extendedprice',
        |  round((CAST(n AS DOUBLE) * CAST(s_qe AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_e AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(s_qq AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(s_ee AS DOUBLE) - CAST(s_e AS DOUBLE) * CAST(s_e AS DOUBLE))), 4)
        |FROM s
        |UNION ALL
        |SELECT 'l_quantity', 'l_tax',
        |  round((CAST(n AS DOUBLE) * CAST(s_qt AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_t AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(s_qq AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(s_tt AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE))), 4)
        |FROM s
        |ORDER BY col_x, col_y""".stripMargin,

    "agg_chi2" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS o FROM documents
        |  GROUP BY lang, source
        |), rows_t AS (
        |  SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY lang
        |), cols_t AS (
        |  SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY source
        |), n_t AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
        |), terms AS (
        |  SELECT g.lang, g.source,
        |    ((CAST(coalesce(c.o, 0) AS DOUBLE)
        |       - CAST(g.rt AS DOUBLE) * CAST(g.ct AS DOUBLE) / CAST(n_t.n AS DOUBLE))
        |     * (CAST(coalesce(c.o, 0) AS DOUBLE)
        |       - CAST(g.rt AS DOUBLE) * CAST(g.ct AS DOUBLE) / CAST(n_t.n AS DOUBLE)))
        |    / (CAST(g.rt AS DOUBLE) * CAST(g.ct AS DOUBLE) / CAST(n_t.n AS DOUBLE))
        |      AS term
        |  FROM (SELECT lang, rt, source, ct FROM rows_t CROSS JOIN cols_t) g
        |  LEFT JOIN cells c ON g.lang = c.lang AND g.source = c.source
        |  CROSS JOIN n_t
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(term ORDER BY lang, source)), (a, b) -> a + b), 4) AS chi2
        |FROM terms""".stripMargin,

    "agg_ks_test" ->
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events WHERE event_type IN ('click', 'view')
        |), g AS (
        |  SELECT v,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_b
        |  FROM e GROUP BY v
        |), t AS (
        |  SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
        |         CAST(sum(n_b) AS BIGINT) AS tot_b
        |  FROM g
        |), c AS (
        |  SELECT v,
        |    sum(n_a) OVER (ORDER BY v) AS ca,
        |    sum(n_b) OVER (ORDER BY v) AS cb
        |  FROM g
        |)
        |SELECT CAST(v AS DOUBLE) AS at_value, tot_a, tot_b,
        |  round(abs(CAST(ca AS DOUBLE) / tot_a - CAST(cb AS DOUBLE) / tot_b), 4)
        |    AS ks
        |FROM c CROSS JOIN t
        |ORDER BY abs(CAST(ca AS DOUBLE) / tot_a - CAST(cb AS DOUBLE) / tot_b)
        |  DESC, v
        |LIMIT 1""".stripMargin,

    "agg_quantiles" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    quantile_cont(value, [0.25, 0.5, 0.75, 0.9]) AS qs
        |  FROM events GROUP BY event_type
        |), ps AS (
        |  SELECT * FROM (VALUES (1, 0.25), (2, 0.5), (3, 0.75), (4, 0.9))
        |    AS t(i, p)
        |)
        |SELECT g.event_type, g.n, CAST(ps.p AS DOUBLE) AS p,
        |  round(g.qs[ps.i], 4) AS q
        |FROM g CROSS JOIN ps
        |ORDER BY event_type, p""".stripMargin,

    "agg_salted_twophase" ->
      """WITH shards AS (
        |  SELECT event_type, event_id % 16 AS salt, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY event_type, salt
        |)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(round(sum(v), 4) AS DOUBLE) AS val_sum,
        |  count(*) AS n_shards
        |FROM shards GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "agg_time_rollup" -> TimeRollupSql,

    "agg_filtered" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_errors,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2)))
        |    FILTER (WHERE event_type = 'purchase'), 4) AS DOUBLE) AS purchase_value,
        |  round(CAST(count(*) FILTER (WHERE event_type = 'error') AS DOUBLE)
        |    / count(*), 4) AS err_rate
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "agg_collect" ->
      """SELECT lang, string_agg(source, ',' ORDER BY source) AS sources,
        |  CAST(sum(n) AS BIGINT) AS n_docs
        |FROM (SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "agg_freq_items" ->
      """WITH t AS (SELECT count(*) AS n_rows FROM lineitem),
        |c AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1)
        |SELECT l_partkey, cnt, cnt * 10000 // n_rows AS per_myriad
        |FROM c, t ORDER BY cnt DESC, l_partkey LIMIT 25""".stripMargin,
  )
}
