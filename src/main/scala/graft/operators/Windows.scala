package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Window-function operators (SURVEY.md §2.5).
  *
  * Scale notes: every window over data is partitioned (by customer /
  * user / order-status / event type), so execution is one shuffle on
  * the partition key then a per-partition sort; the one
  * single-partition window, the pattern that would serialize at
  * 100 TB, is win_pct_of_total's grand total over the 25-row nation
  * rollup.
  * Window ORDER BYs always carry a unique tiebreaker key so rank /
  * running frames are deterministic across engines.
  *
  * Shared kernels: every per-type day series reads
  * [[Events.typeDays]]; win_cusum and win_drawdown read one n-scaled
  * CUSUM frame (`cusumDays`); win_rolling_zscore, win_bollinger and
  * win_rolling_corr read one trailing-7 integer-moment frame
  * (`trailing7`), and win_rolling_corr's correlation is
  * [[OpModule.pearson]].
  */
object Windows extends OpModule {

  /** A type's day series in day order (over [[Events.typeDays]]). */
  private val byDay = Window.partitionBy("event_type").orderBy("day")
  private val running = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Each type's daily value sums `v` (exact DECIMAL) with the CUSUM
    * terms: `run` = Σ_{j≤t} v_j, the day's rank `t`, `tot` = Σv, `n` =
    * |days| and `cs` = n·run − t·tot, the CUSUM Σ_{j≤t} v_j − t·μ
    * SCALED BY n — every term an exact DECIMAL product of exact day
    * sums, so the one divide-by-n happens in doubles at the end (an
    * identical IEEE op on both engines). */
  private def cusumDays(s: SparkSession, d: String): DataFrame = {
    val all = Window.partitionBy("event_type")
    Events.typeDays(s, d, sum(Dec2(col("value"))).as("v"))
      .withColumn("run", sum("v").over(running))
      .withColumn("t", row_number().over(byDay).cast("long"))
      .withColumn("tot", sum("v").over(all))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("cs", col("run") * col("n") - col("t") * col("tot"))
  }

  /** The days of `daily` that close a full trailing-7 frame (the first
    * 6 of each type drop, the standard full-window band rule), with
    * the frame's exact integer sums of the series `x`: `k` = 7 rows,
    * `sx` = Σx, `sxx` = Σx², and one more sum per `(name, term)` of
    * `more`. Window sums of exact integers are identical on both
    * engines. */
  private def trailing7(daily: DataFrame, x: Column,
      more: (String, Column)*): DataFrame = {
    val w7 = byDay.rowsBetween(-6, Window.currentRow)
    (Seq("sx" -> x, "sxx" -> x * x) ++ more)
      .foldLeft(daily.withColumn("k", count(lit(1)).over(w7))) {
        case (df, (name, term)) => df.withColumn(name, sum(term).over(w7))
      }
      .filter(col("k") === 7)
  }

  val queries: Map[String, Q] = Map(
    "win_ewma" -> ((s, d) =>
      // Per-type daily EWMA (α=0.5) via an in-row fold over the SORTED
      // day series: ewma_1 = x_1, ewma_i = 0.5·ewma_{i-1} + 0.5·x_i.
      // A window-sum formulation (Σ x_j·(1−α)^(t−j)) is numerically
      // explosive and double-sum order-dependent; the fold pins the
      // exact op sequence, so both engines produce bit-identical
      // doubles. Daily sums are exact DECIMAL first. Series length is
      // |days| per group (bounded, ~30 here) — the fold is O(n²) in-row
      // arithmetic on an already day-grain rollup, never on raw events.
      Events.typeDays(s, d, sum(Dec2(col("value"))).as("v"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("v")))).as("series"))
        .select(col("event_type"), explode(expr(
          """transform(series, (e, i) -> struct(
            |  e.day AS day,
            |  round(aggregate(slice(series, 2, i),
            |                  cast(series[0].v AS double),
            |                  (acc, x) -> acc * 0.5D + cast(x.v AS double) * 0.5D),
            |        4) AS ewma))""".stripMargin)).as("r"))
        .select(col("event_type"),
          date_format(col("r.day"), "yyyy-MM-dd").as("day"), col("r.ewma"))
        .orderBy("event_type", "day")),

    "win_cusum" -> ((s, d) =>
      // CUSUM change-point signal over each type's daily value series:
      // cusum_t = Σ_{j≤t} x_j − t·μ drifts from 0 when the level
      // shifts, computed n-scaled and exact (`cusumDays`). All windows
      // run on the day-grain rollup, never raw events.
      cusumDays(s, d)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("cs").cast("double") / col("n").cast("double"), 4).as("cusum"))
        .orderBy("event_type", "day")),

    "win_drawdown" -> ((s, d) => {
      // Worst slump of each type's demeaned daily-value series: max
      // drawdown of the CUSUM (Σx − t·μ) — "how far and how long did
      // flow run below its best trend point". Raw cumulative value
      // only grows, so drawdown is measured on the demeaned series,
      // win_cusum's n-scaled exact frame (`cusumDays`), with one
      // divide-by-n in doubles at the end. All windows on the
      // day-grain rollup.
      cusumDays(s, d)
        .withColumn("peak", max("cs").over(running))
        .groupBy("event_type")
        .agg(round(max(col("peak") - col("cs")).cast("double")
            / min("n").cast("double"), 4).as("max_slump"),
          count(when(col("cs") < col("peak"), 1)).as("days_below_peak"))
        .orderBy("event_type")
    }),

    "win_rolling_zscore" -> ((s, d) => {
      // Rolling anomaly score: each day's event count against the
      // trailing 7-day window's own mean/std — adapts to level shifts
      // that a global z-score (evt_anomaly) misnormalizes. Exactness:
      // the window moments are `trailing7`'s INTEGER sums over the
      // day-grain rollup, so both engines hold identical values; the
      // single sqrt/divide happens in doubles at the end. Frames with
      // fewer than 7 days are dropped (the warm-up edge). A CONSTANT
      // 7-day window makes the variance term 0 — engines disagree on
      // 0/0 (NaN vs NULL), so the zero case is guarded to NULL on both
      // sides via the exact integer comparison sxx·7 = sx².
      trailing7(Events.typeDays(s, d, count(lit(1)).as("x")), col("x"))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("x"),
          when(col("sxx") * 7 === col("sx") * col("sx"),
            lit(null).cast("double"))
            .otherwise(round((col("x") * 7 - col("sx")).cast("double") / 7.0
              / sqrt((col("sxx") * 7 - col("sx") * col("sx")).cast("double") / 42.0),
              4)).as("z"))
        .orderBy("event_type", "day")
    }),

    "win_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        row_number().over(w).cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    }),

    "win_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),

    "win_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Events.evtByUser(s, d).select(
        col("user_id"), col("event_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"),
        lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy("user_id", "event_id")
    }),

    "win_running" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Events.evtByUser(s, d).select(
        col("user_id"), col("event_id"),
        round(sum("value").over(w), 4).as("run_sum"),
        count(lit(1)).over(w).as("run_cnt"))
        .orderBy("user_id", "event_id")
    }),

    "win_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, 0)
      Events.evtByUser(s, d).select(
        col("user_id"), col("event_id"),
        round(avg("value").over(w), 4).as("mov_avg"))
        .orderBy("user_id", "event_id")
    }),

    "win_first_last" -> ((s, d) => {
      // first_value / last_value / nth_value over a running frame; the
      // frame must be spelled out because last_value over the default
      // frame is just the current row.
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        first("o_orderkey").over(run).as("first_key"),
        last("o_orderkey").over(run).as("latest_key"),
        nth_value(col("o_orderkey"), 2).over(run).as("second_key"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "win_range_time" -> ((s, d) => {
      // RANGE frame over event time: trailing-1h per-user totals. The
      // frame bound is value-based (µs), so peers at the same instant
      // share one frame and the result is order-independent within
      // peers — no row-frame tiebreaker needed. Money-style decimal
      // sum keeps the double round engine-stable.
      val w = Window.partitionBy("user_id").orderBy(col("tus"))
        .rangeBetween(-3600L * 1000000L, 0L)
      Events.evtByUser(s, d)
        .withColumn("tus", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(Dec2(col("value"))).over(w), 4).cast("double").as("val_1h"))
        .orderBy("user_id", "event_id")
    }),

    "win_ntile_cume" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderstatus"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(cume_dist().over(w), 4).as("cd"),
        round(percent_rank().over(w), 4).as("pr"))
        .orderBy("o_orderstatus", "o_orderkey")
    }),

    "win_gap_islands" -> ((s, d) => {
      // Gaps-and-islands: consecutive-active-day streaks per user. The
      // classic anchor trick (day minus per-user row_number collapses a
      // run of consecutive days to one constant) turns streak detection
      // into a plain groupBy — one shuffle for the distinct, one
      // user-partitioned window sort, one partial agg. Streaks shorter
      // than 3 days are noise and filtered out.
      val w = Window.partitionBy("user_id").orderBy("day")
      Events.evtByUser(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("anchor", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "anchor")
        .agg(min("day").as("streak_start"), max("day").as("streak_end"),
          count(lit(1)).as("len"))
        .filter(col("len") >= 3)
        .select("user_id", "streak_start", "streak_end", "len")
        .orderBy("user_id", "streak_start")
    }),

    "win_pct_of_total" -> ((s, d) => {
      // Share-of-total: per-nation revenue and its percent of the grand
      // total. The unpartitioned window runs AFTER aggregation, over the
      // 25-row nation rollup — the single-partition frame only ever
      // serializes a dimension-sized relation, never the fact table.
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(Dec2(col("o_totalprice"))).as("rev_d"))
      rev.select(col("n_name"),
          round(col("rev_d"), 4).cast("double").as("revenue"),
          round(col("rev_d").cast("double") * 100 /
            sum(col("rev_d")).over(Window.partitionBy()).cast("double"), 4)
            .as("pct"))
        .orderBy("n_name")
    }),

    "win_interpolate" -> ((s, d) => {
      // Time-series gap fill with LINEAR INTERPOLATION — the ETL step
      // between "forward fill" and "model it". Daily per-user totals
      // (exact decimal) left-join a per-user day spine; a missing day
      // takes pv + (nv − pv)·(Δprev/Δspan) from its bracketing
      // observations via last/first IGNORE NULLS running frames. The
      // spine spans each user's own [min, max] observed days, so gaps
      // always have both brackets; identical formula text on both
      // engines keeps the doubles bit-identical. One shuffle for the
      // daily agg, one per-user window sort.
      val obs = Events.evtByUser(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(Dec2(col("value"))), 4).cast("double").as("val"))
      val spine = obs.groupBy("user_id")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
      val wPrev = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(obs, Seq("user_id", "day"), "left")
        .withColumn("pv", last("val", ignoreNulls = true).over(wPrev))
        .withColumn("pd", last(when(col("val").isNotNull, col("day")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first("val", ignoreNulls = true).over(wNext))
        .withColumn("nd", first(when(col("val").isNotNull, col("day")),
          ignoreNulls = true).over(wNext))
        .select(col("user_id"), col("day"), col("val").isNotNull.as("observed"),
          round(when(col("val").isNotNull, col("val"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv"))
              * (datediff(col("day"), col("pd")).cast("double")
                / datediff(col("nd"), col("pd")))), 4).as("filled"))
        .orderBy("user_id", "day")
    }),

    "win_pareto_abc" -> ((s, d) => {
      // ABC / Pareto analysis: customers ranked by spend inside their
      // market segment, running cumulative share of segment revenue,
      // and A/B/C class cut at 50% / 80%. Windows are PARTITIONED by
      // segment over the post-agg |customers| rollup — no global
      // single-partition frame. Decimal spend sums keep the cumulative
      // shares (and therefore the class boundaries) engine-exact.
      val spend = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("o_custkey"))
        .agg(sum(Dec2(col("o_totalprice"))).as("spend_d"))
      val w = Window.partitionBy("segment")
        .orderBy(col("spend_d").desc, col("o_custkey"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      spend
        .withColumn("cum_share", round(sum("spend_d").over(run).cast("double")
          / sum("spend_d").over(all).cast("double"), 4))
        .select(col("segment"), col("o_custkey"),
          round(col("spend_d"), 4).cast("double").as("spend"),
          col("cum_share"),
          when(col("cum_share") <= 0.5, "A")
            .when(col("cum_share") <= 0.8, "B").otherwise("C").as("abc"))
        .orderBy("segment", "o_custkey")
    }),

    "win_wow_growth" -> ((s, d) => {
      // Week-over-week growth (r7): daily volume per type against the
      // SAME WEEKDAY one week back (lag 7 over the day series) — the
      // growth readout that cancels weekly seasonality by
      // construction, complementing win_mom_growth's month grain and
      // win_seasonal_split's decomposition. Type-partitioned lag over
      // the day-grain rollup; growth is one exact-integer ratio.
      Events.typeDays(s, d, count(lit(1)).as("n"))
        .withColumn("n7", lag("n", 7).over(byDay))
        .filter(col("n7").isNotNull)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("n7"),
          round((col("n") - col("n7")).cast("double")
            / col("n7").cast("double"), 4).as("wow_growth"))
        .orderBy("event_type", "day")
    }),

    "win_seasonal_split" -> ((s, d) => {
      // Additive seasonal decomposition (r7), the classical-STL-lite:
      // trend = centered 7-day moving average of daily volume,
      // seasonal index = mean detrended residual per weekday — the
      // "is Monday really +30%" readout behind evt_seasonality's raw
      // matrix. The residual is kept as the EXACT integer 7·n − Σ₇
      // (n minus the window mean, scaled by 7 to stay integral), so
      // the per-weekday mean is one exact-integer ratio — no double
      // accumulates across rows on either engine. Windows are
      // type-partitioned over the day-grain rollup; edge days without
      // a full 7-day window drop (the standard centered-MA boundary
      // rule).
      val w = byDay.rowsBetween(-3, 3)
      Events.typeDays(s, d, count(lit(1)).as("n"))
        .withColumn("sum7", sum("n").over(w))
        .withColumn("cnt7", count(lit(1)).over(w))
        .filter(col("cnt7") === 7)
        .withColumn("r7", lit(7) * col("n") - col("sum7"))
        .groupBy(col("event_type"), dayofweek(col("day")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n_days"),
          round(sum(col("r7")).cast("double")
            / (lit(7.0) * count(lit(1)).cast("double")), 4).as("seasonal"))
        .orderBy("event_type", "dow")
    }),

    "win_changepoint" -> ((s, d) => {
      // Binary changepoint detection (r7): per event type, the split
      // of the daily-volume series that maximizes the absolute
      // mean-shift |mean(left) − mean(right)| — the level-shift scan
      // an ingestion monitor runs when win_cusum says "something
      // drifted" and the owner asks WHEN. All candidate splits
      // evaluate from ONE prefix-sum window over the day-grain
      // rollup (|types|·|days| rows, partitioned by type — never a
      // global frame): each row knows (i, S_i, T, S), so both means
      // are exact-integer divisions and the argmax is a partial-agged
      // struct-max on the ROUNDED delta (ties → earliest day) — no
      // second pass, no self-join, engine-identical doubles.
      val all = byDay.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val pre = Events.typeDays(s, d, count(lit(1)).as("n"))
        .withColumn("i", row_number().over(byDay).cast("long"))
        .withColumn("si", sum("n").over(running))
        .withColumn("tt", count(lit(1)).over(all))
        .withColumn("ss", sum("n").over(all))
        .filter(col("i") < col("tt"))
        .withColumn("mean_l",
          col("si").cast("double") / col("i").cast("double"))
        .withColumn("mean_r", (col("ss") - col("si")).cast("double")
          / (col("tt") - col("i")).cast("double"))
        .withColumn("delta", round(abs(col("mean_l") - col("mean_r")), 4))
      pre.groupBy("event_type")
        .agg(max(struct(col("delta"), (lit(0L) - col("i")).as("ni"),
          col("day"), col("mean_l"), col("mean_r"))).as("m"))
        .select(col("event_type"),
          date_format(col("m.day"), "yyyy-MM-dd").as("split_day"),
          (lit(0L) - col("m.ni")).as("n_left"),
          round(col("m.mean_l"), 4).as("mean_left"),
          round(col("m.mean_r"), 4).as("mean_right"),
          col("m.delta").as("delta"))
        .orderBy("event_type")
    }),

    "win_trend_theilsen" -> ((s, d) => {
      // Theil–Sen robust trend (r7): per event type, the MEDIAN of all
      // pairwise slopes of the daily-volume series (+ the matching
      // median intercept) — the outlier-proof answer to "is volume
      // trending", where one bad ingestion day wrecks an OLS fit but
      // moves a median of ~n²/2 slopes not at all. The O(|days|²)
      // pair expansion runs on the DAY-GRAIN ROLLUP (|types|·|days|
      // rows), so it is dimension-sized at any event volume — the
      // classic Theil–Sen cost bound applied after partial
      // aggregation, never to raw events. Every slope is one exact
      // integer subtraction + one IEEE-exact double division; the
      // intercept uses the ROUNDED slope so both engines feed
      // identical doubles into the second median.
      val daily = Events.typeDays(s, d, count(lit(1)).as("n"))
        .withColumn("t",
          datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
      val a = daily.select(col("event_type"), col("t").as("t1"), col("n").as("n1"))
      val b = daily.select(col("event_type").as("et2"), col("t").as("t2"),
        col("n").as("n2"))
      val sl = a.join(b, col("event_type") === col("et2") && col("t1") < col("t2"))
        .select(col("event_type"),
          ((col("n2") - col("n1")).cast("double")
            / (col("t2") - col("t1")).cast("double")).as("m"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(m, 0.5D)"), 4).as("slope"))
      val ic = daily.join(sl.select(col("event_type"), col("slope")), Seq("event_type"))
        .select(col("event_type"),
          (col("n").cast("double") - col("slope") * col("t").cast("double")).as("r0"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          round(expr("percentile(r0, 0.5D)"), 4).as("intercept"))
      sl.join(ic, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          col("slope"), col("intercept"))
        .orderBy("event_type")
    }),

    "win_rolling_median" -> ((s, d) =>
      // Exact rolling 7-row median of each user's value series — the
      // robust smoother that win_moving_avg's mean cannot give when a
      // single spike lands in the frame. Spark has no median window
      // function, so the frame is gathered with collect_list over the
      // bounded ROWS frame and the median read in-row from the sorted
      // array: O(k log k) per row with k=7 FIXED, so the plan is one
      // user-partitioned window shuffle + map work, independent of
      // data scale — never a per-group self-join. Values live on the
      // exact ⌊value·100⌋ integer grid and the median is emitted as
      // lower+upper middle (med2x100 = an exact scaled integer), so
      // no double crosses engines; frames are deterministic via the
      // (ts, event_id) total order. DuckDB gathers the same frame
      // with list() OVER and indexes the same sorted positions.
      Events.evtByUser(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("v100"))
        .withColumn("fr", sort_array(collect_list(col("v100")).over(
          Window.partitionBy("user_id")
            .orderBy(col("ts"), col("event_id"))
            .rowsBetween(-6, 0))))
        .select(col("user_id"), col("event_id"),
          size(col("fr")).cast("long").as("n_frame"),
          (element_at(col("fr"), expr("(size(fr) + 1) div 2").cast("int"))
            + element_at(col("fr"), expr("size(fr) div 2 + 1").cast("int")))
            .as("med2x100"))
        .orderBy("user_id", "event_id")),

    "win_rsi" -> ((s, d) => {
      // Relative Strength Index (simple-average form) on daily volume
      // per type (r8) — completes the indicator family next to
      // win_bollinger/win_ewma: trailing-14 gain vs loss balance of
      // day-over-day deltas. Deltas, gains, and losses are exact
      // INTEGERS (daily counts), and the index emits as the exact
      // scaled integer 100·G/(G+L)·10⁴ div — no float ever crosses
      // the compare (an all-flat window nulls via nullif on both
      // engines). Type-partitioned windows over the day-grain rollup;
      // partial frames drop per the full-window band rule.
      val w14 = byDay.rowsBetween(-13, 0)
      Events.typeDays(s, d, count(lit(1)).as("n"))
        .withColumn("diff", col("n") - lag("n", 1).over(byDay))
        .filter(col("diff").isNotNull)
        .withColumn("gain", greatest(col("diff"), lit(0L)))
        .withColumn("loss", greatest(-col("diff"), lit(0L)))
        .withColumn("k", count(lit(1)).over(w14))
        .withColumn("g14", sum("gain").over(w14))
        .withColumn("l14", sum("loss").over(w14))
        .filter(col("k") === 14)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("g14"), col("l14"),
          expr("g14 * 1000000 div nullif(g14 + l14, 0)").as("rsi_e4"))
        .orderBy("event_type", "day")
    }),

    "win_bollinger" -> ((s, d) => {
      // Bollinger bands on daily volume: 7-day rolling mean ± 2σ per
      // type, plus an EXACT breakout flag — the volatility envelope
      // an anomaly triage reads next to win_rolling_zscore. The σ
      // comparison never touches doubles: |x−μ| > 2σ over the frame
      // (n=7, S=Σx, Q=Σx²) is equivalent to the integer predicate
      // (7x−S)² > 4(7Q−S²), so the flag is engine-exact; the
      // reported mean/sd derive from the same exact integers with
      // one division/sqrt (identical expression tree both engines).
      // Frames are type-partitioned windows over the day-grain
      // rollup; partial frames (first 6 days) drop per the standard
      // full-window band rule.
      trailing7(Events.typeDays(s, d, count(lit(1)).as("n")), col("n"))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          round(col("sx").cast("double") / 7.0, 4).as("mean7"),
          round(sqrt((lit(7) * col("sxx") - col("sx") * col("sx"))
            .cast("double")) / 7.0, 4).as("sd7"),
          when((lit(7) * col("n") - col("sx"))
            * (lit(7) * col("n") - col("sx"))
            > lit(4) * (lit(7) * col("sxx") - col("sx") * col("sx")), 1L)
            .otherwise(0L).as("breakout"))
        .orderBy("event_type", "day")
    }),

    "win_rolling_corr" -> ((s, d) => {
      // Rolling 7-day Pearson correlation between daily event VOLUME
      // and daily event VALUE per type — the coupling monitor ("are
      // we earning per event what we used to?") that a level-only
      // band (win_bollinger) can't see. Both series live on exact
      // integer grids (count; Σvalue as the ⌊·100⌋ decimal-cents
      // sum), all five frame moments are window sums of exact
      // integers, and the one corr division reuses the evt_type_corr
      // NULL guard (n·sxx = sx²) — constant frames are common in a
      // 7-day window. Magnitudes: daily cents ≤ ~1e8 at sf0.1, so
      // k·Σv² ≤ ~1e17 < 2⁶³; at true 100 TB volumes the moments lift
      // through DECIMAL(38) exactly as agg_moments does. Frames are
      // type-partitioned windows over the day-grain rollup.
      val (x, y) = (col("x"), col("y"))
      trailing7(Events.typeDays(s, d, count(lit(1)).as("x"),
          (sum(Dec2(col("value"))) * 100).cast("long").as("y")),
        x, "sy" -> y, "syy" -> y * y, "sxy" -> x * y)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          pearson(col("k")).as("corr7"))
        .orderBy("event_type", "day")
    }),
  )

  private val EventWin = "PARTITION BY user_id ORDER BY ts, event_id"
  private val OrderWin = "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey"

  val oracles: Map[String, String] = Map(
    "win_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY event_type, day
        |), w AS (
        |  SELECT event_type, day,
        |    sum(v) OVER (PARTITION BY event_type ORDER BY day) AS run,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |    sum(v) OVER (PARTITION BY event_type) AS tot,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily
        |)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  round(CAST(run * n - t * tot AS DOUBLE) / n, 4) AS cusum
        |FROM w ORDER BY event_type, day""".stripMargin,

    "win_drawdown" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY event_type, day
        |), c AS (
        |  SELECT event_type, day,
        |    sum(v) OVER (PARTITION BY event_type ORDER BY day) AS run,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |    sum(v) OVER (PARTITION BY event_type) AS tot,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily
        |), s AS (
        |  SELECT event_type, day, n, run * n - t * tot AS cs FROM c
        |), p AS (
        |  SELECT event_type, n, cs,
        |    max(cs) OVER (PARTITION BY event_type ORDER BY day) AS peak
        |  FROM s
        |)
        |SELECT event_type,
        |  round(CAST(max(peak - cs) AS DOUBLE) / CAST(min(n) AS DOUBLE), 4)
        |    AS max_slump,
        |  CAST(count(*) FILTER (WHERE cs < peak) AS BIGINT)
        |    AS days_below_peak
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "win_rolling_zscore" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |  FROM events GROUP BY event_type, day
        |), w AS (
        |  SELECT event_type, day, x,
        |    sum(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s,
        |    sum(x * x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS q,
        |    count(*) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS m
        |  FROM daily
        |)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, x,
        |  CASE WHEN q * 7 = s * s THEN NULL
        |       ELSE round(CAST(x * 7 - s AS DOUBLE) / 7.0
        |         / sqrt(CAST(q * 7 - s * s AS DOUBLE) / 42.0), 4) END AS z
        |FROM w WHERE m = 7 ORDER BY event_type, day""".stripMargin,

    "win_ewma" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY event_type, day
        |), ser AS (
        |  SELECT event_type,
        |    list(day ORDER BY day) AS ds,
        |    list(CAST(v AS DOUBLE) ORDER BY day) AS vs
        |  FROM daily GROUP BY event_type
        |), idx AS (
        |  SELECT event_type, ds, vs,
        |    unnest(range(1, len(vs) + 1)) AS i
        |  FROM ser
        |)
        |SELECT event_type, strftime(ds[i], '%Y-%m-%d') AS day,
        |  round(list_reduce(vs[1:i], (a, b) -> a * 0.5 + b * 0.5), 4) AS ewma
        |FROM idx ORDER BY event_type, day""".stripMargin,

    "win_rank" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice,
         |  CAST(rank() OVER ($OrderWin) AS BIGINT) AS rnk,
         |  CAST(dense_rank() OVER ($OrderWin) AS BIGINT) AS drnk,
         |  CAST(row_number() OVER ($OrderWin) AS BIGINT) AS rn
         |FROM orders ORDER BY o_custkey, rn""".stripMargin,

    "win_topk_per_group" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    CAST(row_number() OVER ($OrderWin) AS BIGINT) AS rn
         |  FROM orders
         |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "win_lag_lead" ->
      s"""SELECT user_id, event_id,
         |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER ($EventWin) AS gap_us,
         |  lead(event_type, 1) OVER ($EventWin) AS next_type
         |FROM events ORDER BY user_id, event_id""".stripMargin,

    "win_range_time" ->
      """SELECT user_id, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(round(sum(CAST(value AS DECIMAL(12,2))) OVER w, 4) AS DOUBLE) AS val_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "win_running" ->
      s"""SELECT user_id, event_id,
         |  round(sum(value) OVER ($EventWin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_sum,
         |  count(*) OVER ($EventWin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cnt
         |FROM events ORDER BY user_id, event_id""".stripMargin,

    "win_moving_avg" ->
      s"""SELECT user_id, event_id,
         |  round(avg(value) OVER ($EventWin
         |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg
         |FROM events ORDER BY user_id, event_id""".stripMargin,

    "win_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER w AS latest_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_ntile_cume" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile,
        |  round(cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 4) AS cd,
        |  round(percent_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 4) AS pr
        |FROM orders ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "win_gap_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), r AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
        |  FROM days
        |)
        |SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
        |  count(*) AS len
        |FROM r GROUP BY user_id, anchor
        |HAVING count(*) >= 3
        |ORDER BY user_id, streak_start""".stripMargin,

    "win_pct_of_total" ->
      """WITH rev AS (
        |  SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_d
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name
        |)
        |SELECT n_name, CAST(round(rev_d, 4) AS DOUBLE) AS revenue,
        |  round(CAST(rev_d AS DOUBLE) * 100 / CAST(sum(rev_d) OVER () AS DOUBLE), 4) AS pct
        |FROM rev ORDER BY n_name""".stripMargin,

    "win_interpolate" ->
      """WITH obs AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) AS val
        |  FROM events GROUP BY user_id, day
        |), bounds AS (
        |  SELECT user_id, min(day) AS lo, max(day) AS hi FROM obs GROUP BY user_id
        |), spine AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds
        |), j AS (
        |  SELECT s.user_id, s.day, o.val FROM spine s
        |  LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day
        |), w AS (
        |  SELECT user_id, day, val,
        |    last_value(val IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN val IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(val IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN val IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM j
        |)
        |SELECT user_id, day, val IS NOT NULL AS observed,
        |  round(CASE WHEN val IS NOT NULL THEN val
        |             WHEN pv IS NULL THEN nv
        |             WHEN nv IS NULL THEN pv
        |             ELSE pv + (nv - pv)
        |               * (CAST(day - pd AS DOUBLE) / (nd - pd))
        |        END, 4) AS filled
        |FROM w ORDER BY user_id, day""".stripMargin,

    "win_pareto_abc" ->
      """WITH spend AS (
        |  SELECT c_mktsegment AS segment, o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend_d
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY segment, o_custkey
        |), r AS (
        |  SELECT segment, o_custkey, spend_d,
        |    round(CAST(sum(spend_d) OVER (PARTITION BY segment
        |        ORDER BY spend_d DESC, o_custkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / CAST(sum(spend_d) OVER (PARTITION BY segment) AS DOUBLE), 4)
        |      AS cum_share
        |  FROM spend
        |)
        |SELECT segment, o_custkey, CAST(round(spend_d, 4) AS DOUBLE) AS spend,
        |  cum_share,
        |  CASE WHEN cum_share <= 0.5 THEN 'A'
        |       WHEN cum_share <= 0.8 THEN 'B' ELSE 'C' END AS abc
        |FROM r ORDER BY segment, o_custkey""".stripMargin,

    "win_wow_growth" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, day, n,
        |    lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS n7
        |  FROM daily)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, n7,
        |  round(CAST(n - n7 AS DOUBLE) / CAST(n7 AS DOUBLE), 4) AS wow_growth
        |FROM lagged WHERE n7 IS NOT NULL
        |ORDER BY event_type, day""".stripMargin,

    // DoW base offset: DuckDB dayofweek is 0-based Sunday, Spark's is
    // 1-based — the +1 mirrors evt_seasonality's convention.
    "win_seasonal_split" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, day, n,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
        |    count(*) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7
        |  FROM daily),
        |res AS (
        |  SELECT event_type, CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
        |    7 * n - sum7 AS r7
        |  FROM win WHERE cnt7 = 7)
        |SELECT event_type, dow, count(*) AS n_days,
        |  round(CAST(sum(r7) AS DOUBLE) / (7.0 * CAST(count(*) AS DOUBLE)), 4)
        |    AS seasonal
        |FROM res GROUP BY event_type, dow
        |ORDER BY event_type, dow""".stripMargin,

    "win_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |pre AS (
        |  SELECT event_type, day,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS si,
        |    count(*) OVER (PARTITION BY event_type) AS tt,
        |    sum(n) OVER (PARTITION BY event_type) AS ss
        |  FROM daily),
        |sc AS (
        |  SELECT event_type, day, i,
        |    CAST(si AS DOUBLE) / CAST(i AS DOUBLE) AS mean_l,
        |    CAST(ss - si AS DOUBLE) / CAST(tt - i AS DOUBLE) AS mean_r,
        |    round(abs(CAST(si AS DOUBLE) / CAST(i AS DOUBLE)
        |      - CAST(ss - si AS DOUBLE) / CAST(tt - i AS DOUBLE)), 4) AS delta
        |  FROM pre WHERE i < tt),
        |best AS (
        |  SELECT event_type, day, i, mean_l, mean_r, delta,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY delta DESC, i) AS rn
        |  FROM sc)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS split_day,
        |  CAST(i AS BIGINT) AS n_left,
        |  round(mean_l, 4) AS mean_left, round(mean_r, 4) AS mean_right, delta
        |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // quantile_cont and Spark's percentile share the interpolation
    // formula lower + (upper-lower)·frac on the identically-sorted
    // slope multiset; the intercept median consumes the ROUNDED slope
    // so its inputs are bit-identical on both engines.
    "win_trend_theilsen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |dd AS (SELECT event_type,
        |  CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS t, n
        |  FROM daily),
        |sl AS (
        |  SELECT a.event_type, count(*) AS n_pairs,
        |    round(quantile_cont(
        |      CAST(b.n - a.n AS DOUBLE) / CAST(b.t - a.t AS DOUBLE), 0.5), 4)
        |      AS slope
        |  FROM dd a JOIN dd b
        |    ON a.event_type = b.event_type AND a.t < b.t
        |  GROUP BY a.event_type),
        |ic AS (
        |  SELECT d.event_type, count(*) AS n_days,
        |    round(quantile_cont(
        |      CAST(d.n AS DOUBLE) - s.slope * CAST(d.t AS DOUBLE), 0.5), 4)
        |      AS intercept
        |  FROM dd d JOIN sl s ON d.event_type = s.event_type
        |  GROUP BY d.event_type)
        |SELECT sl.event_type, n_days, n_pairs, slope, intercept
        |FROM sl JOIN ic ON sl.event_type = ic.event_type
        |ORDER BY sl.event_type""".stripMargin,

    "win_rolling_median" ->
      """WITH v AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(value * 100) AS BIGINT) AS v100
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id,
        |    list_sort(list(v100) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS fr
        |  FROM v)
        |SELECT user_id, event_id, CAST(len(fr) AS BIGINT) AS n_frame,
        |  fr[(len(fr) + 1) // 2] + fr[len(fr) // 2 + 1] AS med2x100
        |FROM w ORDER BY user_id, event_id""".stripMargin,

    // Integer gains/losses; the index is the same scaled-integer
    // division with a nullif guard.
    "win_rsi" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), d AS (
        |  SELECT event_type, day, n,
        |    n - lag(n) OVER (PARTITION BY event_type ORDER BY day) AS diff
        |  FROM daily
        |), gl AS (
        |  SELECT event_type, day,
        |    greatest(diff, 0) AS gain, greatest(-diff, 0) AS loss
        |  FROM d WHERE diff IS NOT NULL
        |), win AS (
        |  SELECT event_type, day,
        |    count(*) OVER w AS k,
        |    CAST(sum(gain) OVER w AS BIGINT) AS g14,
        |    CAST(sum(loss) OVER w AS BIGINT) AS l14
        |  FROM gl
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, g14, l14,
        |  g14 * 1000000 // nullif(g14 + l14, 0) AS rsi_e4
        |FROM win WHERE k = 14
        |ORDER BY event_type, day""".stripMargin,

    "win_bollinger" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, n,
        |    count(*) OVER fr AS k, sum(n) OVER fr AS sx,
        |    sum(n * n) OVER fr AS sq
        |  FROM daily
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
        |  round(CAST(sx AS DOUBLE) / 7.0, 4) AS mean7,
        |  round(sqrt(CAST(7 * sq - sx * sx AS DOUBLE)) / 7.0, 4) AS sd7,
        |  CAST(CASE WHEN (7 * n - sx) * (7 * n - sx)
        |    > 4 * (7 * sq - sx * sx) THEN 1 ELSE 0 END AS BIGINT)
        |    AS breakout
        |FROM w WHERE k = 7 ORDER BY event_type, day""".stripMargin,

    "win_rolling_corr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day,
        |    count(*) OVER fr AS k,
        |    sum(x) OVER fr AS sx, sum(y) OVER fr AS sy,
        |    sum(x * x) OVER fr AS sxx, sum(y * y) OVER fr AS syy,
        |    sum(x * y) OVER fr AS sxy
        |  FROM daily
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  CASE WHEN k * sxx = sx * sx OR k * syy = sy * sy THEN NULL
        |    ELSE round(CAST(k * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(k * syy - sy * sy AS DOUBLE))), 4)
        |  END AS corr7
        |FROM w WHERE k = 7 ORDER BY event_type, day""".stripMargin,
  )
}
