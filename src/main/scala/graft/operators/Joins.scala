package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Join operators (SURVEY.md §2.3).
  *
  * Scale notes:
  *  - `join_inner_equi` / `join_left_outer` / semi / anti shuffle both
  *    sides on the join key — at 100 TB these are the canonical
  *    sort-merge joins; AQE picks shuffled-hash when one side is small.
  *  - `join_broadcast` pins the dimension side with an explicit
  *    `broadcast()` hint: nation (25 rows) and region (5 rows) stay
  *    broadcast-able at every scale factor since dimensions don't grow
  *    with the fact tables.
  *  - `join_multiway` is the TPC-H Q5 shape: Catalyst pushes the
  *    orderdate filter into the orders scan, broadcasts the two tiny
  *    dims, and shuffles only customer⋈orders⋈lineitem.
  *  - `join_theta_range` is a band join; Spark executes it as a
  *    broadcast-nested-loop. At scale the band predicate should be
  *    bucketized first (join on overlapping buckets, then refine) —
  *    the supplier side is small enough here that BNL is the right
  *    plan.
  *  - `join_asof` uses the union-timeline formulation (one sorted
  *    window per user over events ∪ orders) rather than a range join,
  *    whose |events| × avg-prior-orders intermediate grows
  *    quadratically with scale.
  *  - `join_bloom_prefilter` screens the fact side with the portable
  *    bloom filter `OpModule.bloomScreen` (shared with LlmText's
  *    incremental dedup screen).
  */
object Joins extends OpModule {

  val queries: Map[String, Q] = Map(
    "join_inner_equi" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")),

    "join_fuzzy_match" -> ((s, d) => {
      // Fuzzy entity resolution: near-duplicate part names by
      // Levenshtein ≤ 3, BLOCKED on the first name token so the pair
      // space is Σ|block|², never |parts|² — the blocking-key pattern
      // every dedup/ER pipeline uses (same shape as the LSH-band and
      // label-block joins; at 100 TB the block key sharpens — first
      // token + length bucket — to keep Σ|block|² linear-ish). Gated
      // to p_partkey < 1000 as the declared brute-within-block
      // correctness baseline, like dedup_ngram_jaccard. Edit distance
      // is an exact integer — no cross-engine float hazard.
      val p = Tables.part(s, d).filter(col("p_partkey") < 1000)
        .select(col("p_partkey").as("id"), col("p_name").as("nm"),
          split(col("p_name"), " ").getItem(0).as("blk"))
      val a = p.select(col("id").as("a_id"), col("nm").as("a_nm"), col("blk"))
      val b = p.select(col("id").as("b_id"), col("nm").as("b_nm"),
        col("blk").as("blk2"))
      a.join(b, col("blk") === col("blk2") && col("a_id") < col("b_id"))
        .withColumn("lev", levenshtein(col("a_nm"), col("b_nm")).cast("long"))
        .filter(col("lev") <= 3)
        .select(col("a_id"), col("b_id"), col("lev"))
        .orderBy("a_id", "b_id")
    }),

    "join_salted" -> ((s, d) => {
      // SALTED equi-join as a graded operator: the hot-key mitigation
      // when one join key dominates (a viral customer, a null-bucket
      // surrogate). The FACT side derives a 16-way salt from its own
      // row fields (o_orderkey — deterministic across re-runs and
      // partition layouts, never monotonically_increasing_id); the
      // SMALLER side replicates ×16 — always explode the side whose
      // |rows|·S is cheapest — and the join runs on (key, salt) so one
      // hot key spreads over 16 reducers. Salting is a pure
      // execution-strategy change: the oracle is the PLAIN join —
      // same result, flatter shuffle. (With AQE skew-join enabled this
      // is the manual form of what the runtime re-plan does.)
      val S = 16
      val o = Tables.orders(s, d)
        .withColumn("salt", pmod(col("o_orderkey"), lit(S)))
      val c = Tables.customer(s, d)
        .withColumn("salt", explode(sequence(lit(0L), lit(S - 1L))))
      o.join(c,
          col("o_custkey") === col("c_custkey") && o("salt") === c("salt"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(Dec2(col("o_totalprice"))), 4).cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    }),

    "join_broadcast" -> ((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
        .orderBy("c_custkey")),

    "join_cross" -> ((s, d) =>
      // Deliberate small×small cartesian (nation × region, 125 rows) —
      // the explicit crossJoin surface; any large cross join is a bug
      // the PlansSpec cartesian checks exist to catch.
      Tables.nation(s, d).crossJoin(broadcast(Tables.region(s, d)))
        .select(col("n_name"), col("r_name"),
          (col("n_regionkey") === col("r_regionkey")).as("is_home"))
        .orderBy("n_name", "r_name")),

    "join_left_outer" -> ((s, d) => {
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    }),

    "join_full_outer" -> ((s, d) => {
      // Both null sides exercised: BUILDING customers without big
      // orders (null right) and big orders from non-BUILDING customers
      // (null left).
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
    }),

    "join_semi" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "join_anti" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "join_multiway" -> ((s, d) =>
      Tables.region(s, d)
        .join(broadcast(Tables.nation(s, d)), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d).filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("r_name", "n_name")
        .agg(
          round(sum(Dec2(col("l_extendedprice")) * (lit(1) - Dec2(col("l_discount")))), 4)
            .cast("double").as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("r_name", "n_name")),

    "join_theta_range" -> ((s, d) => {
      val s1 = Tables.supplier(s, d)
        .select(col("s_suppkey").as("a_key"), col("s_acctbal").as("a_bal"))
      val s2 = Tables.supplier(s, d)
        .select(col("s_suppkey").as("b_key"), col("s_acctbal").as("b_bal"))
      s1.join(s2, col("a_bal") < col("b_bal") && col("b_bal") < col("a_bal") + 500)
        .select(col("a_key"), col("b_key"),
          round(col("b_bal") - col("a_bal"), 4).as("bal_gap"))
        .orderBy("a_key", "b_key")
    }),

    "join_asof_nearest" -> ((s, d) => {
      // Nearest-in-time join — the symmetric cousin of the as-of join:
      // each purchase pairs with its temporally CLOSEST view by the
      // same user within ±30 min (view-to-buy proximity attribution;
      // evt_click_attrib's interval join only looks forward). Shape is
      // join_interval_bucketed's: the purchase side explodes into its
      // 30-min grid bucket ±1 (bounded 3× fanout), the join is a pure
      // EQUI-join on (user, bucket) — never a BNL over the time
      // predicate — and the argmin is one partial-agg struct-min, ties
      // to the lower view id. A (purchase, view) pair can only meet in
      // the view's single bucket, so no dedup pass is needed. All time
      // math is exact integer µs.
      val Tol = 1800L * 1000000L
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("pt"))
        .withColumn("b", expr(s"pt div ${Tol}"))
        .withColumn("bs", explode(array(col("b") - 1, col("b"), col("b") + 1)))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("vu"), col("event_id").as("v_id"),
          unix_micros(col("ts")).as("vt"))
        .withColumn("vb", expr(s"vt div ${Tol}"))
      p.join(v, col("pu") === col("vu") && col("bs") === col("vb"))
        .withColumn("adt", abs(col("vt") - col("pt")))
        .filter(col("adt") <= Tol)
        .groupBy("pu", "p_id")
        .agg(min(struct(col("adt"), col("v_id"))).as("m"))
        .select(col("pu").as("user_id"), col("p_id").as("purchase_id"),
          col("m.v_id").as("view_id"), round(col("m.adt") / 1e6, 4).as("abs_dt_s"))
        .orderBy("purchase_id")
    }),

    "join_asof" -> ((s, d) => {
      // As-of join via a merged per-user timeline, not a range join:
      // the range join materializes |events| × avg-prior-orders rows
      // (1.0M at sf0.1, growing ~quadratically with sf since both
      // factors scale with data volume) and then windows over them;
      // the timeline is |events| + |orders| rows with ONE shuffle +
      // sort per user key, the plan shape that survives 100 TB.
      // Orders sort before events at equal timestamps (the predicate
      // is inclusive: o_orderdate <= ts) and within a date ascending
      // o_orderkey makes the running `last()` pick the max key —
      // together matching the oracle's ORDER BY o_orderdate DESC,
      // o_orderkey DESC choice.
      val e = Tables.events(s, d).select(
        col("user_id").as("k"), col("ts").as("t"), lit(1).as("is_event"),
        col("event_id"),
        lit(null).cast("long").as("ok"), lit(null).cast("timestamp").as("od"))
      val o = Tables.orders(s, d).select(
        col("o_custkey").as("k"), col("o_orderdate").as("t"), lit(0).as("is_event"),
        lit(null).cast("long").as("event_id"),
        col("o_orderkey").as("ok"), col("o_orderdate").as("od"))
      val w = Window.partitionBy("k")
        .orderBy(col("t"), col("is_event"), col("ok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.union(o)
        .withColumn("last_order_key", last(col("ok"), ignoreNulls = true).over(w))
        .withColumn("last_order_date", last(col("od"), ignoreNulls = true).over(w))
        .filter(col("is_event") === 1 && col("last_order_key").isNotNull)
        .select(col("event_id"), col("last_order_key"),
          date_format(col("last_order_date"), "yyyy-MM-dd").as("last_order_date"))
        .orderBy("event_id")
    }),

    "join_asof_bounded" -> ((s, d) => {
      // As-of join with a STALENESS BOUND — the feature-store variant:
      // each purchase takes its most recent prior view (same user),
      // but only if that view is ≤ 2 h old; staler features are worse
      // than no features, so they null out rather than leak. Same
      // union-timeline shape as join_asof (|V|+|P| rows, one shuffle +
      // sort per user) with the bound applied as a final map-side
      // filter on the carried timestamp — no range join, no growth
      // with lookback depth.
      val Bound = 7200000000L // 2h in µs
      val e = Tables.events(s, d)
      val v = e.filter(col("event_type") === "view").select(
        col("user_id").as("k"), unix_micros(col("ts")).as("us"),
        lit(0).as("is_p"), col("event_id").as("vid"),
        lit(null).cast("long").as("pid"))
      val p = e.filter(col("event_type") === "purchase").select(
        col("user_id").as("k"), unix_micros(col("ts")).as("us"),
        lit(1).as("is_p"), lit(null).cast("long").as("vid"),
        col("event_id").as("pid"))
      val w = Window.partitionBy("k")
        .orderBy(col("us"), col("is_p"), coalesce(col("vid"), col("pid")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      v.union(p)
        .withColumn("lv_us",
          last(when(col("is_p") === 0, col("us")), ignoreNulls = true).over(w))
        .withColumn("lv_id",
          last(when(col("is_p") === 0, col("vid")), ignoreNulls = true).over(w))
        .filter(col("is_p") === 1)
        .select(col("pid").as("purchase_id"),
          when(col("us") - col("lv_us") <= Bound, col("lv_id")).as("view_id"),
          when(col("us") - col("lv_us") <= Bound, col("us") - col("lv_us"))
            .as("gap_us"))
        .orderBy("purchase_id")
    }),

    "join_interval_bucketed" -> ((s, d) => {
      // Scale twin of join_theta_range: a pure time-proximity join
      // (each error event × clicks within ±15 min, across ALL users —
      // no equi key) re-expressed as an EQUI-join on a time-grid
      // bucket. Bucket width = window radius, so a matching click is
      // always in the error's bucket or an adjacent one; the error
      // side replicates to its 3 candidate buckets (bounded 3× fanout)
      // and a residual |Δt| filter trims the grid slack. Each true
      // pair matches exactly once (the click's single bucket hits one
      // replica). A raw theta join is a BNL/cartesian at 100 TB; this
      // shape shuffles both sides on the bucket key and stays
      // sort-merge — PlansSpec locks the no-cartesian property.
      val R = 900000000L // 15 min in µs = bucket width
      val e = Tables.events(s, d)
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), unix_micros(col("ts")).as("e_us"))
        .withColumn("b0", expr(s"e_us div $R"))
        .withColumn("bucket", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
        .drop("b0")
      val clk = e.filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("c_us"))
        .withColumn("bucket", expr(s"c_us div $R"))
      err.join(clk, Seq("bucket"))
        .filter(abs(col("c_us") - col("e_us")) <= R)
        .groupBy("err_id", "e_us")
        .agg(count(lit(1)).as("n_nearby_clicks"),
          min(col("c_us") - col("e_us")).as("min_delta_us"))
        .orderBy("err_id")
    }),

    "join_bloom_prefilter" -> ((s, d) => {
      // Bloom-filter runtime prefilter — the pattern behind Spark's
      // own runtime row-group filtering, built portably
      // (`bloomScreen`): the dimension keys fold into the 64 Kbit
      // bloom, the fact side probes the broadcast word table, and only
      // candidates reach the exact join. At 100 TB the bloom cuts the
      // shuffled fact volume to members + the FP band; the output row
      // audits exactly that (candidates, true members, false
      // positives).
      val keys = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k")).distinct()
      val probe = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey").as("k"))
      val cand = bloomScreen(probe, keys).select(col("o_orderkey"), col("k"))
      val flagged = cand
        .join(broadcast(keys.select(col("k").as("tk"))),
          col("k") === col("tk"), "left")
      val nProbe = probe.agg(count(lit(1)).as("n_probe"))
      flagged.agg(count(lit(1)).as("n_candidates"),
          count(col("tk")).as("n_true"),
          (count(lit(1)) - count(col("tk"))).as("n_false_pos"))
        .crossJoin(nProbe)
        .select(col("n_probe"), col("n_candidates"), col("n_true"),
          col("n_false_pos"),
          round(col("n_false_pos").cast("double")
            / (col("n_probe") - col("n_true")).cast("double"), 6)
            .as("fp_rate"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "join_bloom_prefilter" ->
      """WITH keys AS (
        |  SELECT DISTINCT c_custkey AS k FROM customer
        |  WHERE c_mktsegment = 'BUILDING'),
        |pos AS (
        |  SELECT ((k * 2654435761) % 4294967296) % 65536 AS p FROM keys
        |  UNION ALL SELECT (k * 40503 + 17) % 65536 FROM keys),
        |bloom AS (
        |  SELECT p // 32 AS w,
        |    CAST(bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS BIGINT) AS word
        |  FROM pos GROUP BY 1),
        |probe AS (
        |  SELECT o_orderkey, o_custkey AS k,
        |    ((o_custkey * 2654435761) % 4294967296) % 65536 AS p1,
        |    (o_custkey * 40503 + 17) % 65536 AS p2
        |  FROM orders),
        |cand AS (
        |  SELECT pr.o_orderkey, pr.k FROM probe pr
        |  JOIN bloom b1 ON b1.w = pr.p1 // 32
        |  JOIN bloom b2 ON b2.w = pr.p2 // 32
        |  WHERE (b1.word & (1::BIGINT << CAST(pr.p1 % 32 AS INT))) != 0
        |    AND (b2.word & (1::BIGINT << CAST(pr.p2 % 32 AS INT))) != 0),
        |f AS (
        |  SELECT count(*) AS n_candidates,
        |    count(t.tk) AS n_true,
        |    count(*) - count(t.tk) AS n_false_pos
        |  FROM cand LEFT JOIN (SELECT k AS tk FROM keys) t ON cand.k = t.tk)
        |SELECT (SELECT count(*) FROM probe) AS n_probe,
        |  n_candidates, n_true, n_false_pos,
        |  round(CAST(n_false_pos AS DOUBLE)
        |    / CAST((SELECT count(*) FROM probe) - n_true AS DOUBLE), 6)
        |    AS fp_rate
        |FROM f""".stripMargin,

    "join_fuzzy_match" ->
      """WITH p AS (
        |  SELECT p_partkey AS id, p_name AS nm,
        |    string_split(p_name, ' ')[1] AS blk
        |  FROM part WHERE p_partkey < 1000
        |)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS lev
        |FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.nm, b.nm) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    "join_salted" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 4) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "join_inner_equi" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "join_cross" ->
      """SELECT n_name, r_name, n_regionkey = r_regionkey AS is_home
        |FROM nation CROSS JOIN region
        |ORDER BY n_name, r_name""".stripMargin,

    "join_broadcast" ->
      """SELECT c_custkey, n_name, r_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,

    "join_left_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin,

    "join_full_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin,

    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "join_multiway" ->
      """SELECT r_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 4) AS DOUBLE) AS revenue,
        |  count(*) AS cnt
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "join_theta_range" ->
      """SELECT s1.s_suppkey AS a_key, s2.s_suppkey AS b_key,
        |  round(s2.s_acctbal - s1.s_acctbal, 4) AS bal_gap
        |FROM supplier s1 JOIN supplier s2
        |  ON s1.s_acctbal < s2.s_acctbal AND s2.s_acctbal < s1.s_acctbal + 500
        |ORDER BY a_key, b_key""".stripMargin,

    "join_asof_nearest" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pt
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS vt
        |  FROM events WHERE event_type = 'view'),
        |cand AS (
        |  SELECT p.user_id, p.purchase_id, v.view_id, abs(v.vt - p.pt) AS adt
        |  FROM p JOIN v ON p.user_id = v.user_id
        |  WHERE abs(v.vt - p.pt) <= 1800000000)
        |SELECT user_id, purchase_id, view_id, round(adt / 1e6, 4) AS abs_dt_s
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY purchase_id
        |    ORDER BY adt, view_id) AS rn
        |  FROM cand)
        |WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    "join_asof" ->
      """SELECT event_id, o_orderkey AS last_order_key,
        |  strftime(o_orderdate, '%Y-%m-%d') AS last_order_date
        |FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "join_asof_bounded" ->
      """SELECT purchase_id,
        |  CASE WHEN gap_us <= 7200000000 THEN view_id END AS view_id,
        |  CASE WHEN gap_us <= 7200000000 THEN gap_us END AS gap_us
        |FROM (
        |  SELECT p.event_id AS purchase_id, v.event_id AS view_id,
        |    epoch_us(p.ts) - epoch_us(v.ts) AS gap_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY epoch_us(v.ts) DESC, v.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |    ON v.user_id = p.user_id AND epoch_us(v.ts) <= epoch_us(p.ts)
        |) WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    "join_interval_bucketed" ->
      """SELECT e.event_id AS err_id, epoch_us(e.ts) AS e_us,
        |  count(*) AS n_nearby_clicks,
        |  min(epoch_us(c.ts) - epoch_us(e.ts)) AS min_delta_us
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON abs(epoch_us(c.ts) - epoch_us(e.ts)) <= 900000000
        |GROUP BY err_id, e_us
        |ORDER BY err_id""".stripMargin,
  )
}
