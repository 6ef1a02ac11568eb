package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Incremental-load surface: MERGE-style upsert of a delta slice into
  * a base table, and an SCD2 (slowly-changing-dimension, type 2)
  * effective-date merge — the staple "apply the day's changes" family
  * of any ETL engine.
  *
  * Both are expressed as ONE full-outer join between base and delta
  * keyed on the business key (the relational core of MERGE INTO;
  * a transactional table format would add atomicity on top, not
  * different dataflow). The SCD2 variant emits its 1–2 output versions
  * per key from an in-row array-explode rather than re-joining base
  * once per action branch, so base is scanned once.
  *
  * Scale notes: the join shuffles both sides on the business key —
  * exactly the partitioning a bucketed base table would co-locate, and
  * the delta side is typically small enough to broadcast (at 100 TB
  * base with a daily delta, broadcast turns the merge into a map-only
  * scan of base). AQE handles a skewed business key. No window, no
  * collect, output is |base ∪ delta| (+1 row per changed SCD2 key).
  *
  * Shared kernels: the two upsert queries read one simulated batch
  * (`upsertSlices`); the shard census of etl_compaction_plan is
  * [[Events.typeDays]].
  */
object EtlMerge extends OpModule {

  /** SCD2 effective date of the simulated delta batch. */
  private val ScdDate = "1997-06-01"

  /** The simulated upsert batch over customer, shared by
    * etl_merge_upsert and etl_merge_idempotent: base = every key but
    * each 3rd, so the delta has true inserts (c_custkey, c_name,
    * c_acctbal); delta = every 2nd key with an updated name and
    * balance (c_custkey, d_name, d_acctbal). */
  private def upsertSlices(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cust = Tables.customer(s, d)
    (cust.filter(col("c_custkey") % 3 =!= 0)
      .select("c_custkey", "c_name", "c_acctbal"),
     cust.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"),
        concat(col("c_name"), lit("#u")).as("d_name"),
        (col("c_acctbal") + 100).as("d_acctbal")))
  }

  val queries: Map[String, Q] = Map(
    "etl_value_drift" -> ((s, d) => {
      // Distribution-drift monitor between two load slices: per
      // (column, value) share in the old vs new slice and the absolute
      // share delta — the "did the upstream silently change its enum
      // mix" check every scheduled load should run. Long form via
      // stack() so the profile is ONE pass per slice regardless of
      // column count; per-value counts partial-aggregate map-side and
      // only |columns|·|values| rows (tiny) reach the full-outer
      // compare, so the monitor's cost is two scans at any data size.
      val o = Tables.orders(s, d)
      val cut = lit("1996-01-01").cast("timestamp")
      def prof(df: DataFrame, side: String) =
        df.select(expr("stack(2, 'o_orderstatus', o_orderstatus," +
            " 'o_orderpriority', o_orderpriority) AS (col_name, val)"))
          .groupBy("col_name", "val").agg(count(lit(1)).as(s"n_$side"))
      val old = o.filter(col("o_orderdate") < cut)
      val nw = o.filter(col("o_orderdate") >= cut)
      val tot = old.agg(count(lit(1)).as("t_old"))
        .crossJoin(nw.agg(count(lit(1)).as("t_new")))
      prof(old, "old").join(prof(nw, "new"), Seq("col_name", "val"), "full_outer")
        .crossJoin(broadcast(tot))
        .select(col("col_name"), col("val"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          round(coalesce(col("n_old"), lit(0L)).cast("double")
            / col("t_old").cast("double"), 4).as("share_old"),
          round(coalesce(col("n_new"), lit(0L)).cast("double")
            / col("t_new").cast("double"), 4).as("share_new"),
          round(abs(coalesce(col("n_new"), lit(0L)).cast("double")
              / col("t_new").cast("double")
            - coalesce(col("n_old"), lit(0L)).cast("double")
              / col("t_old").cast("double")), 4).as("drift"))
        .orderBy("col_name", "val")
    }),

    "etl_merge_upsert" -> ((s, d) => {
      val (base, delta) = upsertSlices(s, d)
      base.withColumn("in_base", lit(1))
        .join(delta.withColumn("in_delta", lit(1)), Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          coalesce(col("d_name"), col("c_name")).as("name"),
          coalesce(col("d_acctbal"), col("c_acctbal")).as("acctbal"),
          when(col("in_delta").isNotNull && col("in_base").isNotNull, "update")
            .when(col("in_delta").isNotNull, "insert")
            .otherwise("keep").as("action"))
        .orderBy("c_custkey")
    }),

    "etl_merge_idempotent" -> ((s, d) => {
      // MERGE idempotency proof (r7): apply the SAME upsert delta
      // twice and measure the row-level difference — the property
      // every exactly-once loader leans on when a retry replays a
      // batch (a non-idempotent merge silently double-applies
      // updates; this query is the audit that catches it, and its
      // n_row_diff = 0 is graded). Both applications are full-outer
      // key joins; the diff is a symmetric EXCEPT ALL, all
      // partial-agged to three broadcast scalars.
      val (base0, upd) = upsertSlices(s, d)
      val delta = upd.withColumnRenamed("c_custkey", "k")
      def applyMerge(base: DataFrame): DataFrame =
        base.join(delta, col("c_custkey") === col("k"), "full_outer")
          .select(coalesce(col("c_custkey"), col("k")).as("c_custkey"),
            coalesce(col("d_name"), col("name")).as("name"),
            coalesce(col("d_acctbal"), col("acctbal")).as("acctbal"))
      val m1 = applyMerge(base0.withColumnRenamed("c_name", "name")
        .withColumnRenamed("c_acctbal", "acctbal"))
      val m2 = applyMerge(m1)
      val c1 = m1.agg(count(lit(1)).as("n_after_once"))
      val c2 = m2.agg(count(lit(1)).as("n_after_twice"))
      val diff = m2.exceptAll(m1).union(m1.exceptAll(m2))
        .agg(count(lit(1)).as("n_row_diff"))
      c1.crossJoin(broadcast(c2)).crossJoin(broadcast(diff))
    }),

    "etl_incremental" -> ((s, d) => {
      // High-water-mark incremental extraction — the "rows since the
      // last load" step. The watermark is the loaded slice's max
      // event-time (a one-row broadcast scalar, compared in µs so both
      // engines truncate ns identically); the delta summarizes per
      // day. At scale the watermark comes from load metadata instead
      // of a scan, but the delta-side plan is the same pushed filter.
      val e = Tables.events(s, d)
      val hwm = e.filter(col("ts") < lit("2024-01-15").cast("timestamp"))
        .agg(max(unix_micros(col("ts"))).as("hwm"))
      e.crossJoin(broadcast(hwm))
        .filter(unix_micros(col("ts")) > col("hwm"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
        .orderBy("day")
    }),

    "etl_dq_profile" -> ((s, d) => {
      // Per-column data-quality profile of orders — the "know your
      // load before you trust it" step. ONE aggregation pass computes
      // every column's null count, exact distinct count, and min/max
      // (multi-distinct becomes a single Expand+agg plan — same order
      // of cost as one scan, vs one scan PER column for the naive
      // loop). The single stats row is then unpivoted in-row via an
      // array-of-structs explode; numeric and string min/max ride in
      // separate typed columns so the long format stays schema-clean.
      val o = Tables.orders(s, d)
      val nullD = lit(null).cast("double")
      val nullS = lit(null).cast("string")
      val stats = o.agg(
        count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("nn_ck"),
        countDistinct(col("o_custkey")).as("nd_ck"),
        min(col("o_custkey")).as("mn_ck"), max(col("o_custkey")).as("mx_ck"),
        count(col("o_totalprice")).as("nn_tp"),
        countDistinct(col("o_totalprice")).as("nd_tp"),
        min(col("o_totalprice")).as("mn_tp"), max(col("o_totalprice")).as("mx_tp"),
        count(col("o_orderstatus")).as("nn_os"),
        countDistinct(col("o_orderstatus")).as("nd_os"),
        min(col("o_orderstatus")).as("mn_os"), max(col("o_orderstatus")).as("mx_os"),
        count(col("o_orderpriority")).as("nn_op"),
        countDistinct(col("o_orderpriority")).as("nd_op"),
        min(col("o_orderpriority")).as("mn_op"), max(col("o_orderpriority")).as("mx_op"))
      val rows = array(
        struct(lit("o_custkey").as("col_name"),
          (col("n_rows") - col("nn_ck")).as("n_nulls"), col("nd_ck").as("n_distinct"),
          col("mn_ck").cast("double").as("min_num"), col("mx_ck").cast("double").as("max_num"),
          nullS.as("min_str"), nullS.as("max_str")),
        struct(lit("o_totalprice").as("col_name"),
          (col("n_rows") - col("nn_tp")).as("n_nulls"), col("nd_tp").as("n_distinct"),
          col("mn_tp").as("min_num"), col("mx_tp").as("max_num"),
          nullS.as("min_str"), nullS.as("max_str")),
        struct(lit("o_orderstatus").as("col_name"),
          (col("n_rows") - col("nn_os")).as("n_nulls"), col("nd_os").as("n_distinct"),
          nullD.as("min_num"), nullD.as("max_num"),
          col("mn_os").as("min_str"), col("mx_os").as("max_str")),
        struct(lit("o_orderpriority").as("col_name"),
          (col("n_rows") - col("nn_op")).as("n_nulls"), col("nd_op").as("n_distinct"),
          nullD.as("min_num"), nullD.as("max_num"),
          col("mn_op").as("min_str"), col("mx_op").as("max_str")))
      stats.select(explode(rows).as("p"))
        .select(col("p.col_name").as("col_name"), col("p.n_nulls").as("n_nulls"),
          col("p.n_distinct").as("n_distinct"), col("p.min_num").as("min_num"),
          col("p.max_num").as("max_num"), col("p.min_str").as("min_str"),
          col("p.max_str").as("max_str"))
        .orderBy("col_name")
    }),

    "etl_fk_orphans" -> ((s, d) => {
      // Referential-integrity audit: orphaned foreign keys per edge,
      // against parents with simulated partial loads (every 7th
      // customer / 5th order missing) plus one clean edge as the
      // control. Each edge is ONE left join on the (unique) parent key
      // + conditional count — no second scan for the total, no anti
      // join pass. At 100 TB the parent key projections are
      // broadcast-sized for dims; fact-fact edges shuffle on the key
      // exactly like the merge above.
      def edge(name: String, child: DataFrame, childKey: String,
               parent: DataFrame, parentKey: String): DataFrame =
        child.select(col(childKey).as("k"))
          .join(parent.select(col(parentKey).as("k"), lit(1).as("hit")),
            Seq("k"), "left")
          .agg(count(lit(1)).as("n_child"),
            (count(lit(1)) - count(col("hit"))).as("n_orphans"))
          .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))
      val c7 = Tables.customer(s, d).filter(col("c_custkey") % 7 =!= 0)
      val o5 = Tables.orders(s, d).filter(col("o_orderkey") % 5 =!= 0)
      edge("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey")
        .union(edge("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
          o5, "o_orderkey"))
        .union(edge("orders->customer", Tables.orders(s, d), "o_custkey",
          c7, "c_custkey"))
        .orderBy("edge")
    }),

    "etl_cdc_compact" -> ((s, d) => {
      // CDC compaction: latest record per key — the "collapse the
      // change stream to current state" step. ONE partial-agg pass via
      // lexicographic struct max on (event-time µs, event_id): no
      // per-key sort, no window shuffle+sort, map-side combined. The
      // (us, event_id) prefix is unique, so the riding payload columns
      // are deterministic. The oracle states the same semantics as the
      // conventional row_number()-DESC window.
      val e = Tables.events(s, d)
      e.groupBy("user_id")
        .agg(count(lit(1)).as("n_versions"),
          max(struct(unix_micros(col("ts")).as("us"),
            col("event_id").as("eid"), col("event_type").as("et"),
            col("value").as("v"))).as("last"))
        .select(col("user_id"), col("last.eid").as("last_event_id"),
          col("last.et").as("last_type"), col("last.v").as("last_value"),
          col("last.us").as("last_us"), col("n_versions"))
        .orderBy("user_id")
    }),

    "etl_scd2_asof" -> ((s, d) =>
      // Point-in-time dimension read on the SCD2 output: the version
      // valid at the as-of date under half-open [valid_from, valid_to)
      // semantics — how every downstream join consumes a versioned
      // dimension. ISO date strings compare lexicographically, so the
      // filter is a plain string range; one filter over the merge
      // output, no extra join.
      queries("etl_scd2_merge")(s, d)
        .filter(col("valid_from") <= "1997-06-15"
          && (col("valid_to").isNull || col("valid_to") > "1997-06-15"))
        .select("c_custkey", "segment", "valid_from")
        .orderBy("c_custkey")),

    "etl_late_dim" -> ((s, d) => {
      // Late-arriving dimension handling: facts joined to a dimension
      // snapshot that is missing keys (every 4th nation simulates the
      // not-yet-loaded rows) KEEP their row under an UNKNOWN
      // placeholder instead of silently dropping — the report stays
      // complete while late dim rows catch up, and the UNKNOWN bucket
      // sizes the backlog. Broadcast left join + one agg.
      val dim = Tables.nation(s, d).filter(col("n_nationkey") % 4 =!= 0)
      Tables.customer(s, d)
        .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy(coalesce(col("n_name"), lit("UNKNOWN")).as("nation"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(Dec2(col("c_acctbal"))), 4).cast("double").as("balance"))
        .orderBy("nation")
    }),

    "etl_row_hash_diff" -> ((s, d) => {
      // Load reconciliation by ROW HASH: yesterday's slice vs today's,
      // classified added / removed / changed / same. Each side reduces
      // its payload to one sha-256 digest, so the full-outer compare
      // moves (key, 32-byte hash) — never the wide payload — exactly
      // how a 100 TB table diff stays shuffle-light. The simulated
      // slices drop every 13th (today) / 11th (yesterday) key and
      // perturb every 7th status so all four actions appear. Each
      // payload column goes through coalesce(col, sentinel) BEFORE the
      // concat: concat_ws silently skips NULLs while SQL '||'
      // propagates them, so without the sentinel a NULL payload would
      // hash on Spark but NULL-out on an ANSI engine — the sentinel
      // makes NULL an explicit, hashable value on both.
      def nn(c: org.apache.spark.sql.Column) = coalesce(c, lit("~NULL~"))
      val o = Tables.orders(s, d)
      val cur = o.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey").as("k"),
          sha2(concat_ws("|", nn(col("o_orderstatus")),
            nn(col("o_orderpriority"))), 256)
            .as("cur_h"))
      val prev = o.filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey").as("k"),
          sha2(concat_ws("|",
            nn(when(col("o_orderkey") % 7 === 0, lit("X"))
              .otherwise(col("o_orderstatus"))),
            nn(col("o_orderpriority"))), 256).as("prev_h"))
      cur.join(prev, Seq("k"), "full_outer")
        .select(when(col("prev_h").isNull, "added")
          .when(col("cur_h").isNull, "removed")
          .when(col("cur_h") =!= col("prev_h"), "changed")
          .otherwise("same").as("action"))
        .groupBy("action").agg(count(lit(1)).as("n_rows"))
        .orderBy("action")
    }),

    "etl_missing_days" -> ((s, d) => {
      // Partition-completeness audit: which expected daily partitions
      // are missing from the loaded slice. The expected spine is
      // generated from the corpus bounds (one aggregate row exploded —
      // broadcastable at any scale); the "loaded" side simulates a
      // 3-day load gap and collapses to distinct days via partial agg
      // before the anti join, so the join sees |days| rows, not
      // |events|.
      val e = Tables.events(s, d)
      val loaded = e
        .filter(!to_date(col("ts")).between(lit("2024-01-10"), lit("2024-01-12")))
        .select(to_date(col("ts")).as("day")).distinct()
      val bounds = e.agg(min(to_date(col("ts"))).as("lo"),
        max(to_date(col("ts"))).as("hi"))
      bounds
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
        .join(loaded, Seq("day"), "left_anti")
        .orderBy("day")
    }),

    "etl_bucket_advisor" -> ((s, d) => {
      // Bucketed-layout advisor (r8) — the operator form of this
      // round's measured lesson (BASELINE.md r8 bucketed-delta row):
      // for each candidate (table, bucket key), one partial-agged scan
      // yields the inputs a layout decision needs — row count, key
      // cardinality, hot-key skew ratio — and the size-derived bucket
      // count Tables.materializeBucketed's auto mode would pick —
      // INCLUDING its orders/lineitem pairing rule (the pair shares
      // the larger table's count so their orderkey SMJ stays
      // exchange-free), applied here as a max over the pair group so
      // the advisory equals the actual layout pick (r8 advice).
      // (~25k rows/bucket clamped [4,256]; at 100 TB the same rule
      // with a ~512 MB constant). skewed=true routes the key to
      // salting (etl_skew_audit's contract) BEFORE a layout bakes the
      // hot key into one bucket forever. Integer arithmetic
      // throughout; ratio is an exact scaled integer.
      val legs = Seq(
        ("orders", "o_orderkey", Tables.orders(s, d)),
        ("lineitem", "l_orderkey", Tables.lineitem(s, d)),
        ("customer", "c_custkey", Tables.customer(s, d)),
        ("events", "user_id", Tables.events(s, d)))
      legs.map { case (t, k, df) =>
        df.groupBy(col(k).as("kk")).agg(count(lit(1)).as("n"))
          .agg(sum("n").as("n_rows"), count(lit(1)).as("n_keys"),
            max("n").as("max_key_rows"))
          .select(lit(t).as("table_name"), lit(k).as("bucket_key"),
            col("n_rows"), col("n_keys"), col("max_key_rows"),
            expr("greatest(CAST(4 AS BIGINT), least(CAST(256 AS BIGINT), " +
              "(n_rows + 24999) div 25000))").as("own_buckets"),
            expr("max_key_rows * n_keys * 10000 div n_rows")
              .as("skew_ratio_e4"),
            (expr("max_key_rows * n_keys * 10000 div n_rows") > 100000L)
              .as("skewed"))
      }.reduce(_ unionAll _)
        // orders/lineitem share one count (the larger table's): a
        // 4-row window, free at any scale.
        .withColumn("planned_buckets",
          max("own_buckets").over(Window.partitionBy(
            when(col("table_name").isin("orders", "lineitem"), "o-l pair")
              .otherwise(col("table_name")))))
        .select("table_name", "bucket_key", "n_rows", "n_keys",
          "max_key_rows", "planned_buckets", "skew_ratio_e4", "skewed")
        .orderBy("table_name")
    }),

    "etl_zorder_layout" -> ((s, d) => {
      // Z-order layout audit (r8) — the OPTIMIZE ZORDER decision
      // input: interleave 10 bits each of (custkey, order-day) into a
      // 20-bit Morton code, carve the value space into blocks
      // (z >> 12 → ≤256 blocks; value-range blocks, deliberately NOT
      // an ntile global sort — no unpartitioned window anywhere), and
      // measure per-block locality against the two single-column
      // layouts. The audit row a lakehouse reads: Z-blocks bound BOTH
      // dimensions' spans simultaneously (multi-predicate scans prune
      // on either column), while by-day blocks leave the custkey span
      // near-full and vice versa. One map-side code computation +
      // three small rollups; all averages are one double division
      // from exact integer sums. Scale: |orders| map + |blocks|-sized
      // aggregation at any table size.
      // o_orderdate loads as TIMESTAMP_NTZ; cast under the pinned UTC
      // session is a value identity and matches DuckDB's epoch_us.
      // Both dimensions normalize to an exact-integer 10-bit grid
      // anchored to the table's own min/max (broadcast bounds — the
      // etl_ttl_purge_plan anchoring discipline), so every layout
      // carves the SAME 1024×1024 space into 256 equal-rank blocks
      // and the span columns are directly comparable grid units.
      val dayNum = expr(
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
      val bounds = Tables.orders(s, d).agg(
        min(col("o_custkey")).as("ck_lo"), max(col("o_custkey")).as("ck_hi"),
        min(dayNum).as("dn_lo"), max(dayNum).as("dn_hi"))
      def interleave(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        (0 until 10).map { i =>
          shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
            .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
        }.reduce(_ bitwiseOR _)
      val base = Tables.orders(s, d)
        .select(col("o_custkey"), dayNum.as("day_num"))
        .crossJoin(broadcast(bounds))
        .withColumn("ck10",
          expr("(o_custkey - ck_lo) * 1024 div (ck_hi - ck_lo + 1)"))
        .withColumn("dn10",
          expr("(day_num - dn_lo) * 1024 div (dn_hi - dn_lo + 1)"))
        .withColumn("z", interleave(col("ck10"), col("dn10")))
      def audit(layout: String, block: org.apache.spark.sql.Column) =
        base.groupBy(block.as("block"))
          .agg(count(lit(1)).as("n"),
            (max("ck10") - min("ck10")).as("ck_span"),
            (max("dn10") - min("dn10")).as("day_span"))
          .agg(lit(layout).as("layout"),
            count(lit(1)).as("n_blocks"),
            round(sum("n").cast("double") / count(lit(1)), 4).as("avg_rows"),
            round(sum("ck_span").cast("double") / count(lit(1)), 4).as("avg_ck_span"),
            round(sum("day_span").cast("double") / count(lit(1)), 4).as("avg_day_span"))
      audit("by_custkey", expr("ck10 div 4"))
        .unionAll(audit("by_day", expr("dn10 div 4")))
        .unionAll(audit("zorder", expr("z div 4096")))
        .orderBy("layout")
    }),

    "etl_compaction_plan" -> ((s, d) => {
      // Small-file compaction planning (r8) — the OPTIMIZE/bin-pack
      // pass every long-lived lakehouse table needs: treat each
      // (event_type, day) shard as one "file" with its row count,
      // then greedily pack consecutive shards (day order, within
      // type) into bins of ≥ TARGET rows via cum-before div TARGET —
      // the rewrite plan a compactor executes. Everything after the
      // one partial-agged shard rollup is dimension-sized
      // (|types|·|days| rows), so the planner costs one scan at any
      // table size; the window is per-type over that tiny frame. All
      // integer arithmetic. TARGET=2000 is the test-scale stand-in
      // for a ~128 MB real target; the packing math is scale-free.
      val T = 2000L
      val shards = Events.typeDays(s, d, count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      shards
        .withColumn("cum_before", sum("n").over(w) - col("n"))
        .withColumn("bin", expr(s"cum_before div $T"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n_shards"), sum("n").as("n_rows"),
          date_format(min("day"), "yyyy-MM-dd").as("first_day"),
          date_format(max("day"), "yyyy-MM-dd").as("last_day"))
        .orderBy("event_type", "bin")
    }),

    "etl_backfill_plan" -> ((s, d) => {
      // Backfill planning on top of the completeness audit: collapse
      // the missing days into CONTIGUOUS ranges (one backfill job per
      // range, not one per day) via the gaps-and-islands anchor
      // (day − row_number is constant within a run). The global-order
      // window runs on the |missing days| audit output — already
      // dimension-sized at any corpus scale — never on events.
      val missing = queries("etl_missing_days")(s, d)
      val w = Window.orderBy("day")
      missing
        .withColumn("rn", row_number().over(w))
        .withColumn("anchor", date_sub(col("day"), col("rn")))
        .groupBy("anchor")
        .agg(date_format(min("day"), "yyyy-MM-dd").as("from_day"),
          date_format(max("day"), "yyyy-MM-dd").as("to_day"),
          count(lit(1)).as("n_days"))
        .select("from_day", "to_day", "n_days")
        .orderBy("from_day")
    }),

    "etl_ttl_purge_plan" -> ((s, d) => {
      // Retention-policy purge plan (r7): which day-partitions a
      // TTL=14d policy deletes, with row/user mass and the cumulative
      // reclaim — the dry-run every GDPR/retention job ships before
      // it drops data (partition-level deletes are cheap; the plan is
      // what gets reviewed). Day-grain rollup first (the only
      // data-sized pass), TTL cutoff anchored to the table's OWN max
      // day (self-describing — no wall clock, reproducible on any
      // snapshot), then a running window over the |expired days|
      // plan — dimension-sized at any event volume (the
      // etl_backfill_plan precedent for post-rollup global windows).
      val ev = Tables.events(s, d)
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_rows"), countDistinct("user_id").as("n_users"))
      val bounds = ev.agg(max(to_date(col("ts"))).as("mx"),
        count(lit(1)).as("total_rows"))
      val expired = daily.crossJoin(broadcast(bounds))
        .filter(col("day") < date_sub(col("mx"), 14))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      expired
        .withColumn("cum_rows", sum("n_rows").over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_rows"), col("n_users"), col("cum_rows"),
          round(col("cum_rows").cast("double")
            / col("total_rows").cast("double"), 4).as("cum_share"))
        .orderBy("day")
    }),

    "etl_scd2_merge" -> ((s, d) => {
      // base dimension: one open version per key (valid_from fixed,
      // valid_to null); delta: changed segment for every 5th key.
      // Changed keys close the old version at ScdDate and open a new
      // one; delta-only keys insert; untouched keys pass through —
      // all three actions from the single joined row via explode.
      val base = Tables.customer(s, d).filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          lit("1995-01-01").as("valid_from"))
      val delta = Tables.customer(s, d).filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"),
          concat(lit("NEW_"), col("c_mktsegment")).as("new_segment"))
      val nullStr = lit(null).cast("string")
      val versions =
        when(col("new_segment").isNotNull && col("segment").isNotNull, array(
          struct(col("segment").as("seg"), col("valid_from").as("vf"),
            lit(ScdDate).as("vt"), lit(false).as("cur")),
          struct(col("new_segment").as("seg"), lit(ScdDate).as("vf"),
            nullStr.as("vt"), lit(true).as("cur"))))
        .when(col("new_segment").isNotNull, array(
          struct(col("new_segment").as("seg"), lit(ScdDate).as("vf"),
            nullStr.as("vt"), lit(true).as("cur"))))
        .otherwise(array(
          struct(col("segment").as("seg"), col("valid_from").as("vf"),
            nullStr.as("vt"), lit(true).as("cur"))))
      base.join(delta, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"), explode(versions).as("v"))
        .select(col("c_custkey"), col("v.seg").as("segment"),
          col("v.vf").as("valid_from"), col("v.vt").as("valid_to"),
          col("v.cur").as("is_current"))
        .orderBy("c_custkey", "valid_from", "segment")
    }),

    "etl_pk_violations" -> ((s, d) => {
      // Primary-key uniqueness audit — the first DQ gate of any load:
      // per declared key, how many key values occur more than once and
      // how many excess rows they carry (0/0 is the contract; the
      // composite (l_orderkey, l_linenumber) is EXPECTED to violate in
      // this synthetic data and proves the audit detects, not assumes).
      // Each table collapses to per-key counts with one partial agg —
      // only |distinct keys| rows shuffle — and the per-table summary
      // rows union. All integer counts.
      def audit(df: DataFrame, table: String, keyCols: Seq[String]) =
        df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_keys"),
            sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).as("excess_rows"))
          .select(lit(table).as("table_key"), col("n_keys"), col("dup_keys"),
            col("excess_rows"))
      audit(Tables.orders(s, d), "orders.o_orderkey", Seq("o_orderkey"))
        .union(audit(Tables.customer(s, d), "customer.c_custkey", Seq("c_custkey")))
        .union(audit(Tables.part(s, d), "part.p_partkey", Seq("p_partkey")))
        .union(audit(Tables.lineitem(s, d), "lineitem.(l_orderkey,l_linenumber)",
          Seq("l_orderkey", "l_linenumber")))
        .orderBy("table_key")
    }),

    "etl_watermark_lag" -> ((s, d) => {
      // Freshness audit: per event stream, how far its newest record
      // lags the feed's global high-water mark — the alarm behind
      // "source X silently stopped delivering" (a per-source lag is
      // how an ingest SLA is actually monitored; wall-clock "now" is
      // nondeterministic, so the global HWM stands in as the as-of
      // point and keeps the audit replayable). One partial-agg scan
      // per grouping + a broadcast 1-row scalar; lag is exact integer
      // µs → whole seconds.
      val ev = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val hwm = ev.agg(max("us").as("hwm"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), max("us").as("mx"))
        .crossJoin(broadcast(hwm))
        .select(col("event_type"), col("n_events"),
          expr("(hwm - mx) div 1000000").as("lag_s"),
          date_format(timestamp_micros(col("mx")), "yyyy-MM-dd HH:mm:ss")
            .as("latest_ts"))
        .orderBy("event_type")
    }),

    "etl_partition_plan" -> ((s, d) => {
      // Output-writer planning: per write partition (lang), the file
      // count a size-targeted writer should produce — the number you
      // feed `repartition(n)` before `partitionBy(lang)` so no
      // partition writes one giant or a thousand tiny files. One
      // metadata-cheap agg per partition key; all sizing is exact
      // integer arithmetic (ceil via (b + T−1) div T). Target is 64 KB
      // here — a test-scale stand-in for the ~128 MB real-world
      // target; the arithmetic is scale-free. oversize_docs counts
      // blobs that alone exceed the target (they need a solo file or a
      // split, the same flag multimodal_batch_plan raises per batch).
      val T = 65536L
      Tables.documents(s, d)
        .select(col("lang"),
          octet_length(encode(col("text"), "utf-8")).cast("long").as("nb"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nb").as("total_bytes"),
          max("nb").as("max_doc_bytes"),
          sum(when(col("nb") > T, 1L).otherwise(0L)).as("oversize_docs"))
        .select(col("lang"), col("n_docs"), col("total_bytes"),
          col("max_doc_bytes"), col("oversize_docs"),
          expr(s"(total_bytes + ${T - 1}) div $T").as("planned_files"),
          expr(s"total_bytes div ((total_bytes + ${T - 1}) div $T)")
            .as("avg_file_bytes"))
        .orderBy("lang")
    }),

    "etl_skew_audit" -> ((s, d) => {
      // Partition-key skew audit — the pre-flight check before
      // choosing a shuffle/bucketing key at 100 TB. One partial agg
      // shrinks the fact table to a per-key count vector; the summary
      // row (count quantiles + max/avg skew ratio) is computed on that
      // tiny vector, so the audit costs one scan regardless of table
      // size. A skew_ratio near 1 clears the key for plain hash
      // partitioning; >> 1 routes the job to the salted-join path
      // (see Skew.saltedJoin / agg_salted_twophase).
      val k = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      k.agg(count(lit(1)).as("n_keys"),
          sum("n").as("n_rows"),
          max("n").as("max_rows"),
          round(avg("n"), 4).as("avg_rows"),
          round(expr("percentile(n, 0.5D)"), 4).as("p50"),
          round(expr("percentile(n, 0.9D)"), 4).as("p90"),
          round(expr("percentile(n, 0.99D)"), 4).as("p99"),
          round(max("n") / avg("n"), 4).as("skew_ratio"))
    }),

    "etl_kanon_audit" -> ((s, d) => {
      // k-anonymity audit over the quasi-identifier pair
      // (nation, market segment): for each candidate k, how many QI
      // groups fall below k members and how many rows sit in them —
      // the release-gate check before a training/analytics extract
      // ships. One partial agg collapses the table to |QI| rows; the
      // k sweep cross-joins a 4-row literal frame against that tiny
      // vector, so audit cost is one scan at any table size.
      import s.implicits._
      val g = Tables.customer(s, d)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
      val ks = Seq(2L, 5L, 10L, 20L).toDF("k")
      g.crossJoin(broadcast(ks))
        .groupBy("k")
        .agg(count(lit(1)).as("n_groups"),
          count(when(col("n") < col("k"), 1)).as("n_violating"),
          coalesce(sum(when(col("n") < col("k"), col("n"))), lit(0L))
            .as("n_rows_at_risk"))
        .orderBy("k")
    }),
  )

  val oracles: Map[String, String] = Map(
    "etl_pk_violations" -> {
      val one = (table: String, label: String, keys: String) =>
        s"""SELECT '$label' AS table_key,
           |  count(*) AS n_keys,
           |  CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS dup_keys,
           |  CAST(coalesce(sum(c - 1) FILTER (WHERE c > 1), 0) AS BIGINT)
           |    AS excess_rows
           |FROM (SELECT $keys, count(*) AS c FROM $table GROUP BY $keys)""".stripMargin
      s"""SELECT * FROM (
         |${one("orders", "orders.o_orderkey", "o_orderkey")}
         |UNION ALL
         |${one("customer", "customer.c_custkey", "c_custkey")}
         |UNION ALL
         |${one("part", "part.p_partkey", "p_partkey")}
         |UNION ALL
         |${one("lineitem", "lineitem.(l_orderkey,l_linenumber)",
        "l_orderkey, l_linenumber")}
         |) ORDER BY table_key""".stripMargin
    },

    "etl_watermark_lag" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |hwm AS (SELECT max(us) AS hwm FROM ev)
        |SELECT event_type, count(*) AS n_events,
        |  (hwm - max(us)) // 1000000 AS lag_s,
        |  strftime(make_timestamp(max(us)), '%Y-%m-%d %H:%M:%S') AS latest_ts
        |FROM ev CROSS JOIN hwm
        |GROUP BY event_type, hwm ORDER BY event_type""".stripMargin,

    "etl_partition_plan" ->
      """WITH b AS (
        |  SELECT lang, octet_length(encode(text)) AS nb FROM documents),
        |agg AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(nb) AS BIGINT) AS total_bytes,
        |    max(nb) AS max_doc_bytes,
        |    CAST(count(*) FILTER (WHERE nb > 65536) AS BIGINT) AS oversize_docs
        |  FROM b GROUP BY 1)
        |SELECT lang, n_docs, total_bytes, max_doc_bytes, oversize_docs,
        |  (total_bytes + 65535) // 65536 AS planned_files,
        |  total_bytes // ((total_bytes + 65535) // 65536) AS avg_file_bytes
        |FROM agg ORDER BY lang""".stripMargin,

    "etl_skew_audit" ->
      """WITH k AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
        |SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |  max(n) AS max_rows, round(avg(n), 4) AS avg_rows,
        |  round(quantile_cont(n, 0.5), 4) AS p50,
        |  round(quantile_cont(n, 0.9), 4) AS p90,
        |  round(quantile_cont(n, 0.99), 4) AS p99,
        |  round(max(n) / avg(n), 4) AS skew_ratio
        |FROM k""".stripMargin,

    "etl_kanon_audit" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |ks AS (SELECT unnest([2, 5, 10, 20]) AS k)
        |SELECT CAST(k AS BIGINT) AS k, count(*) AS n_groups,
        |  CAST(count(*) FILTER (WHERE n < k) AS BIGINT) AS n_violating,
        |  CAST(coalesce(sum(n) FILTER (WHERE n < k), 0) AS BIGINT)
        |    AS n_rows_at_risk
        |FROM g CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin,

    "etl_value_drift" ->
      """WITH old_s AS (
        |  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
        |), new_s AS (
        |  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |), po AS (
        |  SELECT col_name, val, count(*) AS n_old FROM (
        |    SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM old_s
        |    UNION ALL
        |    SELECT 'o_orderpriority', o_orderpriority FROM old_s
        |  ) GROUP BY col_name, val
        |), pn AS (
        |  SELECT col_name, val, count(*) AS n_new FROM (
        |    SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM new_s
        |    UNION ALL
        |    SELECT 'o_orderpriority', o_orderpriority FROM new_s
        |  ) GROUP BY col_name, val
        |), tot AS (
        |  SELECT (SELECT count(*) FROM old_s) AS t_old,
        |         (SELECT count(*) FROM new_s) AS t_new
        |)
        |SELECT coalesce(po.col_name, pn.col_name) AS col_name,
        |  coalesce(po.val, pn.val) AS val,
        |  CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
        |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |  round(CAST(coalesce(n_old, 0) AS DOUBLE) / t_old, 4) AS share_old,
        |  round(CAST(coalesce(n_new, 0) AS DOUBLE) / t_new, 4) AS share_new,
        |  round(abs(CAST(coalesce(n_new, 0) AS DOUBLE) / t_new
        |          - CAST(coalesce(n_old, 0) AS DOUBLE) / t_old), 4) AS drift
        |FROM po FULL OUTER JOIN pn
        |  ON po.col_name = pn.col_name AND po.val = pn.val
        |CROSS JOIN tot
        |ORDER BY col_name, val""".stripMargin,

    "etl_merge_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_acctbal, 1 AS in_base
        |  FROM customer WHERE c_custkey % 3 <> 0
        |), delta AS (
        |  SELECT c_custkey, c_name || '#u' AS d_name,
        |    c_acctbal + 100 AS d_acctbal, 1 AS in_delta
        |  FROM customer WHERE c_custkey % 2 = 0
        |)
        |SELECT c_custkey,
        |  coalesce(d_name, c_name) AS name,
        |  coalesce(d_acctbal, c_acctbal) AS acctbal,
        |  CASE WHEN in_delta IS NOT NULL AND in_base IS NOT NULL THEN 'update'
        |       WHEN in_delta IS NOT NULL THEN 'insert'
        |       ELSE 'keep' END AS action
        |FROM base FULL OUTER JOIN delta USING (c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "etl_merge_idempotent" ->
      """WITH delta AS (
        |  SELECT c_custkey AS k, c_name || '#u' AS d_name,
        |    c_acctbal + 100 AS d_acctbal
        |  FROM customer WHERE c_custkey % 2 = 0),
        |base0 AS (
        |  SELECT c_custkey, c_name AS name, c_acctbal AS acctbal
        |  FROM customer WHERE c_custkey % 3 <> 0),
        |m1 AS (
        |  SELECT coalesce(b.c_custkey, d.k) AS c_custkey,
        |    coalesce(d.d_name, b.name) AS name,
        |    coalesce(d.d_acctbal, b.acctbal) AS acctbal
        |  FROM base0 b FULL OUTER JOIN delta d ON b.c_custkey = d.k),
        |m2 AS (
        |  SELECT coalesce(b.c_custkey, d.k) AS c_custkey,
        |    coalesce(d.d_name, b.name) AS name,
        |    coalesce(d.d_acctbal, b.acctbal) AS acctbal
        |  FROM m1 b FULL OUTER JOIN delta d ON b.c_custkey = d.k)
        |SELECT (SELECT count(*) FROM m1) AS n_after_once,
        |  (SELECT count(*) FROM m2) AS n_after_twice,
        |  (SELECT count(*) FROM (SELECT * FROM m2 EXCEPT ALL SELECT * FROM m1))
        |    + (SELECT count(*) FROM (SELECT * FROM m1 EXCEPT ALL SELECT * FROM m2))
        |    AS n_row_diff""".stripMargin,

    "etl_incremental" ->
      """WITH hwm AS (
        |  SELECT max(epoch_us(ts)) AS hwm FROM events
        |  WHERE ts < TIMESTAMP '2024-01-15'
        |)
        |SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM events CROSS JOIN hwm
        |WHERE epoch_us(ts) > hwm
        |GROUP BY day ORDER BY day""".stripMargin,

    "etl_dq_profile" ->
      """WITH s AS (
        |  SELECT count(*) AS n_rows,
        |    count(o_custkey) AS nn_ck, count(DISTINCT o_custkey) AS nd_ck,
        |    min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
        |    count(o_totalprice) AS nn_tp, count(DISTINCT o_totalprice) AS nd_tp,
        |    min(o_totalprice) AS mn_tp, max(o_totalprice) AS mx_tp,
        |    count(o_orderstatus) AS nn_os, count(DISTINCT o_orderstatus) AS nd_os,
        |    min(o_orderstatus) AS mn_os, max(o_orderstatus) AS mx_os,
        |    count(o_orderpriority) AS nn_op, count(DISTINCT o_orderpriority) AS nd_op,
        |    min(o_orderpriority) AS mn_op, max(o_orderpriority) AS mx_op
        |  FROM orders
        |)
        |SELECT 'o_custkey' AS col_name, n_rows - nn_ck AS n_nulls,
        |  nd_ck AS n_distinct, CAST(mn_ck AS DOUBLE) AS min_num,
        |  CAST(mx_ck AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM s
        |UNION ALL
        |SELECT 'o_totalprice', n_rows - nn_tp, nd_tp, mn_tp, mx_tp,
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM s
        |UNION ALL
        |SELECT 'o_orderstatus', n_rows - nn_os, nd_os,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_os, mx_os FROM s
        |UNION ALL
        |SELECT 'o_orderpriority', n_rows - nn_op, nd_op,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_op, mx_op FROM s
        |ORDER BY col_name""".stripMargin,

    "etl_fk_orphans" ->
      """WITH e1 AS (
        |  SELECT count(*) AS n_child, count(*) - count(p.k) AS n_orphans
        |  FROM customer LEFT JOIN
        |    (SELECT n_nationkey AS k FROM nation) p ON c_nationkey = p.k
        |), e2 AS (
        |  SELECT count(*) AS n_child, count(*) - count(p.k) AS n_orphans
        |  FROM lineitem LEFT JOIN
        |    (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 5 <> 0) p
        |    ON l_orderkey = p.k
        |), e3 AS (
        |  SELECT count(*) AS n_child, count(*) - count(p.k) AS n_orphans
        |  FROM orders LEFT JOIN
        |    (SELECT c_custkey AS k FROM customer WHERE c_custkey % 7 <> 0) p
        |    ON o_custkey = p.k
        |)
        |SELECT 'customer->nation' AS edge, n_child, n_orphans FROM e1
        |UNION ALL
        |SELECT 'lineitem->orders', n_child, n_orphans FROM e2
        |UNION ALL
        |SELECT 'orders->customer', n_child, n_orphans FROM e3
        |ORDER BY edge""".stripMargin,

    "etl_cdc_compact" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events
        |)
        |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |  value AS last_value, us AS last_us, n_versions
        |FROM ranked WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "etl_late_dim" ->
      """SELECT coalesce(n_name, 'UNKNOWN') AS nation,
        |  count(*) AS n_customers,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 4) AS DOUBLE)
        |    AS balance
        |FROM customer LEFT JOIN
        |  (SELECT * FROM nation WHERE n_nationkey % 4 <> 0) n
        |  ON c_nationkey = n.n_nationkey
        |GROUP BY nation ORDER BY nation""".stripMargin,

    "etl_row_hash_diff" ->
      """WITH cur AS (
        |  SELECT o_orderkey AS k,
        |    sha256(coalesce(o_orderstatus, '~NULL~') || '|'
        |      || coalesce(o_orderpriority, '~NULL~')) AS cur_h
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |), prev AS (
        |  SELECT o_orderkey AS k,
        |    sha256(coalesce(CASE WHEN o_orderkey % 7 = 0 THEN 'X'
        |                         ELSE o_orderstatus END, '~NULL~') || '|'
        |      || coalesce(o_orderpriority, '~NULL~')) AS prev_h
        |  FROM orders WHERE o_orderkey % 11 <> 0
        |)
        |SELECT CASE WHEN prev_h IS NULL THEN 'added'
        |            WHEN cur_h IS NULL THEN 'removed'
        |            WHEN cur_h <> prev_h THEN 'changed'
        |            ELSE 'same' END AS action,
        |  count(*) AS n_rows
        |FROM cur FULL OUTER JOIN prev USING (k)
        |GROUP BY action ORDER BY action""".stripMargin,

    "etl_missing_days" ->
      """WITH loaded AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        |  WHERE CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |), bounds AS (
        |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        |  FROM events
        |), spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds
        |)
        |SELECT day FROM spine
        |WHERE day NOT IN (SELECT day FROM loaded)
        |ORDER BY day""".stripMargin,

    "etl_ttl_purge_plan" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
        |    count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1),
        |bounds AS (SELECT max(CAST(ts AS DATE)) AS mx, count(*) AS total_rows
        |           FROM events),
        |expired AS (
        |  SELECT day, n_rows, n_users, total_rows FROM daily CROSS JOIN bounds
        |  WHERE day < mx - 14),
        |run AS (
        |  SELECT day, n_rows, n_users, total_rows,
        |    sum(n_rows) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rows
        |  FROM expired)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_rows, n_users,
        |  CAST(cum_rows AS BIGINT) AS cum_rows,
        |  round(CAST(cum_rows AS DOUBLE) / CAST(total_rows AS DOUBLE), 4)
        |    AS cum_share
        |FROM run ORDER BY day""".stripMargin,

    // One per-table rollup leg each; derived columns are the same
    // integer arithmetic.
    "etl_bucket_advisor" -> {
      def leg(t: String, k: String) =
        s"""SELECT '$t' AS table_name, '$k' AS bucket_key,
           |  CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys,
           |  CAST(max(n) AS BIGINT) AS max_key_rows
           |FROM (SELECT $k AS kk, count(*) AS n FROM $t GROUP BY 1)""".stripMargin
      s"""WITH legs AS (
         |${leg("orders", "o_orderkey")}
         |UNION ALL
         |${leg("lineitem", "l_orderkey")}
         |UNION ALL
         |${leg("customer", "c_custkey")}
         |UNION ALL
         |${leg("events", "user_id")}
         |)
         |SELECT table_name, bucket_key, n_rows, n_keys, max_key_rows,
         |  max(greatest(CAST(4 AS BIGINT), least(CAST(256 AS BIGINT),
         |    (n_rows + 24999) // 25000))) OVER (PARTITION BY
         |      CASE WHEN table_name IN ('orders', 'lineitem')
         |           THEN 'o-l pair' ELSE table_name END)
         |    AS planned_buckets,
         |  max_key_rows * n_keys * 10000 // n_rows AS skew_ratio_e4,
         |  max_key_rows * n_keys * 10000 // n_rows > 100000 AS skewed
         |FROM legs ORDER BY table_name""".stripMargin
    },

    // Same 10+10-bit Morton interleave, generated from one Scala
    // template so the bit arithmetic cannot drift between engines.
    "etl_zorder_layout" -> {
      val zbits = (0 until 10).map(i =>
        s"(((ck10 >> $i) & 1) << ${2 * i}) | " +
          s"(((dn10 >> $i) & 1) << ${2 * i + 1})").mkString(" | ")
      s"""WITH base AS (
         |  SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS day_num
         |  FROM orders),
         |bounds AS (
         |  SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
         |    min(day_num) AS dn_lo, max(day_num) AS dn_hi FROM base),
         |grid AS (
         |  SELECT (o_custkey - ck_lo) * 1024 // (ck_hi - ck_lo + 1) AS ck10,
         |    (day_num - dn_lo) * 1024 // (dn_hi - dn_lo + 1) AS dn10
         |  FROM base, bounds),
         |coded AS (SELECT ck10, dn10, ($zbits) AS z FROM grid),
         |blk AS (
         |  SELECT 'by_custkey' AS layout, ck10 // 4 AS block, ck10, dn10 FROM coded
         |  UNION ALL
         |  SELECT 'by_day', dn10 // 4, ck10, dn10 FROM coded
         |  UNION ALL
         |  SELECT 'zorder', z // 4096, ck10, dn10 FROM coded),
         |per AS (
         |  SELECT layout, block, count(*) AS n,
         |    max(ck10) - min(ck10) AS ck_span,
         |    max(dn10) - min(dn10) AS day_span
         |  FROM blk GROUP BY layout, block)
         |SELECT layout, count(*) AS n_blocks,
         |  round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS avg_rows,
         |  round(CAST(sum(ck_span) AS DOUBLE) / count(*), 4) AS avg_ck_span,
         |  round(CAST(sum(day_span) AS DOUBLE) / count(*), 4) AS avg_day_span
         |FROM per GROUP BY layout ORDER BY layout""".stripMargin
    },

    "etl_compaction_plan" ->
      """WITH shards AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), binned AS (
        |  SELECT event_type, day, n,
        |    (sum(n) OVER (PARTITION BY event_type ORDER BY day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)
        |      // 2000 AS bin
        |  FROM shards
        |)
        |SELECT event_type, CAST(bin AS BIGINT) AS bin,
        |  count(*) AS n_shards, CAST(sum(n) AS BIGINT) AS n_rows,
        |  strftime(min(day), '%Y-%m-%d') AS first_day,
        |  strftime(max(day), '%Y-%m-%d') AS last_day
        |FROM binned GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin,

    "etl_backfill_plan" ->
      """WITH loaded AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        |  WHERE CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |), bounds AS (
        |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        |  FROM events
        |), spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds
        |), missing AS (
        |  SELECT day FROM spine
        |  WHERE day NOT IN (SELECT day FROM loaded)
        |), anch AS (
        |  SELECT day,
        |    day - CAST(row_number() OVER (ORDER BY day) AS INTEGER) AS anchor
        |  FROM missing
        |)
        |SELECT strftime(min(day), '%Y-%m-%d') AS from_day,
        |  strftime(max(day), '%Y-%m-%d') AS to_day,
        |  count(*) AS n_days
        |FROM anch GROUP BY anchor ORDER BY from_day""".stripMargin,

    "etl_scd2_merge" ->
      s"""$Scd2Sql
         |ORDER BY c_custkey, valid_from, segment""".stripMargin,

    "etl_scd2_asof" ->
      s"""WITH scd2 AS (
         |$Scd2Sql
         |)
         |SELECT c_custkey, segment, valid_from FROM scd2
         |WHERE valid_from <= '1997-06-15'
         |  AND (valid_to IS NULL OR valid_to > '1997-06-15')
         |ORDER BY c_custkey""".stripMargin,
  )

  /** SCD2 merge result (unordered) — shared by the merge itself and
    * the point-in-time read. (lazy: referenced by the oracles map
    * above during object init.) */
  private lazy val Scd2Sql =
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment AS segment, '1995-01-01' AS valid_from
      |  FROM customer WHERE c_custkey % 3 <> 0
      |), delta AS (
      |  SELECT c_custkey, 'NEW_' || c_mktsegment AS new_segment
      |  FROM customer WHERE c_custkey % 5 = 0
      |), merged AS (
      |  SELECT b.c_custkey AS b_key, b.segment, b.valid_from,
      |         d.c_custkey AS d_key, d.new_segment
      |  FROM base b FULL OUTER JOIN delta d ON b.c_custkey = d.c_custkey
      |)
      |SELECT coalesce(b_key, d_key) AS c_custkey, segment, valid_from,
      |  '1997-06-01' AS valid_to, false AS is_current
      |FROM merged WHERE new_segment IS NOT NULL AND segment IS NOT NULL
      |UNION ALL
      |SELECT coalesce(b_key, d_key), new_segment, '1997-06-01',
      |  CAST(NULL AS VARCHAR), true
      |FROM merged WHERE new_segment IS NOT NULL
      |UNION ALL
      |SELECT coalesce(b_key, d_key), segment, valid_from,
      |  CAST(NULL AS VARCHAR), true
      |FROM merged WHERE new_segment IS NULL""".stripMargin
}
