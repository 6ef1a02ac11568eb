package graft

import org.apache.spark.sql.functions.col

/** The bucketed GRADED read path (r4/r5 advice stretch item): with
  * `spark.graft.bucketedLayout=true` and a materialized layout,
  * `Tables` resolves the big tables to hash-clustered catalog tables
  * and every `SparkEntry.queries` entry runs UNCHANGED over them.
  * Locks (a) result identity with the loose-parquet layout, (b) the
  * shuffle-free plan shape on the bucket key, (c) dir isolation — an
  * sf0.001 layout never answers another dir's read.
  */
class BucketedLayoutSpec extends SparkSpec {
  private val sf = Fixtures.testdata("0.001")

  private def withBucketed[A](f: => A): A = {
    spark.conf.set(Tables.BucketedConf, "true")
    try f finally spark.conf.set(Tables.BucketedConf, "false")
  }

  test("graded queries run unchanged and identically over the bucketed layout") {
    Tables.materializeBucketed(spark, sf, buckets = 4)
    try {
      // one query per family that exercises a bucketed table: the
      // orderkey equi-join, a lineitem rollup, the sessionizer's
      // per-user window over events, per-customer top-k, a documents
      // dedup, and an embeddings scan.
      val names = Seq("join_inner_equi", "agg_groupby", "evt_session",
        "win_topk_per_group", "dedup_exact", "embed_norms")
      val loose = names.map(n =>
        n -> SparkEntry.queries(n)(spark, sf).collect().toSeq).toMap
      withBucketed {
        names.foreach { n =>
          val b = SparkEntry.queries(n)(spark, sf).collect().toSeq
          assert(b === loose(n), s"$n diverges on the bucketed layout")
        }
        // bucket-key equi-join: SMJ with NO exchange on either side
        // (disable broadcast so the shuffle-ful plan is the alternative)
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val j = Tables.lineitem(spark, sf)
            .join(Tables.orders(spark, sf),
              col("l_orderkey") === col("o_orderkey"))
          j.count()
          val plan = j.queryExecution.executedPlan.toString
          assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
          assert(!plan.contains("Exchange"),
            s"bucketed graded read still shuffles the orderkey join:\n$plan")
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        // per-user window over bucketed events: no exchange before the
        // sort (the window clusters by the bucket key)
        val w = Tables.events(spark, sf)
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("user_id").orderBy("ts", "event_id")))
        w.count()
        val wplan = w.queryExecution.executedPlan.toString
        assert(!wplan.contains("Exchange"),
          s"per-user window over bucketed events still shuffles:\n$wplan")
      }
    } finally Tables.dropBucketed(spark, sf)
  }

  test("bucketed layout eliminates hash exchanges across the shuffle-heavy band") {
    // r7 advice #1, assertion leg: for graded queries whose hot
    // shuffle rides a bucket key (orderkey equi-joins, per-user
    // windows/aggs over events), the bucketed layout must plan
    // strictly FEWER hash exchanges than loose parquet — the
    // mechanism behind the bench delta recorded in BASELINE.md.
    // Terminal ORDER BY range exchanges stay in both layouts and are
    // not counted. Broadcast is disabled so the loose plan shows its
    // shuffle (at sf0.001 AQE would otherwise broadcast the small
    // side and hide it).
    Tables.materializeBucketed(spark, sf, buckets = 4)
    // r17 split: the per-user events band now rides the session-shared
    // user-clustered base (Events.evtByUser), which absorbs the
    // user_id exchange ONCE per session in BOTH layouts — so for those
    // queries the graded property is stronger: ZERO consumer-side hash
    // exchanges either way (the orderkey joins keep the strict
    // bucketed < loose contract).
    val joinBand = Seq("join_inner_equi", "join_multiway")
    val evtBand = Seq("evt_session", "evt_session_native", "evt_funnel",
      "win_lag_lead")
    def hashExchanges(n: String): Int = {
      val df = SparkEntry.queries(n)(spark, sf)
      df.count()
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    }
    try {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val band = joinBand ++ evtBand
        val loose = band.map(n => n -> hashExchanges(n)).toMap
        val bucketed = withBucketed { band.map(n => n -> hashExchanges(n)).toMap }
        joinBand.foreach { n =>
          assert(bucketed(n) < loose(n),
            s"$n: ${bucketed(n)} hash exchanges bucketed vs ${loose(n)} loose — " +
              "expected at least one eliminated")
        }
        evtBand.foreach { n =>
          assert(loose(n) == 0 && bucketed(n) == 0,
            s"$n: expected zero consumer-side hash exchanges over the " +
              s"shared user-clustered base (loose=${loose(n)}, " +
              s"bucketed=${bucketed(n)})")
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally Tables.dropBucketed(spark, sf)
  }

  test("bucketed events keep the normalized TimestampType ts") {
    Tables.materializeBucketed(spark, sf, buckets = 4)
    try withBucketed {
      val t = Tables.events(spark, sf).schema("ts").dataType
      assert(t == org.apache.spark.sql.types.TimestampType,
        s"bucketed events.ts must stay TIMESTAMP, got ${t.simpleString}")
    } finally Tables.dropBucketed(spark, sf)
  }

  test("a bucketed layout never answers a different dir's read") {
    Tables.materializeBucketed(spark, sf, buckets = 4)
    try withBucketed {
      // sf0.01 has no layout → loose path; row count proves which
      // files were read (6,000 vs 60,000 lineitem rows).
      assert(Tables.lineitem(spark, sf).count() === 6000L)
      assert(Tables.lineitem(spark, Fixtures.testdata("0.01")).count() === 60000L)
    } finally Tables.dropBucketed(spark, sf)
  }

  test("an in-place source regeneration invalidates the bucketed layout") {
    val d = Fixtures.tempDir()
    Fixtures.documents(spark, d, Seq("a b c"))
    val n1 = Tables.bucketedName(d, "documents")
    graft.sources.Sources.writeBucketed(Tables.documents(spark, d), n1, "doc_id", 2)
    spark.conf.set(Tables.BucketedConf, "true")
    try {
      assert(Tables.documents(spark, d).count() === 1L) // served bucketed
      // Regenerate the source IN PLACE with different content (and row
      // count, so a stale-layout read is unmistakable).
      Fixtures.documents(spark, d, Seq("x y z", "p q r"))
      assert(Tables.bucketedName(d, "documents") !== n1,
        "content fingerprint must change when the source files change")
      assert(Tables.documents(spark, d).count() === 2L,
        "a regenerated source dir must never be answered by the stale layout")
    } finally {
      spark.conf.set(Tables.BucketedConf, "false")
      Tables.dropBucketed(spark, d)
    }
  }

  test("the flag off means the catalog is never consulted") {
    // no layout materialized, flag off (default): plain file scan plan
    val plan = Tables.orders(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("FileScan") || plan.contains("Scan parquet"),
      s"loose path must stay a parquet file scan:\n$plan")
  }
}
