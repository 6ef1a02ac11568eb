package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Event, Streams}

/** Stream-batch parity on the GRADED surface: replay the real
  * sf0.001 events table through the Structured-Streaming twins and
  * assert the emitted tables equal the corresponding graded batch
  * queries' results. This is the strongest grading the streaming path
  * can get in this harness (the DuckDB oracle cannot execute streams,
  * but the batch queries it DOES grade are the ground truth here) —
  * the replay covers the full 1,000-event real distribution, not a
  * synthetic fixture.
  */
class StreamBatchParitySpec extends SparkSpec {
  private val sf = Fixtures.testdata("0.001")

  private def realEvents: Seq[Event] = {
    import spark.implicits._
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
  }

  private def runToTable(name: String, df: org.apache.spark.sql.DataFrame,
                         mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("streaming tumbling windows equal the graded evt_tumbling over real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    runToTable("par_tumbling", Streams.tumblingCounts(in.toDF()), "complete")
    val stream = spark.table("par_tumbling")
      .select(unix_timestamp(col("win_start")).as("win_start_s"),
        col("event_type"), col("cnt"), round(col("val_sum"), 4).as("val_sum"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = SparkEntry.queries("evt_tumbling")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(stream === batch,
      s"tumbling parity broke: stream-only=${stream -- batch}, batch-only=${batch -- stream}")
  }

  test("streaming session windows equal the graded evt_session over real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    runToTable("par_sessions", Streams.sessionAgg(in.toDF()), "complete")
    // Compare on the session IDENTITY the two formulations share:
    // (user, session start µs, event count, value sum). The batch
    // session_id ordinal is formulation-specific; the start timestamp
    // is not. (Boundary note, corrected r8: session_window MERGES an
    // exactly-gap-late event — SessionParitySpec's fixture pinned it
    // empirically — which is the same strict-> rule as the batch
    // lag formulation, so the two agree even at that boundary.)
    val stream = spark.table("par_sessions")
      .select(col("user_id"), unix_micros(col("sess_start")).as("start_us"),
        col("n_events"), round(col("val_sum"), 4).as("val_sum"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = SparkEntry.queries("evt_session")(spark, sf)
      .select(col("user_id"), col("sess_start_us"), col("n_events"), col("val_sum"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(stream === batch,
      s"session parity broke: stream-only=${stream -- batch}, batch-only=${batch -- stream}")
  }

  test("streaming sliding windows equal the graded evt_sliding over real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    runToTable("par_sliding", Streams.slidingCounts(in.toDF()), "complete")
    val stream = spark.table("par_sliding")
      .select(unix_timestamp(col("win_start")).as("win_start_s"),
        col("cnt"), round(col("val_sum"), 4).as("val_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = SparkEntry.queries("evt_sliding")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stream === batch,
      s"sliding parity broke: stream-only=${stream -- batch}, batch-only=${batch -- stream}")
  }

  test("streaming exact-distinct DAU equals the graded evt_active_users dau column") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    runToTable("par_dau", Streams.dauCounts(in.toDF()), "complete")
    // under the UTC session, the 1-day window start date IS to_date(ts)
    val stream = spark.table("par_dau")
      .select(date_format(col("day_start"), "yyyy-MM-dd").as("day"), col("dau"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = SparkEntry.queries("evt_active_users")(spark, sf)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dau"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stream === batch,
      s"DAU parity broke: stream-only=${stream -- batch}, batch-only=${batch -- stream}")
  }

  test("streaming funnel state machine agrees with graded evt_funnel on real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    runToTable("par_funnel", Streams.funnelHits(in.toDS()).toDF(), "append")
    val hits = spark.table("par_funnel").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // (a) The graded evt_funnel's done-users are a PROVABLE subset of
    // the stream hits with identical step timestamps: done means the
    // global first click already follows the global first view (and
    // purchase the click), which is exactly the path the state machine
    // walks.
    val done = SparkEntry.queries("evt_funnel")(spark, sf)
      .filter(col("funnel_done")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    done.foreach { case (u, t) =>
      assert(hits.get(u).contains(t), s"user $u: batch-done $t vs stream ${hits.get(u)}")
    }

    // (b) The full stream hit set equals the sequential event-time
    // truth (first view → first LATER click → first LATER purchase),
    // recomputed in batch over the same real events — the state
    // machine's exact semantics, which legitimately exceed evt_funnel's
    // global-minima rule when a click precedes the first view.
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("v_us"))
    val c = ev.filter(col("event_type") === "click")
      .withColumnRenamed("us", "cus").join(v, "user_id")
      .filter(col("cus") > col("v_us"))
      .groupBy("user_id", "v_us").agg(min("cus").as("c_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .withColumnRenamed("us", "pus").join(c, "user_id")
      .filter(col("pus") > col("c_us"))
      .groupBy("user_id", "v_us", "c_us").agg(min("pus").as("p_us"))
    val seqTruth = p.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(hits === seqTruth,
      s"funnel parity broke: stream-only=${hits.keySet -- seqTruth.keySet}, " +
        s"truth-only=${seqTruth.keySet -- hits.keySet}")
  }

  test("streaming SRM variant counts equal the graded evt_ab_srm audit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    runToTable("par_srm", Streams.srmCounts(in.toDF()), "complete")
    val m = spark.table("par_srm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = SparkEntry.queries("evt_ab_srm")(spark, sf).collect().head
    assert(m(0L) === b.getLong(0), "variant-0 audience must match")
    assert(m(1L) === b.getLong(1), "variant-1 audience must match")
    val (na, nb) = (m(0L).toDouble, m(1L).toDouble)
    val chi2 = (na - nb) * (na - nb) / (na + nb)
    assert(math.abs(chi2 - b.getDouble(2)) < 1e-3,
      "read-time chi-square must reproduce the graded statistic")
    assert(b.getBoolean(3) === (chi2 > 3.841458820694124))
  }

  test("streaming CDC compaction equals the graded etl_cdc_compact over real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    val q = Streams.latestState(in.toDS())
      .writeStream.format("memory").queryName("par_cdc")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // One addData → one micro-batch → exactly one emission per user.
    val stream = spark.table("par_cdc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toSet
    val batch = SparkEntry.queries("etl_cdc_compact")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toSet
    assert(stream === batch,
      s"CDC parity broke: stream-only=${stream -- batch}, batch-only=${batch -- stream}")
  }

  test("streaming behavior profiles reproduce the graded conformity histogram") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    val q = Streams.behaviorProfile(in.toDS())
      .writeStream.format("memory").queryName("par_profile")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // One addData → one emission per user holding its final count map.
    // Rebuild the conformity cosine exactly as the graded query does:
    // exact integer dot/norms vs the batch-side global type vector.
    val global = Tables.events(spark, sf)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n2g = global.values.map(g => g * g).sum
    val stream = spark.table("par_profile").as[graft.streaming.ProfileRow]
      .collect()
      .map { p =>
        val dp = p.counts.map { case (t, n) => n * global(t) }.sum
        val n2u = p.counts.values.map(n => n * n).sum
        val cos = dp.toDouble / (math.sqrt(n2u.toDouble) * math.sqrt(n2g.toDouble))
        math.floor(cos * 20).toLong
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val batch = SparkEntry.queries("evt_behavior_cos_hist")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stream === batch,
      s"profile parity broke: stream=$stream batch=$batch")
  }

  test("stream-static enrichment equals the batch broadcast join over real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    // Every sf0.001 user_id exists in customer; drop every 4th dim key
    // (the etl_late_dim pattern) so the left join exercises misses too.
    val dim = Tables.customer(spark, sf)
      .filter(col("c_custkey") % 4 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    runToTable("par_enrich",
      Streams.enrichWithStatic(in.toDF(), dim, "user_id", "c_custkey")
        .select(col("event_id"), col("c_mktsegment")), "append")
    val stream = spark.table("par_enrich").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val batch = Tables.events(spark, sf)
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(stream === batch)
    assert(stream.valuesIterator.exists(_.isDefined)
      && stream.valuesIterator.exists(_.isEmpty),
      "fixture should exercise both matched and unmatched events")
  }

  test("stream-stream interval join equals the graded evt_click_attrib over real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    runToTable("par_attrib", Streams.clickToPurchase(in.toDF()), "append")
    // The stream emits raw (click, purchase) pairs; roll them up to the
    // graded query's per-click grain for the compare.
    val stream = spark.table("par_attrib")
      .groupBy(col("click_id"), col("user_id"),
        unix_micros(col("c_ts")).as("c_us"))
      .agg(min(unix_micros(col("p_ts"))).as("first_purchase_us"),
        count(lit(1)).as("n_purchases_1h"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batch = SparkEntry.queries("evt_click_attrib")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(stream === batch,
      s"attrib parity broke: stream-only=${stream -- batch}, batch-only=${batch -- stream}")
  }

  test("streaming watermark dedup equals the graded evt_late_dedup row set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    runToTable("par_dedup", Streams.dedupEvents(in.toDF()), "append")
    val stream = spark.table("par_dedup").select("event_id").collect()
      .map(_.getLong(0)).toSet
    val batch = SparkEntry.queries("evt_late_dedup")(spark, sf)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(stream === batch)
  }

  test("decayScores replay equals the independent time-ordered fold (11th twin)") {
    // The O(1)-state streaming sibling of the graded evt_decay_score:
    // exactness is against the cascaded continuous-time fold the
    // stream maintains (see Streams.decayScores' scaladoc for why the
    // batch op's day-floored anchored sum is not incrementally
    // maintainable). Replaying one micro-batch applies the exact same
    // sorted fold, so equality here is bit-exact, not approximate.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    in.addData(realEvents)
    runToTable("par_decay", Streams.decayScores(in.toDS()).toDF(), "update")
    val stream = spark.table("par_decay")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def mic(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val h = 7L * 86400L * 1000000L
    val expected = realEvents.groupBy(_.user_id).map { case (u, es) =>
      var last = Long.MinValue
      var acc = 0.0
      es.sortBy(e => (mic(e.ts), e.event_id)).foreach { e =>
        val us = mic(e.ts)
        acc = if (last == Long.MinValue) e.value
          else acc * math.pow(0.5, (us - last).toDouble / h) + e.value
        last = us
      }
      (u, es.size.toLong, acc)
    }.toSet
    assert(stream === expected,
      s"decay parity broke: stream-only=${stream -- expected}")
    assert(stream.nonEmpty)
    // archetype sanity vs the graded batch op: both must score a
    // recently-active user above a long-idle one with equal volume
    // (ordering, not values — the formulations differ by design).
    val batchTop = SparkEntry.queries("evt_decay_score")(spark, sf)
      .orderBy(col("score").desc).select("user_id").limit(1)
      .collect().head.getLong(0)
    assert(stream.map(_._1).contains(batchTop))
  }

  test("decayScores clamps a cross-batch late event (no score inflation)") {
    // r8 advice: an out-of-order event in a LATER micro-batch used to
    // produce a negative decay delta → pow(0.5, Δ/h) > 1 → inflated
    // score. The clamp pins Δ = 0: the late value joins at the current
    // anchor's weight and the anchor never rewinds.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val in = MemoryStream[Event]
    // Batch 1: two on-time events, 7 days apart (one halflife).
    in.addData(
      Event(1L, t("2024-01-01T00:00:00Z"), 42L, "view", 10.0),
      Event(2L, t("2024-01-08T00:00:00Z"), 42L, "view", 10.0))
    // Wide watermark so the 5-day-late event is accepted (not dropped
    // by the lateness filter) and reaches the clamp under test.
    val q = Streams.decayScores(in.toDS(), watermark = "30 days").toDF()
      .writeStream.format("memory").queryName("par_decay_late")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // Batch 2: a LATE event (event time before the anchor).
      in.addData(Event(3L, t("2024-01-03T00:00:00Z"), 42L, "view", 10.0))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("par_decay_late")
      .filter(col("user_id") === 42L).orderBy(col("n_events").desc)
      .collect().head
    // After batch 1: acc = 10·0.5 + 10 = 15. The late event adds its
    // value at Δ=0 weight → exactly 25; the pre-clamp bug would have
    // produced 10·pow(0.5, −5/7) + ... ≈ 26.4 > 25 (inflation) with a
    // rewound anchor.
    assert(last.getLong(1) === 3L)
    assert(math.abs(last.getDouble(2) - 25.0) < 1e-9,
      s"late-event clamp broken: score=${last.getDouble(2)}")
  }

  test("streaming ingest screen equals the graded dedup_incremental_exact decision") {
    // Replay the real new-batch slice (doc_id % 7 = 3) as a stream of
    // (doc_id, lang, 64-char-prefix key) rows against the static old
    // corpus key set; the survivors must be EXACTLY the docs the
    // graded batch ledger keeps (n_kept per lang + the doc set — the
    // batch ledger is hash-graded against DuckDB, making it ground
    // truth here).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 64).as("k")).collect()
    val newDocs = docs.filter(_.getLong(0) % 7 == 3)
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val oldKeys = docs.filter(_.getLong(0) % 7 != 3)
      .map(_.getString(2)).distinct.toSeq
    val in = MemoryStream[(Long, String, String)]
    in.addData(newDocs)
    val static = oldKeys.toDF("k")
    runToTable("par_ingest",
      Streams.screenIngest(in.toDF().toDF("doc_id", "lang", "k"), static, "k"),
      "append")
    val survivors = spark.table("par_ingest").select("doc_id").collect()
      .map(r => r.getLong(0)).toSet
    val expectKept = newDocs.filter(d => !oldKeys.contains(d._3)).map(_._1).toSet
    assert(survivors === expectKept,
      s"screen drift: stream-only=${survivors -- expectKept}, " +
        s"missing=${expectKept -- survivors}")
    val ledger = SparkEntry.queries("dedup_incremental_exact")(spark, sf)
      .select(col("lang"), col("n_kept")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamKept = spark.table("par_ingest").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ledger.foreach { case (lang, k) =>
      assert(streamKept.getOrElse(lang, 0L) === k,
        s"$lang: stream kept ${streamKept.getOrElse(lang, 0L)}, ledger says $k")
    }
  }

  test("streaming bpe-encode ledger equals the graded text_bpe_encode totals (15th twin)") {
    // Replay the real corpus in TWO micro-batches through
    // bpeEncodeIngest against the SAME trained word → pieces vocab
    // the graded batch operator derives (stored-index contract: the
    // vocab is collected off the batch bpeChain and re-created as a
    // plain static frame, so no batch lineage leaks into the stream).
    // The complete-mode per-lang ledger after the replay must equal
    // the hash-graded batch ledger's integer columns exactly —
    // integer counters make the comparison bitwise, no tolerance.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (_, syms) = graft.operators.LlmText.bpeChain(spark, sf)
    val vocabRows = syms.select(col("word"), size(col("syms")).cast("long").as("n_p"),
        length(col("word")).cast("long").as("n_c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val vocab = vocabRows.toDF("word", "n_p", "n_c")
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val in = MemoryStream[(Long, String, String)]
    val q = Streams.bpeEncodeIngest(
        in.toDF().toDF("doc_id", "lang", "text"), vocab)
      .writeStream.format("memory").queryName("par_bpe")
      .outputMode("complete").start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      in.addData(first); q.processAllAvailable()
      in.addData(second); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("par_bpe")
      .select("lang", "n_words", "n_chars", "n_pieces").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = SparkEntry.queries("text_bpe_encode")(spark, sf)
      .select("lang", "n_words", "n_chars", "n_pieces").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(stream === batch,
      s"bpe-encode parity broke: stream-only=${stream -- batch}, " +
        s"batch-only=${batch -- stream}")
  }

  test("streaming count-min sketch equals the batch census after replay (16th twin)") {
    // Replay the real sf0.001 documents in TWO micro-batches through
    // countminIngest and assert the complete-mode counter grid is
    // bit-identical to the batch sketch census over the same corpus
    // (both sides ride the SHARED cmsPairs probe transform; CMS
    // merges by elementwise sum, so the streamed state — ≤ 2,048
    // rows — must land exactly on the one-pass batch aggregate).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val in = MemoryStream[(Long, String)]
    val q = Streams.countminIngest(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("par_cms")
      .outputMode("complete").start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      in.addData(first); q.processAllAvailable()
      in.addData(second); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("par_cms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.LlmText.cmsPairs(Tables.documents(spark, sf))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stream === batch,
      s"CMS parity broke: stream-only=${stream -- batch}, " +
        s"batch-only=${batch -- stream}")
  }

  test("streaming ahash near-dup screen equals the batch banded census (18th twin)") {
    // Split the 64 gated decode images into a STATIC banded index
    // (even ids — the existing corpus) and arrivals (odd ids),
    // replay the arrivals' hash rows in TWO micro-batches through
    // ahashIngest, and assert the per-arrival ledger equals the
    // batch banded census restricted to arrival × index pairs —
    // same band keys, same popcount filter, integer columns, no
    // tolerance. The hash frames come from the REAL ImageIO decode
    // (shared LlmSim.ahashHashes), so the parity covers the decode
    // contract too.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val hs = graft.operators.LlmSim.ahashHashes(spark, sf)
      .select("doc_id", "h0", "h1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val (index, arrivals) = hs.partition(_._1 % 2 == 0)
    val idxDf = index.toDF("media_id", "h0", "h1")
    val in = MemoryStream[(Long, Long, Long)]
    val q = Streams.ahashIngest(
        in.toDF().toDF("media_id", "h0", "h1"), idxDf)
      .writeStream.format("memory").queryName("par_ahash")
      .outputMode("complete").start()
    try {
      val (first, second) = arrivals.splitAt(arrivals.length / 2)
      in.addData(first); q.processAllAvailable()
      in.addData(second); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("par_ahash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // Independent driver-side brute expectation: same band-position
    // keys at the r16 multi-probe rule (candidate iff SOME band
    // differs by ≤ 1 bit), same popcount filter, plain Scala.
    def bnd(h0: Long, h1: Long) =
      Seq(h0 % 65536, h0 / 65536, h1 % 65536, h1 / 65536)
    val brute = arrivals.flatMap { case (id, h0, h1) =>
      val hds = index.collect { case (oid, o0, o1)
          if oid != id &&
            bnd(h0, h1).zip(bnd(o0, o1)).exists(p =>
              java.lang.Long.bitCount(p._1 ^ p._2) <= 1) &&
            java.lang.Long.bitCount(h0 ^ o0) +
              java.lang.Long.bitCount(h1 ^ o1) <= 8 =>
        java.lang.Long.bitCount(h0 ^ o0) + java.lang.Long.bitCount(h1 ^ o1)
      }
      if (hds.isEmpty) None
      else Some((id, hds.size.toLong,
        hds.count(_ == 0).toLong, hds.min.toLong))
    }.toSet
    assert(stream.nonEmpty, "ahash parity replay produced no near pairs")
    assert(stream === brute,
      s"ahash parity broke: stream-only=${stream -- brute}, " +
        s"brute-only=${brute -- stream}")
  }

  test("streaming quantile coreset matches the graded percentiles within its slack certificate (19th twin)") {
    // Replay the real sf0.001 lineitem price column in THREE
    // micro-batches through quantileIngest and assert, against the
    // same exact ranks the graded agg_quantile_sketch is judged on:
    //   1. total summary weight == ingested row count EXACTLY (the
    //      compaction conserves mass by construction);
    //   2. per-partition state stays <= cap+1 entries;
    //   3. each graded percentile read from the merged summaries sits
    //      within the SELF-CERTIFIED rank bound (Sigma per-partition
    //      slack + #partitions) of its exact rank;
    //   4. the read values pass the graded query's own 5% value band.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vals = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice").cast("double"))
      .collect().map(_.getDouble(0)).toSeq
    val in = MemoryStream[Double]
    val q = Streams.quantileIngest(
        in.toDF().select(col("value").as("v")), parts = 32, cap = 256)
      .writeStream.format("memory").queryName("par_quant")
      .outputMode("update").start()
    try {
      val third = vals.length / 3
      in.addData(vals.take(third)); q.processAllAvailable()
      in.addData(vals.slice(third, 2 * third)); q.processAllAvailable()
      in.addData(vals.drop(2 * third)); q.processAllAvailable()
    } finally q.stop()
    val all = spark.table("par_quant")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
    // keep each partition's LAST epoch (update mode re-publishes)
    val lastEpoch = all.groupBy(_._1).map { case (k, rs) =>
      k -> rs.filter(_._2 == rs.map(_._2).max)
    }
    val entries = lastEpoch.values.flatten.toArray
    val n = vals.length.toLong
    assert(entries.map(_._4).sum === n,
      "summary mass must equal the ingested row count exactly")
    lastEpoch.foreach { case (k, rs) =>
      assert(rs.length <= 257, s"partition $k state grew past cap+1")
    }
    val slackSum = lastEpoch.values.map(_.head._5).sum
    val bound = slackSum + 32
    val sorted = vals.sorted.toArray
    val merged = entries.sortBy(e => (e._3, e._1)) // by value
    Seq(0.5, 0.9, 0.99).foreach { p =>
      val target = math.ceil(p * n).toLong
      var cum = 0L
      val vq = merged.find { e => cum += e._4; cum >= target }.get._3
      val lo = sorted.count(_ < vq).toLong + 1L
      val hi = sorted.count(_ <= vq).toLong
      assert(target >= lo - bound && target <= hi + bound,
        s"p=$p stream value $vq has rank [$lo,$hi], target $target " +
          s"outside the certified +-$bound")
      val exact = sorted(target.toInt - 1)
      assert(math.abs(vq - exact) <= 0.05 * exact,
        s"p=$p stream value $vq outside the graded 5% band of $exact")
    }
  }

  test("streaming user-cap quarantine equals the graded sample_user_cap ledger (17th twin)") {
    // Replay the sf0.01 events (sf0.001 has ZERO over-cap users — the
    // p99 cap quarantines ~1% by construction) in TWO micro-batches
    // through userCapIngest with the SAME cap the graded ledger
    // derives (shared userCapFrame helper), feeding event-time order
    // across batches; assert per-user kept counts, kept-event-id
    // sums, and the rank-N boundary event equal the hash-graded
    // batch output.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf01 = Fixtures.testdata("0.01")
    val ev = Tables.events(spark, sf01)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val counts = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
    val capRow = graft.operators.Events.userCapFrame(counts).collect().head
    val capN = capRow.getLong(0)
    val rows = ev.orderBy("ts", "event_id").collect().map(r =>
      graft.streaming.Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSeq
    val in = MemoryStream[graft.streaming.Event]
    val q = Streams.userCapIngest(in.toDS(), capN)
      .writeStream.format("memory").queryName("par_usercap")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
    } finally q.stop()
    val dec = spark.table("par_usercap")
    assert(dec.count() === rows.length,
      "every event must receive exactly one cap decision")
    val streamLedger = dec.groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("event_id"))).as("kept_sum"),
        max(when(col("rank") === capN, col("event_id"))).as("bnd"))
      .select(col("user_id"), col("n_events"), col("n_kept"),
        (col("n_events") - col("n_kept")).as("n_dropped"),
        (col("n_events") > capN).as("capped"),
        col("kept_sum"),
        // the graded ledger records the rank-N boundary ONLY for
        // over-cap users (under-cap users never enter its window)
        when(col("n_events") > capN, col("bnd")).as("boundary"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6))).toSet
    val batch = SparkEntry.queries("sample_user_cap")(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6))).toSet
    assert(streamLedger === batch,
      s"user-cap parity broke: stream-only=${streamLedger -- batch}, " +
        s"batch-only=${batch -- streamLedger}")
  }

  test("streaming semantic ingest equals the graded dedup_incremental_embedding ledger (14th twin)") {
    // Replay the real new-vector slice (vec_id % 7 = 3) in TWO
    // micro-batches through semanticIngest against the SAME stored
    // index the graded batch operator trains (old-trained coarse
    // centroids + old-trained sub-centroids + old (cell, sub)
    // buckets on the integer grid) and assert the per-label
    // drop ledger equals the hash-graded batch output. Two batches
    // exercise the per-bucket state across micro-batch boundaries.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val notNew = !(col("vec_id") % 7 === 3)
    val cents = graft.operators.LlmSim.incEmbCents(spark, sf)
    val assign = graft.operators.LlmSim.incEmbAssign(spark, sf)
    val subC = graft.operators.LlmSim.subCentroids(assign, notNew)
    val sub = graft.operators.LlmSim.subSplit(assign, notNew)
    // Production-form index handoff (r12 verdict #5): the centroid
    // FRAMES go in as-is (semanticIngest torrent-broadcasts them);
    // the member buckets go in as a static FRAME for the
    // stream-static join, with o_iv put on the ⌊v·1e6⌋ grid by the
    // same floor arithmetic the batch operator uses.
    val oldMembers = assign.join(sub.select("vec_id", "sub"), "vec_id")
      .filter(notNew)
      .select(col("cell"), col("sub"),
        transform(col("embedding"),
          f => floor(f.cast("double") * lit(1e6)).cast("double")).as("o_iv"))
    val arrivals = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 7 === 3)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding"))
      .collect().map(r => graft.streaming.VecArrival(
        r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray)).toSeq
    val in = MemoryStream[graft.streaming.VecArrival]
    val q = Streams.semanticIngest(in.toDS(), cents, subC, oldMembers)
      .writeStream.format("memory").queryName("par_semantic")
      .outputMode("append").start()
    try {
      val (first, second) = arrivals.splitAt(arrivals.length / 2)
      in.addData(first); q.processAllAvailable()
      in.addData(second); q.processAllAvailable()
    } finally q.stop()
    val dec = spark.table("par_semantic")
    assert(dec.count() === arrivals.length,
      "every arriving vector must receive exactly one decision")
    val streamLedger = dec.groupBy("label").agg(
        count(lit(1)).as("n_new"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("dedup_incremental_embedding")(spark, sf)
      .select(col("label"), col("n_new"), col("n_dup_old")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamLedger === batch,
      s"semantic ingest parity broke: stream-only=${streamLedger -- batch}, " +
        s"batch-only=${batch -- streamLedger}")
  }

  test("semantic ingest survives a zero-norm arrival (NaN cosine never kills the stream)") {
    // r12 advice: BigDecimal.valueOf(NaN) throws, so before the guard
    // one all-zeros vector (norm 0 ⇒ cosine NaN at every screen)
    // crashed the streaming query. The guard mirrors Spark's Round —
    // NaN passes through, NaN >= 0.45 is false — so the degenerate
    // arrival must come out as ONE non-dup decision while a normal
    // arrival in the same batch still screens correctly.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val coarse = Seq((0L, Array(1.0, 0.0))).toDF("cell", "emb")
    val subC = Seq((0L, 1L, Array(1.0, 0.0))).toDF("cell", "sub", "sc_emb")
    val oldMembers = Seq((0L, 1L, Array(1000000.0, 0.0)))
      .toDF("cell", "sub", "o_iv")
    val in = MemoryStream[graft.streaming.VecArrival]
    val q = Streams.semanticIngest(in.toDS(), coarse, subC, oldMembers)
      .writeStream.format("memory").queryName("par_semantic_nan")
      .outputMode("append").start()
    try {
      in.addData(Seq(
        graft.streaming.VecArrival(1L, 7L, Array(0f, 0f)),   // zero norm
        graft.streaming.VecArrival(2L, 7L, Array(1f, 0f))))  // exact dup
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("par_semantic_nan")
      .select("vec_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out === Map(1L -> false, 2L -> true),
      s"zero-norm arrival must survive as non-dup beside a screened dup: $out")
  }
}
