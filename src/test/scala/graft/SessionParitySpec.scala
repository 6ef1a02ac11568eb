package graft

import org.apache.spark.sql.functions._
import graft.operators.Events

/** evt_session_native (built-in `session_window`) vs evt_session (the
  * hand-rolled lag/cumsum formulation): the two must carve identical
  * session boundaries (r7 advice #5). The fixture pins the one
  * boundary case that could split them — an event landing EXACTLY gap
  * after its predecessor — where Spark's merge condition turned out
  * (empirically, this suite) to be INCLUSIVE: the exactly-gap-late
  * event merges, i.e. a new session only on a strictly-greater gap,
  * which is the same strict `>` evt_session uses. With identical tie
  * semantics the real-data leg must agree unconditionally.
  */
class SessionParitySpec extends SparkSpec {
  private val sf = Fixtures.testdata("0.001")
  private val GapUs = 1800000000L

  test("session_window MERGES an exact-gap-late event (strict-> boundary)") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val df = Seq(
      (1L, t("2024-01-01T00:00:00Z")), // window [00:00, 00:30]
      (1L, t("2024-01-01T00:30:00Z")), // exactly gap later → MERGES
      (1L, t("2024-01-01T00:59:59Z")), // 29:59 later → merges
      (1L, t("2024-01-01T01:30:00Z")), // 30:01 later → NEW session
      (2L, t("2024-01-01T00:00:00Z")),
      (2L, t("2024-01-01T00:29:59Z"))  // inside the gap → merges
    ).toDF("user_id", "ts")
    val sess = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    assert(sess.toSeq === Seq(
      (1L, base, base + 3599000000L + GapUs, 3L),
      (1L, base + 5400000000L, base + 5400000000L + GapUs, 1L),
      (2L, base, base + 1799000000L + GapUs, 2L)),
      s"session_window tie semantics changed: ${sess.toSeq}")
  }

  test("native and lag/cumsum sessions agree on real events") {
    val fromLag = Events.queries("evt_session")(spark, sf)
      .select(col("user_id"), col("sess_start_us"),
        (col("sess_start_us") + col("sess_len_us") + GapUs).as("sess_end_us"),
        col("n_events"))
    val fromNative = Events.queries("evt_session_native")(spark, sf)
      .select(col("user_id"), col("sess_start_us"), col("sess_end_us"),
        col("n_events"))
    assert(fromLag.exceptAll(fromNative).isEmpty &&
      fromNative.exceptAll(fromLag).isEmpty,
      "session boundaries diverge between session_window and lag/cumsum")
    assert(fromNative.count() > 0)
  }
}
