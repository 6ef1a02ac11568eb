package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, expr, lit, round, row_number, sqrt,
  when}

/** Session-level cross-QUERY memo of derived index/graph frames
  * (r16 verdict #4/#6): the one lifetime longer than a query. Heavy
  * composed queries re-derived bit-identical shared frames (trained
  * quantizer chains, the σ-BFS layers, edge rollups) per query; the
  * serving reality is ONE index/graph built, many queries reading
  * it. Contract: every stored frame is, or is built only from,
  * `GraftBridge.checkpoint` leaves, so consumers read materialized
  * blocks (each leaf carries its measured size, so a memoized frame
  * plans as a broadcast wherever it is small enough) and never
  * re-derive the chain behind it. Keyed by (session, data dir, shuffle
  * partitions, chain name): a frame built under one
  * `spark.sql.shuffle.partitions` is laid out for that count (the
  * evt base declares it), so a session whose count changes rebuilds
  * instead of reading it. A session touches a handful of dirs and
  * counts, so the memo is bounded, and blocks die with the session.
  * `clear()` starts a cold pass.
  * Lookup is get/putIfAbsent, NOT computeIfAbsent: builders recurse
  * into the memo for other keys, and holding a CHM bin lock across a
  * nested compute can deadlock. A rare concurrent first-build races
  * and discards one identical result — deterministic, wasted work
  * only. */
private[graft] object SessionMemo {
  private val m = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int, String), AnyRef]

  /** The session's `spark.sql.shuffle.partitions`, parsed defensively:
    * a blank, non-numeric or non-positive value reads as the default
    * parallelism. */
  def shufflePartitions(s: SparkSession): Int =
    s.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(s.sparkContext.defaultParallelism)

  def memo[T <: AnyRef](s: SparkSession, d: String, key: String)(
      build: => T): T = {
    val k = (s, d, shufflePartitions(s), key)
    val hit = m.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val built = build
      val prev = m.putIfAbsent(k, built)
      if (prev != null) prev.asInstanceOf[T] else built
    }
  }
  /** Drops every memoized frame: the bench starts each timed pass
    * here, and plan-shape specs that must see a full chain (not a
    * memoized leaf) call it first. */
  def clear(): Unit = m.clear()
}

/** One named, oracle-paired operator family. `SparkEntry` concatenates
  * all modules; the driver grades each `queries` entry against its
  * `oracles` twin run in DuckDB on the same parquet inputs.
  *
  * Determinism contract (every graded query):
  *   - ends in a total-order sort (unique key in the sort), so the
  *     row-order-sensitive hash compare is stable. Because the key is
  *     unique, the order does not depend on how the sort is planned:
  *     `SparkEntry.queries` runs it in one partition when the query's
  *     inputs are small (`GraftBridge.onePartitionSortIfSmall`) and as
  *     a range sort otherwise, with identical output;
  *   - double-valued aggregates rounded to 4 digits (float summation
  *     order differs between engines);
  *   - computed integer columns cast to Long (DuckDB scalar fns
  *     return BIGINT; Spark's year()/length() return Int);
  *   - no raw timestamp output columns — format to string or cast to
  *     date (Spark writes UTC-adjusted µs timestamps, DuckDB emits
  *     naive ones; strings/dates compare identically).
  *
  * Materialization contract: a query returns its result LAZILY; the
  * caller's action runs it. A frame is materialized in only two ways:
  *   - inside a query, `GraftBridge.checkpoint`: runs NOW and
  *     truncates the lineage to the computed blocks. Cut a frame that
  *     later jobs read more than once and whose plan does not already
  *     share it (an exchange the planner reuses): an iterative
  *     kernel's round output that feeds the next round more than once
  *     (k-core peeling, min-label supersteps, Lloyd chains) must be
  *     cut, or the logical plan grows ~branchingFactor^rounds and
  *     AQE re-renders it on every stage update (measured 17–22 s for
  *     graph_kcore at sf0.1 local[32] without per-round cuts vs ~2 s
  *     with them, and an out-of-memory error inside the plan render
  *     at 1 GiB of heap). Blocks are freed by the ContextCleaner once the frame
  *     is unreachable. localCheckpoint blocks are NOT fault-tolerant
  *     (executor loss aborts the job); a cluster run would
  *     `checkpoint()` to reliable storage instead, as MLlib's
  *     checkpointInterval does;
  *   - across queries, [[SessionMemo]], whose values are checkpoints.
  * Nothing is cached (`persist`), so no query leaves an entry in the
  * session's CacheManager.
  */
trait OpModule {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]

  /** Money column → exact 2-dp decimal. Prices/discounts/taxes in the
    * testdata are true 2-dp decimals stored as double; casting to
    * DECIMAL(12,2) recovers the exact value identically in Spark and
    * DuckDB, so downstream products/sums are exact and engine-portable
    * (double summation order differs between engines and flips
    * round-at-4 ties; decimal sums cannot).
    */
  protected def Dec2(c: Column): Column =
    c.cast("decimal(12,2)")

  /** Each `key`'s first `k` rows by `order`, ranked in a long `rk` (the
    * oracles' row_number). Callers end `order` with the lower id, so
    * the ranks are total and engine-identical. */
  protected def topK(df: DataFrame, key: String, k: Int, order: Column*): DataFrame =
    df.withColumn("rk",
        row_number().over(Window.partitionBy(key).orderBy(order: _*)).cast("long"))
      .filter(col("rk") <= k)

  /** The multiplicative (Knuth) scramble of a non-negative id, folded to
    * 31 bits first: (2^31−1)·2654435761 < 2^63, so the product never
    * wraps a BIGINT at any id scale (un-folded, ids ≳ 3.5e9 overflow,
    * which Spark wraps silently while DuckDB promotes). The caller
    * reduces it by its own modulus; the oracles spell the same
    * `((x % 2147483648) * 2654435761)`. */
  protected def knuth31(x: Column): Column =
    (x % lit(2147483648L)) * lit(2654435761L)

  /** Pearson correlation over `n` rows from the exact integer sums
    * in columns sx, sy, sxx, syy and sxy, rounded at 4: the one
    * division runs in doubles on integers both engines hold
    * identically. NULL when either series is constant (n·sxx = sx²,
    * an exact integer equality), where engines disagree on 0/0 (NaN
    * vs NULL). */
  protected def pearson(n: Column): Column = {
    val (sx, sy) = (col("sx"), col("sy"))
    when(n * col("sxx") === sx * sx || n * col("syy") === sy * sy,
      lit(null).cast("double"))
      .otherwise(round((n * col("sxy") - sx * sy).cast("double")
        / (sqrt((n * col("sxx") - sx * sx).cast("double"))
          * sqrt((n * col("syy") - sy * sy).cast("double"))), 4))
  }

  /** The rows of `probe` whose long key `k` may be in `keys` (a frame
    * of distinct `k`), by a portable 64 Kbit bloom filter: 2048
    * 32-bit words, two multiplicative hashes, plain integer
    * arithmetic, so the oracles compute the identical filter. `keys`
    * fold into the word table, which is broadcast; each probe row
    * keeps `p1`/`p2` (its two bit positions) and passes when both
    * bits are set. Bits stay in the low 31 of each word, so shift
    * semantics cannot diverge between engines. */
  protected def bloomScreen(probe: DataFrame, keys: DataFrame): DataFrame = {
    val M = 65536L
    def h1(k: Column) = ((k * 2654435761L) % 4294967296L) % M
    def h2(k: Column) = (k * 40503L + 17L) % M
    val bloom = keys.select(h1(col("k")).as("p"))
      .union(keys.select(h2(col("k")).as("p")))
      .groupBy(expr("p div 32").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("word"))
    probe.withColumn("p1", h1(col("k"))).withColumn("p2", h2(col("k")))
      .join(broadcast(bloom.select(col("w").as("w1"), col("word").as("word1"))),
        expr("p1 div 32") === col("w1"))
      .join(broadcast(bloom.select(col("w").as("w2"), col("word").as("word2"))),
        expr("p2 div 32") === col("w2"))
      .filter(
        expr("(word1 & shiftleft(1L, cast(p1 % 32 as int))) != 0") &&
        expr("(word2 & shiftleft(1L, cast(p2 % 32 as int))) != 0"))
  }

  /** Builds two INDEPENDENT sub-chains concurrently (r15): a body
    * whose paths each end in checkpoint jobs would otherwise build
    * path A's whole training chain before path B's begins — pure
    * scheduling loss, since the chains share nothing. Spark sessions
    * accept concurrent job submission; the two thunks run on
    * scala.concurrent's global pool and this blocks until both are
    * built, settling BOTH before rethrowing either failure, so no
    * thunk outlives the call. Share only already-checkpointed
    * inputs across the two thunks: racing stages recompute a lazy
    * shared frame once per racer. Both thunks run with the caller's
    * Spark local properties, so their jobs carry the caller's job
    * group (the query's name under Bench and Verify). */
  protected def par[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val (ta, tb) = (GraftBridge.withCallerProperties(a), GraftBridge.withCallerProperties(b))
    val fa = Future(ta())
    val fb = Future(tb())
    val ra = Await.ready(fa, Duration.Inf).value.get
    val rb = Await.ready(fb, Duration.Inf).value.get
    (ra.get, rb.get)
  }
}
