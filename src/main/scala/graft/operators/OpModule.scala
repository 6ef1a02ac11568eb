package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Persist ledger for one query invocation (r5 verdict #3): iterative
  * and multi-reference pipelines register their intermediates here so
  * `OpModule.scopedPersist` can unpersist every one of them the moment
  * the terminal result is materialized — nothing leaks into the
  * session's CacheManager across queries (a 100 TB session running
  * hundreds of these sequentially would otherwise pay continuous
  * eviction churn). Exposed at package-`graft` visibility so plan
  * tests can build the un-checkpointed pipeline and release it.
  */
private[graft] final class PersistScope {
  private val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private var closed = false
  def persist(df: DataFrame): DataFrame = kept.synchronized {
    // synchronized: bodies may register from concurrent path-builder
    // threads (see `par` / LlmSim.annRetrieved). After release() the
    // scope is closed: a straggler persist would leak a cached frame
    // into the session CacheManager for the process lifetime, so the
    // frame is returned un-persisted instead (correct, just uncached).
    if (closed) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      kept += p
      p
    }
  }

  /** Materialize two INDEPENDENT sub-chains' eager cuts concurrently
    * (r15): a body whose paths each end in `cut` jobs would otherwise
    * serialize path A's whole training chain before path B's begins —
    * pure scheduling loss, since the chains share nothing. Spark
    * sessions accept concurrent job submission; the builders run on
    * scala.concurrent's global pool and this blocks until both plans
    * (and their internal cut jobs) are built. NOT for chains sharing
    * an UNMATERIALIZED persisted frame — concurrent stages racing a
    * cold cache materialize it once per racer (measured: task time
    * doubled); share only already-cut inputs across the two thunks. */
  def par[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fa = Future(a)
    val fb = Future(b)
    // Settle BOTH futures before propagating any failure: rethrowing
    // while the sibling thread still runs would let scopedPersist's
    // `finally release()` race a live builder — unpersisting frames
    // the survivor is using and (before the closed-scope guard)
    // leaking any late persist past the ledger.
    val ra = Await.ready(fa, Duration.Inf).value.get
    val rb = Await.ready(fb, Duration.Inf).value.get
    (ra.get, rb.get)
  }
  /** Materialize NOW and truncate lineage to the computed blocks
    * (`GraftBridge.checkpoint`). REQUIRED (not optional) for unrolled
    * iterative kernels whose round output feeds the next round more
    * than once — k-core peeling (e_r referenced 3×/round), min-label
    * supersteps (lbl 2×/round), Lloyd training chains: a plain
    * `persist` caches EXECUTION but leaves the logical plan growing
    * ~branchingFactor^rounds, and AQE re-renders the full plan string
    * on every stage update (`explainString` in `onUpdatePlan`) —
    * measured 17–22 s for graph_kcore at sf0.1 local[32] with
    * persist-only rounds vs ~2 s with per-round cuts, and a driver OOM
    * inside the plan render at 1 GiB heap. The cut leaf carries the
    * measured size of its blocks, so a join against a node-sized cut
    * plans as a broadcast from the start (no shuffle-map jobs for AQE
    * to throw away). Cluster note: localCheckpoint blocks are NOT
    * fault-tolerant (executor loss aborts the job); a 1000-executor
    * run would periodically `checkpoint()` to reliable storage instead
    * — the same plan-truncation effect with durable blocks (the
    * standard iterative-Spark discipline, cf. MLlib's
    * checkpointInterval). Blocks are freed by the ContextCleaner once
    * the round's DataFrame becomes unreachable; no ledger entry
    * needed.
    */
  def cut(df: DataFrame): DataFrame = GraftBridge.checkpoint(df)
  def release(): Unit = kept.synchronized {
    closed = true
    kept.foreach(_.unpersist(blocking = false))
    kept.clear()
  }
}

/** Session-level cross-QUERY memo of derived index/graph frames
  * (r16 verdict #4/#6). Heavy composed queries re-derived
  * bit-identical shared frames (trained quantizer chains, the σ-BFS
  * layers, edge rollups) per query because each query owns its
  * PersistScope; the serving reality is ONE index/graph built, many
  * queries reading it. Contract: stored values hold EAGER CUTS
  * (`GraftBridge.checkpoint` leaves, which carry their measured size,
  * so a memoized frame plans as a broadcast wherever it is small
  * enough) only — a memoized frame must reference no scope-persisted
  * input, so later consumers read materialized blocks and no
  * CacheManager entry outlives its query. Keyed by (session, data
  * dir, chain name); a session touches a handful of dirs, so the memo
  * is bounded, and blocks die with the session.
  * Lookup is get/putIfAbsent, NOT computeIfAbsent: builders recurse
  * into the memo for other keys, and holding a CHM bin lock across a
  * nested compute can deadlock. A rare concurrent first-build races
  * and discards one identical result — deterministic, wasted work
  * only. */
private[graft] object SessionMemo {
  private val m = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), AnyRef]
  def memo[T <: AnyRef](s: SparkSession, d: String, key: String)(
      build: => T): T = {
    val k = (s, d, key)
    val hit = m.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val built = build
      val prev = m.putIfAbsent(k, built)
      if (prev != null) prev.asInstanceOf[T] else built
    }
  }
  /** Test hook: plan-shape specs that must see a full chain (not a
    * memoized leaf) drop the memo first. */
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
  protected def Dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(12,2)")

  /** Persist-scoped terminal wrapper (r5 verdict #3). `body` registers
    * its big intermediates via the scope's `persist`; the small
    * terminal result is materialized EAGERLY ([[PersistScope.cut]]
    * truncates the lineage to the computed blocks), after which every
    * registered intermediate is unpersisted — the CacheManager is
    * empty again by the time the query function returns, and the
    * driver's action on the returned DataFrame reads the checkpointed
    * rows without re-deriving anything. Only used where the terminal
    * result is dimension-sized (traces, histograms, top-k), so the
    * checkpoint blocks are trivially small; they are dropped by the
    * ContextCleaner once the DataFrame is unreachable. By the same
    * contract the body's terminal sort runs in ONE partition
    * unconditionally (`GraftBridge.onePartitionSort`, without the
    * input-size gate `SparkEntry.queries` applies to every other
    * query): the checkpoint runs before the registry sees the frame,
    * and a global sort over a coalesced partition needs no range
    * exchange, so the RangePartitioner sampling job and its
    * shuffle-map job never run.
    */
  protected def scopedPersist(body: PersistScope => DataFrame): DataFrame = {
    val scope = new PersistScope
    try {
      val out = GraftBridge.onePartitionSort(body(scope))
      // PlanDump: skip ONLY the terminal checkpoint; the scope is still
      // released (r17, ADVICE r16 #1) — a leaked persist would register
      // in the CacheManager for the rest of the dump run and later
      // queries' "cold-session" plans could silently resolve shared
      // subtrees to InMemoryRelation, contaminating the evidence.
      if (OpModule.planOnly.get()) out else scope.cut(out)
    } finally scope.release()
  }
}

private[graft] object OpModule {
  /** PlanDump-only (r16): when set, `scopedPersist` returns the body
    * frame as it would run (one-partition terminal sort, no terminal
    * checkpoint) so its formatted plan shows the terminal assembly
    * instead of one RDD scan. Never set on the bench/verify path —
    * explain evidence only. */
  val planOnly = new java.lang.ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
}
