package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the driver-generated testdata surface
  * (see FIXTURES.md). All graded queries read through here so that a
  * future move to a real catalog / bucketed layout is one-file.
  *
  * Scale note: `spark.read.parquet` uses the vectorized parquet
  * reader with predicate pushdown + column pruning; at 100 TB the same
  * call works against a partitioned directory tree — nothing here
  * assumes single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Conf flag for the opt-in bucketed read path (see below). */
  val BucketedConf = "spark.graft.bucketedLayout"

  /** Hot-key bucketing layout for the big tables: hash-cluster each on
    * the key its repeated joins/windows cluster by, so those exchanges
    * vanish once the layout is materialized. Dimension tables
    * (region/nation/supplier/part) stay loose — they broadcast.
    *
    * documents/embeddings are deliberately NOT bucketed (r8, measured):
    * their hot operations never join on doc_id/vec_id — dedup joins on
    * minhash/simhash bucket keys, ANN on coarse cells and PQ codes —
    * so a primary-key bucketing buys zero exchanges; and because a
    * bucketed scan pins one task per bucket file and AQE cannot
    * coalesce it, the iterative ANN/graph chains that re-scan these
    * small tables 30+ times paid the extra task floor on EVERY stage
    * (bucketed-vs-loose full bench at sf0.1: sim_recall_ivf 2.1→4.5 s,
    * embed_ivf_stats 1.9→3.8 s, total 119.7→153.2 s — all of it this
    * class, while the true bucket-key band improved; see BASELINE.md
    * r8 row). The general rule at any scale: bucket a table on a key
    * only if its repeated shuffles actually ride that key, and size
    * bucket count to the table — a blanket layout is a cost.
    */
  val bucketKeys: Map[String, String] = Map(
    "orders"   -> "o_orderkey",
    "lineitem" -> "l_orderkey",
    "customer" -> "c_custkey",
    "events"   -> "user_id")

  /** Idempotent session pinning shared by EVERY read path (loose and
    * bucketed): UTC session timezone — the NTZ→TIMESTAMP events cast
    * and all date_format/window arithmetic are oracle-parity only
    * under UTC — plus the ns-as-long legacy flag the NANOS events
    * generation needs. Lives here (not in the events loader) so an
    * external driver session that reads ANY table through Tables gets
    * pinned before its first plan is analyzed; Spark resolves
    * time-zone-aware expressions at DataFrame creation (eager
    * analysis), so a later caller-side timezone change cannot shift
    * already-built plans. */
  private def pinSessionConf(s: SparkSession): Unit = {
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  /** Content fingerprint of a table's source parquet (file names,
    * sizes, mtimes — recursive, order-stable). Folded into the
    * bucketed catalog table name so that an IN-PLACE testdata
    * regeneration (a recurring event in this repo — it motivated
    * SchemaContractSpec) changes the name, the catalog lookup misses,
    * and reads fall back to the fresh loose path instead of silently
    * serving stale pre-regeneration rows. Driver-side metadata walk
    * over a handful of files — O(files), no data read. */
  private[graft] def sourceFingerprint(dir: String, name: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val acc = walk(new java.io.File(s"$dir/$name.parquet"))
      .foldLeft(17L) { (h, f) =>
        ((h * 31 + f.getName.hashCode) * 31 + f.length()) * 31 + f.lastModified()
      }
    java.lang.Long.toHexString(acc & Long.MaxValue)
  }

  /** One catalog table per (source dir+content, table): the dir hash
    * stops a bucketed sf0.001 layout from answering an sf0.1 read; the
    * content fingerprint stops a stale layout from answering a read
    * after the source files changed underneath it. */
  private[graft] def bucketedName(dir: String, name: String): String =
    s"graft_b_${java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)}_" +
      s"${sourceFingerprint(dir, name)}_$name"

  /** Materialize the bucketed layout for `dir` into the session
    * catalog (one-time cost ≈ one shuffle per table — the pre-shuffle
    * that pays for itself the second time a 100 TB fact table is
    * joined on the same key). Reads go through the loose path here, so
    * events ts-normalization happens exactly once, at write time.
    *
    * `buckets = 0` (default) sizes the bucket count PER TABLE from its
    * row count (~25k rows/bucket, clamped [4, 256]) — measured r8: a
    * blanket 32 buckets pinned 32 scan tasks per stage on tables a
    * tenth that size (bucketed scans cannot AQE-coalesce), costing
    * more across the query set than the eliminated exchanges saved.
    * The same rule holds at 100 TB with a bigger constant: bucket
    * count must track table size or the layout becomes a tax. The
    * orders/lineitem pair shares one count (the larger table's) so
    * their orderkey SMJ stays exchange-free without relying on
    * bucket-coalescing support. */
  def materializeBucketed(s: SparkSession, dir: String,
      buckets: Int = 0): Unit = {
    def auto(n: String): Int = {
      val rows = loose(s, dir, n).count()
      math.max(4, math.min(256, ((rows + 24999) / 25000).toInt))
    }
    val pairCount = if (buckets > 0) buckets
      else math.max(auto("lineitem"), auto("orders"))
    bucketKeys.foreach { case (n, k) =>
      val b = if (buckets > 0) buckets
        else if (n == "lineitem" || n == "orders") pairCount
        else auto(n)
      graft.sources.Sources.writeBucketed(
        loose(s, dir, n), bucketedName(dir, n), k, b)
    }
  }

  /** Runs `body` over the catalog layout that SPARK_GRAFT_BUCKETED asks
    * for, telling it which one. With `true`, the hash-clustered layout
    * of `dir` is materialized and switched on first, and switched off
    * and dropped afterwards, also when `body` throws. */
  def withRequestedLayout[T](s: SparkSession, dir: String)(body: Boolean => T): T =
    if (!sys.env.get("SPARK_GRAFT_BUCKETED").contains("true")) body(false)
    else try {
      materializeBucketed(s, dir)
      s.conf.set(BucketedConf, "true")
      body(true)
    } finally {
      s.conf.set(BucketedConf, "false")
      dropBucketed(s, dir)
    }

  /** Drop every bucketed layout materialized for `dir` — including
    * stale generations whose content fingerprint no longer matches the
    * current source files (a name-only drop would orphan those). */
  def dropBucketed(s: SparkSession, dir: String): Unit = {
    val prefix = s"graft_b_${java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)}_"
    org.apache.spark.sql.GraftBridge.catalogTableNames(s)
      .filter(_.startsWith(prefix))
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** THE graded read path. Default: loose parquet (self-describing,
    * zero setup). When `spark.graft.bucketedLayout=true` AND the
    * bucketed catalog table for this (dir, name) exists, reads resolve
    * to it instead — every `SparkEntry.queries` entry then runs
    * UNCHANGED over the co-located layout and its bucket-key
    * joins/aggs/windows plan without an Exchange
    * (`BucketedLayoutSpec` locks result-identity and the no-shuffle
    * plan shape). Bucketed events were normalized at write time, so
    * the catalog branch skips the ts adapter by construction.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    pinSessionConf(spark)
    val bucketed =
      spark.conf.getOption(BucketedConf).contains("true") &&
        bucketKeys.contains(name) &&
        spark.catalog.tableExists(bucketedName(dir, name))
    if (bucketed) spark.table(bucketedName(dir, name))
    else loose(spark, dir, name)
  }

  private def loose(spark: SparkSession, dir: String, name: String): DataFrame = {
    pinSessionConf(spark) // direct callers (materializeBucketed) bypass apply()
    if (name == "events") eventsLoose(spark, dir)
    else readParquet(spark, dir, name)
  }

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StructType]

  /** `dir/name.parquet` read with its schema memoized per (path,
    * [[sourceFingerprint]]): a schema-less `spark.read.parquet`
    * launches a footer-inference job on every call, although the
    * schema is a property of the files (inferred under the read confs
    * `pinSessionConf` pins). The memo is process-wide, not per session
    * like SessionMemo's derived frames; the content fingerprint makes
    * a regenerated source miss, so its next read infers afresh. */
  private def readParquet(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, sourceFingerprint(dir, name))
    val known = schemas.get(key)
    if (known != null) spark.read.schema(known).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemas.putIfAbsent(key, df.schema)
      df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across testdata generations, so the loader
    * branches on the dtype it actually gets instead of assuming one:
    *
    *  - NANOS: Spark 4's vectorized reader rejects ns outright
    *    ([PARQUET_TYPE_ILLEGAL]), so `nanosAsLong` loads raw ns longs
    *    and integer `div 1000` truncates to µs — ns longs (~1.7e18)
    *    exceed 2^53, so double division would corrupt low digits.
    *    DuckDB's `epoch_us` on TIMESTAMP_NS truncates identically.
    *  - MICROS (isAdjustedToUTC=false): loads as TIMESTAMP_NTZ; cast to
    *    session-local TimestampType. The session timezone is UTC
    *    (`pinSessionConf` pins it on every Tables read, both loose and
    *    bucketed branches), so the cast is a value identity and
    *    `unix_micros`/`window()`/`date_format` agree with DuckDB's
    *    TIMESTAMP semantics.
    *  - MICROS (adjusted): already TimestampType; pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")

  private def eventsLoose(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Side-effect-free: the UTC/nanosAsLong pinning this loader relies
    // on happens once in pinSessionConf (called by apply/loose before
    // any plan is built); assert rather than re-set so a future caller
    // that reaches this loader around the shared pin fails loudly
    // instead of silently reading under the wrong semantics.
    require(s.conf.get("spark.sql.session.timeZone") == "UTC",
      "events loader requires spark.sql.session.timeZone=UTC (Tables pins it; do not override)")
    val raw = readParquet(s, d, "events")
    val ts = raw.schema("ts").dataType match {
      case LongType          => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType  => col("ts").cast(TimestampType)
      case TimestampType     => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts loaded as unsupported type $other — expected ns-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
    raw.withColumn("ts", ts)
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
