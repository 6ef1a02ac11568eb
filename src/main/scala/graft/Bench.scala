package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(4)
    // SPARK_GRAFT_QUERIES=a,b,c: bench only the named queries (exact
    // names) — the sf1 stress leg uses this to time the heavy band
    // without paying a full 256-query pass at 10× data.
    val qFilter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benched = SparkEntry.queries.filter { case (n, _) =>
      qFilter.forall(_.contains(n)) }
    // SPARK_GRAFT_BUCKETED=true: materialize the hash-clustered catalog
    // layout for sfDir and time the ENTIRE query set over it (r7 advice
    // #1 — measuring the shuffle-elimination payoff the correctness
    // matrix already proved safe). Materialization happens BEFORE the
    // warm-up pass, so its one-time shuffle cost never lands in a
    // timed pass — exactly how a production table would amortize it.
    val bucketed = sys.env.get("SPARK_GRAFT_BUCKETED").contains("true")
    if (bucketed) {
      Tables.materializeBucketed(spark, sfDir)
      spark.conf.set(Tables.BucketedConf, "true")
    }
    // Every query is timed through a `noop` write, which computes
    // every output row and column through the query's full physical
    // plan (as the benchmark harness does). A `count()` would let the
    // optimizer drop the terminal sort, every window and every unused
    // column, so its time says nothing about the action layer.
    def run(fn: (SparkSession, String) => DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Untimed warm-up pass: single-JVM local mode pays JIT, codegen
    // compilation, and classloading on first call — noise a long-lived
    // cluster amortizes away. The timed pass below measures
    // steady-state plan execution.
    benched.foreach { case (_, fn) =>
      try run(fn) catch { case _: Throwable => () }
    }
    // Two timed passes, min per query: this machine shows transient
    // multi-second host stalls (same query 1.3 s vs 54 s minutes
    // apart); min-of-2 reports steady-state plan cost instead of
    // whichever pass a stall landed on.
    // Failures are RECORDED, not swallowed (r4 verdict #7): a query
    // that starts throwing must not time as a plausible number — it
    // lands in the emitted "errors" map with its exception class.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timedPass(): Map[String, Double] = {
      // Measurement contract (r16): the session-level index/graph memo
      // (SessionMemo) is dropped at the START of every timed pass, so a
      // pass never reads a frame built during the untimed warm-up (or a
      // prior pass) — each timed pass computes everything from the
      // parquet inputs; shared frames amortize only WITHIN the pass,
      // i.e. the first consumer query pays the build in its own timing.
      graft.operators.SessionMemo.clear()
      benched.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try run(fn)
        catch { case e: Throwable => errors(name) = e.getClass.getSimpleName }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    val (p1, p2) = (timedPass(), timedPass())
    if (bucketed) {
      spark.conf.set(Tables.BucketedConf, "false")
      Tables.dropBucketed(spark, sfDir)
    }
    val results = p1.map { case (k, v) => k -> math.min(v, p2(k)) }
    def jmap(kvs: Iterable[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + BigDecimal(v)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble }
        .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val errJson = errors
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val layout = if (bucketed) "bucketed" else "loose"
    val full = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"errors":$errJson,"layout":"$layout","queries":${jmap(results)},"sf":"$sfDir"}"""
    // The full per-query map (~12 KB) is longer than a ~2 KB captured
    // log tail, so it goes to bench_out.json in the working directory,
    // and stdout gets a COMPACT line (total + the 25 slowest queries,
    // ms precision) that fits the tail whole.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    val slowest = results.toSeq.sortBy(-_._2).take(25)
    val compact = s"""{"metric":"total","value":${BigDecimal(total)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"errors":$errJson,"layout":"$layout","queries":${jmap(slowest)},"queries_note":"slowest 25 of ${results.size}; full map in bench_out.json in the working directory","sf":"$sfDir"}"""
    // Printed TWICE (r17, the r16 verdict's #7): BENCH_r15 went
    // "parsed": null because the single compact line sat exactly on
    // the driver's captured-tail boundary. Two identical copies mean
    // a truncated last line still leaves one whole line in the tail
    // window; identical content makes either parse correct.
    println(compact)
    println(compact)
    Console.out.flush()
    spark.stop()
  }
}
