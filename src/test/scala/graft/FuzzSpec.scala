package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Differential fuzz harness (r7 advice #2): every case generates ONE
  * random relational pipeline (filter → project | groupBy-agg | window)
  * from a seeded RNG and renders it TWICE — once through the DataFrame
  * DSL (Column objects), once as Spark-SQL text over temp views — then
  * asserts schema and row-for-row equality of the two executions. The
  * two renderings exercise independent front-end paths (Column AST
  * construction vs the SQL parser), so a divergence flags either a
  * formulation hazard of the kind this repo has hit cross-engine
  * before, or a genuine planner bug.
  *
  * The generators are SEEDED with the hazard classes already caught in
  * production rounds (BASELINE.md): round-half-tie literals (.00005,
  * 2.5 — the sim_range_search class), double aggregation routed
  * through DECIMAL (the float-summation-order class; plain
  * sum(double) is partition-order nondeterministic even within one
  * engine, which fixture 3 demonstrates), timestamp truncation
  * (date_trunc / unix_micros div), and explicit NULLS FIRST/LAST
  * ordering over nullable computed columns.
  *
  * Seeds are fixed (cases are reproducible by number); any divergence
  * should be reduced to a named fixture test here, per the advice.
  */
class FuzzSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val sf = Fixtures.testdata("0.001")

  // The cached views MUST be released when this suite ends: the shared
  // session's CacheManager matches plan fragments, so a still-cached
  // lineitem would silently replace other suites' parquet scans with
  // InMemoryTableScan and break their pushdown plan locks (observed:
  // PlansSpec filter_pred).
  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  override def afterAll(): Unit = {
    cached.foreach(_.unpersist(blocking = false))
    cached.clear()
    super.afterAll()
  }

  private case class Col(name: String, kind: String) // long | dbl | str | ts
  private case class Table(name: String, cols: Seq[Col], uniqueKey: Seq[String])

  private val tables = Seq(
    Table("lineitem", Seq(Col("l_orderkey", "long"), Col("l_partkey", "long"),
      Col("l_suppkey", "long"), Col("l_quantity", "dbl"),
      Col("l_extendedprice", "dbl"), Col("l_discount", "dbl"),
      Col("l_returnflag", "str"), Col("l_linestatus", "str"),
      Col("l_shipdate", "ts")), Seq.empty),
    Table("orders", Seq(Col("o_orderkey", "long"), Col("o_custkey", "long"),
      Col("o_totalprice", "dbl"), Col("o_orderstatus", "str"),
      Col("o_orderpriority", "str"), Col("o_orderdate", "ts")),
      Seq("o_orderkey")),
    Table("events", Seq(Col("event_id", "long"), Col("user_id", "long"),
      Col("event_type", "str"), Col("value", "dbl"), Col("ts", "ts")),
      Seq("event_id")),
    Table("documents", Seq(Col("doc_id", "long"), Col("lang", "str"),
      Col("source", "str"), Col("n_chars", "long")), Seq("doc_id")))

  /** One expression rendered both ways; `kind` drives composition. */
  private case class Expr(dsl: Column, sql: String, kind: String)

  private lazy val views: Unit = tables.foreach { t =>
    val df = Tables(spark, sf, t.name).cache()
    cached += df
    df.createOrReplaceTempView(s"fz_${t.name}")
  }

  // ---- generators ---------------------------------------------------

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  /** Tie-prone and ordinary numeric literals (hazard-seeded). */
  private def dblLit(r: Random): (Column, String) = {
    val v = pick(r, Seq("0.00005", "2.5", "0.5", "1.1", "3.25", "0.0001",
      "7.75", "100.125"))
    (expr(s"CAST($v AS DOUBLE)"), s"CAST($v AS DOUBLE)")
  }

  private def longLit(r: Random): (Column, String) = {
    val v = pick(r, Seq(1L, 2L, 3L, 7L, 10L, 97L, 1000L))
    (lit(v), v.toString)
  }

  private def baseCol(r: Random, t: Table, kind: String): Col =
    pick(r, t.cols.filter(_.kind == kind))

  private def numExpr(r: Random, t: Table, depth: Int): Expr = {
    val useDbl = t.cols.exists(_.kind == "dbl") && r.nextBoolean()
    val kind = if (useDbl) "dbl" else "long"
    val c = baseCol(r, t, kind)
    if (depth == 0 || r.nextInt(3) == 0) Expr(col(c.name), c.name, kind)
    else {
      val inner = Expr(col(c.name), c.name, kind)
      r.nextInt(6) match {
        case 0 =>
          val (dl, sl) = if (kind == "dbl") dblLit(r) else longLit(r)
          Expr(inner.dsl + dl, s"(${inner.sql} + $sl)", kind)
        case 1 =>
          val (dl, sl) = if (kind == "dbl") dblLit(r) else longLit(r)
          Expr(inner.dsl * dl, s"(${inner.sql} * $sl)", kind)
        case 2 if kind == "long" =>
          val (dl, sl) = longLit(r)
          Expr(pmod(inner.dsl, dl), s"pmod(${inner.sql}, $sl)", "long")
        case 3 if kind == "dbl" =>
          // hazard seed: round at a digit where .xxxx5 ties live
          Expr(round(inner.dsl, 4), s"round(${inner.sql}, 4)", "dbl")
        case 4 =>
          Expr(abs(inner.dsl), s"abs(${inner.sql})", kind)
        case _ =>
          val (dl, sl) = if (kind == "dbl") dblLit(r) else longLit(r)
          Expr(inner.dsl - dl, s"(${inner.sql} - $sl)", kind)
      }
    }
  }

  /** Possibly-null computed value (hazard seed for null ordering). */
  private def nullableExpr(r: Random, t: Table): Expr = {
    val e = numExpr(r, t, 1)
    val (dl, sl) = longLit(r)
    r.nextInt(3) match {
      case 0 => Expr(nullif(pmod(e.dsl.cast("long"), dl), lit(0L)),
        s"nullif(pmod(CAST(${e.sql} AS BIGINT), $sl), 0)", "long")
      case 1 => Expr(when(e.dsl > dl, e.dsl), // else NULL
        s"CASE WHEN ${e.sql} > $sl THEN ${e.sql} END", e.kind)
      case _ => e
    }
  }

  private def tsExpr(r: Random, t: Table): Option[Expr] =
    t.cols.find(_.kind == "ts").map { c =>
      r.nextInt(3) match {
        case 0 => Expr(date_trunc("hour", col(c.name)).cast("string"),
          s"CAST(date_trunc('hour', ${c.name}) AS STRING)", "str")
        case 1 => Expr(to_date(col(c.name)).cast("string"),
          s"CAST(CAST(${c.name} AS DATE) AS STRING)", "str")
        case _ => Expr(expr(s"unix_micros(${c.name}) div 1000000"),
          s"(unix_micros(${c.name}) div 1000000)", "long")
      }
    }

  private def predicate(r: Random, t: Table): Expr = {
    def one(): Expr = r.nextInt(5) match {
      case 0 =>
        val e = numExpr(r, t, 1)
        val (dl, sl) =
          if (e.kind == "dbl") dblLit(r)
          else { val (d, s) = longLit(r); (d * lit(100), s"($s * 100)") }
        val op = pick(r, Seq(("<", (a: Column, b: Column) => a < b),
          (">", (a: Column, b: Column) => a > b),
          ("<=", (a: Column, b: Column) => a <= b),
          (">=", (a: Column, b: Column) => a >= b)))
        Expr(op._2(e.dsl, if (e.kind == "dbl") dl else dl),
          s"(${e.sql} ${op._1} ${if (e.kind == "dbl") sl else sl})", "bool")
      case 1 =>
        val c = baseCol(r, t, "str")
        Expr(col(c.name).isNotNull, s"(${c.name} IS NOT NULL)", "bool")
      case 2 =>
        val c = baseCol(r, t, "long")
        val (dl, sl) = longLit(r)
        Expr(pmod(col(c.name), dl + lit(1)) === lit(0),
          s"(pmod(${c.name}, ($sl + 1)) = 0)", "bool")
      case 3 =>
        val c = baseCol(r, t, "str")
        val letter = ('a' + r.nextInt(4)).toChar
        Expr(lower(col(c.name)).startsWith(letter.toString),
          s"(lower(${c.name}) LIKE '$letter%')", "bool")
      case _ =>
        val e = numExpr(r, t, 0)
        val (dl, sl) = longLit(r)
        Expr(e.dsl.cast("long") =!= sl.toLong,
          s"(CAST(${e.sql} AS BIGINT) <> $sl)", "bool")
    }
    val n = 1 + r.nextInt(2)
    Seq.fill(n)(one()).reduce { (a, b) =>
      if (r.nextBoolean()) Expr(a.dsl && b.dsl, s"(${a.sql} AND ${b.sql})", "bool")
      else Expr(a.dsl || b.dsl, s"(${a.sql} OR ${b.sql})", "bool")
    }
  }

  // ---- pipeline shapes ----------------------------------------------

  /** Row-mode: filter + project + total-order sort (+ maybe limit). */
  private def rowCase(r: Random, t: Table): (DataFrame, String) = {
    val p = predicate(r, t)
    val es = (Seq(numExpr(r, t, 1), nullableExpr(r, t)) ++ tsExpr(r, t).toSeq)
      .zipWithIndex.map { case (e, i) => (e.dsl.as(s"c$i"), s"${e.sql} AS c$i", s"c$i") }
    // explicit null placement — the same on both sides (hazard seed)
    val nullsFirst = r.nextBoolean()
    val ord = es.map(_._3)
    val dslOrd = ord.map(c => if (nullsFirst) col(c).asc_nulls_first else col(c).asc_nulls_last)
    val sqlOrd = ord.map(c => s"$c ASC NULLS ${if (nullsFirst) "FIRST" else "LAST"}")
    val lim = if (r.nextInt(3) == 0) Some(50 + r.nextInt(200)) else None
    val df0 = spark.table(s"fz_${t.name}").filter(p.dsl)
      .select(es.map(_._1): _*).orderBy(dslOrd: _*)
    val df = lim.fold(df0)(df0.limit)
    val sql = s"SELECT ${es.map(_._2).mkString(", ")} FROM fz_${t.name} " +
      s"WHERE ${p.sql} ORDER BY ${sqlOrd.mkString(", ")}" +
      lim.fold("")(l => s" LIMIT $l")
    (df, sql)
  }

  /** Agg-mode: filter + groupBy + aggregates + total-order sort.
    * Double-valued aggregates are routed through DECIMAL(18,6) — the
    * float-summation-order discipline every graded query uses. */
  private def aggCase(r: Random, t: Table): (DataFrame, String) = {
    val p = predicate(r, t)
    val strKey = baseCol(r, t, "str")
    val keys = Seq((col(strKey.name), strKey.name, strKey.name)) ++
      (if (r.nextBoolean()) {
        val c = baseCol(r, t, "long")
        val (dl, sl) = longLit(r)
        Seq((pmod(col(c.name), dl + lit(1)).as("k2"),
          s"pmod(${c.name}, ($sl + 1)) AS k2", "k2"))
      } else tsExpr(r, t).toSeq.map(e => (e.dsl.as("k2"), s"${e.sql} AS k2", "k2")))
    def dec(e: Expr): (Column, String) =
      (e.dsl.cast("decimal(18,6)"), s"CAST(${e.sql} AS DECIMAL(18,6))")
    val aggPool: Seq[(Column, String, String)] = {
      val eN = numExpr(r, t, 1)
      val eL = numExpr(r, t, 0)
      val (dn, sn) = dec(eN)
      Seq(
        (count(lit(1)).as("n"), "count(*) AS n", "n"),
        (sum(dn).as("s"), s"sum($sn) AS s", "s"),
        (min(eL.dsl).as("mn"), s"min(${eL.sql}) AS mn", "mn"),
        (max(eL.dsl).as("mx"), s"max(${eL.sql}) AS mx", "mx"),
        (avg(dn).as("av"), s"avg($sn) AS av", "av"),
        (count(when(p.dsl, 1)).as("cf"),
          s"count(CASE WHEN ${p.sql} THEN 1 END) AS cf", "cf"))
    }
    val aggs = r.shuffle(aggPool).take(1 + r.nextInt(3))
    val outCols = keys.map(_._3) ++ aggs.map(_._3)
    val df = spark.table(s"fz_${t.name}").filter(p.dsl)
      .groupBy(keys.map(_._1): _*)
      .agg(aggs.head._1, aggs.tail.map(_._1): _*)
      .orderBy(outCols.map(c => col(c).asc_nulls_first): _*)
    val sql = s"SELECT ${(keys.map(_._2) ++ aggs.map(_._2)).mkString(", ")} " +
      s"FROM fz_${t.name} WHERE ${p.sql} GROUP BY ${keys.map(_._3).mkString(", ")} " +
      s"ORDER BY ${outCols.map(c => s"$c ASC NULLS FIRST").mkString(", ")}"
    (df, sql)
  }

  /** Window-mode (unique-key tables only): deterministic frame over a
    * total per-partition order. */
  private def winCase(r: Random, t: Table): (DataFrame, String) = {
    import org.apache.spark.sql.expressions.Window
    val p = predicate(r, t)
    val part = baseCol(r, t, "str").name
    val key = t.uniqueKey.head
    val w = Window.partitionBy(part).orderBy(col(key))
    val wSql = s"PARTITION BY $part ORDER BY $key"
    val eL = numExpr(r, t, 0)
    val fns: Seq[(Column, String)] = Seq(
      (row_number().over(w), s"row_number() OVER ($wSql)"),
      (rank().over(w), s"rank() OVER ($wSql)"),
      (sum(eL.dsl).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        s"sum(${eL.sql}) OVER ($wSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),
      (lag(col(key), 1).over(w), s"lag($key, 1) OVER ($wSql)"))
    val chosen = r.shuffle(fns).take(1 + r.nextInt(2)).zipWithIndex
      .map { case ((d, s), i) => (d.as(s"w$i"), s"$s AS w$i", s"w$i") }
    val outCols = Seq(part, key) ++ chosen.map(_._3)
    val df = spark.table(s"fz_${t.name}").filter(p.dsl)
      .select(Seq(col(part), col(key)) ++ chosen.map(_._1): _*)
      .orderBy(outCols.map(c => col(c).asc_nulls_last): _*)
    val sql = s"SELECT $part, $key, ${chosen.map(_._2).mkString(", ")} " +
      s"FROM fz_${t.name} WHERE ${p.sql} " +
      s"ORDER BY ${outCols.map(c => s"$c ASC NULLS LAST").mkString(", ")}"
    (df, sql)
  }

  /** Duplicate-order-key window mode (r11, r10 verdict #6): frames
    * over NON-unique order keys — RANGE vs ROWS tie semantics and
    * ignoreNulls corners are exactly where engines disagree — in the
    * two formulations that stay deterministic under ties:
    *  (a) peer-inclusive RANGE frames and the rank family ordered by
    *      the duplicate key ALONE (ties are peers: every frame bound
    *      and rank value is tie-order-free by definition), sums
    *      routed through DECIMAL so peer-set aggregation order cannot
    *      show either;
    *  (b) ROWS frames, lag, and first/last_value-ignoreNulls ordered
    *      by (dup key, unique key) — the evt_pit_features value-frame
    *      discipline: a full tiebreak pins the row sequence, so
    *      position-based frames are well-defined.
    * The final ORDER BY rides (partition, unique key) — a total
    * order — so the row-for-row compare is itself tie-free. */
  private def dupWinCase(r: Random, t: Table): (DataFrame, String) = {
    import org.apache.spark.sql.expressions.Window
    val p = predicate(r, t)
    val part = baseCol(r, t, "str").name
    val uk = t.uniqueKey.head
    val m = pick(r, Seq(3L, 5L, 7L, 11L))
    val dup = pmod(col(uk), lit(m))
    val dupSql = s"pmod($uk, $m)"
    val eL = numExpr(r, t, 1)
    val eDec = eL.dsl.cast("decimal(18,6)")
    val eDecSql = s"CAST(${eL.sql} AS DECIMAL(18,6))"
    val nv = nullableExpr(r, t)
    val wPeer = Window.partitionBy(col(part)).orderBy(dup)
    val wPeerSql = s"PARTITION BY $part ORDER BY $dupSql"
    val wPin = Window.partitionBy(col(part)).orderBy(dup, col(uk))
    val wPinSql = s"PARTITION BY $part ORDER BY $dupSql, $uk"
    val fns: Seq[(Column, String)] = Seq(
      (rank().over(wPeer), s"rank() OVER ($wPeerSql)"),
      (dense_rank().over(wPeer), s"dense_rank() OVER ($wPeerSql)"),
      (sum(eDec).over(
        wPeer.rangeBetween(Window.unboundedPreceding, Window.currentRow)),
        s"sum($eDecSql) OVER ($wPeerSql RANGE BETWEEN UNBOUNDED PRECEDING " +
          "AND CURRENT ROW)"),
      (count(lit(1)).over(wPeer.rangeBetween(-2L, 2L)),
        s"count(*) OVER ($wPeerSql RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)"),
      (min(eDec).over(wPeer.rangeBetween(Window.currentRow, 3L)),
        s"min($eDecSql) OVER ($wPeerSql RANGE BETWEEN CURRENT ROW " +
          "AND 3 FOLLOWING)"),
      (sum(eDec).over(wPin.rowsBetween(-2L, Window.currentRow)),
        s"sum($eDecSql) OVER ($wPinSql ROWS BETWEEN 2 PRECEDING " +
          "AND CURRENT ROW)"),
      (lag(eDec, 1).over(wPin), s"lag($eDecSql, 1) OVER ($wPinSql)"),
      (first(nv.dsl, ignoreNulls = true).over(
        wPin.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        s"first_value(${nv.sql}, true) OVER ($wPinSql ROWS BETWEEN " +
          "UNBOUNDED PRECEDING AND CURRENT ROW)"),
      (last(nv.dsl, ignoreNulls = true).over(
        wPin.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        s"last_value(${nv.sql}, true) OVER ($wPinSql ROWS BETWEEN " +
          "UNBOUNDED PRECEDING AND CURRENT ROW)"))
    val chosen = r.shuffle(fns).take(1 + r.nextInt(3)).zipWithIndex
      .map { case ((d, s), i) => (d.as(s"w$i"), s"$s AS w$i", s"w$i") }
    val df = spark.table(s"fz_${t.name}").filter(p.dsl)
      .select(Seq(col(part), col(uk)) ++ chosen.map(_._1): _*)
      .orderBy(col(part).asc_nulls_last, col(uk).asc)
    val sql = s"SELECT $part, $uk, ${chosen.map(_._2).mkString(", ")} " +
      s"FROM fz_${t.name} WHERE ${p.sql} " +
      s"ORDER BY $part ASC NULLS LAST, $uk ASC"
    (df, sql)
  }

  /** Join-mode: random filters on both sides of the lineitem⋈orders
    * orderkey join, random join type (incl. semi/anti), aggregated to
    * a one-row summary — exercises the join surface the other three
    * shapes never touch. */
  private def joinCase(r: Random): (DataFrame, String) = {
    val li = tables.find(_.name == "lineitem").get
    val or = tables.find(_.name == "orders").get
    val p1 = predicate(r, li)
    val p2 = predicate(r, or)
    val jt = pick(r, Seq("INNER", "LEFT", "LEFT SEMI", "LEFT ANTI"))
    val left = spark.table("fz_lineitem").filter(p1.dsl)
    val right = spark.table("fz_orders").filter(p2.dsl)
    val dslType = jt match {
      case "INNER" => "inner"
      case "LEFT" => "left"
      case "LEFT SEMI" => "left_semi"
      case _ => "left_anti"
    }
    val joined = left.join(right,
      left("l_orderkey") === right("o_orderkey"), dslType)
    val (df, sel) =
      if (jt == "LEFT SEMI" || jt == "LEFT ANTI")
        (joined.agg(count(lit(1)).as("n"), sum("l_orderkey").as("sk"),
          sum("l_partkey").as("sp")),
          "count(*) AS n, sum(l_orderkey) AS sk, sum(l_partkey) AS sp")
      else
        (joined.agg(count(lit(1)).as("n"), sum("l_orderkey").as("sk"),
          count(col("o_orderkey")).as("nr"), sum("o_custkey").as("sc")),
          "count(*) AS n, sum(l_orderkey) AS sk, " +
            "count(o_orderkey) AS nr, sum(o_custkey) AS sc")
    val sql = s"SELECT $sel FROM (SELECT * FROM fz_lineitem WHERE ${p1.sql}) a " +
      s"$jt JOIN (SELECT * FROM fz_orders WHERE ${p2.sql}) b " +
      "ON a.l_orderkey = b.o_orderkey"
    (df, sql)
  }

  /** Set-op mode (r9, r8 advice #5): two filtered projections of one
    * table through UNION [ALL] / EXCEPT [ALL] / INTERSECT [ALL] with a
    * NULLABLE computed column — null-semantics stress: set ops compare
    * NULLs as EQUAL (null-safe <=> grouping), unlike predicates, and
    * SQL UNION is DISTINCT while the DSL `union` is ALL (rendered as
    * union().distinct() — the classic API trap). */
  private def setCase(r: Random, t: Table): (DataFrame, String) = {
    val p1 = predicate(r, t)
    val p2 = predicate(r, t)
    val e = nullableExpr(r, t)
    val key = baseCol(r, t, "long").name
    def side(p: Expr) = spark.table(s"fz_${t.name}").filter(p.dsl)
      .select(col(key).as("k"), e.dsl.as("v"))
    def sqlSide(p: Expr) =
      s"SELECT $key AS k, ${e.sql} AS v FROM fz_${t.name} WHERE ${p.sql}"
    val op = pick(r, Seq("UNION ALL", "UNION", "EXCEPT", "EXCEPT ALL",
      "INTERSECT", "INTERSECT ALL"))
    val combined = op match {
      case "UNION ALL" => side(p1).unionAll(side(p2))
      case "UNION" => side(p1).union(side(p2)).distinct()
      case "EXCEPT" => side(p1).except(side(p2))
      case "EXCEPT ALL" => side(p1).exceptAll(side(p2))
      case "INTERSECT" => side(p1).intersect(side(p2))
      case _ => side(p1).intersectAll(side(p2))
    }
    val df = combined.orderBy(col("k").asc_nulls_first, col("v").asc_nulls_first)
    val sql = s"SELECT * FROM ((${sqlSide(p1)}) $op (${sqlSide(p2)})) u " +
      "ORDER BY k ASC NULLS FIRST, v ASC NULLS FIRST"
    (df, sql)
  }

  /** Subquery mode (r9): scalar-agg subquery in WHERE, or an IN
    * subquery — the DSL renders the scalar as a broadcast cross join +
    * filter and the IN as a left-semi join, so the two executions take
    * genuinely different plan shapes for the same semantics. NOT IN is
    * deliberately out of scope: under NULLs its three-valued logic is
    * NOT equivalent to an anti join, and the generator would have to
    * special-case exactly the divergence it is meant to detect. */
  private def subqCase(r: Random, t: Table): (DataFrame, String) = {
    val key = baseCol(r, t, "long").name
    val p2 = predicate(r, t)
    val v = s"fz_${t.name}"
    if (r.nextBoolean()) {
      // scalar: outer rows above the filtered subquery's decimal avg
      val e = numExpr(r, t, 1)
      val inner = numExpr(r, t, 1)
      val (dn, sn) = (inner.dsl.cast("decimal(18,6)"),
        s"CAST(${inner.sql} AS DECIMAL(18,6))")
      val th = spark.table(v).filter(p2.dsl).agg(avg(dn).as("th"))
      val df = spark.table(v).crossJoin(broadcast(th))
        .filter(e.dsl.cast("double") > col("th").cast("double"))
        .agg(count(lit(1)).as("n"), sum(col(key)).as("sk"))
      val sql = s"SELECT count(*) AS n, sum($key) AS sk FROM $v " +
        s"WHERE CAST(${e.sql} AS DOUBLE) > CAST(" +
        s"(SELECT avg($sn) FROM $v WHERE ${p2.sql}) AS DOUBLE)"
      (df, sql)
    } else {
      // IN: membership in the filtered key set via left-semi join
      val sub = spark.table(v).filter(p2.dsl).select(col(key).as("kk"))
      val df = spark.table(v)
        .join(sub, col(key) === col("kk"), "left_semi")
        .agg(count(lit(1)).as("n"), sum(col(key)).as("sk"))
      val sql = s"SELECT count(*) AS n, sum($key) AS sk FROM $v " +
        s"WHERE $key IN (SELECT $key FROM $v WHERE ${p2.sql})"
      (df, sql)
    }
  }

  /** Unpivot mode (r9): project key + 2 numeric columns cast DOUBLE,
    * melt via Dataset.unpivot vs SQL UNPIVOT. Values are non-null base
    * columns by construction, so SQL UNPIVOT's default EXCLUDE-NULLS
    * and the DSL's keep-nulls cannot diverge on dropped rows — the
    * comparison targets the melt shape itself (id handling, name/value
    * column naming, row multiplication). */
  private def unpivotCase(r: Random, t: Table): (DataFrame, String) = {
    val key = t.uniqueKey.head
    val nums = r.shuffle(t.cols.filter(c =>
      (c.kind == "long" || c.kind == "dbl") && c.name != key)).take(2)
    val proj = nums.zipWithIndex.map { case (c, i) =>
      (col(c.name).cast("double").as(s"v$i"), s"CAST(${c.name} AS DOUBLE) AS v$i")
    }
    val p = predicate(r, t)
    val base = spark.table(s"fz_${t.name}").filter(p.dsl)
      .select(col(key) +: proj.map(_._1): _*)
    val df = base.unpivot(Array(col(key)),
        proj.indices.map(i => col(s"v$i")).toArray, "metric", "val")
      .orderBy(col(key).asc, col("metric").asc)
    val sql = s"SELECT $key, metric, val FROM (" +
      s"SELECT $key, ${proj.map(_._2).mkString(", ")} " +
      s"FROM fz_${t.name} WHERE ${p.sql}) " +
      s"UNPIVOT (val FOR metric IN (${proj.indices.map(i => s"v$i").mkString(", ")})) " +
      s"ORDER BY $key ASC, metric ASC"
    (df, sql)
  }

  /** Correlated-LATERAL mode (r10, r9 verdict #5): per outer row, the
    * top-k correlated inner rows by a value expression — SQL renders
    * the textbook `, LATERAL (SELECT ... WHERE inner.key = o.key
    * ORDER BY val, <tiebreakers> LIMIT k)` (Spark's decorrelation
    * must turn the per-row LIMIT into a partitioned rank), the DSL
    * renders the window formulation (row_number over partitionBy(key)
    * + filter + inner join). ORDER BY leads with the PROJECTED value,
    * so even full-sort-key ties at the LIMIT boundary (lineitem has
    * duplicate rows) leave the selected value multiset well-defined —
    * exactly the discipline the graded top-k operators use. */
  private def lateralCase(r: Random, seed: Int): (DataFrame, String) = {
    val k = pick(r, Seq(1, 2, 3, 5))
    val desc0 = r.nextBoolean()
    val dir = if (desc0) "DESC" else "ASC"
    val (innerT, innerKey, outerKey, tiebreak) =
      if (r.nextBoolean())
        (tables.head, "l_orderkey", "o_orderkey",
          Seq("l_partkey", "l_suppkey", "l_extendedprice"))
      else
        (tables(2), "user_id", "o_custkey", Seq("event_id"))
    val e = numExpr(r, innerT, 1)
    val p = predicate(r, tables(1)) // outer = orders (unique key)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ik")
      .orderBy((if (desc0) col("val").desc else col("val").asc) +:
        tiebreak.map(col(_).asc): _*)
    val top = spark.table(s"fz_${innerT.name}")
      .select(col(innerKey).as("ik") +: e.dsl.as("val") +: tiebreak.map(col): _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("ik"), col("val"))
    val df = spark.table("fz_orders").filter(p.dsl)
      .join(top, col(outerKey) === col("ik"))
      .select(col(outerKey), col("val"))
      .orderBy(col(outerKey).asc, col("val").asc_nulls_first)
    val sql = s"SELECT o.$outerKey, l.val " +
      s"FROM (SELECT * FROM fz_orders WHERE ${p.sql}) o, " +
      s"LATERAL (SELECT ${e.sql} AS val FROM fz_${innerT.name} " +
      s"WHERE $innerKey = o.$outerKey " +
      s"ORDER BY val $dir, ${tiebreak.mkString(", ")} LIMIT $k) l " +
      s"ORDER BY o.$outerKey ASC, l.val ASC NULLS FIRST"
    (df, sql)
  }

  /** Pivot mode (r10, r9 verdict #5): groupBy().pivot(values).agg vs
    * SQL PIVOT over the same filtered projection — explicit value
    * lists (the scale-stable form; inferring values is a full extra
    * scan), aggregate routed through DECIMAL where it sums doubles.
    * Targets the wide-column naming + missing-cell NULL semantics the
    * fixed graded pivot queries exercise only at one shape. */
  private val pivotSpecs = Seq(
    ("lineitem", "l_linestatus", "l_returnflag", Seq("A", "N", "R"),
      "l_quantity"),
    ("lineitem", "l_returnflag", "l_linestatus", Seq("F", "O"),
      "l_extendedprice"),
    ("orders", "o_orderpriority", "o_orderstatus", Seq("F", "O", "P"),
      "o_totalprice"),
    ("documents", "source", "lang", Seq("de", "en", "es", "fr", "zh"),
      "n_chars"))

  private def pivotCase(r: Random): (DataFrame, String) = {
    val (tn, gc, pc, values, ac) = pick(r, pivotSpecs)
    val t = tables.find(_.name == tn).get
    val p = predicate(r, t)
    val agg = r.nextInt(3)
    val base = spark.table(s"fz_$tn").filter(p.dsl)
      .select(col(gc).as("g"), col(pc).as("pc"),
        col(ac).cast("decimal(18,6)").as("val"))
    val aggDsl = agg match {
      case 0 => sum(col("val"))
      case 1 => count(col("val"))
      case _ => min(col("val"))
    }
    val aggSql = agg match {
      case 0 => "sum(val)"
      case 1 => "count(val)"
      case _ => "min(val)"
    }
    val df = base.groupBy("g").pivot("pc", values).agg(aggDsl)
      .orderBy(col("g").asc)
    val inList = values.map(v => s"'$v' AS `$v`").mkString(", ")
    val sql = s"SELECT * FROM (SELECT g, pc, val FROM " +
      s"(SELECT $gc AS g, $pc AS pc, " +
      s"CAST($ac AS DECIMAL(18,6)) AS val FROM fz_$tn WHERE ${p.sql})) " +
      s"PIVOT ($aggSql FOR pc IN ($inList)) ORDER BY g ASC"
    (df, sql)
  }

  // ---- the differential check ---------------------------------------

  private def assertAgree(seed: Int, df: DataFrame, sql: String): Unit = {
    val viaSql = spark.sql(sql)
    assert(df.schema.fieldNames.toSeq === viaSql.schema.fieldNames.toSeq,
      s"seed $seed: column mismatch\nSQL: $sql")
    val a = df.collect().map(_.toSeq).toSeq
    val b = viaSql.collect().map(_.toSeq).toSeq
    assert(a === b,
      s"seed $seed: DSL and SQL diverge (${a.length} vs ${b.length} rows)\n" +
        s"SQL: $sql\nfirst diff: ${a.zip(b).find { case (x, y) => x != y }}")
  }

  private def check(seed: Int): Unit = {
    views
    val r = new Random(seed)
    val t = pick(r, tables)
    val (df, sql) = r.nextInt(4) match {
      case 0 => rowCase(r, t)
      case 1 => aggCase(r, t)
      case 2 if t.uniqueKey.nonEmpty => winCase(r, t)
      case 2 => aggCase(r, t)
      case _ => joinCase(r)
    }
    assertAgree(seed, df, sql)
  }

  private def checkRelational(seed: Int): Unit = {
    views
    val r = new Random(seed)
    val (df, sql) = r.nextInt(3) match {
      case 0 => setCase(r, pick(r, tables))
      case 1 => subqCase(r, pick(r, tables))
      case _ => unpivotCase(r, pick(r, tables.filter(_.uniqueKey.nonEmpty)))
    }
    assertAgree(seed, df, sql)
  }

  // 120 seeded cases, 4 test blocks for progress granularity
  for (block <- 0 until 4)
    test(s"differential fuzz: seeds ${block * 30}..${block * 30 + 29}") {
      (block * 30 until (block + 1) * 30).foreach(check)
    }

  // 60 seeded set-op/subquery/unpivot cases (r9, r8 advice #5);
  // disjoint seed range so the original 120 stay reproducible.
  for (block <- 0 until 2)
    test(s"relational fuzz: seeds ${200 + block * 30}..${200 + block * 30 + 29}") {
      (200 + block * 30 until 200 + (block + 1) * 30).foreach(checkRelational)
    }

  private def checkLateralPivot(seed: Int): Unit = {
    views
    val r = new Random(seed)
    val (df, sql) =
      if (r.nextBoolean()) lateralCase(r, seed) else pivotCase(r)
    assertAgree(seed, df, sql)
  }

  // 30 seeded correlated-LATERAL / PIVOT cases (r10, r9 verdict #5) —
  // the last §2.7 corners outside the harness; disjoint seed range.
  test("lateral/pivot fuzz: seeds 300..329") {
    (300 until 330).foreach(checkLateralPivot)
  }

  // 30 seeded duplicate-order-key window cases (r11, r10 verdict #6);
  // disjoint seed range so every earlier block stays reproducible.
  test("duplicate-order-key window fuzz: seeds 330..359") {
    views
    (330 until 360).foreach { seed =>
      val r = new Random(seed)
      val t = pick(r, tables.filter(_.uniqueKey.nonEmpty))
      val (df, sql) = dupWinCase(r, t)
      assertAgree(seed, df, sql)
    }
  }

  // ---- hazard-class fixtures (the classes that motivated the suite) --

  test("fixture: double sums are partition-order sensitive; decimal sums are not") {
    views
    val li = spark.table("fz_lineitem")
    val decSums = Seq(1, 3, 13).map { n =>
      li.repartition(n)
        .agg(sum(col("l_extendedprice").cast("decimal(18,6)"))).head.getDecimal(0)
    }
    assert(decSums.distinct.size === 1,
      "DECIMAL sum must be identical under any partitioning — the " +
        "discipline graded queries rely on")
    // The double sum is *usually* partition-order dependent in its low
    // bits; we don't assert inequality (it may collide), only that the
    // decimal route is exact: decimal total == exactly-summed doubles
    // via BigDecimal on the driver.
    val exact = li.select(col("l_extendedprice")).collect()
      .map(r => BigDecimal(r.getDouble(0))).sum.setScale(6)
    assert(decSums.head.compareTo(exact.underlying.stripTrailingZeros) === 0 ||
      BigDecimal(decSums.head) === exact)
  }

  test("fixture: round-half ties agree between DSL and SQL at the .00005 boundary") {
    import spark.implicits._
    val ties = Seq(0.00005, 0.00015, 2.5, 3.5, -0.00005, 1.00005)
      .toDF("v").cache()
    cached += ties
    ties.createOrReplaceTempView("fz_ties")
    val a = ties.select(round(col("v"), 4).as("r")).collect().map(_.getDouble(0)).toSeq
    val b = spark.sql("SELECT round(v, 4) AS r FROM fz_ties")
      .collect().map(_.getDouble(0)).toSeq
    assert(a === b, "round() must be the same function through both front-ends")
  }

  test("fixture: timestamp truncation — unix_micros div vs date_trunc agree on hour grain") {
    views
    val viaDiv = spark.table("fz_events")
      .select((expr("unix_micros(ts) div 3600000000") * 3600L).as("h"))
    val viaTrunc = spark.table("fz_events")
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
    assert(viaDiv.exceptAll(viaTrunc).isEmpty && viaTrunc.exceptAll(viaDiv).isEmpty,
      "integer-div truncation and date_trunc must agree for epoch-positive data")
  }

  test("fixture: NULLS FIRST/LAST explicit ordering matches between DSL and SQL") {
    views
    val df = spark.table("fz_orders")
      .select(nullif(pmod(col("o_orderkey"), lit(7)), lit(0)).as("k"),
        col("o_orderkey"))
      .orderBy(col("k").desc_nulls_first, col("o_orderkey").asc)
      .limit(100)
    val viaSql = spark.sql(
      """SELECT nullif(pmod(o_orderkey, 7), 0) AS k, o_orderkey
        |FROM fz_orders
        |ORDER BY k DESC NULLS FIRST, o_orderkey ASC LIMIT 100""".stripMargin)
    assert(df.collect().map(_.toSeq).toSeq === viaSql.collect().map(_.toSeq).toSeq)
  }
}
