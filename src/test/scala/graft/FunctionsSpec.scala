package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, ShingleIds}

/** The custom Catalyst expressions must be drop-in equivalent to the
  * declarative HOF formulations they replaced — checked here on real
  * embeddings/documents data, plus the SQL registration path.
  */
class FunctionsSpec extends SparkSpec {

  private val sf = Fixtures.testdata("0.001")

  test("vec_dot / vec_norm match the HOF formulation on real embeddings") {
    val hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val e = Tables.embeddings(spark, sf)
    val diff = e.select(
      abs(GraftFunctions.vecDot(col("embedding"), col("embedding"))
        - hofDot(col("embedding"), col("embedding"))).as("d1"),
      abs(GraftFunctions.vecNorm(col("embedding"))
        - sqrt(hofDot(col("embedding"), col("embedding")))).as("d2"))
      .agg(max("d1"), max("d2")).collect().head
    // Identical accumulation order → bitwise-equal doubles, not just close.
    assert(diff.getDouble(0) === 0.0)
    assert(diff.getDouble(1) === 0.0)
  }

  test("array_pairs equals the HOF flatten-transform-slice expansion, both elem types") {
    import spark.implicits._
    val hof = "flatten(transform(xs, (x, i) -> " +
      "transform(slice(xs, i + 2, size(xs) - i - 1), y -> struct(x AS a, y AS b))))"
    // long arrays (wedge/node-id shape), incl. empty and singleton
    val longs = Seq(Seq(3L, 1L, 4L, 1L, 5L), Seq(7L), Seq.empty[Long], Seq(2L, 2L))
    val gotL = longs.toDF("xs")
      .select(GraftFunctions.arrayPairs(col("xs")).as("p"), expr(hof).as("h"))
      .collect()
    gotL.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) === r.getSeq[org.apache.spark.sql.Row](1))
    }
    // string arrays (basket/brand shape) — exact pair order preserved
    val strs = Seq(Seq("b1", "b2", "b3"))
    val gotS = strs.toDF("xs")
      .select(explode(GraftFunctions.arrayPairs(col("xs"))).as("p"))
      .select("p.a", "p.b").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(gotS === Seq(("b1", "b2"), ("b1", "b3"), ("b2", "b3")))
  }

  test("text_fold_hash matches the interpreted HOF char fold on real documents") {
    // The exact HOF formulation tid() used before going native — kept
    // here as the equality oracle (and it mirrors the DuckDB tidSql).
    val hofFold = (s: org.apache.spark.sql.Column) =>
      aggregate(
        transform(filter(split(s, ""), c => c =!= ""), c => ascii(c).cast("long")),
        lit(0L), (acc, x) => (acc * 31 + x) % lit(ShingleIds.P))
    val bad = Tables.documents(spark, sf)
      .select(GraftFunctions.textFoldHash(col("text")).as("native"),
        hofFold(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad === 0L)
    // Edge cases: empty string folds to 0; null propagates.
    import spark.implicits._
    val edge = Seq(Some(""), Some("a"), None).toDF("t")
      .select(GraftFunctions.textFoldHash(col("t")).as("h")).collect()
    assert(edge(0).getLong(0) === 0L)
    assert(edge(1).getLong(0) === 97L)
    assert(edge(2).isNullAt(0))
  }

  test("array_pairs rejects non-array input with a clean analysis error") {
    import spark.implicits._
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("x").select(GraftFunctions.arrayPairs(col("x"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"))
  }

  test("array_pairs fails readably past the JVM pair-count limit instead of overflowing") {
    import spark.implicits._
    // 70k elements → 2.45e9 pairs: Int n*(n-1)/2 would go NEGATIVE
    // (NegativeArraySizeException) without the Long guard.
    val err = intercept[Throwable] {
      Seq(1).toDF("x")
        .select(GraftFunctions.arrayPairs(array_repeat(lit(1L), 70000)))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("pairs")),
      s"expected the readable pair-count guard, got: $err")
  }

  test("shingle_ids matches the independent scala model incl. unicode and short docs") {
    val cases = Seq(
      "the quick brown fox",   // 4 tokens → 2 shingles
      "uno dos",               // short → whole-text fallback
      "汉字 文本 测试 数据",      // non-ASCII code points
      "a  b c",                // double space → empty token (fold 0)
      "")                      // empty text → fallback fold("") = 0
    def foldS(s: String): Long = {
      var acc = 0L; var i = 0
      while (i < s.length) {
        acc = (acc * 31 + s.codePointAt(i)) % ShingleIds.P
        i += Character.charCount(s.codePointAt(i))
      }
      acc
    }
    def modelS(text: String): Seq[Long] = {
      val toks = text.split(" ", -1).toSeq
      if (toks.size >= 3) {
        val t = toks.map(foldS)
        (0 to toks.size - 3).map(i =>
          ((t(i) * ShingleIds.C1 + t(i + 1)) % ShingleIds.P * ShingleIds.C1 + t(i + 2)) % ShingleIds.P)
      } else Seq(foldS(text))
    }
    import spark.implicits._
    val got = cases.toDF("text")
      .select(GraftFunctions.shingleIds(col("text")).as("ids"))
      .collect().map(_.getSeq[Long](0).toSeq)
    cases.zip(got).foreach { case (text, ids) =>
      assert(ids === modelS(text), s"text=$text")
    }
  }

  test("lsh_bucket matches the HOF hyperplane formulation bitwise") {
    val hofBucket = (0 until 8).map { j =>
      val proj = aggregate(
        zip_with(col("embedding"), sequence(lit(1), lit(64)),
          (x, p) => x.cast("double") * (((lit(37 * j) + lit(101) * p) % 97).cast("double") / 97.0 - 0.5)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, math.pow(2, j).toLong).otherwise(0L)
    }.reduce(_ + _)
    val bad = Tables.embeddings(spark, sf)
      .select(GraftFunctions.lshBucket(col("embedding"), 8).as("native"),
        hofBucket.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(bad === 0L)
  }

  test("centroid aggregator matches avg-per-position within fp tolerance") {
    // Array-valued UDAF form (the graded query projects it to
    // (label, pos, c) rows for the hash-based oracle compare).
    val got = Tables.embeddings(spark, sf)
      .groupBy(col("label").cast("long").as("label"))
      .agg(graft.functions.CentroidAggregator.asColumn(col("embedding")).as("centroid"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val expect = SparkEntry.queries("embed_stats")(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (l, rows) => l -> rows.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq }
    got.foreach { case (l, c) =>
      assert(c.length === 64)
      // embed_stats rounds avg-of-rounded slightly differently; compare loosely
      c.zip(expect(l)).foreach { case (a, b) => assert(math.abs(a - b) < 2e-4) }
    }
  }

  test("graded agg_centroid_udaf projection is flat (label, pos, c) rows") {
    val rows = SparkEntry.queries("agg_centroid_udaf")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.head.schema.fieldNames.toSeq === Seq("label", "pos", "c"))
    val labels = rows.map(_.getLong(0)).distinct
    assert(rows.length === labels.length * 64)
  }

  test("affine_mod_min equals min over transformed array") {
    import spark.implicits._
    val df = Seq(Seq(5L, 100L, 3L), Seq(999999L)).toDF("xs")
    val got = df.select(
      GraftFunctions.affineModMin(col("xs"), 7, 11, 101).as("native"),
      array_min(transform(col("xs"), x => (x * 7 + 11) % 101)).as("hof"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("simhash_pack equals the exploded vote-sum formulation on real documents") {
    // The in-row packed simhash must be bit-identical to the
    // explode + per-bit affine-parity sum pipeline it replaced (and
    // to the oracle's CASE-sum SQL, which rehearsal covers). Checked
    // at 16 and 48 bits over the real shingle stream; empty-shingle
    // docs must pack to null (absent from the pairing universe).
    val P = 1000003L
    val bits = Seq(16, 48)
    val base = Tables.documents(spark, sf).select(col("doc_id"),
      array_distinct(GraftFunctions.shingleIds(col("text"))).as("tids"))
    bits.foreach { b =>
      val native = base.select(col("doc_id"),
          GraftFunctions.simhashPack(col("tids"), b).as("sh"))
        .filter(col("sh").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exploded = base
        .select(col("doc_id"), explode(col("tids")).as("sid"))
        .withColumn("h", (col("sid") * 7 + 13) % lit(P))
        .collect().groupBy(_.getLong(0)).map { case (id, rows) =>
          val hs = rows.map(_.getLong(2))
          var out = 0L
          (0 until b).foreach { j =>
            val s = hs.map(h => (((h * (2 * j + 3) + (5 * j + 7)) % P) % 2).toInt * 2 - 1).sum
            if (s > 0) out |= 1L << j
          }
          id -> out
        }
      assert(native === exploded, s"simhash_pack($b) diverged")
    }
    // empty array → null
    import spark.implicits._
    val empty = Seq(Seq.empty[Long]).toDF("tids")
      .select(GraftFunctions.simhashPack(col("tids"), 48).as("sh")).collect()
    assert(empty.head.isNullAt(0), "empty shingle set must pack to null")
  }

  test("SQL registration exposes vec_dot/vec_norm/shingle_ids") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_t")
    val r = spark.sql(
      """SELECT round(vec_dot(embedding, embedding) - vec_norm(embedding) * vec_norm(embedding), 6) AS z
        |FROM emb_t LIMIT 5""".stripMargin).collect()
    r.foreach(row => assert(math.abs(row.getDouble(0)) < 1e-6))
    val s = spark.sql("SELECT shingle_ids('a b c d') AS ids").collect().head
    assert(s.getSeq[Long](0).length === 2)
  }
}
