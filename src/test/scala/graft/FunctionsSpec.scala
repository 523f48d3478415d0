package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{QuantizedDot, Rgb565}

/** Native expression exemplars: interpreted eval ≡ codegen eval ≡ model. */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ------------------------------------------------------------- rgb565
  test("rgb565 packs like the reference pen (known values)") {
    // RGB565: high 5 bits of r, 6 of g, 5 of b (reference
    // DoublePsramBuffer480x480.cpp:125 pen semantics).
    assert(Rgb565.pack(255, 255, 255) === 0xFFFF)
    assert(Rgb565.pack(0, 0, 0) === 0x0000)
    assert(Rgb565.pack(255, 0, 0) === 0xF800)
    assert(Rgb565.pack(0, 255, 0) === 0x07E0)
    assert(Rgb565.pack(0, 0, 255) === 0x001F)
    assert(Rgb565.pack(0x08, 0x04, 0x08) === 0x0821) // one lsb per channel
  }

  test("rgb565 codegen path (DataFrame) agrees with interpreted eval") {
    import spark.implicits._
    val rows = Seq((255, 255, 255), (0, 0, 0), (12, 200, 99), (247, 3, 16))
    val viaDf = rows.toDF("r", "g", "b")
      .selectExpr("rgb565(r, g, b) AS p").as[Int].collect().toSeq
    val viaEval = rows.map { case (r, g, b) =>
      Rgb565(Literal(r), Literal(g), Literal(b)).eval(null).asInstanceOf[Int]
    }
    assert(viaDf === viaEval)
    assert(viaDf === rows.map { case (r, g, b) => Rgb565.pack(r, g, b) })
  }

  test("rgb565 rejects non-int args") {
    val e = intercept[Exception] {
      spark.sql("SELECT rgb565('a', 1, 2)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("rgb565"))
  }

  // --------------------------------------------------------------- dotq
  private def lit(a: Seq[Float]) =
    Literal.create(a, ArrayType(FloatType))

  test("dotq quantization matches BigDecimal HALF_UP on many floats") {
    // Spark round() = BigDecimal HALF_UP; DuckDB round() = half away from
    // zero — q() must agree with both on every reachable input. (Exact .5
    // ties are unreachable from float*1e6, but the formula handles them
    // away-from-zero like both engines.)
    val rnd = new scala.util.Random(42)
    val samples = Seq(0.5f, -0.5f, 0.0f, 1.0e-7f, -1.0e-7f, 0.4583735f) ++
      (1 to 2000).map(_ => (rnd.nextFloat() - 0.5f) * 2.1f)
    samples.foreach { f =>
      val expected = new java.math.BigDecimal(f.toDouble * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      assert(QuantizedDot.q(f) === expected, s"f=$f")
    }
  }

  test("dotq interpreted eval matches hand computation") {
    val a = Seq(0.5f, -0.25f, 0.125f)
    val b = Seq(1.0f, 1.0f, -2.0f)
    val expected = 500000L * 1000000L + -250000L * 1000000L +
      125000L * -2000000L
    val got = QuantizedDot(lit(a), lit(b)).eval(null)
    assert(got === expected)
  }

  test("dotq codegen path agrees with the HOF formulation on real data") {
    // The HOF expression is the independently-written semantic spec; the
    // native expression must agree element-for-element on fixture data.
    val df = Tables.load(spark, TestSpark.sf0001, "embeddings").limit(50)
    val both = df.selectExpr(
      "dotq(embedding, embedding) AS native",
      """aggregate(zip_with(embedding, embedding, (x, y) ->
           CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) *
           CAST(round(CAST(y AS DOUBLE) * 1000000) AS BIGINT)),
         CAST(0 AS BIGINT), (acc, v) -> acc + v) AS hof""")
    assert(both.collect().forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("dotq null array yields null; empty arrays yield 0") {
    val r = spark.sql(
      """SELECT dotq(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS n,
                dotq(CAST(array() AS ARRAY<FLOAT>),
                     CAST(array() AS ARRAY<FLOAT>)) AS z""").collect().head
    assert(r.isNullAt(0))
    assert(r.getLong(1) === 0L)
  }

  // ------------------------------------------------------- topk_by_score
  test("topk_by_score equals the window formulation (incl. partial merges)") {
    // 10k rows, 7 groups, scores with deliberate ties; 13 partitions so
    // partial heaps MUST merge across partitions and serialize.
    val df = spark.range(10000).repartition(13).selectExpr(
      "id % 7 AS g",
      "CAST((id * 37) % 101 AS DOUBLE) AS score",
      "id AS pid")
    df.createOrReplaceTempView("topk_in")
    val agg = spark.sql(
      """SELECT g, t.score, t.id FROM (
           SELECT g, topk_by_score(score, pid, 5) AS top FROM topk_in GROUP BY g
         ) LATERAL VIEW explode(top) AS t""")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val win = spark.sql(
      """SELECT g, score, pid FROM (
           SELECT g, score, pid,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY score DESC, pid) AS rk
           FROM topk_in) WHERE rk <= 5""")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(agg === win)
  }

  test("topk_by_score survives the sort-based aggregation fallback (spill path)") {
    // ObjectHashAggregate falls back to sort-based aggregation after N
    // distinct keys per partition; threshold=2 forces the fallback (the
    // path a memory-pressured 100 TB run takes), which exercises buffer
    // serialize/deserialize + merge.
    val conf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val saved = spark.conf.get(conf)
    val q = """SELECT g, topk_by_score(score, pid, 3) AS top FROM (
                 SELECT id % 50 AS g, CAST(id % 97 AS DOUBLE) AS score, id AS pid
                 FROM range(20000)) GROUP BY g"""
    val normal = spark.sql(q).collect().map(_.toString).sorted
    spark.conf.set(conf, "2")
    try {
      val spilled = spark.sql(q).collect().map(_.toString).sorted
      assert(spilled === normal)
    } finally spark.conf.set(conf, saved)
  }

  test("topk_by_score handles groups smaller than k and null scores") {
    val rows = spark.sql(
      """SELECT topk_by_score(s, i, 5) AS top FROM VALUES
           (CAST(1.0 AS DOUBLE), 10L), (CAST(NULL AS DOUBLE), 11L),
           (CAST(3.0 AS DOUBLE), 12L) AS t(s, i)""").collect()
    val top = rows.head.getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(r => (r.getDouble(0), r.getLong(1))) ===
      Seq((3.0, 12L), (1.0, 10L))) // null-score row skipped, sorted desc
  }

  // ----------------------------------------------------- rolling_min_md5
  test("rolling_min_md5 equals the HOF formulation on fixture text") {
    val both = Tables.load(spark, TestSpark.sf0001, "documents").limit(100)
      .selectExpr(
        "rolling_min_md5(text, 16) AS native",
        """array_min(transform(sequence(1, greatest(length(text) - 15, 1)),
             i -> md5(CAST(substring(text, i, 16) AS BINARY)))) AS hof""")
    assert(both.collect().forall(r => r.getString(0) == r.getString(1)))
  }

  test("rolling_min_md5 edge cases: short text, exact width, null") {
    val r = spark.sql(
      """SELECT rolling_min_md5('ab', 16) AS short,
                md5(CAST('ab' AS BINARY)) AS direct,
                rolling_min_md5(CAST(NULL AS STRING), 16) AS n""").collect().head
    assert(r.getString(0) === r.getString(1)) // width > len → whole text
    assert(r.isNullAt(2))
  }

  // ------------------------------------------------------- word_shingles
  test("word_shingles equals split+transform+explode+distinct") {
    val native = Tables.load(spark, TestSpark.sf0001, "documents")
      .selectExpr("doc_id", "word_shingles(text, 5) AS sh")
      .where("sh IS NOT NULL")
      .selectExpr("doc_id", "explode(sh) AS shingle")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val composite = Tables.load(spark, TestSpark.sf0001, "documents")
      .selectExpr("doc_id", "split(lower(text), ' ') AS toks")
      .where("size(toks) >= 5")
      .selectExpr("doc_id",
        """explode(transform(sequence(1, size(toks) - 4),
             i -> concat_ws(' ', slice(toks, i, 5)))) AS shingle""")
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(native === composite)
  }

  test("word_shingles edge cases: short text, dedup, foldable n") {
    val r = spark.sql(
      """SELECT word_shingles('a b', 3) AS short,
                word_shingles('x y x y x y', 2+2) AS dedup,
                word_shingles(CAST(NULL AS STRING), 3) AS n""").collect().head
    assert(r.isNullAt(0)) // < n tokens
    // "x y x y x y" 4-grams: [x y x y], [y x y x], [x y x y] -> 2 distinct
    assert(r.getSeq[String](1).sorted === Seq("x y x y", "y x y x"))
    assert(r.isNullAt(2))
  }

  // ----------------------------------------------------------- simhash64
  test("simhash64 equals the composite explode+distinct+64-agg pipeline") {
    // The native per-row expression must be bit-identical to
    // TextQueries.simhashSig (the shuffle-based formulation the DuckDB
    // oracle mirrors) over the whole fixture corpus.
    val native = Tables.load(spark, TestSpark.sf0001, "documents")
      .selectExpr("doc_id", "simhash64(text) AS chunks")
      .where("chunks IS NOT NULL")
      .selectExpr("doc_id", "posexplode(chunks) AS (chunk_idx, chunk_val)")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val composite = graft.queries.TextQueries.simhashSig(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(native.size === composite.size)
    assert(native === composite)
  }

  test("simhash64 edge cases: short text -> null, type check, null in") {
    val r = spark.sql(
      """SELECT simhash64('one two') AS short,
                simhash64('one two three') AS three,
                simhash64(CAST(NULL AS STRING)) AS n""").collect().head
    assert(r.isNullAt(0)) // < 3 tokens
    assert(r.getSeq[Long](1).length === 4)
    assert(r.isNullAt(2))
    val err = intercept[Exception] {
      spark.sql("SELECT simhash64(42)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("string"))
  }

  test("rolling_min_md5 accepts a foldable (not-yet-literal) width") {
    // Analysis runs before ConstantFolding, so 8+8 reaches the type check
    // as an Add, not a Literal — it must still be accepted (foldable int),
    // and reject non-foldable / non-positive widths with clear messages.
    val r = spark.sql(
      """SELECT rolling_min_md5('hello world, a text', 8+8) AS composite,
                rolling_min_md5('hello world, a text', 16) AS direct""")
      .collect().head
    assert(r.getString(0) === r.getString(1))
    val err = intercept[Exception] {
      spark.sql("SELECT rolling_min_md5('x', 0)").collect()
    }
    assert(err.getMessage.contains("width must be > 0"))
  }

  test("ngrams_gen: positions, null/short-text edges, lateral-view parity") {
    val rows = spark.sql(
      """SELECT pos, gram FROM (SELECT 'A b c d' AS t)
         LATERAL VIEW ngrams_gen(t, 2) g AS pos, gram ORDER BY pos""")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq === Seq((1, "a b"), (2, "b c"), (3, "c d")))

    // short text and NULL text generate zero rows, not errors/nulls
    assert(spark.sql(
      """SELECT * FROM (SELECT 'one' AS t)
         LATERAL VIEW ngrams_gen(t, 2) g AS pos, gram""").count() === 0)
    assert(spark.sql(
      """SELECT * FROM (SELECT CAST(NULL AS STRING) AS t)
         LATERAL VIEW ngrams_gen(t, 2) g AS pos, gram""").count() === 0)

    // non-foldable / bad n is an analysis-time error (schema cannot be
    // data-dependent)
    val err = intercept[Exception] {
      spark.sql("""SELECT * FROM (SELECT 'a b' AS t, 2 AS k)
        LATERAL VIEW ngrams_gen(t, k) g AS pos, gram""").collect()
    }
    assert(err.getMessage.toLowerCase.contains("foldable"))

    // differential vs the array composite over the fixture corpus
    val doc = Tables.load(spark, TestSpark.sf0001, "documents")
      .limit(50)
    doc.createOrReplaceTempView("ngram_docs")
    val viaGen = spark.sql(
      """SELECT doc_id, pos, gram FROM ngram_docs
         LATERAL VIEW ngrams_gen(text, 3) g AS pos, gram""")
    val viaComposite = spark.sql(
      """SELECT doc_id, pos, gram FROM (
           SELECT doc_id, posexplode(transform(
             sequence(1, greatest(size(tk) - 2, 0)),
             i -> concat_ws(' ', slice(tk, i, 3)))) AS (p0, gram),
             p0 + 1 AS pos_off
           FROM (SELECT doc_id, split(lower(text), ' ') AS tk
                 FROM ngram_docs)
           WHERE size(tk) >= 3)
         LATERAL VIEW explode(array(p0 + 1)) e AS pos""")
    val a = viaGen.collect().map(_.toString).sorted
    val b = viaComposite.select("doc_id", "pos", "gram")
      .collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("dotq stays inside WholeStageCodegen") {
    val df = Tables.load(spark, TestSpark.sf0001, "embeddings")
      .selectExpr("dotq(embedding, embedding) AS n2")
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen span
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().startsWith("*("),
      s"expected codegen span in:\n$plan")
  }

  // ------------------------------------------------------ sorted_icount
  test("sorted_icount equals size(array_intersect) on sorted random sets") {
    // The q45 verify-kernel law: on SORTED DISTINCT inputs the merge
    // count must equal the reference intersection cardinality. 200
    // random set pairs, varied sizes incl. empty and disjoint.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def set(): Seq[String] =
      Seq.fill(rnd.nextInt(40))(s"tok${rnd.nextInt(60)}").distinct.sorted
    val pairs = Seq.fill(200)((set(), set())) :+
      ((Seq.empty[String], Seq("a"))) :+ ((Seq("x"), Seq("y")))
    val df = pairs.toDF("a", "b")
      .selectExpr("sorted_icount(a, b) AS fast",
        "CAST(size(array_intersect(a, b)) AS BIGINT) AS ref")
    assert(df.filter("fast <> ref").count() === 0)
  }

  test("sorted_icount null elements: reached null poisons, tail null doesn't") {
    // Session-registered SQL can hand the merge arrays with null
    // elements (the type check accepts containsNull=true). A null the
    // merge REACHES yields SQL null — not the NPE the raw compareTo
    // would throw — in both the interpreted and codegen paths; a null
    // past the frontier (after one side is exhausted) can't change the
    // count and leaves the result defined.
    val rows = spark.sql(
      """SELECT
        |  sorted_icount(array('b', CAST(NULL AS STRING)), array('b')) AS tail_ok,
        |  sorted_icount(array(CAST(NULL AS STRING)), array('b')) AS poisoned,
        |  sorted_icount(array('a', CAST(NULL AS STRING)), array('z')) AS poisoned2
        |""".stripMargin).head()
    assert(rows.getLong(0) === 1L) // 'b' matches; null never reached
    assert(rows.isNullAt(1))
    assert(rows.isNullAt(2)) // merge advances past 'a' into the null
    // interpreted path agrees
    import graft.functions.SortedIntersectCount
    val viaEval = SortedIntersectCount(
      Literal.create(Seq(null.asInstanceOf[String], "b"), ArrayType(StringType)),
      Literal.create(Seq("b"), ArrayType(StringType))).eval(null)
    assert(viaEval === null)
  }

  test("graft function builders reject wrong arity with a clear error") {
    val e = intercept[Exception](
      spark.sql("SELECT sorted_icount(array('a'))").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("requires exactly 2 arguments")),
      s"unexpected error chain: ${msgs(e).mkString(" | ")}")
  }

  test("sorted_icount codegen (DataFrame) agrees with interpreted eval") {
    import graft.functions.SortedIntersectCount
    import spark.implicits._
    val a = Seq("apple", "pear", "plum")
    val b = Seq("apple", "cherry", "plum", "quince")
    val viaDf = Seq((a, b)).toDF("a", "b")
      .selectExpr("sorted_icount(a, b) AS n").as[Long].head()
    val viaEval = SortedIntersectCount(
      Literal.create(a, ArrayType(StringType)),
      Literal.create(b, ArrayType(StringType))).eval(null)
    assert(viaDf === 2L)
    assert(viaEval === 2L)
  }

  test("sorted_icount and bpe_merge compile with null-free input types") {
    // Round-11 finding: when the children are non-nullable AND the
    // array type has containsNull=false, `nullable` is false and
    // nullSafeCodeGen renders the kernel body with an isNull variable
    // it never declares if the kernel writes ${ev.isNull}
    // unconditionally — Janino rejects the generated class and the
    // whole projection/predicate silently drops to interpreted mode
    // (q45's verify loop, q89b/q89c's merge kernel). CODEGEN_ONLY
    // turns that silent fallback into a hard failure; coalesce over
    // the parquet column builds the non-nullable shape that triggered
    // it (split/sort_array/array literals are all containsNull=false).
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val rows = Tables.load(spark, TestSpark.sf0001, "documents")
        .limit(8)
        .selectExpr(
          "sorted_icount(sort_array(split(lower(coalesce(text, 'a b')), ' ')), " +
            "array('a', 'the')) AS ic",
          "size(bpe_merge(split(lower(coalesce(text, 'a b')), ' '), " +
            "'the', 'a')) AS bm")
        .collect()
      assert(rows.length === 8)
      assert(rows.forall(r => r.getLong(0) >= 0L && r.getInt(1) > 0))
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("sorted_icount stays inside WholeStageCodegen") {
    val df = Tables.load(spark, TestSpark.sf0001, "documents")
      .selectExpr("sort_array(split(lower(text), ' ')) AS t")
      .selectExpr("sorted_icount(t, t) AS n")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().startsWith("*("),
      s"expected codegen span in:\n$plan")
  }
}
