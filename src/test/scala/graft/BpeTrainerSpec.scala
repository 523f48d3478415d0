package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{BpeQueries, Registry}

/** q89b's greedy merge semantics and the multi-round trainer contract.
  *
  * The DuckDB oracle proves engine parity on the real corpus; this spec
  * pins the GREEDY RULE itself on the adversarial words where
  * left-to-right non-overlapping application differs from naive
  * replace-everything: overlapping runs ("aaa" + (a,a) must yield
  * [aa, a], not [aa, aa]), and the no-cascade property (a symbol
  * created by this round's merge never immediately re-merges, because
  * p1p2 can't equal p1). Both implementations — the Spark fold and the
  * oracle's run-parity window — encode exactly these cases.
  */
class BpeTrainerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs BOTH in-engine implementations — the native `bpe_merge`
    * codegen kernel (q89b's hot path) and the aggregate-HOF fold — and
    * asserts them identical before returning the result. Every case in
    * this spec therefore pins both. */
  private def fold(word: String, p1: String, p2: String): Seq[String] = {
    import spark.implicits._
    val r = Seq(word).toDF("w")
      .select(expr("filter(split(w, ''), c -> c <> '')").as("syms"))
      .select(
        call_function("bpe_merge", col("syms"), lit(p1), lit(p2)).as("nat"),
        BpeQueries.bpeMergeFold(col("syms"), p1, p2).as("hof"))
      .head()
    assert(r.getSeq[String](0) === r.getSeq[String](1),
      s"native bpe_merge diverges from the HOF fold on '$word'")
    r.getSeq[String](0)
  }

  test("native bpe_merge ≡ HOF fold over the whole real corpus") {
    import spark.implicits._
    val diverged = BpeQueries.bpeWords(spark, TestSpark.sf0001)
      .select(
        call_function("bpe_merge", $"syms", lit("e"), lit("r")).as("nat"),
        BpeQueries.bpeMergeFold($"syms", "e", "r").as("hof"))
      .filter(not($"nat" <=> $"hof"))
      .count()
    assert(diverged === 0L)
  }

  test("greedy merge is left-to-right non-overlapping on runs") {
    assert(fold("aaa", "a", "a") === Seq("aa", "a"))
    assert(fold("aaaa", "a", "a") === Seq("aa", "aa"))
    assert(fold("aaaaa", "a", "a") === Seq("aa", "aa", "a"))
  }

  test("greedy merge takes every disjoint occurrence") {
    assert(fold("abab", "a", "b") === Seq("ab", "ab"))
    assert(fold("aab", "a", "b") === Seq("a", "ab"))
    assert(fold("xbay", "a", "b") === Seq("x", "b", "a", "y"))
  }

  test("a freshly merged symbol does not cascade within the round") {
    // after a→(a,b)→ab, the ab symbol must not itself consume a
    // following b even though the STRING "ab"+"b" contains "ab"
    assert(fold("abb", "a", "b") === Seq("ab", "b"))
  }

  test("contract edges: empty pair is a no-op, null elements poison — in BOTH impls") {
    // review-round findings: (1) with p2 = '' the fused symbol equals
    // p1 and a naive tail check cascades ("a","","" + (a,'') would
    // collapse to ["a"]) — both implementations must instead treat an
    // empty pair symbol as a no-op merge; (2) a null ELEMENT must
    // poison the result to null in the fold exactly as in the kernel.
    import spark.implicits._
    def both(syms: Seq[String], p1: String, p2: String)
        : (Option[Seq[String]], Option[Seq[String]]) = {
      val r = Seq(Tuple1(syms)).toDF("syms")
        .select(
          call_function("bpe_merge", col("syms"), lit(p1), lit(p2)).as("nat"),
          BpeQueries.bpeMergeFold(col("syms"), p1, p2).as("hof"))
        .head()
      (Option(r.getSeq[String](0)), Option(r.getSeq[String](1)))
    }
    // empty p2: no-op, NOT a cascade to ["a"]
    assert(both(Seq("a", "", ""), "a", "") ===
      (Some(Seq("a", "", "")), Some(Seq("a", "", ""))))
    assert(both(Seq("x", "y"), "", "y") ===
      (Some(Seq("x", "y")), Some(Seq("x", "y"))))
    // null element: poisoned to null, not skipped over
    assert(both(Seq("a", null, "a", "b"), "a", "b") === (None, None))
    // null element under the empty-pair no-op path: still poisoned
    assert(both(Seq("a", null), "a", "") === (None, None))
  }

  test("q89c encoding: ratios are well-formed and 'en' genuinely compresses") {
    val rows = Registry.byName("q89c_bpe_encode")
      .run(spark, TestSpark.sf0001).collect()
    val byLang = rows.map(r => r.getAs[String]("lang") -> r).toMap
    assert(byLang.contains("en"), "training slice missing from the report")
    rows.foreach { r =>
      val before = r.getAs[Long]("syms_before")
      val after = r.getAs[Long]("syms_after")
      assert(after >= 1L && after <= before,
        s"${r.getAs[String]("lang")}: $after symbols from $before chars")
      assert(r.getAs[Long]("saved") === before - after)
      assert(r.getAs[Long]("compression_micro") <= 1000000L)
    }
    // the merges were LEARNED on 'en' — they must actually fire there
    assert(byLang("en").getAs[Long]("saved") > 0L,
      "en-trained merges saved zero symbols on en")
  }

  test("q89c reuse handoff: published model consumed (round-12 ADVICE item 3)") {
    // The q89b-publishes/q89c-consumes cycle, asserted end-to-end with
    // a poison probe: (1) cold cache → q89c self-trains AND publishes;
    // (2) q89b refreshes the entry, warm q89c must be hash-identical;
    // (3) a deliberately WRONG cached model changes q89c's output —
    // proving the cache is genuinely consumed, not dead-reckoned.
    import graft.tools.Canon
    val dir = TestSpark.sf0001
    def encode(): Seq[String] =
      Canon.rows(Registry.byName("q89c_bpe_encode").run(spark, dir))
    try {
      BpeQueries.bpeTrainedRules.remove(dir)
      val cold = encode()
      assert(BpeQueries.bpeTrainedRules.contains(dir),
        "cold-path q89c did not publish the model it trained")
      Registry.byName("q89b_bpe_trainer").run(spark, dir).collect()
      assert(BpeQueries.bpeTrainedRules.contains(dir),
        "q89b did not publish its merge table")
      val warm = encode()
      assert(warm === cold, "published-model path diverged from retrain")
      // poison probe: an empty model encodes identity (na == nb) —
      // output MUST change iff the cache is actually read
      BpeQueries.bpeTrainedRules(dir) = Seq.empty
      val poisoned = encode()
      assert(poisoned !== cold,
        "q89c output unchanged under a poisoned cache — reuse path is dead")
    } finally BpeQueries.bpeTrainedRules.remove(dir)
  }

  test("q89b learns 3 distinct merges with consistent final counts") {
    val rows = Registry.byName("q89b_bpe_trainer")
      .run(spark, TestSpark.sf0001).collect()
    assert(rows.map(_.getAs[Long]("round")).toSeq === Seq(1L, 2L, 3L))
    // merge table rows are distinct pairs, selection counts positive,
    // and a merged symbol can only LOSE occurrences to later merges
    assert(rows.map(r => (r.getAs[String]("p1"), r.getAs[String]("p2")))
      .distinct.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_merge") > 0L)
      assert(r.getAs[Long]("n_final") <= r.getAs[Long]("n_merge"))
      assert(r.getAs[String]("merged") ===
        r.getAs[String]("p1") + r.getAs[String]("p2"))
    }
  }
}
