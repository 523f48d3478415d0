package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** q112 exact-substring dedup laws (round-12/13 ADVICE items): a
  * planted-span recall law on a synthetic corpus, and the differential
  * law the round-13 candidate rewrite rests on — ONE edge per
  * (window-hash, doc) to the bucket's min-doc_id holder must flag the
  * SAME doc set as the all-pairs wd⋈wd form, including on a forced
  * multi-doc hot bucket (a license block shared by m docs), because at
  * 128-bit hashing every holder of a window hash carries the same span
  * bytes. The all-pairs reference is implemented here, independently of
  * the engine's min-holder form, and both are also run against the real
  * sf0.001 corpus (665 distinct cross-doc shared spans bind there). */
class SubstrDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val K = 32

  // ---------------------------------------------------------------
  // Independent reference: the pre-round-13 ALL-PAIRS candidate form.
  // Same tokenize/window/verify pipeline, but candidates come from the
  // full wd-self-join (every holder pair d1<d2 of a shared hash), not
  // the min-holder representative — the shape whose equivalence the
  // round-13 rewrite claims.
  private def allPairsDups(d: DataFrame, k: Int): DataFrame = {
    val toks = d.select(col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> length(t) > 0)").as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
      .filter(col("n") >= k)
    val win = toks
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1L, n - $k + 1)")).as("i"))
      .select(col("doc_id"), col("i"),
        md5(concat_ws(" ", slice(col("toks"), col("i").cast("int"), lit(k)))
          .cast(BinaryType)).as("h"))
    val wd = win.groupBy(col("h"), col("doc_id")).agg(min(col("i")).as("i"))
    val cand = wd.select(col("h"), col("doc_id").as("d1"), col("i").as("i1"))
      .join(wd.select(col("h"), col("doc_id").as("d2"), col("i").as("i2")),
        Seq("h"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("i1"), col("d2"), col("i2")).distinct()
    val t1 = toks.select(col("doc_id").as("d1"), col("toks").as("tk1"))
    val t2 = toks.select(col("doc_id").as("d2"), col("toks").as("tk2"))
    cand.join(t1, Seq("d1")).join(t2, Seq("d2"))
      .filter(
        concat_ws(" ", slice(col("tk1"), col("i1").cast("int"), lit(k))) ===
        concat_ws(" ", slice(col("tk2"), col("i2").cast("int"), lit(k))))
      .select(col("d2").as("doc_id")).distinct()
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def frame(docs: (Long, String)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, t) => Row(id, t) }, 3),
      schema)

  /** m distinct filler tokens unique to doc `id` — no token is shared
    * across docs, so no accidental 32-windows collide. */
  private def filler(id: Long, m: Int, tag: String = "f"): String =
    (0 until m).map(j => s"d${id}$tag$j").mkString(" ")

  private val span = (0 until K).map(j => s"shared$j").mkString(" ")

  private def dupIds(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("planted 32-token span: higher doc_id flagged, lower kept") {
    val d = frame(
      10L -> s"${filler(10, 40)} $span ${filler(10, 8, "g")}",
      20L -> s"${filler(20, 5)} $span ${filler(20, 50, "g")}",
      30L -> filler(30, 80))
    assert(dupIds(TextQueries.substrDupDocs(d, K)) === Set(20L))
  }

  test("a 31-token shared run is below threshold; 32 binds exactly") {
    val short = (0 until K - 1).map(j => s"shared$j").mkString(" ")
    val d = frame(
      1L -> s"${filler(1, 40)} $short ${filler(1, 8, "g")}",
      2L -> s"${filler(2, 40)} $short ${filler(2, 8, "g")}")
    assert(dupIds(TextQueries.substrDupDocs(d, K)) === Set.empty[Long])
    // same corpus with one more shared token crosses the threshold
    val d2 = frame(
      1L -> s"${filler(1, 40)} $span ${filler(1, 8, "g")}",
      2L -> s"${filler(2, 40)} $span ${filler(2, 8, "g")}")
    assert(dupIds(TextQueries.substrDupDocs(d2, K)) === Set(2L))
  }

  test("within-doc repeat of a span does not self-flag") {
    val d = frame(
      1L -> s"$span ${filler(1, 10)} $span",
      2L -> filler(2, 80))
    assert(dupIds(TextQueries.substrDupDocs(d, K)) === Set.empty[Long])
  }

  test("hot bucket: span shared by m docs flags all but the min holder") {
    // the m-holder case the min-holder rewrite targets (license block):
    // every holder except the lowest doc_id is a span-dup
    val ids = Seq(5L, 11L, 17L, 23L, 41L)
    val d = frame(ids.map(id =>
      id -> s"${filler(id, 10 + id.toInt)} $span ${filler(id, 6, "g")}"): _*)
    val got = dupIds(TextQueries.substrDupDocs(d, K))
    assert(got === ids.drop(1).toSet)
  }

  test("differential: min-holder form == all-pairs form on hot-bucket corpus") {
    // forced multi-doc buckets PLUS chained overlaps: doc 7 shares span
    // A with 3/9, doc 9 additionally shares span B with 13 — edges the
    // min-holder form routes through different representatives
    val spanB = (0 until K).map(j => s"other$j").mkString(" ")
    val d = frame(
      3L -> s"${filler(3, 12)} $span ${filler(3, 7, "g")}",
      7L -> s"${filler(7, 3)} $span ${filler(7, 44, "g")}",
      9L -> s"${filler(9, 20)} $span ${filler(9, 5, "g")} $spanB",
      13L -> s"$spanB ${filler(13, 33)}",
      21L -> filler(21, 90))
    val fast = dupIds(TextQueries.substrDupDocs(d, K))
    val ref = dupIds(allPairsDups(d, K))
    assert(fast === ref)
    assert(fast === Set(7L, 9L, 13L))
  }

  test("collision fallback: same-hash/different-span bucket still catches true dups") {
    // Inject a CONSTANT span hash — every window lands in one bucket,
    // the maximal collision (round-13 ADVICE: a realized md5 collision
    // where the min holder's span differs must not turn genuine dups
    // into false negatives). Corpus: doc 1 holds span X (the bucket's
    // min holder), docs 2 and 3 both hold span Y ≠ X. The min-holder
    // verify fails for BOTH (Y ≠ X), so without the failed-residue
    // all-pairs fallback nothing is flagged; exact d1<d2 semantics
    // demand doc 3 (a verbatim dup of doc 2's span) and only doc 3.
    val spanY = (0 until K).map(j => s"othery$j").mkString(" ")
    val d = frame(1L -> span, 2L -> spanY, 3L -> spanY)
    val weak: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _ => lit("BUCKET")
    assert(dupIds(TextQueries.substrDupDocs(d, K, weak)) === Set(3L))
    // the same corpus under the production md5 hash: X and Y occupy
    // different buckets, doc 3 still dups doc 2 — same answer, which
    // is exactly the collision-independence the fallback guarantees
    assert(dupIds(TextQueries.substrDupDocs(d, K)) === Set(3L))
  }

  test("differential on the real sf0.001 corpus (665 shared spans bind)") {
    val d = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val fast = dupIds(TextQueries.substrDupDocs(d, K))
    val ref = dupIds(allPairsDups(d, K))
    assert(fast === ref)
    assert(fast.nonEmpty, "fixture regression: no shared spans bound")
  }

  test("rolling span_hashes path == md5-per-window path on the real corpus") {
    // round-20 optimization law: the default window pass switched from
    // md5 over the materialized span string (O(tokens·k) hashing) to
    // the O(tokens) rolling 128-bit span_hashes expression. Results
    // must be hash-independent — pin the rolling default against the
    // explicit md5-per-window form (injected through the spec seam,
    // which forces the old construction) on the real sf0.001 corpus.
    val d = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val rolling = dupIds(TextQueries.substrDupDocs(d, K))
    val md5Form = dupIds(TextQueries.substrDupDocs(d, K,
      c => org.apache.spark.sql.functions.md5(c.cast(
        org.apache.spark.sql.types.BinaryType))))
    assert(rolling === md5Form)
    assert(rolling.nonEmpty)
  }
}
