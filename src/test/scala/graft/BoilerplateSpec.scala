package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Registry, TextQueries}

/** q118 boilerplate-suppression laws. The policy under test: a chunk is
  * boilerplate iff its content recurs across ≥ 2 DISTINCT documents —
  * every copy is then dropped (vs q111's keep-one dedup), while a chunk
  * repeated only WITHIN one document is never boilerplate (that is
  * q50's intra-doc repetition domain). Chunk geometry is q101's 64/48
  * grid, so a planted shared 64-token BLOCK at token 1 lands exactly in
  * chunk k=0 of each carrier. */
class BoilerplateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  private def frame(docs: (Long, String)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map { case (id, t) => Row(id, t, "en", s"s${id % 2}") }, 3),
      schema)

  /** m filler tokens unique to doc `id` — no cross-doc chunk collides
    * by accident. */
  private def filler(id: Long, m: Int, tag: String = "f"): String =
    (0 until m).map(j => s"d${id}$tag$j").mkString(" ")

  /** The shared 64-token block (one full chunk width). */
  private val block = (0 until 64).map(j => s"shared$j").mkString(" ")

  private def flagged(d: DataFrame): DataFrame =
    TextQueries.boilerFlagged(d).select(
      col("doc_id"), col("chunk_idx"), col("boiler"))

  test("a block shared by 3 docs is flagged in EVERY carrier (drop-all policy)") {
    // each doc = block + 6 unique tokens → chunk 1 is the block, chunk 2
    // is the unique mixed tail
    val d = frame(
      1L -> s"$block ${filler(1, 6)}",
      2L -> s"$block ${filler(2, 6)}",
      3L -> s"$block ${filler(3, 6)}",
      9L -> filler(9, 80))
    val rows = flagged(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // chunk 1 of docs 1/2/3 is boilerplate — all three copies, not m-1
    assert(rows.filter(_._3) ===
      Set((1L, 1L, true), (2L, 1L, true), (3L, 1L, true)))
  }

  test("an intra-doc repeated chunk is NOT boilerplate") {
    // doc 4 = block + 32 unique + block: chunks k=0 and k=2 share a
    // chunk_md5 but live in ONE doc (mn == mx) — must stay unflagged
    val d = frame(
      4L -> s"$block ${filler(4, 32)} $block",
      5L -> filler(5, 80))
    assert(flagged(d).filter(col("boiler")).count() === 0L)
  }

  test("differential: min/max cross-doc flag == naive countDistinct >= 2 on the real corpus") {
    // the engine's min(doc_id) != max(doc_id) trick must agree with the
    // definitional "appears in >= 2 distinct docs" computed independently
    val d = Tables.load(spark, TestSpark.sf0001, "documents")
    val flagged = TextQueries.boilerFlagged(d)
      .filter(col("boiler"))
      .select(col("chunk_md5")).distinct()
      .collect().map(_.getString(0)).toSet
    val naive = TextQueries.boilerFlagged(d)
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("chunk_md5"))
      .collect().map(_.getString(0)).toSet
    assert(flagged === naive)
    assert(flagged.nonEmpty, "fixture regression: no cross-doc chunks bound")
  }

  test("sf0.001 fixture binding and funnel conservation") {
    val res = Registry.byName("q118_boilerplate_prune")
      .run(spark, TestSpark.sf0001).collect()
    // DuckDB-verified binding (wiring check): 24 boilerplate chunks
    // across the corpus
    assert(res.map(_.getAs[Long]("boiler_chunks")).sum === 24L)
    res.foreach { r =>
      val kept = r.getAs[Long]("kept_tokens")
      val total = r.getAs[Long]("total_tokens")
      assert(kept <= total)
      assert(r.getAs[Long]("retention_ppm") === kept * 1000000L / total)
      assert(r.getAs[Long]("boiler_chunks") <= r.getAs[Long]("n_chunks"))
    }
  }
}
