package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DocCommon, IngestQueries, Registry}

/** q117b — the streaming n-gram novelty monitor over the write-once
  * gram index. The DuckDB oracle grades both batches against the mod-2
  * gram set relationally; this spec pins the storage and plumbing the
  * oracle cannot see: (1) `Tables.gramIndex` holds EXACTLY the mod-2
  * corpus's distinct gram set; (2) the streamed report equals a
  * relational recompute of each batch against that index (stream ≡
  * batch parity); (3) the corpus-monotonicity cross-law vs q117 —
  * q117's corpus (mods 1∪2) is a strict superset of q117b's (mod 2),
  * so on the SAME batch (mod 0, identical gram definition) q117's
  * batch_grams must match and its novel_grams can only be lower or
  * equal. */
class StreamNoveltySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private lazy val streamed = Registry.byName("q117b_stream_novelty")
    .run(spark, dir).collect()

  test("gram index holds exactly the mod-2 corpus distinct gram set") {
    val idx = Tables.gramIndex(spark, dir)
    val ref = IngestQueries.corpusGramSet(spark, dir)
    assert(idx.join(ref, Seq("gram"), "left_anti").count() === 0L,
      "index carries grams the corpus lacks")
    assert(ref.join(idx, Seq("gram"), "left_anti").count() === 0L,
      "index is missing corpus grams")
    // distinct by construction: no gram appears twice
    assert(idx.count() === idx.distinct().count())
  }

  test("streamed report equals the relational per-batch recompute") {
    val idx = Tables.gramIndex(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
    val expected = Seq(0, 1).flatMap { m =>
      val bg = DocCommon
        .shingleTable(docs.filter(DocCommon.q110Mod === m),
          Seq("source"))
        .select(col("source"), col("shingle")).distinct()
      bg.join(idx.select(col("gram").as("shingle"))
            .withColumn("hit", lit(1)),
          Seq("shingle"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("batch_grams"),
          count_if(col("hit").isNull).as("novel_grams"))
        .withColumn("batch", lit(m + 1L))
        .select(col("batch"), col("source"), col("batch_grams"),
          col("novel_grams"),
          expr("novel_grams * 1000000 DIV batch_grams")
            .as("novelty_ppm"))
        .orderBy(col("source"))
        .collect().map(_.toSeq)
    }
    assert(streamed.map(_.toSeq).toSeq === expected)
  }

  test("per-batch probe plan: index side broadcast-semi, never shuffled") {
    // the scale contract the parity law cannot see: the gram index
    // must stream map-only through a BROADCAST semi-join (hits bounded
    // by the batch grams) — a regression to a sort-merge/shuffled-hash
    // join would shuffle the full index per micro-batch while keeping
    // every value-level test green
    val bg = DocCommon
      .shingleTable(Tables.load(spark, dir, "documents")
          .filter(DocCommon.q110Mod === 0),
        Seq("source"))
      .select(col("source"), col("shingle")).distinct()
    val rep = IngestQueries.noveltyBatchReport(bg, Tables.gramIndex(spark, dir))
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"index probe is not a broadcast semi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"gram index side is being shuffled:\n$plan")
  }

  test("corpus monotonicity vs q117: superset corpus never increases novelty") {
    val batch1 = streamed.filter(_.getAs[Long]("batch") == 1L)
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("batch_grams"), r.getAs[Long]("novel_grams")))
      .toMap
    val q117 = Registry.byName("q117_ngram_novelty").run(spark, dir)
      .collect()
    assert(q117.nonEmpty && batch1.nonEmpty)
    q117.foreach { r =>
      val (bg, nv) = batch1(r.getAs[String]("source"))
      assert(r.getAs[Long]("batch_grams") === bg,
        s"same mod-0 batch must yield the same gram count: $r")
      assert(r.getAs[Long]("novel_grams") <= nv,
        s"q117's superset corpus found FEWER hits than the mod-2 index: $r")
    }
  }
}
