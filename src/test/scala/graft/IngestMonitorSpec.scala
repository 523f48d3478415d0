package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.queries.{DocCommon, Registry}

/** Laws for the two ingest monitors (q116 drift, q117 novelty) on the
  * real sf0.001 corpus — both read the q110 family's md5-range batch
  * carve, so they describe the same arriving batch the incremental
  * dedup queries ingest.
  *
  * q116: integer-ppm accounting — each side's shares floor-sum to
  * (10⁶ − |sources|, 10⁶], signed drift sums to ~0, and the two doc
  * counts partition the corpus exactly.
  *
  * q117: a DIFFERENTIAL law — the engine's broadcast semi/anti chain
  * (corpus scanned once, batch grams broadcast) must equal the naive
  * per-source except-based novelty computed independently here.
  */
class IngestMonitorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("q116 ppm shares floor-sum to 1e6 and drift sums to ~0") {
    val rows = Registry.byName("q116_ingest_drift").run(spark, dir).collect()
    val n = rows.length
    assert(n > 0)
    val corpusPpm = rows.map(_.getAs[Long]("corpus_ppm")).sum
    val batchPpm = rows.map(_.getAs[Long]("batch_ppm")).sum
    assert(corpusPpm > 1000000L - n && corpusPpm <= 1000000L)
    assert(batchPpm > 1000000L - n && batchPpm <= 1000000L)
    val drift = rows.map(_.getAs[Long]("drift_ppm")).sum
    assert(math.abs(drift) <= n, s"signed drift sums to $drift")
  }

  test("q116 doc counts partition the corpus exactly") {
    val rows = Registry.byName("q116_ingest_drift").run(spark, dir).collect()
    val total = rows.map(r =>
      r.getAs[Long]("corpus_docs") + r.getAs[Long]("batch_docs")).sum
    val docs = Tables.load(spark, dir, "documents").count()
    assert(total === docs)
  }

  test("q117's broadcast chain equals the naive except-based novelty") {
    val sh = DocCommon.shingleTable(
      Tables.load(spark, dir, "documents")
        .withColumn("is_batch", DocCommon.q110Mod === 0),
      Seq("is_batch", "source"))
    val naiveNovel = sh.filter(col("is_batch"))
      .select(col("source"), col("shingle")).distinct()
      .join(sh.filter(!col("is_batch")).select(col("shingle")).distinct(),
        Seq("shingle"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("novel_naive"))
    val q = Registry.byName("q117_ngram_novelty").run(spark, dir)
      .select(col("source"), col("novel_grams"))
    val mismatches = q.join(naiveNovel, Seq("source"), "full")
      .filter(col("novel_grams").isNull || col("novel_naive").isNull ||
        col("novel_grams") =!= col("novel_naive"))
      .count()
    assert(mismatches === 0L)
    val bounds = Registry.byName("q117_ngram_novelty").run(spark, dir)
      .filter(col("novelty_ppm") < 0 || col("novelty_ppm") > 1000000L)
      .count()
    assert(bounds === 0L)
  }
}
