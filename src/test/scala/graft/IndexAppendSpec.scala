package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DocCommon, IngestQueries, Registry}

/** q110c — the index APPEND half of the production ingest-dedup loop
  * (round-13 verdict item 6). The DuckDB oracle grades the funnel
  * against pure two-step semantics; this spec pins what the oracle
  * cannot see: (1) the appended delta segment is REAL — batch 2's plan
  * scans the delta parquet alongside the base index; (2) the delta
  * payload is exactly the kept batch-1 docs; (3) the append MATTERS —
  * deduping batch 2 against the base index alone loses the cross-batch
  * near-dups, and the batch-2 funnel counts come from the updated
  * index. IndexedDedupSpec's pattern extended to the write path. */
class IndexAppendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def docsB(m: Int): DataFrame =
    Tables.load(spark, dir, "documents").filter(DocCommon.q110Mod === m)

  // one registry run for the whole suite: materializes the delta
  // segment and yields the funnel the laws below read
  private lazy val funnel =
    Registry.byName("q110c_index_append_cycle").run(spark, dir)
  private lazy val funnelRows = funnel.collect()

  private def nearIds(idx: (DataFrame, DataFrame)): Set[Long] = {
    val b2 = docsB(1)
    val sh = DocCommon.shingleTable(b2, Nil)
    IngestQueries.indexDedupStep(sh, IngestQueries.bandRows(sh, Nil), None,
        idx._1, idx._2)
      .collect().map(_.getLong(0)).toSet
  }

  test("q110c batch-2 stage scans the appended delta segment") {
    funnelRows // ensure the run happened (delta written)
    val roots = TestSpark.scanRoots(funnel)
    assert(roots.exists(_.endsWith("_delta_bands")) &&
      roots.exists(_.endsWith("_delta_sets")),
      s"plan does not scan the delta segment: $roots")
    assert(roots.exists(r => r.contains("docs_minhash_base_") &&
      r.endsWith("_bands") && !r.contains("delta")),
      s"plan does not scan the base index: $roots")
  }

  test("delta segment holds exactly the kept batch-1 docs' bands and sets") {
    funnelRows
    val (dBandsLoc, dSetsLoc) = IngestQueries.q110cDeltaLocs(spark, dir)
    val deltaBandIds = spark.read.parquet(dBandsLoc)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val deltaSetIds = spark.read.parquet(dSetsLoc)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // recompute kept1 independently: batch-1 ids minus the step-1 near
    // set derived against the base index (shingleTable drops docs with
    // < 5 tokens, which can never carry bands/sets)
    val base = Tables.minhashIndexBase(spark, dir)
    val b1 = docsB(0)
    val sh1 = DocCommon.shingleTable(b1, Nil)
    val near1 = IngestQueries.indexDedupStep(sh1,
        IngestQueries.bandRows(sh1, Nil), None, base._1, base._2)
      .collect().map(_.getLong(0)).toSet
    val shingled1 = sh1.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val kept1 = shingled1 -- near1
    assert(deltaBandIds === kept1)
    assert(deltaSetIds === kept1)
  }

  test("the append matters: base-only dedup of batch 2 misses cross-batch dups") {
    funnelRows // delta segment must exist
    val base = Tables.minhashIndexBase(spark, dir)
    val (dBandsLoc, dSetsLoc) = IngestQueries.q110cDeltaLocs(spark, dir)
    val updated = (
      base._1.select("doc_id", "band_idx", "band_val")
        .union(spark.read.parquet(dBandsLoc)
          .select("doc_id", "band_idx", "band_val")),
      base._2.select("doc_id", "ss", "n")
        .union(spark.read.parquet(dSetsLoc).select("doc_id", "ss", "n")))
    val nearBase = nearIds(base)
    val nearUpdated = nearIds(updated)
    assert(nearBase.subsetOf(nearUpdated))
    assert(nearBase !== nearUpdated,
      "fixture regression: no batch-2 doc near-duplicates an admitted batch-1 doc")
    // the batch-2 funnel is the updated-index result, not the base one
    val batch2Near = funnelRows.filter(_.getAs[Long]("batch") == 2L)
      .map(_.getAs[Long]("near_dups")).sum
    assert(batch2Near === nearUpdated.size.toLong)
  }
}
