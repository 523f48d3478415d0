package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DocCommon, IngestQueries, Registry}

/** q110e — index compaction, the LSM close-out of the q110c append
  * cycle. The DuckDB oracle (shared with q110c) grades the funnel
  * against pure two-step semantics; this spec pins the storage story
  * the oracle cannot see: (1) read-equivalence — the funnel computed
  * against the COMPACTED index equals q110c's computed against
  * base ∪ delta, row for row; (2) the compacted segment's membership
  * is exactly base ∪ kept batch-1 docs (recomputed independently);
  * (3) the read-side signature — batch 2's plan scans the compacted
  * location and NO delta segment appears anywhere in the returned
  * plan (q110c's plan, by contrast, must scan the delta). */
class IndexCompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private lazy val funnel =
    Registry.byName("q110e_index_compaction").run(spark, dir)
  private lazy val funnelRows = funnel.collect()

  test("compaction read-equivalence: funnel equals q110c row for row") {
    val cyc = Registry.byName("q110c_index_append_cycle")
      .run(spark, dir).collect()
    assert(funnelRows.map(_.toSeq).toSeq === cyc.map(_.toSeq).toSeq)
  }

  test("batch-2 stage scans the compacted segment and no delta anywhere") {
    funnelRows // ensure the run happened (compacted segment written)
    val roots = TestSpark.scanRoots(funnel)
    assert(roots.exists(_.endsWith("_compact_bands")) &&
      roots.exists(_.endsWith("_compact_sets")),
      s"plan does not scan the compacted segment: $roots")
    assert(!roots.exists(_.contains("delta")),
      s"compacted read still scans a delta segment: $roots")
  }

  test("compacted membership is exactly base ∪ kept batch-1 docs") {
    funnelRows
    def ids(df: DataFrame): Set[Long] =
      df.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val (cBandsLoc, cSetsLoc) = IngestQueries.q110eCompactLocs(spark, dir)
    // independent recompute of kept1 (IndexAppendSpec's derivation):
    // batch-1 shingled ids minus the near set vs the base index
    val base = Tables.minhashIndexBase(spark, dir)
    val b1 = Tables.load(spark, dir, "documents")
      .filter(DocCommon.q110Mod === 0)
    val sh1 = DocCommon.shingleTable(b1, Nil)
    val near1 = IngestQueries.indexDedupStep(sh1,
        IngestQueries.bandRows(sh1, Nil), None, base._1, base._2)
      .collect().map(_.getLong(0)).toSet
    val expected = ids(base._1) ++ (ids(sh1) -- near1)
    assert(ids(spark.read.parquet(cBandsLoc)) === expected)
    assert(ids(spark.read.parquet(cSetsLoc)) === expected)
  }
}
