package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** q110b — the indexed form of q110's incremental batch-vs-corpus
  * dedup. The index (`Tables.minhashIndex`) is a write-once
  * materialization of relations the in-query form derives, so the two
  * queries must be the same function of `documents`: this spec pins
  * byte-identical funnels AND the plan property the oracle cannot see
  * (the corpus text is never re-read — raw `documents` scans belong to
  * the batch side only, the corpus arrives via the two index parquet
  * relations). The MvEquivalenceSpec pattern applied to dedup. */
class IndexedDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("q110b funnel is byte-identical to q110's") {
    val indexed = Registry.byName("q110b_indexed_dedup").run(spark, dir)
      .collect().map(_.toSeq).toSeq
    val inQuery = Registry.byName("q110_incremental_dedup").run(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(indexed === inQuery)
    assert(indexed.nonEmpty)
  }

  test("q110b reads the index; raw documents scans are batch-side only") {
    Tables.minhashIndex(spark, dir) // ensure built (the untimed ingest)
    val df = Registry.byName("q110b_indexed_dedup").run(spark, dir)
    val roots = TestSpark.scanRoots(df)
    assert(roots.exists(_.contains("docs_minhash_")) &&
      roots.exists(_.endsWith("_bands")),
      s"plan does not read the band index parquet: $roots")
    assert(roots.exists(_.endsWith("_sets")),
      s"plan does not read the verify-set index parquet: $roots")
    // batch side: the funnel base (doc_id, source) + the shingle table
    // feeding the localCheckpoint — the checkpoint hides the latter from
    // the optimized plan, so at most the funnel scan(s) remain; what
    // matters is that NO documents scan lacks the batch carve and the
    // corpus never arrives as raw text
    val docScans = roots.count(_.endsWith("documents.parquet"))
    assert(docScans <= 2,
      s"$docScans raw documents scans — the corpus side must come from " +
        s"the index, not a re-shingle: $roots")
  }

  test("q110b equi-joins only, never all-pairs") {
    val df = Registry.byName("q110b_indexed_dedup").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q110b planned an all-pairs join:\n$p")
  }
}
