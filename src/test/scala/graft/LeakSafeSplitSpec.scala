package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.queries.{DocCommon, Registry, TextQueries}

/** q115 leakage-safe split laws on the real sf0.001 corpus:
  *
  *  1. NO-STRADDLE (the query's contract): both endpoints of every
  *     near-dup pair land in the SAME split under the cluster-keyed
  *     rule — eval leakage is structurally impossible.
  *  2. LEAK-DIFFERENTIAL: the naive per-doc q46 rule DOES straddle at
  *     least one near-dup pair on this corpus — i.e. the query fixes a
  *     real bug, and its n_moved column is nonzero.
  *  3. CONSERVATION: lifting the split key reassigns documents but
  *     never drops or duplicates them — q115's (n_docs, sum_tokens)
  *     totals equal q46's.
  */
class LeakSafeSplitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  // the engine's own rule — the spec grades its APPLICATION (cluster
  // key vs doc key), not a re-derivation of the rule text
  private def splitOf(c: Column): Column = DocCommon.md5SplitOf(c)

  test("no near-dup pair straddles splits under the cluster-keyed rule") {
    val labels = TextQueries.dupClusterLabels(spark, dir)
    val assigned = labels.select(col("doc_id"),
      splitOf(col("label")).as("split"))
    val pairs = TextQueries.nearDupPairs(spark, dir)
      .select(col("doc1"), col("doc2"))
    val straddling = pairs
      .join(assigned.toDF("doc1", "s1"), "doc1")
      .join(assigned.toDF("doc2", "s2"), "doc2")
      .filter(col("s1") =!= col("s2"))
      .count()
    assert(straddling === 0L)
  }

  test("the naive doc_id rule DOES straddle pairs here, and q115 reports moves") {
    val pairs = TextQueries.nearDupPairs(spark, dir)
      .select(col("doc1"), col("doc2"))
    val naiveStraddling = pairs
      .filter(splitOf(col("doc1")) =!= splitOf(col("doc2")))
      .count()
    assert(naiveStraddling > 0L,
      "fixture regression: the naive split no longer leaks — the " +
        "differential half of this law has nothing to prove")
    val moved = Registry.byName("q115_leakage_safe_split").run(spark, dir)
      .agg(sum("n_moved")).collect().head.getLong(0)
    assert(moved > 0L)
  }

  test("q115 conserves q46's doc and token totals") {
    def totals(name: String): (Long, Long) = {
      val r = Registry.byName(name).run(spark, dir)
        .agg(sum("n_docs"), sum("sum_tokens")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    assert(totals("q115_leakage_safe_split") === totals("q46_train_split"))
  }
}
