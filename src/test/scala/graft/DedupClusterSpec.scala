package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** ccLabels — the connected-components core under q39/q115 (round-15
  * verdict item 5: pointer doubling as the default). The DuckDB
  * recursive-closure oracle grades the component CONTENT on the real
  * corpus; these laws pin what it cannot see — the CONVERGENCE-RATE
  * contract that keeps a 100× corpus with a long dup chain from
  * aborting at the round cap:
  *
  *  1. a planted 64-chain (diameter 63) converges under pointer
  *     doubling in ≤ 7 changing rounds — the O(log d) claim, exactly;
  *  2. the one-hop twin ABORTS at the same cap=32 on that chain — the
  *     failure mode the doubling removes, demonstrated not argued;
  *  3. both forms are output-identical where both converge (a planted
  *     chain with a generous cap, and the REAL near-dup graph), with
  *     doubling using strictly fewer rounds on the chain.
  */
class DedupClusterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  /** Undirected edge list of the path 1-2-…-n (diameter n-1), ids
    * offset by 100 so a label of 101 is provably a propagated minimum
    * and not a default. */
  private def chain(n: Int): DataFrame = {
    import spark.implicits._
    val e = (1 until n).map(i => (100L + i, 101L + i)).toDF("src", "dst")
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
  }

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("pointer doubling: planted 64-chain converges in <= 7 changing rounds") {
    val (labels, rounds) = TextQueries.ccLabels(chain(64), doubling = true,
      cap = 32)
    assert(rounds <= 7, s"doubling took $rounds rounds on a 64-chain")
    val ls = labelSet(labels)
    assert(ls.size === 64)
    assert(ls === (1 to 64).map(i => (100L + i, 101L)).toSet,
      "every chain node must carry the component minimum")
  }

  test("one-hop twin aborts at cap=32 on the same 64-chain, loudly") {
    val e = intercept[IllegalStateException] {
      TextQueries.ccLabels(chain(64), doubling = false, cap = 32)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("both forms output-identical on a chain; doubling strictly faster") {
    val und = chain(12) // one-hop needs 11 changing rounds — under cap
    val (fast, fr) = TextQueries.ccLabels(und, doubling = true, cap = 32)
    val (slow, sr) = TextQueries.ccLabels(und, doubling = false, cap = 32)
    assert(labelSet(fast) === labelSet(slow))
    assert(sr === 11, s"one-hop must walk the diameter ($sr rounds)")
    assert(fr < sr, s"doubling ($fr) not faster than one-hop ($sr)")
  }

  test("both forms output-identical on the real near-dup graph") {
    val pairs = TextQueries.nearDupPairs(spark, dir)
      .select(col("doc1"), col("doc2"))
    val und = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .unionAll(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      .localCheckpoint()
    val (fast, _) = TextQueries.ccLabels(und, doubling = true, cap = 32)
    val (slow, _) = TextQueries.ccLabels(und, doubling = false, cap = 32)
    val ls = labelSet(fast)
    assert(ls.nonEmpty, "fixture regression: no near-dup graph to label")
    assert(ls === labelSet(slow))
  }
}
