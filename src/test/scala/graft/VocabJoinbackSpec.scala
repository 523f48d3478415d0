package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** The corpus-model join-backs of q104 (unigram vocab) and q108 (bigram
  * LM) broadcast the model (valid to ~10⁷ model rows). This spec pins
  * the PHYSICAL shape on the real fixture: the model side rides a
  * broadcast and no join in either query shuffles.
  */
class VocabJoinbackSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("q104 default path plans NO sort-merge join anywhere") {
    // the Heaps-bounded vocab and the top-5 tails are the only joins;
    // both must ride broadcasts — and q108's bigram LM the same way
    for (q <- Seq("q104_token_rarity", "q108_bigram_lm_score")) {
      val df = Registry.byName(q).run(spark, dir)
      df.collect()
      val plan = TestSpark.finalPlan(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q did not broadcast its model:\n$plan")
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"$q shuffled a join:\n$plan")
    }
  }
}
