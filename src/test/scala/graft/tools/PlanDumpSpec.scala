package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** PlanDump's normalizer: regenerating PLANS.md must diff only where a
  * plan changed, not where a run-dependent token did. */
class PlanDumpSpec extends AnyFunSuite {
  private val sample =
    """## q01 — scan
      |
      |(5) Exchange
      |Input [2]: [l_returnflag#8, sum#46]
      |Arguments: hashpartitioning(l_returnflag#8, 4), ENSURE_REQUIREMENTS, [plan_id=19]
      |(7) Exchange
      |Arguments: rangepartitioning(sum#46 ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=22]
      |(8) Project [round(sum#46, 4) AS s#50]
      |
      |### q110d batch=1
      |
      |Arguments: [doc1#237L], MapPartitionsRDD[50] at localCheckpoint at DocQueries.scala:212, ExistingRDD
      |Location: InMemoryFileIndex [file:/tmp/graft-q110d-sink83417/x]
      |Arguments: hashpartitioning(doc1#237L, 32), REPARTITION_BY_NUM, [plan_id=7]
      |Input [1]: [doc1#237L]
      |""".stripMargin

  private val normalized =
    """## q01 — scan
      |
      |(5) Exchange
      |Input [2]: [l_returnflag#0, sum#1]
      |Arguments: hashpartitioning(l_returnflag#0, <partitions>), ENSURE_REQUIREMENTS, [plan_id=0]
      |(7) Exchange
      |Arguments: rangepartitioning(sum#1 ASC NULLS FIRST, <partitions>), ENSURE_REQUIREMENTS, [plan_id=1]
      |(8) Project [round(sum#1, 4) AS s#2]
      |
      |### q110d batch=1
      |
      |Arguments: [doc1#0L], MapPartitionsRDD[0] at localCheckpoint at DocQueries.scala, ExistingRDD
      |Location: InMemoryFileIndex [file:<graft-q110d-sink>/x]
      |Arguments: hashpartitioning(doc1#0L, 32), REPARTITION_BY_NUM, [plan_id=0]
      |Input [1]: [doc1#0L]
      |""".stripMargin

  test("run-dependent ids, call-site lines, paths and partition counts normalize") {
    assert(PlanDump.normalizeScratch(sample, partitions = "4") == normalized)
  }

  test("ids renumber per section, so an unrelated earlier run changes nothing") {
    val shifted = sample.replace("#8", "#1008").replace("#46", "#1046")
      .replace("#50", "#1050").replace("plan_id=19", "plan_id=3")
      .replace("RDD[50]", "RDD[7]").replace("scala:212", "scala:230")
    assert(PlanDump.normalizeScratch(shifted, partitions = "4") == normalized)
  }
}
