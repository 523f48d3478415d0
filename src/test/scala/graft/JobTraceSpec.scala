package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.trace.JobTrace

/** JobTrace's window is every job an action started, drained exactly:
  * input counted over pinned subplans too, the marker job left out,
  * and the last job's end delivered without a sleep. */
class JobTraceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext

  test("q23's window reports input bytes and rows over its pinned subplans") {
    // the final physical plan's leaf scans read q23 as 0 bytes: its
    // input is read by the jobs that pin the shingle subplans
    val (_, w) = JobTrace.once(spark) {
      try SparkEntry.queries("q23_near_dup_minhash")(spark, TestSpark.sf0001)
        .queryExecution.toRdd.count()
      finally queries.QueryCaches.releaseAll()
    }
    assert(w.inputBytes > 0L && w.inputRows > 0L, w.jobs)
  }

  test("the window counts exactly the jobs the body started, not the marker") {
    val trace = new JobTrace(spark)
    try for (k <- Seq(0, 1, 3)) {
      val (_, w) = trace.window((1 to k).foreach(_ => sc.parallelize(1 to 10, 2).count()))
      // job ids are handed out in submission order
      assert(w.jobs.map(_.id) === w.jobs.headOption.toSeq.flatMap(j => j.id until j.id + k))
      assert(w.jobs.forall(_.site.startsWith("count at JobTraceSpec")), w.jobs)
    } finally trace.detach()
  }

  test("the last job's end is in the window when it returns, with no sleep") {
    val trace = new JobTrace(spark)
    try (1 to 20).foreach { _ =>
      val (after, w) = trace.window {
        sc.parallelize(1 to 100, 4).count()
        System.currentTimeMillis()
      }
      assert(w.jobs.size === 1)
      assert(w.startMs <= w.jobs.head.startMs && w.jobs.head.endMs <= after)
    } finally trace.detach()
  }
}
