package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry
import graft.trace.JobTrace

/** Join/window spill path for the heavy LLM dedup queries (round-7
  * verdict item 6; the AGGREGATE spill fallback has its own spec). The
  * candidate-verify joins of the dedup family must complete — with
  * identical output — when their buffered row arrays are forced onto
  * the spill-capable external-sorter path: broadcast disabled (so the
  * joins run their shuffled paths) and the
  * ExternalAppendOnlyUnsafeRowArray thresholds dropped. At 100 TB this
  * is the difference between a slow query and a dead executor:
  * correctness may never depend on the working set fitting in memory.
  *
  * Spills surface in TASK metrics (diskBytesSpilled), not SQL plan
  * metrics, so a JobTrace window sums them; and because the dedup
  * pipelines' per-key candidate groups are deliberately SMALL (that is
  * their design), a dedicated hot-key join proves the knobs + metric
  * plumbing actually force disk spills.
  */
class SpillPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  // in.memory.threshold=2 forces every buffered join/window array onto
  // the spill-capable UnsafeExternalSorter immediately; a spill
  // threshold of 128 rows then forces disk spills in bounded batches (a
  // threshold of 2 spills per-row — pathological churn that turns a 2 s
  // query into minutes without proving anything more).
  private def pressure(spillRows: Int) = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "2",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> s"$spillRows",
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "2",
    "spark.sql.windowExec.buffer.spill.threshold" -> s"$spillRows",
    "spark.sql.cartesianProductExec.buffer.in.memory.threshold" -> "2",
    "spark.sql.cartesianProductExec.buffer.spill.threshold" -> s"$spillRows")

  private def withPressure[A](spillRows: Int)(body: => A): A = {
    val knobs = pressure(spillRows)
    val saved = knobs.map { case (k, _) =>
      k -> (try Some(spark.conf.get(k)) catch { case _: Exception => None })
    }
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup candidate-verify queries: identical output under forced spill") {
    for (name <- Seq("q23_near_dup_minhash", "q45_ngram_jaccard",
        "q65_fuzzy_edit_dedup")) {
      val expected = Registry.byName(name).run(spark, dir)
        .collect().map(_.toSeq).toSeq
      val got = withPressure(128) {
        Registry.byName(name).run(spark, dir).collect().map(_.toSeq).toSeq
      }
      assert(got === expected, s"$name output changed under memory pressure")
    }
  }

  test("a hot-key buffered join actually spills to disk and stays correct") {
    // One join key with 200k buffered-side rows: the per-key match
    // array exceeds every threshold, so the external sorter MUST write
    // spill files (task metric diskBytesSpilled > 0) and the join must
    // still produce exactly one output row per buffered row. The
    // constant key plans as a cartesian product, whose reader opens a
    // read-ahead buffer for every spill file at once: at 128 rows per
    // spill that is ~1,560 files and an OutOfMemoryError in a 4 GB
    // heap, so this test spills every 4,096 rows (~49 files).
    import spark.implicits._
    val streamed = Seq((1L, "probe")).toDF("k", "tag")
    val buffered = spark.range(200000).select(lit(1L).as("k"), $"id")
    val (cnt, w) = JobTrace.once(spark) {
      withPressure(4096) {
        streamed.join(buffered, "k").count()
      }
    }
    assert(cnt === 200000L)
    assert(w.spillBytes > 0L,
      "no task reported spill bytes — the pressure knobs did not engage")
  }
}
