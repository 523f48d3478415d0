package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Policy._
import graft.queries.Registry

/** The incremental-MV identity behind q94: fold(mv, delta) must equal
  * the full recompute, and the plan must actually READ the MV instead
  * of rescanning pre-cutoff history. (The DuckDB oracle proves the same
  * identity cross-engine; this spec proves it Spark-side at test scale
  * and pins the plan property the oracle cannot see.) */
class MvEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("q94 merged result equals the full recompute") {
    val merged = Registry.byName("q94_incremental_mv").run(spark, dir)
      .collect().map(_.toSeq).toSeq
    val full = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dbl(sum(dec(col("value"))).cast(Dec4)).as("sum_value"))
      .orderBy(col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(merged === full)
  }

  test("q94 reads the materialized MV; events is scanned exactly once") {
    val df = Registry.byName("q94_incremental_mv").run(spark, dir)
    val roots = TestSpark.scanRoots(df)
    assert(roots.exists(_.contains("events_mv_")),
      s"plan does not read the MV parquet: $roots")
    assert(roots.count(_.endsWith("events.parquet")) === 1,
      s"pre-cutoff history must not be rescanned: $roots")
  }
}
