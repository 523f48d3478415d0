package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom DSv2 source (sources/RangeSource): pruning and pushdown
  * must be OBSERVABLE in the plan, and pushdown must never change
  * results — including predicates the source cannot consume. */
class RangeSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def src(end: Long, slices: Int = 32) =
    spark.read.format("graftrange")
      .option("start", 0L).option("end", end).option("slices", slices)
      .load()

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan:\n" +
      df.queryExecution.executedPlan))

  test("short name registers via DataSourceRegister service file") {
    // format("graftrange") resolving at all proves META-INF/services wiring
    assert(src(10).count() === 10)
    // a stale service line (a class that no longer exists) makes the
    // ServiceLoader throw, breaking every format lookup, parquet included
    import scala.jdk.CollectionConverters._
    val graftNames = java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.sources.DataSourceRegister])
      .asScala.filter(_.getClass.getName.startsWith("graft."))
      .map(_.shortName()).toSet
    assert(graftNames === Set("graftavro", "graftrange"))
  }

  test("slices must be positive: 0 and -1 throw instead of reading nothing") {
    for (n <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](src(500000, n).count())
      assert(e.getMessage.contains("slices > 0"), e.getMessage)
    }
  }

  test("the source is batch-only: a streaming read fails loudly") {
    val e = intercept[UnsupportedOperationException] {
      spark.readStream.format("graftrange")
        .option("start", 0L).option("end", 1000L).load()
        .writeStream.format("memory").queryName("range_stream")
        .start()
    }
    assert(e.getMessage.contains(
      "graftrange does not support streamed reading"), e.getMessage)
  }

  test("equivalence with spark.range over the full schema") {
    val got = src(1000).select($"id", $"squared").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = (0L until 1000L).map(i => (i, i * i)).toArray
    assert(got === want)
  }

  test("range predicates prune planned partitions (14 of 32 survive)") {
    val df = src(500000).filter($"id" >= 100000L && $"id" < 300000L)
    // slice width ceil(500000/32)=15625; [100000,300000) spans slices
    // floor(100000/15625)=6 .. floor(299999/15625)=19 → 14 partitions
    assert(scanOf(df).inputRDD.getNumPartitions === 14)
    assert(df.count() === 200000)
  }

  test("pushed bounds are exact: no residual Filter re-evaluation needed") {
    val df = src(100000).filter($"id" >= 20000L && $"id" < 30000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pruned=[20000,30000)"), plan)
    assert(df.agg(sum($"id")).as[Long].head() ===
      (20000L until 30000L).sum)
  }

  test("non-range predicates stay residual and still apply") {
    val df = src(10000).filter($"id" % 7 === 0 && $"id" >= 5000L)
    assert(df.count() === (5000L until 10000L).count(_ % 7 == 0))
  }

  test("column pruning reaches the reader (id-only projection)") {
    val df = src(1000).select($"id")
    val scan = scanOf(df)
    assert(scan.schema.fieldNames.toSeq === Seq("id"),
      scan.schema.treeString)
  }

  test("batch scans are columnar (vectorized); values match the fold") {
    val df = src(100000).filter($"id" < 50000L)
    assert(scanOf(df).supportsColumnar,
      "batch read should serve ColumnarBatches")
    assert(df.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    assert(df.agg(sum($"squared")).as[Long].head() ===
      (0L until 50000L).map(i => i * i).sum)
  }

  test("count/min/max/sum over pushed bounds equal the closed forms") {
    val df = src(1000000)
      .filter($"id" >= 100L && $"id" < 900000L)
      .agg(count(lit(1)).as("n"), min($"id").as("mn"),
        max($"id").as("mx"), sum($"id").as("s"))
    val r = df.as[(Long, Long, Long, Long)].head()
    val (lo, hi) = (100L, 900000L)
    assert(r === ((hi - lo, lo, hi - 1, (lo + hi - 1) * (hi - lo) / 2)))
  }

  test("aggregates the source cannot answer fall back to a real scan") {
    // the source answers no aggregate itself → the normal columnar scan
    val df = src(10000).agg(sum($"squared").as("s2"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftRange layout=[0,10000)x32"), plan)
    assert(df.as[Long].head() === (0L until 10000L).map(i => i * i).sum)
  }

  test("empty pruned range plans zero partitions") {
    val df = src(1000).filter($"id" > 5000L)
    assert(scanOf(df).inputRDD.getNumPartitions === 0)
    assert(df.count() === 0)
  }
}
