package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = the 100 TB co-located-join story (builder brief:
  * "repartition()/bucketing for co-located joins"): write both fact
  * tables bucketed by the join key, and the join needs NO shuffle
  * exchange at all — at cluster scale that removes the dominant cost of
  * every fact-fact join. This spec proves both the plan property (no
  * Exchange) and result equality with the shuffled join. */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def clearTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // the managed location can survive a previous JVM (in-memory catalog,
    // persistent warehouse dir) — remove it or saveAsTable refuses
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    if (loc.exists()) rm(loc)
  }

  private lazy val ready: Unit = {
    clearTable("lineitem_b")
    clearTable("orders_b")
    val li = Tables.load(spark, TestSpark.sf0001, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = Tables.load(spark, TestSpark.sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
  }

  test("bucketed fact-fact join plans with zero shuffle exchanges") {
    ready
    // disable auto-broadcast so the plan is the SMJ a 100 TB fact-fact
    // join would use (at sf0.001 the whole table fits a broadcast)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.executedPlan.toString
      // the join must not re-shuffle either bucketed side: the only
      // allowed exchange is the one AFTER the join, for the groupBy
      val joinIdx = p.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, p)
      assert(!p.substring(joinIdx).contains("Exchange"),
        s"bucketed join still shuffles:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed join result equals the shuffled join result") {
    ready
    def agg(li: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.DataFrame) =
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("decimal(18,4)")).as("q"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2))).toSet
    val bucketed = agg(spark.table("lineitem_b"), spark.table("orders_b"))
    val shuffled = agg(
      Tables.load(spark, TestSpark.sf0001, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice"),
      Tables.load(spark, TestSpark.sf0001, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"))
    assert(bucketed === shuffled)
  }

  test("sortWithinPartitions orders rows inside each partition only") {
    val df = spark.range(1000).toDF("id")
      .withColumn("k", pmod(col("id") * 37, lit(1000)))
      .repartition(7)
      .sortWithinPartitions("k")
    val perPartition = df.select("k").rdd
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toSeq))
      .collect()
    assert(perPartition.length === 7)
    perPartition.foreach(p =>
      assert(p === p.sorted, "partition not internally sorted"))
    assert(perPartition.flatten.sorted === (0L until 1000L))
  }
}
