package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL surface of the cache exemplar (q93's plan-level twin lives in
  * PlanShapeSpec): `CACHE TABLE` must register an InMemoryRelation the
  * planner actually reads, and `UNCACHE` must drop it. */
class CacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("CACHE TABLE AS SELECT: reads hit InMemoryTableScan until UNCACHE") {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders_cs")
    spark.sql("""CACHE TABLE daily_cache AS
      SELECT o_orderdate, COUNT(*) AS n, SUM(CAST(o_totalprice AS
        DECIMAL(18,4))) AS rev
      FROM orders_cs GROUP BY 1""")
    try {
      assert(spark.catalog.isCached("daily_cache"))
      val q = spark.sql(
        "SELECT COUNT(*) AS days, SUM(n) AS total FROM daily_cache")
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan") ||
        p.contains("In-memory table daily_cache"), p)
      // and the cached read must NOT rescan the orders parquet. The
      // InMemoryRelation node prints its ORIGINATING plan (which
      // legitimately contains the parquet scan it was built from), so
      // only the executed section ABOVE it may be checked.
      val aboveCache = p.substring(0, p.indexOf("InMemoryRelation"))
      assert(!aboveCache.contains("parquet"), p)
    } finally {
      spark.sql("UNCACHE TABLE daily_cache")
      assert(!spark.catalog.isCached("daily_cache"))
    }
  }

  test("q93 cache hygiene: harness release leaves no persisted entry") {
    import org.apache.spark.storage.StorageLevel
    queries.QueryCaches.releaseAll() // clean slate
    val df = SparkEntry.queries("q93_cached_share")(spark, dir)
    df.collect()
    val tracked = queries.QueryCaches.peek
    assert(tracked.size == 1, s"q93 should track exactly its daily summary, got ${tracked.size}")
    assert(tracked.head.storageLevel != StorageLevel.NONE,
      "daily summary should be cached while the query lives")
    queries.QueryCaches.releaseAll()
    assert(queries.QueryCaches.trackedCount == 0)
    assert(tracked.forall(_.storageLevel == StorageLevel.NONE),
      "release must actually unpersist — no InMemoryRelation survives q93")
  }

  test("q23 pins: harness release unpersists every localCheckpoint; a rerun hashes the same") {
    import tools.Canon
    def pinned = spark.sparkContext.getPersistentRDDs.values
      .filter(_.isCheckpointed)
    queries.QueryCaches.releaseAll() // clean slate
    val df = SparkEntry.queries("q23_near_dup_minhash")(spark, dir)
    val first = Canon.rows(df)
    assert(pinned.nonEmpty, "q23 should hold its localCheckpoint pins while it lives")
    queries.QueryCaches.releaseAll()
    assert(pinned.isEmpty, s"release left ${pinned.size} checkpointed RDDs persisted")
    java.lang.ref.Reference.reachabilityFence(df)
    val again = Canon.rows(SparkEntry.queries("q23_near_dup_minhash")(spark, dir))
    queries.QueryCaches.releaseAll()
    assert(Canon.sha256(again) === Canon.sha256(first))
  }
}
