package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QueryCaches, Registry}

/** Generated code is compiled once per JVM, not once per pass: the
  * codegen cache Sessions sizes (`spark.sql.codegen.cache.maxEntries`)
  * holds a multi-query working set, so running the same queries again
  * finds every class already compiled. At Spark's default of 100
  * entries a working set above 100 classes evicts itself and the rerun
  * compiles about as much as the first run. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // the doc queries that compile the most classes per run
  private val working = Seq("q115_leakage_safe_split", "q24f_ann_pq",
    "q105_semantic_dedup_kmeans")

  private def compiled(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def runWorkingSet(): Unit = working.foreach { q =>
    try Registry.byName(q).run(spark, TestSpark.sf0001)
      .queryExecution.toRdd.count()
    finally QueryCaches.releaseAll()
  }

  test("a warm rerun of a >100-class query sequence compiles at most 5% of the cold run") {
    // The session first: CodeGenerator reads the cap from the active
    // session's conf when its object initializes, which touching it
    // below would otherwise do with no session (the default, 100).
    spark
    // Earlier suites in this JVM may have cached these classes already;
    // empty the cache (private to CodeGenerator, hence reflection) so
    // the first run is cold.
    val cache = {
      val m = CodeGenerator.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(CodeGenerator)
    }
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val cold = compiled(runWorkingSet())
    assert(cold > 100, s"the working set compiled only $cold classes cold")
    val warm = compiled(runWorkingSet())
    info(s"cold run $cold classes, warm rerun $warm")
    assert(warm <= cold * 0.05, s"the warm rerun compiled $warm of $cold classes")
  }
}
