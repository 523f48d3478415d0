package org.apache.spark.loadbench

import org.apache.spark.SparkContext

/** Waits until every listener queue has delivered what was posted so
  * far, so a traced query's job and micro-batch events are all counted
  * before its numbers are read. The bus's wait is package-private to
  * Spark; this object is the benchmark's only use of it. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
