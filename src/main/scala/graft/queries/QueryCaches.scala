package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-state hygiene for registry queries that `persist()` (today:
  * q93's shared daily summary). A registry query must not leak cache
  * entries for the life of the session (round-8 verdict item 6), but it
  * also cannot unpersist eagerly — the consumer executes the returned
  * plan AFTER the builder runs. So builders `track` what they persist and
  * the harnesses (Verify after each query, Bench after each timed pass)
  * call `releaseAll()`: the cache lives exactly as long as the one query
  * that built it. Unpersist is non-blocking — cleanup must not tax the
  * next timed query.
  *
  * At 100 TB the same contract holds: a cached shared subplan is scoped
  * to the job that uses it, released when the job completes — never an
  * unbounded session-lifetime accumulation.
  */
object QueryCaches {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Register a persisted DataFrame for end-of-query release. */
  def track(df: DataFrame): DataFrame = { live.add(df); df }

  def trackedCount: Int = live.size

  /** Snapshot of currently-tracked frames (hygiene specs inspect
    * storageLevel across a releaseAll). */
  def peek: Seq[DataFrame] = {
    val b = Seq.newBuilder[DataFrame]
    live.forEach(df => b += df)
    b.result()
  }

  /** Unpersist everything tracked since the last release, then every
    * spent `localCheckpoint` pin. Safe to call when empty.
    *
    * A builder's `localCheckpoint()` persists its RDD's blocks in the
    * block manager and nothing else tracks them, so without this a
    * query's pins stay until ContextCleaner drops them after some later
    * GC finds the RDD unreachable: a pass's leftovers read as about
    * 10 MB of deserialized blocks in the next query's live heap. A
    * pin's lineage is truncated, so once its blocks are gone its
    * DataFrame cannot be recomputed: reading it again fails with
    * Spark's "Checkpoint block ... not found" error. So no caller may
    * reuse a query's DataFrame across a release, and none does: Bench,
    * Verify, ProfileQuery, GoldenGen, PlanDump and loadbench each run
    * a query, then release.
    */
  def releaseAll(): Unit = {
    var df = live.poll()
    while (df != null) {
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () }
      df = live.poll()
    }
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.getPersistentRDDs.values
        .filter(_.isCheckpointed)
        .foreach(_.unpersist(blocking = false)))
  }
}
