package graft.queries

/** Per-run scratch directories for the streaming registry queries
  * (q110d/q110f sink+checkpoint+delta roots, q116b/q117b sink+ckpt).
  * Those queries deliberately create FRESH dirs per run — Bench's
  * timed reps must pay the full replay including the writes — but the
  * dirs were never deleted, so a bench run accumulated a full
  * delta-index + sink parquet copy per rep per query under /tmp
  * (round-15 ADVICE item 2). Mirrors QueryCaches' contract: builders
  * register what they create, the harnesses (Bench after each timed
  * pass, Verify after each query) call `purge()` once the returned
  * DataFrame has been consumed, and a JVM shutdown hook covers
  * everything else (specs, PlanDump).
  *
  * purge() must only run AFTER the query's result has been collected:
  * the returned DataFrame is a scan of the sink directory, so deleting
  * early would break the read. Both harnesses call it in the same
  * finally block that releases QueryCaches — after the action.
  */
object Scratch {
  private val live =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  { // best-effort cleanup for non-harness consumers (specs, tools)
    Runtime.getRuntime.addShutdownHook(new Thread(() => purge()))
  }

  /** Create a temp dir registered for end-of-query deletion. */
  def dir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(tag)
    live.add(p)
    p.toString
  }

  /** One fresh registered dir per tag, named `<prefix>-<tag>`. */
  def dirs(prefix: String, tags: String*): Seq[String] =
    tags.map(t => dir(s"$prefix-$t"))

  def liveCount: Int = live.size

  /** Recursively delete every scratch dir registered since the last
    * purge. Safe when empty (the common case) and best-effort per
    * file — a vanished path must not fail the harness. */
  def purge(): Unit = {
    // NonFatal only (round-16 ADVICE item 3): the best-effort contract
    // must not swallow OutOfMemoryError or InterruptedException
    import scala.util.control.NonFatal
    var p = live.poll()
    while (p != null) {
      try {
        import scala.jdk.CollectionConverters._
        // close the walk stream even when iteration aborts mid-walk
        // (a concurrent delete can throw from the iterator) — an
        // abandoned stream holds directory fds until GC (review
        // finding)
        val walk = java.nio.file.Files.walk(p)
        try walk.iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(f => try java.nio.file.Files.deleteIfExists(f)
            catch { case NonFatal(_) => () })
        finally walk.close()
      } catch { case NonFatal(_) => () }
      p = live.poll()
    }
  }
}
