package graft

import org.apache.spark.sql.SparkSession

/** One place that builds every SparkSession (Verify, Bench, tests).
  *
  * All cross-engine determinism-relevant settings live HERE, not in
  * loaders or queries (a loader mutating session conf as a side effect
  * silently changes later reads — flagged in round 1's verdict):
  *
  *   - session.timeZone=UTC: events.ts round-trips through TimestampNTZ;
  *     any NTZ↔LTZ cast must agree with the DuckDB oracle's UTC epoch math.
  *   - legacy.parquet.nanosAsLong=true: events.parquet stores
  *     TIMESTAMP(NANOS), which Spark's reader otherwise rejects; we read
  *     raw Long nanos and truncate to µs ourselves (Tables.loadEvents).
  *   - shuffle.partitions = cpu count (NOT the 200 default): local[32]
  *     single-JVM; on a real cluster this is sized to executor count and
  *     AQE coalesces post-shuffle partitions anyway.
  *   - AQE on: runtime re-plan (broadcast conversion, skew-join split) is
  *     the 100 TB answer to stats drift; we design plans assuming it.
  *   - buffer.pageSize=1m: a Tungsten page is the smallest unit a hash
  *     map or sorter takes, and a broadcast hashed relation holds one
  *     whole page for a few KB of rows. At the 16 MB default, the
  *     relations a pass leaves in the driver's memory store until a GC
  *     lets ContextCleaner drop them show up as tens of MB of live heap.
  *     1 MB is inside Spark's own 1–64 MB default range, and a task still
  *     addresses 8 GB through its 8,192-entry page table. The page also
  *     bounds HashAggregate's first-level fast map, so more keys spill
  *     over to the regular map: partial-aggregate rows leave in another
  *     order (shuffle bytes move by tenths of a percent), with the same
  *     values.
  *   - sql.codegen.cache.maxEntries=4096: Spark keeps the classes Janino
  *     compiles for generated code in one JVM-wide LRU cache of this
  *     many entries (default 100). The working sets are larger: a
  *     doc_pipeline pass of loadbench needs about 400 distinct classes,
  *     olap_batch about 180, and a Bench JVM has compiled 2,632 by the
  *     end of its first pass over all 149 queries at sf0.1. At 100 the
  *     cache thrashes and every warm pass pays the compile again, while
  *     codegen only pays off when a class is compiled once and run many
  *     times (Spark SQL, SIGMOD 2015, §4.3.4). 4096 is the smallest
  *     power of two at least 1.25 times the Bench count; a cached class
  *     holds about 25 KB of live heap.
  *     It is a static conf that `CodeGenerator` reads once, when the
  *     object is first initialized, so the first session in a JVM fixes
  *     it for the JVM's life: that session must come from here.
  */
object Sessions {
  def cpus: String = sys.props.get("SPARK_GRAFT_CPUS")
    .orElse(sys.env.get("SPARK_GRAFT_CPUS")).getOrElse("32")

  def local(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.buffer.pageSize", "1m")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("graft.warehouse", "/tmp/graft-warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Typed Aggregator exemplars register per-session (UDAFs are not
    // injectable through SparkSessionExtensions).
    spark.udf.register("wavg_dec",
      org.apache.spark.sql.functions.udaf(
        graft.functions.DecimalWeightedAvg,
        graft.functions.DecimalWeightedAvg.inputEncoder))
    spark
  }
}
