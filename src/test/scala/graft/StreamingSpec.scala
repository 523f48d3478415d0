package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs._

/** S1–S4 streaming acceptance (SURVEY §2.C): deterministic replay of
  * events.parquet through file streams with Trigger.AvailableNow and a
  * memory sink, asserted against the batch twins. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val replayDir = {
    val d = Files.createTempDirectory("graft-replay").toString
    StreamingJobs.prepareReplay(spark, TestSpark.sf0001, d)
    d
  }

  private def runToTable(df: DataFrame, name: String,
      mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  private def canon(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case null => "\\N"
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case x => x.toString
    }.mkString("|")).toSet

  test("S1: streamed hourly counts equal the batch result") {
    val streamed = runToTable(
      hourlyCounts(readReplayStream(spark, replayDir)), "s1", "complete")
    val batch = hourlyCounts(spark.read.parquet(replayDir))
    assert(canon(streamed) === canon(batch))
    assert(streamed.count() > 0)
  }

  test("S2: watermark drops synthetic late rows; on-time windows unchanged") {
    // Second input file: copies of the earliest 50 events shifted -2h
    // (well beyond the 10-minute watermark once file 1 has been seen),
    // with fresh event_ids so dedup can't explain the drop.
    // Two checkpointed AvailableNow runs: run 1 sees only the on-time
    // file and persists its watermark (max ts − 10 min) in the
    // checkpoint; run 2 picks up the late file and must drop every row
    // (all are ≥ 2 h behind the persisted watermark). This also proves
    // watermark state survives a restart — the production replay shape.
    val d = Files.createTempDirectory("graft-replay-late").toString
    val out = Files.createTempDirectory("graft-s2-out").toString
    val ckpt = Files.createTempDirectory("graft-s2-ckpt").toString
    val base = spark.read.parquet(replayDir)

    def runOnce(): Unit = {
      val q = hourlyCountsWatermarked(readReplayStream(spark, d))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    base.coalesce(1).write.mode("append").parquet(d)
    runOnce()
    base.orderBy("ts").limit(50)
      .withColumn("ts", col("ts") - expr("INTERVAL 2 HOURS"))
      .withColumn("event_id", col("event_id") + lit(10000000L))
      .coalesce(1).write.mode("append").parquet(d)
    runOnce()
    val streamed = spark.read.parquet(out)
    // Append mode emits only watermark-finalized windows; every emitted
    // row must match the ON-TIME batch aggregation exactly — late rows
    // (which all target pre-watermark windows) must not inflate anything.
    val onTime = hourlyCounts(base).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
    val emitted = streamed.collect()
    assert(emitted.nonEmpty)
    emitted.foreach { r =>
      val k = (r.getAs[java.sql.Timestamp]("hour"), r.getAs[String]("event_type"))
      assert(onTime.contains(k), s"unexpected window $k")
      assert(onTime(k) === (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")),
        s"late rows leaked into $k")
    }
  }

  test("S3: streamed session windows equal batch session windows (finalized subset)") {
    val streamed = runToTable(
      sessionsWatermarked(readReplayStream(spark, replayDir)), "s3", "append")
    val batch = sessions(spark.read.parquet(replayDir))
    val batchSet = canon(batch)
    val streamedSet = canon(streamed)
    // Append emits sessions finalized before the terminal watermark; each
    // emitted session must exist verbatim in the batch result, and most
    // sessions must have been emitted (only per-user tails are withheld).
    assert(streamedSet.nonEmpty)
    assert(streamedSet.subsetOf(batchSet),
      s"streamed-only sessions: ${streamedSet.diff(batchSet).take(5)}")
    assert(streamedSet.size >= batchSet.size / 2)
    // Batch session count per user equals Q21's gaps-and-islands count —
    // the two independent sessionization algorithms agree.
    val q21 = queries.Registry.byName("q21_sessionization")
      .run(spark, TestSpark.sf0001)
      .select("user_id", "n_sessions")
    val swCounts = batch.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"))
    assert(canon(q21) === canon(swCounts))
  }

  test("S5: stream-static join equals the batch join") {
    val customers = Tables.load(spark, TestSpark.sf0001, "customer")
    val streamed = runToTable(
      segmentActivity(readReplayStream(spark, replayDir), customers),
      "s5", "complete")
    val batch = segmentActivity(spark.read.parquet(replayDir), customers)
    assert(canon(streamed) === canon(batch))
    assert(streamed.count() > 0)
  }

  test("S10: stream-stream interval join equals the batch join and is non-empty") {
    def side(df: DataFrame, t: String) = df.filter(col("event_type") === t)
    val streamed = runToTable(
      clickPurchaseFunnel(
        side(readReplayStream(spark, replayDir), "click"),
        side(readReplayStream(spark, replayDir), "purchase")),
      "s10", "append")
    val base = spark.read.parquet(replayDir)
    val batch = clickPurchaseFunnel(side(base, "click"), side(base, "purchase"))
    assert(canon(streamed) === canon(batch))
    assert(streamed.count() > 0)
  }

  test("S11: stream-stream LEFT OUTER join emits matches plus watermark-finalized nulls") {
    def side(df: DataFrame, t: String) = df.filter(col("event_type") === t)
    val q = clickPurchaseFunnelOuter(
        side(readReplayStream(spark, replayDir), "click"),
        side(readReplayStream(spark, replayDir), "purchase"))
      .writeStream.format("memory").queryName("s11")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("s11")
    // The ACTUAL terminal watermark, from the final progress event —
    // re-deriving it by hand (per-side max − delay, min across sides,
    // ms truncation) is exactly the arithmetic the engine owns.
    val wm = java.time.Instant.parse(
      q.lastProgress.eventTime.get("watermark"))
    val wmUs = wm.getEpochSecond * 1000000L + wm.getNano / 1000L

    val base = spark.read.parquet(replayDir)
    val batch = clickPurchaseFunnelOuter(
      side(base, "click"), side(base, "purchase"))

    // Matched rows must be EXACTLY the inner-join result (outerness
    // changes nothing for matches).
    assert(canon(streamed.filter(col("purchase_id").isNotNull)) ===
      canon(batch.filter(col("purchase_id").isNotNull)))

    // Null rows: a click is emitted unmatched exactly when the terminal
    // watermark passed the end of its join window (click_ts + 30 min) —
    // before that a matching purchase could still arrive. Set EQUALITY
    // against the batch nulls filtered by that boundary: the
    // state-eviction rule itself, not just subset-ness.
    val expectedNulls = batch.filter(col("purchase_id").isNull)
      .filter(unix_micros(col("click_ts")) +
        lit(30L * 60 * 1000 * 1000) < lit(wmUs))
    val gotNulls = streamed.filter(col("purchase_id").isNull)
    assert(canon(gotNulls) === canon(expectedNulls),
      "watermark-finalized unmatched clicks must match the derived boundary")
    assert(gotNulls.count() > 0, "fixture must exercise the null path")
  }

  test("S6: streaming dropDuplicates removes an exact replay of the input") {
    // Same file twice: every event_id arrives twice; dedup must collapse
    // the stream back to the original counts.
    val d = Files.createTempDirectory("graft-replay-dup").toString
    val base = spark.read.parquet(replayDir)
    base.coalesce(1).write.mode("append").parquet(d)
    base.coalesce(1).write.mode("append").parquet(d)
    val streamed = runToTable(
      dedupedHourlyCounts(readReplayStream(spark, d)), "s6", "complete")
    val batch = hourlyCounts(base)
    assert(canon(streamed) === canon(batch))
  }

  test("S16: dropDuplicatesWithinWatermark dedups without unbounded state") {
    // S6's plain dropDuplicates keeps EVERY seen key forever — state
    // grows with the stream, which does not survive 100 TB. The
    // WithinWatermark variant (the production dedup) only guarantees
    // dedup for duplicates arriving within the watermark delay and
    // EVICTS keys once the watermark passes them, bounding state to
    // the delay window. Duplicates here arrive in the same files, so
    // a generous delay dedups exactly; the result must equal batch
    // distinct-by-key counts.
    import spark.implicits._
    val d = Files.createTempDirectory("graft-replay-wmdup").toString
    val base = spark.read.parquet(replayDir)
    base.coalesce(1).write.mode("append").parquet(d)
    base.coalesce(1).write.mode("append").parquet(d)
    val deduped = readReplayStream(spark, d)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy($"event_type").agg(count(lit(1)).as("n_events"))
    val streamed = runToTable(deduped, "s16", "complete")
    val batch = base
      .dropDuplicates("event_id")
      .groupBy($"event_type").agg(count(lit(1)).as("n_events"))
    assert(canon(streamed) === canon(batch))
  }

  test("S7: sliding windows — each event lands in 4 windows, equals batch") {
    val streamed = runToTable(
      slidingCounts(readReplayStream(spark, replayDir)), "s7", "complete")
    val batch = slidingCounts(spark.read.parquet(replayDir))
    assert(canon(streamed) === canon(batch))
    val totalEvents = spark.read.parquet(replayDir).count()
    val windowedSum = streamed.agg(org.apache.spark.sql.functions.sum("n_events"))
      .collect().head.getLong(0)
    assert(windowedSum === totalEvents * 4)
  }

  test("S9: update output mode emits each changed window exactly once") {
    // Two input files with DISJOINT event-time ranges (second shifted
    // +90 days): whatever the batch split, update mode must emit every
    // (hour, event_type) aggregate exactly once — re-emission of
    // unchanged windows or complete-mode re-dumps would duplicate keys.
    val d = Files.createTempDirectory("graft-replay-upd").toString
    val base = spark.read.parquet(replayDir)
    base.coalesce(1).write.mode("append").parquet(d)
    base.withColumn("ts", col("ts") + expr("INTERVAL 90 DAYS"))
      .withColumn("event_id", col("event_id") + lit(20000000L))
      .coalesce(1).write.mode("append").parquet(d)
    val streamed = runToTable(
      hourlyCounts(readReplayStream(spark, d, maxFilesPerTrigger = Some(1))),
      "s9", "update")
    val keys = streamed.select("hour", "event_type").collect()
      .map(r => (r.get(0).toString, r.getString(1)))
    assert(keys.length === keys.distinct.length, "update mode re-emitted a window")
    val batch = hourlyCounts(spark.read.parquet(d))
    assert(canon(streamed) === canon(batch))
  }

  test("S8: rate source smoke — the built-in synthetic stream wires up") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", 500).load()
      .writeStream.format("memory").queryName("s8").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      Thread.sleep(1200)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("s8").count() > 0)
    assert(spark.table("s8").columns.toSet === Set("timestamp", "value"))
    // console sink (§2.B sink row): one AvailableNow drain, and the
    // sink's own progress metric must show rows actually written (a
    // start()+await that wrote nothing would pass a bare smoke)
    val c = hourlyCounts(readReplayStream(spark, replayDir))
      .writeStream.format("console").option("numRows", 1)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    c.awaitTermination()
    assert(c.recentProgress.exists(_.sink.numOutputRows > 0),
      "console sink reported no written rows")
  }

  test("S4: mapGroupsWithState oscillator is replay-stable and matches a hand trace") {
    import spark.implicits._
    val events = spark.read.parquet(replayDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event]
    val run1 = oscillator(events).collect().sortBy(_.user_id)
    val run2 = oscillator(events).collect().sortBy(_.user_id)
    assert(run1.toSeq === run2.toSeq) // replay-stable
    assert(run1.nonEmpty)
    // n_events must equal the per-user event counts
    val counts = events.groupByKey(_.user_id).count().collect().toMap
    run1.foreach(o => assert(o.n_events === counts(o.user_id)))

    // hand trace: radius walks 10→12→…, reflects at 50; reset on signup
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(i: Int, typ: String) =
      Event(i.toLong, new java.sql.Timestamp(t0.getTime + i * 1000L), 1L, typ, 0.0)
    val seq = (1 to 25).map(i => ev(i, "click")) :+ ev(26, "signup") :+ ev(27, "click")
    val fin = seq.foldLeft(initState)(step)
    // 25 steps of +2 from 10: 10+2k reflects at 50 after 20 steps:
    // k=20 → 50, then -2 per step: 25 steps → 50 - 2*5 = 40; signup resets
    // to 10; one more step → 12.
    assert(fin.radius === 12)
    assert(fin.n === 27)
  }

  test("S4b: flatMapGroupsWithState reset log emits one row per signup") {
    import spark.implicits._
    val events = spark.read.parquet(replayDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event]
    val log = resetLog(events).collect()
    val signups = events.filter(_.event_type == "signup")
      .groupByKey(_.user_id).count().collect().toMap
    val perUser = log.groupBy(_.user_id).view.mapValues(_.length.toLong).toMap
    assert(perUser === signups.filter(_._2 > 0))
    // replay-stable and pre-reset state is never the fresh init state
    // unless the signup was the user's first event
    val log2 = resetLog(events).collect()
    assert(log.sortBy(r => (r.user_id, r.at_event_id)).toSeq ===
      log2.sortBy(r => (r.user_id, r.at_event_id)).toSeq)
    assert(log.exists(_.n_before > 0))
  }

  test("S14: transformWithState totals (RocksDB store) equal the batch twin") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      val stream = readReplayStream(spark, replayDir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[Event]
      val table = withStatePartitions(spark, 8) {
        runToTable(StreamingJobs.runningTotals(stream).toDF(),
          "s14_totals", "update")
      }
      // single-file replay → one batch → the emitted row IS the total;
      // max() folds idempotently if a rerun appended more batches
      val got = table.groupBy($"user_id")
        .agg(max($"n_events").as("n"), max($"sum_micro").as("s"))
      val twin = spark.read.parquet(replayDir)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("s"))
      assert(canon(got) === canon(twin))
      assert(table.count() > 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("S15: the state-store READER exposes S14's ValueState from its checkpoint") {
    // The ops side of long-lived streaming state: statestore is Spark's
    // batch DSv2 reader over a streaming checkpoint — the only way to
    // inspect, audit, or bulk-repair 100 TB of accumulated state
    // without replaying the stream. Reads S14's RocksDB-backed
    // transformWithState checkpoint (stateVarName picks the typed
    // ValueState cell) and must reproduce the batch twin exactly.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      val ck = Files.createTempDirectory("graft-s15-ck").toString
      val stream = readReplayStream(spark, replayDir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[Event]
      val q = withStatePartitions(spark, 8) {
        StreamingJobs.runningTotals(stream).toDF()
          .writeStream.format("memory").queryName("s15_totals")
          .option("checkpointLocation", ck)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      val state = spark.read.format("statestore")
        .option("stateVarName", "tot")
        .load(ck)
      val got = state.select($"value.user_id".as("user_id"),
        $"value.n_events".as("n"), $"value.sum_micro".as("s"))
      val twin = spark.read.parquet(replayDir)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("s"))
      assert(canon(got) === canon(twin))
      // the reader's key column is the grouping key itself
      assert(canon(state.select($"key.value")) ===
        canon(twin.select($"user_id")))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("S13: foreachBatch change-log sink is multi-batch and replay-idempotent") {
    val sf = TestSpark.sf0001
    val replay = StreamingJobs.replayDirMulti(spark, sf)
    val out = Files.createTempDirectory("graft-s13-sink").toString

    StreamingJobs.runForeachBatchCounts(spark, replay,
      Files.createTempDirectory("graft-s13-ck1").toString, out)
    // 4 replay files × maxFilesPerTrigger=1 → 4 batch partitions
    val dirs = new java.io.File(out).list().count(_.startsWith("batch="))
    assert(dirs === 4, s"expected 4 batch dirs, got $dirs")

    val batchTwin = graft.Tables.load(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.Policy.sumDbl(col("value")).as("sum_value"))
    val first = canon(StreamingJobs.foreachBatchTable(spark, out))
    assert(first === canon(batchTwin))

    // Full re-replay into the SAME sink dir from a FRESH checkpoint:
    // batch ids 0..3 repeat, every partition is overwritten — the
    // at-least-once worst case. The resolved table must not change.
    StreamingJobs.runForeachBatchCounts(spark, replay,
      Files.createTempDirectory("graft-s13-ck2").toString, out)
    assert(canon(StreamingJobs.foreachBatchTable(spark, out)) === first)
  }

  test("replay dirs are written once per sfDir: a repeat call returns the same path and rewrites no file") {
    // the WriteOnceLayoutSpec law for the four replay directories: a
    // second call for the same sfDir returns the first call's path and
    // leaves every file in it as it was (same names, same mtimes)
    def snapshot(dir: String): Map[String, Long] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p)
          .to(java.util.concurrent.TimeUnit.NANOSECONDS))
        .toMap
      finally walk.close()
    }
    val sf = TestSpark.sf0001
    val replays: Seq[(String, () => String)] = Seq(
      "replayDirFor" -> (() => replayDirFor(spark, sf)),
      "replayDirMulti" -> (() => replayDirMulti(spark, sf)),
      "replayDirDup" -> (() => replayDirDup(spark, sf)),
      "docsReplayDir" -> (() => docsReplayDir(spark, sf)))
    val dirs = replays.map { case (name, replay) =>
      val d = replay()
      val before = snapshot(d)
      assert(before.nonEmpty, s"$name wrote no file")
      assert(replay() === d, s"$name returned a new path for the same sfDir")
      assert(snapshot(d) === before, s"$name rewrote its replay directory")
      d
    }
    assert(dirs.distinct.size === dirs.size,
      "two replay kinds share one directory")
  }
}
