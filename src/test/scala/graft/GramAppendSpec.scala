package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DocCommon, IngestQueries, Registry}

/** q117c — the cumulative gram-index append cycle (round-15 verdict
  * item 3). The DuckDB oracle grades both batches against pure set
  * semantics (batch 1 vs the mod-2 gram set, batch 2 vs mod-2 ∪
  * mod-0); these laws pin the storage mechanics and the cross-query
  * relationships the oracle cannot see:
  *
  *  1. the delta segment's membership is EXACTLY batch-1's novel grams
  *     (independent anti-join recompute from raw text);
  *  2. batch-1 rows are identical to q117b's batch-1 rows — before any
  *     append the two monitors measure the same thing;
  *  3. MONOTONICITY vs the stateless monitor: on batch 2 the same
  *     gram counts, and cumulative novel_grams ≤ q117b's stateless
  *     novel_grams per source — with a STRICT witness somewhere (the
  *     fixture binds: batch 1 shares grams with batch 2 that the
  *     corpus lacks), or the append provably absorbed nothing.
  */
class GramAppendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private lazy val cumulative = Registry.byName("q117c_gram_index_append")
    .run(spark, dir).collect()
  private lazy val stateless = Registry.byName("q117b_stream_novelty")
    .run(spark, dir).collect()

  private def byBatch(rows: Array[org.apache.spark.sql.Row], b: Long) =
    rows.filter(_.getAs[Long]("batch") == b)
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("batch_grams"), r.getAs[Long]("novel_grams")))
      .toMap

  test("delta segment holds exactly batch-1's novel grams") {
    cumulative // run the append
    val delta = spark.read
      .parquet(Tables.gramBaseLoc(spark, dir, "_delta").toString)
    val b1 = DocCommon.shingleTable(
        Tables.load(spark, dir, "documents")
          .filter(DocCommon.q110Mod === 0), Nil)
      .select(col("shingle").as("gram")).distinct()
    val expected = b1.join(Tables.gramIndex(spark, dir),
      Seq("gram"), "left_anti")
    assert(delta.join(expected, Seq("gram"), "left_anti").count() === 0L,
      "delta carries grams that are not batch-1 novel grams")
    assert(expected.join(delta, Seq("gram"), "left_anti").count() === 0L,
      "delta is missing batch-1 novel grams")
    assert(delta.count() === delta.distinct().count())
  }

  test("batch-1 rows equal the stateless monitor's — nothing appended yet") {
    val c1 = cumulative.filter(_.getAs[Long]("batch") == 1L).map(_.toSeq)
    val s1 = stateless.filter(_.getAs[Long]("batch") == 1L).map(_.toSeq)
    assert(c1.toSeq === s1.toSeq)
  }

  test("batch-2 monotonicity: cumulative novelty <= stateless, strictly somewhere") {
    val c2 = byBatch(cumulative, 2L)
    val s2 = byBatch(stateless, 2L)
    assert(c2.keySet === s2.keySet)
    c2.foreach { case (src, (bg, nv)) =>
      val (sbg, snv) = s2(src)
      assert(bg === sbg, s"$src: same batch must yield same gram count")
      assert(nv <= snv,
        s"$src: appending batch-1 grams INCREASED novelty ($nv > $snv)")
    }
    val absorbed = c2.map { case (src, (_, nv)) => s2(src)._2 - nv }.sum
    assert(absorbed > 0L,
      "fixture regression: the append absorbed zero batch-2 grams — " +
        "the cumulative form is indistinguishable from the stateless one")
  }

  // ------------------------------------------------------------- q117d
  // The append cycle as a checkpointed stream (shares q117c's oracle —
  // read-equivalence); laws mirror StreamIndexDedupSpec's for q110d.

  private lazy val streamed = Registry.byName("q117d_stream_gram_append")
    .run(spark, dir).collect()

  test("q117d: streamed cumulative report equals the batch q117c relation") {
    assert(streamed.map(_.toSeq).toSeq === cumulative.map(_.toSeq).toSeq)
  }

  test("q117d: at-least-once redelivery leaves sink and segments unchanged") {
    // redeliver BOTH batches through the per-batch function directly —
    // batch 0 re-runs with batch 1's segment already on disk, so its
    // `batch < 0` filter must hide both its own first delivery and
    // batch 1's grams, or its novelty would shrink
    val replay = graft.streaming.StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-gad-$t").toString
    val (delta, sink, ckpt) = (tmp("delta"), tmp("sink"), tmp("ckpt"))
    IngestQueries.drainGrams(spark, replay, ckpt,
      IngestQueries.gramRels(Tables.gramIndex(spark, dir), delta), sink)
    def snap(): (Seq[Seq[Any]], Set[Seq[Any]]) = (
      IngestQueries.streamGramTable(spark, sink).collect().map(_.toSeq).toSeq,
      spark.read.parquet(delta).select("batch", "gram").distinct()
        .collect().map(_.toSeq).toSet)
    val before = snap()
    val grams = Tables.gramIndex(spark, dir)
    val all = spark.read.parquet(replay)
    Seq(0L, 1L).foreach { id =>
      IngestQueries.gramBatch(spark,
        all.filter(DocCommon.q110Mod === id), id,
        IngestQueries.gramRels(grams, delta), sink)
    }
    assert(snap() === before,
      "redelivered batches changed the sink or the gram segments")
  }

  test("q117d: folding off — the run lists and writes no fold segment anywhere") {
    // q117d runs the shared gram kernel with folding off: its probe is
    // the cadence read at f = -1, and no fold=<n> segment or
    // .fold=<n>.staging leftover may appear under any run directory
    val replay = graft.streaming.StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-ganf-$t").toString
    val runDirs @ Seq(delta, sink, ckpt) =
      Seq(tmp("delta"), tmp("sink"), tmp("ckpt"))
    IngestQueries.drainGrams(spark, replay, ckpt,
      IngestQueries.gramRels(Tables.gramIndex(spark, dir), delta), sink)
    assert(new java.io.File(s"$delta/batch=1").exists() &&
      new java.io.File(s"$sink/batch=1").exists(),
      "the run did not drain both batches")
    val folds = TestSpark.foldSegmentsUnder(runDirs :+ replay)
    assert(folds.isEmpty, s"folding-off run left fold segments: $folds")
  }

  test("q117d: checkpoint resume between batches equals the one-shot run") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    val oneShot = streamed.map(_.toSeq).toSeq // force BEFORE own legs
    val src = new java.io.File(
      graft.streaming.StreamingJobs.docsReplayDir(spark, dir))
    def tmp(t: String): Path = Files.createTempDirectory(s"graft-gar-$t")
    val stage = tmp("replay")
    val (delta, sink, ckpt) =
      (tmp("delta").toString, tmp("sink").toString, tmp("ckpt").toString)
    def arrive(name: String): Unit = {
      val from = new java.io.File(src, name)
      val to = stage.resolve(name)
      Files.copy(from.toPath, to, StandardCopyOption.REPLACE_EXISTING)
      assert(to.toFile.setLastModified(from.lastModified))
    }
    arrive("b0.parquet")
    IngestQueries.drainGrams(spark, stage.toString, ckpt,
      IngestQueries.gramRels(Tables.gramIndex(spark, dir), delta), sink)
    arrive("b1.parquet")
    IngestQueries.drainGrams(spark, stage.toString, ckpt,
      IngestQueries.gramRels(Tables.gramIndex(spark, dir), delta), sink)
    val resumed = IngestQueries.streamGramTable(spark, sink)
      .collect().map(_.toSeq).toSeq
    assert(resumed === oneShot,
      "restarted gram-append stream diverged from the one-shot run")
    // the resumed batch-1 probe really read index ∪ the batch-0 delta
    val plan = graft.streaming.StreamingJobs
      .innerPlanOf("q117d_stream_gram_append batch=1")
      .getOrElse(fail("resumed batch-1 probe plan was not recorded"))
    assert(plan.contains(delta) && plan.contains("docs_grams_base_"),
      s"resumed batch-1 probe is not index ∪ prior delta:\n$plan")
  }

  test("q117d: recorded per-batch probe plan is broadcast-semi, index never shuffled") {
    streamed // ensure a run recorded the plans
    Seq(0, 1).foreach { id =>
      val plan = graft.streaming.StreamingJobs
        .innerPlanOf(s"q117d_stream_gram_append batch=$id")
        .getOrElse(fail(s"batch-$id probe plan was not recorded"))
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
        s"batch-$id probe is not a broadcast semi-join:\n$plan")
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"batch-$id gram index side is being shuffled:\n$plan")
    }
  }

  test("q117d: torn write — a crash after the sink write, before the segment write, converges on restart") {
    // the mirror of StreamIndexDedupSpec's torn-write law for the
    // gram family's sink-BEFORE-segment order (round-16 verdict item
    // 4): the process dies inside foreachBatch after the batch's sink
    // partition landed but before its delta segment (and therefore
    // before the checkpoint commit). On restart the same batchId
    // re-runs: its `batch < id` probe never saw the missing segment,
    // the sink overwrite rewrites the same bytes, and the segment
    // write completes.
    val oneShot = streamed.map(_.toSeq).toSeq
    val replay = graft.streaming.StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-gat-$t").toString
    val (delta, sink, ckpt) = (tmp("delta"), tmp("sink"), tmp("ckpt"))
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thrown = intercept[Exception] {
      IngestQueries.drainGrams(spark, replay, ckpt,
        IngestQueries.gramRels(Tables.gramIndex(spark, dir), delta), sink,
        crashAfterSink = id =>
          if (id == 1L && crashed.compareAndSet(false, true))
            throw new RuntimeException("torn-write injection"))
    }
    assert(thrown.getMessage != null)
    assert(crashed.get, "the injected crash never fired")
    // the tear is real: batch 1's sink exists, its segment doesn't
    assert(new java.io.File(s"$sink/batch=1").exists(),
      "crash fired before the sink write — wrong injection point")
    assert(!new java.io.File(s"$delta/batch=1").exists(),
      "delta segment exists despite the post-sink crash")
    IngestQueries.drainGrams(spark, replay, ckpt,
      IngestQueries.gramRels(Tables.gramIndex(spark, dir), delta), sink)
    val recovered = IngestQueries.streamGramTable(spark, sink)
      .collect().map(_.toSeq).toSeq
    assert(recovered === oneShot,
      "post-crash rerun diverged from the one-shot run")
    // and the torn batch's segment landed on the rerun
    assert(new java.io.File(s"$delta/batch=1").exists(),
      "rerun did not restore the torn delta segment")
  }

  // ------------------------------------------------------------- q117e
  // The gram fold (q110f's compaction cadence at gram granularity);
  // shares q117c's oracle — fold read-equivalence is the law.

  private lazy val folded = Registry.byName("q117e_stream_gram_compaction")
    .run(spark, dir).collect()

  test("q117e: folded cumulative report equals the batch q117c relation") {
    assert(folded.map(_.toSeq).toSeq === cumulative.map(_.toSeq).toSeq)
  }

  test("q117e: batch 1 probes the fold=0 segment only — no base, no delta") {
    // driven directly so the dir paths are known; k=1 means batch 0
    // probes the base and folds, batch 1 probes the immutable fold=0
    val replay = graft.streaming.StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-gfc-$t").toString
    val (delta, fold, sink, ckpt) =
      (tmp("delta"), tmp("fold"), tmp("sink"), tmp("ckpt"))
    IngestQueries.drainGrams(spark, replay, ckpt,
      IngestQueries.gramRels(Tables.gramIndex(spark, dir), delta, fold),
      sink, k = Some(1))
    val plan1 = graft.streaming.StreamingJobs
      .innerPlanOf("q117e_stream_gram_compaction batch=1")
      .getOrElse(fail("batch-1 probe plan was not recorded"))
    assert(plan1.contains(s"$fold/fold=0"),
      s"batch-1 probe does not scan the fold=0 segment:\n$plan1")
    assert(!plan1.contains(delta) && !plan1.contains("docs_grams_base_"),
      s"batch-1 probe still scans the base or a delta:\n$plan1")
    // batch 0's probe, by contrast, IS the base-index read
    val plan0 = graft.streaming.StreamingJobs
      .innerPlanOf("q117e_stream_gram_compaction batch=0")
      .getOrElse(fail("batch-0 probe plan was not recorded"))
    assert(plan0.contains("docs_grams_base_") && !plan0.contains(fold),
      s"batch-0 probe is not the base-index read:\n$plan0")
    // folds landed at the k=1 cadence, and fold-0's membership is
    // exactly base ∪ batch-0's admitted delta (read-equivalence of
    // the artifact itself, not just the report)
    val names = new java.io.File(fold).listFiles()
      .filter(_.getName.startsWith("fold=")).map(_.getName).toSet
    assert(names === Set("fold=0", "fold=1"),
      s"folds landed off-cadence: $names")
    val fold0 = spark.read.parquet(s"$fold/fold=0")
    val expected = Tables.gramIndex(spark, dir)
      .union(spark.read.parquet(delta)
        .filter(col("batch") === 0L).select(col("gram")))
    assert(fold0.join(expected, Seq("gram"), "left_anti").count() === 0L
      && expected.join(fold0, Seq("gram"), "left_anti").count() === 0L,
      "fold=0 membership is not base ∪ delta-0")
  }

  test("q117e: gram deltas at or below the fold point are DEAD — GC'ing them changes nothing") {
    // the fold-input contract's GC claim at gram granularity (the
    // StreamIndexDedupSpec law's mirror): after the k=1 fold at
    // batch 0, delta-0 is folded into fold=0; deleting it must leave
    // batch 1's report, its delta and fold=1's membership
    // byte-identical.
    val replay = graft.streaming.StreamingJobs.docsReplayDir(spark, dir)
    val grams = Tables.gramIndex(spark, dir)
    val all = spark.read.parquet(replay)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-gfgc-$t").toString
    def run(gc: Boolean): (Seq[Seq[Any]], Long) = {
      val (delta, fold, sink) = (tmp("delta"), tmp("fold"), tmp("sink"))
      grams.limit(0).select(col("gram"))
        .write.mode("overwrite").parquet(s"$delta/batch=-1")
      IngestQueries.gramBatch(spark,
        all.filter(DocCommon.q110Mod === 0), 0L,
        IngestQueries.gramRels(grams, delta, fold), sink, k = Some(1))
      if (gc) TestSpark.rmr(s"$delta/batch=0")
      IngestQueries.gramBatch(spark,
        all.filter(DocCommon.q110Mod === 1), 1L,
        IngestQueries.gramRels(grams, delta, fold), sink, k = Some(1))
      (IngestQueries.streamGramTable(spark, sink)
          .collect().map(_.toSeq).toSeq,
        spark.read.parquet(s"$fold/fold=1").count())
    }
    assert(run(gc = false) === run(gc = true),
      "GC of the folded gram delta changed the report or fold=1")
  }

  test("q117e: at-least-once redelivery leaves sink, deltas and folds unchanged") {
    val replay = graft.streaming.StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-gfd-$t").toString
    val (delta, fold, sink, ckpt) =
      (tmp("delta"), tmp("fold"), tmp("sink"), tmp("ckpt"))
    IngestQueries.drainGrams(spark, replay, ckpt,
      IngestQueries.gramRels(Tables.gramIndex(spark, dir), delta, fold),
      sink, k = Some(1))
    def snap(): (Seq[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) = (
      IngestQueries.streamGramTable(spark, sink).collect().map(_.toSeq).toSeq,
      spark.read.parquet(delta).select("batch", "gram").distinct()
        .collect().map(_.toSeq).toSet,
      spark.read.parquet(fold).select("fold", "gram").distinct()
        .collect().map(_.toSeq).toSet)
    val before = snap()
    // redeliver both batches; each re-runs its fold too — the per-fold
    // overwrite must rewrite the same relation at the same location
    val grams = Tables.gramIndex(spark, dir)
    val all = spark.read.parquet(replay)
    Seq(0L, 1L).foreach { id =>
      IngestQueries.gramBatch(spark,
        all.filter(DocCommon.q110Mod === id), id,
        IngestQueries.gramRels(grams, delta, fold), sink, k = Some(1))
    }
    assert(snap() === before,
      "redelivered batches changed the sink, a delta, or a fold")
  }

  test("probe plan: base∪delta index side broadcast-semi, never shuffled") {
    // the q117b plan contract extended to the unioned read: both index
    // scans stream map-only through the broadcast semi
    cumulative
    val bg2 = DocCommon.shingleTable(
        Tables.load(spark, dir, "documents")
          .filter(DocCommon.q110Mod === 1), Seq("source"))
      .select(col("source"), col("shingle")).distinct()
    val idx = Tables.gramIndex(spark, dir).union(spark.read
      .parquet(Tables.gramBaseLoc(spark, dir, "_delta").toString))
    val rep = IngestQueries.noveltyBatchReport(bg2, idx)
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"unioned index probe is not a broadcast semi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"gram index side is being shuffled:\n$plan")
  }
}
