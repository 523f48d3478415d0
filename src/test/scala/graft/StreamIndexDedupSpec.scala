package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lsm.Lsm
import graft.queries.{DocCommon, IngestQueries, Registry}
import graft.streaming.StreamingJobs

/** q110d — the streaming twin of the q110c ingest-dedup loop. The
  * DuckDB oracle grades the funnel against pure two-step semantics;
  * this spec pins what the oracle cannot see: (1) the stream computes
  * the SAME relation as the batch append cycle (the batch/stream
  * parity law, on real fixtures); (2) the replay genuinely arrives as
  * two micro-batches in carve order; (3) the foreachBatch writes are
  * idempotent under AT-LEAST-ONCE redelivery — re-running both batches
  * (batch 0 after batch 1's delta segment already exists, the worst
  * case for the `batch < id` index filter) leaves the funnel sink and
  * both index delta segments unchanged. */
class StreamIndexDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private lazy val streamed = Registry.byName("q110d_stream_index_dedup")
    .run(spark, dir).collect()

  test("streamed funnel equals the batch q110c relation row for row") {
    val cyc = Registry.byName("q110c_index_append_cycle")
      .run(spark, dir).collect()
    assert(streamed.map(_.toSeq).toSeq === cyc.map(_.toSeq).toSeq)
  }

  test("replay is two single-file micro-batches in carve order") {
    val replay = StreamingJobs.docsReplayDir(spark, dir)
    val files = new java.io.File(replay).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.map(_.getName).toSeq === Seq("b0.parquet", "b1.parquet"))
    // mtimes strictly increasing: the file source admits b0 first
    assert(files(0).lastModified < files(1).lastModified)
    // each file is exactly one md5-carve class
    val mods = files.map { f =>
      spark.read.parquet(f.toString).select(DocCommon.q110Mod.as("m"))
        .distinct().collect().map(_.getLong(0)).toSet
    }
    assert(mods(0) === Set(0L) && mods(1) === Set(1L))
    // the streamed report carries both batch tags
    assert(streamed.map(_.getAs[Long]("batch")).toSet === Set(1L, 2L))
  }

  test("empty-tail elision: no schema seed, batch 0 reads the base alone, and a legacy seed changes nothing") {
    // round 21 (guide §2.4): the runners no longer write `batch=-1`
    // schema seeds — batch 0's provably-empty `batch < 0` tail is
    // ELIDED by directory listing instead of scanned. Pins: (a) no
    // seed segment exists after a drive; (b) the recorded batch-0
    // dedup plan scans NO delta location while batch-1's still scans
    // batch 0's segment; (c) a legacy/spec-seeded tree produces the
    // byte-identical funnel — the listing gate preserves exactly what
    // the parquet read returned.
    val replay = StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-side-$t").toString
    val (db, ds, sink, ckpt) =
      (tmp("dbands"), tmp("dsets"), tmp("sink"), tmp("ckpt"))
    IngestQueries.drainDedup(spark, replay, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir), db, ds),
      sink)
    assert(!new java.io.File(s"$db/batch=-1").exists() &&
      !new java.io.File(s"$ds/batch=-1").exists(),
      "runner still writes batch=-1 schema seeds")
    val plan0 = StreamingJobs
      .innerPlanOf("q110d_stream_index_dedup batch=0")
      .getOrElse(fail("batch-0 inner plan was not recorded"))
    assert(!plan0.contains(db) && !plan0.contains(ds),
      s"batch-0 dedup still scans an (empty) delta location:\n$plan0")
    assert(plan0.contains("docs_minhash_base_"),
      s"batch-0 dedup does not scan the base index:\n$plan0")
    val plan1 = StreamingJobs
      .innerPlanOf("q110d_stream_index_dedup batch=1")
      .getOrElse(fail("batch-1 inner plan was not recorded"))
    assert(plan1.contains(db) && plan1.contains(ds),
      s"batch-1 dedup lost its real delta-tail scan:\n$plan1")
    // (c) the legacy seeded layout is still read identically: seed
    // batch=-1 (as pre-round-21 runs and older deployments have on
    // disk), re-drive batch by batch, compare funnels byte for byte
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    val (db2, ds2, sink2) = (tmp("dbands2"), tmp("dsets2"), tmp("sink2"))
    iBands.select("doc_id", "band_idx", "band_val").limit(0)
      .write.mode("overwrite").parquet(s"$db2/batch=-1")
    iSets.select("doc_id", "ss", "n").limit(0)
      .write.mode("overwrite").parquet(s"$ds2/batch=-1")
    val all = spark.read.parquet(replay)
    Seq(0L, 1L).foreach { id =>
      IngestQueries.dedupBatch(spark,
        all.filter(DocCommon.q110Mod === id), id,
        IngestQueries.minhashRels((iBands, iSets), db2, ds2), sink2)
    }
    assert(
      IngestQueries.streamDedupTable(spark, sink2)
        .collect().map(_.toSeq).toSeq ===
      IngestQueries.streamDedupTable(spark, sink)
        .collect().map(_.toSeq).toSeq,
      "a seeded tree and an unseeded tree disagree")
  }

  test("folding off: a q110d run lists and writes no fold segment anywhere") {
    // q110d runs the shared dedup kernel with folding off: its read is
    // the cadence read at f = -1, and no fold=<n> segment or
    // .fold=<n>.staging leftover may appear under any run directory
    val replay = StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-sinf-$t").toString
    val runDirs @ Seq(db, ds, sink, ckpt) =
      Seq(tmp("dbands"), tmp("dsets"), tmp("sink"), tmp("ckpt"))
    IngestQueries.drainDedup(spark, replay, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir), db, ds),
      sink)
    assert(new java.io.File(s"$db/batch=1").exists() &&
      new java.io.File(s"$sink/batch=1").exists(),
      "the run did not drain both batches")
    val folds = TestSpark.foldSegmentsUnder(runDirs :+ replay)
    assert(folds.isEmpty, s"folding-off run left fold segments: $folds")
  }

  test("at-least-once redelivery leaves the funnel and the index unchanged") {
    val replay = StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-sids-$t").toString
    val (db, ds, sink, ckpt) =
      (tmp("dbands"), tmp("dsets"), tmp("sink"), tmp("ckpt"))
    IngestQueries.drainDedup(spark, replay, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir), db, ds),
      sink)
    def snap(): (Seq[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) = (
      IngestQueries.streamDedupTable(spark, sink)
        .collect().map(_.toSeq).toSeq,
      spark.read.parquet(db).select("batch", "doc_id").distinct()
        .collect().map(_.toSeq).toSet,
      spark.read.parquet(ds).select("batch", "doc_id").distinct()
        .collect().map(_.toSeq).toSet)
    val before = snap()
    // redeliver BOTH batches directly through the per-batch function —
    // batch 0 re-runs with batch 1's segment already on disk, so its
    // `batch < 0` filter must hide batch 0's own first delivery AND
    // batch 1's segment, or its docs would near-dup themselves
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    val all = spark.read.parquet(replay)
    Seq(0L, 1L).foreach { id =>
      IngestQueries.dedupBatch(spark,
        all.filter(DocCommon.q110Mod === id), id,
        IngestQueries.minhashRels((iBands, iSets), db, ds), sink)
    }
    assert(snap() === before,
      "redelivered batches changed the sink or the index segments")
  }

  test("torn write: a crash after the segment write, before the sink write, converges on restart") {
    // the at-least-once case the between-batches resume law does NOT
    // cover (round-15 verdict item 6): the process dies INSIDE
    // foreachBatch after the batch's delta segment landed but before
    // its sink partition (and therefore before the checkpoint commit).
    // On restart the same batchId re-runs: its `batch < id` filter
    // hides its own torn first-delivery segment, the segment overwrite
    // rewrites the same bytes, and the sink write completes — the
    // idempotence argument, demonstrated rather than argued.
    val replay = StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-sidt-$t").toString
    val (db, ds, sink, ckpt) =
      (tmp("dbands"), tmp("dsets"), tmp("sink"), tmp("ckpt"))
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thrown = intercept[Exception] {
      IngestQueries.drainDedup(spark, replay, ckpt,
        IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir), db, ds),
        sink, crashBeforeSink = id =>
          if (id == 1L && crashed.compareAndSet(false, true))
            throw new RuntimeException("torn-write injection"))
    }
    assert(thrown.getMessage != null)
    assert(crashed.get, "the injected crash never fired")
    // the tear is real: batch 1's segment exists, its sink doesn't
    assert(new java.io.File(s"$db/batch=1").exists(),
      "crash fired before the segment write — wrong injection point")
    assert(!new java.io.File(s"$sink/batch=1").exists(),
      "sink partition exists despite the pre-sink crash")
    // restart from the same checkpoint with no injection: batch 1
    // re-runs, overwrites its torn segment, writes its sink
    IngestQueries.drainDedup(spark, replay, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir), db, ds),
      sink)
    val recovered = IngestQueries.streamDedupTable(spark, sink)
      .collect().map(_.toSeq).toSeq
    assert(recovered === streamed.map(_.toSeq).toSeq,
      "post-crash rerun diverged from the one-shot run")
  }

  test("checkpoint resume: a restart between batches equals the one-shot run") {
    // the restart case redelivery doesn't cover: the stream DIES after
    // batch 0 (here: drains a replay dir that only holds b0), then a
    // NEW stream execution starts from the same checkpoint once b1 has
    // arrived — it must resume at batchId 1 (not reprocess b0, not
    // restart numbering at 0, which would overwrite batch 0's sink
    // partition with b1's data) and the final funnel must equal the
    // uninterrupted run's
    import java.nio.file.{Files, Path, StandardCopyOption}
    val src = new java.io.File(
      StreamingJobs.docsReplayDir(spark, dir))
    def tmp(t: String): Path =
      Files.createTempDirectory(s"graft-sidr-$t")
    val stage = tmp("replay")
    val (db, ds, sink, ckpt) = (tmp("db").toString, tmp("ds").toString,
      tmp("sink").toString, tmp("ckpt").toString)
    def arrive(name: String): Unit = {
      val from = new java.io.File(src, name)
      val to = stage.resolve(name)
      Files.copy(from.toPath, to, StandardCopyOption.REPLACE_EXISTING)
      assert(to.toFile.setLastModified(from.lastModified))
    }
    // leg 1: only b0 has arrived; the stream drains it and "dies"
    arrive("b0.parquet")
    IngestQueries.drainDedup(spark, stage.toString, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir), db, ds),
      sink)
    // leg 2: b1 arrives; a fresh execution resumes from the SAME
    // checkpoint against the same sink/delta dirs
    arrive("b1.parquet")
    IngestQueries.drainDedup(spark, stage.toString, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir), db, ds),
      sink)
    val resumed = IngestQueries.streamDedupTable(spark, sink)
      .collect().map(_.toSeq).toSeq
    assert(resumed === streamed.map(_.toSeq).toSeq,
      "restarted stream diverged from the one-shot run")
  }

  // ------------------------------------------------------------- q110f
  // Streaming compaction (round-15 verdict item 2): q110e's fold runs
  // INSIDE the q110d loop after batch 0. The shared q110c oracle
  // grades the funnel; these laws pin the storage story it cannot see.

  private lazy val compacted = Registry.byName("q110f_stream_compaction")
    .run(spark, dir).collect()

  test("q110f: mid-stream compaction funnel equals the batch q110c relation") {
    val cyc = Registry.byName("q110c_index_append_cycle")
      .run(spark, dir).collect()
    assert(compacted.map(_.toSeq).toSeq === cyc.map(_.toSeq).toSeq)
  }

  test("q110f: batch 1 reads the compacted segment only — no base, no delta") {
    // the IndexCompactSpec read-side signature, extended to the
    // streaming path: the RECORDED per-batch inner plan (the dedup
    // join that actually ran inside foreachBatch) must scan the
    // compacted locations and must NOT touch the base index or any
    // delta segment. Driven directly so the dir paths are known.
    val replay = StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-sifc-$t").toString
    val (db, ds, cb, cs, sink, ckpt) = (tmp("db"), tmp("ds"), tmp("cb"),
      tmp("cs"), tmp("sink"), tmp("ckpt"))
    IngestQueries.drainDedup(spark, replay, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir),
        db, ds, cb, cs), sink, k = Some(1))
    val plan = StreamingJobs
      .innerPlanOf("q110f_stream_compaction batch=1")
      .getOrElse(fail("batch-1 inner plan was not recorded"))
    assert(plan.contains(cb) && plan.contains(cs),
      s"batch-1 dedup does not scan the compacted segment:\n$plan")
    assert(!plan.contains(db) && !plan.contains(ds),
      s"batch-1 dedup still scans a delta segment:\n$plan")
    assert(!plan.contains("docs_minhash_base_"),
      s"batch-1 dedup still scans the base index:\n$plan")
    // and batch 0's plan, by contrast, IS the base-index read
    val plan0 = StreamingJobs
      .innerPlanOf("q110f_stream_compaction batch=0")
      .getOrElse(fail("batch-0 inner plan was not recorded"))
    assert(plan0.contains("docs_minhash_base_"),
      s"batch-0 dedup does not scan the base index:\n$plan0")
  }

  test("q110f: checkpoint restart ACROSS the compaction boundary resumes on the compacted base") {
    // the stream dies after batch 0 (replay dir holds only b0 — the
    // fold has run, the funnel committed); a fresh execution resumes
    // from the same checkpoint once b1 arrives. It must dedup batch 1
    // against the compacted segment alone (plan pin on the resumed
    // execution's recorded inner plan) and reproduce the one-shot
    // funnel.
    import java.nio.file.{Files, Path, StandardCopyOption}
    // force the one-shot reference FIRST: under isolated test
    // selection the lazy Registry run would otherwise execute at the
    // final assert, AFTER this test's own legs, and overwrite the
    // recorded batch=1 inner plan with its own scratch paths (round-16
    // review finding)
    val oneShot = compacted.map(_.toSeq).toSeq
    val src = new java.io.File(StreamingJobs.docsReplayDir(spark, dir))
    def tmp(t: String): Path = Files.createTempDirectory(s"graft-sifr-$t")
    val stage = tmp("replay")
    val (db, ds, cb, cs, sink, ckpt) = (tmp("db").toString,
      tmp("ds").toString, tmp("cb").toString, tmp("cs").toString,
      tmp("sink").toString, tmp("ckpt").toString)
    def arrive(name: String): Unit = {
      val from = new java.io.File(src, name)
      val to = stage.resolve(name)
      Files.copy(from.toPath, to, StandardCopyOption.REPLACE_EXISTING)
      assert(to.toFile.setLastModified(from.lastModified))
    }
    arrive("b0.parquet")
    IngestQueries.drainDedup(spark, stage.toString, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir),
        db, ds, cb, cs), sink, k = Some(1))
    // the fold committed before the "death": the immutable fold=0
    // segment is already on disk when the resumed execution starts
    assert(new java.io.File(s"$cb/fold=0", "_SUCCESS").exists() &&
      new java.io.File(s"$cs/fold=0", "_SUCCESS").exists(),
      "compaction did not land with batch 0")
    arrive("b1.parquet")
    IngestQueries.drainDedup(spark, stage.toString, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir),
        db, ds, cb, cs), sink, k = Some(1))
    val resumed = IngestQueries.streamDedupTable(spark, sink)
      .collect().map(_.toSeq).toSeq
    assert(resumed === oneShot,
      "restart across the compaction boundary diverged from one-shot")
    val plan = StreamingJobs
      .innerPlanOf("q110f_stream_compaction batch=1")
      .getOrElse(fail("resumed batch-1 inner plan was not recorded"))
    assert(plan.contains(cb) && !plan.contains(db),
      s"resumed batch 1 does not read the compacted segment alone:\n$plan")
  }

  // ---- shared four-batch cadence fixture (the k=2, k-retune and
  // torn-fold laws): the mod-0 and mod-1 carves each split by doc_id
  // parity — four genuine ingest batches over the real documents table.
  private lazy val fourBatches: Seq[org.apache.spark.sql.DataFrame] = {
    val docsAll = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    for (m <- Seq(0, 1); p <- Seq(0, 1))
      yield docsAll.filter(DocCommon.q110Mod === m)
        .filter(col("doc_id") % 2 === p)
  }

  private def cadenceTmp(t: String): String = java.nio.file.Files
    .createTempDirectory(s"graft-sifx-$t").toString

  private def seedDeltas(db: String, ds: String): Unit = {
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    iBands.select("doc_id", "band_idx", "band_val").limit(0)
      .write.mode("overwrite").parquet(s"$db/batch=-1")
    iSets.select("doc_id", "ss", "n").limit(0)
      .write.mode("overwrite").parquet(s"$ds/batch=-1")
  }

  private def funnel(sink: String): Seq[Seq[Any]] =
    IngestQueries.streamDedupTable(spark, sink).collect().map(_.toSeq).toSeq

  /** q110d's uncompacted kernel over the four-batch fixture — the
    * reference funnel every cadence law compares against. */
  private lazy val uncompactedFourBatch: Seq[Seq[Any]] = {
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    val (db, ds, sink) =
      (cadenceTmp("db1"), cadenceTmp("ds1"), cadenceTmp("sink1"))
    seedDeltas(db, ds)
    fourBatches.zipWithIndex.foreach { case (b, id) =>
      IngestQueries.dedupBatch(spark, b, id.toLong,
        IngestQueries.minhashRels((iBands, iSets), db, ds), sink)
    }
    funnel(sink)
  }

  test("q110f: k=2 cadence over four batches equals the uncompacted path, with the pinned read set per batch") {
    // the cadence law (round-16 verdict item 2): drive a FOUR-batch
    // delivery through q110d's uncompacted kernel and q110f's kernel
    // at compact-every-2 and pin (a) byte-identical funnels across all
    // four batches and (b) the per-batch read set on the RECORDED
    // inner plans — id 0 reads base (no fold yet), id 1 reads base ∪
    // the delta tail (pre-fold, tail union once) then folds, id 2
    // reads fold=1 ALONE, id 3 reads fold=1 ∪ the delta tail (the
    // post-fold tail union, exactly once) then folds again.
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    // compact-every-2 path (q110f's kernel): folds after batches 1, 3
    val (db2, ds2, cb, cs, sink2) = (cadenceTmp("db2"), cadenceTmp("ds2"),
      cadenceTmp("cb"), cadenceTmp("cs"), cadenceTmp("sink2"))
    seedDeltas(db2, ds2)
    fourBatches.zipWithIndex.foreach { case (b, id) =>
      IngestQueries.dedupBatch(spark, b, id.toLong,
        IngestQueries.minhashRels((iBands, iSets), db2, ds2, cb, cs), sink2,
        k = Some(2))
    }
    val f2 = funnel(sink2)
    assert(uncompactedFourBatch === f2,
      "compacted cadence read diverged from the base∪deltas read")
    assert(f2.map(_.head).toSet === Set(1L, 2L, 3L, 4L),
      "four-batch delivery did not produce four sink partitions")
    // folds landed exactly at the cadence: fold=1 and fold=3, no other
    val folds = new java.io.File(cb).listFiles()
      .filter(_.getName.startsWith("fold=")).map(_.getName).toSet
    assert(folds === Set("fold=1", "fold=3"),
      s"folds landed off-cadence: $folds")
    def plan(id: Int): String = StreamingJobs
      .innerPlanOf(s"q110f_stream_compaction batch=$id")
      .getOrElse(fail(s"batch-$id inner plan was not recorded"))
    // id 0: base only — no fold, no delta rows yet (the tail filter
    // scans the delta root's empty seed; the base slug must be there)
    assert(plan(0).contains("docs_minhash_base_"),
      s"id-0 read does not scan the base index:\n${plan(0)}")
    assert(!plan(0).contains(cb),
      s"id-0 read scans a fold that cannot exist yet:\n${plan(0)}")
    // id 1: pre-fold — base ∪ delta tail
    assert(plan(1).contains("docs_minhash_base_") &&
      plan(1).contains(db2),
      s"id-1 read is not base ∪ delta tail:\n${plan(1)}")
    assert(!plan(1).contains(cb),
      s"id-1 read scans a fold that cannot exist yet:\n${plan(1)}")
    // id 2: the fresh post-fold batch — fold=1 ALONE
    assert(plan(2).contains(s"$cb/fold=1") &&
      !plan(2).contains(db2) &&
      !plan(2).contains("docs_minhash_base_"),
      s"id-2 read is not the fold=1 scan alone:\n${plan(2)}")
    // id 3: post-fold tail — fold=1 ∪ delta-2, never the base
    assert(plan(3).contains(s"$cb/fold=1") && plan(3).contains(db2) &&
      !plan(3).contains("docs_minhash_base_"),
      s"id-3 read is not fold ∪ later deltas:\n${plan(3)}")
  }

  test("q110f: retuning k across a resume keeps reading the folds that actually fired") {
    // the review-pass contract behind the disk-derived fold point:
    // foldPoint reads the latest committed fold BELOW the batch id
    // from the listing, so a stream resumed with a DIFFERENT k keeps
    // working against whatever folds the old cadence left behind
    // ((id, k) arithmetic would derive fold=1 here, which never fired,
    // and crash the read). Batches 0-2 run at k=3 (one fold, after
    // batch 2); batch 3 runs at k=2 and must read fold=2 ∪ nothing.
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    // retuned path: k=3 for batches 0-2, then k=2 for batch 3
    val (db2, ds2, cb, cs, sink2) = (cadenceTmp("db2"), cadenceTmp("ds2"),
      cadenceTmp("cb"), cadenceTmp("cs"), cadenceTmp("sink2"))
    seedDeltas(db2, ds2)
    fourBatches.zipWithIndex.foreach { case (b, id) =>
      IngestQueries.dedupBatch(spark, b, id.toLong,
        IngestQueries.minhashRels((iBands, iSets), db2, ds2, cb, cs), sink2,
        k = Some(if (id < 3) 3 else 2))
    }
    // fold=2 fired under k=3 (batches 0-2); batch 3 then folds again
    // under its own k=2 ((3+1) % 2 == 0) — both and nothing else
    val folds = new java.io.File(cb).listFiles()
      .filter(_.getName.startsWith("fold=")).map(_.getName).toSet
    assert(folds === Set("fold=2", "fold=3"),
      s"folds landed off the retuned cadence: $folds")
    assert(uncompactedFourBatch === funnel(sink2),
      "retuned-cadence read diverged from the base∪deltas read")
    val plan3 = StreamingJobs
      .innerPlanOf("q110f_stream_compaction batch=3")
      .getOrElse(fail("batch-3 inner plan was not recorded"))
    assert(plan3.contains(s"$cb/fold=2") && !plan3.contains(db2) &&
      !plan3.contains("docs_minhash_base_"),
      s"retuned batch-3 read is not the fold=2 scan alone:\n$plan3")
  }

  test("q110f: a fold torn mid-write is not a committed fold — a k-retune after the crash cannot wedge or truncate the read") {
    // the review scenario behind foldPoint's _SUCCESS commit check:
    // under k=2, batch 1's fold crashes BETWEEN the bands and sets
    // writes; the operator restarts with k=3, so the re-run batch 1
    // never re-fires its fold ((1+1) % 3 != 0) and the torn fold=1
    // stays on disk FOREVER — the old "batch n re-runs, overwriting
    // fold=n" argument no longer holds. Every later batch must treat
    // the torn fold as uncommitted: read base ∪ the delta tail past
    // it (scanning it would wedge on the missing sets relation, or
    // silently dedup against truncated bands and admit near-dups),
    // and the funnel must stay byte-equal to the uncompacted kernel's.
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    val (db, ds, cb, cs, sink) = (cadenceTmp("db3"), cadenceTmp("ds3"),
      cadenceTmp("cb3"), cadenceTmp("cs3"), cadenceTmp("sink3"))
    seedDeltas(db, ds)
    IngestQueries.dedupBatch(spark, fourBatches(0), 0L,
      IngestQueries.minhashRels((iBands, iSets), db, ds, cb, cs), sink,
      k = Some(2))
    val thrown = intercept[RuntimeException] {
      IngestQueries.dedupBatch(spark, fourBatches(1), 1L,
        IngestQueries.minhashRels((iBands, iSets), db, ds, cb, cs), sink,
        k = Some(2), crashMidFold =
          _ => throw new RuntimeException("torn-fold injection"))
    }
    assert(thrown.getMessage === "torn-fold injection")
    // the tear is real: the bands fold committed, the sets fold never
    // started — fold=1 exists in one relation's dir only
    assert(new java.io.File(s"$cb/fold=1", "_SUCCESS").exists(),
      "bands fold missing — wrong injection point")
    assert(!new java.io.File(s"$cs/fold=1").exists(),
      "sets fold exists despite the mid-fold crash")
    // restart retuned to k=3: batch 1 re-runs (its delta and sink
    // overwrites are idempotent) and does NOT re-fire the fold;
    // batch 2 folds under the new cadence ((2+1) % 3 == 0)
    (1 to 3).foreach { id =>
      IngestQueries.dedupBatch(spark, fourBatches(id), id.toLong,
        IngestQueries.minhashRels((iBands, iSets), db, ds, cb, cs), sink,
        k = Some(3))
    }
    assert(!new java.io.File(s"$cs/fold=1").exists(),
      "the retuned re-run resurrected the torn fold")
    assert(new java.io.File(s"$cb/fold=2", "_SUCCESS").exists() &&
      new java.io.File(s"$cs/fold=2", "_SUCCESS").exists(),
      "the k=3 fold at batch 2 did not commit")
    def plan(id: Int): String = StreamingJobs
      .innerPlanOf(s"q110f_stream_compaction batch=$id")
      .getOrElse(fail(s"batch-$id inner plan was not recorded"))
    // batch 2 read PAST the torn fold: base ∪ deltas, never fold=1
    assert(plan(2).contains("docs_minhash_base_") &&
      !plan(2).contains(cb),
      s"batch-2 read touched the torn fold instead of the base:\n${plan(2)}")
    // batch 3 reads its committed fold=2 alone
    assert(plan(3).contains(s"$cb/fold=2") && !plan(3).contains(db) &&
      !plan(3).contains("docs_minhash_base_"),
      s"batch-3 read is not the committed fold=2 scan alone:\n${plan(3)}")
    assert(uncompactedFourBatch === funnel(sink),
      "the torn fold leaked into the funnel")
  }

  test("q110f: deltas at or below the fold point are DEAD — GC'ing them changes nothing") {
    // the fold-input review fix's GC claim, demonstrated: after the
    // k=1 fold at batch 0, delta-0 is folded into fold=0 and a
    // deployment deletes it; batch 1 (read = fold=0 alone) and its
    // fold (input = fold=0 ∪ delta-1) must produce byte-identical
    // results with the folded delta REMOVED. Before the fix the fold
    // re-read base ∪ ALL deltas, so the GC would have silently
    // shrunk fold=1 and admitted near-dups downstream.
    val replay = StreamingJobs.docsReplayDir(spark, dir)
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    val all = spark.read.parquet(replay)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-sifgc-$t").toString
    def run(gc: Boolean): (Seq[Seq[Any]], Set[Long]) = {
      val (db, ds, cb, cs, sink) =
        (tmp("db"), tmp("ds"), tmp("cb"), tmp("cs"), tmp("sink"))
      seedDeltas(db, ds)
      IngestQueries.dedupBatch(spark,
        all.filter(DocCommon.q110Mod === 0), 0L,
        IngestQueries.minhashRels((iBands, iSets), db, ds, cb, cs), sink,
        k = Some(1))
      if (gc) {
        TestSpark.rmr(s"$db/batch=0"); TestSpark.rmr(s"$ds/batch=0")
      }
      IngestQueries.dedupBatch(spark,
        all.filter(DocCommon.q110Mod === 1), 1L,
        IngestQueries.minhashRels((iBands, iSets), db, ds, cb, cs), sink,
        k = Some(1))
      (IngestQueries.streamDedupTable(spark, sink)
          .collect().map(_.toSeq).toSeq,
        spark.read.parquet(s"$cb/fold=1").select("doc_id").distinct()
          .collect().map(_.getLong(0)).toSet)
    }
    assert(run(gc = false) === run(gc = true),
      "GC of the folded delta changed the funnel or fold=1's membership")
  }

  test("lsmGc: superseded folds and folded deltas die; the redelivery window and every read survive") {
    // the GC exemplar (round-17 verdict item 3): the same three-batch
    // drive with and without GC must be byte-identical everywhere a
    // reader can look. GC at checkpointedId=0 — fold=1 is COMMITTED
    // but its writer batch has NOT checkpointed, so it sits inside the
    // redelivery window and must survive untouched along with its
    // delta input; only the folded delta-0 dies (fold=0 IS the live
    // point). A redelivery of batch 1 on the GC'd tree must converge.
    // GC at checkpointedId=1 — fold=0 is superseded and delta-1 folded:
    // both die; the batch=-1 schema seed stays. A NEW batch 2 then
    // reads fold=1 alone and the final funnel matches the un-GC'd run.
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    def run(gc: Boolean): (Seq[Seq[Any]], Set[Seq[Any]]) = {
      val (db, ds, cb, cs, sink) = (cadenceTmp("db4"), cadenceTmp("ds4"),
        cadenceTmp("cb4"), cadenceTmp("cs4"), cadenceTmp("sink4"))
      seedDeltas(db, ds)
      val rels = Seq(
        Lsm.LsmRelation(
          iBands.select("doc_id", "band_idx", "band_val"), db,
          Seq("doc_id", "band_idx", "band_val"), cb),
        Lsm.LsmRelation(iSets.select("doc_id", "ss", "n"), ds,
          Seq("doc_id", "ss", "n"), cs))
      def batch(id: Long): Unit =
        IngestQueries.dedupBatch(spark, fourBatches(id.toInt), id,
          IngestQueries.minhashRels((iBands, iSets), db, ds, cb, cs), sink,
          k = Some(1))
      batch(0L); batch(1L) // k=1: fold=0 and fold=1 both commit
      if (gc) {
        // batch 1 committed its fold but "has not checkpointed yet"
        assert(Lsm.lsmGc(rels, 0L) === 0L)
        assert(new java.io.File(s"$cb/fold=0", "_SUCCESS").exists() &&
          new java.io.File(s"$cb/fold=1", "_SUCCESS").exists() &&
          new java.io.File(s"$db/batch=1").exists(),
          "GC touched the live fold or the redelivery window")
        assert(!new java.io.File(s"$db/batch=0").exists() &&
          !new java.io.File(s"$ds/batch=0").exists(),
          "GC left the folded delta-0 alive")
        assert(new java.io.File(s"$db/batch=-1").exists(),
          "GC deleted the schema seed")
        // redeliver batch 1 on the GC'd tree — the uncheckpointed
        // worst case the retention rule exists for
        batch(1L)
        // simulate a historic torn write below the live point: fold=0
        // loses its _SUCCESS in ONE relation — dead garbage that GC
        // must remove by RAW listing (the committed set can't see it)
        assert(new java.io.File(s"$cs/fold=0", "_SUCCESS").delete())
        // now batch 1 checkpoints: fold=0 (committed OR torn) and
        // delta-1 are dead
        assert(Lsm.lsmGc(rels, 1L) === 1L)
        assert(!new java.io.File(s"$cb/fold=0").exists() &&
          !new java.io.File(s"$cs/fold=0").exists() &&
          !new java.io.File(s"$db/batch=1").exists(),
          "GC left a superseded fold, a torn fold, or a folded delta alive")
        assert(new java.io.File(s"$db/batch=-1").exists(),
          "GC deleted the schema seed")
      }
      batch(2L) // reads fold=1 (∪ empty tail) on both trees
      (funnel(sink),
        spark.read.parquet(s"$cb/fold=2").select("doc_id").distinct()
          .collect().map(_.toSeq).toSet)
    }
    assert(run(gc = false) === run(gc = true),
      "GC changed the funnel or a later fold's membership")
  }

  test("q110f: at-least-once redelivery leaves sink, deltas and compacted segment unchanged") {
    val replay = StreamingJobs.docsReplayDir(spark, dir)
    def tmp(t: String): String = java.nio.file.Files
      .createTempDirectory(s"graft-sifd-$t").toString
    val (db, ds, cb, cs, sink, ckpt) = (tmp("db"), tmp("ds"), tmp("cb"),
      tmp("cs"), tmp("sink"), tmp("ckpt"))
    IngestQueries.drainDedup(spark, replay, ckpt,
      IngestQueries.minhashRels(Tables.minhashIndexBase(spark, dir),
        db, ds, cb, cs), sink, k = Some(1))
    def snap(): (Seq[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) = (
      IngestQueries.streamDedupTable(spark, sink)
        .collect().map(_.toSeq).toSeq,
      spark.read.parquet(db).select("batch", "doc_id").distinct()
        .collect().map(_.toSeq).toSet,
      // per-fold membership: at k=1 both fold=0 and fold=1 exist and
      // both must be rewritten byte-equal by the redelivery
      spark.read.parquet(cb).select("fold", "doc_id").distinct()
        .collect().map(_.toSeq).toSet)
    val before = snap()
    // a committed fold is SKIPPED on redelivery (its content is
    // byte-identical by construction; rewriting it passed a committed
    // fold through overwrite's transient uncommitted window) — pinned
    // via the _SUCCESS mtimes staying put while the snapshots match
    def foldMtimes: Seq[Long] =
      for (d <- Seq(cb, cs); n <- Seq(0, 1))
        yield new java.io.File(s"$d/fold=$n", "_SUCCESS").lastModified
    val mtimesBefore = foldMtimes
    val (iBands, iSets) = Tables.minhashIndexBase(spark, dir)
    val all = spark.read.parquet(replay)
    Seq(0L, 1L).foreach { id =>
      IngestQueries.dedupBatch(spark,
        all.filter(DocCommon.q110Mod === id), id,
        IngestQueries.minhashRels((iBands, iSets), db, ds, cb, cs), sink,
        k = Some(1))
    }
    assert(snap() === before,
      "redelivered batches changed the sink, a delta, or the compacted segment")
    assert(foldMtimes === mtimesBefore,
      "a committed fold was rewritten during redelivery")
  }
}
