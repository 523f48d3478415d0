package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Plan-shape guards (SURVEY §5.B #6): the scale properties argued in
  * query comments must be visible in the physical plan, or a regression
  * silently turns a linear plan quadratic. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def plan(name: String): String =
    Registry.byName(name).run(spark, dir)
      .queryExecution.executedPlan.toString

  test("q01/q06: filters push down to the parquet scan") {
    for (q <- Seq("q01_pricing_summary", "q06_forecast_revenue")) {
      val p = plan(q)
      assert(p.contains("PushedFilters: ["), s"$q plan:\n$p")
      assert(p.contains("LessThan") || p.contains("GreaterThan") ||
        p.contains("LessThanOrEqual"), s"$q pushed no range filter:\n$p")
    }
  }

  test("q01: scan is column-pruned (no l_tax/l_suppkey read)") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_tax"), readSchema)
    assert(!readSchema.contains("l_suppkey"), readSchema)
  }

  test("q03: dimension joins are broadcast") {
    val p = plan("q03_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q04/q05: subquery shapes lower to semi/anti hash joins") {
    assert(plan("q04_priority_exists").contains("LeftSemi"))
    assert(plan("q05_customers_no_orders").contains("LeftAnti"))
  }

  test("no query plans a cartesian/nested-loop join (except bounded exemptions)") {
    // Intentional exemptions: q34 crosses two tiny distinct-value sets;
    // q24 broadcast-nested-loops the 3-row query-vector set against the
    // corpus — a map-side scan with a bounded broadcast side, which is
    // the correct "score every corpus row against k queries" plan (the
    // LSH variant q24b shows the pruned alternative and stays equi-keyed
    // on the bucket signature); q24d's IVF assignment cross-joins the
    // corpus against the broadcast K ≈ √n centroid set — bounded by
    // construction, and the candidate/scoring joins after it are
    // equi-keyed on the cell id; q43 is the DELIBERATE non-equi bracket
    // join whose 4-row broadcast dim makes BNLJ the right plan (asserted
    // below). Everything else must stay equi-keyed.
    // q44 is excluded for a different reason: its fn RUNS the full
    // stream replay as a side effect of building the DataFrame, and the
    // batch plan the sweep would inspect is only the memory-sink scan —
    // a trivially-green check bought with a full IncrementalExecution
    // (round-4 ADVICE item 4). Its streaming plan is asserted in
    // StreamingSpec instead.
    val offenders = Registry.all
      .filterNot(q => Set("q34_priority_grid", "q24_cosine_topk",
        "q24d_ann_ivf", "q43_price_bracket_theta",
        "q44_stream_hourly", "q49_stream_sessions",
        "q58_stream_funnel", "q79_stream_foreach_sink",
        "q96_stream_totals", "q97_stream_sliding",
        "q98_stream_dedup", "q99_stream_enrich",
        // q110d runs the full ingest-dedup stream replay as a side
        // effect of building its DataFrame (q44's exclusion rationale);
        // the returned plan is only the change-log sink read. The
        // batch-kernel plan it shares with q110b/q110c is swept via
        // those entries; its streaming laws live in
        // StreamIndexDedupSpec.
        "q110d_stream_index_dedup",
        // q110f: q110d's exclusion rationale (full stream replay as a
        // side effect, sink-read return plan) — its per-batch inner
        // plans, including the batch-1 compacted-only read, are
        // RECORDED and pinned in StreamIndexDedupSpec.
        "q110f_stream_compaction",
        // q116b runs the same stream replay side effect AND its
        // read-time report fans the ONE-row corpus total out over the
        // bounded per-batch frame (the q74/q93 scalar-fanout shape: a
        // broadcast of exactly one row); every data-sized join in it is
        // equi-keyed on source.
        "q116b_stream_drift",
        // q117b: same stream-replay side effect; its read-time plan is
        // a pure sink scan (no join at all). The per-batch probe plan
        // (gram-index BROADCAST semi-join, index never shuffled) is
        // plan-asserted in StreamNoveltySpec via noveltyBatchReport,
        // and its values are parity-pinned there too.
        "q117b_stream_novelty",
        // q117d: the same stream-replay side effect (its returned plan
        // is a sink read); the per-batch probe plan is RECORDED and
        // pinned broadcast-semi in GramAppendSpec.
        "q117d_stream_gram_append",
        // q117e: the same stream-replay side effect (sink-read return
        // plan); the per-batch probe plans — incl. the fold-alone
        // batch-1 read — are RECORDED and pinned in GramAppendSpec.
        "q117e_stream_gram_compaction",
        // q122: the composed capstone runs the full replay as a side
        // effect (sink-read return plan, plus a one-row corpus-total
        // broadcast cross in the read-time drift join — q116b's
        // exclusion rationale); its per-batch dedup AND novelty inner
        // plans are RECORDED and pinned in StreamCapstoneSpec.
        "q122_stream_ingest_capstone",
        // q74 cross-joins the ONE-row corpus-size scalar against the
        // tf table — a broadcast of exactly one row (the standard
        // scalar-fanout shape); every other q74 join is equi-keyed.
        "q74_tfidf_top_terms",
        // q93 fans the ONE-row global total out over the per-year rows
        // (same scalar-fanout shape as q74); both sides come from the
        // same cached summary.
        "q93_cached_share",
        // q103 cross-joins the corpus against the broadcast k = 8
        // centroid set — the q24d IVF-assignment shape: bounded by
        // construction (centroids are k×64 by definition), scored by
        // one codegen'd l2q per pair; KMeansSpec pins that no SMJ/SHJ
        // appears in the final plan.
        "q103_kmeans_clusters",
        // q105 runs q103's centroid cross-joins for its blocking stage
        // (same bounded k-row broadcast); its dedup self-join is
        // equi-keyed on cid — SemDedupSpec pins no CartesianProduct.
        "q105_semantic_dedup_kmeans",
        // q24e fans the ONE-row [min,max] stats out over the corpus
        // (q74's scalar-fanout shape) and BNLJs the 3-row query-code
        // set against it — the same bounded broadcast sides as q24.
        "q24e_ann_sq8",
        // q24f cross-joins the corpus against the broadcast m·k = 128-
        // row codebook (q103's bounded centroid shape, twice: assign +
        // re-assign) and fans the 3-row literal LUT set out for the
        // ADC scan — all sides bounded by the MODEL's size, never the
        // corpus; the rescore joins are id-keyed broadcasts.
        "q24f_ann_pq",
        // q113 fans TWO one-row scalar aggregates out (Σcls + corpus
        // size over the 20-row source table; the sampled-total over
        // the 20-row report) — q74's scalar-fanout shape; the only
        // corpus-width joins (plan→docs accept test, report joins)
        // are equi-keyed broadcasts on source.
        "q113_domain_mixture")(q.name))
      .flatMap { q =>
        val p = plan(q.name)
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(q.name)
        else None
      }
    assert(offenders.isEmpty, s"unbounded join shapes in: $offenders")
  }

  test("AQE coalesces small post-shuffle partitions at runtime") {
    // the runtime re-plan the 100 TB design leans on: 32 static shuffle
    // partitions carrying a few KB collapse into few AQEShuffleRead
    // partitions after execution — the final adaptive plan must show it
    val df = Registry.byName("q01_pricing_summary").run(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("AQEShuffleRead"), finalPlan)
    assert(finalPlan.contains("coalesced"), finalPlan)
  }

  test("q71: NOT IN plans as a null-aware anti join, not a BNLJ") {
    // Spark's NAAJ (enableNullAwareAntiJoin) turns the three-valued
    // `NOT IN` anti condition `k = s OR isnull(k = s)` into a broadcast
    // hash join with a null-awareness flag — without it the OR-isnull
    // condition is non-equi and the plan degrades to a
    // BroadcastNestedLoopJoin over the whole customer table.
    // Spark 4.1 prints the isNullAwareAntiJoin flag as the trailing
    // argument of the join line (and mirrors it in the broadcast mode's
    // isNullAware bit), not as a literal "NAAJ" tag.
    val p = plan("q71_not_in_nulls")
    assert(p.contains("LeftAnti, BuildRight, true"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q88: stratified top-k sample gets WindowGroupLimit pushdown") {
    // The map side must keep only its local top-5-per-lang before the
    // shuffle — the exchange carries O(k x strata) rows, not the corpus.
    val p = plan("q88_stratified_sample")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q90: SQL UDF is macro-inlined - no ScalaUDF survives to the plan") {
    // CREATE FUNCTION ... RETURN <expr> must inline at analysis time:
    // the physical plan carries the decimal arithmetic directly (full
    // codegen + exactness), never an opaque UDF call.
    val p = plan("q90_pipe_sql")
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q86: null-safe <=> stays a HASH join, never a nested loop") {
    // EqualNullSafe is an equi-join key: Catalyst hashes it like any
    // other key (NULL hashes to a bucket and matches NULL). The
    // hand-written `a = b OR (a IS NULL AND b IS NULL)` equivalent is
    // non-equi and would plan a BroadcastNestedLoopJoin — the
    // difference between a shuffle and a cross product at 100 TB.
    val p = plan("q86_null_safe_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q75: LATERAL ... LIMIT decorrelates to WindowGroupLimit") {
    // The correlated per-nation top-2 must compile to a partitioned
    // rank with group-limit pushdown (map-side top-k before the
    // shuffle), not to per-outer-row subquery re-execution or a
    // nested-loop join.
    val p = plan("q75_lateral_topn")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("q19: the 30-day pair count is a window, not a self-join") {
    val p = plan("q19_order_pairs_30d")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), s"rewrite regressed to a join:\n$p")
  }

  test("custom expressions constant-fold when all arguments are literals") {
    val p = spark.sql(
      "SELECT rgb565(255, 0, 0) AS pen, dotq(array(CAST(0.5 AS FLOAT)), array(CAST(0.5 AS FLOAT))) AS d")
      .queryExecution.optimizedPlan.toString
    assert(p.contains("63488"), p)        // 0xF800 folded to a literal
    assert(p.contains("250000000000"), p) // 500000^2 folded to a literal
    assert(!p.toLowerCase.contains("rgb565("), p)
  }

  test("q02/q10: top-k compiles to TakeOrderedAndProject") {
    assert(plan("q02_top_customers").contains("TakeOrderedAndProject"))
    assert(plan("q10_returned_items").contains("TakeOrderedAndProject"))
  }

  test("q03b: the bucketed fact-fact join has no exchange below it") {
    // Both sides are catalog-bucketed on the join key, so the SMJ reads
    // them co-located: the only exchange in the plan is the one ABOVE
    // the join for the o_custkey aggregation. toString prints parents
    // first, so "no Exchange after the SortMergeJoin line" is exactly
    // "no exchange below the join".
    val p = plan("q03b_bucketed_revenue")
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"bucketed join did not plan as SMJ:\n$p")
    assert(!p.substring(joinIdx).contains("Exchange"),
      s"bucketed join still shuffles an input:\n$p")
  }

  test("q43: the non-equi bracket join plans as BroadcastNestedLoopJoin") {
    // The §2.B theta-join row must EXECUTE the BNLJ path, not merely be
    // arguable: a 4-row broadcast dim with a pure range predicate has no
    // equi key, so anything else in the plan means the join degenerated
    // (e.g. to a cartesian with post-filter, which would not be the
    // bounded O(4n) map-side shape the query exists to demonstrate).
    val p = plan("q43_price_bracket_theta")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q24b: LSH signature uses literal hyperplanes, not per-row derivation") {
    // Round-3 verdict item 2: the signature must be codegen'd dotq calls
    // against broadcast literal weight arrays — a plan that re-derives
    // the constant weights per row shows up as interpreted sequence/
    // transform/hash HOF machinery in the projection.
    val p = plan("q24b_ann_lsh")
    assert(p.contains("dotq"), p)
    assert(!p.contains("sequence(0, 63"), p)
    assert(!p.contains("transform("), p)
  }

  test("q93: both consumers read the persisted summary as InMemoryTableScan") {
    // The cache exemplar must actually HIT the cache: the per-year
    // rollup and the global total are two independent consumers of the
    // persisted daily summary, so the executed plan must read
    // InMemoryTableScan (under AQE: TableCacheQueryStage) at least
    // twice — zero re-scans of the orders parquet past the first
    // materialization.
    val df = Registry.byName("q93_cached_share").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val hits = "InMemoryTableScan".r.findAllIn(p).size +
      "TableCacheQueryStage".r.findAllIn(p).size
    assert(hits >= 2, s"cached summary not reused ($hits cache reads):\n$p")
  }

  test("streaming oracle rows assert on IncrementalExecution, not the sink read") {
    // Round-7 verdict item 2: the q44-class DataFrame builders return
    // the memory-sink scan, so the registry-wide sweep above cannot see
    // the plan that did the work. StreamingJobs.capturePlan records the
    // last IncrementalExecution at stream completion; here the sweep's
    // no-cartesian invariant plus the expected stateful operator are
    // asserted on THAT plan for all four streaming oracle rows.
    val expected = Seq(
      "q44_stream_hourly" -> "StateStoreSave",
      "q49_stream_sessions" -> "SessionWindowStateStoreSave",
      "q58_stream_funnel" -> "StreamingSymmetricHashJoin",
      "q79_stream_foreach_sink" -> "StateStoreSave",
      "q96_stream_totals" -> "TransformWithState",
      "q97_stream_sliding" -> "StateStoreSave",
      "q98_stream_dedup" -> "StreamingDeduplicate",
      "q99_stream_enrich" -> "StateStoreSave")
    for ((name, op) <- expected) {
      Registry.byName(name).run(spark, dir).collect()
      val p = graft.streaming.StreamingJobs.incrementalPlanOf(name)
        .getOrElse(fail(s"$name did not capture an IncrementalExecution plan"))
      assert(p.contains(op), s"$name streaming plan lacks $op:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name streaming plan has an unbounded join:\n$p")
    }
  }

  test("q100 pipeline: map-side dedup limit, all-broadcast decontamination, bounded exchanges") {
    // The end-to-end funnel's 100 TB shape, pinned: (1) the dedup winner
    // rule (row_number=1 per content hash) must lower to WindowGroupLimit
    // BELOW its exchange — the map-side top-1 that keeps the one dedup
    // shuffle carrying at most one row per (partition, hash); (2) every
    // join (decontamination semi, contaminated anti) must be a broadcast
    // hash join — the corpus side never shuffles for enrichment; (3) the
    // whole 5-stage chain runs in a BOUNDED number of exchanges (dedup,
    // bench-gram distinct, contaminated-id distinct, final agg + sort —
    // growing corpus size adds no exchange).
    val df = Registry.byName("q100_pipeline_e2e").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val wgl = p.indexOf("WindowGroupLimit")
    assert(wgl >= 0, s"dedup did not lower to WindowGroupLimit:\n$p")
    // The plan string prints parents first: final WGL, then its exchange,
    // then the PARTIAL (map-side) WGL below that exchange — so a second
    // WindowGroupLimit occurrence after the first Exchange after the
    // first WGL is required (round-9 ADVICE item 1: the old
    // p.substring(wgl).contains(...) was vacuously true).
    val ex = p.indexOf("Exchange", wgl)
    assert(ex >= 0 && p.indexOf("WindowGroupLimit", ex) >= 0,
      s"no map-side WindowGroupLimit below the dedup exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q100 join shuffled a corpus side instead of broadcasting:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected semi+anti broadcast joins:\n$p")
    // count shuffles only in the FINAL plan section (5 expected: dedup,
    // bench-gram distinct, contaminated-id distinct, final agg, sort)
    val fin = TestSpark.finalPlan(df)
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(fin).size
    assert(exchanges <= 6, s"q100 exchange count grew to $exchanges:\n$p")
  }

  test("native as-of join over bucketed inputs: zero exchange below the join") {
    // AsOfJoinExec declares ClusteredDistribution per child — the same
    // contract SortMergeJoinExec uses — so two tables bucketed on the
    // join keys must compose EXCHANGE-FREE (the q03b storage-layout
    // proof applied to the custom operator; round-7 verdict item 5).
    // Sorts below the join are expected (buckets are sorted by key
    // only, the exec needs (key, time)); exchanges are not.
    val ev = Tables.bucketed(spark, dir, "events", "user_id",
      Seq("user_id", "ts", "event_id"), suffix = "_asof")
    val od = Tables.bucketed(spark, dir, "orders", "o_custkey",
      Seq("o_custkey", "o_orderdate", "o_orderkey"), suffix = "_asof")
    val j = graft.plans.AsOf.joinBackward(ev, od,
      ev("user_id"), od("o_custkey"), ev("ts"), od("o_orderdate"))
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    val ji = p.indexOf("AsOfJoin")
    assert(ji >= 0, s"native as-of did not plan AsOfJoinExec:\n$p")
    assert(!p.substring(ji).contains("Exchange"),
      s"bucketed as-of join still shuffles an input:\n$p")
  }

  test("q32: the 64-aggregate vote pass stays inside whole-stage codegen") {
    // The SimHash vote aggregate is the one plan at risk of the silent
    // >64 KB codegen fallback (64 sum expressions in one HashAggregate).
    // Execute (AQE materializes WholeStageCodegen only in final stage
    // plans), then assert a codegen'd subtree contains the vote agg and
    // its generated methods stay far below the 65535-byte fallback limit.
    // Audit the PRE-checkpoint signature pipeline directly: q32 itself
    // materializes it behind an eager localCheckpoint, whose plan is
    // invisible to the final query's debugCodegen.
    val df = graft.queries.TextQueries.simhashSig(spark, dir)
    df.queryExecution.toRdd.count()
    val subtrees = df.queryExecution.debug.codegenToSeq()
    val agg = subtrees.filter(_._1.contains("HashAggregate"))
    assert(agg.nonEmpty, "no codegen'd HashAggregate subtree found — " +
      "the vote pass fell out of whole-stage codegen")
    val maxSize = subtrees.map(_._3.maxMethodCodeSize).max
    assert(maxSize < 60000, s"generated method $maxSize B is courting " +
      "the 64 KB codegen fallback")
  }

  test("q15c KMV: dense_rank <= k lowers to WindowGroupLimit") {
    // The sketch's scale claim: each map partition forwards only rows
    // ranking among its k smallest distinct hashes — InferWindowGroupLimit
    // must fire on the dense_rank filter, or the query degrades to a
    // full distinct shuffle of the fact table.
    val df = Registry.byName("q15c_distinct_parts_kmv").run(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"q15c did not lower to WindowGroupLimit:\n$p")
  }

  test("q102 semantic dedup: blocking stays equi-join, never all-pairs") {
    // The whole point of the LSH blocking is that no stage compares
    // every vector to every vector: the bucket self-join and the two
    // candidate-enrichment joins must all plan as equi-joins (SMJ/SHJ/
    // BHJ), with no CartesianProduct or BroadcastNestedLoopJoin anywhere
    // — the shape that makes the dedup linear instead of quadratic at
    // 100 TB.
    val df = Registry.byName("q102_semantic_dedup").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q102 planned an all-pairs join:\n$p")
  }

  test("q104 rarity scoring: broadcast join-back, map-side per-lang limit") {
    // The corpus-model join-back pattern's 100 TB shape: the vocabulary
    // frequency table joins back to the exploded tokens by BROADCAST
    // (never a corpus-side shuffle re-keyed on token), and the per-lang
    // rarest-5 must lower to a WindowGroupLimit pair — a partial
    // (map-side) limit BELOW the lang exchange, then the final limit —
    // so the ranking exchange carries O(5·|langs|) rows, not every doc.
    val df = Registry.byName("q104_token_rarity").run(spark, dir)
    df.collect()
    val fin = TestSpark.finalPlan(df)
    assert(fin.contains("BroadcastHashJoin") &&
      !fin.contains("SortMergeJoin") && !fin.contains("ShuffledHashJoin"),
      s"q104 vocab join-back must broadcast:\n$fin")
    val wgl = fin.indexOf("WindowGroupLimit")
    assert(wgl >= 0, s"per-lang top-5 did not lower to WindowGroupLimit:\n$fin")
    val ex = fin.indexOf("Exchange", wgl)
    assert(ex >= 0 && fin.indexOf("WindowGroupLimit", ex) >= 0,
      s"no map-side WindowGroupLimit below the lang exchange:\n$fin")
  }

  test("q108 bigram LM: broadcast model join-back, map-side per-lang limit") {
    // q104's contract one n-gram order up: the bigram model must join
    // back by BROADCAST under the default strategy flag (never a
    // corpus-side shuffle re-keyed on bigram), and the per-lang
    // bottom-5 must lower to the map-side WindowGroupLimit pair so the
    // ranking exchange carries O(5·|langs|) rows.
    val df = Registry.byName("q108_bigram_lm_score").run(spark, dir)
    df.collect()
    val fin = TestSpark.finalPlan(df)
    assert(fin.contains("BroadcastHashJoin") &&
      !fin.contains("SortMergeJoin") && !fin.contains("ShuffledHashJoin"),
      s"q108 LM join-back must broadcast:\n$fin")
    val wgl = fin.indexOf("WindowGroupLimit")
    assert(wgl >= 0, s"per-lang bottom-5 did not lower to WindowGroupLimit:\n$fin")
    val ex = fin.indexOf("Exchange", wgl)
    assert(ex >= 0 && fin.indexOf("WindowGroupLimit", ex) >= 0,
      s"no map-side WindowGroupLimit below the lang exchange:\n$fin")
  }

  test("q109 DSIR: fixed-width model broadcasts, map-side global top-k") {
    // DSIR's feature hashing makes the corpus model a FIXED 64-row
    // table, so the join-back must broadcast UNCONDITIONALLY — no
    // vocab-growth strategy flag, the structural improvement over
    // q104/q108. The global top-100 rank FILTER must lower to
    // TakeOrderedAndProject (map-side per-partition top-100 merged
    // once — the unpartitioned-rank analog of the WindowGroupLimit
    // pair), so no stage ever moves the full scored corpus into one
    // partition; and the scored subtree feeding both report branches
    // must be computed once (AQE exchange reuse), not twice.
    val df = Registry.byName("q109_dsir_select").run(spark, dir)
    df.collect()
    val fin = TestSpark.finalPlan(df)
    assert(fin.contains("BroadcastHashJoin") &&
      !fin.contains("SortMergeJoin") && !fin.contains("ShuffledHashJoin"),
      s"q109 model join-back must broadcast:\n$fin")
    assert(fin.contains("TakeOrderedAndProject(limit=100"),
      s"global top-100 did not lower to TakeOrderedAndProject:\n$fin")
    val spCount = "Exchange SinglePartition".r.findAllIn(fin).length
    assert(spCount <= 1,
      s"$spCount single-partition exchanges — only the 64-row model " +
        s"window may single-partition, never the scored corpus:\n$fin")
    assert(fin.contains("ReusedExchange"),
      s"scored subtree computed twice — exchange reuse lost:\n$fin")
  }

  test("q110 incremental dedup: equi-joins only, never all-pairs") {
    // The asymmetric batch-vs-corpus dedup must keep the corpus on
    // equi-keyed joins (band key, shingle, doc id) exactly like q102's
    // contract — a CartesianProduct or BroadcastNestedLoopJoin here is
    // the quadratic shape the banding exists to avoid.
    val df = Registry.byName("q110_incremental_dedup").run(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q110 planned an all-pairs join:\n$p")
  }

  test("q89b trainer final job: checkpointed input, no word-level shuffle") {
    // The final job's exchanges belong only to the bounded aggregates
    // (final symbol counts + the 3-row merge-table join, which must
    // broadcast) — never a shuffle keyed per word/symbol position; and
    // its input must be the round-3 localCheckpoint, not a re-derivation
    // of all three merge rounds from parquet (lineage truncation is
    // what caps the trainer at 3 merge passes — the kernel itself is
    // pinned by BpeTrainerSpec's three-way equivalence).
    val df = Registry.byName("q89b_bpe_trainer").run(spark, dir)
    df.collect()
    val fin = TestSpark.finalPlan(df)
    assert(!fin.contains("SortMergeJoin") && !fin.contains("ShuffledHashJoin"),
      s"q89b merge-table join must broadcast:\n$fin")
    // the final job reads the checkpointed round-3 words; its lineage
    // must NOT re-derive rounds from parquet (lineage truncation is
    // what caps the trainer at 3 merge passes)
    assert(fin.contains("Scan ExistingRDD") || fin.contains("LocalTableScan"),
      s"q89b final job is not reading checkpointed words:\n$fin")
  }

  test("q89c tokenizer apply: no join, no window, 2 exchanges") {
    // the learned model is LITERALS (3 nested bpe_merge calls), so
    // encoding must plan as scan → word explode → map → report
    // aggregate → sort: no training-state join, no window, and only
    // the report aggregate + presentation sort exchanges
    val df = Registry.byName("q89c_bpe_encode").run(spark, dir)
    df.collect()
    val fin = TestSpark.finalPlan(df)
    assert(!fin.contains("Join"), s"q89c planned a join for the model:\n$fin")
    assert(!fin.contains("Window"), s"q89c planned a window:\n$fin")
    val nEx = "Exchange".r.findAllIn(fin).size
    assert(nEx <= 2, s"q89c has $nEx exchanges (expected <= 2):\n$fin")
  }

  test("q107 classifier inference: map-only scoring — no explode, no join, 2 exchanges") {
    // Model inference must stay a scan-stage row function: the token
    // fan-out happens inside an `aggregate` HOF (no Generate node, so
    // no per-token rows ever materialize), the model needs no join
    // (weights are compiled into the expression), and the ONLY
    // exchanges are the report aggregate's hash partitioning plus the
    // final presentation sort. A third exchange — or any join/Generate
    // — means inference stopped being the one-pass map it must be at
    // 100 TB.
    val df = Registry.byName("q107_quality_classifier").run(spark, dir)
    df.collect()
    val fin = TestSpark.finalPlan(df)
    assert(!fin.contains("Generate"),
      s"q107 exploded tokens instead of folding in-place:\n$fin")
    assert(!fin.contains("Join"), s"q107 planned a join for the model:\n$fin")
    val nEx = "(?<!Broadcast)Exchange".r.findAllIn(fin).size
    assert(nEx <= 2, s"q107 has $nEx exchanges (expected <= 2):\n$fin")
  }
}
