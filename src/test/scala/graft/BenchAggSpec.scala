package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's aggregation under induced failures (round-6 verdict item 7):
  * a query keeps its median as long as ONE pass succeeded; it is dropped
  * (→ "failed") only when every pass threw. Plus the short-key
  * uniqueness contract from round-6 ADVICE: collisions fall back to
  * full names instead of emitting duplicate JSON keys. */
class BenchAggSpec extends AnyFunSuite {

  test("summarize: median over successful passes only") {
    val names = Seq("q01_a", "q02_b", "q03_c")
    val times = Map(
      "q01_a" -> Vector(3.0, 1.0, 2.0), // all passes ok → median 2.0
      "q02_b" -> Vector(7.5),           // 1 of 3 survived → still reported
      "q03_c" -> Vector.empty[Double])  // all passes failed → dropped
    val out = Bench.summarize(names, times)
    assert(out.map(_._1) === Seq("q01_a", "q02_b"))
    val byName = out.map(t => t._1 -> t).toMap
    assert(byName("q01_a")._2 === 2.0) // median
    assert(byName("q01_a")._3 === 1.0) // min
    assert(byName("q01_a")._4 === 3.0) // max
    assert(byName("q01_a")._5 === 3)   // reps_ok
    assert(byName("q02_b")._2 === 7.5)
    assert(byName("q02_b")._5 === 1)
  }

  test("summarize: a query missing from the times map is dropped") {
    val out = Bench.summarize(Seq("q09_z"), Map.empty[String, Vector[Double]])
    assert(out.isEmpty)
  }

  test("shortKeys: unique tokens shorten, repeated tokens get initials") {
    val ks = Bench.shortKeys(Seq(
      "q15_distinct_parts", "q15_distinct_parts_approx", "q22_tokens"))
    assert(ks("q22_tokens") === "q22")
    assert(ks("q15_distinct_parts") === "q15_dp")
    assert(ks("q15_distinct_parts_approx") === "q15_dpa")
    assert(ks.values.toSeq.distinct.size === 3)
  }

  test("shortKeys: collision disambiguates ONLY the clashing group") {
    // same token AND same remaining-word initials → initials collide;
    // the colliding pair gets numeric suffixes (sorted order) while
    // every other key keeps its short form (round-7 ADVICE item 2: the
    // old whole-registry full-name fallback re-created the oversized
    // stdout line this machinery exists to prevent)
    val names = Seq("q08_alpha_beta", "q08_apple_banana", "q22_tokens")
    val ks = Bench.shortKeys(names)
    assert(ks("q08_alpha_beta") === "q08_ab_0")
    assert(ks("q08_apple_banana") === "q08_ab_1")
    assert(ks("q22_tokens") === "q22")
    assert(ks.values.toSeq.distinct.size === 3)
  }

  test("shortKeys: the real registry is collision-free") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ks = Bench.shortKeys(names)
    assert(ks.values.toSeq.distinct.size === names.size)
    // and it actually shortened (fallback would return identity)
    assert(ks(names.head) !== names.head)
  }

  test("shortKeys: 150 synthetic colliding names stay unique and short") {
    // Round-8 verdict item 7: prove the per-group suffixing holds at the
    // projected registry ceiling. 50 tokens × 3 same-initial variants →
    // every token collides on initials, so ALL 150 go through the
    // numeric-suffix path. Uniqueness must hold and NO key may be a full
    // name (the whole-registry fallback would overflow the stdout tail).
    val names = (0 until 50).flatMap { i =>
      Seq(f"q$i%03d_alpha_beta", f"q$i%03d_apple_banana", f"q$i%03d_any_bit")
    }
    val ks = Bench.shortKeys(names)
    assert(ks.values.toSeq.distinct.size === names.size)
    assert(names.forall(n => ks(n).length < n.length), "no full-name fallback")
  }

  test("needExtraPass: flags only median/min > 2 with a positive floor") {
    // the adaptive rep exists for steal-shaped spreads (round-9 verdict
    // item 4); a ratio of exactly 2 and a zero floor must NOT flag
    val summary = Seq(
      ("q_ok", 1.0, 0.9, 1.2, 3),
      ("q_steal", 9.0, 1.0, 20.0, 3),
      ("q_zero_floor", 5.0, 0.0, 9.0, 3),
      ("q_edge", 2.0, 1.0, 2.0, 3))
    assert(Bench.needExtraPass(summary) === Seq("q_steal"))
  }

  test("adaptive eligibility is bounded by ATTEMPTS, not successful samples") {
    // round-12 ADVICE item 1: a flagged query whose adaptive reps all
    // FAIL never grows times(n).size — the loop bound must therefore
    // count attempts. q_fail has 3 successful samples (ratio 9x,
    // flagged) but already burned 7 total attempts (4 failed adaptive
    // reps): it must drop out. q_live is flagged with attempts left.
    val summary = Seq(
      ("q_fail", 9.0, 1.0, 20.0, 3),
      ("q_live", 9.0, 1.0, 20.0, 3),
      ("q_ok", 1.0, 0.9, 1.2, 3))
    val attempts = Map("q_fail" -> 7, "q_live" -> 4, "q_ok" -> 3)
    assert(Bench.adaptiveEligible(summary, attempts, 7) === Seq("q_live"))
    // a query missing from the attempts map (defensive) stays eligible
    assert(Bench.adaptiveEligible(summary, Map.empty[String, Int], 7) ===
      Seq("q_fail", "q_live"))
  }

  test("num renders Locale.ROOT decimals at any default locale") {
    // round-11 ADVICE item 1: the f-interpolator formats via the JVM
    // default locale — on a comma-decimal locale that is invalid JSON.
    // Every number in Bench's JSON goes through num(), pinned here
    // under a forced comma-decimal default.
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Bench.num(1234.5678) === "1234.568")
      assert(Bench.num(2.5, 2) === "2.50")
    } finally java.util.Locale.setDefault(saved)
  }

  test("compact line carries [median,min] for still-flagged queries only") {
    // round-11 verdict item 1: a query whose median/min exceeds 2 after
    // escalation ships its floor IN the compact stdout line, so the
    // driver gate reads the steal floor without opening bench_out.json;
    // unflagged queries stay scalar.
    val good = Seq(
      ("q49_stream_sessions", 4.84, 1.62, 4.89, 7), // flagged: 2.99x
      ("q01_pricing_summary", 1.10, 1.00, 1.20, 3)) // clean
    val line = Bench.compactLine(good, 5.94, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(line.contains(""""q49":[4.84,1.62]"""), line)
    assert(line.contains(""""q01":1.10"""), line)
  }

  test("compact tail keeps the gate-read fields and shaves the diagnostics") {
    // round-15 verdict item 1: reps_min and ingest_secs left the
    // compact line (they ride in the full JSON) and sf collapsed to
    // its basename; round-16 verdict item 6: "reps" (a constant,
    // verbatim in the full JSON) left too — but every field the driver
    // gate reads must keep its key, healthy or not.
    val line = Bench.compactLine(
      Seq(("q01_pricing_summary", 1.10, 1.00, 1.20, 3)), 1.10, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    for (k <- Seq("\"metric\":", "\"value\":", "\"unit\":", "\"queries\":",
        "\"failed\":", "\"ingest_ok\":", "\"sf\":\"sf0.1\""))
      assert(line.contains(k), s"$k missing from: $line")
    for (k <- Seq("reps_min", "ingest_secs", "\"reps\":"))
      assert(!line.contains(k), s"$k should have been shaved: $line")
  }

  test("compact line carries shed and passes, so a shed single pass is self-describing") {
    // round-19 verdict item 1: BENCH_r19's compact line was a budget-
    // shed SINGLE pass through a steal storm, indistinguishable from a
    // 16.7x regression to anyone reading only the line the driver
    // stores. shed:true / passes:<n> must ride the line itself.
    val good = Seq(("q01_pricing_summary", 1.10, 1.00, 1.20, 1))
    val shedLine = Bench.compactLine(good, 1.10, Nil,
      ingestOk = true, "/root/testdata/sf0.1", 28.5, shed = true, passes = 1)
    assert(shedLine.contains(""""shed":true"""), shedLine)
    assert(shedLine.contains(""""passes":1"""), shedLine)
    val cleanLine = Bench.compactLine(good, 1.10, Nil,
      ingestOk = true, "/root/testdata/sf0.1", 1.9, shed = false, passes = 3)
    assert(cleanLine.contains(""""shed":false"""), cleanLine)
    assert(cleanLine.contains(""""passes":3"""), cleanLine)
  }

  test("compact line keeps headroom with a realistic flagged set") {
    // six flagged queries (the BENCH_r11 worst case) at the full
    // registry: the per-flag ~14-char growth must not break the
    // 1950-char pin (the ladder budget; see compactLine)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val good = names.zipWithIndex.map { case (n, i) =>
      if (i < 6) (n, 99.99, 9.99, 99.99, 7) else (n, 42.35, 42.35, 42.35, 3)
    }
    val line = Bench.compactLine(good, 5000.0, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(line.length < 1950, s"line is ${line.length} chars")
    assert(line.contains("[99.99,9.99]") || line.contains("[100.0,10.0]"),
      "flagged floors were dropped")
  }

  test("jesc escapes quotes, backslashes and ALL control chars") {
    // round-9 ADVICE item 2: a tab in an ingest error message must not
    // corrupt bench_out.json
    assert(Bench.jesc("a\tb\"c\\d\ne\u0001f") ===
      "a\\tb\\\"c\\\\d\\ne\\u0001f")
  }

  test("scanJson renders a block per query; missing metrics become -1") {
    // round-10 verdict item 6: the scan telemetry (input bytes/rows per
    // query) must ride in bench_out.json for every reported query so a
    // cold driver box is diagnosed from the artifact alone
    val names = Seq("q_a", "q_b")
    val out = Bench.scanJson(names, Map("q_a" -> (6512179L, 60175L)))
    assert(out ===
      """{"q_a":{"bytes":6512179,"rows":60175},""" +
        """"q_b":{"bytes":-1,"rows":-1}}""")
  }

  test("the five warehouse-layout readers are registered, so their scan blocks ship") {
    // q03b (bucketed), q55/q56 (date-partitioned), q95 (z-ordered),
    // q94 (standing MV) all read /tmp/graft-warehouse layouts that
    // persist across JVMs — the queries whose cold-read telemetry the
    // round-9 investigation needed. scanJson covers every reported
    // query, so registry membership is the load-bearing half; their
    // untimed warm-ups in the ingest list resolve by the same names.
    val layoutQueries = Seq("q03b_bucketed_revenue",
      "q55_pruned_year_revenue", "q56_dpp_era_revenue",
      "q95_zorder_box", "q94_incremental_mv")
    layoutQueries.foreach { q =>
      assert(SparkEntry.queries.contains(q), s"$q missing from registry")
    }
  }

  test("compact stdout line keeps headroom inside the driver's 2000-char tail") {
    // Round-7 verdict item 7: pin the length at the CURRENT registry
    // size with worst-case field widths (4-digit medians, 4-digit
    // total) so registry growth cannot silently recreate the round-5
    // parse failure (full line > 2000-char stdout-tail window →
    // "parsed": null). As of round 11 the worst case engages the
    // 1-decimal degradation step — the pin is on the FINAL line.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val good = names.map(n => (n, 9999.99, 9999.99, 9999.99, 3))
    val line = Bench.compactLine(good, 99999.999, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(line.length < 1950,
      s"compact line is ${line.length} chars at ${names.size} queries — " +
        "the driver's 2000-char stdout tail is at risk")
  }

  test("compact line keeps 2-decimal medians at realistic widths") {
    // degradation must not fire spuriously: at a realistic width
    // profile — the 15 slowest rows at 2-digit seconds (2× anything
    // observed; BASELINE's max is ~6.6 s) and the rest at 1-digit —
    // the full-precision form must fit at the CURRENT registry size.
    // (The old every-median-42 s profile stopped fitting at 149
    // entries; it was an order above the observed distribution, and
    // the 155-entry pin below is the binding growth contract.)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val good = names.zipWithIndex.map { case (n, i) =>
      if (i < 15) (n, 12.35, 12.35, 12.35, 3) else (n, 4.35, 4.35, 4.35, 3)
    }
    val line = Bench.compactLine(good, 5000.0, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(line.length <= 1950)
    assert(line.contains(":12.35") && line.contains(":4.35"),
      "2-decimal medians were degraded")
  }

  test("compact line has 2-decimal headroom for a 155-entry registry") {
    // round-16 verdict item 6's done-criterion (supersedes the
    // round-15 150-entry pin): prove the reps-shaved tail leaves room
    // for at least 155 entries BEFORE any degradation, at realistic
    // widths (every median < 10 s — the observed registry max is
    // ~6.6 s and the median ~0.6 s). Pad the real registry with
    // realistically-named entries so the short-key machinery runs on
    // the true name distribution.
    val real = SparkEntry.queries.keys.toSeq.sorted
    val pad = (0 until (155 - real.size))
      .map(i => f"q${900 + i}%d_synthetic_future_query")
    val names = (real ++ pad).sorted
    assert(names.size >= 155)
    val good = names.map(n => (n, 9.87, 9.87, 9.87, 3))
    val line = Bench.compactLine(good, 1480.5, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(line.length <= 1950,
      s"155-entry realistic line is ${line.length} chars")
    assert(line.contains(":9.87"), "2-decimal medians were degraded")
  }

  test("a mass failure keeps the queries map and shortens the failed list") {
    // review-round finding: ~60 failed full names (~1.5 KB) can sink
    // the line no matter how the queries map shrinks — in exactly the
    // disaster run where the artifact matters most. The ladder must
    // prefer keeping the per-query medians (the driver's gate input)
    // and degrade the failed list to a count + 5-name sample.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val (bad, ok) = names.splitAt(60)
    val good = ok.map(n => (n, 12.34, 12.34, 12.34, 3))
    val line = Bench.compactLine(good, 1000.0, bad,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(line.length < 1950, s"mass-failure line is ${line.length} chars")
    assert(line.contains(""""failed_count":60"""))
    assert(line.contains(""""failed_sample":["""))
    assert(line.contains(":12.34"), "per-query medians were dropped")
  }

  test("compact line degrades to an EMPTY queries map rather than overflow") {
    // pathological widths (5-digit medians at double the registry) must
    // still yield a parseable sub-budget line — total survives, the
    // per-query map falls back to bench_out.json
    val names = (0 until 300).map(i => f"q$i%03d_synthetic_name_pad")
    val good = names.map(n => (n, 99999.99, 99999.99, 99999.99, 3))
    val line = Bench.compactLine(good, 999999.0, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(line.length < 1950)
    assert(line.contains(""""queries":{}"""))
    assert(line.contains(""""value":999999.000"""))
  }

  test("a run killed after pass 1 leaves a parseable artifact: per-query values, probes, passes_done") {
    // round-17 verdict item 1 (the BENCH_r17 rc-124 incident): main()
    // now emits the FULL artifact after every completed pass, so the
    // state written after pass 1 — what survives a kill during pass 2
    // — must parse and carry everything the post-mortem needs. fullJson
    // is the exact renderer main()'s emit() writes to bench_out.json.
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val names = Seq("q01_a", "q02_b", "q03_c")
    val times = Map(
      "q01_a" -> Vector(1.5), "q02_b" -> Vector(0.25),
      "q03_c" -> Vector.empty[Double]) // failed on its only pass so far
    val json = Bench.fullJson(names, times,
      Map("q01_a" -> (1024L, 6000L)),
      ingestResults = Seq(("lineitem_bkt", true, 2.0, None)),
      ingestSecs = 2.0,
      probes = Seq(0.62), probesPar = Seq(0.55), // before-values only
      passesDone = 1, adaptiveDone = 0, shed = false,
      sfDir = "/root/testdata/sf0.1")
    val p = JsonMethods.parse(json) // throws on malformed JSON
    assert((p \ "passes_done") === JInt(1))
    assert((p \ "adaptive_done") === JInt(0))
    assert((p \ "shed") === JBool(false))
    assert((p \ "queries" \ "q01_a") === JDouble(1.5))
    assert((p \ "queries" \ "q02_b") === JDouble(0.25))
    assert((p \ "probe_secs") === JArray(List(JDouble(0.62))))
    assert((p \ "probe_par_secs") === JArray(List(JDouble(0.55))))
    assert((p \ "failed") === JArray(List(JString("q03_c"))))
    assert((p \ "reps_ok" \ "q01_a") === JInt(1))
    assert((p \ "value") === JDouble(1.75))
    assert((p \ "ingest_ok") === JBool(true))
    // and the final two-probe form parses the same way
    val done = Bench.fullJson(names, times, Map.empty,
      Seq(("lineitem_bkt", true, 2.0, None)), 2.0,
      Seq(0.62, 0.64), Seq(0.55, 1.02), 3, 1, shed = false,
      "/root/testdata/sf0.1")
    val pd = JsonMethods.parse(done)
    assert((pd \ "probe_par_secs") ===
      JArray(List(JDouble(0.55), JDouble(1.02))))
    assert((pd \ "passes_done") === JInt(3))
  }

  test("effectiveBudget: ON by default, override positive, <=0 disables, malformed degrades to default") {
    // round-18 verdict item 1: BENCH_r17 AND r18 both parsed null
    // because the shed machinery was opt-in and the driver never
    // opted in. Unset now means the built-in default (2800 s, under
    // the driver's observed ~3600 s kill); malformed degrades to the
    // PROTECTIVE default, not to no-budget; zero/negative is the
    // explicit local-iteration escape hatch.
    assert(Bench.effectiveBudget(None) === Some(Bench.DefaultBudgetSecs))
    assert(Bench.DefaultBudgetSecs > 0 && Bench.DefaultBudgetSecs < 3600,
      "default must finalize strictly inside the driver's kill window")
    assert(Bench.effectiveBudget(Some("3000")) === Some(3000.0))
    assert(Bench.effectiveBudget(Some(" 1200.5 ")) === Some(1200.5))
    assert(Bench.effectiveBudget(Some("0")) === None)
    assert(Bench.effectiveBudget(Some("-5")) === None)
    assert(Bench.effectiveBudget(Some("abc")) === Some(Bench.DefaultBudgetSecs))
    // "NaN".toDouble PARSES — it must count as malformed (protective
    // default), not as an opt-out (NaN > 0 and NaN <= 0 are both
    // false, so it falls through both guards)
    assert(Bench.effectiveBudget(Some("NaN")) === Some(Bench.DefaultBudgetSecs))
  }

  test("procStatTicks parses the aggregate cpu line; stealPctOf reproduces the judge's 46.8%") {
    // round-18 verdict item 2: the judge measured 46.8% hypervisor
    // steal from /proc/stat field-8 deltas (steal 2710 ticks vs
    // user+sys 3080) while BOTH CPU probes read nominal. busy =
    // user+nice+system+irq+softirq (demanded cycles); steal = field 8.
    val t0 = "cpu  1000 10 500 90000 200 30 60 4000 0 0"
    val t1 = "cpu  3500 10 1080 95000 200 30 60 6710 0 0"
    assert(Bench.procStatTicks(t0) === Some((1600L, 4000L)))
    assert(Bench.procStatTicks("cpu0 1 2 3 4 5 6 7 8 9 10") === None)
    assert(Bench.procStatTicks("intr 12345") === None)
    assert(Bench.procStatTicks("cpu 1 2 3") === None) // truncated
    // delta: busy 3080 (2500 user + 580 sys), steal 2710 → 46.80%
    val pct = Bench.stealPctOf(Bench.procStatTicks(t0), Bench.procStatTicks(t1))
    assert(math.abs(pct - 100.0 * 2710 / (2710 + 3080)) < 1e-9)
    assert(Bench.num(pct, 1) === "46.8")
    // sentinels: unavailable counters, empty delta, counter regression
    assert(Bench.stealPctOf(None, Some((1L, 1L))) === -1.0)
    assert(Bench.stealPctOf(Some((5L, 5L)), Some((5L, 5L))) === -1.0)
    assert(Bench.stealPctOf(Some((9L, 9L)), Some((5L, 5L))) === -1.0)
    // a zero-steal window reads 0, not a sentinel
    assert(Bench.stealPctOf(Some((100L, 7L)), Some((300L, 7L))) === 0.0)
    // and the live reader either works (procfs present) or returns
    // None — asserted only where /proc/stat exists, so the
    // pure-function suite stays runnable off-Linux, where the
    // production sentinel path (-1) is the contract (review finding)
    if (new java.io.File("/proc/stat").exists())
      assert(Bench.readProcCpu().isDefined,
        "/proc/stat exists but the counter reader returned None")
  }

  test("steal rides the full JSON and the compact line; sentinel is -1, never absent") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val names = Seq("q01_a")
    val times = Map("q01_a" -> Vector(1.5))
    val json = Bench.fullJson(names, times, Map.empty,
      Seq(("lineitem_bkt", true, 2.0, None)), 2.0,
      Seq(0.62), Seq(0.55), 1, 0, shed = false, "/root/testdata/sf0.1",
      stealPct = 46.8, stealPass = Seq(51.2, 44.0))
    val p = JsonMethods.parse(json)
    assert((p \ "steal_pct") === JDouble(46.8))
    assert((p \ "steal_pct_pass") ===
      JArray(List(JDouble(51.2), JDouble(44.0))))
    // omitted → explicit -1 sentinel (off-Linux), still parseable
    val pn = JsonMethods.parse(Bench.fullJson(names, times, Map.empty,
      Nil, 0.0, Nil, Nil, 0, 0, shed = false, "sf"))
    assert((pn \ "steal_pct") === JDouble(-1.0))
    assert((pn \ "steal_pct_pass") === JArray(Nil))
    // compact: 1-decimal "steal" in the tail so the 2x gate can
    // steal-normalize from the driver artifact alone
    val line = Bench.compactLine(
      Seq(("q01_pricing_summary", 1.0, 1.0, 1.0, 3)), 1.0, Nil,
      ingestOk = true, "/root/testdata/sf0.1", stealPct = 46.83)
    assert(line.contains("\"steal\":46.8"), line)
    val lineDefault = Bench.compactLine(
      Seq(("q01_pricing_summary", 1.0, 1.0, 1.0, 3)), 1.0, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(lineDefault.contains("\"steal\":-1.0"), lineDefault)
  }

  test("shouldShed: sheds only when a budget exists and would be crossed") {
    // SPARK_GRAFT_BENCH_BUDGET_SECS (round-17 verdict item 1): no env →
    // never shed; under budget → run; elapsed + projected over budget →
    // shed (finalizing pass-1 medians beats an rc-124 parsed:null)
    assert(!Bench.shouldShed(None, 1e9, 1e9))
    assert(!Bench.shouldShed(Some(600.0), 200.0, 250.0))
    assert(Bench.shouldShed(Some(600.0), 400.0, 250.0))
    assert(!Bench.shouldShed(Some(600.0), 350.0, 250.0)) // exactly at budget
  }

  test("capacity-probe width follows SPARK_GRAFT_CPUS, the width Spark is asked for") {
    // round-17 ADVICE item 2: the probe must contend at the parallelism
    // the bench's local[N] session actually uses, not the machine's
    // core count (they differ under an override, skewing cross-box
    // probe-ratio normalization)
    val saved = sys.props.get("SPARK_GRAFT_CPUS")
    try {
      sys.props("SPARK_GRAFT_CPUS") = "7"
      assert(Bench.probeParWidth === 7)
    } finally {
      saved match {
        case Some(v) => sys.props("SPARK_GRAFT_CPUS") = v
        case None => sys.props.remove("SPARK_GRAFT_CPUS")
      }
    }
  }

  test("cpu probe: positive, repeatable, and OUT of the compact line") {
    // the box-speed probe exists because per-query floor-flags cannot
    // see steal that is uniform across reps (round-17: three same-code
    // recordings at 1.6x with zero flags). Two back-to-back samples on
    // the same box must be positive and within a loose factor of each
    // other (a 3x swing within milliseconds would make the probe
    // useless as a cross-run normalizer); the probe rides ONLY in the
    // full bench_out.json, so the driver's 2000-char stdout tail and
    // the gate-read compact schema are untouched.
    Bench.cpuProbe() // discard the cold JIT call, as main() does
    val (a, b) = (Bench.cpuProbe(), Bench.cpuProbe())
    assert(a > 0.01 && b > 0.01, s"probe too fast to measure: $a / $b")
    assert(a < 30 && b < 30, s"probe too slow — shrink the loop: $a / $b")
    assert(math.max(a, b) / math.min(a, b) < 3.0,
      s"back-to-back probes diverge: $a vs $b")
    // the parallel capacity twin (full-width threads, memory-walking
    // loop): only loose bounds are assertable — contention is exactly
    // what it exists to measure — but it must be measurable, bounded,
    // and JIT-warmed repeatable like the serial probe
    Bench.cpuProbePar() // discard the cold JIT call
    val (p1, p2) = (Bench.cpuProbePar(), Bench.cpuProbePar())
    assert(p1 > 0.01 && p2 > 0.01, s"parallel probe too fast: $p1 / $p2")
    assert(p1 < 30 && p2 < 30, s"parallel probe too slow: $p1 / $p2")
    assert(math.max(p1, p2) / math.min(p1, p2) < 3.0,
      s"back-to-back parallel probes diverge: $p1 vs $p2")
    val line = Bench.compactLine(
      Seq(("q01_pricing_summary", 1.0, 1.0, 1.0, 3)), 1.0, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(!line.contains("probe_secs"),
      "probe leaked into the compact stdout line")
  }

  test("per-query jobs/gap_secs ride the full JSON only; unmeasured is -1, never absent") {
    // round-20 verdict item 7: the overhead-bound families' cost is
    // Spark JOBS, not data — the artifact must carry ProfileQuery's
    // job-count/inter-job-gap numbers per query so a job-count
    // optimization (e.g. the round-21 seed/empty-tail elision) is
    // checkable from bench_out.json alone. FULL JSON only: the
    // compact stdout line's 1950-char ladder budget must not grow.
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val names = Seq("q01_a", "q02_b")
    val times = Map("q01_a" -> Vector(1.5), "q02_b" -> Vector(0.25))
    val json = Bench.fullJson(names, times, Map.empty,
      Seq(("lineitem_bkt", true, 2.0, None)), 2.0,
      Seq(0.62), Seq(0.55), 1, 0, shed = false, "/root/testdata/sf0.1",
      jobCounts = Map("q01_a" -> 79L),
      gapSecs = Map("q01_a" -> 2.437))
    val p = JsonMethods.parse(json)
    assert((p \ "jobs" \ "q01_a") === JInt(79))
    assert((p \ "gap_secs" \ "q01_a") === JDouble(2.437))
    // a query with no measurement renders the explicit -1 sentinel
    assert((p \ "jobs" \ "q02_b") === JInt(-1))
    assert((p \ "gap_secs" \ "q02_b") === JDouble(-1.0))
    // omitting the maps entirely (old call shape) still parses, with
    // sentinels for every query — the artifact schema is stable
    val pn = JsonMethods.parse(Bench.fullJson(names, times, Map.empty,
      Nil, 0.0, Nil, Nil, 0, 0, shed = false, "sf"))
    assert((pn \ "jobs" \ "q01_a") === JInt(-1))
    // and the compact line carries neither key
    val line2 = Bench.compactLine(
      Seq(("q01_pricing_summary", 1.0, 1.0, 1.0, 3)), 1.0, Nil,
      ingestOk = true, "/root/testdata/sf0.1")
    assert(!line2.contains("\"jobs\"") && !line2.contains("gap_secs"),
      "job telemetry leaked into the compact stdout line")
  }
}
