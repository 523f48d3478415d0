package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Tables
import graft.Policy._
import graft.streaming.StreamingJobs

/** Q20–Q21: the event-stream shapes, run as batch over `events`
  * (`graft.streaming` replays the same logic through Structured Streaming;
  * S1/S3 assert stream ≡ batch).
  *
  * `events.ts` has shipped as both parquet TIMESTAMP(NANOS) and
  * timestamp[us] across driver re-provisions; Tables.loadEvents adapts and
  * normalizes to µs TIMESTAMP_NTZ, and each oracle starts from the same
  * truncation (QueryDef.EventsUs — exact on either unit) so both engines
  * see identical timestamps.
  */
object EventQueries {
  import QueryDef.EventsUs

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  // ---------------------------------------------------------------- Q20
  // JSON extraction + hourly tumbling window, batch flavor.
  // get_json_object is Spark's codegen'd JSON path; the oracle uses a
  // regexp on the same {"k": <int>} shape (DuckDB's json extension may
  // not be loadable offline) — semantically equal on this fixture.
  private val q20 = QueryDef(
    "q20_events_hourly",
    (s, dir) => {
      import s.implicits._
      // try_cast, not cast: ANSI mode (Spark 4 default) turns a malformed
      // numeric string into a runtime error; try_cast yields NULL, which
      // matches the oracle's TRY_CAST.
      ev(s, dir)
        .withColumn("k",
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
        .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"event_type")
        .agg(count(lit(1)).as("n_events"),
          sumDbl($"value").as("sum_value"),
          sum($"k").as("sum_k"))
        .orderBy($"hour", $"event_type")
    },
    Some(s"""$EventsUs
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        CAST(SUM(TRY_CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
      FROM ev GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q21
  // Batch sessionization: a new session starts when the gap to the previous
  // event of the same user exceeds 30 minutes. lag → flag → running sum
  // (the classic gaps-and-islands rewrite; the streaming twin uses
  // session_window, asserted equivalent in S3).
  private val q21 = QueryDef(
    "q21_sessionization",
    (s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val flagged = ev(s, dir)
        .withColumn("prev_ts", lag($"ts", 1).over(byUser))
        .withColumn("new_session",
          when($"prev_ts".isNull ||
            unix_micros($"ts".cast(TimestampType)) -
              unix_micros($"prev_ts".cast(TimestampType)) > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum($"new_session").over(byUser))
      val sessions = flagged
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max($"ts").cast(TimestampType)) -
            unix_micros(min($"ts").cast(TimestampType))).as("dur_us"))
      sessions.groupBy($"user_id")
        .agg(count(lit(1)).as("n_sessions"),
          (dbl(sum($"n_events")) / count(lit(1))).as("avg_events"),
          (dbl(sum($"dur_us")) / count(lit(1)) / 1000000.0).as("avg_session_sec"))
        .orderBy($"user_id")
    },
    Some(s"""$EventsUs,
      flagged AS (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts, 1) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 30*60*1000000
               THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      with_sid AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged),
      sessions AS (
        SELECT user_id, session_id, COUNT(*) AS n_events,
          epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
        FROM with_sid GROUP BY 1, 2)
      SELECT user_id, COUNT(*) AS n_sessions,
        CAST(CAST(SUM(n_events) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_events,
        CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE) / COUNT(*) / 1000000.0
          AS avg_session_sec
      FROM sessions GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q37
  // AS-OF join: each event matched to the user's most recent order at or
  // before the event timestamp. Spark has no native as-of operator
  // (SURVEY §2.B joins, §7.4 risk 3); the scale-safe composite is
  // union-the-two-streams + per-key ordered window + last(ignoreNulls):
  // one shuffle on the key, O(n log n) per partition, no range-join
  // explosion. The DuckDB oracle uses its NATIVE `ASOF LEFT JOIN` — a
  // fully independent implementation of the same semantics.
  // Orders are pre-deduped to one per (custkey, date) (max orderkey) so
  // the as-of match is unique in both engines; at equal timestamps the
  // order row sorts before the event row (is_event 0 < 1), making the
  // match inclusive (ts >= o_orderdate) like the oracle's `>=`.
  private val q37 = QueryDef(
    "q37_asof_last_order",
    (s, dir) => {
      import s.implicits._
      val od = Tables.load(s, dir, "orders")
        .groupBy($"o_custkey", $"o_orderdate")
        .agg(max($"o_orderkey").as("o_orderkey"))
      val oTagged = od.select($"o_custkey".as("k"), $"o_orderdate".as("t"),
        lit(0).as("is_event"), lit(null).cast(LongType).as("event_id"),
        $"o_orderkey", $"o_orderdate".as("odate"))
      val eTagged = ev(s, dir).select($"user_id".as("k"), $"ts".as("t"),
        lit(1).as("is_event"), $"event_id",
        lit(null).cast(LongType).as("o_orderkey"),
        lit(null).cast(TimestampNTZType).as("odate"))
      val w = Window.partitionBy($"k").orderBy($"t", $"is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      oTagged.unionAll(eTagged)
        .withColumn("m_orderkey", last($"o_orderkey", ignoreNulls = true).over(w))
        .withColumn("m_odate", last($"odate", ignoreNulls = true).over(w))
        .filter($"is_event" === 1)
        .select($"event_id", $"k".as("user_id"),
          $"m_orderkey".as("o_orderkey"),
          datediff($"t".cast(DateType), $"m_odate".cast(DateType))
            .cast(LongType).as("age_days"))
        .orderBy($"event_id")
    },
    Some(s"""$EventsUs,
      od AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY 1, 2)
      SELECT ev.event_id, ev.user_id, o.o_orderkey,
        CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(ev.ts AS DATE))
             AS BIGINT) AS age_days
      FROM ev ASOF LEFT JOIN od o
        ON ev.user_id = o.o_custkey AND ev.ts >= o.o_orderdate
      ORDER BY event_id"""))

  // --------------------------------------------------------------- Q37b
  // The SAME as-of semantics as q37, through the NATIVE operator
  // (graft.plans.AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec): one
  // sorted merge per key-clustered partition instead of q37's
  // union + ordered window. Identical DuckDB ASOF JOIN oracle — three
  // independent implementations (window composite, sorted-merge exec,
  // DuckDB native) must agree row-for-row. Plan-asserted in
  // PlanShapeSpec: physical plan contains AsOfJoinExec with exactly one
  // exchange per side below it.
  private val q37b = QueryDef(
    "q37b_asof_native",
    (s, dir) => {
      import s.implicits._
      val od = Tables.load(s, dir, "orders")
        .groupBy($"o_custkey", $"o_orderdate")
        .agg(max($"o_orderkey").as("o_orderkey"))
      val e = ev(s, dir).select($"event_id", $"user_id", $"ts")
      graft.plans.AsOf.joinBackward(e, od,
          e("user_id"), od("o_custkey"), e("ts"), od("o_orderdate"))
        .select($"event_id", $"user_id", $"o_orderkey",
          datediff($"ts".cast(DateType), $"o_orderdate".cast(DateType))
            .cast(LongType).as("age_days"))
        .orderBy($"event_id")
    },
    Some(s"""$EventsUs,
      od AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY 1, 2)
      SELECT ev.event_id, ev.user_id, o.o_orderkey,
        CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(ev.ts AS DATE))
             AS BIGINT) AS age_days
      FROM ev ASOF LEFT JOIN od o
        ON ev.user_id = o.o_custkey AND ev.ts >= o.o_orderdate
      ORDER BY event_id"""))

  // ---------------------------------------------------------------- Q44
  // STREAMING under the driver's correctness gate (round-3 verdict
  // missing #2): the events table is replayed as a file stream through
  // StreamingJobs.hourlyCounts (the S1 job) with Trigger.AvailableNow
  // into a memory sink, and the sink's contents are returned as the
  // query result. This runs IncrementalExecution — stateful streaming
  // aggregation, micro-batch planning, state store — not the batch
  // planner; the DuckDB oracle is the same hourly aggregation computed
  // relationally, so stream ≡ batch is now oracle-graded, not only
  // test-asserted. The replay write is ingest (idempotent per JVM via
  // replayDirFor); ts round-trips NTZ→LTZ under the UTC session so the
  // window starts equal date_trunc('hour') wall-times exactly.
  //
  // PLAN-CONSUMER CAVEAT: the DataFrame this fn returns is the MEMORY-
  // SINK table scan — the streaming work already happened inside the fn
  // (IncrementalExecution is only observable on the StreamingQuery's
  // lastExecution). Bench therefore times the full replay (honest) but
  // its "scanned" metric and any executedPlan inspection see only the
  // sink read; PlanShapeSpec excludes q44 from its registry-wide plan
  // sweep for exactly this reason (streaming plan shape is asserted in
  // StreamingSpec on the streaming side).
  private val memCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private val q44 = QueryDef(
    "q44_stream_hourly",
    (s, dir) => {
      import s.implicits._
      val replay = StreamingJobs.replayDirFor(s, dir)
      // memory-sink query names are session-global — make each run's
      // unique so Bench's repeated executions don't collide.
      val qname = s"q44_mem_${memCounter.incrementAndGet()}"
      val stream = StreamingJobs.hourlyCounts(
        StreamingJobs.readReplayStream(s, replay))
      // state sized to the job like every other stateful entry (q49/
      // q58/q79/q96–q99; round 20 — q44 was the one sibling still
      // paying 32 state stores × per-batch commit IO for a few
      // thousand aggregate rows; see withStatePartitions)
      StreamingJobs.withStatePartitions(s, 8) {
        StreamingJobs.drainToMemory("q44_stream_hourly", qname,
          stream, "complete")
      }
      s.table(qname)
        .select(date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"event_type", $"n_events", $"sum_value")
        .orderBy($"hour", $"event_type")
    },
    Some(s"""$EventsUs
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM ev GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q49
  // SECOND streaming entry under the oracle gate: stateful SESSION
  // WINDOWS (the S3 job) replayed with Trigger.AvailableNow into a
  // memory sink in complete mode — unlike q44's tumbling windows this
  // exercises the variable-length merging-session state path of
  // IncrementalExecution. The oracle computes the identical sessions
  // relationally in DuckDB (gaps-and-islands), with Spark's EXACT merge
  // rule: two events share a session iff their gap is STRICTLY under
  // 30 min (session_window's [ts, ts+gap) interval overlap), and
  // session_end = last event + gap — both written into the oracle SQL
  // (q21's batch sessionization uses "> gap starts new", a deliberately
  // different boundary convention; the two queries document both).
  // Same plan-consumer caveat as q44: the returned DataFrame is the
  // memory-sink scan; PlanShapeSpec excludes q49 from the plan sweep.
  private val q49 = QueryDef(
    "q49_stream_sessions",
    (s, dir) => {
      import s.implicits._
      val replay = StreamingJobs.replayDirFor(s, dir)
      val qname = s"q49_mem_${memCounter.incrementAndGet()}"
      val stream = StreamingJobs.sessions(
        StreamingJobs.readReplayStream(s, replay))
      // session state sized to the job, like q58 (see
      // StreamingJobs.withStatePartitions)
      StreamingJobs.withStatePartitions(s, 8) {
        StreamingJobs.drainToMemory("q49_stream_sessions", qname,
          stream, "complete")
      }
      s.table(qname)
        .select($"user_id",
          date_format($"session_start", "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format($"session_end", "yyyy-MM-dd HH:mm:ss")
            .as("session_end"),
          $"n_events")
        .orderBy($"user_id", $"session_start")
    },
    Some(s"""$EventsUs,
      flagged AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts, 1) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)
                    >= 30*60*1000000
               THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      with_sid AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged)
      SELECT user_id,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
          AS session_end,
        COUNT(*) AS n_events
      FROM with_sid GROUP BY user_id, session_id
      ORDER BY user_id, session_start"""))

  // ---------------------------------------------------------------- Q57
  // CSV/JSON/ORC/XML/Avro source scans under the oracle gate (§2.B
  // aux-scan row, previously only test-asserted). The same per-type
  // aggregate runs over a copy of events in each codec
  // (Tables.codecEvents, written once in the untimed ingest phase;
  // explicit read schema — text inference at 100 TB is an extra full
  // pass). Every codec must reproduce the PARQUET-derived oracle
  // numbers exactly, proving the round-trip lossless for longs,
  // strings and doubles (Java emits shortest-round-trip decimal for
  // doubles, so parse(print(x)) == x bit-for-bit; the decimal-sum
  // Policy then makes the aggregate order-independent as usual; ORC
  // and Avro are binary-typed, so their round-trip is trivially
  // exact — Avro through graft's own DSv2 container source,
  // sources/AvroSource.scala). One output row per (codec, type).
  private val q57 = QueryDef(
    "q57_codec_parity",
    (s, dir) => {
      import s.implicits._
      def one(codec: String): DataFrame =
        Tables.codecEvents(s, dir, codec)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            sumDbl($"value").as("total_value"))
          .select(lit(codec).as("codec"), $"event_type",
            $"n_events", $"total_value")
      one("csv").unionAll(one("json")).unionAll(one("orc"))
        .unionAll(one("xml")).unionAll(one("avro"))
        .orderBy($"codec", $"event_type")
    },
    Some("""WITH a AS (
        SELECT event_type, COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1)
      SELECT 'csv' AS codec, event_type, n_events, total_value FROM a
      UNION ALL
      SELECT 'json' AS codec, event_type, n_events, total_value FROM a
      UNION ALL
      SELECT 'orc' AS codec, event_type, n_events, total_value FROM a
      UNION ALL
      SELECT 'xml' AS codec, event_type, n_events, total_value FROM a
      UNION ALL
      SELECT 'avro' AS codec, event_type, n_events, total_value FROM a
      ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q58
  // THIRD streaming entry under the oracle gate: a stream-STREAM
  // interval join (StreamingJobs.clickPurchaseFunnel — S10), the last
  // stateful-operator class not yet covered by a CORRECTNESS row
  // (q44 = tumbling agg, q49 = merging session state, q58 = symmetric
  // join state with watermark-derived eviction). Two independent
  // replay readers (not a self-join of one streaming DF) feed the
  // join; AvailableNow drains it into a memory sink in append mode —
  // inner interval matches emit eagerly, so the sink holds every pair
  // when the trigger completes. The oracle is the identical relational
  // interval join over the µs-truncated events. Like q44/q49, the
  // returned DataFrame is the memory-sink scan (PlanShapeSpec excludes
  // it from the registry-wide plan sweep).
  private val q58 = QueryDef(
    "q58_stream_funnel",
    (s, dir) => {
      import s.implicits._
      val replay = StreamingJobs.replayDirFor(s, dir)
      val qname = s"q58_mem_${memCounter.incrementAndGet()}"
      def side(t: String) = StreamingJobs
        .readReplayStream(s, replay).filter($"event_type" === t)
      // state partitioning sized to the job (see withStatePartitions):
      // ~20k state rows across 4 stores per side — 8 partitions, not
      // the relational 32 (measured 8.7 → 3.4 s at sf0.1)
      StreamingJobs.withStatePartitions(s, 8) {
        StreamingJobs.drainToMemory("q58_stream_funnel", qname,
          StreamingJobs.clickPurchaseFunnel(side("click"), side("purchase")),
          "append")
      }
      s.table(qname)
        .select($"c_user".as("user_id"), $"click_id",
          date_format($"click_ts", "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          $"purchase_id",
          date_format($"purchase_ts", "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
        .orderBy($"user_id", $"click_id", $"purchase_id")
    },
    Some(s"""$EventsUs
      SELECT c.user_id AS user_id, c.event_id AS click_id,
        strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        p.event_id AS purchase_id,
        strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
      FROM ev c JOIN ev p ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      ORDER BY 1, 2, 4"""))

  // ---------------------------------------------------------------- Q66
  // Incremental DELTA-MERGE aggregation — the batch form of the
  // reference's incremental-clear value (SURVEY §2.A A9: update only
  // what changed instead of recomputing the world). The pre-cutoff
  // "base" aggregate and the post-cutoff "delta" aggregate are computed
  // independently, then merged with a full-outer join + coalesced
  // partial sums. Because the partials are exact decimals, the merge is
  // associative — the identity merged(base, delta) = aggregate(all) that
  // the oracle checks is precisely what lets a 100 TB pipeline maintain
  // a standing aggregate by folding in daily deltas instead of
  // rescanning history. The merge join runs over |event_type| keyed
  // rows, not events.
  private val q66 = QueryDef(
    "q66_delta_merge",
    (s, dir) => {
      import s.implicits._
      val cutoff = lit("2024-02-01 00:00:00").cast(TimestampNTZType)
      def agg(df: DataFrame, suffix: String): DataFrame =
        df.groupBy($"event_type")
          .agg(count(lit(1)).as(s"cnt_$suffix"),
            sum(dec($"value")).as(s"sum_$suffix"))
      val base = agg(ev(s, dir).filter($"ts" < cutoff), "b")
      val delta = agg(ev(s, dir).filter($"ts" >= cutoff), "d")
      base.join(delta, Seq("event_type"), "full_outer")
        .select($"event_type",
          (coalesce($"cnt_b", lit(0L)) + coalesce($"cnt_d", lit(0L)))
            .as("n_events"),
          dbl((coalesce($"sum_b".cast(Dec4), lit(0).cast(Dec4)) +
            coalesce($"sum_d".cast(Dec4), lit(0).cast(Dec4))).cast(Dec4))
            .as("sum_value"))
        .orderBy($"event_type")
    },
    Some(s"""$EventsUs
      SELECT event_type, COUNT(*) AS n_events,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))
          AS DOUBLE) AS sum_value
      FROM ev GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q67
  // Batch FUNNEL conversion: for each user take the FIRST 'signup'
  // event, then count distinct users reaching each other event type
  // within 30 minutes of it. The anchor aggregate reduces events to one
  // row per signed-up user before the join, so the join input is keyed
  // and bounded by |users|, and the follow-up scan joins against it on
  // user_id — a shuffled equi-join at scale, never a time-range join
  // (the window bound is a post-join filter on the keyed pair).
  // S10/q58 is the streaming twin of this shape.
  private val q67 = QueryDef(
    "q67_funnel_conversion",
    (s, dir) => {
      import s.implicits._
      val anchors = ev(s, dir).filter($"event_type" === "signup")
        .groupBy($"user_id").agg(min($"ts").as("t0"))
      ev(s, dir)
        .join(anchors, Seq("user_id"))
        .filter($"event_type" =!= "signup" &&
          $"ts" > $"t0" && $"ts" <= $"t0" + expr("INTERVAL 30 MINUTES"))
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("users"))
        .orderBy($"event_type")
    },
    Some(s"""$EventsUs, anchors AS (
        SELECT user_id, MIN(ts) AS t0 FROM ev
        WHERE event_type = 'signup' GROUP BY 1)
      SELECT e.event_type, COUNT(DISTINCT e.user_id) AS users
      FROM ev e JOIN anchors a ON e.user_id = a.user_id
      WHERE e.event_type <> 'signup'
        AND e.ts > a.t0 AND e.ts <= a.t0 + INTERVAL 30 MINUTE
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q79
  // FOURTH streaming entry under the oracle gate, and the first to grade
  // the SINK side: the S13 foreachBatch change-log sink. The replay runs
  // in 4 admission-limited batches (maxFilesPerTrigger=1 over the 4-file
  // replay dir); each update-mode batch overwrites its own
  // batch=<id> partition (idempotent under at-least-once re-delivery),
  // and the returned DataFrame is the LAST-WRITE-PER-KEY resolution of
  // that change-log — so a duplicated, lost, or misordered batch write
  // breaks the hash against the plain relational aggregate. Fresh
  // checkpoint + sink dirs per run (Bench reps time the full replay,
  // like q44). Plan consumers see only the sink read (q44 caveat).
  private val q79 = QueryDef(
    "q79_stream_foreach_sink",
    (s, dir) => {
      import s.implicits._
      val replay = StreamingJobs.replayDirMulti(s, dir)
      // Scratch-registered like the q110d family's dirs (round-16
      // review finding: q79 was the one streaming query still leaking
      // its per-rep sink/checkpoint copies past the harness purge)
      val Seq(out, ckpt) = Scratch.dirs("graft-q79", "sink", "ckpt")
      StreamingJobs.withStatePartitions(s, 8) {
        StreamingJobs.runForeachBatchCounts(s, replay, ckpt, out)
      }
      StreamingJobs.foreachBatchTable(s, out).orderBy($"event_type")
    },
    // value/event_type don't touch the ns→µs truncation, so the oracle
    // reads events directly.
    Some("""SELECT event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q94
  // INCREMENTAL MATERIALIZED VIEW — q66 with the base side actually
  // MATERIALIZED (Tables.eventsDailyMv, written once at ingest like the
  // bucketed/partitioned layouts): the standing per-(event_type, day)
  // aggregate is read back from parquet and the post-cutoff delta is
  // folded in by union + re-aggregate over keyed partial rows — never a
  // rescan of pre-cutoff history. The oracle is the FULL recompute from
  // raw events, so the driver's hash gate proves the maintenance
  // identity merged(mv, delta) ≡ aggregate(all) end-to-end (exact
  // decimal partials make the fold associative — Policy). q66 proves
  // the same identity in one plan; this query proves it ACROSS a
  // materialization boundary, which is the form a 100 TB pipeline
  // actually runs: MV scan is O(|keys|), delta scan is one day of
  // data, history is never touched. MvEquivalenceSpec additionally
  // asserts the plan reads the MV parquet, not the events table twice.
  private val q94 = QueryDef(
    "q94_incremental_mv",
    (s, dir) => {
      import s.implicits._
      val cutoff = lit(Tables.MvCutoff).cast(TimestampNTZType)
      val mv = Tables.eventsDailyMv(s, dir)
      val delta = ev(s, dir).filter($"ts" >= cutoff)
        .groupBy($"event_type", $"ts".cast(DateType).as("day"))
        .agg(count(lit(1)).as("cnt"), sum(dec($"value")).as("sum_value"))
      mv.unionByName(delta)
        .groupBy($"event_type")
        .agg(sum($"cnt").as("n_events"),
          dbl(sum($"sum_value").cast(Dec4)).as("sum_value"))
        .orderBy($"event_type")
    },
    Some(s"""$EventsUs
      SELECT event_type, COUNT(*) AS n_events,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))
          AS DOUBLE) AS sum_value
      FROM ev GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q96
  // FIFTH streaming entry under the oracle gate (round-8 verdict item
  // 8): transformWithState — the Spark 4 arbitrary-keyed-state API v2
  // (typed ValueState cells, RocksDB state-store provider) — replayed
  // with Trigger.AvailableNow into an update-mode memory sink. This is
  // the §2.B row 50 operator (S14's job, StreamingJobs.RunningTotals)
  // promoted from test-asserted to driver-graded: per-user running
  // totals kept in exact integer micro-units so the DuckDB twin is
  // bit-equal (same per-row floor both sides; the oracle CASTs its
  // HUGEINT SUM back to BIGINT — the check.py type-class gate).
  // Update mode emits one row per (key, batch); the single-file replay
  // runs one batch, and the max() fold keeps the read idempotent if a
  // rerun appends more batches (monotone counters). RocksDB provider is
  // set for the duration of the stream and restored after — at 100 TB
  // scale RocksDB-backed state is the only viable choice for state that
  // exceeds executor heap. Plan consumers see only the sink read (q44
  // caveat; streaming plan shape is asserted in StreamingSpec S14/S15).
  private val q96 = QueryDef(
    "q96_stream_totals",
    (s, dir) => {
      import s.implicits._
      val replay = StreamingJobs.replayDirFor(s, dir)
      val qname = s"q96_mem_${memCounter.incrementAndGet()}"
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val stream = StreamingJobs.readReplayStream(s, replay)
          .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
          .as[StreamingJobs.Event]
        StreamingJobs.withStatePartitions(s, 8) {
          StreamingJobs.drainToMemory("q96_stream_totals", qname,
            StreamingJobs.runningTotals(stream).toDF(), "update")
        }
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
      s.table(qname)
        .groupBy($"user_id")
        .agg(max($"n_events").as("n_events"),
          max($"sum_micro").as("sum_micro"))
        .orderBy($"user_id")
    },
    Some(s"""$EventsUs
      SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
          AS sum_micro
      FROM ev GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- Q97
  // SLIDING windows under the oracle gate (§2.B row 47, previously
  // test-asserted only in S7): 1-hour windows every 15 minutes — each
  // event lands in exactly 4 windows (floor15(ts) − k·15min, k=0..3;
  // the k=3 window always still covers ts). The oracle materializes
  // the same 4-way fan-out relationally with an explicit epoch-µs
  // floor, which is bit-identical to Spark's epoch-aligned window
  // grid — no reliance on either engine's bucketing origin. Complete
  // mode (no watermark): the replay is bounded, and the oracle is the
  // full recompute. Plan consumers see only the sink read (q44
  // caveat); the sliding StateStoreSave is pinned in PlanShapeSpec's
  // streaming sweep.
  private val q97 = QueryDef(
    "q97_stream_sliding",
    (s, dir) => {
      import s.implicits._
      val replay = StreamingJobs.replayDirFor(s, dir)
      val qname = s"q97_mem_${memCounter.incrementAndGet()}"
      val stream = StreamingJobs.slidingCounts(
        StreamingJobs.readReplayStream(s, replay))
      StreamingJobs.withStatePartitions(s, 8) {
        StreamingJobs.drainToMemory("q97_stream_sliding", qname,
          stream, "complete")
      }
      s.table(qname)
        .select(date_format($"w_start", "yyyy-MM-dd HH:mm:ss").as("w_start"),
          $"event_type", $"n_events")
        .orderBy($"w_start", $"event_type")
    },
    Some(s"""$EventsUs
      SELECT strftime(make_timestamp(
          (epoch_us(ts) // 900000000) * 900000000 - k * 900000000),
          '%Y-%m-%d %H:%M:%S') AS w_start,
        event_type, COUNT(*) AS n_events
      FROM ev CROSS JOIN range(4) t(k)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q98
  // STREAMING DEDUP under the oracle gate (§2.B row 49, previously
  // test-asserted only in S6/S16): the replay directory holds the
  // events table TWICE (StreamingJobs.replayDirDup) and
  // maxFilesPerTrigger=1 forces the duplicate file into a SECOND
  // micro-batch — so dropDuplicates("event_id") must cancel a full
  // redelivery across batches through its keyed state (rows behind
  // the 1-hour watermark are cancelled by the late-row filter
  // instead; both paths restore the original set, which is what makes
  // the oracle deterministic). This is the at-least-once-redelivery
  // shape a 100 TB ingest dedup actually faces. The oracle is q44's
  // hourly aggregation over the ORIGINAL single copy — equality
  // proves the engine counted nothing twice.
  private val q98 = QueryDef(
    "q98_stream_dedup",
    (s, dir) => {
      import s.implicits._
      val replay = StreamingJobs.replayDirDup(s, dir)
      val qname = s"q98_mem_${memCounter.incrementAndGet()}"
      val stream = StreamingJobs.dedupedHourlyCounts(
        StreamingJobs.readReplayStream(s, replay, maxFilesPerTrigger = Some(1)))
      StreamingJobs.withStatePartitions(s, 8) {
        StreamingJobs.drainToMemory("q98_stream_dedup", qname,
          stream, "complete")
      }
      s.table(qname)
        .select(date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"event_type", $"n_events", $"sum_value")
        .orderBy($"hour", $"event_type")
    },
    Some(s"""$EventsUs
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM ev GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- Q99
  // STREAM-STATIC JOIN under the oracle gate (§2.B row 51, previously
  // test-asserted only in S5): the event stream enriched against the
  // static customer dimension (user_id ≘ c_custkey) and aggregated per
  // market segment. Spark re-plans the static side per micro-batch; at
  // this dim size it broadcasts — the same plan shape as the batch
  // star joins, which is the point: a 100 TB streaming enrich is a
  // broadcast join per batch, not a shuffle. Complete mode; oracle is
  // the identical relational join+agg.
  private val q99 = QueryDef(
    "q99_stream_enrich",
    (s, dir) => {
      import s.implicits._
      val replay = StreamingJobs.replayDirFor(s, dir)
      val qname = s"q99_mem_${memCounter.incrementAndGet()}"
      val stream = StreamingJobs.segmentActivity(
        StreamingJobs.readReplayStream(s, replay),
        Tables.load(s, dir, "customer"))
      StreamingJobs.withStatePartitions(s, 8) {
        StreamingJobs.drainToMemory("q99_stream_enrich", qname,
          stream, "complete")
      }
      s.table(qname)
        .select($"c_mktsegment", $"n_events", $"sum_value")
        .orderBy($"c_mktsegment")
    },
    Some(s"""$EventsUs
      SELECT c_mktsegment, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM ev JOIN customer ON user_id = c_custkey
      GROUP BY 1 ORDER BY 1"""))

  val all: Seq[QueryDef] =
    Seq(q20, q21, q37, q37b, q44, q49, q57, q58, q66, q67, q79, q94,
      q96, q97, q98, q99)
}
