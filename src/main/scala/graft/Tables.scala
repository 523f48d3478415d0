package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.{DocCommon, IngestQueries}

/** Table registry for the driver-provisioned parquet fixtures
  * (/root/testdata/sf*, schemas documented in FIXTURES.md).
  *
  * Scale notes (100 TB design): every loader returns a plain parquet scan so
  * Catalyst keeps predicate pushdown / column pruning / partition pruning;
  * no data is cached or collected here. The one thing kept across calls is
  * each fixture's inferred parquet schema (`schemas`), a catalog statistic
  * captured once like `rowCount`: it holds only because the fixtures are
  * read-only (TESTDATA.md). The only transformation applied at load time is
  * the `events.ts` nanosecond fix-up, which is a per-row projection (no
  * shuffle).
  */
object Tables {

  /** Star-schema + aux tables, as provisioned by the driver. */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Memoized table row count — the ONE driver-side scalar some index
    * builds need for sizing (q24b's LSH band width, q24d's ⌈√n⌉ IVF
    * list count). A parquet count() is footer-metadata-cheap, but it is
    * still a Spark action on the driver, so it belongs to the INGEST
    * phase, not the per-query path: Bench warms it alongside the
    * bucketed/partitioned layouts, and reruns of the same (dir, table)
    * are a map lookup. At 100 TB the analogue is the catalog rowCount
    * statistic (ANALYZE TABLE — see CboStatsSpec), captured once at
    * load. */
  private val rowCounts =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCounts.getOrElseUpdate((dir, name), load(spark, dir, name).count())

  /** Memoized inferred parquet schema of one fixture file, under the same
    * captured-once contract as `rowCounts`. Inference is a one-task Spark
    * job that reads a footer; a catalog keeps the schema instead, so
    * analysing a query never touches the data. Only the `StructType` is
    * kept: every `load` still builds a fresh relation (fresh expression
    * ids) that lists and scans its file. Sound only for read-only inputs —
    * warehouse layouts, LSM dirs and replay dirs are rewritten in place
    * and keep inferring. */
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** The canonical form of a raw scan of fixture `name`. Only `events`
    * changes: events.parquet has shipped `ts` in two physical encodings
    * across fixture re-provisions, so the loader adapts to the schema it
    * finds instead of assuming one:
    *
    *   - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
    *     with spark.sql.legacy.parquet.nanosAsLong=true (set at session
    *     build in graft.Sessions — NOT here; a loader must not mutate
    *     session conf) it surfaces as a raw Long of epoch-nanos, which we
    *     truncate to microseconds — the same truncation the DuckDB oracle
    *     applies (FIXTURES.md §1). Integer `div`, not double division: an
    *     epoch-nanos value (~1.7e18) does not fit a double's 53-bit
    *     mantissa. Truncation (`div`) equals floor division for the
    *     post-1970 fixture; pre-epoch timestamps are out of contract.
    *
    *   - parquet timestamp[us] (current testdata, re-provisioned
    *     2026-08-13): Spark reads it natively as TIMESTAMP_NTZ (no
    *     isAdjustedToUTC flag + inferTimestampNTZ default) or as
    *     session-TZ TIMESTAMP; either way a cast to TimestampNTZType under
    *     the UTC session zone is exact and matches DuckDB's TIMESTAMP.
    *
    * Both branches normalize to TimestampNTZType so every downstream
    * consumer (window aggs, as-of joins, streaming watermarks, the JSON
    * surface) sees one canonical type. The dispatch reads only the
    * memoized footer schema (no data IO) and the fix-up is a per-row
    * projection — pushdown/pruning still reach the scan.
    */
  private[graft] def canonical(name: String, raw: DataFrame): DataFrame =
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as raw nanos
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case TimestampNTZType => raw
      case _ => // TimestampType (µs, session-TZ): UTC session ⇒ exact cast
        raw.withColumn("ts", col("ts").cast(TimestampNTZType))
    }

  /** Load one table by name. `events` gets the ns→µs fix-up; everything else
    * is a bare vectorized parquet scan (filters/pruning push down). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    val schema = schemas.getOrElseUpdate(p, spark.read.parquet(p).schema)
    canonical(name, spark.read.schema(schema).parquet(p))
  }

  /** Register every table as a temp view so spark.sql(...) works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** A fixture dir as a name fragment (every non-alphanumeric as `_`):
    * each per-sfDir layout below is named prefix + `slug(dir)`. */
  private def slug(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  /** The session-warehouse directory of layout `name`. */
  private def layoutLoc(spark: SparkSession, name: String): java.io.File =
    new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)

  /** The write-once protocol every file-backed layout below shares:
    * `write` fills the location (given as a path) only when it holds no
    * `_SUCCESS` marker, so the layout is built once per warehouse and
    * every later call is a marker probe. A write leaves a timed `[tables]`
    * stderr breadcrumb — a layout write inside a timed bench rep would be
    * invisible otherwise (round-4 ADVICE item 1 post-mortem). Returns the
    * path to read back. Synchronized: test suites share one session. */
  private def writeOnce(spark: SparkSession, name: String)(
      write: String => Unit): String = synchronized {
    val loc = layoutLoc(spark, name)
    if (!new java.io.File(loc, "_SUCCESS").exists()) {
      val t0 = System.nanoTime()
      write(loc.toString)
      System.err.println(
        f"[tables] wrote $name in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    loc.toString
  }

  /** Catalog-backed BUCKETED copy of a fixture table — the storage-layout
    * half of the zero-shuffle fact-fact join story (q03b; plan property
    * proven in BucketingSpec and PlanShapeSpec). Bucketing is a
    * write-once decision: at 100 TB both fact tables are bucketed by the
    * join key at ingest and every subsequent join on that key skips its
    * exchange entirely. Here the bucketed copy is materialized lazily
    * per (table, sfDir) into the session warehouse — the one-time cost a
    * real pipeline pays at ingest, paid on first use (and visible as
    * such in q03b's cold bench time; see BASELINE.md note).
    *
    * Bucket info lives in the catalog, so the copy must be read back via
    * spark.table, not a bare parquet path. Synchronized: test suites
    * share one session. */
  /** Catalog name of the bucketed copy of (dir, name) — one place, so
    * ANALYZE/metadata consumers (CboStatsSpec) address the same table
    * the queries join. */
  def bucketedTableName(dir: String, name: String, suffix: String = ""): String =
    s"${name}_bkt${suffix}_" + slug(dir)

  def bucketed(spark: SparkSession, dir: String, name: String, key: String,
      cols: Seq[String], buckets: Int = 32,
      suffix: String = ""): DataFrame = synchronized {
    val tbl = bucketedTableName(dir, name, suffix)
    if (!spark.catalog.tableExists(tbl)) {
      // a previous JVM can leave the managed dir behind (in-memory
      // catalog, persistent warehouse) — clear it or saveAsTable refuses
      val loc = layoutLoc(spark, tbl)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (loc.exists()) rm(loc)
      // stderr breadcrumb: a bucketed WRITE inside a timed bench rep
      // would be invisible otherwise (round-4 ADVICE item 1 post-mortem)
      val t0 = System.nanoTime()
      load(spark, dir, name).select(cols.map(col): _*)
        .write.bucketBy(buckets, key).sortBy(key).saveAsTable(tbl)
      System.err.println(
        f"[tables] wrote bucketed $tbl in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.table(tbl)
  }

  /** Hive-PARTITIONED copy of `orders`, laid out by `o_year` — the
    * directory-layout half of the data-skipping story (q55/q56;
    * pruning properties proven in PartitionPruningSpec). Partitioning
    * by a coarse time column is THE load-bearing 100 TB technique: a
    * year/month predicate (q55) or a filtered dim joined on the
    * partition column (q56, dynamic partition pruning) eliminates
    * whole directories before a single byte of IO. Like bucketing,
    * it is a write-once ingest decision: materialized lazily per
    * sfDir into the session warehouse, idempotent via the _SUCCESS
    * marker, untimed in Bench's ingest phase.
    *
    * Read back through a bare parquet scan so partition DISCOVERY
    * supplies `o_year` (IntegerType) and FileSourceScanExec keeps
    * `PartitionFilters` — catalog registration is not required for
    * either static pruning or DPP. */
  def datePartitioned(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(
      writeOnce(spark, "orders_part_" + slug(dir)) { p =>
        load(spark, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(p)
      })

  /** Bit-interleave two 16-bit values (LongType columns) into their
    * 32-bit Morton / Z-order code. Pure expression tree — 32 shift/mask
    * terms, folded into one codegen'd projection. */
  private def interleave16(x: Column, y: Column): Column =
    (0 until 16).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)

  /** Z-ORDERED (Morton-clustered) copy of `orders` on
    * (o_orderdate, o_custkey) — the MULTI-dimensional member of the
    * layout toolkit (bucketing = join locality, hive partitioning =
    * 1-D coarse pruning, Z-order = N-D fine pruning; the public
    * technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`). Both
    * dimensions are scaled to 16-bit ranks (bounds from one
    * metadata-cheap ingest-phase aggregate, memoized like the layout
    * writes themselves), bit-interleaved into a 32-bit Morton code,
    * then range-partitioned AND sorted by that code — so every output
    * file (= row group at these sizes) covers one compact Z-cell whose
    * parquet min/max stats are TIGHT ON BOTH columns at once. A
    * 2-D box predicate (date range × customer range, q95) then skips
    * most row groups at footer-read time, and — unlike a 1-D sort —
    * so does a predicate on EITHER dimension alone. At 100 TB this is
    * the difference between "prunes only on the lead sort column" and
    * "prunes on every clustered column"; ZOrderSpec measures the scan
    * row counts against a date-sorted copy of the same data. The
    * Z column itself is dropped before the write: the layout speaks
    * entirely through file/row-group statistics on natural columns. */
  def zordered(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(
      writeOnce(spark, "orders_zorder_" + slug(dir)) { p =>
        val orders = load(spark, dir, "orders")
        val day = datediff(col("o_orderdate").cast(DateType),
          lit("1990-01-01").cast(DateType)).cast(LongType)
        val b = orders.agg(
          min(day).as("dmin"), max(day).as("dmax"),
          min(col("o_custkey")).as("cmin"), max(col("o_custkey")).as("cmax"))
          .head()
        val (dmin, dmax) = (b.getLong(0), b.getLong(1))
        val (cmin, cmax) = (b.getLong(2), b.getLong(3))
        val d16 = (day - dmin) * 65535L / math.max(dmax - dmin, 1L)
        val c16 = (col("o_custkey") - cmin) * 65535L / math.max(cmax - cmin, 1L)
        // cell granularity scales with the table: pruning resolution is
        // per-file/row-group, so more rows get more (still right-sized)
        // Z-cells — at 100 TB this is row groups within large files
        val nCells = math.max(16L, math.min(64L,
          rowCount(spark, dir, "orders") / 4096)).toInt
        orders
          .withColumn("z", interleave16(d16, c16))
          .repartitionByRange(nCells, col("z"))
          .sortWithinPartitions("z")
          .drop("z")
          .write.mode("overwrite").parquet(p)
      })

  /** CSV / JSON / ORC / XML copy of the events table (sans ts/props — the
    * four columns whose text round-trip is exact: longs, strings
    * without delimiters, and doubles, which Java renders
    * shortest-round-trip; ORC is binary-typed, so its round-trip is
    * trivially exact and it stands in for "the second columnar
    * format" alongside parquet). The write is once-per (codec, sfDir)
    * ingest like the other layouts; the read-back uses an EXPLICIT
    * schema — schema inference over text at 100 TB is a full extra
    * pass and an availability hazard, so production text scans always
    * pin their schema (for ORC the schema is in the footer, but
    * pinning it keeps the reader contract uniform). XML is Spark 4's
    * built-in datasource (the spark-xml package upstreamed) and needs
    * a rowTag on both sides — one <event> element per row. Backs q57,
    * which upgrades the §2.B "CSV/JSON aux scans" row from
    * test-asserted to oracle-gated. */
  def codecEvents(spark: SparkSession, dir: String, codec: String): DataFrame = {
    require(
      codec == "csv" || codec == "json" || codec == "orc" || codec == "xml" ||
        codec == "avro",
      codec)
    // "avro" maps to graft's own DSv2 container-file source (the
    // spark-avro connector module is not on this classpath; see
    // sources/AvroSource.scala) — same write-once / explicit-schema
    // contract as the built-in codecs.
    val fmt = if (codec == "avro") "graftavro" else codec
    val loc = writeOnce(spark, s"events_${codec}_" + slug(dir)) { p =>
      val w = load(spark, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").format(fmt)
      (if (codec == "xml") w.option("rowTag", "event") else w).save(p)
    }
    val r = spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .format(fmt)
    (if (codec == "xml") r.option("rowTag", "event") else r).load(loc)
  }

  /** MATERIALIZED VIEW exemplar (round-7 verdict item 1b): the standing
    * per-(event_type, day) aggregate over all events BEFORE the MV
    * cutoff, written once as parquet — the engine twin of the
    * reference's cached working set (ST7701Cached's persistent 2,880-B
    * row cache, reference README.md:3-6): a precomputed result the
    * steady-state path reads instead of recomputing history.
    *
    * q94 folds the post-cutoff delta into this MV (union + re-aggregate
    * over |event_type|×|days| keyed rows) and the DuckDB oracle grades
    * the merged result against a FULL recompute from raw events — the
    * incremental-maintenance identity merged(mv, delta) ≡ aggregate(all)
    * that lets a 100 TB pipeline maintain standing aggregates by daily
    * fold instead of rescanning history. Partials are exact decimals, so
    * the fold is associative by construction (same Policy argument as
    * q66, which proves the identity WITHOUT materialization). Like
    * bucketing, the MV write is a once-per-ingest decision: idempotent
    * via _SUCCESS, untimed in Bench's ingest phase; a production
    * refresher would rewrite only the close-of-day partition. */
  val MvCutoff = "2024-02-01 00:00:00"

  def eventsDailyMv(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(
      writeOnce(spark, "events_mv_" + slug(dir)) { p =>
        load(spark, dir, "events")
          .filter(col("ts") < lit(MvCutoff).cast(TimestampNTZType))
          .groupBy(col("event_type"), col("ts").cast(DateType).as("day"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(Policy.Dec4)).as("sum_value"))
          .write.mode("overwrite").parquet(p)
      })

  /** WRITE-ONCE MinHash ingest index over the standing document corpus
    * — the storage artifact behind q110b's incremental dedup (round-11
    * verdict item 2: the q110 comment "in production the corpus band/
    * signature relations are precomputed" turned into graded code).
    * Two parquet relations, derived by the SAME engine-mirrored
    * builders q110 uses in-query (IngestQueries.bandRows / verify sets,
    * so the hash contract cannot drift):
    *
    *   - bands: (doc_id, band_idx, band_val) — the LSH posting keys a
    *     batch's band rows equi-join against;
    *   - sets:  (doc_id, ss sorted shingle array, n) — the exact-
    *     Jaccard verify payload, read only for candidate doc_ids.
    *
    * Like bucketing/partitioning/the MV, this is an ingest-time
    * decision: built lazily once per sfDir (idempotent via _SUCCESS),
    * untimed in Bench's ingest phase. At 100 TB both relations are
    * maintained incrementally — each admitted batch APPENDS its kept
    * docs' bands/sets — so every subsequent ingest dedup reads the
    * index instead of re-shingling the corpus; the index is ~1 band
    * row per band per doc and one sorted shingle array per doc,
    * linear in the corpus and tiny next to the text it summarizes. */
  def minhashIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    indexPair(spark, "docs_minhash_" + slug(dir),
      IngestQueries.minhashIndexRelationsFor(spark, dir,
        DocCommon.q110Mod =!= 0))

  /** Both relations of a MinHash index under `name` + `_bands`/`_sets`,
    * each written once. `rels` is by-name and forced at most once, so its
    * one shingle pass runs only when a relation is missing. */
  private def indexPair(spark: SparkSession, name: String,
      rels: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    lazy val (bands, sets) = rels
    (spark.read.parquet(writeOnce(spark, name + "_bands") { p =>
        bands.write.mode("overwrite").parquet(p) }),
      spark.read.parquet(writeOnce(spark, name + "_sets") { p =>
        sets.write.mode("overwrite").parquet(p) }))
  }

  /** Warehouse location of a q110c base-index relation (`_bands`,
    * `_sets`, or the query-written `_delta_bands`/`_delta_sets`
    * segments) — ONE slug derivation shared by the builder below and
    * IngestQueries.q110cDeltaLocs, so the delta segments cannot drift
    * away from the base index they extend. */
  private[graft] def minhashBaseLoc(
      spark: SparkSession, dir: String, suffix: String): java.io.File =
    layoutLoc(spark, "docs_minhash_base_" + slug(dir) + suffix)

  /** Base index for q110c's ingest APPEND cycle: same write-once
    * contract and builders as `minhashIndex`, but the standing corpus
    * is the mod-3 == 2 carve — batches 0 and 1 "arrive" later and the
    * kept docs of batch 0 are appended as a delta segment before batch
    * 1 is deduped (the segment write lives in the query: it is the
    * per-ingest cost being graded, not an ingest-time layout). */
  def minhashIndexBase(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    indexPair(spark, minhashBaseLoc(spark, dir, "").getName,
      IngestQueries.minhashIndexRelationsFor(spark, dir,
        DocCommon.q110Mod === 2))

  /** Write-once distinct 5-gram set of the standing corpus (the mod-2
    * carve) — the gram-granularity ingest index q117's scale note
    * promises and q117b probes per micro-batch: one `gram` string
    * column, linear in corpus DISTINCT grams, built lazily once per
    * sfDir (idempotent via _SUCCESS) and untimed in Bench's ingest
    * phase like the MinHash indexes. */
  def gramIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(
      writeOnce(spark, gramBaseLoc(spark, dir, "").getName) { p =>
        IngestQueries.corpusGramSet(spark, dir)
          .write.mode("overwrite").parquet(p)
      })

  /** Warehouse location of a gram-index relation: "" = the base set
    * gramIndex materializes; "_delta" = the admitted-gram segment
    * q117c appends — ONE slug derivation (the minhashBaseLoc contract
    * at gram granularity) so the delta cannot drift away from the base
    * it extends. */
  private[graft] def gramBaseLoc(
      spark: SparkSession, dir: String, suffix: String): java.io.File =
    layoutLoc(spark, "docs_grams_base_" + slug(dir) + suffix)

  /** Tiny year→era dimension, materialized ONCE as parquet (the
    * date-dim every warehouse keeps as a real table). It must be a
    * file-backed scan, not a literal LocalRelation: q56's point is
    * DYNAMIC partition pruning, and Catalyst constant-folds a literal
    * dim's filter away (ConvertToLocalRelation) or — if the filter
    * column is derivable from the join key — propagates it into a
    * STATIC partition filter. A scan dim with an era column the
    * optimizer cannot invert is the shape that actually exercises the
    * runtime DynamicPruningSubquery path used at warehouse scale. */
  def eraDim(spark: SparkSession): DataFrame =
    spark.read.parquet(writeOnce(spark, "era_dim") { p =>
      import spark.implicits._
      Seq((1995, "early"), (1996, "early"), (1997, "mid"), (1998, "mid"),
        (1999, "late"), (2000, "late"), (2001, "late"))
        .toDF("d_year", "era")
        .coalesce(1).write.mode("overwrite").parquet(p)
    })
}

/** Cross-engine determinism policy (SURVEY.md §5.B, FIXTURES.md §2).
  *
  * Everything that gets hash-compared against the DuckDB oracle must be
  * bit-identical. The rules:
  *
  *   - Aggregated doubles are first cast to DECIMAL(18,4); decimal sums are
  *     EXACT, hence independent of partitioning / evaluation order — the
  *     property that makes the result stable on 1 partition or 10,000.
  *   - A final exact decimal converts to DOUBLE once (round-to-nearest is
  *     deterministic and identical in both engines). No ROUND() on doubles
  *     anywhere: Spark rounds via BigDecimal HALF_UP while DuckDB uses a
  *     multiply-divide scheme, and the two disagree on edge values.
  *   - Averages/ratios = exact-decimal-derived double ÷ exact count: a single
  *     IEEE-754 division, identical in both engines.
  *   - Counts stay BIGINT (DuckDB SUM(BIGINT) returns HUGEINT — oracle SQL
  *     must cast back).
  *   - Every query ends in a total ORDER BY over its output columns.
  */
object Policy {
  import org.apache.spark.sql.Column

  val Dec4: DecimalType = DecimalType(18, 4)

  def dec(c: Column): Column = c.cast(Dec4)
  def dbl(c: Column): Column = c.cast(DoubleType)

  /** Exact decimal sum of a double column, emitted as double — the
    * round-2..20 form, kept as the independently-derived twin the
    * MoneyUnitsSpec differentials pin the integer-unit forms against
    * (not used on hot paths since round 21). */
  def sumDblDec(c: Column): Column = dbl(sum(dec(c)))

  /** Sum of a PRODUCT of decimals (scale 8), rescaled to Dec4 BEFORE the
    * double cast. A scale-8 sum beyond ~9e15 no longer fits the 53-bit
    * mantissa as a scaled integer; DuckDB's int128→double path then
    * rounds twice (int→double, ÷10^8) while Spark's BigDecimal rounds
    * once — a 1-ulp drift that broke Q13/Q16 hashes in round 2. At scale
    * 4 the scaled integer stays exact up to ~9e11, 100× above the
    * fixture's largest totals. The rescale itself is decimal-exact
    * HALF_UP (away from zero) in both engines.
    * Oracle twin: CAST(CAST(SUM(x) AS DECIMAL(18,4)) AS DOUBLE).
    * Decimal twin of sumMoney, like sumDblDec (spec-pinned). */
  def sumMoneyDec(c: Column): Column = dbl(sum(c).cast(Dec4))

  /** Decimal twin of avgDbl (spec-pinned, off the hot paths). */
  def avgDblDec(c: Column): Column = dbl(sum(dec(c))) / count(c)

  /** TPC-H style revenue term: extprice * (1 - discount), exact decimal. */
  def revenueDec(price: Column, discount: Column): Column =
    dec(price) * (lit(1) - dec(discount))

  // ---- MONEY AS EXACT INTEGER UNITS (round 21, guide §1.2 per-task
  // work). The decimal scheme above is exact but expensive per ROW: a
  // DECIMAL(18,4) × DECIMAL(18,4) product runs through
  // java.math.BigDecimal (result precision 38 is past the compact-long
  // ceiling) and each double→decimal cast allocates — measured 1.27 s
  // vs 0.48 s on q09's 600k-row aggregate job (5-rep mins, recorded
  // in OPTIMIZATION_r21.md), and that allocation traffic is what a
  // bandwidth-contended 32-thread box amplifies (the PERF_r20 q09/q101/q102/q103 anti-scaling
  // cluster). Fixture money columns are 2-DECIMAL by generator
  // contract — MoneyUnitsSpec verifies EVERY money column at EVERY
  // shipped SF — so value·10⁴ lies within ~1e-6 of an integer:
  // floor(x·10⁴ + 0.5) IS dec(x)'s unscaled long, in pure codegen
  // arithmetic. (Exact .00005 ties cannot occur for 2-decimal sources,
  // so HALF_UP-vs-floor never diverges; negatives hit the same nearest
  // integer.) Sums run over DECIMAL(38,0) integers — exact and
  // partition-order-free exactly like the decimal sums they replace,
  // compact-long-backed until 10¹⁸ — and ONE per-GROUP decimal
  // division ((30,0)/(9,0) → (38,8), exact; the typing is recorded in
  // OPTIMIZATION_r21.md) rescales before the SAME Dec4 HALF_UP cast
  // and double conversion the old forms ended in. Equality with the decimal forms is pinned
  // by MoneyUnitsSpec (per-value u4 ≡ dec unscaled on the real
  // fixtures; boundary-sum differentials for the rescale), and the
  // oracle/golden gates verify every declared query end to end.
  // Domain: |Σ| < 10³⁰ units — far above the old scheme's documented
  // ~9e11-money headroom.

  /** Integer-unit sum type: exact, compact while < 1e18. */
  val DecU: DecimalType = DecimalType(38, 0)

  /** Money value → exact 1e-4-unit long (the Dec4 unscaled value). */
  def u4(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)).cast(LongType)

  /** Exact Σ of integer 1e-4 (money) or 1e-8 (money²) units. */
  def sumU(c: Column): Column = sum(c.cast(DecU))

  /** 1e-4-unit exact sum → the double the decimal sumDbl emits:
    * (34,0)/(5,0) divides exactly at scale 6 ≥ 4, and decimal→double
    * is value-based, so the scale-6 vs scale-4 repr cannot differ. */
  def dblU4(su: Column): Column =
    dbl(su.cast(DecimalType(34, 0)) / lit(10000L).cast(DecimalType(5, 0)))

  /** 1e-8-unit exact sum → sumMoney's contract: exact rescale to
    * scale 8 ((30,0)/(9,0) → (38,8)), the same Dec4 HALF_UP cast, one
    * double conversion. */
  def dblU8(su: Column): Column =
    dbl((su.cast(DecimalType(30, 0)) /
      lit(100000000L).cast(DecimalType(9, 0))).cast(Dec4))

  /** Exact integer-unit sumDbl: same double as sumDblDec. */
  def sumDbl(c: Column): Column = dblU4(sumU(u4(c)))

  /** Exact integer-unit sumMoney: takes a 1e-8-unit (money²) LONG
    * column — the new `revenue`'s output, or u4(a)·u4(b) — where the
    * decimal twin took the scale-8 decimal product. */
  def sumMoney(c: Column): Column = dblU8(sumU(c))

  /** Exact integer-unit avgDbl: same double ÷ the same exact count. */
  def avgDbl(c: Column): Column = dblU4(sumU(u4(c))) / count(c)

  /** revenue in exact 1e-8 units: u4(price) · (10⁴ − u4(discount)). */
  def revenue(price: Column, discount: Column): Column =
    u4(price) * (lit(10000L) - u4(discount))
}
