package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Custom DataSource V2 exemplar: a deterministic integer-range generator
  * (`spark.read.format("graftrange")`), the §7.3 source tier alongside the
  * expression/aggregate/plan tiers already built.
  *
  * Reference basis: A20 synthetic datagen + A29/A30 scan-with-seek
  * (`/root/reference/src/DoublePsramBuffer480x480.cpp:111-127`,
  * `/root/reference/src/fileio.cpp:25-44`) — the generator plays the role
  * of a table whose "storage layout" is the dense id range.
  *
  * What it demonstrates, scale-first:
  *   - COLUMN PRUNING (`SupportsPushDownRequiredColumns`): the reader
  *     materializes only the requested fields — `squared` is never
  *     computed for an `id`-only projection (the DSv2 contract that lets
  *     a real source skip column chunks).
  *   - FILTER PUSHDOWN (`SupportsPushDownFilters`): range predicates on
  *     `id` are consumed EXACTLY (the dense layout makes bounds precise,
  *     so Spark does not re-evaluate them) and, crucially, they prune at
  *     PLANNING time: `planInputPartitions` drops every slice of the
  *     original layout that cannot intersect the pushed bounds — the
  *     DSv2 analogue of q55's hive-partition pruning. Non-range
  *     predicates are returned as residuals for Spark to apply.
  *   - SPLIT PLANNING: the [start,end) layout is cut into `slices`
  *     contiguous partitions (one reader each, no shuffle), so a
  *     1000-executor cluster scales by raising `slices`.
  *
  * Options: `start` (inclusive, default 0), `end` (exclusive, required),
  * `slices` (default 32). Schema: `id BIGINT NOT NULL, squared BIGINT NOT
  * NULL` with `squared = id*id` computed in the reader.
  */
class RangeSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graftrange"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RangeSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val start = opts.getLong("start", 0L)
    val end = opts.getLong("end", -1L)
    require(end >= start, s"graftrange needs end >= start, got [$start,$end)")
    new RangeTable(start, end, opts.getInt("slices", 32))
  }
}

object RangeSource {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("squared", LongType, nullable = false)))
}

final class RangeTable(start: Long, end: Long, slices: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graftrange[$start,$end)x$slices"
  override def schema(): StructType = RangeSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RangeScanBuilder(start, end, slices,
      options.getLong("rowsPerBatch", 0L))
}

final class RangeScanBuilder(
    start: Long, end: Long, slices: Int, rowsPerBatch: Long = 0L)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  // Bounds narrowed by pushed predicates; readers emit exactly [lo, hi).
  private var lo: Long = start
  private var hi: Long = end
  private val accepted = ArrayBuffer.empty[Filter]
  private var required: StructType = RangeSource.Schema

  private def long(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  // v+1 saturated at Long.MaxValue: ids live in [start,end) with end a
  // Long, so no id can ever equal Long.MaxValue and the saturated bound
  // is exact — while a raw v+1 at the boundary wraps to Long.MinValue
  // and silently turns `id <= MaxValue` (a tautology) into an empty scan.
  private def incSat(v: Long): Long =
    if (v == Long.MaxValue) Long.MaxValue else v + 1

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = ArrayBuffer.empty[Filter]
    filters.foreach {
      case f @ GreaterThan("id", v) if long(v).isDefined =>
        lo = math.max(lo, incSat(long(v).get)); accepted += f
      case f @ GreaterThanOrEqual("id", v) if long(v).isDefined =>
        lo = math.max(lo, long(v).get); accepted += f
      case f @ LessThan("id", v) if long(v).isDefined =>
        hi = math.min(hi, long(v).get); accepted += f
      case f @ LessThanOrEqual("id", v) if long(v).isDefined =>
        hi = math.min(hi, incSat(long(v).get)); accepted += f
      case f @ EqualTo("id", v) if long(v).isDefined =>
        lo = math.max(lo, long(v).get)
        hi = math.min(hi, incSat(long(v).get))
        accepted += f
      case f @ IsNotNull("id") => accepted += f // id is never null
      case other => residual += other
    }
    residual.toArray
  }

  override def pushedFilters(): Array[Filter] = accepted.toArray

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- aggregate pushdown: COUNT(*)/MIN(id)/MAX(id)/SUM(id) have
  // CLOSED FORMS on a dense pruned range [lo,hi) — the scan answers
  // them from metadata alone, reading ZERO rows (the DSv2 analogue of
  // parquet answering count(*) from row-group statistics). Pushdown
  // runs after filter pushdown, so the bounds are the pruned ones.
  private var pushedAgg: Option[Seq[AggregateFunc]] = None

  private def isId(f: AggregateFunc): Boolean = f match {
    case m: Min => m.column.describe == "id"
    case m: Max => m.column.describe == "id"
    case s: Sum => !s.isDistinct && s.column.describe == "id"
    case _ => false
  }

  private def handled(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case f => isId(f) &&
          // sum must stay in Long range to be exact — check BOTH bounds
          // with the true closed form (a negative-start range can
          // underflow Long.MinValue just as a positive one overflows)
          (!f.isInstanceOf[Sum] || hi <= lo || {
            val sum = (BigInt(lo) + BigInt(hi) - 1) *
              (BigInt(hi) - BigInt(lo)) / 2
            sum >= BigInt(Long.MinValue) && sum <= BigInt(Long.MaxValue)
          })
      }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    handled(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    if (handled(agg)) {
      pushedAgg = Some(agg.aggregateExpressions.toSeq); true
    } else false

  override def build(): Scan = pushedAgg match {
    case Some(aggs) => new RangeAggScan(lo, hi, aggs)
    case None =>
      new RangeScan(start, end, slices, lo, hi, required, rowsPerBatch)
  }
}

/** One metadata-only row answering the completely-pushed aggregate. */
final class RangeAggScan(lo: Long, hi: Long, aggs: Seq[AggregateFunc])
    extends Scan with Batch {
  private val empty = hi <= lo
  override def readSchema(): StructType = StructType(aggs.zipWithIndex.map {
    case (_: CountStar, i) => StructField(s"agg_$i", LongType, nullable = false)
    case (_, i) => StructField(s"agg_$i", LongType, nullable = true)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftRange AGG-pushdown [$lo,$hi) ${aggs.mkString(", ")}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(RangePartition(0, 1)) // one row, computed on the driver-side forms
  override def createReaderFactory(): PartitionReaderFactory = {
    val values: Seq[Any] = aggs.map {
      case _: CountStar => math.max(0L, hi - lo)
      case _: Min => if (empty) null else lo
      case _: Max => if (empty) null else hi - 1
      case _: Sum =>
        // BigInt intermediate: (lo+hi-1)*(hi-lo) can overflow Long even
        // when the final sum fits (handled() guards the result range)
        if (empty) null
        else ((BigInt(lo) + hi - 1) * (hi - lo) / 2).toLong
      case other => throw new IllegalStateException(s"unhandled $other")
    }
    new SingleRowReaderFactory(values)
  }
}

final class SingleRowReaderFactory(values: Seq[Any])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val f = !emitted; emitted = true; f }
      override def get(): InternalRow = InternalRow.fromSeq(values)
      override def close(): Unit = {}
    }
}

final class RangeScan(
    start: Long, end: Long, slices: Int,
    lo: Long, hi: Long, required: StructType,
    rowsPerBatch: Long = 0L) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RangeMicroBatchStream(lo, hi,
      if (rowsPerBatch > 0) rowsPerBatch else math.max(1L, (hi - lo) / 4),
      required.fieldNames)
  override def description(): String =
    s"GraftRange layout=[$start,$end)x$slices pruned=[$lo,$hi) " +
      s"cols=${required.fieldNames.mkString(",")}"

  /** Slice the ORIGINAL layout, then keep only slices intersecting the
    * pushed bounds — planning-time partition pruning, like a partitioned
    * table skipping directories. */
  override def planInputPartitions(): Array[InputPartition] = {
    if (hi <= lo || end <= start) return Array.empty
    val width = math.max(1L, math.ceil((end - start).toDouble / slices).toLong)
    (0 until slices).iterator
      .map { i =>
        val s = start + i * width
        RangePartition(math.max(s, lo), math.min(math.min(s + width, end), hi))
      }
      .filter(p => p.lo < p.hi)
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RangeReaderFactory(required.fieldNames, columnar = true)
}

final case class RangePartition(lo: Long, hi: Long) extends InputPartition

final class RangeReaderFactory(fields: Array[String], columnar: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rp = p.asInstanceOf[RangePartition]
    new RangeReader(rp.lo, rp.hi, fields)
  }

  /** Batch scans serve COLUMNAR batches (`Batched: true` in the scan,
    * ColumnarToRow above it — the same vectorized shape as the parquet
    * reader): 4096-row Long vectors filled in a tight loop, amortizing
    * per-row iterator overhead exactly like a columnar file format
    * would. The streaming path keeps the row reader (opt-in flag) —
    * micro-batches here are small by construction. */
  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val rp = p.asInstanceOf[RangePartition]
    new RangeColumnarReader(rp.lo, rp.hi, fields)
  }
}

final class RangeColumnarReader(lo: Long, hi: Long, fields: Array[String])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val Cap = 4096
  private val vectors =
    fields.map(_ => new OnHeapColumnVector(Cap, LongType))
  private val batch =
    new ColumnarBatch(vectors.toArray[ColumnVector])
  private var cur = lo

  override def next(): Boolean = {
    if (cur >= hi) return false
    val n = math.min(Cap.toLong, hi - cur).toInt
    var c = 0
    while (c < fields.length) {
      val v = vectors(c)
      v.reset()
      val squared = fields(c) == "squared"
      var i = 0
      while (i < n) {
        val id = cur + i
        v.putLong(i, if (squared) id * id else id)
        i += 1
      }
      c += 1
    }
    batch.setNumRows(n)
    cur += n
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = vectors.foreach(_.close())
}

/** The streaming half of the source (S12): the same id range replayed
  * as a deterministic micro-batch stream — `latestOffset` advances by
  * `rowsPerBatch` ids per batch, each batch plans one partition over
  * its [startOffset, endOffset) sub-range, and the REPLAY CONTRACT
  * (same offset pair → identical rows, the property checkpoint recovery
  * depends on) holds by construction because rows are a pure function
  * of the id. The pushed bounds from the batch ScanBuilder carry over:
  * a bounded streaming read replays only the pruned range. */
final case class RangeOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

final class RangeMicroBatchStream(
    lo: Long, hi: Long, rowsPerBatch: Long, fields: Array[String])
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  override def initialOffset(): Offset = RangeOffset(lo)
  override def deserializeOffset(json: String): Offset =
    RangeOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = {}
  override def stop(): Unit = {}

  // Admission control: each micro-batch admits at most rowsPerBatch ids,
  // so AvailableNow replays the range as ceil((hi-lo)/rowsPerBatch)
  // batches — real incremental execution, not one batch wearing a
  // streaming trigger (RangeSourceSpec asserts the batch count).
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(rowsPerBatch)
  override def prepareForTriggerAvailableNow(): Unit = {}
  override def reportLatestOffset(): Offset = RangeOffset(hi)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "rate-limited source: use latestOffset(start, limit)")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    RangeOffset(
      math.min(hi, start.asInstanceOf[RangeOffset].id + rowsPerBatch))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RangeOffset].id
    val e = end.asInstanceOf[RangeOffset].id
    // one partition per rowsPerBatch chunk, so executor parallelism
    // inside a batch matches the batch-side slicing policy
    if (e <= s) Array.empty
    else Iterator.iterate(s)(_ + rowsPerBatch).takeWhile(_ < e)
      .map(b => RangePartition(b, math.min(b + rowsPerBatch, e)))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RangeReaderFactory(fields)
}

/** Emits only the pruned fields: an `id`-only projection never computes
  * `squared` (column pruning reaches the value generator itself). */
final class RangeReader(lo: Long, hi: Long, fields: Array[String])
    extends PartitionReader[InternalRow] {
  private var cur = lo - 1
  override def next(): Boolean = { cur += 1; cur < hi }
  override def get(): InternalRow =
    InternalRow.fromSeq(fields.toSeq.map {
      case "id" => cur
      case "squared" => cur * cur
    })
  override def close(): Unit = {}
}
