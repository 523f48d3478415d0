package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Custom DataSource V2 exemplar: a deterministic integer-range generator
  * (`spark.read.format("graftrange")`, read by q70), the §7.3 source tier
  * alongside the expression/aggregate/plan tiers already built. It is a
  * batch-only source: a streaming read fails with Spark's
  * missing-capability error.
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
  *   - COLUMNAR READS: every partition is served as 4096-row Long
  *     vectors (`RangeColumnarReader`).
  *
  * Options: `start` (inclusive, default 0), `end` (exclusive, required),
  * `slices` (default 32, must be positive). Schema: `id BIGINT NOT NULL,
  * squared BIGINT NOT NULL` with `squared = id*id` computed in the reader.
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
    val slices = opts.getInt("slices", 32)
    require(end >= start, s"graftrange needs end >= start, got [$start,$end)")
    require(slices > 0, s"graftrange needs slices > 0, got $slices")
    new RangeTable(start, end, slices)
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
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RangeScanBuilder(start, end, slices)
}

final class RangeScanBuilder(start: Long, end: Long, slices: Int)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
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

  override def build(): Scan =
    new RangeScan(start, end, slices, lo, hi, required)
}

final class RangeScan(
    start: Long, end: Long, slices: Int,
    lo: Long, hi: Long, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
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
    new RangeReaderFactory(required.fieldNames)
}

final case class RangePartition(lo: Long, hi: Long) extends InputPartition

/** Serves COLUMNAR batches only (`Batched: true` in the scan,
  * ColumnarToRow above it — the same vectorized shape as the parquet
  * reader): 4096-row Long vectors filled in a tight loop, amortizing
  * per-row iterator overhead exactly like a columnar file format would.
  * Spark never asks for a row reader when every partition is columnar. */
final class RangeReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graftrange serves columnar batches only")

  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val rp = p.asInstanceOf[RangePartition]
    new RangeColumnarReader(rp.lo, rp.hi, fields)
  }
}

/** Emits only the pruned fields: an `id`-only projection never computes
  * `squared` (column pruning reaches the value generator itself). */
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
