package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Custom DataSourceV2 connector — the extension-surface rung the
  * catalog's scan inventory (parquet/CSV/JSON/ORC/JDBC, all
  * built-in) did not yet demonstrate: a from-scratch `TableProvider` +
  * `ScanBuilder` + partitioned `PartitionReader` with BOTH optimizer
  * contracts implemented:
  *
  *   - column pruning (`SupportsPushDownRequiredColumns`) — a
  *     projection of one column generates one column, visible as the
  *     scan's ReadSchema;
  *   - filter pushdown (`SupportsPushDownFilters`) — `id` range
  *     predicates narrow the GENERATED range itself (partitions whose
  *     slice falls outside produce zero rows and zero work), visible
  *     in the scan description and asserted in PlanGateSpec.
  *
  * The table is a deterministic generator: row i carries
  * `h = h60("gen_" + i)` (PortableHash — the engine's portable
  * randomness) and `bucket = h % 100`, so a DuckDB oracle re-derives
  * the ENTIRE table from `range()` + md5 with zero data movement:
  * correctness of a custom connector is hash-checked end to end
  * (q82). Options: `rows` (total), `parts` (planned input
  * partitions — the parallelism contract a 1000-executor scan needs).
  *
  * At 100 TB the pattern matters more than this table: pushdown
  * contracts at the connector boundary are what keep a selective
  * query from scanning the world; this is the minimal complete,
  * testable implementation of those contracts.
  */
class GraftGen extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftGen.schema
  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // A caller-supplied .schema(...) must be a subset of the generated
    // columns — otherwise analysis would succeed against the user's
    // schema while the reader later hits an unmatched column name.
    // Fail fast with the offending names instead.
    val known = GraftGen.schema.fieldNames.toSet
    val unknown = schema.fieldNames.filterNot(known.contains)
    require(unknown.isEmpty,
      s"graftgen: unsupported column(s) ${unknown.mkString(", ")}; " +
        s"available: ${GraftGen.schema.fieldNames.mkString(", ")}")
    new GraftGenTable(
      Option(properties.get("rows")).map(_.toLong).getOrElse(1000L),
      Option(properties.get("parts")).map(_.toInt).getOrElse(4))
  }
}

object GraftGen {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("h", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false)))
}

final class GraftGenTable(rows: Long, parts: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graftgen(rows=$rows)"
  override def schema(): StructType = GraftGen.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftGenScanBuilder(rows, parts)
}

final class GraftGenScanBuilder(rows: Long, parts: Int)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = GraftGen.schema
  private var lo: Long = 0L
  private var hi: Long = rows
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition {
      case GreaterThanOrEqual("id", _: Long) => true
      case GreaterThan("id", _: Long) => true
      case LessThan("id", _: Long) => true
      case LessThanOrEqual("id", _: Long) => true
      case _ => false
    }
    sup.foreach {
      case GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v)
      case GreaterThan("id", v: Long) => lo = math.max(lo, v + 1)
      case LessThan("id", v: Long) => hi = math.min(hi, v)
      case LessThanOrEqual("id", v: Long) => hi = math.min(hi, v + 1)
      case _ =>
    }
    pushed = sup
    // the range arithmetic is exact, so pushed filters need no
    // residual re-evaluation: only the unsupported ones remain
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GraftGenScan(lo, math.max(lo, hi), parts, required)
}

final case class GraftGenPartition(start: Long, end: Long)
    extends InputPartition

final class GraftGenScan(lo: Long, hi: Long, parts: Int,
    required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graftgen range [$lo, $hi) cols=${required.fieldNames.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] = {
    val n = hi - lo
    val per = math.max(1L, (n + parts - 1) / parts)
    (0 until parts).iterator
      .map(p => GraftGenPartition(
        math.min(lo + p * per, hi), math.min(lo + (p + 1) * per, hi)))
      .filter(p => p.end > p.start)
      .toArray[InputPartition]
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftGenReaderFactory(required.fieldNames)
}

final class GraftGenReaderFactory(cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftGenPartition]
    new PartitionReader[InternalRow] {
      private var cur = part.start - 1
      override def next(): Boolean = { cur += 1; cur < part.end }
      override def get(): InternalRow = {
        lazy val h = graft.functions.PortableHash.h60("gen_" + cur)
        InternalRow.fromSeq(cols.toIndexedSeq.map {
          case "id" => cur
          case "h" => h
          case "bucket" => (h % 100L).toInt
        })
      }
      override def close(): Unit = ()
    }
  }
}
