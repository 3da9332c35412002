package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey,
  InputPartition, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{
  KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.execution.datasources.{FilePartition,
  PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STORAGE-PARTITIONED JOIN (SPJ) serving layer for partitioned V2
  * catalog tables — the shuffle-elimination feature of a shared
  * catalog at 100 TB: when two tables are laid out on the same
  * partition key, their join needs NO exchange at all. Each hive-style
  * partition directory becomes ONE keyed input split
  * ([[HasPartitionKey]]), the scan reports
  * [[KeyGroupedPartitioning]] over the identity transform of the
  * partition columns, and Spark's stock planner (`EnsureRequirements`
  * + `BatchScanExec`) aligns the two sides split-by-split — the same
  * mechanism lakehouse table formats use for their bucketed joins.
  *
  * Strictly OPT-IN: everything here engages only while
  * `spark.sql.graft.spj.enabled` is true (the stock
  * `spark.sql.sources.v2.bucketing.enabled` flag defaults to true on
  * Spark 4, so it cannot serve as the opt-in by itself — see
  * [[CoPartitioned.spjEnabled]]). With the flag off, the builder
  * returns the UNWRAPPED stock
  * file scan — bin-packed splits, full catalyst filter pushdown,
  * byte-identical to the non-SPJ serving path — so no existing plan
  * (or pruning assert) changes. The wrapped path trades two things for
  * the reported partitioning, both inherent to SPJ and shared with the
  * table-format implementations: read parallelism is one task per
  * partition value (not per bin-packed split), and catalyst filter
  * pushdown is not forwarded through the wrapping builder (column
  * pruning IS forwarded — the public half of the pushdown surface).
  *
  * Internal-API note (SURVEY §7 deviation list): [[FilePartition]] /
  * [[PartitionedFile]] are open-source Spark internals, pinned to
  * Spark 4.1 like the `*Table` constructors in
  * [[SnapshotCatalog.serveTable]]; a moved constructor breaks
  * compilation loudly, never results.
  */
private[catalog] object CoPartitioned {

  /** The serving wrapper engages only on the EXPLICIT graft flag — the
    * stock `spark.sql.sources.v2.bucketing.enabled` defaults to true
    * on Spark 4, so gating on it alone would silently reroute every
    * partitioned V2 read through the SPJ trade-offs. The stock flag
    * still governs whether Spark exploits the reported partitioning;
    * it must not be explicitly false. */
  def spjEnabled: Boolean = {
    val c = SparkSession.active.conf
    c.getOption("spark.sql.graft.spj.enabled").exists(_.toBoolean) &&
      c.getOption("spark.sql.sources.v2.bucketing.enabled")
        .forall(_.toBoolean)
  }

  /** One input split per partition VALUE: all of the stock scan's file
    * splits for that value, re-packed and keyed. */
  private final class KeyedFilePartition(index: Int,
      files: Array[PartitionedFile], key: InternalRow)
    extends FilePartition(index, files) with HasPartitionKey {
    override def partitionKey(): InternalRow = key
  }

  /** Wraps the stock file scan to report key-grouped partitioning. */
  private final class SpjScan(base: Scan, partSchema: StructType)
      extends Scan with SupportsReportPartitioning {
    private lazy val baseBatch: Batch = base.toBatch

    private lazy val grouped: Array[InputPartition] = {
      val types = partSchema.fields.map(_.dataType)
      val files = baseBatch.planInputPartitions().flatMap {
        case f: FilePartition => f.files
        case other => throw new IllegalStateException(
          s"SPJ wrapper expects file splits, got ${other.getClass}")
      }
      files
        .groupBy(f => types.indices
          .map(i => f.partitionValues.get(i, types(i))))
        .toSeq
        .sortBy(_._1.mkString("\u0000")) // deterministic split order
        .zipWithIndex
        .map { case ((_, fs), i) =>
          new KeyedFilePartition(i, fs.toArray,
            fs.head.partitionValues.copy())
        }
        .toArray[InputPartition]
    }

    override def readSchema(): StructType = base.readSchema()

    override def description(): String =
      s"SPJ(${base.description()})"

    override def outputPartitioning(): Partitioning =
      new KeyGroupedPartitioning(
        partSchema.fieldNames.map(n => Expressions.identity(n))
          .toArray[org.apache.spark.sql.connector.expressions.Expression],
        grouped.length)

    override def toBatch: Batch = new Batch {
      override def planInputPartitions(): Array[InputPartition] = grouped
      override def createReaderFactory(): PartitionReaderFactory =
        baseBatch.createReaderFactory()
    }
  }

  /** Builder shim: column pruning forwards (public interface); the
    * built scan is wrapped only while the SPJ flag is on. */
  final class SpjScanBuilder(protected val delegate: ScanBuilder,
      partSchema: StructType) extends ScanBuilder with ForwardsColumns {

    override def build(): Scan = {
      val built = delegate.build()
      if (spjEnabled) new SpjScan(built, partSchema) else built
    }
  }

  /** Read-side table wrapper for the read-only attach: declares the
    * identity partitioning and routes scans through [[SpjScanBuilder]].
    * Constructed only while the SPJ flag is on (see
    * [[SnapshotCatalog.loadTable]]) — with the flag off the read-only
    * catalog serves the stock file table, byte-identical to before. */
  final class CoPartitionedReadTable(protected val inner: Table,
      partCols: Seq[String]) extends ForwardingTable with SupportsRead {

    override def partitioning(): Array[Transform] =
      partCols.map(c => Expressions.identity(c)).toArray

    override def capabilities(): java.util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava

    private def partSchema: StructType = StructType(partCols.map(c =>
      schema().fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(
          s"partition column $c missing from ${name()} schema"))))

    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new SpjScanBuilder(innerScanBuilder(options), partSchema)
  }
}
