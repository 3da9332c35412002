package graft.catalog

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsPartitionManagement, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.catalog.constraints.Constraint
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one forwarding layer of the snapshot catalog's serving
  * wrappers: every decorator around a served table extends it and
  * overrides only what it changes. `columns()` is deliberately NOT
  * forwarded: Spark's default derives the columns from `schema()`,
  * DEFAULT metadata included, so a wrapper that changes its schema
  * (hidden derived columns, a re-asserted NOT NULL) serves matching
  * columns with their defaults intact. */
private[catalog] trait ForwardingTable extends Table {
  protected def inner: Table

  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()
  override def capabilities(): util.Set[TableCapability] =
    inner.capabilities()
  override def constraints(): Array[Constraint] = inner.constraints()

  protected def innerScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    inner.asInstanceOf[SupportsRead].newScanBuilder(options)
  protected def innerWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.asInstanceOf[SupportsWrite].newWriteBuilder(info)
  protected def innerMetadataColumns: Array[MetadataColumn] = inner match {
    case m: SupportsMetadataColumns => m.metadataColumns()
    case _ => Array.empty
  }
}

/** Forwards the partition-management surface to the wrapped table. A
  * serving wrapper around a partitioned table mixes it in where it is
  * built: without it the wrapper would silently strip
  * `SupportsPartitionManagement` from the served table and break SHOW
  * PARTITIONS and partition ops. */
private[catalog] trait ForwardsPartitions
    extends ForwardingTable with SupportsPartitionManagement {
  private def partitions = inner.asInstanceOf[SupportsPartitionManagement]
  override def partitionSchema(): StructType = partitions.partitionSchema()
  override def createPartition(ident: InternalRow,
      properties: util.Map[String, String]): Unit =
    partitions.createPartition(ident, properties)
  override def dropPartition(ident: InternalRow): Boolean =
    partitions.dropPartition(ident)
  override def replacePartitionMetadata(ident: InternalRow,
      properties: util.Map[String, String]): Unit =
    partitions.replacePartitionMetadata(ident, properties)
  override def loadPartitionMetadata(ident: InternalRow)
      : util.Map[String, String] = partitions.loadPartitionMetadata(ident)
  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] =
    partitions.listPartitionIdentifiers(names, ident)
  override def partitionExists(ident: InternalRow): Boolean =
    partitions.partitionExists(ident)
}

// Scan-builder forwarding, one mix-in per pushdown interface. A
// builder mixes in exactly the interfaces it serves: declaring one is
// what makes Spark push that kind of work into the scan, so a builder
// that must see every row (a row-level rewrite's scan) leaves the
// filter mix-in out. Overrides call `super` to reach the delegate.

/** Forwards column pruning to `delegate`. */
private[catalog] trait ForwardsColumns
    extends SupportsPushDownRequiredColumns {
  protected def delegate: ScanBuilder
  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(requiredSchema)
      case _ => ()
    }
}

/** Forwards catalyst filter pushdown to `delegate`. */
private[catalog] trait ForwardsFilters
    extends SupportsPushDownCatalystFilters {
  protected def delegate: ScanBuilder
  override def pushFilters(fs: Seq[Expression]): Seq[Expression] =
    delegate match {
      case f: SupportsPushDownCatalystFilters => f.pushFilters(fs)
      case _ => fs
    }
  override def pushedFilters: Array[Predicate] = delegate match {
    case f: SupportsPushDownCatalystFilters => f.pushedFilters
    case _ => Array.empty
  }
}

/** Forwards aggregate pushdown (COUNT/MIN/MAX from footers) to
  * `delegate`. */
private[catalog] trait ForwardsAggregates
    extends SupportsPushDownAggregates {
  protected def delegate: ScanBuilder
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    delegate match {
      case a: SupportsPushDownAggregates => a.supportCompletePushDown(agg)
      case _ => false
    }
  override def pushAggregation(agg: Aggregation): Boolean = delegate match {
    case a: SupportsPushDownAggregates => a.pushAggregation(agg)
    case _ => false
  }
}
