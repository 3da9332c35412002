package graft.catalog

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STOCK row-level DML (`MERGE INTO` / `UPDATE` / `DELETE` as SQL
  * statements) on the writable snapshot catalog, via the V2
  * [[SupportsRowLevelOperations]] contract — so the statements plan
  * through Spark's own `RewriteMergeIntoTable` / `RewriteUpdateTable` /
  * `RewriteDeleteFromTable` analyzer rules into a group-based
  * `ReplaceData`, with zero engine-side statement parsing of our own.
  * The reference provisions an interactive SQL surface over the shared
  * metastore (yc-data-proc-metadata-import metastore-import.tf:196,
  * README_en.md:3); a user typing `MERGE INTO` at that prompt lands
  * exactly here.
  *
  * Execution model — group-based COPY-ON-WRITE at TABLE granularity:
  * Spark reads the current generation through the operation's scan,
  * computes the full replacement row set itself (carry-over rows +
  * updated/merged rows — the ReplaceData contract), and hands it to the
  * operation's write, which lands it as a fresh [[Generation]]: staged
  * next to the current one, published by the catalog's atomic location
  * swap, aborted away on failure. So a mid-rewrite crash leaves the
  * table untouched, readers holding the old generation keep a
  * consistent file set, and a CONCURRENT row-level commit fails the
  * swap's OCC loudly instead of silently dropping the other writer's
  * rows.
  *
  * Metadata-column plumbing (the part the stock planner dictates): the
  * operation REQUIRES the `_gen` metadata column — the generation
  * directory that served each row, declared via
  * [[SupportsMetadataColumns]] and materialized by [[GenScan]] as a
  * per-scan constant. This is the same shape lakehouse connectors use
  * (`_file`/`_partition`): with a required metadata attribute, the
  * ReplaceData exec routes rows through its data/metadata projections
  * (`DataAndMetadataWritingSparkTask`), so the physical writer receives
  * rows projected to exactly the table's data schema, and a group-aware
  * connector could route carry-over rows back to their origin group.
  * `_gen` resolves only inside row-level rewrites; a direct
  * `SELECT _gen` takes the table's plain scan (full parquet pushdown,
  * no metadata serving) and is refused loudly.
  *
  * Scale note (100 TB): table-granular COW means each statement
  * rewrites the whole table — the honest cost of exact row-level DML on
  * an immutable-file format without per-file delete vectors. The
  * mitigations are the ones lakehouse formats use and this repo already
  * ships: partition-scoped targets (run the statement against the
  * partitions the predicate touches), or the composed broadcast-delta
  * plan of `meta_v2_merge` when the delta is a sliver. Group-based
  * ReplaceData additionally lets Spark runtime-filter the scan to
  * matched groups; with one group per table that filter is a no-op, by
  * construction, not by accident.
  */
private[catalog] object RowLevelCowTable {
  /** Name of the generation-provenance metadata column. */
  val GenCol = "_gen"
}

private[catalog] class RowLevelCowTable(protected val inner: Table,
    cat: WritableSnapshotCatalog, ti: TableInfo)
  extends ForwardingTable with SupportsRead with SupportsWrite
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  // the wrapper hides the inner FileTable from FallBackFileSourceV2
  // (the rule that used to route INSERT OVERWRITE through the V1
  // command), so TRUNCATE must be a first-class V2 capability here —
  // served below as a COW generation swap, strictly safer than the V1
  // delete-in-place it replaces
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.noneOf(classOf[TableCapability])
    caps.addAll(super.capabilities())
    caps.add(TableCapability.TRUNCATE)
    caps
  }

  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name: String = RowLevelCowTable.GenCol
      override def dataType: org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = true // NULL on inserted rows
      override def comment: String =
        "generation directory that served this row (row-level rewrites)"
    })

  // plain reads keep the STOCK parquet scan — full filter/column
  // pushdown; `_gen` is served only by the row-level operation's scan
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    innerScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write =
        if (doTruncate)
          CowWrites.swapWrite(cat, ti, inner.schema(), info)
        else innerWriteBuilder(info).build()
    }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new GroupCowRowLevelOperation(inner, cat, ti, info)
}

/** Shared COW write machinery: land rows in a fresh [[Generation]] via
  * Spark's own V2 parquet write, publish it at commit, abort it on
  * failure. Used by the row-level operations, the wrapper's TRUNCATE
  * (INSERT OVERWRITE) path and a branch attach's appends, which also
  * carry the current generation over. */
private[catalog] object CowWrites {
  def swapWrite(cat: WritableSnapshotCatalog, ti: TableInfo,
      schema: StructType, wInfo: LogicalWriteInfo,
      carryOver: Boolean = false): Write = {
    val gen = Generation.of(ti)
    val target = org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetTable(s"${ti.db}.${ti.name}_cow", SparkSession.active,
        CaseInsensitiveStringMap.empty(), Seq(gen.root), Some(schema),
        classOf[org.apache.spark.sql.execution.datasources
          .parquet.ParquetFileFormat])
    new SwapOnCommitWrite(cat, gen, target.newWriteBuilder(wInfo).build(),
      carryOver)
  }
}

/** Wraps the fresh-generation file write: commit additionally carries
  * the current generation over (appends) and publishes the generation;
  * abort removes it. */
private[catalog] class SwapOnCommitWrite(cat: WritableSnapshotCatalog,
    gen: Generation, d: Write, carryOver: Boolean) extends Write {
  override def description(): String =
    s"graft-cow-swap ${gen.ti.db}.${gen.ti.name} -> ${gen.root}"
  override def toBatch: BatchWrite = new BatchWrite {
    private val db = gen.stage(d.toBatch)
    override def createBatchWriterFactory(
        pInfo: PhysicalWriteInfo): DataWriterFactory =
      db.createBatchWriterFactory(pInfo)
    override def useCommitCoordinator(): Boolean =
      db.useCommitCoordinator()
    override def onDataWriterCommit(message: WriterCommitMessage): Unit =
      db.onDataWriterCommit(message)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      db.commit(messages) // files final in the generation, unpublished
      if (carryOver) gen.carryOver()
      gen.publish(cat)
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      db.abort(messages)
      gen.abort()
    }
  }
}

/** One `UPDATE`/`DELETE`/`MERGE` rewrite: scan the current generation
  * (serving `_gen`), write the replacement rows Spark computes into a
  * fresh generation, publish it at commit. */
private[catalog] class GroupCowRowLevelOperation(inner: Table,
    cat: WritableSnapshotCatalog, ti: TableInfo,
    info: RowLevelOperationInfo) extends RowLevelOperation {

  override def command(): RowLevelOperation.Command = info.command

  override def description(): String =
    s"graft-cow-${info.command} ${ti.db}.${ti.name}"

  // requiring `_gen` is what routes the exec through its row/metadata
  // projections — without a required metadata attribute the stock
  // ReplaceData exec hands the writer the UNPROJECTED query row
  // (operation marker included), which no plain file writer can take
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(RowLevelCowTable.GenCol))

  // the rewrite reads the SAME resolved generation the statement was
  // planned against (swap-time OCC catches a generation that moved
  // under us); the wrapper adds `_gen`, everything else — pushdown,
  // pruning — delegates to the stock parquet scan
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GenScanBuilder(
      inner.asInstanceOf[SupportsRead].newScanBuilder(options), ti.location)

  // the replacement rows land through Spark's own V2 parquet write
  // path into the fresh generation dir — distributed, committed via
  // the stock file commit protocol, never driver-materialized
  override def newWriteBuilder(wInfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        CowWrites.swapWrite(cat, ti, inner.schema(), wInfo)
    }
}

/** Scan builder serving the `_gen` metadata column next to the
  * delegate's data columns. Metadata attributes arrive through
  * `pruneColumns` appended after the data columns (how the analyzer
  * appends `metadataOutput`); they are stripped before delegating, so
  * the underlying parquet scan stays stock. Filter pushdown is
  * deliberately NOT forwarded here: this builder only serves row-level
  * rewrites, whose UPDATE/MERGE replacement query must read every
  * carry-over row of the group anyway — a pushed filter would save
  * nothing on the dominant path (DELETE pays one post-scan filter). */
private[catalog] class GenScanBuilder(protected val delegate: ScanBuilder,
    gen: String) extends ScanBuilder with ForwardsColumns {

  private var genRequested = false

  override def pruneColumns(requiredSchema: StructType): Unit = {
    genRequested =
      requiredSchema.fieldNames.contains(RowLevelCowTable.GenCol)
    if (genRequested)
      require(requiredSchema.fieldNames.last == RowLevelCowTable.GenCol,
        s"metadata column ${RowLevelCowTable.GenCol} must be requested " +
          s"last, got ${requiredSchema.fieldNames.mkString(", ")}")
    super.pruneColumns(StructType(requiredSchema.fields
      .filterNot(_.name == RowLevelCowTable.GenCol)))
  }

  override def build(): Scan = {
    val ds = delegate.build()
    if (genRequested) new GenScan(ds, gen) else ds
  }
}

/** Appends the constant `_gen` column to every row of the delegate
  * scan. Row-based reading (the vectorized path would need a fake
  * constant vector); acceptable because this scan serves only COW
  * rewrites, whose cost is the full-group rewrite itself. */
private[catalog] class GenScan(delegate: Scan, gen: String) extends Scan {
  override def readSchema(): StructType =
    delegate.readSchema().add(RowLevelCowTable.GenCol, StringType,
      nullable = true)
  override def description(): String =
    s"graft-gen-scan(${delegate.description()})"
  override def toBatch: Batch = new Batch {
    private val db = delegate.toBatch
    override def planInputPartitions(): Array[InputPartition] =
      db.planInputPartitions()
    override def createReaderFactory(): PartitionReaderFactory =
      new GenReaderFactory(db.createReaderFactory(), gen)
  }
}

private[catalog] class GenReaderFactory(delegate: PartitionReaderFactory,
    gen: String) extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = false
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val dr = delegate.createReader(p)
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      private val genRow = InternalRow(UTF8String.fromString(gen))
      override def next(): Boolean = dr.next()
      override def get(): InternalRow = joined(dr.get(), genRow)
      override def close(): Unit = dr.close()
    }
  }
}

// ---------------------------------------------------------------------------
// Partition-scoped row-level DML (group = partition) — the scale-correct
// granularity: a MERGE/UPDATE/DELETE whose delta touches K of N hive
// partitions rewrites K partitions' data and hard-links the other N-K
// file-for-file (same inodes, zero data movement), so the rewrite term
// tracks the TOUCHED partition volume, not the table. This is the shape
// every lakehouse format ships (Iceberg/Delta COW at file/partition
// granularity); here the group is the hive partition because the hive
// directory IS the catalog's partition object (the HMS model the
// reference migrates, yc-data-proc-metadata-import README_en.md:3).
// One table, [[PartitionScopedRowLevelTable]], serves it for identity
// layouts (`col=value`) and transform layouts (`col_bucket=k`) alike;
// a [[PartDeriver]] sequence is the only difference between them.
//
// Moving parts, all stock-planner driven:
//  - the operation requires the `_partition` metadata column (origin
//    group of each row), so ReplaceDataExec routes rows through its
//    data/metadata projections and the writer can verify carry-over rows
//    land back in their origin group;
//  - the rewrite scan implements SupportsRuntimeV2Filtering on the
//    partition COLUMN: Spark's own RowLevelOperationRuntimeGroupFiltering
//    plans a matching-groups subquery and feeds the touched partition
//    values back through Scan.filter — the scan then serves ONLY touched
//    partitions (file-level pruning on PartitionedFile.partitionValues),
//    which is exactly the set the write replaces;
//  - the write routes each row to a per-partition parquet file in a
//    fresh [[Generation]], whose commit carries every untouched
//    partition over by hard link and publishes it like the
//    table-granular path.
//
// Deliberate refusals (loud, atomic — the statement fails, nothing
// publishes): cross-partition moves (UPDATE/MERGE writing a row whose
// new partition value differs from its origin — per-partition
// replacement cannot express a move without rewriting the destination;
// lakehouse formats route this through merge-on-read deletes instead),
// and NULL partition values.
// ---------------------------------------------------------------------------
private[catalog] object PartitionScoped {
  /** Name of the origin-group metadata column. */
  val PartCol = "_partition"

  /** Hive directory name for one partition value — escaping matches
    * what the V1 partitioned writer lays out, so scope values, written
    * dirs, and linked dirs all agree byte-for-byte. */
  def dirName(col: String, value: Any): String = {
    require(value != null,
      s"NULL value in partition column $col — partition-scoped " +
        "row-level DML refuses the default partition; filter NULLs " +
        "before writing")
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(col, value.toString)
  }
}

/** How a row maps to its hive partition directory — the one seam that
  * lets the partition-scoped COW machinery serve BOTH identity layouts
  * (`col=value`, the HMS partition object) and TRANSFORM layouts
  * (`col_bucket=k` / `col_day=d` — hidden partitioning, where the
  * directory value DERIVES from a stored data column). The scan reads
  * and runtime-group-filters on the SOURCE column; the writer derives
  * each row's directory; the file pruner compares the file index's
  * partition values (typed [[derivedType]]) against derived scope
  * values. */
private[catalog] trait PartDeriver extends Serializable {
  def srcField: org.apache.spark.sql.types.StructField
  def derivedName: String
  def derivedType: org.apache.spark.sql.types.DataType
  /** source catalyst value -> derived catalyst partition value */
  def derive(v: Any): Any
  /** identity layouts drop the partition column from data files (the
    * directory carries it); transform layouts store the source. */
  final def srcStoredInFiles: Boolean = derivedName != srcField.name
  final def dirName(srcValue: Any): String = {
    require(srcValue != null,
      s"NULL value in partition source column ${srcField.name} — " +
        "partition-scoped row-level DML refuses the default partition")
    PartitionScoped.dirName(derivedName, derive(srcValue).toString)
  }
}

private[catalog] case class IdentityDeriver(
    srcField: org.apache.spark.sql.types.StructField) extends PartDeriver {
  override def derivedName: String = srcField.name
  override def derivedType: org.apache.spark.sql.types.DataType =
    srcField.dataType
  override def derive(v: Any): Any = v
}

/** Serves a partitioned parquet table with stock row-level DML at
  * PARTITION granularity, for identity layouts (one
  * [[IdentityDeriver]]; the construction site mixes in
  * [[ForwardsPartitions]]) and transform layouts (the transform's
  * deriver sequence) alike. Plain reads and writes forward to the
  * wrapped table untouched; reads additionally serve `_partition`. */
private[catalog] class PartitionScopedRowLevelTable(
    protected val inner: Table, cat: WritableSnapshotCatalog,
    ti: TableInfo, derivers: Seq[PartDeriver])
  extends ForwardingTable with SupportsRead with SupportsWrite
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name: String = PartitionScoped.PartCol
      override def dataType: org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = true // NULL on inserted rows
      override def comment: String =
        "hive partition directory that served this row (row-level rewrites)"
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    PartScanBuilder(innerScanBuilder(options), None, derivers)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    innerWriteBuilder(info)

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new PartitionCowOperation(inner, cat, ti, derivers, info)
}

/** One partition-scoped UPDATE/DELETE/MERGE rewrite. The operation
  * object is the rendezvous between its scan (which learns the touched
  * partition set from Spark's runtime group filter) and its write
  * (whose commit replaces exactly that set): commit runs strictly
  * after every scan task, so the handoff is race-free.
  *
  * A COMPOSITE transform sequence (`days(ts), bucket(N, id)`) scopes
  * at the (day, bucket) CELL: [[scopes]] holds one independent
  * component set per deriver, a leaf dir is replaced iff every SCOPED
  * component matches, and an unscoped component ranges over all its
  * values. The replaced set is therefore the cross product of the
  * scoped components restricted to dirs that exist — exactly the dirs
  * the runtime-group-filtered scan served, so served == replaced
  * holds composite-wide. */
private[catalog] class PartitionCowOperation(inner: Table,
    cat: WritableSnapshotCatalog, ti: TableInfo,
    derivers: Seq[PartDeriver],
    info: RowLevelOperationInfo) extends RowLevelOperation {

  private[catalog] val derivs: Seq[PartDeriver] = derivers

  /** Touched partition cells (RELATIVE dir paths, one `name=value`
    * component per deriver) per the runtime group filter; None = the
    * filter never fired → every cell was read and every cell is
    * replaced (correct, unscoped fallback). */
  @volatile private[catalog] var scopeDirs: Option[Set[String]] = None

  override def command(): RowLevelOperation.Command = info.command

  override def description(): String =
    s"graft-partition-cow-${info.command} ${ti.db}.${ti.name}"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(PartitionScoped.PartCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    PartScanBuilder(inner.asInstanceOf[SupportsRead].newScanBuilder(options),
      Some(this), derivers)

  override def newWriteBuilder(wInfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new PartitionRoutedCowWrite(cat, ti, PartitionCowOperation.this,
          derivers, inner.schema())
    }
}

/** Scan builder serving `_partition` next to the data columns when
  * requested; same pruning contract as [[GenScanBuilder]] (metadata
  * column last, stripped before delegating). The REGULAR path (`op` =
  * None — the table's own scan, which the runtime group filter's build
  * side reads `_partition` through, see [[PartScan.filterAttributes]])
  * also forwards filters and aggregates, so plain reads keep their
  * filters, partition pruning and metadata-only aggregates. The
  * rewrite path (`op` = the operation) has no static filter pushdown:
  * its ONLY pruning is the runtime group filter, so the served row set
  * always equals the replaced group set. */
private[catalog] class PartScanBuilder private (
    protected val delegate: ScanBuilder,
    op: Option[PartitionCowOperation], derivers: Seq[PartDeriver])
  extends ScanBuilder with ForwardsColumns {

  private var partRequested = false

  override def pruneColumns(requiredSchema: StructType): Unit = {
    partRequested =
      requiredSchema.fieldNames.contains(PartitionScoped.PartCol)
    // the delegate reads every partition SOURCE column next to the
    // requested ones — the reader derives _partition from them (a
    // composite DELETE condition needn't mention every source, so
    // missing ones are ADDED, not required). The scan's readSchema is
    // declared from the delegate's actual schema, and Spark matches
    // V2 output by name, so extra served columns are just pruned by
    // the plan above.
    val pruned = StructType(requiredSchema.fields
      .filterNot(_.name == PartitionScoped.PartCol))
    super.pruneColumns(
      if (!partRequested) pruned
      else StructType(pruned.fields ++ derivers.map(_.srcField)
        .filterNot(f => pruned.fieldNames.contains(f.name))))
  }

  override def build(): Scan = {
    val ds = delegate.build()
    if (partRequested) new PartScan(ds, op, derivers) else ds
  }
}

private[catalog] object PartScanBuilder {
  def apply(delegate: ScanBuilder, op: Option[PartitionCowOperation],
      derivers: Seq[PartDeriver]): ScanBuilder =
    if (op.isDefined) new PartScanBuilder(delegate, op, derivers)
    else new PartScanBuilder(delegate, op, derivers)
      with ForwardsFilters with ForwardsAggregates
}

/** The rewrite scan: appends the per-row `_partition` (hive dir name
  * derived from the STORED partition value — i.e. the origin group) and
  * implements runtime group filtering on the partition column: Spark's
  * RowLevelOperationRuntimeGroupFiltering hands the touched values to
  * [[filter]], and [[toBatch]] prunes the delegate's parquet file list
  * to exactly those hive partitions. */
private[catalog] class PartScan(delegate: Scan,
    op: Option[PartitionCowOperation],
    derivers: Seq[PartDeriver]) extends Scan
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def readSchema(): StructType =
    delegate.readSchema().add(PartitionScoped.PartCol, StringType,
      nullable = true)
  override def description(): String =
    s"graft-partition-scan(${delegate.description()})"

  /** The runtime group filter runs on the `_partition` METADATA
    * column itself (Iceberg's `_file` discipline): Spark's
    * RowLevelOperationRuntimeGroupFiltering builds ONE multi-column
    * `InSubquery` over all filter attributes, and
    * `translateRuntimeFilterV2` only translates the single-column
    * form — so filtering on the source columns of a COMPOSITE
    * transform would deliver nothing and silently force unscoped
    * full rewrites. One attribute whose value IS the cell keeps the
    * translation single-column, scopes exactly (a predicate on any
    * column — even a non-partition one — still scopes to the cells
    * holding matching rows), and needs no per-deriver predicate
    * algebra. */
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(PartitionScoped.PartCol))

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // the group filter arrives as IN (or = for one group) on the
    // metadata column; values are the composite cell paths the reader
    // emitted. Anything unrecognized leaves the scope at None —
    // unscoped full rewrite, never wrong results.
    def onPartCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Boolean = e match {
      case r: NamedReference =>
        r.fieldNames.length == 1 &&
          r.fieldNames()(0).equalsIgnoreCase(PartitionScoped.PartCol)
      case _ => false
    }
    val sets = predicates.toSeq.flatMap { p =>
      val kids = p.children()
      p.name() match {
        case "IN" if kids.nonEmpty && onPartCol(kids.head) &&
            kids.tail.forall(_.isInstanceOf[V2Literal[_]]) =>
          // a NULL literal names no cell (cell paths are never null)
          Some(kids.tail.flatMap(k =>
            Option(k.asInstanceOf[V2Literal[_]].value).map(_.toString))
            .toSet)
        case "=" if kids.length == 2 && onPartCol(kids.head) &&
            kids(1).isInstanceOf[V2Literal[_]] =>
          Some(Option(kids(1).asInstanceOf[V2Literal[_]].value)
            .map(_.toString).toSet)
        case _ => None
      }
    }
    // a regular serving scan (op=None — e.g. the group filter's own
    // build side) records no scope
    if (sets.nonEmpty)
      op.foreach(_.scopeDirs = Some(sets.reduce(_ intersect _)))
  }

  override def toBatch: Batch = new Batch {
    private val db = delegate.toBatch
    override def planInputPartitions(): Array[InputPartition] = {
      val parts = db.planInputPartitions()
      op.flatMap(_.scopeDirs) match {
        case None => parts
        case Some(cells) =>
          import org.apache.spark.sql.execution.datasources.FilePartition
          // the cell is read off the FILE PATH (last N dir
          // components), NOT off PartitionedFile.partitionValues:
          // transform tables HIDE the derived column, so it is never
          // in the pruned schema and partitionValues arrives EMPTY —
          // relying on it silently plans zero files (a partial-cell
          // DELETE would then drop every surviving row of the cell).
          // Both the path components and the scope strings render
          // through the same hive escaping, so the comparison is
          // byte-exact.
          def cellOf(path: String): String = {
            val comps = path.split('/')
            require(comps.length > derivers.length,
              s"data file $path too shallow for ${derivers.length} " +
                "partition levels")
            val cell = comps.slice(comps.length - 1 - derivers.length,
              comps.length - 1)
            require(cell.forall(_.contains("=")),
              s"data file $path not under ${derivers.length} " +
                "hive partition dirs")
            cell.mkString("/")
          }
          parts.flatMap {
            case fp: FilePartition =>
              val fs = fp.files.filter(f =>
                cells.contains(cellOf(f.filePath.toString)))
              if (fs.isEmpty) None else Some(fs)
            case other => throw new IllegalStateException(
              "partition-scoped rewrite expected a parquet FilePartition" +
                s", got ${other.getClass.getName}")
          }.zipWithIndex.map { case (fs, i) => FilePartition(i, fs) }
      }
    }
    override def createReaderFactory(): PartitionReaderFactory = {
      val ords = derivers.map(d =>
        delegate.readSchema().fieldIndex(d.srcField.name)).toArray
      new PartReaderFactory(db.createReaderFactory(), ords,
        derivers.toArray)
    }
  }
}

private[catalog] class PartReaderFactory(delegate: PartitionReaderFactory,
    partOrdinals: Array[Int], derivers: Array[PartDeriver])
  extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = false
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val dr = delegate.createReader(p)
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      override def next(): Boolean = dr.next()
      override def get(): InternalRow = {
        val row = dr.get()
        // composite cell path: one component per deriver, nested in
        // sequence order ("ts_day=2021-03-05/id_bucket=3")
        val dir = derivers.indices.map { i =>
          derivers(i).dirName(
            row.get(partOrdinals(i), derivers(i).srcField.dataType))
        }.mkString("/")
        joined(row, InternalRow(UTF8String.fromString(dir)))
      }
      override def close(): Unit = dr.close()
    }
  }
}

/** The partition-routing COW write. Tasks write rows straight into
  * `<generation>/<col>=<val>/part-...` (no Hadoop committer — task
  * commits are arbitrated by Spark's commit coordinator, task aborts
  * delete their own files, and the driver commit sweeps any
  * unauthorized stray). Commit carries every untouched partition over
  * from the current generation and publishes the [[Generation]]. */
private[catalog] class PartitionRoutedCowWrite(cat: WritableSnapshotCatalog,
    ti: TableInfo, op: PartitionCowOperation,
    derivers: Seq[PartDeriver],
    tableSchema: StructType) extends Write {

  private val gen = Generation.of(ti)

  override def description(): String =
    s"graft-partition-cow-swap ${ti.db}.${ti.name} -> ${gen.root}"

  override def toBatch: BatchWrite = {
    val spark = SparkSession.active
    // identity layouts omit the partition column from data files (the
    // directory carries it); transform layouts store the source column
    val identityCols = derivers.filterNot(_.srcStoredInFiles)
      .map(_.srcField.name).toSet
    val fileSchema = StructType(
      tableSchema.fields.filterNot(f => identityCols.contains(f.name)))
    val job = org.apache.hadoop.mapreduce.Job
      .getInstance(spark.sessionState.newHadoopConf())
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, fileSchema)
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      job.getConfiguration)
    gen.create()

    new BatchWrite {
      override def createBatchWriterFactory(
          pInfo: PhysicalWriteInfo): DataWriterFactory =
        new PartitionRoutedWriterFactory(gen.root, tableSchema,
          derivers.map(d =>
            tableSchema.fieldIndex(d.srcField.name)).toArray,
          fileSchema, factory, serConf, derivers.toArray)

      // exactly one attempt per task may commit — with direct-to-final
      // file writes this is what makes speculative duplicates safe
      override def useCommitCoordinator(): Boolean = true

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        gen.sweep(messages)
        // the replaced cells are what the scan served; with no runtime
        // group filter it served (and replaces) every cell. Untouched
        // cells carry over with their merge-on-read sidecars (hidden
        // rows must not resurrect); replaced ones were rewritten from
        // the MERGED read, so their fresh files carry none. An
        // insert-only destination (new rows in a cell the scan never
        // read) keeps its old files AND the new ones.
        op.scopeDirs.foreach(cells => gen.carryOver(except = cells))
        gen.publish(cat)
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit =
        gen.abort()
    }
  }
}

private[catalog] class PartitionRoutedWriterFactory(newRoot: String,
    schema: StructType, partOrdinals: Array[Int], fileSchema: StructType,
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    derivers: Array[PartDeriver])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new PartitionRoutedDataWriter(newRoot, schema, partOrdinals,
      fileSchema, owf, conf.value, partitionId, taskId, derivers)
}

private[catalog] class PartitionRoutedDataWriter(newRoot: String,
    schema: StructType, partOrdinals: Array[Int], fileSchema: StructType,
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.hadoop.conf.Configuration,
    partitionId: Int, taskId: Long, derivers: Array[PartDeriver])
  extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}

  // identity: rows land WITHOUT the partition column (the directory
  // carries it); transform: the source column is ordinary data and
  // stays in the file — the derived value lives only in the dir name
  private val droppedOrds = derivers.indices
    .filterNot(i => derivers(i).srcStoredInFiles)
    .map(partOrdinals(_)).toSet
  private val proj = org.apache.spark.sql.catalyst.expressions
    .UnsafeProjection.create(
      schema.fields.indices
        .filterNot(droppedOrds.contains)
        .map(i =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            i, schema(i).dataType, schema(i).nullable)))
  private val attempt = new org.apache.hadoop.mapreduce.task
    .TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graftcow", 0),
        TaskType.MAP, partitionId), taskId.toInt))
  private val writers = scala.collection.mutable.LinkedHashMap.empty[
    String, (org.apache.spark.sql.execution.datasources.OutputWriter,
      java.io.File)]

  // (partitionId, taskId) repeat across Spark applications; the nonce
  // keeps fresh names from colliding with a prior generation's files
  // on the insert-only-destination link path
  private val uniq = java.util.UUID.randomUUID.toString.take(8)

  private def route(dir: String)
      : org.apache.spark.sql.execution.datasources.OutputWriter =
    writers.getOrElseUpdate(dir, {
      val d = new java.io.File(newRoot, dir)
      d.mkdirs()
      val f = new java.io.File(d,
        f"part-$partitionId%05d-$taskId-$uniq" +
          owf.getFileExtension(attempt))
      (owf.newInstance(f.getPath, fileSchema, attempt), f)
    })._1

  private def currentDir(row: InternalRow): String =
    derivers.indices.map(i =>
      derivers(i).dirName(row.get(partOrdinals(i),
        derivers(i).srcField.dataType))).mkString("/")

  // ReplaceDataExec's DataAndMetadataWritingSparkTask path: metadata =
  // the required `_partition` (origin group; NULL on inserted rows)
  override def write(meta: InternalRow, row: InternalRow): Unit = {
    val cur = currentDir(row)
    if (meta != null && !meta.isNullAt(0)) {
      val origin = meta.getUTF8String(0).toString
      if (origin != cur)
        throw new UnsupportedOperationException(
          s"partition-scoped row-level DML cannot move a row between " +
            s"partitions ($origin -> $cur): per-partition replacement " +
            "cannot express the move without rewriting the destination." +
            " Rewrite the statement as DELETE + INSERT, or repartition " +
            "the table. The statement aborts atomically — nothing was " +
            "published.")
    }
    route(cur).write(proj(row))
  }

  override def write(row: InternalRow): Unit =
    route(currentDir(row)).write(proj(row))

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_._1.close())
    TaskFiles(writers.toSeq.map { case (dir, (_, f)) =>
      s"$dir/${f.getName}" })
  }

  override def abort(): Unit = {
    writers.values.foreach { case (w, f) =>
      try w.close() catch { case _: Throwable => () }
      f.delete(): Unit
    }
  }

  override def close(): Unit = ()
}

/** CHANGE DATA FEED between two generations of a PARTITION-SCOPED
  * copy-on-write table — the partitioned counterpart of
  * [[MorChangeFeed]], deriving CDC from the artifacts the DML already
  * leaves behind instead of new writer machinery: every statement
  * publishes a fresh generation whose UNTOUCHED partitions are
  * hard-linked file-for-file, so per-file inode identity is a PROOF a
  * partition's bytes did not change. The feed therefore
  *  1. diffs the two generations' partition dirs driver-side (names +
  *     inodes — KiB of metadata, the catalog's usual cost class), and
  *  2. key-joins ONLY the touched partitions' rows at A vs at B,
  * emitting the NET range diff (delete / insert / update_preimage +
  * update_postimage); untouched partitions contribute zero I/O and
  * zero join rows. At 100 TB a CDC consumer of a partitioned fact
  * table pays touched-partition cost per window, never a table scan —
  * and the partition-scoped writer refuses cross-partition moves, so
  * a row's identity never silently leaves the compared set.
  * Inode equality is conservative by construction: a copied (not
  * linked) identical file reads as "touched" and merely costs the
  * join; correctness never depends on the linker having run. */
private[graft] object PartitionCowChangeFeed {

  final case class PartDiff(touched: Seq[String], untouched: Seq[String])

  private def partDirs(root: String): Map[String, java.io.File] =
    Option(new java.io.File(Generation.path(root)).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.contains("="))
      .map(d => d.getName -> d).toMap

  /** name -> inode for a partition dir's data files; inode identity
    * across generations == the hard-link carry-over's byte identity. */
  private def fileIds(d: java.io.File): Map[String, Long] =
    Generation.dataFiles(d)
      .map(f => f.getName -> java.nio.file.Files
        .getAttribute(f.toPath, "unix:ino").asInstanceOf[Long]).toMap

  /** Partition dirs that MAY differ between generations (everything
    * not proven identical by name+inode equality). */
  def diff(locA: String, locB: String): PartDiff = {
    val a = partDirs(locA)
    val b = partDirs(locB)
    val (untouched, touched) = (a.keySet ++ b.keySet).toSeq.sorted
      .partition { p =>
        (a.get(p), b.get(p)) match {
          case (Some(da), Some(db)) =>
            val ia = fileIds(da)
            ia.nonEmpty && ia == fileIds(db)
          case _ => false
        }
      }
    PartDiff(touched, untouched)
  }

  /** NET row diff A -> B over the touched partitions only. `keyName`
    * is the row identity (unique per row, partition-stable — the
    * partition-scoped writer enforces the latter). Output: `op`
    * (delete / insert / update_preimage / update_postimage) + the
    * table's columns; a key present and byte-equal on both sides
    * emits nothing. */
  def between(s: SparkSession, locA: String, locB: String,
      keyName: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val d = diff(locA, locB)
    def read(loc: String, parts: Seq[String])
        : Option[org.apache.spark.sql.DataFrame] = {
      val dirs = parts.map(p => new java.io.File(Generation.path(loc), p))
        .filter(_.isDirectory)
      if (dirs.isEmpty) None
      else Some(s.read.option("basePath", Generation.path(loc))
        .parquet(dirs.map(_.getPath): _*))
    }
    // schema template (op + table columns) from generation B's layout
    val template = s.read.parquet(Generation.path(locB))
    val cols = template.columns.toSeq
    val empty = template.limit(0)
      .select(lit("").as("op") +: cols.map(col): _*).limit(0)
    if (d.touched.isEmpty) return empty
    val a = read(locA, d.touched).getOrElse(template.limit(0))
    val b = read(locB, d.touched).getOrElse(template.limit(0))
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"generation schemas diverge: ${a.columns.mkString(",")} vs " +
        s"${b.columns.mkString(",")}")
    // the row-identity contract demands a NON-NULL key: under the
    // plain equi-join below a NULL-keyed row byte-identical in both
    // generations would never match itself and surface as a spurious
    // delete+insert pair. Enforce lazily (no extra job): any NULL key
    // fails the scan loudly instead of corrupting the feed.
    def keyOrFail = coalesce(col(keyName).cast("string"),
      raise_error(lit(s"change feed key column '$keyName' is NULL — " +
        "the row-identity contract requires a non-null, unique key")))
    val aK = a.select(cols.map(col): _*)
      .withColumn("_k", keyOrFail)
      .withColumn("_pa", lit(true))
    val bK = b.select(cols.map(col): _*)
      .withColumn("_k", keyOrFail)
      .withColumn("_pb", lit(true))
    val j = aK.as("a").join(bK.as("b"), Seq("_k"), "full_outer")
    val rowEq = cols.map(c => col(s"a.$c") <=> col(s"b.$c"))
      .reduce(_ && _)
    def side(tag: String, p: String) =
      (df: org.apache.spark.sql.DataFrame) =>
        df.select(lit(tag).as("op") +: cols.map(c => col(s"$p.$c")): _*)
    val del = side("delete", "a")(j.filter(col("b._pb").isNull))
    val ins = side("insert", "b")(j.filter(col("a._pa").isNull))
    val changed = j.filter(col("a._pa").isNotNull &&
      col("b._pb").isNotNull && !rowEq)
    del.unionByName(ins)
      .unionByName(side("update_preimage", "a")(changed))
      .unionByName(side("update_postimage", "b")(changed))
  }
}
