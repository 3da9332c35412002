package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{CatalogTransfer, KeyCatalog, MorChangeFeed, SnapshotCatalog}

/** DSv2 STREAMING SOURCE for the catalog's change feed — the
  * production composition the `foreachBatch` pager
  * ([[graft.catalog.ChangeFeedStream]]) cannot offer:
  *
  * {{{
  * spark.readStream.format("graft-changefeed")
  *   .option("snapshot", catalogDir).option("db", "corp")
  *   .option("table", "orders").option("key", "o_orderkey")
  *   .option("startRevision", "4")          // base state, exclusive
  *   .option("maxRevisionsPerTrigger", "1") // admission control
  *   .load()                                 // op, <cols...>, _rev
  * }}}
  *
  * so stock streaming operators and sinks compose with the catalog's
  * feed — no hand-written consumer loop.
  *
  * OFFSET = CATALOG REVISION ID. A batch (a, b] delivers the row-level
  * CDC diff of every revision a+1..b, each computed by
  * [[MorChangeFeed.between]] (commit-time CDC files + fresh data
  * files — O(delta), never a table scan) and tagged `_rev`.
  *
  * REPLAY DETERMINISM BY STAGING: `planInputPartitions(a, b)` runs one
  * delta-bounded Spark job that materializes the range's feed under
  * `<snapshot>/_cfstage/<db>.<table>/a-b` (idempotent — a complete
  * stage is reused, a partial one is overwritten), then serves the
  * staged parquet through Spark's own V2 parquet scan. Staging is not
  * a convenience: an exactly-once sink may REPLAY batch (a, b] after
  * the catalog's generations advanced past vacuum — recomputing the
  * feed then would be impossible, while the staged batch replays
  * byte-identical. `commit(end)` sweeps stages wholly at-or-before
  * the committed revision (never replayed again).
  *
  * Admission control: `maxRevisionsPerTrigger` bounds every trigger to
  * that many revisions ([[SupportsAdmissionControl]]), so a consumer
  * restarting behind a long revision log catches up in bounded
  * batches instead of one giant one. */
class ChangeFeedSourceProvider extends TableProvider
  with DataSourceRegister {

  override def shortName(): String = "graft-changefeed"

  private def required(options: CaseInsensitiveStringMap,
      key: String): String = {
    val v = options.get(key)
    require(v != null && v.nonEmpty,
      s"graft-changefeed requires option '$key'")
    v
  }

  override def inferSchema(options: CaseInsensitiveStringMap)
      : StructType =
    ChangeFeedSourceProvider.feedSchema(
      required(options, "snapshot"), required(options, "db"),
      required(options, "table"))

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ChangeFeedTable(required(opts, "snapshot"),
      required(opts, "db"), required(opts, "table"),
      required(opts, "key"),
      Option(opts.get("startRevision")).map(_.toInt),
      Option(opts.get("maxRevisionsPerTrigger")).map(_.toInt),
      schema)
  }
}

private[graft] object ChangeFeedSourceProvider {
  /** op + the table's columns + the revision tag. */
  def feedSchema(snapDir: String, db: String, table: String)
      : StructType = {
    val ti = CatalogTransfer.readLocal(
        s"${snapDir.stripSuffix("/")}/revs/${headRev(snapDir)}")
      .tables.find(t => t.db == db && t.name == table)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-changefeed: no table $db.$table in $snapDir"))
    val cols = ti.columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name,
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(c.dataType), c.nullable))
    StructType(
      org.apache.spark.sql.types.StructField("op", StringType,
        nullable = false) +: cols :+
        org.apache.spark.sql.types.StructField("_rev", IntegerType,
          nullable = false))
  }

  def headRev(snapDir: String): Int =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(snapDir.stripSuffix("/"), "HEAD").toPath))
      .trim.split("\\s+")(0).toInt
}

private[graft] class ChangeFeedTable(snapDir: String, db: String,
    table: String, key: String, startRev: Option[Int],
    maxRevs: Option[Int], schema0: StructType)
  extends Table with SupportsRead {

  override def name(): String = s"graft-changefeed($db.$table)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => new Scan {
    override def readSchema(): StructType = schema0
    override def toMicroBatchStream(checkpointLocation: String)
        : MicroBatchStream =
      new ChangeFeedMicroBatchStream(snapDir.stripSuffix("/"), db,
        table, key, startRev, maxRevs, schema0)
  }
}

private[graft] case class RevOffset(rev: Int) extends Offset {
  override def json(): String = rev.toString
}

private[graft] class ChangeFeedMicroBatchStream(snapDir: String,
    db: String, table: String, key: String, startRev: Option[Int],
    maxRevs: Option[Int], schema: StructType)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: the head revision is pinned ONCE at query
  // start; admission control then pages toward it in bounded batches
  // (without this, Spark's fallback wrapper would capture the FIRST
  // admission-clamped offset as the final target and stop early)
  @volatile private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(headRev)

  private def spark = SparkSession.active
  private def headRev: Int = ChangeFeedSourceProvider.headRev(snapDir)

  private def tiAt(rev: Int): graft.catalog.TableInfo =
    CatalogTransfer.readLocal(s"$snapDir/revs/$rev").tables
      .find(t => t.db == db && t.name == table)
      .getOrElse(throw new IllegalStateException(
        s"$db.$table absent from revision $rev of $snapDir"))

  /** Table state AS OF a revision through a read-only attach (the
    * pre-CDC fallback [[MorChangeFeed.between]] may need, and the
    * schema template). */
  private def stateAt(rev: Int): org.apache.spark.sql.DataFrame = {
    val cat = "gcfsrc_" + Integer.toHexString(snapDir.hashCode)
    KeyCatalog.attach(spark, cat, classOf[SnapshotCatalog], snapDir)
    spark.sql(s"SELECT * FROM $cat.$db.$table VERSION AS OF '$rev'")
  }

  private def stageRoot = new java.io.File(
    s"$snapDir/_cfstage/$db.$table")

  private def stageDir(a: Int, b: Int) =
    new java.io.File(stageRoot, s"$a-$b")

  /** Materialize the feed of (a, b] if not already staged. */
  private def ensureStaged(a: Int, b: Int): java.io.File = {
    val dir = stageDir(a, b)
    if (new java.io.File(dir, "_SUCCESS").isFile) return dir
    import org.apache.spark.sql.functions._
    val feed = (a + 1 to b).map { r =>
      MorChangeFeed.between(spark, stateAt(r - 1), tiAt(r - 1).location,
          tiAt(r).location, key)
        .withColumn("_rev", lit(r))
    }.reduce(_ unionByName _)
    // exact declared column order; overwrite clears a partial stage
    feed.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .write.mode("overwrite").parquet(dir.getPath)
    dir
  }

  // admission control: a trigger never admits more than
  // maxRevisionsPerTrigger revisions past the start offset
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s0 = start.asInstanceOf[RevOffset].rev
    val head = availableNowTarget.getOrElse(headRev)
    RevOffset(maxRevs.map(m => math.min(head, s0 + m)).getOrElse(head))
  }

  override def reportLatestOffset(): Offset = RevOffset(headRev)

  override def initialOffset(): Offset =
    RevOffset(startRev.getOrElse(headRev))

  override def deserializeOffset(json: String): Offset =
    RevOffset(json.trim.toInt)

  // the staged batch serves through Spark's own V2 parquet scan; the
  // scan object is per-batch state (planInputPartitions then
  // createReaderFactory run on the same batch)
  @volatile private var currentBatch
      : Option[org.apache.spark.sql.connector.read.Batch] = None

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[RevOffset].rev,
      end.asInstanceOf[RevOffset].rev)
    if (a >= b) { currentBatch = None; return Array.empty }
    val dir = ensureStaged(a, b)
    val pt = org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetTable(s"graft-cfstage($db.$table)", spark,
        CaseInsensitiveStringMap.empty(), Seq(dir.getPath),
        Some(schema),
        classOf[org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat])
    val batch = pt.newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().toBatch
    currentBatch = Some(batch)
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    currentBatch.getOrElse(throw new IllegalStateException(
      "createReaderFactory before planInputPartitions"))
      .createReaderFactory()

  /** A committed batch is never replayed: sweep stages wholly at or
    * before the committed revision. */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[RevOffset].rev
    Option(stageRoot.listFiles()).toSeq.flatten
      .filter { d =>
        d.getName.split("-") match {
          case Array(_, hi) => hi.toIntOption.exists(_ <= e)
          case _ => false
        }
      }
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly(_): Unit)
  }

  override def stop(): Unit = ()
}
