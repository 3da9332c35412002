package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central loader for the driver-generated fixture tables.
  *
  * Every query in the engine goes through here so that the one genuinely
  * table-specific normalization — `events.ts`, stored as timestamp[us]
  * and read as TIMESTAMP_NTZ — happens in exactly one place. Reference
  * basis: the reference system stores table data as files in object
  * storage (yc-data-proc-metadata-import `metastore-import.tf:165-179`);
  * paths are parameterized so s3a://bucket/... is a config change, not a
  * code change.
  *
  * Schema rule: a load hands the reader the schema [[schema]] reads from
  * the fixture file's parquet footer on the driver. A bare
  * `spark.read.parquet` infers it instead, and in Spark 4.1 inference is
  * one Spark job per load in every fresh session, even for a single
  * file: 9 of them per `analytics` pass. The reference keeps schemas in
  * the metastore for the same reason, so a cluster can query a table
  * without reading its files to discover it (`metastore-import.tf:181-278`).
  * The rule holds for every way a fixture reaches Spark:
  *  - a frame: read fixtures only through here;
  *  - DDL: a `CREATE TABLE` over a fixture declares its columns with
  *    [[ddl]] (a column-less one infers them with a job);
  *  - a read-back of a dir the engine wrote from a fixture frame: read
  *    it with that frame's schema, not by inference.
  * The footer is read again on every load (a few ms), so runs stay
  * cache-cold.
  *
  * Scale note (100 TB): no caching, no collect — predicate pushdown /
  * column pruning / partition pruning reach the scan unimpeded and the
  * same code runs unchanged on a cluster. The footer read touches one
  * file's tail, through the session's Hadoop conf.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one fixture table from `sfDir`, normalized. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.schema(schema(spark, sfDir, name))
      .parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(raw) else raw
  }

  /** Fixture `name`'s schema as `spark.read.parquet` infers it, read from
    * its footer on the driver with no Spark job: Spark's own converter
    * under the session's parquet settings (`binaryAsString`,
    * `inferTimestampNTZ`), and the Spark schema a Spark-written file
    * carries in its metadata wins, as in inference. */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType = {
    val path = new Path(s"$sfDir/$name.parquet")
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(path, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The `(<columns>) USING parquet LOCATION '<fixture>'` tail of a
    * `CREATE TABLE` over fixture `name`, its columns from [[schema]], so
    * creating the table infers nothing. */
  def ddl(spark: SparkSession, sfDir: String, name: String): String =
    s"(${schema(spark, sfDir, name).toDDL}) " +
      s"USING parquet LOCATION '$sfDir/$name.parquet'"

  /** Normalize an events-shaped frame's `ts` to TimestampType: the
    * timestamp[us] column reads as TIMESTAMP_NTZ, and the oracle's
    * CAST(ts AS TIMESTAMP) is the session-TZ TimestampType. */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => // TIMESTAMP_NTZ — session TZ reinterpretation (UTC here)
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Scratch directory for derived fixtures (CSV/JSON round-trips,
    * catalog warehouses, per-run outputs). Keyed by sf dir so
    * concurrent runs at different scale factors never collide, and
    * never inside the read-only fixture dir. A dir reused across runs
    * is an [[Artifact]], which derives its dir from here.
    */
  def scratch(sfDir: String, tag: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val dir = s"target/scratch/$key/$tag"
    new java.io.File(dir).getParentFile.mkdirs()
    dir
  }
}
