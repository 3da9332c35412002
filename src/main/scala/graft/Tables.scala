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
  * table-specific normalization — the `events.ts` nanosecond timestamp
  * (Spark 4.1.2 cannot read INT64 TIMESTAMP(NANOS) parquet natively; see
  * SURVEY.md §1.3) — happens in exactly one place. Reference basis: the
  * reference system stores table data as files in object storage
  * (yc-data-proc-metadata-import `metastore-import.tf:165-179`); paths are
  * parameterized so s3a://bucket/... is a config change, not a code change.
  *
  * Schema rule: a load hands the reader the schema [[schema]] reads from
  * the fixture file's parquet footer on the driver. A bare
  * `spark.read.parquet` infers it instead, and in Spark 4.1 inference is
  * one Spark job per load in every fresh session, even for a single
  * file: 9 of them per `analytics` pass. The reference keeps schemas in
  * the metastore for the same reason, so a cluster can query a table
  * without reading its files to discover it (`metastore-import.tf:181-278`).
  * Read fixtures only through here. The footer is read again on every
  * load (a few ms), so runs stay cache-cold.
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
    * under the session's parquet settings (`nanosAsLong`,
    * `binaryAsString`, `inferTimestampNTZ`), and the Spark schema a
    * Spark-written file carries in its metadata wins, as in inference.
    *
    * `events.ts` has shipped in two physical encodings across fixture
    * generations: INT64 TIMESTAMP(NANOS) (unreadable natively by Spark
    * 4.1.2, so read as raw nanos under nanosAsLong, which this sets on
    * the session) and plain timestamp[us] (reads as TIMESTAMP_NTZ);
    * [[normalizeTs]] maps either to TimestampType. */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = new Path(s"$sfDir/$name.parquet")
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(path, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Normalize an events-shaped frame's `ts` to TimestampType whatever
    * the physical parquet encoding delivered (LongType raw nanos,
    * TIMESTAMP_NTZ from timestamp[us]/[ms], or already TimestampType):
    * the session-TZ TimestampType the oracle's CAST(ts AS TIMESTAMP)
    * produces. `div` = integer division; `/` would go through double and
    * lose µs precision at 1.7e18 ns. */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => // TIMESTAMP_NTZ — session TZ reinterpretation (UTC here)
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Scratch directory for derived fixtures (CSV/JSON round-trips,
    * partitioned rewrites, catalog warehouses). Keyed by sf dir so
    * concurrent runs at different scale factors never collide.
    * Never inside /root/testdata (read-only).
    */
  def scratch(sfDir: String, tag: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val dir = s"target/scratch/$key/$tag"
    new java.io.File(dir).getParentFile.mkdirs()
    dir
  }

  private def fingerprint(sfDir: String, table: String): String = {
    val src = new java.io.File(sfDir, s"$table.parquet")
    s"${src.length}:${src.lastModified}"
  }

  /** True when `dir` holds a completed derived rewrite of `sfDir/table`
    * AND the source fixture hasn't changed since (length+mtime marker).
    * A bare _SUCCESS guard would serve stale derived data after the
    * fixtures are regenerated in place. `ver` names the write RECIPE:
    * bump it when the writer's options change semantically (e.g. bloom
    * filters enabled) so pre-change scratch dirs re-materialize instead
    * of silently serving the old layout. */
  def scratchCurrent(sfDir: String, table: String, dir: String,
      ver: String = ""): Boolean = {
    val marker = new java.io.File(dir, "_GRAFT_SRC")
    new java.io.File(dir, "_SUCCESS").exists() && marker.exists() && {
      val s = scala.io.Source.fromFile(marker)
      try s.mkString == fingerprint(sfDir, table) + ver finally s.close()
    }
  }

  /** Record the source fingerprint after a successful derived write. */
  def stampScratch(sfDir: String, table: String, dir: String,
      ver: String = ""): Unit =
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_GRAFT_SRC").toPath,
      fingerprint(sfDir, table) + ver)
}
