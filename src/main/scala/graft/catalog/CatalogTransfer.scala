package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Portable catalog snapshot — the Spark-native rendering of the
  * reference's Hive-Metastore export/import (its entire raison d'être:
  * yc-data-proc-metadata-import README_en.md:3, the managed Metastore
  * service at metastore-import.tf:112-117, and the symmetric
  * source/target clusters at metastore-import.tf:181-278).
  *
  * Model: METADATA travels, DATA stays put. A table is re-created on the
  * "target" purely from the snapshot (schema, provider, location,
  * partitioning, properties); its files never move — exactly the
  * reference's shared-bucket semantics (metastore-import.tf:165-179).
  *
  * Scale note (100 TB): catalog metadata is thousands of rows, not
  * terabytes — snapshot I/O is trivially driver-side; the payoff is that
  * re-registered tables keep their partitioned layout so partition
  * pruning works on the target immediately after import.
  */
final case class ColumnInfo(
    name: String, dataType: String, nullable: Boolean, isPartition: Boolean,
    comment: String = "",
    defaultSql: String = "") // DEFAULT expression SQL; empty = none

final case class PropKV(key: String, value: String)

/** One catalog-registered partition: its spec (sorted key=value pairs)
  * and explicit storage location. HMS preserves per-partition storage
  * descriptors — partitions added with custom LOCATION clauses are not
  * recoverable from the directory layout, so the snapshot must carry
  * them.
  *
  * Scale model (100k-partition tables): every REGISTERED partition
  * travels (a directory scan cannot reproduce the registered set —
  * deliberately-unregistered layout dirs must stay unregistered), but
  * layout-conforming partitions travel as SPEC ONLY (location empty =
  * "default layout"), they are dumped one line per partition in their
  * own sub-dir (not as an array inside one table row), and the import
  * re-registers them through bulk catalog createPartitions calls (one
  * RPC per 1000, the HMS add_partitions batch shape) instead of
  * per-partition ADD PARTITION statements. */
final case class PartitionInfo(spec: Seq[PropKV], location: String,
    // per-partition ANALYZE statistics (export(withStats) — HMS
    // carries these as partition parameters; same flat rendering as
    // TableInfo.stats)
    stats: Seq[PropKV] = Nil)

/** Snapshot-file row form of one partition (partitions dataset). */
final case class PartitionRow(
    db: String, table: String, spec: Seq[PropKV], location: String,
    stats: Seq[PropKV] = Nil)

final case class TableInfo(
    db: String,
    name: String,
    tableType: String,          // EXTERNAL | MANAGED | VIEW
    provider: String,           // parquet / csv / json / hive ...
    location: String,           // empty for location-less tables
    columns: Seq[ColumnInfo],   // data columns then partition columns
    properties: Seq[PropKV],    // sorted by key, volatile keys scrubbed
    comment: String,
    viewText: String,           // CREATE VIEW body; empty for tables
    viewDefaultDb: String = "", // db unqualified view refs resolve against
    numBuckets: Int = 0,        // 0 = unbucketed
    bucketCols: Seq[String] = Nil,
    sortCols: Seq[String] = Nil,
    partitions: Seq[PartitionInfo] = Nil,
    inputFormat: String = "",   // hive-SerDe storage (provider == hive)
    outputFormat: String = "",
    serde: String = "",
    serdeProps: Seq[PropKV] = Nil,
    // ANALYZE statistics (opt-in via export(withStats = true)): flat
    // key/value rendering of CatalogStatistics — "sizeInBytes",
    // "rowCount", plus each column's CatalogColumnStat.toMap entries
    // ("<col>.version", "<col>.min", ...). Empty in the default export:
    // stats are usually volatile bookkeeping regenerated by ANALYZE,
    // but a 100 TB migration that DROPS them lands with a blind CBO
    // until someone re-scans the warehouse — withStats carries them so
    // the target plans from day one (meta_stats_transfer).
    stats: Seq[PropKV] = Nil)

final case class DatabaseInfo(name: String, description: String)

/** A permanent (catalog-registered) function — HMS migrates these
  * alongside tables: implementation class plus its resource URIs
  * (jar/file/archive). */
final case class FunctionInfo(
    db: String, name: String, className: String,
    resources: Seq[PropKV]) // resourceType -> uri

final case class CatalogSnapshot(
    databases: Seq[DatabaseInfo], tables: Seq[TableInfo],
    functions: Seq[FunctionInfo] = Nil)

object CatalogTransfer {

  /** Engine bookkeeping that varies per-run and must not survive a
    * snapshot. Exact keys for the HMS/Spark-written flat names (so a
    * user property that merely shares a prefix — `numRowsExpected`,
    * `created_for` — is NOT silently scrubbed) plus prefixes for the
    * namespaced families that are wholly engine-owned. View bookkeeping
    * is regenerated on CREATE VIEW; the resolution database is carried
    * first-class as TableInfo.viewDefaultDb. */
  private val volatilePropKeys = Set(
    "transient_lastddltime", "path", "external", "created", "createdtime",
    "created_by", "bucketing_version", "numfiles", "numfileserasurecoded",
    "numrows", "rawdatasize", "totalsize", "column_stats_accurate",
    "last_modified_by", "last_modified_time")

  private val volatilePropPrefixes = Seq(
    "spark.sql.create.version", "spark.sql.statistics",
    "spark.sql.sources.schema", "option.path", "view.")

  /** Flatten typed catalog statistics to the snapshot's wire form —
    * "sizeInBytes", "rowCount", plus each column's public
    * `CatalogColumnStat.toMap` entries. Shared by the table and
    * partition legs of `export(withStats = true)`. */
  private def statsToKv(
      st: Option[org.apache.spark.sql.catalyst.catalog.CatalogStatistics])
      : Seq[PropKV] =
    st.toSeq.flatMap { s =>
      Seq(PropKV("sizeInBytes", s.sizeInBytes.toString)) ++
        s.rowCount.map(rc => PropKV("rowCount", rc.toString)) ++
        s.colStats.toSeq.sortBy(_._1).flatMap { case (c, cs) =>
          cs.toMap(c).toSeq.sortBy(_._1)
            .map { case (k, v) => PropKV(k, v) }
        }
    }

  /** Rebuild the typed statistics object from the wire form.
    * Dropped-column entries (schema drifted between export and import)
    * fall out of the per-column lookup naturally. */
  private def kvToStats(kv: Seq[PropKV], table: String,
      colNames: Seq[String])
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogStatistics] =
    if (kv.isEmpty) None
    else {
      import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
      val m = kv.map(p => p.key -> p.value).toMap
      Some(CatalogStatistics(
        sizeInBytes = BigInt(m.getOrElse("sizeInBytes", "0")),
        rowCount = m.get("rowCount").map(BigInt(_)),
        colStats = colNames
          // Only columns that actually carry stats in the wire form:
          // fromMap logs a full stack trace per missing column before
          // returning None, so an unfiltered call prints one trace per
          // stats-less column on every import.
          .filter(c => m.contains(s"$c.version"))
          .flatMap(c =>
            CatalogColumnStat.fromMap(table, c, m).map(c -> _)).toMap))
    }

  private def scrub(props: Map[String, String]): Seq[PropKV] =
    props.toSeq
      .filterNot { case (k, _) =>
        volatilePropKeys.contains(k.toLowerCase) ||
          volatilePropPrefixes.exists(p =>
            k.toLowerCase.startsWith(p.toLowerCase))
      }
      .sortBy(_._1).map { case (k, v) => PropKV(k, v) }

  /** SparkSession whose catalog is an EXTERNAL Hive Metastore reached
    * over a Thrift socket (`hive.metastore.uris`) — the reference's
    * actual cluster-to-metastore boundary (yc-data-proc-metadata-import
    * metastore-import.tf:112-117; client NodePorts :75-81). [[export]] /
    * [[importInto]] run UNCHANGED against such a session: they read and
    * write through the SessionCatalog, whose Hive client marshals every
    * operation over the socket. No direct-JDBC (javax.jdo) config is
    * set, so the socket is the only metadata path. One per JVM (the
    * catalog implementation is fixed per SparkContext) — see
    * [[ThriftRoundtrip]] for the end-to-end exercise. */
  def thriftSession(uris: String, warehouse: String): SparkSession =
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-thrift-catalog")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      // spark.hadoop. prefix: lands in the Hadoop configuration the Hive
      // client is built from (a bare hive.metastore.uris key stays in
      // SparkConf and never reaches the metastore client factory)
      .config("spark.hadoop.hive.metastore.uris", uris)
      .enableHiveSupport()
      .getOrCreate()

  /** Walk the session catalog and capture every table in `dbs` (all
    * non-default databases when empty). Reads go through the
    * SessionCatalog's table metadata (CatalogTable), the same objects
    * the Hive client marshals over Thrift in the reference deployment.
    */
  def export(spark: SparkSession, dbs: Seq[String] = Nil,
      withStats: Boolean = false): CatalogSnapshot = {
    val cat = spark.sessionState.catalog
    val dbNames = (if (dbs.nonEmpty) dbs
                   else cat.listDatabases().filterNot(_ == "default")).sorted
    val databases = dbNames.map { db =>
      val meta = cat.getDatabaseMetadata(db)
      DatabaseInfo(db, meta.description)
    }
    val tables = dbNames.flatMap { db =>
      // listTables also returns session temp views (no database
      // qualifier) — keep only identifiers actually owned by `db`.
      cat.listTables(db).filter(_.database.contains(db))
        .sortBy(_.table).map { ident =>
        val t = cat.getTableMetadata(ident)
        val partCols = t.partitionColumnNames.toSet
        val cols = t.schema.fields.map { f =>
          ColumnInfo(f.name, f.dataType.sql, f.nullable,
            partCols.contains(f.name), f.getComment().getOrElse(""))
        }.toSeq
        val isView = t.tableType.name == "VIEW"
        val provider = t.provider.getOrElse(if (isView) "view" else "parquet")
        // partitions are first-class HMS objects with their own storage
        // descriptors — capture the full REGISTERED set (spec, location),
        // but store layout-conforming locations as "" so the snapshot
        // row carries only the spec (the location is derivable; the
        // custom-LOCATION exceptions keep theirs explicitly). The
        // listing is one bulk catalog call (HMS get_partitions), the
        // conformance check is a string comparison per entry — never
        // per-partition I/O. The comparison fails open in BOTH failure
        // modes: URI rendering drift AND a derivation throw (a spec key
        // that doesn't line up with partitionColumnNames — e.g. a
        // mixed-case partition column from a case-preserving catalog
        // headed into a lowercasing one) just carry the location
        // explicitly, always correct.
        val tableLocation = t.storage.locationUri.map(_.toString).getOrElse("")
        val parts =
          if (partCols.nonEmpty && !isView)
            cat.listPartitions(ident).map { p =>
              val loc = p.storage.locationUri.map(_.toString).getOrElse("")
              val conforming = tableLocation.nonEmpty && loc.nonEmpty &&
                scala.util.Try(samePath(loc, defaultPartitionLocation(
                  tableLocation, t.partitionColumnNames, p.spec)))
                  .getOrElse(false)
              PartitionInfo(
                p.spec.toSeq.sortBy(_._1).map { case (k, v) => PropKV(k, v) },
                if (conforming) "" else loc,
                stats = if (withStats) statsToKv(p.stats) else Nil)
            }.sortBy(_.spec.map(kv => s"${kv.key}=${kv.value}").mkString("/"))
          else Nil
        TableInfo(
          db = db,
          name = ident.table,
          tableType = t.tableType.name,
          provider = provider,
          location = t.storage.locationUri.map(_.toString).getOrElse(""),
          columns = cols,
          properties = scrub(t.properties),
          comment = t.comment.getOrElse(""),
          viewText = t.viewText.getOrElse(""),
          viewDefaultDb =
            if (isView) t.viewCatalogAndNamespace.lastOption.getOrElse(db)
            else "",
          numBuckets = t.bucketSpec.map(_.numBuckets).getOrElse(0),
          bucketCols = t.bucketSpec.map(_.bucketColumnNames.toSeq)
            .getOrElse(Nil),
          sortCols = t.bucketSpec.map(_.sortColumnNames.toSeq).getOrElse(Nil),
          partitions = parts,
          inputFormat = if (provider == "hive")
            t.storage.inputFormat.getOrElse("") else "",
          outputFormat = if (provider == "hive")
            t.storage.outputFormat.getOrElse("") else "",
          serde = if (provider == "hive")
            t.storage.serde.getOrElse("") else "",
          serdeProps = if (provider == "hive")
            t.storage.properties.toSeq.sortBy(_._1)
              .map { case (k, v) => PropKV(k, v) } else Nil,
          // opt-in ANALYZE statistics: the typed CatalogStatistics the
          // session catalog serves CBO from, flattened through the
          // PUBLIC CatalogColumnStat.toMap rendering (the same wire
          // form HMS table parameters carry) so import can rebuild the
          // exact object with fromMap.
          stats = if (withStats && !isView) statsToKv(t.stats) else Nil)
      }
    }
    // permanent functions: listFunctions also surfaces temp/builtin
    // names — keep only identifiers persisted under `db`.
    val functions = dbNames.flatMap { db =>
      cat.listFunctions(db).map(_._1)
        .filter(f => f.database.contains(db))
        .filter(f => cat.isPersistentFunction(f))
        .sortBy(_.funcName).map { f =>
          val meta = spark.sharedState.externalCatalog.getFunction(db, f.funcName)
          FunctionInfo(db, f.funcName, meta.className,
            meta.resources.map(r =>
              PropKV(r.resourceType.resourceType, r.uri)))
        }
    }
    CatalogSnapshot(databases, tables, functions)
  }

  /** Persist a snapshot under `dir` (overwrite) as four JSON-lines
    * sub-dirs, each one `part-00000.json`: `databases`, `tables`
    * (partitions stripped), `partitions` (one row per partition, so a
    * 100k-partition table is 100k small lines rather than one
    * 100k-element array inside a single table row) and `functions`.
    *
    * The one snapshot encoder: driver-side json4s over the Hadoop
    * FileSystem of `dir`, resolved through the session's Hadoop
    * configuration, so `s3a://` / `hdfs://` dirs work. It schedules no
    * Spark job: the rows are a driver `Seq` in every caller, and for
    * catalog metadata a job's scheduling costs far more than its
    * bytes. */
  def write(spark: SparkSession, snap: CatalogSnapshot, dir: String): Unit =
    encode(snap, dir, spark.sessionState.newHadoopConf())

  /** [[write]] without a session, for local dirs: the snapshot
    * catalog's per-DDL persist. */
  def writeLocal(snap: CatalogSnapshot, dir: String): Unit =
    encode(snap, dir, localConf)

  /** Load a snapshot persisted by [[write]], or by the Spark JSON
    * writer of earlier versions (multi-file sub-dirs, `_SUCCESS`,
    * `.crc` sidecars: files starting with `.` or `_` are skipped).
    *
    * The one snapshot decoder, and strict: a missing `databases/` or
    * `tables/` throws `FileNotFoundException`, because an empty
    * snapshot read from a mistyped dir would make [[syncApply]] drop
    * every table. A missing `partitions/` or `functions/` means none:
    * snapshots from before the partition split and before functions.
    * Fields absent in older snapshots take the case-class defaults
    * (json4s applies constructor defaults for missing JSON fields). */
  def read(spark: SparkSession, dir: String): CatalogSnapshot =
    decode(dir, spark.sessionState.newHadoopConf())

  /** [[read]] without a session, for local dirs: the snapshot
    * catalog's revalidation on every publish and re-bootstrap. */
  def readLocal(dir: String): CatalogSnapshot = decode(dir, localConf)

  private lazy val localConf = new Configuration()

  private val partFile = "part-00000.json"

  /** The FileSystem of `dir`, minus any client-side checksum layer:
    * the local FileSystem would add a `.crc` sidecar per file, and the
    * snapshot catalog's revision dirs are hard-linked and GC'd file by
    * file. */
  private def fileSystem(dir: String, conf: Configuration): FileSystem =
    new Path(dir).getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  private def encode(snap: CatalogSnapshot, dir: String,
      conf: Configuration): Unit = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val fs = fileSystem(dir, conf)
    def dump[T <: AnyRef](rows: Seq[T], sub: String): Unit = {
      val d = new Path(dir, sub)
      // overwrite replaces the whole sub-dir, with whatever an earlier
      // write left in it (the Spark JSON writer's extra parts,
      // `_SUCCESS`, `.crc` sidecars); that also moves the mtime of
      // `dir` itself, by which SnapshotCatalog fingerprints a
      // bootstrap snapshot
      fs.delete(d, true)
      // written under a dot-prefixed name the reader skips, then
      // renamed into place: a reader never parses a half-written part
      val tmp = new Path(d, s".$partFile.tmp")
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))
      try rows.foreach { r =>
        out.write(org.json4s.jackson.Serialization.write(r))
        out.write('\n')
      } finally out.close()
      if (!fs.rename(tmp, new Path(d, partFile)))
        throw new java.io.IOException(s"could not publish $d/$partFile")
    }
    dump(snap.databases, "databases")
    dump(snap.tables.map(_.copy(partitions = Nil)), "tables")
    dump(snap.tables.flatMap(t => t.partitions.map(p =>
      PartitionRow(t.db, t.name, p.spec, p.location, p.stats))),
      "partitions")
    dump(snap.functions, "functions")
  }

  private def decode(dir: String, conf: Configuration): CatalogSnapshot = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val fs = fileSystem(dir, conf)
    def rows[T: Manifest](sub: String, required: Boolean): Seq[T] = {
      val d = new Path(dir, sub)
      val listed =
        try fs.listStatus(d).toSeq
        catch {
          case e: java.io.FileNotFoundException =>
            if (required) throw new java.io.FileNotFoundException(
              s"$dir is not a catalog snapshot: $d does not exist")
              .initCause(e)
            Nil
        }
      listed.map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.endsWith(".json") && !n.startsWith(".") && !n.startsWith("_")
        }
        .sortBy(_.getName)
        .flatMap { p =>
          val src = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
          try src.getLines().filter(_.nonEmpty).map(l =>
            org.json4s.jackson.JsonMethods.parse(l).extract[T]).toList
          finally src.close()
        }
    }
    val dbs = rows[DatabaseInfo]("databases", required = true)
      .sortBy(_.name)
    val tables0 = rows[TableInfo]("tables", required = true)
      .sortBy(t => (t.db, t.name))
    val byTable = rows[PartitionRow]("partitions", required = false)
      .groupBy(r => (r.db, r.table))
    val tables = tables0.map { t =>
      val ps = byTable.getOrElse((t.db, t.name), Nil)
        .map(r => PartitionInfo(r.spec, r.location, r.stats))
        .sortBy(_.spec.map(kv => s"${kv.key}=${kv.value}").mkString("/"))
      if (ps.nonEmpty) t.copy(partitions = ps) else t
    }
    val functions = rows[FunctionInfo]("functions", required = false)
      .sortBy(f => (f.db, f.name))
    CatalogSnapshot(dbs, tables, functions)
  }

  /** The default hive-layout location of a partition: `<tableLocation>/
    * col1=v1/col2=v2` with hive path escaping, partition columns in
    * table order — exactly what the catalog assigns when ADD PARTITION
    * carries no LOCATION and what RECOVER PARTITIONS derives from the
    * directory scan. */
  private def defaultPartitionLocation(tableLocation: String,
      partColOrder: Seq[String],
      spec: Map[String, String]): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    ExternalCatalogUtils.generatePartitionPath(spec, partColOrder,
      new Path(tableLocation)).toString
  }

  /** URI equality on (scheme, authority, path) — `file:///x` and
    * `file:/x` name the same location but differ as strings (empty vs
    * absent authority), which would misclassify every recovered
    * partition as custom. */
  private def samePath(a: String, b: String): Boolean = {
    val ua = new Path(a).toUri
    val ub = new Path(b).toUri
    ua.getScheme == ub.getScheme && ua.getPath == ub.getPath &&
      Option(ua.getAuthority).getOrElse("") ==
        Option(ub.getAuthority).getOrElse("")
  }

  private def q(id: String): String = s"`${id.replace("`", "``")}`"

  /** DDL to register an existing partitioned directory as an external
    * table: Spark requires an explicit column list with PARTITIONED BY,
    * so infer it from the files (partition columns ordered last). */
  def externalPartitionedDdl(spark: SparkSession, table: String,
      location: String, partCols: Seq[String]): String = {
    val schema = spark.read.parquet(location).schema
    val fields = schema.fields.filterNot(f => partCols.contains(f.name)) ++
      partCols.map(schema.apply)
    val colDdl = fields.map(f => s"${q(f.name)} ${f.dataType.sql}")
      .mkString(", ")
    s"CREATE TABLE $table ($colDdl) USING parquet " +
      partCols.map(q).mkString("PARTITIONED BY (", ", ", ") ") +
      s"LOCATION '$location'"
  }

  private def esc(s: String): String = s.replace("'", "''")

  /** Render the CREATE TABLE statement that reconstructs `t`. Tables
    * with a location re-emit as external (data never moves — the
    * reference's shared-bucket model); location-less managed tables
    * re-emit managed and come back empty, which is faithful: their data
    * lived in the dropped warehouse. Hive-SerDe tables (provider ==
    * hive) re-emit with their full storage descriptor — row-format
    * serde, serde properties, input/output format — which only parses
    * on a Hive-backed session, exactly where such tables can exist.
    */
  def createTableDdl(t: TableInfo): String = {
    val dataCols = t.columns.filterNot(_.isPartition)
    val partCols = t.columns.filter(_.isPartition)
    def colDdl(c: ColumnInfo, withType: Boolean = true): String =
      q(c.name) + (if (withType) s" ${c.dataType}" else "") +
        (if (c.nullable || t.provider == "hive") "" else " NOT NULL") +
        (if (c.comment.nonEmpty) s" COMMENT '${esc(c.comment)}'" else "")
    val sb = new StringBuilder("CREATE ")
    if (t.provider == "hive") {
      // hive syntax: partition columns are typed in PARTITIONED BY and
      // excluded from the main column list; EXTERNAL requires LOCATION.
      if (t.tableType == "EXTERNAL" && t.location.nonEmpty)
        sb.append("EXTERNAL ")
      sb.append(s"TABLE ${q(t.db)}.${q(t.name)} ")
      sb.append(dataCols.map(c => colDdl(c)).mkString("(", ", ", ")"))
      if (t.comment.nonEmpty) sb.append(s" COMMENT '${esc(t.comment)}'")
      if (partCols.nonEmpty)
        sb.append(partCols.map(c => colDdl(c))
          .mkString(" PARTITIONED BY (", ", ", ")"))
      if (t.serde.nonEmpty) {
        sb.append(s" ROW FORMAT SERDE '${esc(t.serde)}'")
        if (t.serdeProps.nonEmpty)
          sb.append(t.serdeProps
            .map(p => s"'${esc(p.key)}' = '${esc(p.value)}'")
            .mkString(" WITH SERDEPROPERTIES (", ", ", ")"))
      }
      if (t.inputFormat.nonEmpty && t.outputFormat.nonEmpty)
        sb.append(s" STORED AS INPUTFORMAT '${esc(t.inputFormat)}'" +
          s" OUTPUTFORMAT '${esc(t.outputFormat)}'")
    } else {
      sb.append(s"TABLE ${q(t.db)}.${q(t.name)} ")
      sb.append((dataCols ++ partCols).map(c => colDdl(c))
        .mkString("(", ", ", ")"))
      sb.append(s" USING ${t.provider}")
      if (partCols.nonEmpty)
        sb.append(partCols.map(c => q(c.name))
          .mkString(" PARTITIONED BY (", ", ", ")"))
      if (t.comment.nonEmpty) sb.append(s" COMMENT '${esc(t.comment)}'")
    }
    if (t.numBuckets > 0 && t.bucketCols.nonEmpty) {
      sb.append(t.bucketCols.map(q).mkString(" CLUSTERED BY (", ", ", ")"))
      if (t.sortCols.nonEmpty)
        sb.append(t.sortCols.map(q).mkString(" SORTED BY (", ", ", ")"))
      sb.append(s" INTO ${t.numBuckets} BUCKETS")
    }
    if (t.location.nonEmpty)
      sb.append(s" LOCATION '${esc(t.location)}'")
    if (t.properties.nonEmpty)
      sb.append(t.properties
        .map(p => s"'${esc(p.key)}' = '${esc(p.value)}'")
        .mkString(" TBLPROPERTIES (", ", ", ")"))
    sb.toString
  }

  /** Re-register `t`'s carried partitions through bulk SessionCatalog
    * createPartitions calls (chunks of 1000). Spec-only partitions
    * (location == "") get the default hive-layout location under the
    * table dir — identical to what ADD PARTITION without LOCATION
    * assigns — so the re-registered set is byte-equal to the source. */
  private def createPartitionsBulk(spark: SparkSession, t: TableInfo): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.CatalogTablePartition
    val ident = TableIdentifier(t.name, Some(t.db))
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(ident)
    t.partitions.grouped(1000).foreach { chunk =>
      val parts = chunk.map { p =>
        val spec = p.spec.map(kv => kv.key -> kv.value).toMap
        // a derivation throw (spec key vs partitionColumnNames mismatch
        // after a catalog case-normalization) degrades to location-less
        // registration — the catalog assigns its own default — instead
        // of aborting the whole import. The degradation is loud: the
        // default path may not be where the data lives, so a silent
        // fallback would surface as partitions that query empty.
        val locOpt =
          if (p.location.nonEmpty) Some(p.location)
          else scala.util.Try(defaultPartitionLocation(
            t.location, meta.partitionColumnNames, spec)).toOption
        if (locOpt.isEmpty)
          System.err.println(
            s"WARN CatalogTransfer: partition location underivable for " +
              s"${t.db}.${t.name} spec=$spec — registering location-less; " +
              "verify the catalog-assigned path matches the data layout")
        CatalogTablePartition(spec, meta.storage.copy(
          locationUri =
            locOpt.map(l => new Path(l).toUri)),
          // per-partition ANALYZE statistics ride the same restore
          // (stats-less snapshots carry Nil → None, no behavior change)
          stats = kvToStats(p.stats, s"${t.db}.${t.name}",
            t.columns.map(_.name)))
      }
      cat.createPartitions(ident, parts, ignoreIfExists = true)
    }
  }

  /** ALTER TABLE ... ADD PARTITION statements (chunked) that re-register
    * `t`'s captured partitions with their explicit locations. */
  def addPartitionDdl(t: TableInfo): Seq[String] =
    t.partitions.grouped(100).map { chunk =>
      val parts = chunk.map { p =>
        val spec = p.spec
          .map(kv => s"${q(kv.key)} = '${esc(kv.value)}'")
          .mkString("PARTITION (", ", ", ")")
        val loc =
          if (p.location.nonEmpty) s" LOCATION '${esc(p.location)}'" else ""
        spec + loc
      }.mkString(" ")
      s"ALTER TABLE ${q(t.db)}.${q(t.name)} ADD IF NOT EXISTS $parts"
    }.toSeq

  /** Rewrite a snapshot for a target cluster whose namespace/layout
    * differs from the source — the migration reality the
    * export→import pipeline meets in practice: the target wants
    * `analytics_prod` where the source had `analytics`, and the data
    * was relocated (new bucket, new mount) so every location needs a
    * prefix swap. Pure function over the snapshot (import stays
    * untouched and the remapped snapshot round-trips through the same
    * serialization), applied to:
    *  - database names (databases, table.db, function.db, and
    *    viewDefaultDb so unqualified view refs re-resolve in the
    *    renamed db);
    *  - qualified `db.` references inside view text — bare and
    *    backtick-quoted forms, in ONE alternation pass so renames
    *    never chain (a→b plus b→c must not turn a.t into c.t; the
    *    foldLeft formulation had exactly that bug) — and because
    *    regex-editing SQL is inherently approximate, any view whose
    *    text still carries a renamed db before a dot after rewriting
    *    fails loudly here rather than resolving against the stale
    *    name on the target;
    *  - location PREFIXES for tables and partitions (longest matching
    *    prefix wins when several rewrite rules apply).
    */
  def remap(snap: CatalogSnapshot,
      dbRenames: Map[String, String] = Map.empty,
      locationRewrites: Seq[(String, String)] = Nil): CatalogSnapshot = {
    def db(n: String): String = dbRenames.getOrElse(n, n)
    // prefix must end at a path-segment boundary: a rule for /data/a
    // must not relocate the sibling /data/abc to a mangled path
    def prefixMatches(l: String, from: String): Boolean =
      l == from || l.startsWith(
        if (from.endsWith("/")) from else from + "/")
    def loc(l: String): String =
      locationRewrites.filter { case (from, _) => prefixMatches(l, from) }
        .sortBy { case (from, _) => -from.length }
        .headOption
        .map { case (from, to) => to + l.stripPrefix(from) }
        .getOrElse(l)
    val lowerRenames =
      dbRenames.map { case (f, t) => f.toLowerCase -> t }
    def viewText(t: String): String = if (dbRenames.isEmpty) t else {
      // (guard: an empty alternation "(?:)" matches the zero-width
      // position before any dot and crashes the rename lookup)
      val q = java.util.regex.Pattern.quote _
      val alternation = dbRenames.keys.map(q).mkString("|")
      val pat = java.util.regex.Pattern.compile(
        "(?i)(?<![\\w`])(`?)(" + alternation + ")(`?)(?=\\s*\\.)")
      val m = pat.matcher(t)
      val sb = new java.lang.StringBuilder
      while (m.find()) {
        val renamed = lowerRenames(m.group(2).toLowerCase)
        m.appendReplacement(sb,
          java.util.regex.Matcher.quoteReplacement(
            m.group(1) + renamed + m.group(3)))
      }
      m.appendTail(sb)
      val rewritten = sb.toString
      // one alternation pass can't re-match its own output UNLESS a
      // rename target is itself a renamed source elsewhere in the map
      // — that text would import wrong silently, so detect any
      // leftover qualified reference and refuse
      val leak = java.util.regex.Pattern.compile(
        "(?i)(?<![\\w`])`?(" + alternation + ")`?\\s*\\.").matcher(rewritten)
      if (leak.find())
        throw new IllegalArgumentException(
          s"view text still references renamed database " +
            s"'${leak.group(1)}' after rewrite — remap it manually: " +
            rewritten)
      rewritten
    }
    CatalogSnapshot(
      databases = snap.databases.map(d => d.copy(name = db(d.name))),
      tables = snap.tables.map { t =>
        t.copy(db = db(t.db),
          viewDefaultDb =
            if (t.viewDefaultDb.nonEmpty) db(t.viewDefaultDb) else "",
          viewText =
            if (t.viewText.nonEmpty) viewText(t.viewText) else "",
          location = if (t.location.nonEmpty) loc(t.location) else "",
          partitions = t.partitions.map(p =>
            p.copy(location =
              if (p.location.nonEmpty) loc(p.location) else "")))
      },
      functions = snap.functions.map(f => f.copy(db = db(f.db))))
  }

  /** Re-emit the snapshot into `spark`'s catalog (the "target
    * cluster"). Existing same-name tables/databases are left in place
    * unless `overwrite`. Partitioned external tables get their
    * partitions recovered from the directory layout, so pruning works
    * immediately.
    */
  def importInto(spark: SparkSession, snap: CatalogSnapshot,
      overwrite: Boolean = false): Seq[String] = {
    val created = Seq.newBuilder[String]
    snap.databases.foreach { db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${q(db.name)}")
    }
    // plain tables first, then views (views may reference tables)
    val ordered = snap.tables.sortBy(t => (t.tableType == "VIEW", t.db, t.name))
    ordered.foreach { t =>
      if (overwrite)
        spark.sql(
          if (t.tableType == "VIEW") s"DROP VIEW IF EXISTS ${q(t.db)}.${q(t.name)}"
          else s"DROP TABLE IF EXISTS ${q(t.db)}.${q(t.name)}")
      if (!spark.catalog.tableExists(s"${t.db}.${t.name}")) {
        if (t.tableType == "VIEW") {
          // unqualified table references in viewText resolve against the
          // session's CURRENT database — re-parse under the view's
          // original default db (HMS records it; we carry it first-class)
          // and restore afterwards. Comment + user properties re-emit in
          // the CREATE (ALTER VIEW can't set a comment).
          val cat = spark.sessionState.catalog
          val prevDb = cat.getCurrentDatabase
          val viewDb = if (t.viewDefaultDb.nonEmpty) t.viewDefaultDb else t.db
          val comment =
            if (t.comment.nonEmpty) s" COMMENT '${esc(t.comment)}'" else ""
          val props =
            if (t.properties.nonEmpty)
              t.properties.map(p => s"'${esc(p.key)}' = '${esc(p.value)}'")
                .mkString(" TBLPROPERTIES (", ", ", ")")
            else ""
          // only switch when the db exists on the target: a view whose
          // default db isn't part of the migration can still carry
          // fully-qualified references, which bind without the USE (and
          // unqualified ones then fail with a clear resolution error
          // instead of an opaque USE failure).
          val canUse = cat.databaseExists(viewDb)
          try {
            if (canUse) spark.sql(s"USE ${q(viewDb)}")
            spark.sql(s"CREATE VIEW ${q(t.db)}.${q(t.name)}$comment$props" +
              s" AS ${t.viewText}")
          } finally if (canUse) spark.sql(s"USE ${q(prevDb)}")
        } else {
          spark.sql(createTableDdl(t))
          // carried partitions restore the exact registered set through
          // BULK catalog calls (one createPartitions RPC per 1000 — the
          // HMS add_partitions batch shape), never one SQL statement per
          // partition; spec-only rows get their default layout location
          // re-derived. Snapshots carrying no partitions for a
          // partitioned located table (pre-split format or genuinely
          // partition-less) fall back to the directory scan.
          if (t.partitions.nonEmpty)
            createPartitionsBulk(spark, t)
          else if (t.columns.exists(_.isPartition) && t.location.nonEmpty)
            spark.catalog.recoverPartitions(s"${t.db}.${t.name}")
          // snapshots exported withStats restore the source's ANALYZE
          // statistics through the same catalog API the ANALYZE command
          // commits through — the target's CBO plans from the migrated
          // numbers without re-scanning 100 TB. Dropped-column entries
          // (schema drifted between export and import) fall out of
          // fromMap's per-column lookup naturally.
          if (t.stats.nonEmpty)
            spark.sessionState.catalog.alterTableStats(
              org.apache.spark.sql.catalyst.TableIdentifier(
                t.name, Some(t.db)),
              kvToStats(t.stats, s"${t.db}.${t.name}",
                t.columns.map(_.name)))
        }
        created += s"${t.db}.${t.name}"
      }
    }
    snap.functions.foreach { f =>
      // go through the external catalog directly: the session's
      // FunctionRegistry caches previously-invoked functions, survives a
      // DROP DATABASE CASCADE, and makes the SQL DDL path (functionExists
      // / CREATE [OR REPLACE] FUNCTION) misjudge the real state.
      val ext = spark.sharedState.externalCatalog
      if (overwrite && ext.functionExists(f.db, f.name))
        ext.dropFunction(f.db, f.name)
      if (!ext.functionExists(f.db, f.name)) {
        import org.apache.spark.sql.catalyst.FunctionIdentifier
        import org.apache.spark.sql.catalyst.catalog.{CatalogFunction, FunctionResource, FunctionResourceType}
        ext.createFunction(f.db, CatalogFunction(
          FunctionIdentifier(f.name, Some(f.db)), f.className,
          f.resources.map(r => FunctionResource(
            FunctionResourceType.fromString(r.key), r.value))))
        created += s"${f.db}.${f.name}"
      }
    }
    created.result()
  }

  /** Drift between two snapshots as a DataFrame of (kind, db, name,
    * side) rows — one row per catalog object that exists on only one
    * side or differs in any captured attribute (side = source | target).
    * The operational check of a metadata migration: a faithful
    * export→import round-trip has an EMPTY diff. Comparison runs as
    * DataFrame set difference over canonical JSON rows, so it scales to
    * catalogs of any size without driver-side pairing. */
  def diff(spark: SparkSession, source: CatalogSnapshot,
      target: CatalogSnapshot): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, get_json_object, lit}
    def rows(s: CatalogSnapshot) = {
      val dbs = spark.createDataset(s.databases).toJSON
        .map(j => ("database", j))
      val tbls = spark.createDataset(s.tables).toJSON
        .map(j => ("table", j))
      val fns = spark.createDataset(s.functions).toJSON
        .map(j => ("function", j))
      dbs.union(tbls).union(fns).toDF("kind", "json")
    }
    val a = rows(source)
    val b = rows(target)
    def shape(df: DataFrame, side: String) = df
      .select(col("kind"),
        get_json_object(col("json"), "$.db").as("db"),
        get_json_object(col("json"), "$.name").as("name"),
        lit(side).as("side"))
    shape(a.except(b), "source").unionAll(shape(b.except(a), "target"))
      .orderBy("kind", "db", "name", "side")
  }

  /** Incremental catalog sync — the APPLY leg of [[diff]] and the
    * operational form of the reference's migration loop
    * (yc-data-proc-metadata-import README_en.md:3): instead of
    * re-running a full import, make the live state of `dbs` equal to
    * `source` by re-emitting ONLY the drifted objects' DDL.
    *
    *  - object in source, missing on target      → create
    *  - object on both sides but attributes drift → drop + recreate
    *  - object only on target                     → drop
    *  - databases: created when missing, never dropped (removing a
    *    database is a data-hazard decision the sync leaves to the
    *    operator; its extra TABLES are still dropped)
    *
    * Identity is (db, name) per kind; drift is exact equality of the
    * same canonical JSON rows [[diff]] compares, so syncApply converges
    * in one pass precisely because export→import→export is a fixed
    * point (CatalogSpec's round-trip law). Re-creation goes through
    * [[importInto]] restricted to the drifted/missing subset, so views
    * re-resolve and carried partitions bulk-restore exactly as a full
    * import would. Returns (kind, db.name, action) rows, sorted, for
    * the caller's report. */
  def syncApply(spark: SparkSession, source: CatalogSnapshot,
      dbs: Seq[String]): Seq[(String, String, String)] = {
    val target = export(spark, dbs)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    def j(o: AnyRef): String = org.json4s.jackson.Serialization.write(o)
    def key(db: String, name: String) = s"$db.$name"
    val srcT = source.tables.map(t => key(t.db, t.name) -> t).toMap
    val tgtT = target.tables.map(t => key(t.db, t.name) -> t).toMap
    val srcF = source.functions.map(f => key(f.db, f.name) -> f).toMap
    val tgtF = target.functions.map(f => key(f.db, f.name) -> f).toMap
    val actions = Seq.newBuilder[(String, String, String)]

    source.databases
      .filterNot(d => target.databases.exists(_.name == d.name))
      .foreach { d =>
        spark.sql(s"CREATE DATABASE IF NOT EXISTS ${q(d.name)}")
        actions += (("database", d.name, "create"))
      }

    def dropTable(t: TableInfo): Unit = spark.sql(
      if (t.tableType == "VIEW") s"DROP VIEW ${q(t.db)}.${q(t.name)}"
      else s"DROP TABLE ${q(t.db)}.${q(t.name)}")

    val extraT = (tgtT.keySet -- srcT.keySet).toSeq.sorted
    extraT.foreach { k =>
      dropTable(tgtT(k)); actions += (("table", k, "drop"))
    }
    val driftedT = (srcT.keySet & tgtT.keySet)
      .filter(k => j(srcT(k)) != j(tgtT(k))).toSeq.sorted
    driftedT.foreach { k =>
      dropTable(tgtT(k)); actions += (("table", k, "recreate"))
    }
    val missingT = (srcT.keySet -- tgtT.keySet).toSeq.sorted
    missingT.foreach(k => actions += (("table", k, "create")))

    val ext = spark.sharedState.externalCatalog
    val extraF = (tgtF.keySet -- srcF.keySet).toSeq.sorted
    extraF.foreach { k =>
      val f = tgtF(k); ext.dropFunction(f.db, f.name)
      actions += (("function", k, "drop"))
    }
    val driftedF = (srcF.keySet & tgtF.keySet)
      .filter(k => j(srcF(k)) != j(tgtF(k))).toSeq.sorted
    driftedF.foreach { k =>
      val f = tgtF(k); ext.dropFunction(f.db, f.name)
      actions += (("function", k, "recreate"))
    }
    val missingF = (srcF.keySet -- tgtF.keySet).toSeq.sorted
    missingF.foreach(k => actions += (("function", k, "create")))

    // one importInto pass re-creates exactly the drifted + missing set
    // (stale versions were dropped above, so the exists-guards pass)
    val touchedT = (driftedT ++ missingT).toSet
    val touchedF = (driftedF ++ missingF).toSet
    importInto(spark, source.copy(
      databases = Nil,
      tables = source.tables.filter(t => touchedT(key(t.db, t.name))),
      functions = source.functions.filter(f => touchedF(key(f.db, f.name)))))
    actions.result().sorted
  }

  /** Deterministic JSON rendering for golden-file tests: schema-ordered
    * fields, tables sorted by (db, name). */
  def toCanonicalJson(spark: SparkSession, snap: CatalogSnapshot): String = {
    import spark.implicits._
    val dbJson = spark.createDataset(snap.databases.sortBy(_.name))
      .toJSON.collect()
    val tblJson = spark.createDataset(snap.tables.sortBy(t => (t.db, t.name)))
      .toJSON.collect()
    val fnJson = spark.createDataset(
        snap.functions.sortBy(f => (f.db, f.name)))
      .toJSON.collect()
    (dbJson ++ tblJson ++ fnJson).mkString("\n")
  }
}
