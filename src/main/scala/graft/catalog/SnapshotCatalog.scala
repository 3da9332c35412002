package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A LIVE Spark V2 catalog over a [[CatalogTransfer]] snapshot: the
  * second rendering of the reference's shared-metastore semantics
  * (yc-data-proc-metadata-import metastore-import.tf:181-278 — two
  * clusters resolving one catalog by name). Where [[CatalogTransfer
  * .importInto]] re-creates tables in the target's own catalog, this
  * plugin needs NO import step at all: register it under a catalog name
  *
  *   spark.sql.catalog.snap      = graft.catalog.SnapshotCatalog
  *   spark.sql.catalog.snap.path = /path/to/snapshot
  *
  * and `SELECT * FROM snap.db.t` resolves straight off the exported
  * metadata — exactly how a second cluster attaches to the shared
  * metastore without re-emitting a single DDL statement.
  *
  * Design:
  *  - READ-ONLY by contract: every mutation throws. The snapshot is an
  *    immutable artifact; writes belong to the owning catalog.
  *  - Tables are served as Spark's own DSv2 file tables (ParquetTable /
  *    OrcTable / CSVTable / JsonTable), so predicate pushdown, column
  *    pruning, and partition-directory discovery+pruning are the stock
  *    code paths — the catalog contributes metadata only, never a scan
  *    implementation.
  *  - The current snapshot resolves through the `HEAD` pointer file
  *    (absent for plain exported snapshots → the top-level layout).
  *    Each access stats HEAD (microseconds, driver-side) and re-reads
  *    the KiB-scale snapshot files only when the published revision
  *    moved — so an attached reader observes every committed DDL on
  *    its next resolution, and never a torn snapshot (revisions are
  *    immutable and fully written before the pointer swaps).
  *  - Views are served through the V2 [[ViewCatalog]] surface: the
  *    snapshot's stored view body re-parses under a MOUNT-RELATIVE
  *    context (see [[SnapshotView]]), so a view created on one
  *    cluster resolves on any other attach with zero DDL re-emission.
  *  - Custom-location partitions are declared unsupported here (loud
  *    error): non-layout partition locations need real HMS storage
  *    descriptors — served by the importInto path.
  *
  * Scale note (100 TB): resolution cost is independent of data size —
  * the catalog hands Spark a root path + user schema; file listing and
  * partition pruning happen in the scan exactly as for a session-catalog
  * table over the same directory.
  */
class SnapshotCatalog extends TableCatalog with SupportsNamespaces
    with ViewCatalog with FunctionCatalog {

  private var catalogName: String = _
  protected var snapshotDir: String = _

  // one snapshot read per catalog instance — Spark instantiates the
  // plugin once per (session, catalog name) and caches it. A var (not
  // lazy val) so [[WritableSnapshotCatalog]] can refresh it after a
  // mutation persists.
  // @volatile: a concurrent reader thread must observe a writer's
  // published (snapCache, loadedRev) pair without holding the writer's
  // monitor — reference/int writes are individually atomic, and
  // mutations revalidate against HEAD anyway, so a transiently stale
  // pair only costs one extra re-read.
  @volatile private var snapCache: CatalogSnapshot = _

  /** Revision number the cached snapshot was loaded at (0 = the
    * bootstrap top-level layout, before any [[WritableSnapshotCatalog]]
    * mutation). [[WritableSnapshotCatalog.persist]] CASes against this. */
  @volatile protected var loadedRev: Int = 0

  /** Publish-time fingerprint (mtime) of the pointer the cache was
    * loaded from. The revision NUMBER alone cannot detect a snapshot
    * directory that was deleted and re-bootstrapped between accesses
    * (fixture re-runs in one JVM: Spark caches the plugin instance by
    * catalog name, revision counting restarts, and a fresh HEAD can
    * land on the cached number with entirely different content — the
    * stale cache then serves locations that no longer exist). HEAD is
    * published by atomic rename of a fresh temp file, so its mtime
    * moves on every publish; for rev 0 the bootstrap dir's own mtime
    * plays the role. */
  @volatile private var loadedFp: Long = Long.MinValue

  protected def headFingerprint(rev: Int): Long = {
    val p = if (rev == 0) java.nio.file.Paths.get(snapshotDir)
      else java.nio.file.Paths.get(snapshotDir, "HEAD")
    try java.nio.file.Files.getLastModifiedTime(p)
      .to(java.util.concurrent.TimeUnit.NANOSECONDS)
    catch { case _: java.io.IOException => Long.MinValue }
  }

  /** The published head revision on disk: contents of the `HEAD`
    * pointer file, or 0 when no writer has ever persisted (the
    * bootstrap snapshot in the top-level subdirs is then current). */
  protected def headRevOnDisk: Int = {
    val head = new java.io.File(snapshotDir, "HEAD")
    if (!head.isFile) 0
    else new String(java.nio.file.Files.readAllBytes(head.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt
  }

  protected def snap: CatalogSnapshot = {
    // resolve through the HEAD pointer: revisions are immutable and
    // fully written BEFORE the pointer swaps (atomic rename), so a
    // reader resolving mid-mutation sees the old or the new snapshot
    // in full, never a torn one — the metastore visibility contract.
    // Revalidation is a file stat + few-byte read per access (cheap,
    // driver-side); the KiB-scale snapshot files are re-read only when
    // the published revision actually moved (a writer committed, or
    // the dir was externally reset for a fresh run).
    val rev = headRevOnDisk
    val fp = headFingerprint(rev)
    if (snapCache == null || rev != loadedRev || fp != loadedFp) {
      val dir = if (rev == 0) snapshotDir else s"$snapshotDir/revs/$rev"
      // driver-side parse (the one snapshot decoder, zero Spark jobs):
      // a snapshot is KiB of JSON, and this re-read runs on every
      // publish/re-bootstrap
      snapCache = CatalogTransfer.readLocal(dir)
      loadedRev = rev
      loadedFp = fp
    }
    snapCache
  }

  /** Replace the in-memory snapshot (after the subclass persisted it),
    * stamping the pointer fingerprint it corresponds to. */
  protected def setSnap(s: CatalogSnapshot, fp: Long): Unit = {
    snapCache = s
    loadedFp = fp
  }

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    snapshotDir = options.get("path")
    require(snapshotDir != null && snapshotDir.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.path = <snapshot dir>")
  }

  override def name(): String = catalogName

  // ---- namespaces (read-only) ----

  override def listNamespaces(): Array[Array[String]] =
    snap.databases.map(db => Array(db.name)).toArray

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (namespaceExists(ns)) Array.empty // single-level namespaces
    else throw new NoSuchNamespaceException(catalogName +: ns.toSeq)

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.length == 1 && snap.databases.exists(_.name == ns(0))

  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] =
    snap.databases.find(db => ns.length == 1 && db.name == ns(0))
      .map(db => Map("comment" -> db.description).asJava)
      .getOrElse(throw new NoSuchNamespaceException(catalogName +: ns.toSeq))

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly()

  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit = readOnly()

  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = readOnly()

  // ---- tables (read-only) ----

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (!namespaceExists(ns))
      throw new NoSuchNamespaceException(catalogName +: ns.toSeq)
    snap.tables.filter(t => t.db == ns(0) && t.tableType != "VIEW")
      .map(t => Identifier.of(ns, t.name)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    findTable(ident).isDefined

  override def loadTable(ident: Identifier): Table = {
    val ti = findTable(ident)
      .getOrElse(throw new NoSuchTableException(ident))
    val base = serveTable(ti)
    // spec-evolved tables: union every leg, each under its own spec
    // (read-only attach — no writes)
    val prevLegs = SpecEvolution.prevLegs(ti)
    if (prevLegs.nonEmpty) {
      val tds0 = TransformPartition.derivers(ti)
      val cur = new TransformPartitionTable(base, ti, tds0, None,
        branchAttach = false)
      val legTables: Seq[(Table, Seq[PartDeriver])] =
        prevLegs.map { leg =>
          val lti = SpecEvolution.legTableInfo(ti, leg)
          (serveTable(lti), TransformPartition.derivers(lti))
        } :+ ((cur, Seq.empty[PartDeriver])) // cur translates itself
      return new EvolvedPartitionTable(ti.name, cur.schema(),
        legTables, cur)
    }
    // transform-partitioned tables serve through the hiding/translating
    // wrapper on every attach (read-only included)
    val tds = TransformPartition.derivers(ti)
    if (tds.nonEmpty)
      return new TransformPartitionTable(base, ti, tds, None,
        branchAttach = false)
    // storage-partitioned-join serving: strictly opt-in via the stock
    // SPJ flag — with the flag off this is exactly the stock file
    // table (bin-packed splits, full pushdown); see [[CoPartitioned]]
    val partCols = ti.columns.filter(_.isPartition).map(_.name)
    if (partCols.nonEmpty && CoPartitioned.spjEnabled)
      new CoPartitioned.CoPartitionedReadTable(base, partCols)
    else
      // merge-on-read tables merge their delete sidecars on EVERY
      // serving path — a read-only attach must not resurrect rows
      MorReadTable.maybeWrap(base, ti)
  }

  /** Metadata time travel (`SELECT ... VERSION AS OF 'N'`): serve the
    * table as REGISTERED at snapshot revision N — revisions are written
    * by [[WritableSnapshotCatalog]] on every metadata mutation. This is
    * metastore-side history: the schema/table-set of revision N over
    * the CURRENT data files (external-table semantics — the catalog
    * never owns bytes; data versioning belongs to table formats,
    * metadata versioning to the catalog). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val revDir = new java.io.File(s"$snapshotDir/revs/$version")
    if (!revDir.isDirectory) {
      val have = Option(new java.io.File(s"$snapshotDir/revs").list())
        .map(_.sorted.mkString(", ")).getOrElse("<none>")
      throw new UnsupportedOperationException(
        s"catalog ${name()} has no snapshot revision '$version' " +
          s"(available: $have)")
    }
    val revSnap = CatalogTransfer.readLocal(revDir.getPath)
    val ti = revSnap.tables.find(t =>
        ident.namespace.length == 1 &&
          t.db == ident.namespace()(0) && t.name == ident.name)
      .getOrElse(throw new NoSuchTableException(ident))
    // the HISTORICAL generation's sidecars apply (ti.location is the
    // revision's location; sidecars are generation state)
    MorReadTable.maybeWrap(serveTable(ti), ti)
  }

  /** Serve a snapshot table as Spark's own DSv2 file table. The
    * `execution.datasources.v2.*Table` constructors are open-source
    * Spark but NOT stable API — a declared, Spark-4.1-pinned deviation
    * (SURVEY §7): they are the exact scan/pushdown/partition-discovery
    * implementation a session-catalog table gets, and the public
    * `TableProvider.getTable` route drops the multi-path +
    * user-specified-schema constructor this catalog needs. A Spark
    * bump that moves them breaks COMPILATION loudly, never results. */
  protected def serveTable(ti: TableInfo): Table = {
    require(ti.tableType != "VIEW",
      s"$catalogName serves tables only; view ${ti.db}.${ti.name} " +
        "resolves through CatalogTransfer.importInto")
    require(ti.location.nonEmpty,
      s"snapshot table ${ti.db}.${ti.name} carries no location")
    require(ti.partitions.forall(_.location.isEmpty),
      s"${ti.db}.${ti.name} has custom-location partitions — those " +
        "storage descriptors need a real catalog (importInto path)")
    // full schema (data + partition columns) from the snapshot; the file
    // table splits it against the discovered directory partitioning.
    // Persisted DEFAULT expressions ride back as the metadata keys the
    // analyzer consults (CURRENT_DEFAULT for new writes; EXISTS_DEFAULT
    // equal to it because this catalog never mutates a default — our
    // defaults are literals, so the frozen-at-add form is the same SQL)
    val schema = StructType(ti.columns.map { c =>
      val md =
        if (c.defaultSql.isEmpty) org.apache.spark.sql.types.Metadata.empty
        else new org.apache.spark.sql.types.MetadataBuilder()
          .putString("CURRENT_DEFAULT", c.defaultSql)
          .putString("EXISTS_DEFAULT", c.defaultSql)
          .build()
      StructField(c.name,
        CatalystSqlParser.parseDataType(c.dataType), c.nullable, md)
    })
    val spark = SparkSession.active
    val opts = new CaseInsensitiveStringMap(
      ti.serdeProps.map(kv => kv.key -> kv.value).toMap.asJava)
    val fullName = s"$catalogName.${ti.db}.${ti.name}"
    import org.apache.spark.sql.execution.datasources.v2.csv.CSVTable
    import org.apache.spark.sql.execution.datasources.v2.json.JsonTable
    import org.apache.spark.sql.execution.datasources.v2.orc.OrcTable
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
    ti.provider.toLowerCase match {
      // parquet tables additionally serve file-level min/max skipping
      // when their location carries an analyzed stats doc — the wrap
      // sits INSIDE every other layer (constraints, partitioned
      // writes, COW/MOR row-level), so all serving paths prune
      case "parquet" => FileSkipping.maybeWrap(
        ParquetTable(fullName, spark, opts,
          Seq(ti.location), Some(schema),
          classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]),
        ti.location)
      case "orc" => OrcTable(fullName, spark, opts,
        Seq(ti.location), Some(schema),
        classOf[org.apache.spark.sql.execution.datasources.orc.OrcFileFormat])
      case "csv" => CSVTable(fullName, spark, opts,
        Seq(ti.location), Some(schema),
        classOf[org.apache.spark.sql.execution.datasources.csv.CSVFileFormat])
      case "json" => JsonTable(fullName, spark, opts,
        Seq(ti.location), Some(schema),
        classOf[org.apache.spark.sql.execution.datasources.json.JsonFileFormat])
      case p => throw new UnsupportedOperationException(
        s"snapshot catalog cannot serve provider '$p' " +
          s"(${ti.db}.${ti.name}) — use CatalogTransfer.importInto")
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = readOnly()

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = readOnly()

  override def dropTable(ident: Identifier): Boolean = readOnly()

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly()

  /** Tables only — a VIEW entry is invisible here (HMS semantics:
    * DROP/ALTER TABLE on a view is no-such-table; the view surface is
    * [[loadView]] & co.). */
  protected def findTable(ident: Identifier): Option[TableInfo] =
    if (ident.namespace.length != 1) None
    else snap.tables.find(t =>
      t.db == ident.namespace()(0) && t.name == ident.name &&
        t.tableType != "VIEW")

  protected def findView(ident: Identifier): Option[TableInfo] =
    if (ident.namespace.length != 1) None
    else snap.tables.find(t =>
      t.db == ident.namespace()(0) && t.name == ident.name &&
        t.tableType == "VIEW")

  // ---- views (V2 ViewCatalog — the analyzer re-parses the stored
  // body under the view's own catalog+namespace context) ----

  override def listViews(ns: String*): Array[Identifier] = {
    val arr = ns.toArray
    if (!namespaceExists(arr))
      throw new NoSuchNamespaceException(catalogName +: ns)
    snap.tables.filter(t => t.db == arr(0) && t.tableType == "VIEW")
      .map(t => Identifier.of(arr, t.name)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    findView(ident).isDefined

  override def loadView(ident: Identifier): View = {
    val ti = findView(ident)
      .getOrElse(throw new NoSuchViewException(ident))
    new SnapshotView(catalogName, ti)
  }

  override def createView(info: ViewInfo): View = readOnly()

  override def alterView(ident: Identifier,
      changes: ViewChange*): View = readOnly()

  override def dropView(ident: Identifier): Boolean = readOnly()

  override def renameView(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly()

  // ---- functions (V2 FunctionCatalog — wired into the analyzer by
  // core Spark, unlike views: `SELECT cat.db.fn(...)` just works) ----

  override def listFunctions(ns: Array[String]): Array[Identifier] = {
    if (!namespaceExists(ns))
      throw new NoSuchNamespaceException(catalogName +: ns.toSeq)
    snap.functions.filter(_.db == ns(0))
      .map(f => Identifier.of(ns, f.name)).toArray
  }

  override def functionExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && snap.functions.exists(f =>
      f.db == ident.namespace()(0) && f.name == ident.name)

  /** Serve a permanent function: the snapshot stores the
    * implementation CLASS NAME (exactly what HMS stores); classes
    * implementing the connector [[UnboundFunction]] API are
    * instantiated and served directly. Hive-resource UDF classes
    * (GenericUDF + jar URIs) cannot speak the V2 surface — those
    * resolve through [[CatalogTransfer.importInto]], and the error
    * says so instead of failing reflection-deep. */
  override def loadFunction(ident: Identifier): UnboundFunction = {
    val fi = (if (ident.namespace.length == 1)
        snap.functions.find(f =>
          f.db == ident.namespace()(0) && f.name == ident.name)
      else None)
      .getOrElse(throw new NoSuchFunctionException(ident))
    val cls =
      try Class.forName(fi.className)
      catch { case _: ClassNotFoundException =>
        throw new UnsupportedOperationException(
          s"function ${fi.db}.${fi.name}: class ${fi.className} is not " +
            "on the classpath of this cluster — ship the jar, or " +
            "resolve through CatalogTransfer.importInto")
      }
    cls.getDeclaredConstructor().newInstance() match {
      case uf: UnboundFunction => uf
      case _ => throw new UnsupportedOperationException(
        s"function ${fi.db}.${fi.name}: ${fi.className} does not " +
          "implement the connector UnboundFunction API — Hive-resource " +
          "functions resolve through CatalogTransfer.importInto")
    }
  }

  private def readOnly(): Nothing =
    throw new UnsupportedOperationException(
      s"catalog $catalogName is a read-only snapshot view")
}

/** A snapshot view definition served through the V2 [[ViewCatalog]]
  * surface. The resolution context is deliberately MOUNT-RELATIVE:
  * `currentCatalog` is the name THIS attach registered the catalog
  * under (not whatever the writer's session called it — that name is
  * meaningless to another cluster), and `currentNamespace` is the
  * view's recorded default db. So an unqualified `t` in the body
  * resolves to `<mount>.<defaultDb>.t` and a 2-part `db.t` to
  * `<mount>.db.t` — i.e. view references land on SNAPSHOT tables of
  * the same attach, which is exactly the shared-metastore contract
  * (a view created on cluster A reads A-and-B-shared tables when
  * resolved on cluster B, never B's unrelated local tables). 3-part
  * references pin an explicit catalog and pass through untouched. */
private[catalog] class SnapshotView(cat: String, ti: TableInfo)
    extends View {
  override def name(): String = s"$cat.${ti.db}.${ti.name}"
  override def query(): String = ti.viewText
  override def currentCatalog(): String = cat
  override def currentNamespace(): Array[String] =
    Array(if (ti.viewDefaultDb.nonEmpty) ti.viewDefaultDb else ti.db)
  override def schema(): StructType = StructType(ti.columns.map(c =>
    StructField(c.name, CatalystSqlParser.parseDataType(c.dataType),
      c.nullable)))
  override def queryColumnNames(): Array[String] = Array.empty
  override def columnAliases(): Array[String] = Array.empty
  override def columnComments(): Array[String] = Array.empty
  override def properties(): util.Map[String, String] =
    (ti.properties.map(p => p.key -> p.value).toMap ++
      (if (ti.comment.nonEmpty)
        Map(ViewCatalog.PROP_COMMENT -> ti.comment) else Map.empty)).asJava
}

/** The WRITABLE rendering of the shared snapshot catalog: the same
  * metadata substrate, but this catalog OWNS it — `CREATE NAMESPACE`,
  * `CREATE TABLE`, `INSERT INTO` (append and overwrite, via the stock
  * DSv2 file-table write path), and `DROP TABLE` mutate the snapshot
  * and persist it through [[CatalogTransfer.writeLocal]] after every
  * metadata change. That closes the loop the reference's live shared
  * HMS provides (yc-data-proc-metadata-import README_en.md:3 — create
  * on one cluster, SELECT by name on another): a writer session
  * registers this catalog, creates + fills a table, and any session
  * that attaches a [[SnapshotCatalog]] (or another writable one) to
  * the same directory resolves the new table by name with zero DDL
  * re-emission.
  *
  * Design:
  *  - Data writes are the unmodified Spark file-table write builders
  *    (ParquetWrite & co. via [[SnapshotCatalog.loadTable]]) — the
  *    catalog never touches bytes, so executor-parallel writes, file
  *    commit protocols, and dynamic partitioning behave exactly as for
  *    a session-catalog table. Only METADATA round-trips through the
  *    snapshot files (KiB-scale, driver-side — the HMS cost model).
  *  - New tables are EXTERNAL-with-derived-location: data lands under
  *    `<snapshot dir>/_warehouse/<db>/<table>` unless the CREATE
  *    carries an explicit `location` property.
  *  - Mutations persist BEFORE returning, each as an immutable
  *    revision published by an atomic `HEAD` swap — a concurrent
  *    reader sees each DDL as soon as the statement completes (and
  *    never a torn snapshot), and a second writer racing on the same
  *    directory fails loudly on the revision CAS instead of silently
  *    losing an update (see [[persist]]) — the metastore visibility
  *    and DDL-serialization contract.
  */
class WritableSnapshotCatalog extends SnapshotCatalog {

  /** Managed-location root for tables created without an explicit
    * LOCATION — colocated with the snapshot so the whole catalog
    * (metadata + default warehouse) moves as one directory. */
  private def warehouseDir: String = s"$snapshotDir/_warehouse"

  /** Revision this thread's last [[snap]] read resolved at — the OCC
    * base token. Every DDL statement reads snap (its existence checks
    * and its `snap.copy(...)` body), so by the time [[persist]] runs,
    * this holds the revision the mutation was derived from. A SHARED
    * instance raced by two threads needs this: after thread A commits,
    * the instance's own `loadedRev` has advanced, so comparing disk
    * against `loadedRev` alone would wave B's stale mutation through
    * (the lost-update race CatalogSpec's concurrency test schedules). */
  private val seenRev = new ThreadLocal[Integer]

  /** Age beyond which an unpublished revision claim (dir exists, HEAD
    * never advanced) is treated as a crashed writer and reclaimed.
    * `private[graft]` so CatalogSpec can simulate the crash
    * deterministically with a back-dated claim dir. */
  private[graft] var claimGraceMs: Long = 10000L

  /** Age beyond which a COW generation still carrying a `_temporary`
    * committer dir — an in-flight DATA rewrite — is treated as a dead
    * writer's staging litter and GC-eligible. Measured against the
    * NEWEST mtime anywhere under the generation (a live job keeps
    * writing task files), and sized to data-rewrite duration, not the
    * metadata claim window: a data-proportional rewrite legitimately
    * runs for minutes. */
  private[graft] var rewriteGraceMs: Long = 60 * 60 * 1000L

  override protected def snap: CatalogSnapshot = this.synchronized {
    val s = super.snap
    seenRev.set(loadedRev)
    s
  }

  /** Persist one metadata mutation as an immutable numbered revision
    * under `revs/` and atomically publish it via the `HEAD` pointer
    * file — the same revisions `VERSION AS OF` reads
    * ([[SnapshotCatalog.loadTable(ident:*,version:*)]]).
    *
    * Atomicity + conflict detection (the live-HMS DDL-serialization
    * contract, rendered on files):
    *  1. The full next snapshot is written to a writer-private
    *     `revs/.stage-*` dir FIRST — nothing existing is touched
    *     (revisions are immutable, the bootstrap top-level snapshot is
    *     never rewritten).
    *  2. `HEAD` is then swapped by atomic rename (temp file +
    *     ATOMIC_MOVE), so a reader resolving through [[snap]] sees
    *     revision n or n+1 in full, never a torn mix.
    *  3. Before writing, the on-disk head is re-read and compared to
    *     the revision this THREAD's mutation was derived from (the
    *     [[seenRev]] OCC token, not the instance's possibly-advanced
    *     `loadedRev`): a second writer that raced past us fails LOUDLY
    *     here instead of silently dropping the other writer's DDL.
    *  4. The revision number itself is CLAIMED by one atomic rename of
    *     the fully-written stage dir onto `revs/<n+1>` — the one step
    *     two racing writers cannot both win, across threads and across
    *     separate attaches over the same directory — so a claimed
    *     revision is always complete content, never mid-write. A
    *     crashed writer's unpublished claim is STOLEN (after
    *     [[claimGraceMs]]) by another atomic rename to a contender-
    *     unique tombstone, so of any number of contenders judging the
    *     same orphan stale exactly one wins; and a `.writer` identity
    *     token is re-checked immediately before the HEAD publish, so a
    *     writer stalled past the grace window aborts rather than bless
    *     a revision a thief re-claimed. Together with the
    *     instance-level monitor this makes N racing DDL statements
    *     yield exactly N revisions (CatalogSpec's two-writer race
    *     schedules real interleavings against this). The loser's next
    *     statement re-reads head and retries cleanly.
    *
    * `private[graft]` (not private) solely so CatalogSpec can drive
    * the CAS with a deterministically-stale writer: through public DDL
    * the mutation re-reads the head snapshot at statement start
    * ([[SnapshotCatalog.snap]] revalidates), leaving only the
    * microsecond commit race, which a single-threaded spec cannot
    * schedule. */
  private[graft] def persist(next: CatalogSnapshot): Unit = this.synchronized {
    // OCC base: the revision THIS mutation was derived from (thread's
    // last snap read). Falls back to loadedRev for direct persist calls
    // that never read snap on this thread.
    val base = Option(seenRev.get).fold(loadedRev)(_.intValue)
    val diskRev = headRevOnDisk
    if (diskRev != base)
      throw new java.util.ConcurrentModificationException(
        s"catalog ${name()} snapshot at $snapshotDir moved to revision " +
          s"$diskRev while this writer held revision $base — " +
          "another writer committed DDL concurrently; re-read the " +
          "catalog state (the next statement does this automatically) " +
          "and retry")
    val rev = base + 1
    val revDir = new java.io.File(s"$snapshotDir/revs/$rev")
    val revsDir = java.nio.file.Paths.get(snapshotDir, "revs")
    java.nio.file.Files.createDirectories(revsDir)
    // Stage the COMPLETE snapshot (plus a writer-identity token) into a
    // writer-private dir first, then CLAIM revs/<n+1> with one atomic
    // rename: exactly one writer — across threads AND across separate
    // attaches/processes over the same directory — wins the rename
    // (POSIX rename is atomic, unlike check-then-write), and because
    // claim == fully-written content there is no claimed-but-mid-write
    // window for a reclaim to wipe.
    val token = java.util.UUID.randomUUID.toString
    val stage = revsDir.resolve(s".stage-$rev-$token")
    CatalogTransfer.writeLocal(next, stage.toString)
    java.nio.file.Files.write(stage.resolve(".writer"), token
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def claimTaken(): Boolean =
      try { java.nio.file.Files.move(stage, revDir.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE); false }
      catch {
        // rename onto an existing non-empty dir surfaces as
        // FileAlreadyExists / DirectoryNotEmpty / a provider-generic
        // FileSystemException (ENOTEMPTY) — all meaning the revision
        // is already claimed. The claim may ALSO be stolen by another
        // contender between our failed rename and any re-inspection
        // (the dir then no longer exists) — still a claim conflict,
        // routed to the stale/steal path below, which re-derives from
        // disk and degrades to the retryable CME. Only distinctly
        // typed genuine I/O failures (permissions; a missing STAGE
        // source) surface raw.
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException => true
        // capability errors are NOT claim conflicts: a filesystem
        // without atomic rename would misdiagnose every persist as
        // "claim taken", route into the steal path (which finds no
        // dir) and retry forever — surface the unsupported-filesystem
        // error raw instead.
        case e @ (_: java.nio.file.NoSuchFileException |
             _: java.nio.file.AccessDeniedException |
             _: java.nio.file.AtomicMoveNotSupportedException) => throw e
        case _: java.nio.file.FileSystemException => true
      }
    def abandoned(msg: String): Nothing = {
      org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile): Unit
      throw new java.util.ConcurrentModificationException(msg)
    }
    if (claimTaken()) {
      // A claim left behind by a writer that DIED between claiming
      // revs/<rev> and publishing HEAD would otherwise wedge the
      // catalog forever: every later persist derives base = rev-1 and
      // collides here, yet the promised retry can never succeed. A
      // claim is reclaimable iff it was never published (on-disk HEAD
      // still behind it) AND it is older than claimGraceMs — far above
      // the claim→publish window (one atomic HEAD rename), so a LIVE
      // concurrent writer mid-commit is never reclaimed; it still fails
      // loudly below and its claim publishes or goes stale.
      val stale = headRevOnDisk < rev && System.currentTimeMillis -
        revDir.lastModified > claimGraceMs
      if (!stale)
        abandoned(
          s"catalog ${name()} revision $rev at $snapshotDir was claimed " +
            "by a concurrent writer — re-read the catalog state and retry")
      // STEAL the stale claim with one atomic rename to a writer-unique
      // tombstone: rename success IS the exclusive steal (of any number
      // of contenders that judged the same orphan stale, exactly one
      // move succeeds; losers see the path gone and back off). Never
      // deleteDirectory the claim path in place — between a slower
      // contender's staleness check and its delete, a faster one may
      // already have claimed revs/<rev> with fresh content, and the
      // in-place delete would tear it (the r14 TOCTOU).
      val tomb = revsDir.resolve(s".tomb-$rev-$token")
      try java.nio.file.Files.move(revDir.toPath, tomb,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.NoSuchFileException |
             _: java.nio.file.FileSystemException =>
          abandoned(
            s"catalog ${name()} stale revision claim $rev at " +
              s"$snapshotDir was re-claimed by a concurrent writer — " +
              "re-read the catalog state and retry")
      }
      // POST-STEAL revalidation: between this writer's staleness
      // verdict and the rename above, the claim's owner may have woken
      // and PUBLISHED the revision — the tombstone then holds live,
      // acknowledged content, and re-claiming would silently replace a
      // committed snapshot (both writers reporting success). Re-read
      // HEAD after the rename: the owner's own pre-publish `.writer`
      // check covers the other interleaving (steal first → the owner
      // finds its token gone and aborts), so the two checks together
      // close the window from both sides.
      if (headRevOnDisk >= rev) {
        try java.nio.file.Files.move(tomb, revDir.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case e: java.io.IOException =>
            throw new IllegalStateException(
              s"catalog ${name()} revision $rev at $snapshotDir was " +
                "stolen after its owner published HEAD, and restoring " +
                s"it failed — the published snapshot is parked at $tomb;" +
                " restore it manually before further DDL", e)
        }
        abandoned(
          s"catalog ${name()} revision $rev at $snapshotDir was " +
            "published while this writer judged its claim stale — " +
            "re-read the catalog state and retry")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(tomb.toFile)
      // our own claim, again atomically — a third writer may have
      // claimed between our steal and this rename
      if (claimTaken())
        abandoned(
          s"catalog ${name()} stale revision claim $rev at " +
            s"$snapshotDir was re-claimed by a concurrent writer — " +
            "re-read the catalog state and retry")
    }
    // Identity re-check before publish: if THIS writer stalled past
    // claimGraceMs between claim and here (GC pause / slow FS), a
    // contender may have stolen and re-claimed the revision. Publishing
    // HEAD then would bless content that is not ours — verify the
    // claim's writer token survived the stall and abort if not.
    def readWriter(): String =
      try new String(java.nio.file.Files.readAllBytes(
          revDir.toPath.resolve(".writer")),
          java.nio.charset.StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => "" }
    if (readWriter() != token)
      throw new java.util.ConcurrentModificationException(
        s"catalog ${name()} revision $rev claim at $snapshotDir was " +
          "stolen while this writer was stalled past the claim grace " +
          "window — re-read the catalog state and retry")
    // HEAD-at-base re-check immediately before the rename: a writer
    // that stalled past the .writer check above may find a stolen-and-
    // published (or even further advanced) HEAD; renaming over it
    // would silently bless foreign content — or REGRESS the pointer.
    // This shrinks that window from grace-window scale to the
    // microseconds between this read and the rename below.
    val diskNow = headRevOnDisk
    if (diskNow == rev && readWriter() == token) {
      // a stalled contender published OUR claim on our behalf (it
      // blessed revs/<rev> before its own post-publish ownership check
      // aborted it) — the mutation is live; fall through to success.
    } else if (diskNow != base) {
      throw new java.util.ConcurrentModificationException(
        s"catalog ${name()} snapshot at $snapshotDir moved to revision " +
          s"$diskNow while this writer was publishing revision $rev — " +
          "re-read the catalog state and retry")
    } else {
      val headTmp = java.nio.file.Paths.get(snapshotDir, s".HEAD.tmp-$rev")
      java.nio.file.Files.write(headTmp, rev.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(headTmp,
        java.nio.file.Paths.get(snapshotDir, "HEAD"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    // POST-publish ownership verification: if a thief stole and
    // re-claimed between the checks above and the rename, HEAD now
    // blesses the thief's (complete, validly staged) content, not ours
    // — exactly one writer may report success, so abort retryably; the
    // thief's own pre-publish HEAD check finds HEAD == its rev with its
    // token still owning the claim and reports success without a second
    // rename. Residual window (documented, not closed): a full
    // steal + re-claim + publish + next-revision publish cycle landing
    // inside the microseconds between the HEAD-at-base read and our
    // rename could still regress the pointer — that needs THREE
    // independent grace-window stalls to line up, and a fencing-token
    // HEAD swap (compare-and-swap, which plain POSIX rename cannot
    // express) to close fully.
    if (readWriter() != token)
      throw new java.util.ConcurrentModificationException(
        s"catalog ${name()} revision $rev claim at $snapshotDir was " +
          "stolen during publish — the concurrent writer's content is " +
          "now the published revision; re-read the catalog state and " +
          "retry")
    loadedRev = rev
    seenRev.set(rev)
    setSnap(next, headFingerprint(rev))
  }

  /** Revision retention GC — the VACUUM maintenance op completing the
    * compact / time-travel / history lifecycle: delete revision
    * directories older than the newest `retain`, never the HEAD
    * pointer or the bootstrap top-level snapshot. Revisions are
    * immutable metadata copies, so removal is safe for every reader
    * that has already resolved; only a later `VERSION AS OF` into a
    * vacuumed revision fails — loudly, through
    * [[SnapshotCatalog.loadTable(ident:*,version:*)]]'s existing
    * missing-revision error that lists what remains. Driver-side file
    * ops (KiB of JSON — the writeLocal discipline); returns
    * (removed, kept) revision numbers for the caller's report. */
  def vacuum(retain: Int): (Seq[Int], Seq[Int]) = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val revsDir = new java.io.File(s"$snapshotDir/revs")
    val revs = Option(revsDir.list())
      .map(_.flatMap(_.toIntOption).sorted.toSeq).getOrElse(Nil)
    val cutoff = headRevOnDisk - retain + 1
    val (drop, keep) = revs.partition(_ < cutoff)
    drop.foreach { r =>
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$snapshotDir/revs/$r"))
    }
    // claim-protocol hygiene: a writer that died mid-stage or
    // mid-steal leaves a `.stage-*`/`.tomb-*` dir behind; they are
    // writer-private (no live writer ever touches another's), so any
    // one older than the claim grace window is garbage by definition.
    Option(revsDir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(".stage-") ||
        f.getName.startsWith(".tomb-"))
      .filter(f => System.currentTimeMillis - f.lastModified > claimGraceMs)
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    (drop, keep)
  }

  // ---- branches / write-audit-publish ----------------------------

  private def branchPath(branch: String): java.io.File = {
    require(branch.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
      s"branch name '$branch' — use [A-Za-z0-9_.-], starting with a " +
        "word character")
    new java.io.File(s"$snapshotDir/branches/$branch")
  }

  /** Create branch `name` from the current head — the staging ref of
    * the WRITE-AUDIT-PUBLISH pattern (Iceberg's wap.branch, rendered
    * on this catalog's directory model). A branch is a full catalog
    * directory under `branches/<name>`, bootstrapped with a COPY of
    * the head snapshot (KiB of metadata — never data) plus a `BASE`
    * marker recording the main revision it forked from. Branch DDL is
    * the ordinary [[WritableSnapshotCatalog]] attached at that path —
    * the whole hardened revision/claim/OCC protocol applies on the
    * branch verbatim, including time travel across branch revisions.
    *
    * ISOLATION CONTRACT: the branch isolates DATA as well as metadata.
    * COW/MOR DML on branch tables lands in fresh generation dirs main
    * never references — and plain INSERT INTO / INSERT OVERWRITE
    * through a branch attach is ROUTED COPY-ON-WRITE too
    * ([[BranchCowAppendTable]], keyed off this BASE marker): the
    * append hard-links the current generation into a fresh sibling,
    * lands the new rows there, and swaps the BRANCH snapshot's
    * location — main readers keep resolving the shared directory
    * untouched, so a reader never sees an unaudited row (Iceberg's
    * wap.branch isolates appends the same way). Only a write behind
    * the catalog's back (direct file drop into a shared location) can
    * still leak, as for any external table. Returns the fork
    * revision. */
  def createBranch(name: String): Int = this.synchronized {
    val dir = branchPath(name)
    if (dir.exists())
      throw new IllegalArgumentException(
        s"catalog ${this.name()} already has branch '$name'")
    val cur = snap
    // the fork revision MUST be the one `snap` resolved (loadedRev) —
    // a second disk read could see a concurrent writer's newer HEAD
    // and stamp BASE one ahead of the copied content, letting a later
    // fastForward silently drop that writer's revision
    val base = loadedRev
    val stage = new java.io.File(s"$snapshotDir/branches/.stage-$name-" +
      java.util.UUID.randomUUID.toString.take(8))
    CatalogTransfer.writeLocal(cur, stage.getPath)
    java.nio.file.Files.write(stage.toPath.resolve("BASE"),
      base.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.createDirectories(dir.getParentFile.toPath)
    java.nio.file.Files.move(stage.toPath, dir.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    base
  }

  /** Directory to attach a [[WritableSnapshotCatalog]] at for branch
    * DDL/reads (the audit half of write-audit-publish). */
  def branchDir(name: String): String = {
    val dir = branchPath(name)
    require(dir.isDirectory,
      s"catalog ${this.name()} has no branch '$name'")
    dir.getPath
  }

  /** PUBLISH a branch: fast-forward main's head to the branch's
    * current snapshot in ONE atomic revision. Allowed only while main
    * still sits at the branch's fork revision — a diverged main
    * refuses loudly (re-branch to rebase); the publish itself rides
    * [[persist]], so a writer racing this commit loses one side of
    * the OCC cleanly. Readers see the whole audited state or none of
    * it. Returns the new main head revision. */
  def fastForward(name: String): Int = this.synchronized {
    val bdir = branchDir(name)
    val base = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(bdir, "BASE")),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    val bHeadFile = new java.io.File(bdir, "HEAD")
    val bRev =
      if (!bHeadFile.isFile) 0
      else new String(java.nio.file.Files.readAllBytes(
        bHeadFile.toPath)).trim.toInt
    val bSnap = CatalogTransfer.readLocal(
      if (bRev == 0) bdir else s"$bdir/revs/$bRev")
    snap // refresh this thread's OCC base
    val mainRev = headRevOnDisk
    if (mainRev != base)
      throw new java.util.ConcurrentModificationException(
        s"catalog ${this.name()} advanced to revision $mainRev since " +
          s"branch '$name' forked at $base — the fast-forward is no " +
          "longer a fast-forward; re-branch from the current head and " +
          "re-apply the staged changes")
    persist(bSnap)
    headRevOnDisk
  }

  /** REBASE a branch whose main advanced past its fork — the recourse
    * a losing write-audit-publish branch needs (without it, a diverged
    * audit's only path is re-staging from scratch). Semantics are a
    * table-granular THREE-WAY MERGE, metadata only:
    *  - diff branch-vs-base and main-vs-base per object (tables+views
    *    keyed (db, name), functions, namespaces);
    *  - an object changed on BOTH sides with DIFFERENT results is a
    *    CONFLICT — refuse loudly, naming every conflicted object
    *    (identical changes merge silently);
    *  - otherwise publish main's head content + the branch's changes
    *    as a NEW branch revision, and advance the branch's BASE marker
    *    to main's current head — after which [[fastForward]] succeeds.
    * Branch DATA needs no rework: branch-side DML lives in generation
    * dirs only branch metadata references, and re-pointing rides along
    * with the table entries. Crash-safe: if the merge publishes but
    * the BASE swap is lost, a re-run re-derives the same merge
    * (identical changes are not conflicts) — rebase is idempotent.
    * Returns the new fork revision (main's current head). */
  def rebaseBranch(name: String): Int = this.synchronized {
    val bdir = branchDir(name)
    val basePath = java.nio.file.Paths.get(bdir, "BASE")
    val base = new String(java.nio.file.Files.readAllBytes(basePath),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    val mainSnap = snap // fresh head read
    val mainRev = loadedRev
    if (mainRev == base) return base // still a fast-forward; no-op
    val baseDir = if (base == 0) snapshotDir else s"$snapshotDir/revs/$base"
    require(base == 0 || new java.io.File(baseDir).isDirectory,
      s"branch '$name' forked at revision $base, which was vacuumed — " +
        "no three-way base exists; re-branch from the current head")
    val baseSnap = CatalogTransfer.readLocal(baseDir)
    val bHeadFile = new java.io.File(bdir, "HEAD")
    val bRev =
      if (!bHeadFile.isFile) 0
      else new String(java.nio.file.Files.readAllBytes(
        bHeadFile.toPath)).trim.toInt
    val bSnap = CatalogTransfer.readLocal(
      if (bRev == 0) bdir else s"$bdir/revs/$bRev")
    // generic three-way per keyed object family: Map(key -> value)
    def merge3[K, V](tag: String, b: Map[K, V], m: Map[K, V],
        o: Map[K, V]): (Map[K, V], Seq[String]) = {
      val keys = b.keySet ++ m.keySet ++ o.keySet
      val out = scala.collection.mutable.LinkedHashMap.empty[K, V]
      val conflicts = scala.collection.mutable.ArrayBuffer.empty[String]
      for (k <- keys.toSeq.sortBy(_.toString)) {
        val (bv, mv, ov) = (b.get(k), m.get(k), o.get(k))
        val branchChanged = bv != ov
        val mainChanged = mv != ov
        val merged =
          if (!branchChanged) mv // main's side (changed or not)
          else if (!mainChanged) bv // branch's change rides through
          else if (bv == mv) mv // identical change on both sides
          else { conflicts += s"$tag $k"; None }
        merged.foreach(v => out(k) = v)
      }
      (out.toMap, conflicts.toSeq)
    }
    val (mt, ct) = merge3("table",
      bSnap.tables.map(t => (t.db, t.name) -> t).toMap,
      mainSnap.tables.map(t => (t.db, t.name) -> t).toMap,
      baseSnap.tables.map(t => (t.db, t.name) -> t).toMap)
    val (mf, cf) = merge3("function",
      bSnap.functions.map(f => (f.db, f.name) -> f).toMap,
      mainSnap.functions.map(f => (f.db, f.name) -> f).toMap,
      baseSnap.functions.map(f => (f.db, f.name) -> f).toMap)
    val (md, cd) = merge3("namespace",
      bSnap.databases.map(d => d.name -> d).toMap,
      mainSnap.databases.map(d => d.name -> d).toMap,
      baseSnap.databases.map(d => d.name -> d).toMap)
    val conflicts = ct ++ cf ++ cd
    if (conflicts.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"branch '$name' cannot rebase onto revision $mainRev: both " +
          s"sides changed [${conflicts.mkString("; ")}] since fork " +
          s"revision $base — resolve by re-staging those objects on a " +
          "fresh branch")
    // deterministic object order: keep each side's relative order,
    // main first, then branch-introduced keys
    def ordered[K, V](m: Map[K, V], mainOrder: Seq[K],
        branchOrder: Seq[K]): Seq[V] =
      ((mainOrder ++ branchOrder).distinct.filter(m.contains))
        .map(m(_))
    val merged = CatalogSnapshot(
      ordered(md, mainSnap.databases.map(_.name),
        bSnap.databases.map(_.name)),
      ordered(mt, mainSnap.tables.map(t => (t.db, t.name)),
        bSnap.tables.map(t => (t.db, t.name))),
      ordered(mf, mainSnap.functions.map(f => (f.db, f.name)),
        bSnap.functions.map(f => (f.db, f.name))))
    // publish the merge as a NEW branch revision (the branch's own
    // hardened claim/OCC protocol), then advance BASE atomically
    val bplug = new WritableSnapshotCatalog
    bplug.initialize(s"${this.name()}_rebase_$name",
      new CaseInsensitiveStringMap(java.util.Map.of("path", bdir)))
    bplug.snap // set the branch writer's OCC token
    bplug.persist(merged)
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(bdir), ".BASE", ".tmp")
    java.nio.file.Files.write(tmp, mainRev.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, basePath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    mainRev
  }

  /** Remove a branch ref (after publish, or to abandon an audit that
    * failed). The branch's metadata directory is deleted; COW
    * generations its tables pointed at become unreferenced and fall to
    * [[gcGenerations]]. */
  def dropBranch(name: String): Boolean = this.synchronized {
    val dir = branchPath(name)
    if (!dir.isDirectory) false
    else { org.apache.commons.io.FileUtils.deleteDirectory(dir); true }
  }

  /** Roll the catalog back to revision `toRev` — published as a NEW
    * revision whose content is byte-identical to the target's (the
    * lakehouse rollback shape: history is append-only, an undo is a
    * forward commit, so `VERSION AS OF` into the undone span keeps
    * working and the revision log shows the rollback itself). Data is
    * untouched: re-pointing a table at its pre-mutation generation is
    * exactly the COW location swap run backwards, valid while the old
    * generation dir survives ([[gcGenerations]] is what retires it) —
    * every non-empty table location of the target snapshot is
    * validated on disk first, so a rollback past a GC'd generation
    * refuses LOUDLY instead of publishing dangling metadata. OCC rides
    * [[persist]] unchanged: a concurrent writer fails one side of the
    * race cleanly. Returns the new head revision. */
  def rollback(toRev: Int): Int = this.synchronized {
    val revDir = new java.io.File(s"$snapshotDir/revs/$toRev")
    if (!revDir.isDirectory) {
      val have = Option(new java.io.File(s"$snapshotDir/revs").list())
        .map(_.flatMap(_.toIntOption).sorted.mkString(", "))
        .getOrElse("<none>")
      throw new IllegalArgumentException(
        s"catalog ${name()} has no revision $toRev to roll back to " +
          s"(available: $have) — vacuumed revisions cannot be " +
          "rollback targets")
    }
    val target = CatalogTransfer.readLocal(revDir.getPath)
    val missing = target.tables.filter(t =>
      t.tableType != "VIEW" && t.location.nonEmpty &&
        !new java.io.File(Generation.path(t.location)).isDirectory)
    require(missing.isEmpty,
      s"rollback to revision $toRev would dangle: " +
        missing.map(t => s"${t.db}.${t.name} -> ${t.location}")
          .mkString("; ") +
        " — the generation dir(s) no longer exist (gcGenerations ran " +
        "past them)")
    snap // refresh this thread's OCC base to the current head
    persist(target)
    headRevOnDisk
  }

  /** Remove copy-on-write GENERATION directories no longer referenced
    * by any surviving snapshot — the file-removal half of the lakehouse
    * VACUUM ([[vacuum]] is the metadata-retention half; run it first,
    * since a generation stays live while any retained revision still
    * points at it, which is exactly what keeps `VERSION AS OF`
    * consistent). Scope is deliberately conservative: only dirs carrying
    * a [[Generation]]'s name, found next to
    * locations the catalog references, are candidates — the original
    * (pre-COW) table dir and anything user-named is never touched
    * (EXTERNAL discipline: this reclaims the catalog's OWN write
    * artifacts, nothing else). Returns (removed, keptCandidates). */
  def gcGenerations(): (Seq[String], Seq[String]) = this.synchronized {
    val revsDir = new java.io.File(s"$snapshotDir/revs")
    val revs = Option(revsDir.list()).toSeq.flatten
      .flatMap(_.toIntOption).sorted
    // live BRANCHES pin their generations too: a branch's staged COW
    // dirs are referenced by branch revisions only — wiping them would
    // tear an audit in progress (dropBranch is what releases them)
    val branchSnapDirs = Option(
        new java.io.File(s"$snapshotDir/branches").listFiles())
      .toSeq.flatten.filter(d => d.isDirectory &&
        !d.getName.startsWith("."))
      .flatMap { b =>
        val bRevs = Option(new java.io.File(b, "revs").list()).toSeq
          .flatten.flatMap(_.toIntOption)
        b.getPath +: bRevs.map(r => s"${b.getPath}/revs/$r")
      }
    val snaps = CatalogTransfer.readLocal(snapshotDir) +:
      (revs.map(r => s"$snapshotDir/revs/$r") ++ branchSnapDirs)
        .map(CatalogTransfer.readLocal)
    // spec-evolution prev-leg locations are live data exactly like
    // table locations — a prev leg that was itself a COW generation
    // must never be reclaimed while referenced
    val referenced = snaps.flatMap(_.tables.flatMap(t =>
        t.location +: SpecEvolution.legLocations(t)))
      .map(Generation.path).filter(_.nonEmpty).toSet
    val candidates = referenced.toSeq.sorted
      .map(l => new java.io.File(l).getParentFile).distinct
      .flatMap(p => Option(p.listFiles()).toSeq.flatten)
      .filter(d =>
        d.isDirectory && d.getName.matches(Generation.NamePattern))
      .distinct
    // A generation MID-WRITE is not aged by its top-level mtime:
    // Spark's file committer stages all task output under _temporary,
    // so the generation dir's own mtime stays at creation until job
    // commit — a rewrite longer than the claim grace window would look
    // abandoned. The committer dir is the in-flight marker: treat any
    // candidate still carrying _temporary as live unless NOTHING under
    // it has moved for rewriteGraceMs (a dead writer's staging area
    // goes quiet; a live job keeps writing task files into it).
    def newestMtime(f: java.io.File): Long =
      (f.lastModified +: Option(f.listFiles).toSeq.flatten
        .map(newestMtime)).max
    val (kept, drop) = candidates.partition(d =>
      referenced.contains(Generation.path(d.getPath)) ||
        // grace filter (the vacuum stage/tomb discipline): an
        // unreferenced-LOOKING generation younger than the claim grace
        // window may be a concurrent COW rewrite between its file
        // commit and its location swap (metadata-speed, so the short
        // window suffices) — this monitor does not cover that writer's
        // job, and cross-process instances share no monitor at all.
        // Deleting it would wipe the rewrite out from under an
        // acknowledged-soon statement.
        System.currentTimeMillis - d.lastModified <= claimGraceMs ||
        // _temporary = the Hadoop committer's staging area (a Spark
        // file write mid-job); the Generation marker = an unpublished
        // generation
        ((new java.io.File(d, "_temporary").exists ||
          new java.io.File(d, Generation.Marker).exists) &&
          System.currentTimeMillis - newestMtime(d) <= rewriteGraceMs))
    drop.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    (drop.map(_.getPath).sorted, kept.map(_.getPath).sorted)
  }

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(ns.length == 1,
      s"single-level namespaces only, got ${ns.mkString(".")}")
    if (namespaceExists(ns))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException((name() +: ns.toSeq).toArray)
    val comment = Option(metadata.get("comment")).getOrElse("")
    persist(snap.copy(
      databases = snap.databases :+ DatabaseInfo(ns(0), comment)))
  }

  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) false
    else {
      val inUse = snap.tables.exists(_.db == ns(0)) ||
        snap.functions.exists(_.db == ns(0))
      require(cascade || !inUse,
        s"namespace ${ns(0)} is not empty — use CASCADE")
      persist(snap.copy(
        databases = snap.databases.filterNot(_.name == ns(0)),
        tables = snap.tables.filterNot(_.db == ns(0)),
        functions = snap.functions.filterNot(_.db == ns(0))))
      true
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(ident.namespace.length == 1,
      s"single-level namespaces only, got $ident")
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(name() +: ident.namespace.toSeq)
    if (tableExists(ident) || viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    // identity partition columns (the HMS partition model) plus the
    // lakehouse transforms this catalog derives engine-side —
    // bucket(N, integral), days/months/years(timestamp),
    // truncate(W, string) — singly or as a COMPOSITE SEQUENCE
    // (`days(ts), bucket(16, id)`: nested derived dirs, the canonical
    // fact-table layout). See [[TransformPartition]]. Anything else
    // refuses loudly.
    var transformSpecs = Seq.empty[(String, String, Int)] // kind,src,n
    var derivedCols = Seq.empty[ColumnInfo]
    val partNames = partitions.toSeq.map { t =>
      t.name match {
        case "identity" =>
          require(t.references.length == 1 &&
              t.references()(0).fieldNames.length == 1,
            s"unsupported identity transform shape '$t' on $ident")
          val p = t.references()(0).fieldNames()(0)
          require(schema.fieldNames.contains(p),
            s"partition column $p is not in the schema of $ident")
          p
        case kind @ ("bucket" | "bucket_hash" | "days" | "months" |
            "years" | "truncate") =>
          require(t.references.length == 1 &&
            t.references()(0).fieldNames.length == 1,
            s"unsupported $kind transform shape '$t' on $ident")
          val src = t.references()(0).fieldNames()(0)
          val sf = schema.fields.find(_.name == src).getOrElse(
            throw new IllegalArgumentException(
              s"$kind source column $src is not in the schema of $ident"))
          val n =
            if (kind == "bucket" || kind == "bucket_hash" ||
                kind == "truncate") {
              if (kind != "truncate")
                require(Set("tinyint", "smallint", "int", "bigint")(
                    sf.dataType.sql.toLowerCase),
                  s"$kind($src) needs an integral source column on " +
                    s"$ident, got ${sf.dataType.sql}")
              else
                require(sf.dataType.sql.toLowerCase == "string",
                  s"truncate($src) needs a string source column on " +
                    s"$ident, got ${sf.dataType.sql}")
              // a non-integer literal (truncate('a', col)) routes
              // through the same loud refusal as a missing/negative
              // one, never a bare NumberFormatException
              val lit = t.arguments.collectFirst {
                case l: org.apache.spark.sql.connector.expressions
                    .Literal[_] => l.value }
                .flatMap(v =>
                  scala.util.Try(v.toString.trim.toInt).toOption)
              require(lit.exists(_ > 0),
                s"$kind transform on $ident needs a positive integer " +
                  s"count/width, got '$t'")
              lit.get
            } else {
              require(sf.dataType.sql.toLowerCase.startsWith("timestamp"),
                s"$kind($src) needs a timestamp source column on " +
                  s"$ident, got ${sf.dataType.sql}")
              0
            }
          val dn = TransformPartition.derivedName(kind, src)
          require(!schema.fieldNames.contains(dn),
            s"derived partition column $dn collides with a schema " +
              s"column of $ident")
          require(!properties.asScala.keys.exists(Mor.dmlProps),
            s"merge-on-read modes are not supported on transform-" +
              s"partitioned $ident — DML is partition-scoped COW")
          transformSpecs = transformSpecs :+ ((kind, src, n))
          derivedCols = derivedCols :+ ColumnInfo(dn,
            TransformPartition.derivedSqlType(kind), nullable = false,
            isPartition = true,
            s"derived by $kind($src) — engine-managed")
          dn
        case _ => throw new IllegalArgumentException(
          s"snapshot catalog supports identity, bucket(N, col), " +
            s"bucket_hash(N, col), days(ts), months(ts), years(ts) " +
            s"and truncate(W, str) partition transforms only, " +
            s"got '$t' on $ident")
      }
    }
    // a composite sequence is all-transform: identity columns read
    // from the directory only (not stored in files), transforms store
    // the source — mixing the two in one nesting would fork the COW
    // writer's file schema per level. Refuse loudly (documented scope).
    require(transformSpecs.isEmpty ||
        transformSpecs.length == partitions.length,
      s"partition transforms cannot mix with identity partition " +
        s"columns on $ident — use transforms for every level or none")
    require(transformSpecs.map(_._2).distinct.length ==
        transformSpecs.length,
      s"each partition transform on $ident needs a distinct source " +
        s"column, got ${transformSpecs.map(_._2)}")
    val transformProps =
      if (transformSpecs.isEmpty) Seq.empty[PropKV]
      else Seq(
        PropKV(TransformPartition.KindProp,
          transformSpecs.map(_._1).mkString(",")),
        PropKV(TransformPartition.SrcProp,
          transformSpecs.map(_._2).mkString(","))) ++
        (if (transformSpecs.exists(s =>
            s._1 == "bucket" || s._1 == "bucket_hash" ||
              s._1 == "truncate"))
          Seq(PropKV(TransformPartition.BucketsProp,
            transformSpecs.map(s =>
              if (s._1 == "bucket" || s._1 == "bucket_hash" ||
                s._1 == "truncate") s._3.toString
              else "-").mkString(",")))
        else Nil)
    require(partNames.size < schema.fields.length + derivedCols.size,
      s"table $ident cannot be partitioned by every column")
    val db = ident.namespace()(0)
    val provider = Option(properties.get("provider"))
      .map(_.toLowerCase).getOrElse("parquet")
    require(Set("parquet", "orc", "csv", "json")(provider),
      s"provider '$provider' not servable by the snapshot catalog")
    // an explicit LOCATION arrives QUALIFIED by Spark's parser
    // ("file:/root/..."); java.io.File would treat that as a RELATIVE
    // path and mkdirs a literal "file:" tree under the CWD (the r15
    // fossil), while the table itself still resolves through Hadoop —
    // i.e. a brand-new explicit location would never actually be
    // created. Store and create the plain-path form.
    val loc = Option(properties.get("location")).filter(_.nonEmpty)
      .map(_.replaceFirst("^file:/+", "/"))
      .getOrElse(s"$warehouseDir/$db/${ident.name}")
    // the location must exist for the first scan (Spark's file index
    // rejects missing roots); an empty dir is a valid empty table
    new java.io.File(loc).mkdirs()
    // DEFAULT values arrive embedded in field metadata (the analyzer
    // folds them there when the catalog declares
    // SUPPORT_COLUMN_DEFAULT_VALUE); persist the expression SQL so any
    // attach serves it back — defaults are catalog metadata exactly
    // like HMS column comments
    val cols = schema.fields.toSeq.map { f =>
      val dft =
        if (f.metadata.contains("CURRENT_DEFAULT"))
          f.metadata.getString("CURRENT_DEFAULT")
        else ""
      ColumnInfo(f.name, f.dataType.sql.toLowerCase, f.nullable,
        isPartition = partNames.contains(f.name), "", dft)
    } ++ derivedCols
    // engine-directed behavior properties (graft.*) persist from
    // CREATE — e.g. graft.delete.mode=merge-on-read; Spark-internal
    // bookkeeping keys (provider/location/owner) are handled above
    val keepProps = (properties.asScala.toSeq
      .filter(_._1.startsWith("graft."))
      .map { case (k, v) => PropKV(k, v) } ++ transformProps)
      .sortBy(_.key)
    // refuse an invalid DML-mode configuration BEFORE persisting — a
    // failed CREATE must not register a permanently unloadable table
    Mor.validateTableProps(db, ident.name, keepProps, cols)
    val ti = TableInfo(db, ident.name, "EXTERNAL", provider, loc,
      cols, keepProps, "", "")
    persist(snap.copy(tables = snap.tables :+ ti))
    loadTable(ident)
  }

  /** Declared so the analyzer routes `ALTER TABLE ... ADD CONSTRAINT`
    * to [[alterTable]] instead of refusing at resolution. */
  override def capabilities():
      util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def loadTable(ident: Identifier): Table = {
    val ti = findTable(ident)
      .getOrElse(throw new NoSuchTableException(ident))
    val partCols = ti.columns.filter(_.isPartition).map(_.name)
    val base = serveTable(ti)
    // spec-evolved tables: union every leg for reads; writes land in
    // the current leg through its deriving write. Row-level DML is
    // not offered ([[SpecEvolution]] scope).
    val prevLegs = SpecEvolution.prevLegs(ti)
    if (prevLegs.nonEmpty) {
      val tds0 = TransformPartition.derivers(ti)
      val cur = new TransformPartitionTable(base, ti, tds0, Some(this),
        BranchCow.isBranchAttach(snapshotDir))
      val legTables: Seq[(Table, Seq[PartDeriver])] =
        prevLegs.map { leg =>
          val lti = SpecEvolution.legTableInfo(ti, leg)
          (serveTable(lti), TransformPartition.derivers(lti))
        } :+ ((cur, Seq.empty[PartDeriver])) // cur translates itself
      return new EvolvedPartitionTable(ti.name, cur.schema(),
        legTables, cur)
    }
    // transform-partitioned tables: hiding/translating read + deriving
    // write + partition-scoped row-level DML via the transform
    // deriver sequence (composite transforms scope DML at the cell)
    val tds = TransformPartition.derivers(ti)
    if (tds.nonEmpty) {
      val tpt = new TransformPartitionTable(base, ti, tds,
        Some(this), BranchCow.isBranchAttach(snapshotDir))
      val tChecks = ti.properties
        .filter(_.key.startsWith(WritableSnapshotCatalog.ConstraintProp))
        .map(p => p.key.stripPrefix(
          WritableSnapshotCatalog.ConstraintProp) -> p.value)
      val tGuarded =
        if (tChecks.isEmpty) tpt else new ConstraintTable(tpt, tChecks)
      return new PartitionScopedRowLevelTable(tGuarded, this, ti, tds)
    }
    val direct =
      if (partCols.isEmpty) base
      else new PartitionedWriteTable(base, ti, partCols)
    // BRANCH attach (BASE marker present): plain appends/overwrites
    // must not land bytes in a directory main still references — route
    // them copy-on-write (fresh generation + branch-local location
    // swap). Row-level DML already stages generations on its own.
    val served =
      if (!BranchCow.isBranchAttach(snapshotDir)) direct
      else direct match {
        case _: org.apache.spark.sql.connector.catalog.SupportsPartitionManagement =>
          new BranchCowAppendTable(direct, this, ti, partCols)
            with ForwardsPartitions
        case _ if ti.provider.equalsIgnoreCase("parquet") =>
          // unpartitioned parquet sits under the row-level wrappers,
          // whose TRUNCATE builds V2 writes — declaring V1_BATCH_WRITE
          // there would poison the whole table, so appends route
          // through a V2 link-and-swap write instead
          new BranchCowAppendV2Table(direct, this, ti)
        case _ => new BranchCowAppendTable(direct, this, ti, partCols)
      }
    val checks = ti.properties
      .filter(_.key.startsWith(WritableSnapshotCatalog.ConstraintProp))
      .map(p => p.key.stripPrefix(WritableSnapshotCatalog.ConstraintProp)
        -> p.value)
    val withChecks =
      if (checks.isEmpty) served
      else served match {
        // preserve partition management under a CHECK constraint — the
        // plain wrapper would strip SupportsPartitionManagement
        case _: org.apache.spark.sql.connector.catalog.SupportsPartitionManagement =>
          new ConstraintTable(served, checks) with ForwardsPartitions
        case _ => new ConstraintTable(served, checks)
      }
    // stock row-level DML (MERGE/UPDATE/DELETE): table-granular COW on
    // unpartitioned parquet tables; PARTITION-granular COW (group =
    // hive partition — only partitions the delta touches are
    // rewritten, the rest hard-link) on single-column-partitioned
    // parquet tables whose partition type the layout-backed partition
    // management also supports
    val partTypeOk = partCols.length == 1 &&
      ti.columns.find(_.name == partCols.head).exists(c =>
        Set("string", "int", "bigint")(c.dataType.toLowerCase))
    if (partCols.isEmpty && ti.provider.equalsIgnoreCase("parquet")) {
      // per-command DML modes (the lakehouse write.delete.mode split):
      // DELETE merge-on-read via delete sidecars when the table opts
      // in; UPDATE/MERGE stay COW either way — see MorOps.scala
      // the full property validation (modes, row-id existence/type,
      // and the NOT NULL the delta rewrite demands — the CATALOG's
      // nullability is authoritative: the file table relaxes every
      // column to nullable, so MorRowLevelTable.schema() re-asserts
      // the declared NOT NULL); CREATE validates pre-persist, this is
      // the backstop for ALTER-set properties
      Mor.validateTableProps(ti.db, ti.name, ti.properties, ti.columns)
      val mode = ti.properties.find(_.key == Mor.DeleteModeProp)
        .map(_.value)
      if (mode.contains(Mor.ModeMergeOnRead)) {
        val rid = ti.properties.find(_.key == Mor.RowIdProp).get.value
        val f = base.schema().fields.find(_.name == rid).get
        val mergeMor = ti.properties.exists(p =>
          p.key == Mor.MergeModeProp && p.value == Mor.ModeMergeOnRead)
        val updateMor = ti.properties.exists(p =>
          p.key == Mor.UpdateModeProp && p.value == Mor.ModeMergeOnRead)
        new MorRowLevelTable(withChecks, this, ti,
          f.copy(nullable = false), mergeMor, updateMor)
      } else new RowLevelCowTable(withChecks, this, ti)
    } else if (partTypeOk && ti.provider.equalsIgnoreCase("parquet")) {
      // partitioned MOR composition: delta DELETE with per-partition
      // sidecars when the table opts in; UPDATE/MERGE partition-scoped
      // COW over the merged read either way — see MorOps.scala
      Mor.validateTableProps(ti.db, ti.name, ti.properties, ti.columns)
      val ids = Seq(IdentityDeriver(
        base.schema().fields.find(_.name == partCols.head).get))
      val mode = ti.properties.find(_.key == Mor.DeleteModeProp)
        .map(_.value)
      // the identity layout keeps the wrapped partition management
      if (mode.contains(Mor.ModeMergeOnRead)) {
        val rid = ti.properties.find(_.key == Mor.RowIdProp).get.value
        val kf = base.schema().fields.find(_.name == rid).get
        new MorPartitionedTable(withChecks, this, ti, ids,
          kf.copy(nullable = false)) with ForwardsPartitions
      } else
        new PartitionScopedRowLevelTable(withChecks, this, ti, ids)
          with ForwardsPartitions
    } else withChecks
  }

  /** Atomically re-point `ti` at a freshly-written generation dir — the
    * single publish step of a row-level COW rewrite. OCC on the DATA
    * generation: if the table's location moved since the rewrite was
    * planned (a concurrent COW commit), fail loudly — publishing would
    * silently drop that writer's rows. */
  private[catalog] def swapLocation(ti: TableInfo, newLoc: String): Unit =
    this.synchronized {
      val cur = snap // fresh head read (sets this thread's OCC token)
      val t = cur.tables.find(x => x.db == ti.db && x.name == ti.name)
        .getOrElse(throw new NoSuchTableException(
          Identifier.of(Array(ti.db), ti.name)))
      if (t.location != ti.location)
        throw new java.util.ConcurrentModificationException(
          s"table ${ti.db}.${ti.name} moved generations during the " +
            s"row-level rewrite (${ti.location} -> ${t.location}) — a " +
            "concurrent COW commit won; retry the statement")
      persist(cur.copy(tables = cur.tables.map(x =>
        if (x.db == ti.db && x.name == ti.name) x.copy(location = newLoc)
        else x)))
      FileSkipping.autoAnalyze(t.properties, newLoc, Some(t.location))
    }

  /** Cross-table ATOMIC publish — the namespace-cutover form of the
    * migration story: re-point N tables at freshly-staged generation
    * dirs in ONE revision, so a reader pinned to any revision sees
    * either every move or none (all-or-nothing; no reader ever
    * observes a half-migrated namespace). The staging discipline is
    * the row-level COW one, batched: write every new generation fully
    * first (nothing published), then this single [[persist]] — one
    * numbered revision, one atomic HEAD rename — publishes them all.
    * OCC is per table against the location each staged generation was
    * DERIVED from ([[swapLocation]]'s rule, checked for the whole set
    * before anything mutates): if any table moved under a concurrent
    * writer, the entire transaction fails loudly and NO table
    * re-points — there is no partial-commit state to clean up because
    * nothing was committed. */
  private[graft] def publishAll(moves: Seq[(TableInfo, String)]): Unit =
    this.synchronized {
      val cur = snap // fresh head read (sets this thread's OCC token)
      val keys = moves.map { case (ti, _) => (ti.db, ti.name) }
      require(keys.distinct.size == keys.size,
        s"duplicate table in transactional publish: $keys")
      for ((ti, _) <- moves) {
        val t = cur.tables.find(x => x.db == ti.db && x.name == ti.name)
          .getOrElse(throw new NoSuchTableException(
            Identifier.of(Array(ti.db), ti.name)))
        if (t.location != ti.location)
          throw new java.util.ConcurrentModificationException(
            s"table ${ti.db}.${ti.name} moved generations during the " +
              s"transactional publish (${ti.location} -> " +
              s"${t.location}) — a concurrent commit won; NO table " +
              "was re-pointed, re-stage against the new head and retry")
      }
      val newLocs = moves.map { case (ti, loc) =>
        (ti.db, ti.name) -> loc }.toMap
      persist(cur.copy(tables = cur.tables.map(x =>
        newLocs.get((x.db, x.name)).fold(x)(l => x.copy(location = l)))))
      for ((ti, loc) <- moves)
        FileSkipping.autoAnalyze(ti.properties, loc, Some(ti.location))
    }

  override def dropTable(ident: Identifier): Boolean =
    findTable(ident) match {
      case None => false
      case Some(ti) =>
        persist(snap.copy(tables = snap.tables.filterNot(t =>
          t.db == ti.db && t.name == ti.name)))
        true // EXTERNAL semantics: metadata unregistered, files remain
    }

  /** Schema evolution, HMS-style (metadata-only — existing files are
    * never rewritten): ADD COLUMN (nullable, appended — old files read
    * it as null, the parquet missing-column contract), DROP COLUMN
    * (projection simply stops asking for it), and table-property
    * set/remove. Column RENAME is rejected loudly: parquet resolves
    * columns by name, so a metadata-only rename would silently null an
    * existing column — HMS has the same foot-gun; we refuse it. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val ti = findTable(ident)
      .getOrElse(throw new NoSuchTableException(ident))
    val updated = changes.foldLeft(ti) { (t, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1,
            "nested column adds are not supported by the snapshot catalog")
          require(add.position() == null,
            "ADD COLUMN ... FIRST/AFTER is not supported — parquet " +
              "resolves by name, and a silent append would betray the " +
              "requested position; omit the position clause")
          val cn = add.fieldNames()(0)
          require(!t.columns.exists(_.name == cn),
            s"column $cn already exists on ${t.db}.${t.name}")
          require(add.isNullable,
            s"added column $cn must be nullable — existing data files " +
              "carry no values for it")
          require(add.defaultValue() == null,
            s"ADD COLUMN $cn WITH DEFAULT is refused: rows written " +
              "before the column exist read back NULL from parquet, so " +
              "a retroactive default would lie about existing data — " +
              "declare defaults at CREATE TABLE time")
          t.copy(columns = t.columns :+ ColumnInfo(cn,
            add.dataType.sql.toLowerCase, nullable = true,
            isPartition = false, Option(add.comment).getOrElse("")))
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames.length == 1,
            "nested column drops are not supported by the snapshot catalog")
          val cn = del.fieldNames()(0)
          if (!t.columns.exists(_.name == cn)) {
            require(del.ifExists(), s"no column $cn on ${t.db}.${t.name}")
            t // DROP COLUMN IF EXISTS on a missing column: no-op
          } else {
            require(t.columns.count(c => !c.isPartition) > 1,
              s"cannot drop the last data column of ${t.db}.${t.name}")
            t.copy(columns = t.columns.filterNot(_.name == cn))
          }
        case sp: TableChange.SetProperty
            if sp.property == SpecEvolution.EvolveProp =>
          // partition spec evolution: freeze the current layout as a
          // prev leg, install the new transform over a fresh location
          // — metadata-only, one revision ([[SpecEvolution]])
          SpecEvolution.evolve(t, sp.value)
        case sp: TableChange.SetProperty if sp.property == "location" =>
          // ALTER TABLE ... SET LOCATION: re-point the table at a new
          // file generation — the atomic swap behind location-based
          // compaction (readers holding the old location keep their
          // files; new resolutions get the new generation)
          require(sp.value != null && sp.value.nonEmpty,
            s"empty LOCATION for ${t.db}.${t.name}")
          t.copy(location = sp.value)
        case sp: TableChange.SetProperty =>
          val nt = t.copy(properties = t.properties
            .filterNot(_.key == sp.property) :+
            PropKV(sp.property, sp.value))
          // DML-mode properties validate against the resulting table
          // — an ALTER must not poison later loads — and against the
          // table's current GENERATION: disabling merge-on-read (or
          // re-pointing the row id) with outstanding sidecars would
          // silently resurrect every hidden row on the next read
          if (Mor.dmlProps(sp.property)) {
            Mor.guardLiveSidecars(t, sp.property, Some(sp.value))
            Mor.validateTableProps(nt.db, nt.name, nt.properties,
              nt.columns)
          }
          nt
        case rp: TableChange.RemoveProperty =>
          val nt = t.copy(properties =
            t.properties.filterNot(_.key == rp.property))
          if (Mor.dmlProps(rp.property)) {
            Mor.guardLiveSidecars(t, rp.property, None)
            Mor.validateTableProps(nt.db, nt.name, nt.properties,
              nt.columns)
          }
          nt
        // CHECK constraints — the last HMS/lakehouse metadata object
        // family: persisted as a table property (metadata-only, one
        // revision like any DDL), served back through Table
        // .constraints() where stock ResolveTableConstraints compiles
        // the predicate into every V2 write (runtime enforcement —
        // CheckInvariant — with zero graft-side execution code).
        // Scope: enforced CHECK only; PK/FK/UNIQUE are informational
        // promises this catalog has no way to make true, so they are
        // refused loudly rather than recorded as a lie.
        case ac: TableChange.AddConstraint =>
          ac.constraint() match {
            case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
              val key = WritableSnapshotCatalog.ConstraintProp + chk.name()
              require(!t.properties.exists(_.key == key),
                s"constraint ${chk.name()} already exists on " +
                  s"${t.db}.${t.name}")
              require(chk.predicateSql() != null &&
                chk.predicateSql().nonEmpty,
                s"constraint ${chk.name()} carries no predicate SQL")
              t.copy(properties = t.properties :+
                PropKV(key, chk.predicateSql()))
            case other => throw new UnsupportedOperationException(
              s"snapshot catalog enforces CHECK constraints only; " +
                s"${other.getClass.getSimpleName} is an informational " +
                "promise it cannot keep")
          }
        case dc: TableChange.DropConstraint =>
          val key = WritableSnapshotCatalog.ConstraintProp + dc.name()
          if (!t.properties.exists(_.key == key)) {
            require(dc.ifExists(),
              s"no constraint ${dc.name()} on ${t.db}.${t.name}")
            t
          } else t.copy(properties = t.properties.filterNot(_.key == key))
        // TYPE WIDENING (ALTER COLUMN ... TYPE) — metadata-only schema
        // evolution for the SAFE promotions a long-lived table needs:
        // existing parquet files keep their narrow physical type and
        // resolve through the widened read schema (Spark 4's parquet
        // readers up-convert int32→int64 / float→double per file —
        // SPARK-40876, the mechanism lakehouse type widening rides);
        // new writes land the wide type. Anything lossy (narrowing,
        // int→double where 2⁵³ < long loses bits, string↔numeric) is
        // refused loudly — a metadata-only lie about bytes on disk is
        // the one thing a catalog must never publish.
        case ut: TableChange.UpdateColumnType =>
          require(ut.fieldNames.length == 1,
            "nested column type changes are not supported by the " +
              "snapshot catalog")
          val cn = ut.fieldNames()(0)
          val cur = t.columns.find(_.name == cn).getOrElse(
            throw new IllegalArgumentException(
              s"no column $cn on ${t.db}.${t.name}"))
          require(!cur.isPartition,
            s"cannot widen partition column $cn of ${t.db}.${t.name} " +
              "— directory values are text, re-layout instead")
          val to = ut.newDataType.sql.toLowerCase
          val widens = Map(
            "tinyint" -> Set("smallint", "int", "bigint"),
            "smallint" -> Set("int", "bigint"),
            "int" -> Set("bigint"),
            "float" -> Set("double"))
          require(widens.get(cur.dataType.toLowerCase)
              .exists(_.contains(to)),
            s"ALTER COLUMN $cn TYPE ${cur.dataType} -> $to on " +
              s"${t.db}.${t.name} is not a safe widening — only " +
              "tinyint/smallint/int->bigint chains and float->double " +
              "resolve losslessly over existing parquet files; " +
              "anything else needs a rewrite (CTAS)")
          t.copy(columns = t.columns.map(c =>
            if (c.name == cn) c.copy(dataType = to) else c))
        case other => throw new UnsupportedOperationException(
          s"snapshot catalog cannot apply ${other.getClass.getSimpleName} " +
            s"to ${t.db}.${t.name} (column renames silently null " +
            "name-resolved parquet data; type changes need a rewrite)")
      }
    }
    persist(snap.copy(tables = snap.tables.map(x =>
      if (x.db == ti.db && x.name == ti.name) updated else x)))
    // opted-in tables re-analyze on a generation swap so compaction /
    // relocation never opens a statless (pruning-disabled) window
    if (updated.location != ti.location)
      FileSkipping.autoAnalyze(updated.properties, updated.location,
        Some(ti.location))
    loadTable(ident)
  }

  // ---- functions (write side; the V2 FunctionCatalog interface is
  // read-only by design — no standard CREATE FUNCTION plan exists —
  // so registration is the programmatic path a catalog-sync tool
  // drives, persisted + revisioned like any DDL) ----

  /** Register a permanent function (HMS `CREATE FUNCTION ... AS
    * 'class'` semantics): the catalog stores the implementation class
    * name; resolution happens at [[SnapshotCatalog.loadFunction]]
    * against the resolving cluster's classpath. */
  def registerFunction(db: String, fnName: String,
      className: String): Unit = {
    if (!namespaceExists(Array(db)))
      throw new NoSuchNamespaceException(Seq(name(), db))
    require(!snap.functions.exists(f => f.db == db && f.name == fnName),
      s"function $db.$fnName already exists in catalog ${name()}")
    persist(snap.copy(functions =
      snap.functions :+ FunctionInfo(db, fnName, className, Nil)))
  }

  def dropFunction(db: String, fnName: String): Boolean = {
    if (!snap.functions.exists(f => f.db == db && f.name == fnName)) false
    else {
      persist(snap.copy(functions = snap.functions.filterNot(f =>
        f.db == db && f.name == fnName)))
      true
    }
  }

  // ---- views (write side) ----

  /** CREATE VIEW through the shared catalog. The stored definition
    * keeps only mount-independent context: the body SQL plus a default
    * namespace for unqualified references (the writer's current
    * namespace when it was inside THIS catalog, else the view's own
    * namespace) — the writer's catalog mount name is deliberately NOT
    * stored, so resolution is attach-relative on every cluster
    * ([[SnapshotView]]). */
  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    require(ident.namespace.length == 1,
      s"single-level namespaces only, got $ident")
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(name() +: ident.namespace.toSeq)
    if (viewExists(ident) || tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    val db = ident.namespace()(0)
    val cols = info.schema.fields.toSeq.map(f =>
      ColumnInfo(f.name, f.dataType.sql.toLowerCase, f.nullable,
        isPartition = false))
    val defDb =
      if (info.currentCatalog == name() && info.currentNamespace.length == 1)
        info.currentNamespace()(0)
      else db
    val props = Option(info.properties)
      .map(_.asScala.toSeq.filterNot(kv =>
        ViewCatalog.RESERVED_PROPERTIES.contains(kv._1))).getOrElse(Nil)
      .map { case (k, v) => PropKV(k, v) }.sortBy(_.key)
    val comment = Option(info.properties)
      .flatMap(p => Option(p.get(ViewCatalog.PROP_COMMENT))).getOrElse("")
    val ti = TableInfo(db, ident.name, "VIEW", "", "", cols, props,
      comment, viewText = info.sql, viewDefaultDb = defDb)
    persist(snap.copy(tables = snap.tables :+ ti))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    findView(ident) match {
      case None => false
      case Some(ti) =>
        persist(snap.copy(tables = snap.tables.filterNot(t =>
          t.db == ti.db && t.name == ti.name && t.tableType == "VIEW")))
        true
    }

  override def alterView(ident: Identifier,
      changes: ViewChange*): View = {
    val ti = findView(ident)
      .getOrElse(throw new NoSuchViewException(ident))
    val updated = changes.foldLeft(ti) { (t, ch) =>
      ch match {
        case sp: ViewChange.SetProperty =>
          t.copy(properties = t.properties
            .filterNot(_.key == sp.property) :+
            PropKV(sp.property, sp.value))
        case rp: ViewChange.RemoveProperty =>
          t.copy(properties = t.properties.filterNot(_.key == rp.property))
        case other => throw new UnsupportedOperationException(
          s"snapshot catalog cannot apply ${other.getClass.getSimpleName} " +
            s"to view ${t.db}.${t.name}")
      }
    }
    persist(snap.copy(tables = snap.tables.map(x =>
      if (x.db == ti.db && x.name == ti.name && x.tableType == "VIEW")
        updated else x)))
    loadView(ident)
  }

  override def renameView(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val ti = findView(oldIdent)
      .getOrElse(throw new NoSuchViewException(oldIdent))
    require(newIdent.namespace.length == 1,
      s"single-level namespaces only, got $newIdent")
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(name() +: newIdent.namespace.toSeq)
    if (viewExists(newIdent) || tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    // the body text stays as written; unqualified refs keep resolving
    // against viewDefaultDb (NOT the new namespace) — renaming a view
    // must not silently re-point what it reads
    persist(snap.copy(tables = snap.tables.map(x =>
      if (x.db == ti.db && x.name == ti.name && x.tableType == "VIEW")
        x.copy(db = newIdent.namespace()(0), name = newIdent.name)
      else x)))
  }

  /** Metadata-only rename (the location — and therefore the data —
    * stays put, HMS external-table semantics). Cross-namespace moves
    * are allowed when the target namespace exists. */
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val ti = findTable(oldIdent)
      .getOrElse(throw new NoSuchTableException(oldIdent))
    require(newIdent.namespace.length == 1,
      s"single-level namespaces only, got $newIdent")
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(name() +: newIdent.namespace.toSeq)
    if (tableExists(newIdent) || viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(newIdent)
    persist(snap.copy(tables = snap.tables.map(x =>
      if (x.db == ti.db && x.name == ti.name && x.tableType != "VIEW")
        x.copy(db = newIdent.namespace()(0), name = newIdent.name)
      else x)))
  }
}

/** Write-enabled serving wrapper for PARTITIONED snapshot-catalog
  * tables. Spark's DSv2 file write builders lay out NO partition
  * directories (the V2 write job description carries no partition
  * columns — V2 partitioned file writes are an open upstream gap), so
  * an INSERT through the stock file table would flatten a partitioned
  * table into unpartitioned files and silently kill partition pruning
  * for every subsequent reader. Writes therefore route through the
  * public V1 fallback ([[org.apache.spark.sql.connector.write.V1Write]]
  * → `DataFrameWriter.partitionBy(...).save(location)`), which
  * produces the hive-style `col=value` layout that the read side's
  * stock partition discovery + pruning consumes. Reads delegate to the
  * wrapped file table untouched — scan, pushdown, and pruning are the
  * same code paths as the read-only catalog.
  *
  * Scale note (100 TB): the V1 writer is the same executor-parallel
  * `FileFormatWriter` used by `df.write.partitionBy` everywhere —
  * dynamic partition writers per task, no driver materialization.
  * INSERT OVERWRITE (truncate) rewrites the whole table location —
  * static overwrite semantics, stated loudly here rather than
  * implemented as a silent half-measure.
  */
object WritableSnapshotCatalog {
  /** Table-property prefix a persisted CHECK constraint lives under
    * (`graft.check.<name>` → predicate SQL). */
  val ConstraintProp = "graft.check."
}

/** Serving wrapper that surfaces persisted CHECK constraints through
  * the connector contract (`Table.constraints()`): reads and writes
  * delegate untouched to the wrapped file table, and stock Spark does
  * the rest — `ResolveTableConstraints` compiles every enforced check
  * into a `CheckInvariant` over each V2 write, so a violating INSERT
  * fails at runtime with no graft-side execution code. Constraints are
  * served ENFORCED/UNVALIDATED (the catalog never claims it scanned
  * existing data) and rely=false. */
private[catalog] class ConstraintTable(protected val inner: Table,
    checks: Seq[(String, String)]) extends ForwardingTable
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.constraints.Constraint

  override def constraints(): Array[Constraint] =
    checks.map { case (n, sql) =>
      Constraint.check(n).predicateSql(sql)
        .enforced(true)
        .validationStatus(Constraint.ValidationStatus.UNVALIDATED)
        .rely(false)
        .build(): Constraint
    }.toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    innerScanBuilder(options)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    innerWriteBuilder(info)
}

/** Serves a PARTITIONED table: reads stay the stock file table
  * (directory partition discovery + pruning); writes route through the
  * V1 path that actually lays out `col=value` directories; partition
  * management is backed by that layout. */
private[catalog] class PartitionedWriteTable(protected val inner: Table,
    ti: TableInfo, partCols: Seq[String]) extends ForwardingTable
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.expressions.Expressions
  import org.apache.spark.sql.connector.read.ScanBuilder
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}

  // ---- partition management (HMS SHOW PARTITIONS / partition-exists
  // surface). The hive-style directory LAYOUT is the source of truth
  // (exactly what recoverPartitions trusts): listing is a driver-side
  // directory scan of `location/col=value`, independent of data size.
  // Mutations are layout-backed too: createPartition materializes the
  // directory; dropPartition refuses (EXTERNAL semantics — the catalog
  // never deletes data; drop the files or re-point the location). ----

  private def partField: StructField = {
    require(partCols.length == 1,
      s"partition management on ${ti.db}.${ti.name} supports single-" +
        "column partitioning; multi-column layouts read/write fine " +
        "but list through the file index only")
    schema().fields.find(_.name == partCols.head).getOrElse(
      StructField(partCols.head, org.apache.spark.sql.types.StringType))
  }

  override def partitionSchema(): StructType = StructType(Seq(partField))

  private def valueOf(dirName: String): Any = {
    val raw = dirName.stripPrefix(s"${partCols.head}=")
    partField.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(raw)
      case org.apache.spark.sql.types.IntegerType => raw.toInt
      case org.apache.spark.sql.types.LongType => raw.toLong
      case dt => throw new UnsupportedOperationException(
        s"partition listing for type ${dt.simpleString} not supported " +
          s"on ${ti.db}.${ti.name} — use the scan path")
    }
  }

  private def partDirs(): Seq[String] =
    Option(new java.io.File(ti.location).list()).toSeq.flatten
      .filter(_.startsWith(s"${partCols.head}=")).sorted

  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    require(names.forall(_ == partCols.head),
      s"unknown partition column(s) ${names.mkString(",")} on " +
        s"${ti.db}.${ti.name}")
    val all = partDirs().map(d => InternalRow(valueOf(d)))
    if (names.isEmpty) all.toArray
    else all.filter(r => r.get(0, partField.dataType) ==
      ident.get(0, partField.dataType)).toArray
  }

  override def partitionExists(ident: InternalRow): Boolean =
    listPartitionIdentifiers(Array(partCols.head), ident).nonEmpty

  override def createPartition(ident: InternalRow,
      properties: util.Map[String, String]): Unit = {
    val v = ident.get(0, partField.dataType)
    new java.io.File(ti.location, s"${partCols.head}=$v").mkdirs(): Unit
  }

  override def dropPartition(ident: InternalRow): Boolean =
    throw new UnsupportedOperationException(
      s"${ti.db}.${ti.name} is EXTERNAL — the catalog never deletes " +
        "data; remove the partition directory or re-point the location")

  override def replacePartitionMetadata(ident: InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "layout-backed partitions carry no separable metadata")

  override def loadPartitionMetadata(ident: InternalRow)
      : util.Map[String, String] =
    if (partitionExists(ident)) util.Collections.emptyMap()
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchPartitionException(name(), ident, partitionSchema())

  override def partitioning(): Array[Transform] =
    partCols.map(Expressions.identity).toArray

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val base = innerScanBuilder(options)
    // storage-partitioned-join serving, opt-in (see [[CoPartitioned]]):
    // with the SPJ flag off the stock builder passes through untouched,
    // keeping catalyst filter pushdown and bin-packed parallelism
    if (CoPartitioned.spjEnabled)
      new CoPartitioned.SpjScanBuilder(base, StructType(partCols.map(c =>
        schema().fields.find(_.name == c).getOrElse(
          StructField(c, org.apache.spark.sql.types.StringType)))))
    else base
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          new org.apache.spark.sql.sources.InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                legacyOverwrite: Boolean): Unit = {
              // cluster the partitioned write by the partition columns
              // (r20 opt, the TransformPartition recipe, guide §2.5/§6):
              // fixture loads arrive as ONE input split, so the dynamic-
              // partition write ran single-task — every partition dir's
              // file created serially (0.7-0.8 s stages across the
              // meta_v2_* keys). The explicit partition count defeats
              // AQE's bytes-based coalesce; each partition value still
              // hashes whole into one task, so the layout law — exactly
              // one file per partition per statement — is preserved (and
              // enforced even for multi-split inputs, where the old
              // shape wrote one file per task per partition).
              val clustered =
                if (partCols.isEmpty) data
                else data.repartition(
                  data.sparkSession.sessionState.conf.numShufflePartitions,
                  partCols.map(org.apache.spark.sql.functions.col): _*)
              clustered.write.format(ti.provider)
                .partitionBy(partCols: _*)
                .mode(if (overwrite) org.apache.spark.sql.SaveMode.Overwrite
                  else org.apache.spark.sql.SaveMode.Append)
                .save(ti.location)
            }
          }
      }
    }
}

/** Branch-attach copy-on-write append routing (the data half of
  * write-audit-publish — see [[WritableSnapshotCatalog.createBranch]]).
  *
  * A branch catalog bootstraps with tables still pointing at MAIN's
  * live locations, so a stock in-place INSERT through the branch would
  * drop files into a directory main readers resolve — an unaudited row
  * leaking past the audit gate. This helper detects a branch attach by
  * its `BASE` marker, and the branch wrappers below turn every plain
  * append/overwrite into a fresh [[Generation]] (an append carries the
  * current one over by hard link: KiB of metadata, bytes shared)
  * published by swapping the BRANCH snapshot's location. Main's
  * snapshot never references the new dir;
  * [[WritableSnapshotCatalog.fastForward]] is what publishes it, and
  * [[WritableSnapshotCatalog.gcGenerations]] reclaims it if the audit
  * is abandoned. Row-level DML (UPDATE/DELETE/MERGE) already stages
  * fresh generations on every path and needs no routing.
  *
  * Scale note (100 TB): the link pass is one inode link per live data
  * file of the table — metadata-speed, zero bytes moved; the append
  * itself is the same executor-parallel file write as anywhere else.
  * Iceberg's wap.branch isolates appends identically (new snapshot
  * files referenced only by the branch ref). */
private[catalog] object BranchCow {
  def isBranchAttach(snapshotDir: String): Boolean =
    new java.io.File(snapshotDir, "BASE").isFile
}

/** Serving wrapper a BRANCH attach puts around the direct table:
  * reads delegate untouched; plain INSERT INTO / INSERT OVERWRITE
  * route through a V1 write that stages a fresh generation and swaps
  * the branch snapshot's location at the end — never a byte into the
  * fork-shared directory (see [[BranchCow]]). */
private[catalog] class BranchCowAppendTable(protected val inner: Table,
    cat: WritableSnapshotCatalog, ti: TableInfo, partCols: Seq[String])
  extends ForwardingTable
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    innerMetadataColumns

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.noneOf(classOf[TableCapability])
    caps.addAll(super.capabilities())
    // writes route V1 here, whatever the inner table speaks
    caps.remove(TableCapability.BATCH_WRITE)
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    innerScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          new org.apache.spark.sql.sources.InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                legacyOverwrite: Boolean): Unit = {
              val gen = Generation.of(ti)
              gen.stage {
                val w = data.write.format(ti.provider)
                  .mode(org.apache.spark.sql.SaveMode.Append)
                (if (partCols.nonEmpty) w.partitionBy(partCols: _*)
                 else w).save(gen.root)
                // OVERWRITE = only the new rows; APPEND carries the
                // current generation over too (fresh writes use fresh
                // UUID part names, so the names stay disjoint)
                if (!(overwrite || legacyOverwrite)) gen.carryOver()
                gen.publish(cat)
              }
            }
          }
      }
    }
}

/** The V2 rendering of branch copy-on-write appends, for unpartitioned
  * PARQUET tables (which are served under the row-level DML wrappers —
  * those build V2 writes for TRUNCATE, so this wrapper must keep the
  * BATCH_WRITE capability; declaring V1_BATCH_WRITE would make the
  * planner reject every V2 write on the table). Its writes are the
  * row-level path's [[CowWrites.swapWrite]], carrying the current
  * generation over on append. */
private[catalog] class BranchCowAppendV2Table(protected val inner: Table,
    cat: WritableSnapshotCatalog, ti: TableInfo)
  extends ForwardingTable
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.noneOf(classOf[TableCapability])
    caps.addAll(super.capabilities())
    caps.add(TableCapability.TRUNCATE)
    caps
  }

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    innerMetadataColumns

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    innerScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write =
        CowWrites.swapWrite(cat, ti, inner.schema(), info,
          carryOver = !overwrite)
    }
}
