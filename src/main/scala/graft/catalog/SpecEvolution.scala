package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** PARTITION SPEC EVOLUTION — `ALTER TABLE t SET TBLPROPERTIES
  * ('graft.part.evolve'='months(ts)')`: change a table's partition
  * transform WITHOUT rewriting a byte of data, the way a long-lived
  * fact table ages (`days(ts)` for the hot year, `months(ts)` from
  * year two; or `identity(region)` → `bucket(64, id)` when a layout
  * choice stops fitting). Iceberg records a spec-id per data file and
  * plans each file under its own spec; this catalog records the spec
  * PER GENERATION LEG:
  *
  *  - the current (location, transform) pair is FROZEN as a prev-leg
  *    property (`graft.part.prev.<n>` = `loc|kinds|srcs|counts|id`),
  *  - the table gets a FRESH location for the new spec (sibling
  *    `_spec<n>` dir) and fresh `graft.part.*` transform props,
  *  - reads UNION every leg, each served through its own stock file
  *    table with its OWN predicate translation — a time-range probe
  *    prunes day dirs on the days leg and month dirs on the months
  *    leg, independently ([[EvolvedScan]]),
  *  - writes land in the CURRENT leg only (the new spec's deriving
  *    V1 write, untouched).
  *
  * Deliberate scope (loud refusals): the TARGET spec must be a
  * transform (single or composite); the source table may be transform-,
  * single-identity- or un-partitioned; merge-on-read tables refuse
  * (their sidecars are generation state, and legs are generations);
  * evolving to the current spec refuses as a no-op; row-level DML and
  * INSERT OVERWRITE refuse on evolved tables (each leg would need its
  * own cell scoping — CTAS compaction back to one spec is the
  * documented path, and the refusal names it). Aggregate pushdown is
  * not forwarded across the union (a COUNT reads both legs' footers
  * through the normal scan instead).
  *
  * 100 TB stance: evolution is METADATA-ONLY — one revision, zero
  * data movement. Every leg keeps its own pruning (translated
  * conjuncts + zone maps), so the cost of an evolved table vs a
  * single-spec one is one extra file-index listing per leg, not a
  * scan. The prev-leg locations are pinned against generation GC
  * exactly like live table locations ([[legLocations]]). */
private[graft] object SpecEvolution {
  val EvolveProp = "graft.part.evolve"
  val PrevPrefix = "graft.part.prev."

  /** One frozen leg: its data location plus the transform (or
    * identity column) its directories were laid out under. */
  final case class LegSpec(location: String, kinds: Seq[String],
      srcs: Seq[String], counts: Seq[String], identity: Option[String]) {
    def encode: String = Seq(location, kinds.mkString(","),
      srcs.mkString(","), counts.mkString(","),
      identity.getOrElse("")).mkString("|")
  }

  private def decode(s: String): LegSpec = {
    val p = s.split("\\|", -1)
    require(p.length == 5, s"malformed prev-leg property '$s'")
    def list(x: String) = if (x.isEmpty) Nil else x.split(",").toSeq
    LegSpec(p(0), list(p(1)), list(p(2)), list(p(3)),
      Option(p(4)).filter(_.nonEmpty))
  }

  def prevLegs(ti: TableInfo): Seq[LegSpec] = ti.properties
    .filter(_.key.startsWith(PrevPrefix))
    .sortBy(_.key.stripPrefix(PrevPrefix).toInt)
    .map(p => decode(p.value))

  /** Every data location the table references beyond `ti.location` —
    * generation GC must treat these as live. */
  def legLocations(ti: TableInfo): Seq[String] = prevLegs(ti).map(_.location)

  /** Parse `"months(ts)"` / `"bucket(8, k)"` /
    * `"days(ts),bucket(4, k)"` into (kind, src, count) triples. */
  def parseSpec(spec: String, ident: String): Seq[(String, String, Int)] = {
    val m = "([a-z]+)\\(([^)]*)\\)".r
    val found = m.findAllMatchIn(spec).toSeq
    require(found.nonEmpty && found.map(_.matched).mkString(",")
        .replaceAll("\\s", "") == spec.replaceAll("\\s", ""),
      s"cannot parse partition spec '$spec' on $ident — expected " +
        "e.g. 'months(ts)' or 'days(ts),bucket(4, k)'")
    found.map { g =>
      val kind = g.group(1)
      val args = g.group(2).split(",").map(_.trim).filter(_.nonEmpty)
      kind match {
        case "days" | "months" | "years" =>
          require(args.length == 1,
            s"$kind takes one column on $ident, got '${g.matched}'")
          (kind, args(0), 0)
        case "bucket" | "bucket_hash" | "truncate" =>
          require(args.length == 2,
            s"$kind takes (count, column) on $ident, " +
              s"got '${g.matched}'")
          val n = scala.util.Try(args(0).toInt).toOption
          require(n.exists(_ > 0),
            s"$kind on $ident needs a positive integer count, " +
              s"got '${g.matched}'")
          (kind, args(1), n.get)
        case other => throw new IllegalArgumentException(
          s"unknown partition transform '$other' on $ident")
      }
    }
  }

  /** Apply `SET TBLPROPERTIES('graft.part.evolve'=...)`: freeze the
    * current layout as a prev leg and install the new spec over a
    * fresh location. Metadata-only; the caller persists the result. */
  def evolve(ti: TableInfo, spec: String): TableInfo = {
    val ident = s"${ti.db}.${ti.name}"
    require(!ti.properties.map(_.key).exists(Mor.dmlProps),
      s"partition spec evolution on $ident refuses merge-on-read " +
        "tables — delete sidecars are generation state, and legs " +
        "are generations; disable the MOR modes first")
    val specs = parseSpec(spec, ident)
    require(specs.map(_._2).distinct.length == specs.length,
      s"each transform needs a distinct source column on $ident")
    // current layout -> leg spec
    val curKinds = ti.properties.find(_.key == TransformPartition.KindProp)
      .map(_.value.split(",").toSeq).getOrElse(Nil)
    val curSrcs = ti.properties.find(_.key == TransformPartition.SrcProp)
      .map(_.value.split(",").toSeq).getOrElse(Nil)
    val curCounts = ti.properties
      .find(_.key == TransformPartition.BucketsProp)
      .map(_.value.split(",").toSeq).getOrElse(Nil)
    require(!(curKinds == specs.map(_._1) &&
        curSrcs == specs.map(_._2) &&
        (curCounts.isEmpty || curCounts == specs.map(s =>
          if (s._1 == "bucket" || s._1 == "bucket_hash" ||
            s._1 == "truncate") s._3.toString
          else "-"))),
      s"$ident already uses spec '$spec' — evolution must change it")
    val identityCols = ti.columns.filter(c => c.isPartition &&
      !curKinds.indices.exists(i =>
        TransformPartition.derivedName(curKinds(i), curSrcs(i)) == c.name))
    require(curKinds.nonEmpty || identityCols.length <= 1,
      s"spec evolution on $ident supports at most one identity " +
        s"partition column, got ${identityCols.map(_.name)}")
    val curDerived = curKinds.indices.map(i =>
      TransformPartition.derivedName(curKinds(i), curSrcs(i))).toSet
    val userCols = ti.columns.filterNot(c => curDerived.contains(c.name))
      .map(_.copy(isPartition = false))
    // validate the new spec against the USER columns
    val newDerived = specs.map { case (kind, src, n) =>
      val sc = userCols.find(_.name == src).getOrElse(
        throw new IllegalArgumentException(
          s"$kind source column $src is not a column of $ident"))
      val dt = sc.dataType.toLowerCase
      kind match {
        case "bucket" | "bucket_hash" => require(
          Set("tinyint", "smallint", "int", "bigint")(dt),
          s"$kind($src) needs an integral source on $ident, got $dt")
        case "truncate" => require(dt == "string",
          s"truncate($src) needs a string source on $ident, got $dt")
        case _ => require(dt.startsWith("timestamp"),
          s"$kind($src) needs a timestamp source on $ident, got $dt")
      }
      val dn = TransformPartition.derivedName(kind, src)
      require(!userCols.exists(_.name == dn),
        s"derived partition column $dn collides with a column of " +
          ident)
      ColumnInfo(dn, TransformPartition.derivedSqlType(kind),
        nullable = false, isPartition = true,
        s"derived by $kind($src) — engine-managed")
    }
    val n = prevLegs(ti).size
    val leg = LegSpec(ti.location, curKinds, curSrcs, curCounts,
      if (curKinds.isEmpty) identityCols.headOption.map(_.name)
      else None)
    // fresh leg location: strip any prior _spec suffix so legs stay
    // siblings of the original dir
    val base = Generation.path(ti.location).replaceAll("_spec\\d+$", "")
    val newLoc = s"${base}_spec${n + 1}"
    new java.io.File(newLoc).mkdirs()
    val kept = ti.properties.filterNot(p =>
      p.key == EvolveProp || p.key == TransformPartition.KindProp ||
        p.key == TransformPartition.SrcProp ||
        p.key == TransformPartition.BucketsProp)
    val transformProps = Seq(
      PropKV(TransformPartition.KindProp, specs.map(_._1).mkString(",")),
      PropKV(TransformPartition.SrcProp, specs.map(_._2).mkString(","))) ++
      (if (specs.exists(s => s._1 == "bucket" || s._1 == "bucket_hash" ||
            s._1 == "truncate"))
        Seq(PropKV(TransformPartition.BucketsProp, specs.map(s =>
          if (s._1 == "bucket" || s._1 == "bucket_hash" ||
            s._1 == "truncate") s._3.toString
          else "-").mkString(",")))
      else Nil)
    ti.copy(
      location = newLoc,
      columns = userCols ++ newDerived,
      properties = (kept :+ PropKV(s"$PrevPrefix$n", leg.encode))
        ++ transformProps)
  }

  /** Rebuild a prev leg's TableInfo: its own location, its own
    * transform props, its own derived/partition columns. */
  def legTableInfo(ti: TableInfo, leg: LegSpec): TableInfo = {
    val curKinds = ti.properties.find(_.key == TransformPartition.KindProp)
      .map(_.value.split(",").toSeq).getOrElse(Nil)
    val curSrcs = ti.properties.find(_.key == TransformPartition.SrcProp)
      .map(_.value.split(",").toSeq).getOrElse(Nil)
    val curDerived = curKinds.indices.map(i =>
      TransformPartition.derivedName(curKinds(i), curSrcs(i))).toSet
    val userCols = ti.columns.filterNot(c => curDerived.contains(c.name))
      .map(c => c.copy(isPartition = leg.identity.contains(c.name)))
    val legDerived = leg.kinds.indices.map { i =>
      val dn = TransformPartition.derivedName(leg.kinds(i), leg.srcs(i))
      ColumnInfo(dn, TransformPartition.derivedSqlType(leg.kinds(i)),
        nullable = false, isPartition = true,
        s"derived by ${leg.kinds(i)}(${leg.srcs(i)}) — engine-managed")
    }
    val legProps = ti.properties.filterNot(p =>
      p.key.startsWith(PrevPrefix) ||
        p.key == TransformPartition.KindProp ||
        p.key == TransformPartition.SrcProp ||
        p.key == TransformPartition.BucketsProp) ++
      (if (leg.kinds.isEmpty) Nil
      else Seq(
        PropKV(TransformPartition.KindProp, leg.kinds.mkString(",")),
        PropKV(TransformPartition.SrcProp, leg.srcs.mkString(","))) ++
        (if (leg.counts.nonEmpty)
          Seq(PropKV(TransformPartition.BucketsProp,
            leg.counts.mkString(",")))
        else Nil))
    ti.copy(location = leg.location, columns = userCols ++ legDerived,
      properties = legProps)
  }
}

/** An evolved table: the union of every leg's stock file table, each
  * with its own predicate translation; writes route to the current
  * (last) leg. `legs` = (served table, translation derivers — empty
  * for identity/plain legs, whose pruning is stock); `current` is the
  * fully-wrapped current-spec table (its V1 write derives the new
  * layout). */
private[catalog] class EvolvedPartitionTable(tableName: String,
    userSchema: StructType,
    legs: Seq[(Table, Seq[PartDeriver])],
    current: Table) extends Table with SupportsRead with SupportsWrite {

  override def name(): String = tableName
  override def schema(): StructType = userSchema
  override def partitioning(): Array[Transform] = current.partitioning()
  override def properties(): java.util.Map[String, String] =
    current.properties()

  // no TRUNCATE: INSERT OVERWRITE would have to clear every leg —
  // refused (CTAS back to one spec is the compaction path)
  override def capabilities(): java.util.Set[TableCapability] =
    (if (current.capabilities().contains(TableCapability.V1_BATCH_WRITE))
      Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)
    else Set[TableCapability](TableCapability.BATCH_READ)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new EvolvedScanBuilder(legs.map { case (t, ds) =>
      val stock = t.asInstanceOf[SupportsRead].newScanBuilder(options)
      if (ds.isEmpty) stock else new TransformScanBuilder(stock, ds)
    })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val b = current.asInstanceOf[SupportsWrite].newWriteBuilder(info)
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): WriteBuilder =
        throw new UnsupportedOperationException(
          s"INSERT OVERWRITE refuses on spec-evolved $tableName — " +
            "it would clear every spec leg; CTAS into a fresh table " +
            "to compact the legs onto one spec")
      override def build(): org.apache.spark.sql.connector.write.Write =
        b.build()
    }
  }
}

/** Forwards pruning/pushdown to every leg builder (each leg prunes
  * its OWN directories through its own translation); reports every
  * filter as residual so Spark re-applies them above the union —
  * correctness never depends on a leg's pushdown completeness. */
private[catalog] class EvolvedScanBuilder(builders: Seq[ScanBuilder])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  private var canonical: StructType = new StructType()

  override def pruneColumns(requiredSchema: StructType): Unit = {
    canonical = requiredSchema
    builders.foreach {
      case p: SupportsPushDownRequiredColumns =>
        p.pruneColumns(requiredSchema)
      case _ => ()
    }
  }

  override def pushFilters(
      fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    builders.foreach {
      case f: org.apache.spark.sql.internal.connector
          .SupportsPushDownCatalystFilters => f.pushFilters(fs): Unit
      case _ => ()
    }
    fs // every filter re-applies above the union
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def build(): Scan =
    new EvolvedScan(builders.map(_.build()), canonical)
}

private[catalog] case class LegInputPartition(leg: Int,
    inner: InputPartition) extends InputPartition {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Concatenation of the per-leg scans. Each leg's reader output is
  * PROJECTED by name onto the canonical pruned schema (a leg's file
  * scan may order requested columns differently — partition columns
  * last), so every leg emits identical row layouts. */
private[graft] class EvolvedScan(scans: Seq[Scan],
    canonical: StructType) extends Scan {

  override def readSchema(): StructType = canonical
  override def description(): String =
    s"graft-evolved-union(${scans.map(_.description()).mkString("; ")})"

  /** Per-leg planned file paths — the fixture's pruning evidence. */
  def plannedByLeg(): Seq[Seq[String]] =
    scans.map(_.toBatch.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString).toSeq
      case _ => Nil
    })

  override def toBatch: Batch = new Batch {
    private val batches = scans.map(_.toBatch)
    override def planInputPartitions(): Array[InputPartition] =
      batches.zipWithIndex.flatMap { case (b, i) =>
        b.planInputPartitions().map(LegInputPartition(i, _))
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory = {
      val factories = batches.map(_.createReaderFactory()).toArray
      val mappings = scans.map { s =>
        val rs = s.readSchema()
        canonical.fields.map(f => rs.fieldIndex(f.name))
      }.toArray
      val types = canonical.fields.map(_.dataType)
      new LegReaderFactory(factories, mappings, types)
    }
  }
}

private[catalog] class LegReaderFactory(
    factories: Array[PartitionReaderFactory],
    mappings: Array[Array[Int]],
    types: Array[org.apache.spark.sql.types.DataType])
  extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = false
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val lp = p.asInstanceOf[LegInputPartition]
    val dr = factories(lp.leg).createReader(lp.inner)
    val map = mappings(lp.leg)
    new PartitionReader[InternalRow] {
      private val out =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          types.length)
      override def next(): Boolean = dr.next()
      override def get(): InternalRow = {
        val row = dr.get()
        var i = 0
        while (i < map.length) {
          out.update(i,
            if (row.isNullAt(map(i))) null else row.get(map(i), types(i)))
          i += 1
        }
        out
      }
      override def close(): Unit = dr.close()
    }
  }
}
