package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** NON-IDENTITY PARTITION TRANSFORMS — hidden partitioning for the
  * writable snapshot catalog: `PARTITIONED BY (bucket(N, col))` and
  * `PARTITIONED BY (days(ts))`, the lakehouse-standard layouts for a
  * 100 TB fact table (the HMS partition object generalized — users
  * never write, insert, or even see a derived column).
  *
  * Model: the catalog persists ONE derived partition column
  * (`<src>_bucket` INT / `<src>_day` STRING) next to the user schema,
  * plus `graft.part.*` properties recording the transform. The file
  * layout is ordinary hive `derived=value` directories, so the READ
  * side is the stock file table + stock partition pruning; the catalog
  * contributes three things:
  *  - WRITES derive the directory value engine-side
  *    ([[TransformPartitionTable]]'s V1 write computes the derived
  *    column and `partitionBy`s it — a NULL source refuses loudly);
  *  - SCANS hide the derived column from the table schema and
  *    TRANSLATE pushed predicates on the source column into implied
  *    predicates on the derived one (`k = 42` additionally pushes
  *    `k_bucket = 42 mod N`; a timestamp range pushes a day range —
  *    [[TransformScanBuilder]]), which the stock builder turns into
  *    partition pruning exactly as if the user had written the
  *    derived predicate;
  *  - row-level DML scopes at PARTITION granularity through the one
  *    partition-scoped table identity layouts use
  *    ([[PartitionScopedRowLevelTable]]), with a [[PartDeriver]]
  *    sequence mapping each row's SOURCE value to its directory (a
  *    DELETE touching one bucket rewrites one bucket and hard-links
  *    the rest).
  *
  * COMPOSITE transforms compose by SEQUENCE: `PARTITIONED BY
  * (days(ts), bucket(16, id))` — the canonical 100 TB fact-table
  * layout (time pruning AND write fan-in control together) — lays out
  * NESTED `ts_day=.../id_bucket=k` directories. Each transform in the
  * sequence contributes its own derived column, its own predicate
  * translation (the conjuncts compose — a time-range AND key-point
  * probe plans the intersected dir set), and its own component of the
  * (day,bucket) CELL that scopes row-level DML.
  *
  * Deliberate scope (loud refusals, SURVEY §2 discipline): bucket
  * sources must be integral, days sources timestamps; transform
  * sequences mix transforms only (no identity columns in a composite);
  * no MOR modes on transform tables (partition-scoped COW serves
  * their DML); `days` requires a UTC session (the directory value
  * pins the UTC day boundary).
  *
  * The bucket function is `((v mod N) + N) mod N` — deliberately
  * modulo, not murmur3 (Iceberg's choice): the transform must replay
  * exactly in the DuckDB oracle, and modulo keeps key-range fixtures
  * deterministic. A murmur bucket would drop in behind the same
  * [[PartDeriver]] seam. */
private[catalog] object TransformPartition {
  // comma-aligned lists, one entry per transform in sequence order
  // (a single transform is the 1-element degenerate case, so r18
  // tables parse unchanged); BucketsProp holds '-' for time units
  val KindProp = "graft.part.kind" // bucket | days | months | years | truncate
  val SrcProp = "graft.part.src"
  val BucketsProp = "graft.part.buckets" // bucket count / truncate width

  def derivedName(kind: String, src: String): String = kind match {
    case "bucket" => s"${src}_bucket"
    case "bucket_hash" => s"${src}_bhash"
    case "days" => s"${src}_day"
    case "months" => s"${src}_month"
    case "years" => s"${src}_year"
    case "truncate" => s"${src}_trunc"
  }

  def derivedSqlType(kind: String): String = kind match {
    case "bucket" | "bucket_hash" => "int"
    case _ => "string" // days/months/years: lexicographic == chrono
  }

  /** The deriver SEQUENCE for a transform-partitioned table, in
    * directory-nesting order (empty for plain tables; one element for
    * a single transform). */
  def derivers(ti: TableInfo): Seq[PartDeriver] = {
    val kindsOpt = ti.properties.find(_.key == KindProp).map(_.value)
    if (kindsOpt.isEmpty) return Nil
    val kinds = kindsOpt.get.split(",").toSeq
    val srcs = ti.properties.find(_.key == SrcProp).getOrElse(
      throw new IllegalStateException(
        s"$SrcProp missing on transform table ${ti.db}.${ti.name}"))
      .value.split(",").toSeq
    val counts = ti.properties.find(_.key == BucketsProp)
      .map(_.value.split(",").toSeq).getOrElse(Nil)
    require(kinds.length == srcs.length,
      s"misaligned transform properties on ${ti.db}.${ti.name}: " +
        s"kinds=$kinds srcs=$srcs")
    kinds.indices.map { i =>
      val k = kinds(i)
      val src = srcs(i)
      val sc = ti.columns.find(_.name == src).getOrElse(
        throw new IllegalStateException(
          s"transform source column $src missing on ${ti.db}.${ti.name}"))
      val f = StructField(sc.name,
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseDataType(sc.dataType), sc.nullable)
      def count: Int = counts.lift(i).filter(_ != "-").map(_.toInt)
        .getOrElse(throw new IllegalStateException(
          s"$k transform on ${ti.db}.${ti.name} misses its count in " +
            s"$BucketsProp=$counts"))
      k match {
        case "bucket" => BucketDeriver(f, count)
        case "bucket_hash" => BucketHashDeriver(f, count)
        case "truncate" => TruncateDeriver(f, count)
        case "days" | "months" | "years" =>
          // the directory value pins the UTC unit boundary; under a
          // non-UTC session the write expression (date_format, session
          // tz) and the deriver/translator (UTC math) would disagree —
          // a silent wrong-pruning hazard, so refuse loudly instead
          val tz = org.apache.spark.sql.SparkSession.active
            .sessionState.conf.sessionLocalTimeZone
          val utc =
            try java.time.ZoneId.of(tz).normalized() ==
              java.time.ZoneOffset.UTC
            catch { case scala.util.control.NonFatal(_) => false }
          require(utc,
            s"time partition transforms on ${ti.db}.${ti.name} pin " +
              s"the UTC unit boundary; set " +
              s"spark.sql.session.timeZone=UTC (session has '$tz')")
          TimeDeriver(f, k)
        case other => throw new IllegalStateException(
          s"unknown partition transform '$other' on ${ti.db}.${ti.name}")
      }
    }
  }
}

private[catalog] case class BucketDeriver(
    srcField: StructField, n: Int) extends PartDeriver {
  override def derivedName: String =
    TransformPartition.derivedName("bucket", srcField.name)
  override def derivedType: DataType = IntegerType
  override def derive(v: Any): Any = {
    val l = v match {
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"bucket(${srcField.name}) on non-integral value $other")
    }
    (((l % n) + n) % n).toInt
  }
}

/** bucket_hash(N, integralCol) — the PRODUCTION bucket function:
  * Iceberg's bucket transform verbatim,
  * `(murmur3_x86_32(littleEndian64(v)) & Int.MaxValue) % N`, for skew
  * resistance on correlated keys (sequential ids, zipfian customers —
  * where modulo folds the correlation straight into the layout).
  * `Murmur3_x86_32.hashLong(v, 0)` IS the murmur3-32 of the 8
  * little-endian bytes (same block decomposition), so the scalar
  * deriver here and the codegen'd write expression
  * (`Murmur3Hash(seed=0)` — Spark's own hash over the identical
  * static function) agree bit-for-bit, and both match Iceberg's
  * published vector `hash(34L) == 2017239379` (engine-asserted in
  * the fixture — the golden pin that replaces SQL oracle replay,
  * since DuckDB has no murmur3-32). pmod [[BucketDeriver]] stays the
  * default for oracle-replayable fixtures. */
private[catalog] case class BucketHashDeriver(
    srcField: StructField, n: Int) extends PartDeriver {
  override def derivedName: String =
    TransformPartition.derivedName("bucket_hash", srcField.name)
  override def derivedType: DataType = IntegerType
  override def derive(v: Any): Any = {
    val l = v match {
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"bucket_hash(${srcField.name}) on non-integral value $other")
    }
    (BucketHashDeriver.hash(l) & Int.MaxValue) % n
  }
}

private[graft] object BucketHashDeriver {
  /** murmur3-x86-32 of the little-endian 64-bit value, seed 0 —
    * Iceberg's bucket hash for int/long sources. */
  def hash(l: Long): Int =
    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(l, 0)
}

/** truncate(width, stringCol) — the prefix layout (Iceberg's truncate
  * transform, restricted to STRING sources where it is exactly the
  * character prefix): `url_trunc=http` style dirs. Prefix truncation
  * is MONOTONE in lexicographic order (a <= b implies trunc(a) <=
  * trunc(b) at equal width), so range predicates translate like the
  * time units'. */
private[catalog] case class TruncateDeriver(srcField: StructField,
    width: Int) extends PartDeriver {
  override def derivedName: String =
    TransformPartition.derivedName("truncate", srcField.name)
  override def derivedType: DataType = StringType
  override def derive(v: Any): Any = v match {
    case s: UTF8String => s.substring(0, width)
    case other => throw new IllegalArgumentException(
      s"truncate(${srcField.name}) on non-string value $other")
  }
}

/** days / months / years over a timestamp column — all render the
  * UTC calendar unit as a STRING whose lexicographic order equals the
  * chronological one ('2021-03-05' / '2021-03' / '2021'), so range
  * predicates translate into pushable string ranges. */
private[catalog] case class TimeDeriver(srcField: StructField,
    unit: String) extends PartDeriver {
  override def derivedName: String =
    TransformPartition.derivedName(unit, srcField.name)
  override def derivedType: DataType = StringType
  private def dateOf(v: Any): java.time.LocalDate = {
    val micros = v match {
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$unit(${srcField.name}) on non-timestamp value $other")
    }
    java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, 86400000000L))
  }
  override def derive(v: Any): Any = {
    val d = dateOf(v)
    UTF8String.fromString(unit match {
      case "days" => d.toString
      case "months" => f"${d.getYear}%04d-${d.getMonthValue}%02d"
      case "years" => f"${d.getYear}%04d"
    })
  }
  /** True iff `v` sits EXACTLY on the unit boundary — a strict `<`
    * against such a literal excludes the literal's own unit. */
  def unitStart(v: Any): Boolean = v match {
    case l: Long if Math.floorMod(l, 86400000000L) == 0L =>
      val d = dateOf(v)
      unit match {
        case "days" => true
        case "months" => d.getDayOfMonth == 1
        case "years" => d.getDayOfYear == 1
      }
    case _ => false
  }
}

/** Serving wrapper for a transform-partitioned table: hides the
  * derived column(s), translates predicates, derives directory values
  * on write. Reads otherwise delegate to the stock file table. A
  * composite transform sequence nests dirs in sequence order. */
private[catalog] class TransformPartitionTable(protected val inner: Table,
    ti: TableInfo, derivers: Seq[PartDeriver],
    cat: Option[WritableSnapshotCatalog], branchAttach: Boolean)
  extends ForwardingTable with SupportsRead with SupportsWrite {

  private val derivedNames = derivers.map(_.derivedName).toSet

  override def schema(): StructType = StructType(
    super.schema().fields.filterNot(f => derivedNames.contains(f.name)))

  override def partitioning(): Array[Transform] = derivers.map {
    case BucketDeriver(f, n) => Expressions.bucket(n, f.name)
    case BucketHashDeriver(f, n) =>
      Expressions.apply("bucket_hash",
        Expressions.literal(n), Expressions.column(f.name))
    case TruncateDeriver(f, w) =>
      Expressions.apply("truncate",
        Expressions.literal(w), Expressions.column(f.name))
    case TimeDeriver(f, "days") => Expressions.days(f.name)
    case TimeDeriver(f, "months") => Expressions.months(f.name)
    case TimeDeriver(f, "years") => Expressions.years(f.name)
    case d => throw new IllegalStateException(s"unreportable deriver $d")
  }.toArray

  /** A READ-ONLY attach (cat=None, non-branch) must not declare write
    * capabilities: an INSERT through it would mutate the shared live
    * directory behind every other attach's back, bypassing generation
    * discipline. Writes belong to the writable/branch attaches. */
  override def capabilities(): util.Set[TableCapability] =
    if (cat.isEmpty && !branchAttach)
      Set[TableCapability](TableCapability.BATCH_READ).asJava
    else
      Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new TransformScanBuilder(innerScanBuilder(options), derivers)

  /** V1 write deriving the directory column engine-side. Appends land
    * in place (the hive-partitioned discipline); on a BRANCH attach
    * they stage a hard-linked generation + branch-local swap instead
    * ([[BranchCow]]); OVERWRITE is static full-table semantics —
    * always a fresh generation + atomic location swap (read-only
    * attaches have no write path at all). */
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
              import org.apache.spark.sql.functions._
              // capabilities() already hides writes from read-only
              // attaches; throw too in case a caller builds the write
              // directly
              if (cat.isEmpty && !branchAttach)
                throw new UnsupportedOperationException(
                  s"${ti.db}.${ti.name} is served through a READ-ONLY " +
                    "attach — writes to a transform-partitioned table " +
                    "require the writable catalog (generation " +
                    "discipline owns the live directory)")
              val ow = overwrite || legacyOverwrite
              val derived0 = derivers.foldLeft(data) { (df, deriver) =>
                val src = col(deriver.srcField.name)
                val dexp = deriver match {
                  case BucketDeriver(_, n) =>
                    pmod(src.cast("long"), lit(n.toLong)).cast("int")
                  case bh @ BucketHashDeriver(_, _) =>
                    // the SAME scalar deriver, as a udf — bit-parity
                    // by construction. Deliberate deviation from the
                    // functions-not-udfs rule: Spark's public surface
                    // pins murmur3 at seed 42 (`hash()`), Iceberg's
                    // bucket needs seed 0, and the private Column
                    // bridge is off-limits; this runs on the WRITE
                    // path only (shuffle+IO bound — the udf is noise)
                    // and the read side never evaluates it (predicate
                    // translation calls the deriver directly).
                    org.apache.spark.sql.functions.udf(
                      (l: java.lang.Long) =>
                        if (l == null) null
                        else java.lang.Integer.valueOf(
                          bh.derive(l.longValue()).asInstanceOf[Int]))
                      .apply(src.cast("long"))
                  case TruncateDeriver(_, w) => substring(src, 1, w)
                  case TimeDeriver(_, "days") =>
                    date_format(src, "yyyy-MM-dd")
                  case TimeDeriver(_, "months") =>
                    date_format(src, "yyyy-MM")
                  case TimeDeriver(_, "years") =>
                    date_format(src, "yyyy")
                  case other => throw new IllegalStateException(
                    s"no write expression for deriver $other")
                }
                // EMPTY strings are refused next to NULLs: the hive
                // layout renders an empty partition value as the
                // default partition (read back as NULL), while the
                // predicate translator would derive '' — a pruned-away
                // row. Loud refusal keeps layout/translation bijective.
                val badSrc = deriver match {
                  case _: TruncateDeriver =>
                    src.isNull || length(src) === 0
                  case _ => src.isNull
                }
                val guarded = when(badSrc, raise_error(lit(
                    s"NULL/empty in partition source " +
                      s"${deriver.srcField.name} — transform-" +
                      "partitioned tables refuse the default partition")))
                  .otherwise(dexp)
                df.withColumn(deriver.derivedName, guarded)
              }
              // HIGH-CARDINALITY transforms (days: hundreds-thousands
              // of dirs) must cluster the write by the derived value —
              // without it every task writes a sliver into every day
              // it sees (tasks × days tiny files, the classic
              // over-partitioned write; measured 54 s vs ~3 s on the
              // fixture). One shuffle, one file per leaf dir per
              // statement — exactly what downstream compaction wants.
              // LOW-cardinality transforms (bucket(4), years) skip it:
              // clustering would cap write parallelism at N dirs, and
              // tasks × N files is already fine. A COMPOSITE clusters
              // on ALL derived columns whenever any member is high-
              // cardinality (the leaf count is the product, and the
              // product of a days term is always high).
              val highCard = derivers.exists {
                case TimeDeriver(_, "days") | TimeDeriver(_, "months") =>
                  true
                case _ => false
              }
              val dcols = derivers.map(d => col(d.derivedName))
              // EXPLICIT partition count (r19 opt, guide §2.2/§2.5): a
              // column-only repartition is advisory, so AQE coalesces
              // the small post-shuffle stage to ONE task — which then
              // writes every leaf dir's file serially (measured 4.3 s
              // single-task write stage on the days×bucket fixture,
              // 0.4 s once pinned). Pinning the session's shuffle
              // parallelism keeps cells whole (each cell hashes to one
              // task ⇒ still one file per leaf per statement) while
              // spreading distinct cells across the cluster; the count
              // scales with the deployment via
              // spark.sql.shuffle.partitions, not a local constant.
              val writeParts = data.sparkSession.sessionState.conf
                .numShufflePartitions
              val withDerived =
                if (highCard) derived0.repartition(writeParts, dcols: _*)
                else derived0
              def save(target: String): Unit =
                withDerived.write.format(ti.provider)
                  .partitionBy(derivers.map(_.derivedName): _*)
                  .mode(org.apache.spark.sql.SaveMode.Append)
                  .save(target)
              // appends land in place; an overwrite, and any write
              // through a branch attach (never a byte into the shared
              // dir), stage a fresh generation — a branch append
              // carrying the current one over
              if (!ow && !branchAttach) save(Generation.path(ti.location))
              else {
                val c = cat.getOrElse(throw new IllegalStateException(
                  s"write to ${ti.db}.${ti.name} without a writable " +
                    "catalog attach"))
                val gen = Generation.of(ti)
                gen.stage {
                  save(gen.root)
                  if (!ow) gen.carryOver()
                  gen.publish(c)
                }
              }
            }
          }
      }
    }
}

/** Forwards pushdown to the stock file builder, ADDING the implied
  * derived-column conjuncts ([[TransformPartition]] scaladoc) — one
  * translation pass PER deriver in a composite, so a time-range AND
  * key-point probe pushes both implied conjuncts and the stock
  * builder prunes to the intersected dir set. The synthesized
  * predicates are implied by the originals, so results never change.
  * Synthesized conjuncts are stripped from the reported residue
  * (Spark cannot evaluate a hidden attribute post-scan). */
private[catalog] class TransformScanBuilder(
    protected val delegate: ScanBuilder, derivers: Seq[PartDeriver])
  extends ScanBuilder with ForwardsColumns with ForwardsFilters
  // aggregate pushdown (COUNT/MIN/MAX from footers) forwards — the
  // wrapper must not cost a clean table its metadata-only aggregates
  with ForwardsAggregates {

  private def translate(deriver: PartDeriver,
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions._
    def onSrc(a: Expression): Boolean = a match {
      case ar: AttributeReference =>
        ar.name.equalsIgnoreCase(deriver.srcField.name)
      case _ => false
    }
    def dAttr = AttributeReference(deriver.derivedName,
      deriver.derivedType)()
    def dLit(v: Any): Literal = {
      val d = deriver.derive(v)
      // an EMPTY derived prefix has no directory form (hive renders
      // empty as the default partition) — never synthesize on it
      d match {
        case u: UTF8String if u.numChars() == 0 =>
          throw new IllegalArgumentException("empty derived prefix")
        case _ => ()
      }
      Literal(d, deriver.derivedType)
    }
    // an un-derivable literal (wrong runtime type) just skips the
    // synthesized conjunct — the original predicate still evaluates
    def guard(e: => Expression): Option[Expression] =
      try Some(e)
      catch { case scala.util.control.NonFatal(_) => None }
    // time units and string prefixes are monotone (range predicates
    // imply unit/prefix ranges); bucket is not (points only)
    val monotone = deriver.isInstanceOf[TimeDeriver] ||
      deriver.isInstanceOf[TruncateDeriver]
    // ts < exact-unit-boundary M excludes M's own unit entirely — the
    // tight bound window shapes deserve; any other literal keeps the
    // conservative <= (its unit may still hold earlier rows)
    def dayStart(v: Any): Boolean = deriver match {
      case t: TimeDeriver => t.unitStart(v)
      case _ => false
    }
    e match {
      case EqualTo(a, Literal(v, _)) if onSrc(a) && v != null =>
        guard(EqualTo(dAttr, dLit(v)))
      case EqualTo(Literal(v, _), a) if onSrc(a) && v != null =>
        guard(EqualTo(dAttr, dLit(v)))
      case In(a, vs) if onSrc(a) && vs.nonEmpty && vs.forall {
          case Literal(v, _) => v != null
          case _ => false } =>
        guard(In(dAttr, vs.map(l =>
          dLit(l.asInstanceOf[Literal].value))))
      case GreaterThan(a, Literal(v, _))
          if monotone && onSrc(a) && v != null =>
        guard(GreaterThanOrEqual(dAttr, dLit(v)))
      case GreaterThanOrEqual(a, Literal(v, _))
          if monotone && onSrc(a) && v != null =>
        guard(GreaterThanOrEqual(dAttr, dLit(v)))
      case LessThan(a, Literal(v, _))
          if monotone && onSrc(a) && v != null =>
        guard(if (dayStart(v)) LessThan(dAttr, dLit(v))
          else LessThanOrEqual(dAttr, dLit(v)))
      case LessThanOrEqual(a, Literal(v, _))
          if monotone && onSrc(a) && v != null =>
        guard(LessThanOrEqual(dAttr, dLit(v)))
      // symmetric literal-first range forms
      case GreaterThan(Literal(v, _), a)
          if monotone && onSrc(a) && v != null =>
        guard(if (dayStart(v)) LessThan(dAttr, dLit(v))
          else LessThanOrEqual(dAttr, dLit(v)))
      case GreaterThanOrEqual(Literal(v, _), a)
          if monotone && onSrc(a) && v != null =>
        guard(LessThanOrEqual(dAttr, dLit(v)))
      case LessThan(Literal(v, _), a)
          if monotone && onSrc(a) && v != null =>
        guard(GreaterThanOrEqual(dAttr, dLit(v)))
      case LessThanOrEqual(Literal(v, _), a)
          if monotone && onSrc(a) && v != null =>
        guard(GreaterThanOrEqual(dAttr, dLit(v)))
      case _ => None
    }
  }

  private var synthesized
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil

  override def pushFilters(
      fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    synthesized =
      derivers.flatMap(d => fs.flatMap(f => translate(d, f)))
    // never report a hidden-attribute conjunct back as residue
    super.pushFilters(fs ++ synthesized)
      .filterNot(r => synthesized.exists(_ fastEquals r))
  }

  override def build(): Scan = delegate.build()
}

/** TRANSFORM-AWARE COMPACTION — the small-file coalesce for hidden-
  * partitioned layouts: every clustered statement write lands one
  * file per derived cell ([[TransformPartitionTable]]'s write path),
  * so a daily-append table accumulates K files per day. This rewrites
  * each cell with >= `minFiles` data files into ONE file, PRESERVING
  * the derived directory layout, and publishes through the same COW
  * discipline as row-level DML: a fresh [[Generation]], untouched
  * cells hard-linked file-for-file (zero bytes moved), one atomic
  * location swap — which also routes the incremental stats path, so
  * only the freshly-compacted files pay a footer read
  * ([[FileSkipping.analyze]]'s previous-generation reuse).
  *
  * Scale: ONE Spark job regardless of cell count — the multi-file
  * cells are read with the root as basePath (derived columns ride in
  * from the directories), clustered by the full derived tuple, and
  * written back `partitionBy` the same tuple; single-file cells are
  * never opened. */
private[graft] object TransformCompaction {

  /** What one compaction did (cell paths relative to the root). */
  final case class CompactResult(newRoot: String,
      compacted: Seq[String], linked: Seq[String])

  private def leafDirs(root: java.io.File, depth: Int): Seq[String] = {
    def walk(d: java.io.File, lvl: Int): Seq[String] =
      Option(d.listFiles()).toSeq.flatten
        .filter(c => c.isDirectory && c.getName.contains("="))
        .flatMap { c =>
          if (lvl == depth - 1) Seq(c.getName)
          else walk(c, lvl + 1).map(rel => s"${c.getName}/$rel")
        }
    walk(root, 0)
  }

  def compact(s: SparkSession, cat: WritableSnapshotCatalog,
      ti: TableInfo, minFiles: Int = 2): CompactResult = {
    val derivers = TransformPartition.derivers(ti)
    require(derivers.nonEmpty,
      s"${ti.db}.${ti.name} is not transform-partitioned — " +
        "meta_v2_compact's location-swap compaction serves identity " +
        "and unpartitioned tables")
    require(minFiles >= 2,
      s"minFiles must be >= 2, got $minFiles")
    val root = Generation.path(ti.location)
    val cells = leafDirs(new java.io.File(root), derivers.length)
      .map(rel => rel -> Generation.dataFiles(new java.io.File(root, rel)))
    val (toCompact, toLink) =
      cells.partition(_._2.length >= minFiles)
    if (toCompact.isEmpty)
      return CompactResult(root, Nil, toLink.map(_._1))
    val gen = Generation.of(ti)
    gen.stage {
      import org.apache.spark.sql.functions.col
      // one job over ONLY the multi-file cells; basePath restores the
      // derived partition columns from the directory names
      val df = s.read.option("basePath", root).format(ti.provider)
        .load(toCompact.map(c => s"$root/${c._1}"): _*)
      val dcols = derivers.map(d => col(d.derivedName))
      // explicit count for the same reason as the clustered write path:
      // AQE would coalesce the advisory column-only repartition to one
      // task and serialize the per-cell rewrite; cells still land whole
      // (one output file per compacted cell).
      df.repartition(s.sessionState.conf.numShufflePartitions, dcols: _*)
        .write.format(ti.provider)
        .partitionBy(derivers.map(_.derivedName): _*)
        .mode(org.apache.spark.sql.SaveMode.Append)
        .save(gen.root)
      // untouched cells carry over by inode — byte-identical proof,
      // and the stats shards covering them reuse across the swap
      gen.carryOver(except = toCompact.map(_._1).toSet)
      gen.publish(cat)
      CompactResult(gen.root, toCompact.map(_._1), toLink.map(_._1))
    }
  }
}
