package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** FILE-LEVEL MIN/MAX SKIPPING for snapshot-catalog parquet tables —
  * the zone-map half of a lakehouse manifest, kept catalog-side.
  *
  * `analyze(location)` reads data-file parquet FOOTERS (metadata only —
  * no row is touched) and persists per-file min/max/nullCount for
  * every supported top-level column as a SHARDED MANIFEST: immutable
  * uuid-named shard files under `_graft_stats.d/`, published by one
  * atomic swap of the `_graft_stats.json` pointer (the Iceberg
  * metadata.json → manifest-list shape, rendered on this catalog's
  * directory model). Serving wraps the stock DSv2 parquet table so a
  * filtered scan drops whole FILES whose stats refute the pushed
  * predicates BEFORE tasks are scheduled.
  *
  * Why this matters at 100 TB: Spark's parquet reader already skips
  * ROW GROUPS from footers, but only inside a task that was already
  * scheduled against the file — the cluster still pays one task (and
  * one footer round-trip, on object storage one GET) per file per
  * query. With file-level stats the planner never emits those tasks:
  * a time- or key-range query over a sorted/clustered table touches
  * the files that can match and nothing else, exactly like an Iceberg
  * manifest or a Delta add-file stats prune (public designs; see
  * SNIPPETS.md).
  *
  * ANALYZE COST MODEL (the part that must survive 10⁵–10⁶ files):
  *  - footer reads fan out EXECUTOR-PARALLEL (one Spark job over the
  *    file list — the multimodal mapPartitions discipline) whenever a
  *    session is active; the driver-serial loop remains only as the
  *    no-session fallback;
  *  - re-analyze is INCREMENTAL: every shard entry records its file's
  *    identity fingerprint (inode:size:mtime), so an analyze after an
  *    append re-reads ONLY the new files' footers and re-references
  *    the existing shards byte-untouched; a COW generation swap that
  *    hard-links N files and adds M passes the OLD location as
  *    `previous` and re-harvests M footers, not N+M — the old shards
  *    are hard-linked across (inode links, zero bytes);
  *  - resolution cost is pointer + uncached shards: shards are
  *    immutable and uuid-named, so a driver-side cache keyed on
  *    (path, size, mtime) makes repeated resolutions O(pointer).
  *
  * SAFETY MODEL (pruning must never change results):
  *  - a file ABSENT from the stats doc is always read — files appended
  *    after the last analyze are never pruned, only unoptimized (new
  *    writes land under fresh UUID part names, never reusing a
  *    stats-covered name; a COW generation swap changes the directory
  *    itself, leaving the new generation statless until re-analyzed);
  *  - a COLUMN absent from a file's entry never prunes that file
  *    (unsupported physical type, truncated/absent footer stats, or a
  *    post-analyze schema change);
  *  - string bounds prune only when bounds and literal are pure ASCII
  *    (parquet orders strings by unsigned UTF-8 byte; JVM compareTo
  *    orders by UTF-16 unit — they agree exactly on ASCII);
  *  - float/double bounds never prune when a NaN is anywhere in play;
  *  - any unrecognized predicate shape keeps the file.
  * Correctness therefore never depends on stats freshness; only the
  * amount of skipping does.
  */
object FileSkipping {

  val StatsFileName = "_graft_stats.json"

  /** Directory (next to the pointer) holding the immutable, uuid-named
    * manifest shards a version-2 pointer references. */
  val ShardDirName = "_graft_stats.d"

  /** Opt-in table property: when "true", every generation swap the
    * catalog publishes (SET LOCATION, COW row-level commit, cross-
    * table publish) immediately re-analyzes the NEW location, so a
    * freshly-compacted/rewritten table never serves a statless window.
    * The swap passes the OLD location as `previous`, so the re-analyze
    * is O(delta): hard-linked carry-over files reuse their shard
    * entries by identity fingerprint; only the swap's fresh files pay
    * a footer read. Failure is non-fatal by design — the publish
    * already committed, and a missing stats doc only disables pruning,
    * never correctness. */
  val AutoProp = "graft.stats.auto"

  /** Max entries per freshly-written stats shard — keeps every JSON
    * doc KiB-bounded regardless of table size (a 10^6-file cold
    * analyze writes ~250 shards, each independently reusable). The
    * system property exists so the spec can exercise multi-shard
    * cold analyzes on small fixtures. */
  private def ShardCap: Int = sys.props.get("graft.stats.shardCap")
    .flatMap(_.toIntOption).filter(_ > 0).getOrElse(4096)

  private[catalog] def isAuto(props: Seq[PropKV]): Boolean =
    props.exists(p => p.key == AutoProp && p.value.equalsIgnoreCase("true"))

  private[catalog] def autoAnalyze(props: Seq[PropKV],
      location: String, previous: Option[String] = None): Unit =
    if (isAuto(props))
      try { analyze(location, previous); () }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] $AutoProp: post-publish analyze " +
            s"of $location failed (pruning disabled until the next " +
            s"successful analyze): $e")
      }

  /** One column's footer stats for one file. min/max are rendered to
    * string (dtype says how to parse back); hasMinMax=false means the
    * column had no usable value bounds (all-null file, truncated
    * binary stats, NaN pollution) — nullCount may still prune
    * IS [NOT] NULL. nullCount = -1 means unknown. */
  case class ColStat(dtype: String, min: String, max: String,
      nullCount: Long, hasMinMax: Boolean)

  case class FileStat(rows: Long, cols: Map[String, ColStat])

  /** Legacy version-1 inline document (still readable — a v1 doc left
    * by an older analyze keeps pruning until the next analyze). */
  private case class StatsDoc(version: Int, files: Map[String, FileStat])

  /** Version-2 pointer: the atomic root document naming the shard
    * files that together form the manifest. */
  private case class PointerDoc(version: Int, shards: Seq[String])

  /** One shard entry: the file's footer stats plus the identity
    * fingerprint (`inode:size:mtime`) incremental re-analyze keys
    * reuse on. */
  private[catalog] case class ShardEntry(ident: String, stat: FileStat)

  private case class ShardDoc(version: Int,
      files: Map[String, ShardEntry])

  /** What one analyze did: `covered` files carry stats in the
    * published manifest; `harvested` had their footer read this call;
    * `reused` rode in from existing shards by identity fingerprint. */
  case class AnalyzeResult(covered: Int, harvested: Int, reused: Int)

  // ---- collection (driver-side, footers only) ----

  /** Relative paths of the data files under `location` (recursive —
    * hive-partitioned layouts keep stats per leaf file), skipping
    * metadata/hidden files and graft sidecar/cdc dirs. */
  private def dataFiles(root: java.io.File): Seq[String] = {
    def walk(dir: java.io.File, prefix: String): Seq[String] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        val n = f.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (f.isDirectory) walk(f, s"$prefix$n/")
        else if (n.endsWith(".parquet")) Seq(s"$prefix$n")
        else Nil
      }
    walk(root, "").sorted
  }

  /** Read one parquet footer into per-column stats. Returns None for a
    * file whose footer cannot be read (treated as stats-less: always
    * scanned, never pruned). */
  private def footerStats(path: java.io.File): Option[FileStat] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = new org.apache.hadoop.conf.Configuration()
    try {
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path.toURI), conf))
      try {
        val blocks = rdr.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        // (dtype, minStr, maxStr, nulls, hasMinMax) folded across row
        // groups; None = column disqualified for this file
        val acc = scala.collection.mutable.LinkedHashMap
          .empty[String, Option[ColStat]]
        // original-case spelling per key: two DISTINCT columns that
        // collide case-insensitively (legal under case-sensitive mode)
        // must disqualify the key — merging their stats would publish
        // a combined nullCount/bounds belonging to neither column
        val spelling = scala.collection.mutable.HashMap.empty[String, String]
        for (b <- blocks; cc <- b.getColumns.asScala) {
          val name = cc.getPath.toDotString
          if (!name.contains('.')) pruneKey(name).foreach { key =>
            if (spelling.getOrElseUpdate(key, name) != name)
              acc(key) = None
            val pt = cc.getPrimitiveType
            val ann = pt.getLogicalTypeAnnotation
            val dtype: Option[String] = pt.getPrimitiveTypeName match {
              case INT32 => ann match {
                case null => Some("long")
                case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
                  Some("date")
                case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                    if i.isSigned => Some("long")
                case _ => None
              }
              case INT64 => ann match {
                case null => Some("long")
                case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                    if i.isSigned => Some("long")
                case _ => None // timestamps: tz/unit semantics — out of v1
              }
              case FLOAT => Some("double")
              case DOUBLE => Some("double")
              case BOOLEAN => Some("boolean")
              case BINARY => ann match {
                case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
                  Some("string")
                case _ => None
              }
              case _ => None
            }
            dtype match {
              case None => acc(key) = None
              case Some(dt) =>
                val st = cc.getStatistics
                if (st == null || st.isEmpty) acc(key) = None
                else {
                  val nulls = if (st.isNumNullsSet) st.getNumNulls else -1L
                  // hasMinMax=false is reserved for "no non-null value
                  // exists" (all-null row group — safe for a sibling's
                  // bounds to stand alone). A row group that HAS values
                  // but whose bounds were render-REJECTED (NaN floats,
                  // non-ASCII strings, writer-truncated binary stats)
                  // must DISQUALIFY the whole column instead: its rows
                  // are not covered by any other group's bounds, and
                  // publishing those as the file's bounds would prune
                  // files containing matching rows
                  val rendered =
                    if (!st.hasNonNullValue) Some(("", "", false))
                    else {
                      val m0 = render(dt,
                        st.genericGetMin.asInstanceOf[AnyRef])
                      val m1 = render(dt,
                        st.genericGetMax.asInstanceOf[AnyRef])
                      if (m0.isDefined && m1.isDefined)
                        Some((m0.get, m1.get, true))
                      else None
                    }
                  rendered match {
                    case None => acc(key) = None
                    case Some((mn, mx, has)) =>
                      val cur = ColStat(dt, mn, mx, nulls, has)
                      acc.get(key) match {
                        case None => acc(key) = Some(cur)
                        case Some(None) => ()
                        case Some(Some(prev)) =>
                          if (prev.dtype != dt) acc(key) = None
                          else acc(key) = Some(merge(prev, cur))
                      }
                  }
                }
            }
          }
        }
        Some(FileStat(rows,
          acc.collect { case (k, Some(v)) => k -> v }.toMap))
      } finally rdr.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Case-insensitive stat key (Spark's default resolution). Distinct
    * names that collide case-insensitively (legal only under
    * case-sensitive mode) disqualify the key at collection time — the
    * caller tracks spellings and poisons the entry. */
  private def pruneKey(name: String): Option[String] =
    Some(name.toLowerCase(java.util.Locale.ROOT))

  private def merge(a: ColStat, b: ColStat): ColStat = {
    val nulls =
      if (a.nullCount < 0 || b.nullCount < 0) -1L
      else a.nullCount + b.nullCount
    val (mn, mx, has) =
      if (!a.hasMinMax) (b.min, b.max, b.hasMinMax)
      else if (!b.hasMinMax) (a.min, a.max, a.hasMinMax)
      else (minOf(a.dtype, a.min, b.min), maxOf(a.dtype, a.max, b.max),
        true)
    ColStat(a.dtype, mn, mx, nulls, has)
  }

  private def cmp(dtype: String, x: String, y: String): Int = dtype match {
    case "long" | "date" => java.lang.Long.compare(x.toLong, y.toLong)
    case "double" => java.lang.Double.compare(x.toDouble, y.toDouble)
    case "boolean" => java.lang.Boolean.compare(x.toBoolean, y.toBoolean)
    case _ => x.compareTo(y)
  }
  private def minOf(dt: String, x: String, y: String): String =
    if (cmp(dt, x, y) <= 0) x else y
  private def maxOf(dt: String, x: String, y: String): String =
    if (cmp(dt, x, y) >= 0) x else y

  /** Render a footer min/max into its persisted string; None rejects
    * the bound (NaN floats, non-ASCII strings — see SAFETY MODEL). */
  private def render(dtype: String, v: AnyRef): Option[String] = v match {
    case null => None
    case b: org.apache.parquet.io.api.Binary =>
      val s = b.toStringUsingUTF8
      if (s.forall(_ < 128)) Some(s) else None
    case f: java.lang.Float =>
      if (f.isNaN) None else Some(f.doubleValue.toString)
    case d: java.lang.Double => if (d.isNaN) None else Some(d.toString)
    case n: java.lang.Number => Some(n.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case _ => None
  }

  // ---- persistence (sharded manifest + atomic pointer) ----

  /** Identity fingerprint of a data file: `inode:size:mtimeMillis`. A
    * hard-linked carry-over (the COW generation discipline) keeps all
    * three, so its stats reuse across generations; any rewrite moves
    * at least one. Filesystems without the unix view degrade to
    * `-:size:mtime` — and reuse is DISABLED for such fingerprints
    * (matched in [[analyze]]): without the inode, an in-place rewrite
    * of the same length inside mtime granularity would fingerprint-
    * match its stale shard entry, and stale min/max could wrongly
    * prune files containing matching rows — the one failure mode the
    * safety model forbids. Paying a fresh footer read is the safe
    * degradation. */
  private def identOf(f: java.io.File): String = {
    val p = f.toPath
    val ino =
      try java.nio.file.Files.getAttribute(p, "unix:ino").toString
      catch { case scala.util.control.NonFatal(_) => "-" }
    s"$ino:${f.length}:${f.lastModified}"
  }

  /** Read one shard through the driver-side cache. Shards are
    * immutable and uuid-named, so (size, mtime) validates a hit; a
    * missing/corrupt shard reads as empty (its files merely lose
    * pruning — the safety model's absent-file rule). */
  private val shardCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Map[String, ShardEntry])]()

  private def readShard(dir: java.io.File, name: String)
      : Map[String, ShardEntry] = {
    val f = new java.io.File(dir, name)
    if (!f.isFile) return Map.empty
    val key = f.getAbsolutePath
    val (sz, mt) = (f.length, f.lastModified)
    val hit = shardCache.get(key)
    if (hit != null && hit._1 == sz && hit._2 == mt) return hit._3
    val entries =
      try {
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        org.json4s.jackson.JsonMethods
          .parse(java.nio.file.Files.readString(f.toPath))
          .extract[ShardDoc].files
      } catch { case scala.util.control.NonFatal(_) =>
        Map.empty[String, ShardEntry] }
    if (shardCache.size > 4096) shardCache.clear() // crude, driver-side
    shardCache.put(key, (sz, mt, entries))
    entries
  }

  /** The live manifest of `root` as (shardName -> entries); empty for
    * none/v1 (a v1 doc carries no idents to reuse). */
  private def liveShards(root: java.io.File)
      : Seq[(String, Map[String, ShardEntry])] = {
    val f = new java.io.File(root, StatsFileName)
    if (!f.isFile) return Nil
    try {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val jv = org.json4s.jackson.JsonMethods
        .parse(java.nio.file.Files.readString(f.toPath))
      if ((jv \ "version").extract[Int] != 2) Nil
      else {
        val dir = new java.io.File(root, ShardDirName)
        jv.extract[PointerDoc].shards.map(n => n -> readShard(dir, n))
      }
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Footer harvest for `rels` under `root`: executor-parallel (one
    * Spark job over the file list) when a session is active, serial
    * driver loop otherwise. Unreadable footers drop out (stats-less =
    * never pruned). */
  private def harvest(root: java.io.File, rels: Seq[String])
      : Map[String, FileStat] =
    if (rels.isEmpty) Map.empty
    else org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) if rels.size > 1 =>
        val rootPath = root.getAbsolutePath
        s.sparkContext
          .parallelize(rels, math.min(rels.size, 32))
          .map(rel => rel ->
            footerStats(new java.io.File(rootPath, rel)))
          .collect().collect { case (r, Some(st)) => r -> st }.toMap
      case _ =>
        rels.flatMap(rel =>
          footerStats(new java.io.File(root, rel)).map(rel -> _)).toMap
    }

  /** Back-compat entry point: full analyze of `location`. */
  def analyze(location: String): AnalyzeResult = analyze(location, None)

  /** Analyze `location` INCREMENTALLY and atomically publish the
    * sharded manifest. Reuse sources, consulted per current data file
    * by identity fingerprint:
    *  - the location's own live manifest (re-analyze after an append
    *    re-reads only the new files; untouched shards are re-referenced
    *    byte-identical);
    *  - `previous` — the generation this one was hard-linked from
    *    (COW swaps pass it): matching shards are HARD-LINKED across
    *    (inode links, zero bytes) and only genuinely new files pay a
    *    footer read.
    * A shard is reusable iff every entry whose path exists on disk
    * still fingerprint-matches it (fresh-UUID part naming makes a
    * mismatch pathological; entries for since-removed files are inert
    * — the pruner only ever consults planned files). Files not covered
    * by a reused shard are harvested (executor-parallel) into
    * size-capped shards ([[ShardCap]] entries each, written as the
    * chunks stream back — no O(#files) doc or driver buffer even on
    * a cold first analyze), and the pointer swap publishes the whole
    * set atomically.
    * Unreferenced shards older than a minute are swept — a reader
    * racing the sweep merely loses pruning for that resolution. */
  def analyze(location: String,
      previous: Option[String]): AnalyzeResult = {
    val root = new java.io.File(stripScheme(location))
    val files = dataFiles(root)
    val idents = files.map(rel =>
      rel -> identOf(new java.io.File(root, rel))).toMap
    val shardDir = new java.io.File(root, ShardDirName)
    val prevRoot = previous.map(p => new java.io.File(stripScheme(p)))
      .filter(p => p.getAbsolutePath != root.getAbsolutePath)
    // candidate shards: own manifest first (already in our shard dir),
    // then the previous generation's (would need linking across)
    val own = liveShards(root).map { case (n, e) => (n, e, false) }
    val foreign = prevRoot.toSeq.flatMap(liveShards)
      .map { case (n, e) => (n, e, true) }
    val reusable = scala.collection.mutable.ArrayBuffer
      .empty[(String, Map[String, ShardEntry], Boolean)]
    val covered = scala.collection.mutable.HashSet.empty[String]
    for ((name, entries, isForeign) <- own ++ foreign
         if entries.nonEmpty && !reusable.exists(_._1 == name)) {
      // no-inode fingerprints never validate a reuse (scaladoc at
      // [[identOf]]) — the entry re-harvests instead of risking a
      // stale-stats wrong prune
      val ok = entries.forall { case (rel, e) =>
        idents.get(rel).forall(cur =>
          cur == e.ident && !cur.startsWith("-:")) }
      val fresh = entries.keysIterator
        .filter(rel => idents.contains(rel) && !covered.contains(rel))
      if (ok && fresh.nonEmpty) {
        reusable += ((name, entries, isForeign))
        entries.keysIterator.filter(idents.contains)
          .foreach(covered += _)
      }
    }
    val toHarvest = files.filterNot(covered.contains)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    shardDir.mkdirs()
    // link foreign (previous-generation) shards into our shard dir
    for ((name, _, isForeign) <- reusable if isForeign) {
      val dst = new java.io.File(shardDir, name)
      if (!dst.isFile)
        Generation.link(new java.io.File(
          new java.io.File(prevRoot.get, ShardDirName), name), dst)
    }
    // SIZE-CAPPED harvest: a cold analyze of an N-file table streams
    // its footer stats back in ≤[[ShardCap]]-entry chunks, each
    // written out as its own shard the moment it lands — no JSON doc
    // and no driver buffer is ever O(#files). Incremental analyzes
    // then reuse the capped shards naturally (a delta touching one
    // shard's files re-harvests only that delta).
    var harvestedCount = 0
    val newShards = toHarvest.grouped(ShardCap).flatMap { chunk =>
      val harvested = harvest(root, chunk)
      harvestedCount += harvested.size
      if (harvested.isEmpty) None
      else {
        val name =
          s"shard-${java.util.UUID.randomUUID.toString.take(12)}.json"
        val body = org.json4s.jackson.Serialization.write(ShardDoc(2,
          harvested.map { case (rel, st) =>
            rel -> ShardEntry(idents(rel), st) }))
        java.nio.file.Files.writeString(
          new java.io.File(shardDir, name).toPath, body)
        Some(name)
      }
    }.toSeq
    val shardNames = reusable.map(_._1).toSeq ++ newShards
    val body = org.json4s.jackson.Serialization.write(
      PointerDoc(2, shardNames))
    val tmp = java.nio.file.Files.createTempFile(root.toPath,
      ".graft_stats", ".tmp")
    java.nio.file.Files.writeString(tmp, body)
    java.nio.file.Files.move(tmp,
      new java.io.File(root, StatsFileName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // sweep unreferenced shards (aged — a reader mid-resolution on the
    // old pointer degrades to unpruned, never wrong)
    val live = shardNames.toSet
    Option(shardDir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !live.contains(f.getName) &&
        System.currentTimeMillis - f.lastModified > 60000L)
      .foreach(f => f.delete(): Unit)
    val reusedCount = covered.size
    AnalyzeResult(reusedCount + harvestedCount, harvestedCount,
      reusedCount)
  }

  private def stripScheme(loc: String): String =
    if (loc.startsWith("file:")) new java.io.File(
      java.net.URI.create(loc.replace(" ", "%20"))).getPath
    else loc

  def load(location: String): Option[Map[String, FileStat]] = {
    val root = new java.io.File(stripScheme(location))
    val f = new java.io.File(root, StatsFileName)
    if (!f.isFile) None
    else try {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val jv = org.json4s.jackson.JsonMethods
        .parse(java.nio.file.Files.readString(f.toPath))
      (jv \ "version").extract[Int] match {
        case 2 =>
          val dir = new java.io.File(root, ShardDirName)
          val merged = jv.extract[PointerDoc].shards
            .foldLeft(Map.empty[String, FileStat]) { (acc, n) =>
              acc ++ readShard(dir, n).view.mapValues(_.stat) }
          Some(merged)
        case _ => Some(jv.extract[StatsDoc].files)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---- serving ----

  /** Wrap a served parquet table with stats-pruned scanning when the
    * location carries a stats doc; identity otherwise. Reads the KiB
    * doc once per table RESOLUTION (same cost class as the snapshot
    * read that served the table). Writes pass through untouched. */
  def maybeWrap(inner: Table, location: String): Table =
    load(location) match {
      case Some(stats) if stats.nonEmpty => new StatsTable(inner, stats)
      case _ => inner
    }

  // ---- pruning decision ----

  /** True iff some row of a file with stats `fs` COULD satisfy `e`.
    * Conservative: every unhandled shape returns true. */
  private[catalog] def mayMatch(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fs: FileStat): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def stat(a: Expression): Option[ColStat] = a match {
      case ar: AttributeReference =>
        fs.cols.get(ar.name.toLowerCase(java.util.Locale.ROOT))
      case _ => None
    }
    /** literal internal value -> comparable string in `dtype` space */
    def lit(dtype: String, v: Any): Option[String] = (dtype, v) match {
      case (_, null) => None
      case ("long", n: Byte) => Some(n.toString)
      case ("long", n: Short) => Some(n.toString)
      case ("long", n: Int) => Some(n.toString)
      case ("long", n: Long) => Some(n.toString)
      case ("date", n: Int) => Some(n.toString) // DateType internal: days
      case ("double", n: Float) =>
        if (n.isNaN) None else Some(n.toDouble.toString)
      case ("double", n: Double) =>
        if (n.isNaN) None else Some(n.toString)
      case ("string", s: org.apache.spark.unsafe.types.UTF8String) =>
        val j = s.toString
        if (j.forall(_ < 128)) Some(j) else None
      case ("boolean", b: Boolean) => Some(b.toString)
      case _ => None
    }
    /** could any value in [min,max] relate to v as `test` demands? */
    def bound(a: Expression, v: Any)(
        test: (Int, Int) => Boolean): Boolean =
      stat(a) match {
        case Some(cs) if cs.hasMinMax =>
          lit(cs.dtype, v) match {
            case Some(l) =>
              test(cmp(cs.dtype, cs.min, l), cmp(cs.dtype, cs.max, l))
            case None => true
          }
        case _ => true
      }
    e match {
      case And(l, r) => mayMatch(l, fs) && mayMatch(r, fs)
      case Or(l, r) => mayMatch(l, fs) || mayMatch(r, fs)
      case EqualTo(a, Literal(v, _)) => bound(a, v)((mn, mx) =>
        mn <= 0 && mx >= 0)
      case EqualTo(Literal(v, _), a) => bound(a, v)((mn, mx) =>
        mn <= 0 && mx >= 0)
      case EqualNullSafe(a, Literal(v, _)) =>
        if (v == null) mayMatch(IsNull(a), fs)
        else bound(a, v)((mn, mx) => mn <= 0 && mx >= 0)
      case GreaterThan(a, Literal(v, _)) => bound(a, v)((_, mx) => mx > 0)
      case GreaterThan(Literal(v, _), a) => bound(a, v)((mn, _) => mn < 0)
      case GreaterThanOrEqual(a, Literal(v, _)) =>
        bound(a, v)((_, mx) => mx >= 0)
      case GreaterThanOrEqual(Literal(v, _), a) =>
        bound(a, v)((mn, _) => mn <= 0)
      case LessThan(a, Literal(v, _)) => bound(a, v)((mn, _) => mn < 0)
      case LessThan(Literal(v, _), a) => bound(a, v)((_, mx) => mx > 0)
      case LessThanOrEqual(a, Literal(v, _)) =>
        bound(a, v)((mn, _) => mn <= 0)
      case LessThanOrEqual(Literal(v, _), a) =>
        bound(a, v)((_, mx) => mx >= 0)
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(l => bound(a, l.asInstanceOf[Literal].value)(
          (mn, mx) => mn <= 0 && mx >= 0))
      case InSet(a, hset) =>
        hset.exists(v => bound(a, v)((mn, mx) => mn <= 0 && mx >= 0))
      case IsNull(a) => stat(a) match {
        case Some(cs) if cs.nullCount == 0L => false
        case _ => true
      }
      case IsNotNull(a) => stat(a) match {
        case Some(cs) if cs.nullCount >= 0 => cs.nullCount < fs.rows
        case _ => true
      }
      case StartsWith(a, Literal(v, _)) => stat(a) match {
        case Some(cs) if cs.hasMinMax && cs.dtype == "string" =>
          lit("string", v) match {
            case Some(p) =>
              // lexicographic truncation is monotone: min<=x<=max and
              // x.startsWith(p) force min.take(|p|) <= p <= max.take(|p|)
              cs.min.take(p.length) <= p && p <= cs.max.take(p.length)
            case None => true
          }
        case _ => true
      }
      case _ => true
    }
  }

  /** Planned file count of `df`'s stats-pruned scan — the evidence
    * hook oracled keys and specs pin (throws when the plan carries no
    * [[StatsPrunedScan]]: the caller expected pruning to be wired). */
  private[graft] def plannedFiles(df: org.apache.spark.sql.DataFrame)
      : Int = {
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.scan
    }
    val sp = scans.collectFirst { case p: StatsPrunedScan => p }
      .getOrElse(throw new IllegalStateException(
        "expected a stats-pruned scan, got " +
          scans.map(_.getClass.getName).mkString(",")))
    sp.toBatch.planInputPartitions().map {
      case fp: org.apache.spark.sql.execution.datasources
          .FilePartition => fp.files.length
      case _ => 0
    }.sum
  }

  /** Decode %XX percent-escapes ONLY — unlike URLDecoder's
    * application/x-www-form-urlencoded decoding, a literal '+' stays a
    * '+'. Multi-byte UTF-8 escape runs are buffered and decoded
    * together; a malformed escape (non-hex, truncated) passes through
    * verbatim — worst case a missed stats match (file merely unpruned,
    * never wrong). */
  private[catalog] def pctDecode(s: String): String = {
    if (s.indexOf('%') < 0) return s
    def hex(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    val sb = new StringBuilder(s.length)
    val buf = new java.io.ByteArrayOutputStream(8)
    def flush(): Unit = if (buf.size() > 0) {
      sb.append(new String(buf.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8))
      buf.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && hex(s.charAt(i + 1)) >= 0 &&
          hex(s.charAt(i + 2)) >= 0) {
        buf.write(hex(s.charAt(i + 1)) * 16 + hex(s.charAt(i + 2)))
        i += 3
      } else { flush(); sb.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  /** Count of `files` a scan with `filters` must read under `stats` —
    * the spec/report hook (exactly the predicate [[StatsPrunedScan]]
    * applies). */
  private[graft] def filesToRead(
      stats: Map[String, FileStat], files: Seq[String],
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[String] =
    files.filter { f =>
      stats.get(f) match {
        case Some(fs) => filters.forall(e =>
          try mayMatch(e, fs)
          catch { case scala.util.control.NonFatal(_) => true })
        case None => true
      }
    }
}

/** Serving wrapper: identical table, stats-pruned scans. Forwards
  * reads, writes and metadata columns so every outer wrapper
  * (constraints, partitioned writes, row-level COW/MOR) composes
  * unchanged — like [[MorRowLevelTable]], this hides the inner
  * FileTable from FallBackFileSourceV2 (harmless: the V2 path is the
  * served path). */
private[catalog] class StatsTable(protected val inner: Table,
    stats: Map[String, FileSkipping.FileStat])
  extends ForwardingTable with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    innerMetadataColumns

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new StatsScanBuilder(innerScanBuilder(options), stats)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    innerWriteBuilder(info)
}

/** Forwards pushdown to the stock parquet builder, REMEMBERS the
  * pushed predicates, and wraps the built scan with the file pruner.
  * Skipped when an aggregate was pushed (the delegate then serves
  * footer-computed rows, not file partitions). */
private[catalog] class StatsScanBuilder(protected val delegate: ScanBuilder,
    stats: Map[String, FileSkipping.FileStat])
  extends ScanBuilder with ForwardsColumns with ForwardsFilters
  with ForwardsAggregates {

  private var filters
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
  private var aggPushed = false

  override def pushFilters(
      fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    // every incoming conjunct is a required condition on scan output —
    // all are sound pruning evidence regardless of what the delegate
    // reports back as post-scan residue
    filters = fs
    super.pushFilters(fs)
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val ok = super.pushAggregation(agg)
    if (ok) aggPushed = true
    ok
  }

  override def build(): Scan = {
    val ds = delegate.build()
    if (aggPushed || filters.isEmpty) ds
    else new StatsPrunedScan(ds, stats, filters)
  }
}

/** The pruning scan: drops whole files whose stats refute the pushed
  * conjuncts, then renumbers the surviving [[FilePartition]]s.
  * Runtime filters (DPP / row-level group filtering) and reported
  * statistics forward to the delegate untouched. */
private[graft] class StatsPrunedScan(
    private val delegate: Scan,
    private val stats: Map[String, FileSkipping.FileStat],
    private val filters: Seq[
      org.apache.spark.sql.catalyst.expressions.Expression])
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = delegate.readSchema()

  // value-based equality so two resolutions of the same stats-wrapped
  // table canonicalize EQUAL — without this, self-join/multi-reference
  // plans lose scan+exchange reuse (reference equality never matches
  // across resolutions). Delegates are Spark's own FileScan case-ish
  // classes with structural equals; filters compare canonicalized.
  override def equals(other: Any): Boolean = other match {
    case o: StatsPrunedScan =>
      delegate == o.delegate && stats == o.stats &&
        filters.map(_.canonicalized) == o.filters.map(_.canonicalized)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(delegate,
      Integer.valueOf(filters.map(_.canonicalized).hashCode()))

  override def description(): String =
    s"graft-stats-scan(${delegate.description()}, " +
      s"statsFiles=${stats.size})"

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = delegate match {
    case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      s.estimateStatistics()
    case _ => new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    delegate match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filterAttributes()
      case _ => Array.empty
    }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    delegate match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filter(predicates)
      case _ => ()
    }

  /** stats keys grouped by file basename: the planning loop must not
    * scan the whole key set per planned file (O(files × keys) on the
    * driver defeats the feature at manifest scale) — basename lookup
    * is O(1), then only same-named candidates suffix-match. */
  private val keysByBase: Map[String, Seq[String]] =
    stats.keys.toSeq.groupBy(k => k.substring(k.lastIndexOf('/') + 1))

  /** stats key for a planned file: path relative to the deepest
    * ancestor the stats doc knows — matched by suffix, longest
    * (most-specific) candidate first, so hive-partitioned relative
    * keys (`p=1/part-0.parquet`) resolve exactly. Decoding is
    * percent-escapes ONLY ([[FileSkipping.pctDecode]]): form decoding
    * (URLDecoder) would turn a literal '+' — which Spark does not
    * escape in partition values — into a space, silently disabling
    * pruning for such paths (and theoretically borrowing another
    * file's stats). */
  private def statKey(filePath: String): Option[String] = {
    val norm = FileSkipping.pctDecode(filePath)
    val base = norm.substring(norm.lastIndexOf('/') + 1)
    keysByBase.getOrElse(base, Nil)
      .filter(k => norm.endsWith("/" + k))
      .sortBy(-_.length).headOption
  }

  override def toBatch: Batch = new Batch {
    private val db = delegate.toBatch

    override def planInputPartitions(): Array[InputPartition] = {
      import org.apache.spark.sql.execution.datasources.FilePartition
      val planned = db.planInputPartitions()
      // non-file partitions (unexpected under a parquet delegate):
      // serve the whole plan unpruned rather than guess
      if (!planned.forall(_.isInstanceOf[FilePartition])) planned
      else {
        val kept = planned.iterator
          .map(_.asInstanceOf[FilePartition].files.filter { f =>
            statKey(f.filePath.toString).flatMap(stats.get) match {
              case Some(st) => filters.forall(e =>
                try FileSkipping.mayMatch(e, st)
                catch { case scala.util.control.NonFatal(_) => true })
              case None => true
            }
          })
          .filter(_.nonEmpty).toSeq
        kept.zipWithIndex
          .map { case (fs, i) => FilePartition(i, fs) }.toArray
      }
    }

    override def createReaderFactory(): PartitionReaderFactory =
      db.createReaderFactory()
  }
}
