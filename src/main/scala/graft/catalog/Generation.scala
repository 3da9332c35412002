package graft.catalog

import java.io.File
import java.nio.file.{FileAlreadyExistsException, FileSystemException, Files}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.connector.write.WriterCommitMessage

/** One data generation of a catalog table, staged next to its current
  * one: the only way the writable catalog rewrites a table's data.
  *
  * The reference hands a table to a second cluster by its location
  * alone: the target reads whatever dir the shared metastore names
  * (yc-data-proc-metadata-import `metastore-import.tf:181-278`). So a
  * location may only ever name a complete generation. A rewrite lands
  * in a fresh sibling dir, `<location>_rl<8 hex>`, and [[publish]]
  * re-points the table at it in one catalog revision, with the OCC of
  * [[WritableSnapshotCatalog.swapLocation]]; [[abort]] deletes the dir
  * and leaves the table as it was. Until the publish the dir holds the
  * in-flight [[Generation.Marker]]. [[WritableSnapshotCatalog
  * .gcGenerations]] recognises a generation by [[Generation.NamePattern]]
  * and reclaims it once no revision references it, leaving a marked
  * one alone while anything under it moves.
  *
  * Between [[create]] and [[publish]] a writer may [[sweep]] the dir
  * down to the files its tasks committed and [[carryOver]] the current
  * generation's files by hard link (same inodes: byte-identical, no
  * data moved). Like the catalog's HEAD and revision files, these are
  * local-posix java.io operations.
  */
private[graft] final class Generation private (val ti: TableInfo,
    val root: String) {

  private def dir = new File(root)
  private def marker = new File(root, Generation.Marker)

  /** Create the dir, holding the in-flight marker. */
  def create(): Unit = {
    dir.mkdirs()
    Files.write(marker.toPath, Array.emptyByteArray): Unit
  }

  /** [[create]], run `body` and [[abort]] if it throws. */
  def stage[T](body: => T): T = {
    create()
    try body
    catch { case e: Throwable => abort(); throw e }
  }

  /** Delete every file under the dir but the marker and the ones the
    * tasks' [[TaskFiles]] messages name: what a task attempt that died
    * without its own abort left behind. */
  def sweep(messages: Array[WriterCommitMessage]): Unit = {
    val kept = messages.collect { case TaskFiles(ps) => ps }.flatten.toSet +
      Generation.Marker
    def walk(d: File, rel: String): Unit =
      Generation.list(d).foreach { f =>
        if (f.isDirectory) walk(f, s"$rel${f.getName}/")
        else if (!kept(rel + f.getName)) f.delete(): Unit
      }
    walk(dir, "")
  }

  /** Hard-link the current generation's live files into this one:
    * visible data files, the `_deletes` sidecars and `_cdc` pre-images
    * next to them, and the same under every hive partition dir, except
    * the partition cells (paths relative to the root) in `except`,
    * which this generation replaces. Committer and engine litter
    * (`_SUCCESS`, `_temporary`, the marker, stats docs) is not carried.
    * A name already taken here is an error, never overwritten. */
  def carryOver(except: Set[String] = Set.empty): Unit = {
    def link(src: File, dst: File, keep: File => Boolean): Unit =
      Generation.list(src).filter(f => f.isFile && keep(f))
        .foreach(f => Generation.link(f, new File(dst, f.getName)))
    def walk(src: File, dst: File, rel: String): Unit = {
      link(src, dst, f => Generation.visible(f.getName))
      for (dn <- Seq(Mor.DeletesDirName, Mor.CdcDirName)) {
        val sd = new File(src, dn)
        if (sd.isDirectory) {
          val dd = new File(dst, dn)
          dd.mkdirs()
          link(sd, dd, _ => true)
        }
      }
      Generation.list(src)
        .filter(d => d.isDirectory && Generation.visible(d.getName) &&
          d.getName.contains("=") && !except(rel + d.getName))
        .foreach { d =>
          val nd = new File(dst, d.getName)
          nd.mkdirs()
          walk(d, nd, s"$rel${d.getName}/")
        }
    }
    walk(new File(Generation.path(ti.location)), dir, "")
  }

  /** Remove the marker and run `swap`, the step that re-points the
    * table (an `ALTER TABLE … SET LOCATION` for a SQL publish). */
  def publishBy(swap: => Unit): Unit = {
    marker.delete()
    swap
  }

  /** Re-point the table at this generation in one catalog revision. */
  def publish(cat: WritableSnapshotCatalog): Unit =
    publishBy(cat.swapLocation(ti, root))

  /** Delete the dir and everything in it. */
  def abort(): Unit = FileUtils.deleteQuietly(dir): Unit
}

private[graft] object Generation {
  /** In-flight marker file, present from [[Generation.create]] until
    * the publish. */
  val Marker = "_graftwriting"

  /** Dir names of generations, for gc. */
  val NamePattern = ".*_rl[0-9a-f]{8}$"

  /** A table location as a local path: `SET LOCATION` stores the URI
    * verbatim, and java.io would miss a `file:`-scheme path. */
  def path(location: String): String =
    location.stripPrefix("file:").stripSuffix("/")

  /** A fresh generation of `ti`, not yet created on disk. */
  def of(ti: TableInfo): Generation =
    new Generation(ti,
      path(ti.location) + "_rl" + java.util.UUID.randomUUID.toString.take(8))

  /** Re-point every generation's table in one catalog revision: all of
    * them or, when one table moved under a concurrent writer, none. */
  def publishAll(cat: WritableSnapshotCatalog, gens: Seq[Generation]): Unit = {
    gens.foreach(_.marker.delete())
    cat.publishAll(gens.map(g => g.ti -> g.root))
  }

  /** Data files and partition dirs; `_`/`.` names are engine litter. */
  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  def list(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten

  /** Visible data files of a generation (or partition) dir. */
  def dataFiles(d: File): Seq[File] =
    list(d).filter(f => f.isFile && visible(f.getName))

  /** Hard-link one file; an honest copy only on filesystems without
    * links. A taken name rethrows: a copy that replaced it would
    * clobber a just-committed file with old bytes. */
  def link(src: File, dst: File): Unit =
    try Files.createLink(dst.toPath, src.toPath): Unit
    catch {
      case e: FileAlreadyExistsException => throw e
      case _: UnsupportedOperationException | _: FileSystemException =>
        Files.copy(src.toPath, dst.toPath): Unit
    }
}

/** A task's committed files, relative to its generation's root: the
  * files [[Generation.sweep]] keeps. */
private[graft] final case class TaskFiles(paths: Seq[String])
  extends WriterCommitMessage
