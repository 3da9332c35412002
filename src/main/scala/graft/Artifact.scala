package graft

import java.nio.file.{FileSystemException, Files, NoSuchFileException, Path,
  Paths, StandardCopyOption}
import java.util.UUID
import org.apache.commons.io.FileUtils

/** A derived scratch artefact: one dir under [[Tables.scratch]], built
  * from fixture table `source` and reused while that fixture and the
  * build's `recipe` stay the same. Declare each artefact once, as a
  * `val` its producers, consumers and tests share, so they cannot
  * disagree on its dir.
  *
  * [[get]] publishes a dir the way the reference hands a table location
  * to a second cluster sharing its metastore: complete or not at all
  * (yc-data-proc-metadata-import `metastore-import.tf:181-278`). The
  * build writes into a private temp dir next to the target, the stamp
  * goes inside, and one atomic rename makes it visible. So a reader
  * sees no dir or a complete one, a build that throws publishes
  * nothing, and of two concurrent builders the loser drops its temp dir
  * and serves the winner's.
  *
  * The stamp is the source fixture's length and mtime plus `recipe`:
  * regenerating the fixture in place, or changing what the build writes
  * (say so in `recipe`), rebuilds the dir under the same name.
  */
final case class Artifact(name: String, source: String, recipe: String = "") {

  /** The published dir for fixture set `sfDir`, absolute. */
  def dir(sfDir: String): String =
    new java.io.File(Tables.scratch(sfDir, name)).getAbsolutePath

  /** The published dir, first built by `build` (handed the dir to write)
    * unless a current one is there. */
  def get(sfDir: String)(build: String => Unit): String = {
    val target = Paths.get(dir(sfDir))
    val want = stamp(sfDir)
    if (!current(target, want)) {
      val tmp = target.resolveSibling(s"$name.tmp-${UUID.randomUUID}")
      try {
        build(tmp.toString)
        Files.writeString(tmp.resolve(Artifact.StampFile), want)
        publish(tmp, target, want)
      } finally FileUtils.deleteQuietly(tmp.toFile) // gone once published
    }
    target.toString
  }

  private def stamp(sfDir: String): String = {
    val src = new java.io.File(sfDir, s"$source.parquet")
    s"${src.length}:${src.lastModified}\n$recipe"
  }

  private def current(dir: Path, want: String): Boolean =
    try Files.readString(dir.resolve(Artifact.StampFile)) == want
    catch { case _: NoSuchFileException => false }

  /** Rename `tmp` onto `target`; the rename fails if a dir is there. A
    * current one is a concurrent builder's, and wins. A stale one moves
    * aside and is deleted after the swap, so it is never served
    * half-deleted; should the move catch a winner that published since
    * the check, the winner goes straight back. */
  private def publish(tmp: Path, target: Path, want: String): Unit =
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: FileSystemException if current(target, want) =>
      case _: FileSystemException =>
        val old = target.resolveSibling(s"$name.old-${UUID.randomUUID}")
        try {
          try Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: NoSuchFileException => }
          if (current(old, want))
            Files.move(old, target, StandardCopyOption.ATOMIC_MOVE)
          else publish(tmp, target, want)
        } finally FileUtils.deleteQuietly(old.toFile)
    }
}

object Artifact {
  /** Inside the published dir. Spark's file index and partition
    * recovery both skip `.` names, so a partitioned artefact's root
    * holds only its `col=value` dirs as far as either can tell. */
  val StampFile = ".graft_src"
}
