package graft.fs

import java.io.{File, FileNotFoundException, IOException, UncheckedIOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` FileSystem, registered for the whole JVM by
  * `core-site.xml` (`fs.file.impl`), so every Hadoop `Configuration` —
  * the sessions', the catalog transfer's, the `FileOutputCommitter`'s —
  * resolves to it.
  *
  * It replaces Hive's `org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem`,
  * which otherwise wins the `file` scheme (it is registered through
  * ServiceLoader after Hadoop's own `LocalFileSystem`) and which is a
  * `LocalFileSystem` whose only override is [[rename]]. Without Hadoop's
  * native library, that local FileSystem forks a `chmod` for every file
  * and dir it creates and an `ls -ld` or `readlink` for every permission
  * or link read: 12 processes (about 40 ms) per FileContext mkdir,
  * create and rename, the steps of every streaming checkpoint commit.
  * Here the raw layer is [[NioRawLocalFileSystem]], which makes the same
  * calls through java.nio; the checksum layer (`.crc` sidecars) and the
  * `LocalFileSystem` type that `FileSystem.getLocal` casts to stay. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {

  /** HDFS's rename contract, as the replaced class keeps it: a rename
    * onto an existing file fails instead of overwriting it. */
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** Hadoop's `RawLocalFileSystem` with its forked `chmod`, `ls -ld` and
  * `readlink` calls made through java.nio `unix:` attributes instead.
  * Every status keeps the stock fields: a path's status is that of its
  * target when it is a symlink (length, type, times, permission bits
  * with the sticky bit, owner and group), and a missing path throws
  * `FileNotFoundException`. A status costs one `stat`; owner and group
  * names are looked up only when first read, as the stock status does. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Integer.valueOf(permission.toShort.toInt))

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath,
        "unix:mode,size,lastModifiedTime,lastAccessTime,isDirectory")
      catch {
        // the stock `File.exists` check reads every failed stat as absent
        case _: IOException =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    // octal 1777: rwx for user, group and other, and the sticky bit (the
    // set-id bits have no FsPermission field)
    val mode = a.get("mode").asInstanceOf[Int] & 0x3ff
    new NioFileStatus(a.get("size").asInstanceOf[Long],
      a.get("isDirectory").asInstanceOf[Boolean], blockSize,
      millis("lastModifiedTime"), millis("lastAccessTime"),
      new FsPermission(mode.toShort),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** A file lists as its own status, which the stock listing builds
    * without [[getFileStatus]]. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f)
    else Array(getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(
        FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock link status: the link is read at `f.toString`, so, as
    * with the stock class, only a scheme-less path is seen as a link
    * (a `file:` path reads as its target). A link reports its target's
    * status; a dangling one reports zeros and permission 0777. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString
      catch { case _: IOException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication,
        st.getBlockSize, st.getModificationTime, st.getAccessTime,
        st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

/** A status whose owner and group are read on first use, from its
  * path (a link's are its target's). */
private final class NioFileStatus(len: Long, isDir: Boolean, blockSize: Long,
    mtime: Long, atime: Long, perm: FsPermission, path: Path)
  extends FileStatus(len, isDir, 1, blockSize, mtime, atime, perm, null, null,
    path) {

  override def getOwner: String = { loadOwner(); super.getOwner }
  override def getGroup: String = { loadOwner(); super.getGroup }

  private def loadOwner(): Unit = synchronized {
    if (super.getOwner.isEmpty)
      try {
        val a = Files.readAttributes(new File(getPath.toUri).toPath,
          "unix:owner,group")
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      } catch {
        // deleted since its stat: both stay empty, as in the stock status
        case _: NoSuchFileException =>
        case e: IOException => throw new UncheckedIOException(e)
      }
  }
}

/** [[NioLocalFileSystem]] for `FileContext` (`fs.AbstractFileSystem.file.impl`):
  * the stock `LocalFs` layering, a checksum layer over the raw FileSystem. */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(conf))

/** The stock `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private final class NioRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
    false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
