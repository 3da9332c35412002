package graft

import java.io.{File, FileNotFoundException}
import java.lang.ref.{PhantomReference, ReferenceQueue}
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** The engine's `file:` FileSystem against Hadoop's stock
  * `RawLocalFileSystem`: the same status for every kind of path, the
  * same permission bits, every Hadoop conf resolving to it, and no
  * child process on the local write paths. */
class LocalFsSpec extends SparkSpec {

  private def init[T <: FileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def withDir(body: File => Unit): Unit = {
    val d = Files.createTempDirectory("graft-localfs").toFile
    try body(d) finally org.apache.commons.io.FileUtils.deleteQuietly(d)
  }

  /** A file, a dir, a symlink to each, a dangling symlink and a
    * missing path, under `d`. */
  private def targets(d: File): Seq[String] = {
    Files.writeString(new File(d, "f").toPath, "twelve bytes")
    new File(d, "d").mkdir()
    Files.createSymbolicLink(new File(d, "lf").toPath, Paths.get("f"))
    Files.createSymbolicLink(new File(d, "ld").toPath,
      new File(d, "d").toPath.toAbsolutePath)
    Files.createSymbolicLink(new File(d, "dangling").toPath,
      Paths.get("gone"))
    Seq("f", "d", "lf", "ld", "dangling", "missing")
      .map(n => new File(d, n).getAbsolutePath)
  }

  private def fields(st: FileStatus) =
    (st.getPath, st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.getModificationTime,
      st.getPermission, st.getOwner, st.getGroup, st.getReplication,
      st.getBlockSize)

  /** The status fields, or the exception class the call threw. */
  private def outcome(status: => FileStatus): Any =
    try fields(status) catch { case e: Exception => e.getClass }

  test("statuses agree field by field with the stock raw local " +
      "FileSystem, for scheme-less and file: paths") {
    withDir { d =>
      for (t <- targets(d); p <- Seq(new Path(t), new Path(s"file:$t"))) {
        for ((call, get) <- Seq[(String, FileSystem => FileStatus)](
            "getFileStatus" -> (_.getFileStatus(p)),
            "getFileLinkStatus" -> (_.getFileLinkStatus(p)))) {
          val want = outcome(get(stock))
          assert(outcome(get(nio)) == want, s"$call($p)")
        }
      }
      // the scheme-less reads saw the links as links, and missing
      // paths threw FileNotFoundException on both classes
      for (fs <- Seq(stock, nio)) {
        val ld = fs.getFileLinkStatus(new Path(s"$d/ld"))
        assert(ld.isSymlink && ld.getSymlink.toUri.getPath ==
          s"${d.getAbsolutePath}/d")
        assert(fs.getFileLinkStatus(new Path(s"$d/dangling")).isSymlink)
        for (n <- Seq("missing", "dangling"))
          intercept[FileNotFoundException](
            fs.getFileStatus(new Path(s"$d/$n")))
        intercept[FileNotFoundException](
          fs.getFileLinkStatus(new Path(s"$d/missing")))
      }
      // a status is Serializable, as the stock one, and reads its lazy
      // owner and group after the trip
      val f = new Path(s"$d/f")
      val bytes = new java.io.ByteArrayOutputStream
      new java.io.ObjectOutputStream(bytes).writeObject(nio.getFileStatus(f))
      val back = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
      assert(outcome(back.asInstanceOf[FileStatus]) ==
        outcome(stock.getFileStatus(f)))
    }
  }

  test("setPermission writes the bits, sticky bit included, that the " +
      "stock class reads back") {
    withDir { d =>
      val Seq(f, dir) = targets(d).take(2).map(new Path(_))
      for (mode <- Seq("600", "750", "644", "1777"); p <- Seq(f, dir)) {
        val want = new FsPermission(Integer.parseInt(mode, 8).toShort)
        nio.setPermission(p, want)
        assert(stock.getFileStatus(p).getPermission == want, s"$mode on $p")
        assert(outcome(nio.getFileStatus(p)) ==
          outcome(stock.getFileStatus(p)), s"$mode on $p")
      }
      nio.setPermission(dir, new FsPermission("755"))
    }
  }

  test("every Hadoop conf resolves file: to the engine's classes") {
    val fileRoot = URI.create("file:///")
    for ((label, conf) <- Seq("new Configuration" -> new Configuration(),
        "session Hadoop conf" -> spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(fileRoot, conf).isInstanceOf[NioLocalFileSystem],
        label)
      val local = FileSystem.getLocal(conf)
      assert(local.isInstanceOf[NioLocalFileSystem] &&
        local.getRaw.isInstanceOf[NioRawLocalFileSystem], label)
      assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
        .isInstanceOf[NioLocalFs], label)
    }
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  /** Minor faults of reaped child processes (`cminflt`, field 11 of
    * `/proc/self/stat`): it moves whenever the JVM runs a child. */
  private def childFaults(): Long = {
    val stat = Files.readString(Paths.get("/proc/self/stat"))
    stat.substring(stat.lastIndexOf(')') + 2).split(" ")(8).toLong
  }

  /** True when no reference cleanup is queued or running: the JVM's
    * reference handler waits for the next collection, and every
    * `java.lang.ref.Cleaner` thread, the one of Spark's
    * `ArtifactManager` among them, waits on an empty queue. */
  private def cleanersIdle(): Boolean =
    Thread.getAllStackTraces.asScala.forall { case (t, stack) =>
      val frames =
        stack.toSeq.map(f => s"${f.getClassName}.${f.getMethodName}")
      if (t.getName == "Reference Handler")
        frames.headOption.contains(
          "java.lang.ref.Reference.waitForReferencePendingList")
      else !frames.contains("jdk.internal.ref.CleanerImpl.run") ||
        t.getState == Thread.State.TIMED_WAITING &&
          frames.contains("java.lang.ref.ReferenceQueue.remove")
    }

  /** A full collection, then the cleanups of everything it collected:
    * returns once a canary it collected has been handed to its queue and
    * the reference handler and every Cleaner thread have been idle on
    * two looks 20 ms apart. */
  private def collectAndClean(): Unit = {
    val canaries = new ReferenceQueue[AnyRef]
    val canary = new PhantomReference(new Object, canaries)
    System.gc()
    assert(canaries.remove(120000) eq canary, "no collection ran")
    var (idle, looks) = (0, 0)
    while (idle < 2) {
      assert(looks < 6000, "reference cleanup never finished")
      Thread.sleep(20)
      looks += 1
      idle = if (cleanersIdle()) idle + 1 else 0
    }
  }

  /** [[childFaults]] once Spark's own background children have run.
    * Spark starts two outside the file system: `getconf PAGESIZE`, once
    * per JVM on the first executor heartbeat (forced here by loading the
    * class that runs it), and `rm -rf` of a garbage-collected session's
    * artifact dir, run by the Cleaner of its `ArtifactManager` (each
    * streaming query clones its session). Collections run until one,
    * with its cleanups finished, has started no child, so none is owed
    * to a session that died before the measured calls. */
  private def settledChildFaults(): Long = {
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    var (last, now, polls) = (-1L, childFaults(), 0)
    while (now != last && polls < 20) {
      collectAndClean()
      last = now
      now = childFaults()
      polls += 1
    }
    now
  }

  /** `body`, with every streaming query that starts inside it held
    * reachable until it returns: the session each query clones cannot
    * be collected, and its `rm -rf` run, inside `body`. */
  private def holdingStreams[T](body: => T): T = {
    val held = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]
    val hold = new StreamingQueryListener {
      // called on the query's own thread before start() returns
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        held.add(spark.streams.get(e.id)): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(hold)
    try body finally spark.streams.removeListener(hold)
  }

  test("local checkpoint, commit and listing calls and a streaming " +
      "run start no child process") {
    assume(new File("/proc/self/stat").exists, "needs Linux procfs")
    withDir { d =>
      val fc = FileContext.getLocalFSFileContext()
      val fs = FileSystem.get(spark.sessionState.newHadoopConf())
      /** The child-fault count across the local write calls and one
        * stream_tumbling run (its micro-batch offset, commit and
        * state-store files), read as soon as the stream has stopped. */
      def childFaultsAcross(round: Int): Long = holdingStreams {
        val before = settledChildFaults()
        // a streaming checkpoint commit: mkdir, temp file, rename over
        val ckpt = new Path(s"file:$d/fc$round/offsets")
        fc.mkdir(ckpt, FsPermission.getDirDefault, true)
        for (batch <- 0 to 1) {
          val tmp = new Path(ckpt, s".0.$batch.tmp")
          val out = fc.create(tmp,
            java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
          try out.writeBytes(s"v1\n$batch") finally out.close()
          fc.rename(tmp, new Path(ckpt, "0"), Options.Rename.OVERWRITE)
        }
        val ckptLen = fc.getFileLinkStatus(new Path(ckpt, "0")).getLen
        // a task commit and a file listing
        val dir = new Path(s"file:$d/fs$round")
        fs.mkdirs(dir)
        val out = fs.create(new Path(dir, "part-0"))
        try out.writeBytes("row") finally out.close()
        fs.setPermission(new Path(dir, "part-0"), new FsPermission("640"))
        val listed = fs.listStatus(dir).map(s => (s.getLen, s.getOwner))
        val streamed = SparkEntry.queries("stream_tumbling")(spark, sf)
        val moved = childFaults() - before
        assert(ckptLen == 4 && listed.length == 1 && listed(0)._1 == 3 &&
          listed(0)._2.nonEmpty && !streamed.isEmpty)
        moved
      }
      // the first round also loads classes, one of which (Hadoop's
      // Shell) probes for `setsid` once per JVM
      childFaultsAcross(0)
      assert(childFaultsAcross(1) == 0, "a child process ran")
    }
  }
}
