package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, DataSourceScanExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, V2TableWriteExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{RunCaches, SparkEntry}

/** JVM side of the layered benchmark (`perfbench/run.py` drives it and
  * turns its records into metrics). It measures the engine only from
  * outside, by timing calls into public functions:
  *
  *  - build: `SparkEntry.queries(key)(session, sfDir)` — the owning
  *    group's `queries` function, including any eager jobs, catalog
  *    writes, stream runs and artefact training it does;
  *  - plan: `queryExecution.executedPlan`;
  *  - exec: the materializing action, `queryExecution.toRdd.count()`.
  *
  * Materialize, don't count. `Dataset.count()` (what `graft.Bench`
  * times) lets Catalyst prune every projected column, so it measures a
  * different program from the key's own plan: at local[4] on sf0.1,
  * count() vs the full plan read 0.31 vs 1.43 s for q1_pricing_summary,
  * 0.21 vs 1.15 s for text_classifier_score, 0.18 vs 0.66 s for
  * embed_quantize and 0.17 vs 0.36 s for win_ranking. `RDD.count()` on
  * `toRdd` instead runs the key's executed plan to its last row, so an
  * expression-kernel change shows up here.
  *
  * Each key runs as a closed loop (one client, one key at a time) in a
  * fresh child session with `RunCaches` and the plan cache cleared, as
  * `graft.Bench` does. Traced passes attach listeners through Spark's
  * public APIs — a `SparkListener` on the context, and a
  * `QueryExecutionListener` and `StreamingQueryListener` on the key's
  * child session — and drain the asynchronous listener bus before
  * reading them. Untraced passes attach nothing.
  *
  * Output: one JSON record per line on stdout, each prefixed `PB `.
  */
object LayerBench {

  final case class Conf(workload: String, keys: Seq[String], sfDir: String,
      seconds: Double, minPasses: Int, warmup: Int,
      seed: Long, trace: Boolean, cold: Boolean, artifactRoot: String,
      checkDir: String, cpus: Int)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(s"--$k", sys.error(s"missing --$k"))
    Conf(req("workload"), req("keys").split(',').toSeq, req("sf-dir"),
      req("seconds").toDouble, req("min-passes").toInt,
      req("warmup").toInt, req("seed").toLong,
      req("trace") == "1", req("cold") == "1", req("artifact-root"),
      req("check-dir"), req("cpus").toInt)
  }

  // ---------------------------------------------------------------- JSON

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(Locale.ROOT, "%.4f", Double.box(v))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s"${str(k)}:${str(v)}"
    case (k, v: Boolean) => s"${str(k)}:$v"
    case (k, v: Int) => s"${str(k)}:$v"
    case (k, v: Long) => s"${str(k)}:$v"
    case (k, v: Double) => s"${str(k)}:${num(v)}"
    case (k, v: Map[_, _]) => s"${str(k)}:" + v.map { case (a, b) =>
      s"${str(a.toString)}:${b match {
        case d: Double => num(d)
        case o => o.toString
      }}"
    }.mkString("{", ",", "}")
    case (k, v) => s"${str(k)}:${str(String.valueOf(v))}"
  }.mkString("{", ",", "}")

  private def emit(kind: String, fields: (String, Any)*): Unit = {
    println("PB " + obj(("ev" -> kind) +: fields: _*))
    System.out.flush()
  }

  // ---------------------------------------------------------- JVM probes

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNanos: Long = osBean.getProcessCpuTime
  private def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum
  private def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  // ---------------------------------------------------- listener records

  final case class TaskRec(stage: Int, launch: Long, durMs: Long,
      inputBytes: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class JobRec(time: Long)
  final case class StageRec(stage: Int, submitted: Long)

  /** Context-wide task/stage/job recorder. Records are attributed to a
    * key's build or exec window by their timestamps after the bus has
    * been drained; jobs tagged as drain markers are left out. */
  final class TaskRecorder extends SparkListener {
    val tasks = new ConcurrentLinkedQueue[TaskRec]()
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val stages = new ConcurrentLinkedQueue[StageRec]()
    private val markerStages = java.util.concurrent.ConcurrentHashMap
      .newKeySet[Int]()
    val markersSeen = new AtomicLong()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val marker = Option(e.properties)
        .exists(_.getProperty(DrainProp) != null)
      if (marker) e.stageIds.foreach(markerStages.add)
      else jobs.add(JobRec(e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (markerStages.contains(si.stageId)) markersSeen.incrementAndGet()
      else stages.add(StageRec(si.stageId, si.submissionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!markerStages.contains(e.stageId) && e.taskInfo != null) {
        val m = Option(e.taskMetrics)
        tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
          e.taskInfo.duration,
          m.fold(0L)(_.inputMetrics.bytesRead),
          m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(_.diskBytesSpilled)))
      }
  }
  private val DrainProp = "perfbench.drain"

  /** Write commands reported to the key's child session (and to the
    * sessions Spark clones from it for stream runs). */
  final class CommitListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    val writes = new AtomicLong()
    val writeNanos = new AtomicLong()
    val files = new AtomicLong()
    val bytes = new AtomicLong()
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val nodes = writeNodes(qe.executedPlan)
      if (nodes.nonEmpty) {
        writes.incrementAndGet()
        writeNanos.addAndGet(durationNs)
        nodes.foreach { n =>
          n.metrics.get("numFiles").foreach(x => files.addAndGet(x.value))
          n.metrics.get("numOutputBytes").foreach(x => bytes.addAndGet(x.value))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        e: Exception): Unit = ()
    private def writeNodes(p: SparkPlan): Seq[SparkPlan] =
      collectWithSubqueries(p) {
        case c: CommandResultExec => writeNodes(c.commandPhysicalPlan)
        case w: DataWritingCommandExec => Seq(w)
        case w: V2TableWriteExec => Seq(w)
        case c: ExecutedCommandExec if isWriteCommand(c) => Seq(c)
      }.flatten
    private def isWriteCommand(c: ExecutedCommandExec): Boolean = {
      val n = c.cmd.getClass.getSimpleName
      n.startsWith("Insert") || n.startsWith("SaveInto") ||
        n.contains("AsSelect")
    }
  }

  final class StreamListener extends StreamingQueryListener {
    val started = new AtomicLong()
    val terminated = new AtomicLong()
    val batches = new AtomicLong()
    val inputRows = new AtomicLong()
    val durations = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = started.incrementAndGet()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      // a progress event without addBatch reports an idle trigger
      if (d.containsKey("addBatch")) {
        batches.incrementAndGet()
        inputRows.addAndGet(e.progress.numInputRows)
      }
      d.asScala.foreach { case (k, v) =>
        durations.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
      }
    }
    def ms(phase: String): Long =
      Option(durations.get(phase)).fold(0L)(_.get)
  }

  // ------------------------------------------------------------ plan walk

  private object PlanCounts extends AdaptiveSparkPlanHelper {
    /** Counts on the final (post-AQE) plan, subqueries included. */
    def apply(p: SparkPlan): Map[String, Double] = {
      def n(pf: PartialFunction[SparkPlan, Unit]) =
        collectWithSubqueries(p)(pf).size.toDouble
      Map(
        "plan.exchanges" -> n { case _: ShuffleExchangeLike => },
        "plan.broadcasts" -> n { case _: BroadcastExchangeLike => },
        "plan.reused_exchanges" -> n { case _: ReusedExchangeExec => },
        "plan.scans" -> n {
          case _: DataSourceScanExec => case _: BatchScanExec => })
    }
  }

  // ------------------------------------------------------- artefact walk

  /** Files (path -> size) and directories under the artefact root. */
  private def snapshot(root: Path): (Map[String, Long], Set[String]) =
    if (!Files.isDirectory(root)) (Map.empty, Set.empty)
    else {
      val files = mutable.Map.empty[String, Long]
      val dirs = mutable.Set.empty[String]
      val s = Files.walk(root)
      try s.iterator().asScala.foreach { p =>
        try {
          if (Files.isDirectory(p)) dirs += p.toString
          else files(p.toString) = Files.size(p)
        } catch { case _: java.io.IOException => } // vanished mid-walk
      } catch { case _: java.io.UncheckedIOException => }
      finally s.close()
      (files.toMap, dirs.toSet)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  // ----------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val entry = SparkEntry.queries
    val missing = c.keys.filterNot(entry.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(", ")}")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    emit("session", "ms" -> (System.nanoTime() - t0) / 1e6)

    val artifactRoot = Paths.get(c.artifactRoot).toAbsolutePath
    val recorder = new TaskRecorder
    val sc = spark.sparkContext

    /** Waits until every listener event posted before now has been
      * delivered: a one-task marker job's completion travels the same
      * ordered queue behind them. */
    def drain(): Unit = {
      val before = recorder.markersSeen.get
      sc.setLocalProperty(DrainProp, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(DrainProp, null)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (recorder.markersSeen.get == before && System.nanoTime() < deadline)
        Thread.sleep(1)
    }

    def module(key: String): String =
      entry(key).getClass.getName.split('.') match {
        case Array("graft", m, _*) => m
        case _ => "other"
      }

    /** One key, closed loop. Returns the sample's record fields. */
    def runKey(key: String, traced: Boolean): Seq[(String, Any)] = {
      val ss = spark.newSession()
      RunCaches.reset()
      ss.catalog.clearCache()
      val commits = new CommitListener
      val streams = new StreamListener
      var art0: (Map[String, Long], Set[String]) = null
      if (traced) {
        ss.listenerManager.register(commits)
        ss.streams.addListener(streams)
        art0 = snapshot(artifactRoot)
        // the previous key's drain delivered everything before this point
        recorder.tasks.clear(); recorder.jobs.clear(); recorder.stages.clear()
      }
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var n1, n2, n3 = n0
      var w1 = w0
      var rows = -1L
      var err: String = null
      var qe: QueryExecution = null
      try {
        val df: DataFrame = entry(key)(ss, c.sfDir)
        n1 = System.nanoTime(); w1 = System.currentTimeMillis()
        qe = df.queryExecution
        qe.executedPlan
        n2 = System.nanoTime()
        rows = SQLExecution.withNewExecutionId(qe, Some(s"perfbench:$key")) {
          qe.toRdd.count()
        }
        n3 = System.nanoTime()
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          val now = System.nanoTime()
          if (n1 == n0) n1 = now
          if (n2 == n0) n2 = now
          n3 = now
      }
      val base = Seq[(String, Any)]("key" -> key, "module" -> module(key),
        "ok" -> (err == null), "lat_ms" -> (n3 - n0) / 1e6,
        "build_ms" -> (n1 - n0) / 1e6, "plan_ms" -> (n2 - n1) / 1e6,
        "exec_ms" -> (n3 - n2) / 1e6, "rows" -> rows) ++
        Option(err).map("err" -> _)
      if (!traced) return base

      drain()
      val sDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (streams.terminated.get < streams.started.get &&
          System.nanoTime() < sDeadline) Thread.sleep(1)
      val lat = (System.nanoTime() - n0) / 1e6
      ss.listenerManager.unregister(commits)
      ss.streams.removeListener(streams)
      val art1 = snapshot(artifactRoot)

      val tasks = recorder.tasks.asScala.toSeq.filter(_.launch >= w0)
      val (bTasks, eTasks) = tasks.partition(_.launch < w1)
      val jobs = recorder.jobs.asScala.toSeq.filter(_.time >= w0)
      val stages = recorder.stages.asScala.toSeq.filter(_.submitted >= w0)
      // slowest exec stage: its wall span and max/median task time
      val byStage = eTasks.groupBy(_.stage).values.toSeq
      val slowest = if (byStage.isEmpty) Seq.empty[TaskRec]
        else byStage.maxBy(ts =>
          ts.map(t => t.launch + t.durMs).max - ts.map(_.launch).min)
      val durs = slowest.map(_.durMs.toDouble).sorted
      val skew = if (durs.isEmpty) 1.0
        else durs.last / math.max(durs(durs.size / 2), 1.0)
      val phases = Option(qe).map(_.tracker.phases).getOrElse(Map.empty)
      def phase(p: String) = phases.get(p).fold(0.0)(_.durationMs.toDouble)
      val counts = Option(qe).filter(_ => err == null)
        .map(q => PlanCounts(q.executedPlan)).getOrElse(Map.empty)
      val newDirs = art1._2 -- art0._2
      val newBytes = art1._1.collect {
        case (p, size) if !art0._1.get(p).contains(size) => size
      }.sum
      base.filterNot(_._1 == "lat_ms") ++ Seq[(String, Any)](
        "lat_ms" -> lat,
        "layers" -> (Map[String, Double](
          "build.jobs" -> jobs.count(_.time < w1).toDouble,
          "build.tasks" -> bTasks.size.toDouble,
          "build.task_ms" -> bTasks.map(_.durMs).sum.toDouble,
          "build.shuffle_write_bytes" -> bTasks.map(_.shuffleWrite).sum.toDouble,
          "plan.analysis_ms" -> phase("analysis"),
          "plan.optimization_ms" -> phase("optimization"),
          "plan.planning_ms" -> phase("planning"),
          "exec.jobs" -> jobs.count(_.time >= w1).toDouble,
          "exec.stages" -> stages.count(_.submitted >= w1).toDouble,
          "exec.tasks" -> eTasks.size.toDouble,
          "exec.task_ms" -> eTasks.map(_.durMs).sum.toDouble,
          "exec.input_bytes" -> eTasks.map(_.inputBytes).sum.toDouble,
          "exec.shuffle_read_bytes" -> eTasks.map(_.shuffleRead).sum.toDouble,
          "exec.shuffle_write_bytes" -> eTasks.map(_.shuffleWrite).sum.toDouble,
          "exec.spill_bytes" -> eTasks.map(_.spill).sum.toDouble,
          "commit.write_commands" -> commits.writes.get.toDouble,
          "commit.write_ms" -> commits.writeNanos.get / 1e6,
          "commit.files_written" -> commits.files.get.toDouble,
          "commit.bytes_written" -> commits.bytes.get.toDouble,
          "stream.batches" -> streams.batches.get.toDouble,
          "stream.input_rows" -> streams.inputRows.get.toDouble,
          "stream.trigger_ms" -> streams.ms("triggerExecution").toDouble,
          "stream.add_batch_ms" -> streams.ms("addBatch").toDouble,
          "stream.wal_commit_ms" -> streams.ms("walCommit").toDouble,
          "stream.commit_offsets_ms" -> streams.ms("commitOffsets").toDouble,
          "artifact.dirs_built" -> newDirs.size.toDouble,
          "artifact.bytes_built" -> newBytes.toDouble) ++ counts),
        "slowest_stage_ms" -> (if (slowest.isEmpty) 0.0 else
          (slowest.map(t => t.launch + t.durMs).max -
            slowest.map(_.launch).min).toDouble),
        "task_skew" -> skew)
    }

    def order(pass: Int): Seq[String] =
      new scala.util.Random(c.seed * 1000003L + pass).shuffle(c.keys)

    /** The first untimed pass: runs every key once, writing its result
      * as one parquet file per key (with its oracle SQL) for the DuckDB
      * compare. This is the output check, outside the timed passes, and
      * the first warm-up pass of the set-up. */
    def checkPass(dir: String): Unit = {
      if (c.cold) deleteTree(artifactRoot)
      val oracles = SparkEntry.oracleSql
      for (key <- order(-1)) {
        val ss = spark.newSession()
        RunCaches.reset()
        ss.catalog.clearCache()
        val err = try {
          entry(key)(ss, c.sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/$key")
          null
        } catch { case e: Throwable =>
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}" }
        emit("check", Seq[(String, Any)]("key" -> key,
          "oracle" -> oracles.getOrElse(key, "")) ++
          Option(err).map("err" -> _): _*)
      }
    }

    def runPass(pass: Int, timed: Boolean, traced: Boolean): Unit = {
      if (c.cold) deleteTree(artifactRoot)
      if (traced) sc.addSparkListener(recorder)
      val cpu0 = cpuNanos
      val gc0 = gcMillis
      val p0 = System.nanoTime()
      for (key <- order(pass)) {
        val rec = runKey(key, traced)
        if (timed) emit("sample", (("pass" -> pass) +: ("traced" -> traced)
          +: rec): _*)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      if (traced) sc.removeSparkListener(recorder)
      emit("pass", "pass" -> pass, "timed" -> timed, "traced" -> traced,
        "wall_s" -> wall, "cpu_s" -> (cpuNanos - cpu0) / 1e9,
        "gc_ms" -> (gcMillis - gc0).toDouble)
    }

    checkPass(c.checkDir)
    for (w <- 2 to c.warmup) runPass(-w, timed = false, traced = false)
    emit("ready", "ms" -> (System.nanoTime() - t0) / 1e6)

    // Timed passes. A traced run alternates untraced and traced passes
    // so their ratio (the tracing overhead) is taken under the same JIT
    // and host conditions.
    val m0 = System.nanoTime()
    var pass = 0
    while (pass < c.minPasses || (System.nanoTime() - m0) / 1e9 < c.seconds) {
      runPass(pass, timed = true, traced = c.trace && pass % 2 == 1)
      pass += 1
    }
    emit("measured", "passes" -> pass, "s" -> (System.nanoTime() - m0) / 1e9,
      "heap_after_gc_mb" -> heapAfterGcMb)
    spark.stop()
    emit("end")
  }
}
