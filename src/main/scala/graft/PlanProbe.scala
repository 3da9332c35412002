package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool: execute one query key and print exchange/scan/stage counts
  * of its final adaptive plan, the generated classes its timed runs
  * compiled (`COMPILES`: 0 when every class came from Spark's codegen
  * cache), the Spark jobs started while its timed runs built their
  * DataFrames (`BUILD_JOBS`: schema inference, staging writes), plus
  * the full plan on request. Run with
  *   sbt "runMain graft.PlanProbe <key> [sfDir] [full]"
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val key = args.headOption.getOrElse("agg_hash_group")
    // flags are position-independent; sfDir is the first positional arg
    // after the key — "PlanProbe <key> cpus=4" must not read "cpus=4"
    // as a data directory
    val flags = Set("full", "warm")
    val positional = args.drop(1)
      .filterNot(a => flags(a) || a.startsWith("cpus=") ||
        a.startsWith("runs=") || a.startsWith("conf:"))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    // cpus=N reproduces the bench's local[N] / N-shuffle-partition config
    val cpus = args.collectFirst { case a if a.startsWith("cpus=") =>
      a.stripPrefix("cpus=") }.getOrElse("8")
    var b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // conf:key=value — ad-hoc session conf for optimization experiments
    args.filter(_.startsWith("conf:")).foreach { a =>
      a.stripPrefix("conf:").split("=", 2) match {
        case Array(k, v) => b = b.config(k, v)
        case _ => sys.error(
          s"bad conf flag '$a' — expected conf:<key>=<value>")
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm: run once first so SECS measures steady-state, not JVM/codegen
    if (args.contains("warm"))
      SparkEntry.queries(key)(spark, sfDir).collect()
    // caches cold, JVM warm — a persist() inside the key would otherwise
    // hand the timed run the warmup's materialized blocks (CacheManager
    // matches canonicalized plans across separate DataFrame builds)
    // runs=N: report the MEDIAN of N timed runs in this one JVM — the
    // bench's own statistic; single-shot streaming keys swing 2×
    // (clamped to >=1; for even N this reports the upper-middle run)
    val runs = math.max(1,
      args.collectFirst { case a if a.startsWith("runs=") =>
        a.stripPrefix("runs=").toInt }.getOrElse(1))
    var df: org.apache.spark.sql.DataFrame = null
    // jobs tagged "build" (Spark's own work threads inherit the probe
    // thread's local properties); the "drain" marker job after the runs
    // shows the listener bus has delivered every earlier job
    val sc = spark.sparkContext
    val tag = "graft.planprobe"
    val buildJobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("build") => buildJobs.incrementAndGet(): Unit
          case Some("drain") => drained.countDown()
          case _ =>
        }
    })
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val times = Seq.fill(runs) {
      RunCaches.reset()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      sc.setLocalProperty(tag, "build")
      try df = SparkEntry.queries(key)(spark, sfDir)
      finally sc.setLocalProperty(tag, null)
      df.collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    sc.setLocalProperty(tag, "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(tag, null)
    require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "listener bus never delivered the drain marker")
    val secs = times(runs / 2)
    val p = df.queryExecution.executedPlan.toString
    println(f"KEY=$key SECS=$secs%.2f RUNS=${times.map(t => f"$t%.2f").mkString(",")}")
    println("EXCHANGES=" + "Exchange hashpartitioning".r.findAllIn(p).length)
    println("REUSED=" + "ReusedExchange".r.findAllIn(p).length)
    println("SCANS=" + "FileScan parquet".r.findAllIn(p).length)
    println("AQE_STAGES=" + "ShuffleQueryStage".r.findAllIn(p).length)
    println(s"COMPILES=$compiles")
    println(s"BUILD_JOBS=${buildJobs.get}")
    if (args.contains("full")) println(p)
    spark.stop()
  }
}
