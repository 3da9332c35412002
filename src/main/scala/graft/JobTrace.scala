package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool (optimization rounds): run one query key and print every
  * Spark job's wall time + description/callsite, so multi-statement
  * fixture keys show WHERE their seconds go. Run with
  *   sbt "runMain graft.JobTrace <key> [sfDir] [cpus=32]"
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val key = args.headOption.getOrElse("agg_hash_group")
    val positional = args.drop(1).filterNot(_.startsWith("cpus="))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = args.collectFirst { case a if a.startsWith("cpus=") =>
      a.stripPrefix("cpus=") }.getOrElse("32")
    val spark = Session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          lines.add(f"JOB ${je.jobId}%4d ${(je.time - t0) / 1e3}%7.2fs  $desc")
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        val si = sc.stageInfo
        val dur = (for {a <- si.completionTime; b <- si.submissionTime}
          yield (a - b) / 1e3).getOrElse(-1.0)
        if (dur > 0.2)
          lines.add(f"  STAGE ${si.stageId}%4d $dur%7.2fs tasks=${si.numTasks}%4d  ${si.name.take(110)}")
      }
    })
    // warm the JVM/codegen on the control key first so the trace shows
    // steady-state costs, not first-job JIT
    try SparkEntry.queries("agg_hash_group")(spark, sfDir).count()
    catch { case _: Throwable => }
    starts.clear(); lines.clear()
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(key)(spark, sfDir)
    df.count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain
    import scala.jdk.CollectionConverters._
    lines.asScala.toSeq.foreach(println)
    println(f"KEY=$key TOTAL=$total%.2f s JOBS=${lines.size}")
    spark.stop()
  }
}
