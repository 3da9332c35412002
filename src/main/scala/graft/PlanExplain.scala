package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool: write `.explain("formatted")` of one
  * or more query keys to plans/r20/<key>_<tag>.txt. Run with
  *   sbt "runMain graft.PlanExplain <tag> <key> [key ...]"
  * Uses the bench's session shape (local[32], 32 shuffle partitions) so
  * the dumped plan is the one the bench actually runs. Building a key's
  * DataFrame executes its staging side effects; the dump is the plan of
  * the DECLARED result the driver diffs and the bench times.
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val keys = args.drop(1)
    require(keys.nonEmpty, "usage: PlanExplain <tag> <key> [key ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get("plans/r20"))
    for (key <- keys) {
      val ss = spark.newSession()
      RunCaches.reset()
      val df = SparkEntry.queries(key)(ss, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"plans/r20/${key}_$tag.txt"), txt)
      println(s"PLAN_OK $key -> plans/r20/${key}_$tag.txt")
    }
    spark.stop()
  }
}
