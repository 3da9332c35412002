package graft

import org.apache.spark.sql.SparkSession

/** The engine's local SparkSession, as the dev mains and the test suite
  * build it: `local[cpus]` with one shuffle partition per core, the
  * graft planner extensions, the UTC session time zone the oracles
  * assume, and no UI. `conf` pairs are set on top. */
object Session {
  def apply(cpus: String, conf: (String, String)*): SparkSession =
    conf.foldLeft(SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
