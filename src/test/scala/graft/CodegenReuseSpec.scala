package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A key rerun in a fresh child session, the way `Bench` and perfbench
  * run every key, reuses the generated classes its first run compiled:
  * the second run compiles none. With Spark's default session artifact
  * isolation each session's tasks get their own classloader, and the
  * second run recompiled every generated class (9 for
  * `agg_hash_group`, 17 for `stream_tumbling`, at sf0.001).
  * `join_bloom_runtime` runs in a session of its own, which must turn
  * isolation off too. */
class CodegenReuseSpec extends SparkSpec {

  /** Generated classes compiled while `key` runs once, cache-cold, in
    * a new child session; and the rows it returned. */
  private def run(key: String): (Long, Int) = {
    val ss = spark.newSession()
    RunCaches.reset()
    ss.catalog.clearCache()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rows = SparkEntry.queries(key)(ss, sf).collect().length
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, rows)
  }

  for (key <- Seq("agg_hash_group", "stream_tumbling",
      "join_bloom_runtime"))
    test(s"$key rerun in a fresh session compiles no generated class") {
      val (_, rows1) = run(key)
      val (compiles, rows2) = run(key)
      assert(rows1 > 0 && rows2 == rows1)
      assert(compiles == 0, s"$key recompiled $compiles generated classes")
    }
}
