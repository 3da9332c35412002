package graft

import graft.streaming.StreamOps

/** Fixture loads take their schema from the parquet footer on the
  * driver: a fresh session builds keys over the fixtures without a
  * Spark job, and the schema is the one `spark.read.parquet` infers. */
class TablesSpec extends SparkSpec {

  test("a fresh session builds TPC-H keys and the events stream with " +
      "no Spark job") {
    val ss = spark.newSession()
    RunCaches.reset()
    val (built, jobs) = withJobCount {
      Seq(SparkEntry.queries("q21_waiting_suppliers")(ss, sf),
        SparkEntry.queries("q18_large_orders")(ss, sf),
        StreamOps.eventsStream(ss, sf))
    }
    assert(jobs == 0, s"the builds started $jobs Spark jobs")
    assert(built.forall(_.schema.nonEmpty) && built(2).isStreaming)
    // the counter sees jobs at all: inferring a schema in a fresh
    // session is one
    assert(withJobCount(spark.newSession().read
      .parquet(s"$sf/nation.parquet"))._2 > 0)
  }

  for (name <- Tables.names)
    test(s"$name: the footer schema equals the inferred one, " +
        "nullability included") {
      val ss = spark.newSession()
      val got = Tables(ss, sf, name).schema
      // Tables has set the session's parquet settings for this table
      val inferred = ss.read.parquet(s"$sf/$name.parquet")
      val want =
        (if (name == "events") Tables.normalizeTs(inferred) else inferred)
          .schema
      assert(got.length == want.length, s"${got.treeString} vs " +
        want.treeString)
      for ((g, w) <- got.fields.zip(want.fields))
        assert(g == w, s"field ${w.name}")
    }
}
