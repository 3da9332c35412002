package graft

import graft.streaming.StreamOps

/** Fixture loads take their schema from the parquet footer on the
  * driver: a fresh session builds keys over the fixtures without a
  * Spark job, and the schema is the one `spark.read.parquet` infers.
  * DDL over a fixture, and a read-back of a dir written from a fixture
  * frame, infer no schema either. */
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

  test("a fresh session builds meta_roundtrip, whose DDL declares the " +
      "fixture's columns, with no Spark job") {
    val ss = spark.newSession()
    RunCaches.reset()
    val (df, jobs) = withJobCount(SparkEntry.queries("meta_roundtrip")(ss, sf))
    assert(jobs == 0, s"the build started $jobs Spark jobs")
    assert(df.schema.nonEmpty)
  }

  test("a fresh session builds sink_compact with only its compaction " +
      "write's jobs: both read-backs take the orders frame's schema") {
    // warm-up: leaves the fragment dir current, so the counted build
    // skips the fragmenting write
    SparkEntry.queries("sink_compact")(spark.newSession(), sf).collect()
    val ss = spark.newSession()
    RunCaches.reset()
    val (df, jobs) = withJobCount(SparkEntry.queries("sink_compact")(ss, sf))
    // the compaction's shuffle map stage and its write
    assert(jobs == 2, s"the build started $jobs Spark jobs")
    assert(df.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    assert(df.count() == Tables(ss, sf, "orders").count())
  }

  for (name <- Tables.names)
    test(s"$name: the footer schema equals the inferred one, " +
        "nullability included") {
      val ss = spark.newSession()
      val got = Tables(ss, sf, name).schema
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
