package graft

/** Every declared §2 key must execute at sf0.001 and return rows.
  * (Queries are designed non-vacuous at every scale factor.) */
class EngineSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracled key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name executes and is non-empty") {
      val df = SparkEntry.queries(name)(spark, sf)
      assert(df.count() > 0, s"$name returned 0 rows at sf0.001")
    }
  }

  test("q1 rounds its exact DECIMAL sums half-up at a .xx5 tie") {
    // discounted prices 50.05 + 0.165: the exact sum is the tie 50.215,
    // the double sum 50.214999999999996. Rounding the DECIMAL gives
    // .22, in Spark and in the DuckDB oracle alike.
    val d = java.nio.file.Files.createTempDirectory("graft_q1_tie").toString
    try {
      val ts = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      spark.createDataFrame(Seq(
          (1.0, 100.1, 0.5, 0.0, "N", "O", ts),
          (2.0, 0.33, 0.5, 0.0, "N", "O", ts)))
        .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .coalesce(1).write.parquet(s"$d/out")
      // Tables reads a fixture as one parquet file
      val part = new java.io.File(s"$d/out").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$d/lineitem.parquet"))
      val r = SparkEntry.queries("q1_pricing_summary")(spark, d).collect()
      assert(r.length == 1)
      assert(r(0).getAs[Double]("sum_base_price") == 100.43)
      assert(r(0).getAs[Double]("sum_disc_price") == 50.22)
      assert(r(0).getAs[Double]("sum_charge") == 50.22)
      assert(r(0).getAs[Long]("count_order") == 2L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
  }

  test("weighted percentile boundaries bracket the weighted median " +
      "per group, over identical totals") {
    // both keys collapse through the same (flag, quantity) rollup —
    // the p25 ≤ p50 ≤ p75 ordering and the shared exact cents total
    // are invariants of that shape, independent of the oracle
    def byFlag(key: String) = SparkEntry.queries(key)(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val med = byFlag("agg_weighted_median")
    val pct = byFlag("agg_weighted_percentile")
    assert(med.keySet == pct.keySet)
    for ((flag, m) <- med) {
      val p = pct(flag)
      val (p25, p50, p75) = (p.getDouble(1), m.getDouble(1), p.getDouble(2))
      assert(p25 <= p50 && p50 <= p75,
        s"$flag: p25=$p25 p50=$p50 p75=$p75 not ordered")
      assert(m.getLong(2) == p.getLong(3),
        s"$flag: total_cents diverged between the two rollups")
    }
  }
}
