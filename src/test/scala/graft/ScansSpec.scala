package graft

import graft.sources.Scans
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Layout-level properties of the data-skipping sinks — the part of
  * sink_zorder / scan_bloom_skip the content oracle cannot see. A
  * z-order write that silently degraded to a single-column sort would
  * still round-trip every row; only the per-file min/max geometry below
  * distinguishes a rectangle layout from a stripe layout. */
class ScansSpec extends SparkSpec {

  test("z-order layout shrinks per-file spans on BOTH dimensions") {
    // materialize the z-ordered scratch dir through the public query
    SparkEntry.queries("sink_zorder")(spark, sf).count()
    val dir = Scans.lineitemZorder.dir(sf)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(
        min(col("l_orderkey")).as("xmin"), max(col("l_orderkey")).as("xmax"),
        min(col("l_partkey")).as("ymin"), max(col("l_partkey")).as("ymax"))
      .collect()
    assert(perFile.length >= 4,
      s"z-order write produced only ${perFile.length} files — " +
        "span statistics would be vacuous")
    def span(lo: String, hi: String): Seq[Double] = perFile.toSeq
      .map(r => (r.getAs[Number](hi).longValue -
        r.getAs[Number](lo).longValue).toDouble)
    val gx = span("xmin", "xmax")
    val gy = span("ymin", "ymax")
    val globalX =
      (perFile.map(_.getAs[Number]("xmax").longValue).max -
        perFile.map(_.getAs[Number]("xmin").longValue).min).toDouble
    val globalY =
      (perFile.map(_.getAs[Number]("ymax").longValue).max -
        perFile.map(_.getAs[Number]("ymin").longValue).min).toDouble
    val avgX = gx.sum / gx.size / globalX
    val avgY = gy.sum / gy.size / globalY
    // a contiguous 1/8 slice of Morton space is a rectangle ~1/2 wide in
    // one dimension and ~1/4 in the other; a plain sort would put one
    // dimension near 0 and leave the other at ~1.0. Both must shrink.
    assert(avgX < 0.8, f"avg per-file l_orderkey span $avgX%.2f of global " +
      "— x dimension not clustered")
    assert(avgY < 0.8, f"avg per-file l_partkey span $avgY%.2f of global " +
      "— y dimension not clustered; layout degraded to a 1-D sort?")
  }

  test("the published lineitem_by_flag dir lists only its partition " +
      "dirs, so partition recovery ignores nothing in it") {
    val dir = Scans.lineitemByFlagDir(spark, sf)
    val names = Option(new java.io.File(dir).list).toSeq.flatten
      .filterNot(n => n.startsWith(".") || n == "_SUCCESS")
    assert(names.nonEmpty && names.forall(_.startsWith("l_returnflag=")),
      s"non-partition entries in $dir: ${names.sorted}")
  }

  test("bloom-filtered parquet skips row groups on a point probe") {
    // materialize the bloom-filtered scratch dir
    SparkEntry.queries("scan_bloom_skip")(spark, sf).count()
    val dir = Scans.ordersBloom.dir(sf)
    // the write sorted by o_orderdate, so o_custkey is uncorrelated with
    // file order: min/max alone cannot skip, and the bloom filter is the
    // only reason a point probe reads less than everything. Verify the
    // bloom filter bytes actually landed in the files.
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val withBloom = files.count { f =>
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          spark.sparkContext.hadoopConfiguration))
      try {
        val md = in.getFooter.getBlocks
        !md.isEmpty && {
          val custkey = md.get(0).getColumns.asScala
            .find(_.getPath.toDotString == "o_custkey")
          custkey.exists(_.getBloomFilterOffset >= 0)
        }
      } finally in.close()
    }
    assert(withBloom == files.length,
      s"bloom filter present in only $withBloom/${files.length} files")
  }

  test("malformed CSV: permissive quarantines, dropmalformed drops") {
    val rows = Scans.csvMalformedModes(spark)
      .collect().map(r => r.getAs[String]("mode") -> r).toMap
    val perm = rows("permissive")
    val drop = rows("dropmalformed")
    // 700 source rows: 100 under-arity (every 7th ≡ 3), 100 bad-numeric
    // (every 7th ≡ 5). PERMISSIVE loses nothing; only TYPE-malformed
    // rows are quarantined (under-arity fills nulls silently — worth
    // knowing before trusting _corrupt_record as a completeness check).
    assert(perm.getAs[Long]("n_rows") == 700)
    assert(perm.getAs[Long]("n_amount_ok") == 500)
    assert(perm.getAs[Long]("n_quarantined") == 100)
    // DROPMALFORMED removes the type-malformed rows but keeps
    // under-arity rows as nulls
    assert(drop.getAs[Long]("n_rows") == 600)
    assert(drop.getAs[Long]("n_amount_ok") == 500)
  }

  test("sink_rebalance_write: content lossless, file count AQE-bounded") {
    val out = SparkEntry.queries("sink_rebalance_write")(spark, sf)
    assert(out.count() == Tables(spark, sf, "orders").count())
    val dir = Tables.scratch(sf, "orders_rebalanced")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, "*.parquet")).length
    // AQE coalesces the tiny fixture into a handful of output files —
    // the point of the hint vs the shuffle-partition count (4 here,
    // 32+ in prod) fanning out one file each
    assert(nFiles >= 1 && nFiles <= 4, s"rebalance wrote $nFiles files")
  }

  test("scan_jdbc: filter pushed to the remote DB, read is partitioned") {
    val df = SparkEntry.queries("scan_jdbc")(spark, sf)
    // the JDBC scan is a RowDataSourceScanExec; its PushedFilters
    // metadata records what reached the remote WHERE clause
    // sparkPlan, not executedPlan: AQE wraps the tree and hides leaves
    val scans = df.queryExecution.sparkPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s }
    assert(scans.nonEmpty, "no JDBC scan node in the plan")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("LessThan(s_nationkey,13)"),
      s"nationkey filter not pushed to Derby: $pushed")
    // the scan itself must fan out over 4 range partitions (4 parallel
    // cursors against the external DB), independent of the later sort
    assert(scans.head.execute().getNumPartitions == 4,
      "JDBC read not split into 4 range partitions")
  }
}
