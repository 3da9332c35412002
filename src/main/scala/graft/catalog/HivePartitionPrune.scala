package graft.catalog

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Proof that partition pruning on the REAL Hive metastore path is
  * served by the metastore client's filtered listing
  * (`get_partitions_by_filter`, the call the reference's shared HMS
  * earns its keep with — yc-data-proc-metadata-import
  * metastore-import.tf:112-117, SURVEY §4.1), not by listing every
  * partition and filtering client-side.
  *
  * Scenario: orders is laid out as a Hive-partitioned EXTERNAL table
  * (PARTITIONED BY o_year STRING, MSCK-registered in an embedded-Derby
  * HMS — the local stand-in for the managed metastore). A scan with a
  * partition predicate over 2 of the years must:
  *   1. fetch exactly the 2 matching partition objects from the
  *      metastore (asserted via Spark's public
  *      [[HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED]] counter —
  *      the same instrument Spark's own PartitionedTablePerfStatsSuite
  *      uses), proving the filter was pushed to the HMS client;
  *   2. read files from only those 2 partition directories
  *      (inputFiles assert — storage-level pruning);
  *   3. as the negative control, fetch ALL partitions for the same
  *      query once `spark.sql.hive.metastorePartitionPruning=false` —
  *      proving the counter measures the pushdown, not an accident of
  *      caching.
  *
  * A STRING partition column is used deliberately: the HMS filter
  * grammar pushes string predicates on every metastore version, while
  * integral pushdown is config-dependent — at 100 TB the difference is
  * a metastore RPC returning 2 rows vs 10⁵ partition objects.
  *
  * Standalone main (Hive catalogs are fixed per SparkContext, so this
  * needs its own JVM — the [[HiveRoundtrip]] pattern):
  *   sbt "runMain graft.catalog.HivePartitionPrune /root/testdata/sf0.001"
  * Prints HIVE_PPRUNE_OK=pruned=..,total=..,rows=.. on success. With a
  * second arg, writes the pruned query's result there as parquet (the
  * `meta_hive_partition_prune` key reads it back for the DuckDB diff).
  */
object HivePartitionPrune {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1)
    val scratch = new java.io.File(
      graft.Tables.scratch(sfDir, "hive_pprune_work")).getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-hive-partition-prune")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$scratch/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.conf.get("spark.sql.catalogImplementation") == "hive",
      "hive support not active")

    // Hive-partitioned external layout: o_year=YYYY directories, the
    // shared-bucket shape the reference's clusters write.
    val dataDir = s"$scratch/orders_part_data"
    graft.Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        year(col("o_orderdate")).cast("string").as("o_year"))
      .write.partitionBy("o_year").mode("overwrite").parquet(dataDir)
    spark.sql("CREATE DATABASE hive_pp")
    spark.sql(s"""CREATE EXTERNAL TABLE hive_pp.orders_part (
                 |  o_orderkey BIGINT, o_custkey BIGINT,
                 |  o_orderstatus STRING, o_totalprice DOUBLE)
                 |PARTITIONED BY (o_year STRING)
                 |STORED AS PARQUET LOCATION '$dataDir'""".stripMargin)
    spark.sql("MSCK REPAIR TABLE hive_pp.orders_part")

    val years = spark.sql("SHOW PARTITIONS hive_pp.orders_part")
      .collect().map(_.getString(0).stripPrefix("o_year=")).sorted
    val total = years.length
    require(total >= 5, s"fixture surprise: only $total year partitions")
    require(Seq("1996", "1998").forall(years.contains),
      s"fixture surprise: years=$years")

    val prunedSql =
      """SELECT o_year, COUNT(*) AS n_orders,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM hive_pp.orders_part WHERE o_year IN ('1996', '1998')
        |GROUP BY o_year ORDER BY o_year""".stripMargin

    // 1+2: HMS-side pruning — the metastore client must return exactly
    // the 2 matching partition objects, and the scan must touch only
    // their directories.
    spark.conf.set("spark.sql.hive.metastorePartitionPruning", "true")
    HiveCatalogMetrics.reset()
    val pruned = spark.sql(prunedSql)
    val rows = pruned.collect()
    val fetchedPruned = HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED.getCount
    require(fetchedPruned == 2,
      s"metastore served $fetchedPruned partitions for a 2-partition " +
        s"predicate (of $total) — filter not pushed to the HMS client")
    val files = pruned.inputFiles
    require(files.nonEmpty && files.forall(f =>
      f.contains("o_year=1996") || f.contains("o_year=1998")),
      s"scan read outside the 2 matching partitions: ${files.mkString(",")}")
    require(rows.length == 2, s"expected 2 result rows, got ${rows.length}")

    // 3: negative control — same query with metastore pruning disabled
    // must fetch every partition, proving the counter above measured
    // the pushdown and not a cache artifact.
    spark.conf.set("spark.sql.hive.metastorePartitionPruning", "false")
    HiveCatalogMetrics.reset()
    spark.sql(prunedSql).collect()
    val fetchedAll = HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED.getCount
    require(fetchedAll == total,
      s"control fetched $fetchedAll of $total partitions — counter " +
        "not measuring metastore listing")
    spark.conf.set("spark.sql.hive.metastorePartitionPruning", "true")

    outDir.foreach { o =>
      spark.sql(prunedSql).coalesce(1).write.mode("overwrite").parquet(o)
    }
    println(s"HIVE_PPRUNE_OK=pruned=$fetchedPruned,total=$total," +
      s"rows=${rows.map(_.getLong(1)).sum}")
    spark.stop()
  }
}
