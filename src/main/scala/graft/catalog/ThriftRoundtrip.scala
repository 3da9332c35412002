package graft.catalog

import org.apache.spark.sql.SparkSession

/** The reference's ACTUAL transport, end-to-end: a real Hive Metastore
  * served over a Thrift SOCKET (the boundary the managed HMS exposes at
  * yc-data-proc-metadata-import metastore-import.tf:112-117 and clusters
  * attach to via client NodePorts :75-81), not an embedded direct-JDBC
  * catalog. This main:
  *
  *  1. starts `HiveMetaStore` (Derby-backed) on a free localhost port in
  *     a daemon thread — a genuine Thrift server, same class the
  *     standalone `hive --service metastore` runs;
  *  2. opens a Spark session via [[CatalogTransfer.thriftSession]] whose
  *     ONLY metadata path is `hive.metastore.uris` → that socket (no
  *     javax.jdo config exists in the session, so nothing can fall back
  *     to embedded mode);
  *  3. creates a database + external parquet table + table property +
  *     permanent function, exports the catalog with
  *     [[CatalogTransfer.export]] (every read marshalled over Thrift),
  *     drops the database from HMS, re-imports with
  *     [[CatalogTransfer.importInto]] (every write marshalled over
  *     Thrift), and asserts fidelity;
  *  4. dumps the round-tripped table as parquet for the DuckDB oracle
  *     (`meta_thrift_roundtrip` reads it back).
  *
  * Standalone main: the catalog implementation is fixed per
  * SparkContext, so the Hive-backed session needs its own JVM. Run with
  *   sbt "runMain graft.catalog.ThriftRoundtrip /root/testdata/sf0.001"
  * Prints THRIFT_ROUNDTRIP_OK=<rowcount> on success.
  */
object ThriftRoundtrip {

  /** Start a Derby-backed HiveMetaStore Thrift server on `port`
    * (daemon thread; dies with the JVM). Returns false if the server
    * thread died (e.g. the port was grabbed between free-port probe and
    * bind — the caller retries on a fresh port) instead of requiring,
    * so a TOCTOU race costs a retry, not the run. */
  private def startMetastore(port: Int, scratch: String): Boolean = {
    val conf = new org.apache.hadoop.hive.conf.HiveConf()
    // Derby dir is keyed by the attempt's port: an attempt that dies
    // AFTER partially initializing the metastore schema (a non-bind
    // failure) must not poison the next attempt with a half-created
    // Derby catalog — each retry starts from a virgin database.
    conf.set("javax.jdo.option.ConnectionURL",
      s"jdbc:derby:;databaseName=$scratch/metastore_db_$port;create=true")
    conf.set("datanucleus.schema.autoCreateAll", "true")
    conf.set("hive.metastore.schema.verification", "false")
    // the DataNucleus default pool (BoneCP) isn't on Spark's classpath;
    // HikariCP is the pool Spark itself ships for the embedded case
    conf.set("datanucleus.connectionPoolingType", "HikariCP")
    conf.set("hive.metastore.warehouse.dir", s"$scratch/hms_warehouse")
    val died = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val t = new Thread(() =>
      try org.apache.hadoop.hive.metastore.HiveMetaStore.startMetaStore(
        port,
        org.apache.hadoop.hive.shims.ShimLoader.getHadoopThriftAuthBridge,
        conf)
      catch { case e: Throwable => died.set(e) },
      "graft-hms-server")
    t.setDaemon(true)
    t.start()
    // wait until OUR server's Thrift socket accepts connections; a dead
    // server thread means the bind failed — report, don't block 120s
    // probing a port that may now belong to a foreign process
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    var up = false
    while (!up && died.get == null && System.nanoTime() < deadline) {
      try {
        new java.net.Socket("localhost", port).close()
        up = true
      } catch { case _: java.io.IOException => Thread.sleep(500) }
    }
    if (died.get != null)
      System.err.println(s"metastore failed to start on $port: ${died.get}")
    else require(up, s"metastore did not open port $port within 120s")
    up
  }

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1)
    val scratch = new java.io.File(
      graft.Tables.scratch(sfDir, "thrift_roundtrip_work")).getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))

    // free-port probe + bind is inherently racy; retry on a fresh port
    // rather than failing the run when another process wins the race
    val port = Iterator.continually(freePort()).take(3)
      .find(p => startMetastore(p, scratch))
      .getOrElse(sys.error("metastore failed to bind after 3 port attempts"))

    val spark: SparkSession = CatalogTransfer.thriftSession(
      s"thrift://localhost:$port", s"$scratch/warehouse")
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.conf.get("spark.sql.catalogImplementation") == "hive",
      "hive support not active")
    require(spark.sparkContext.hadoopConfiguration
      .get("hive.metastore.uris", "").startsWith("thrift://"),
      "session is not talking to the Thrift endpoint")

    spark.sql("CREATE DATABASE thrift_src")
    spark.sql(s"""CREATE TABLE thrift_src.nation_t
                 |USING parquet LOCATION '$sfDir/nation.parquet'""".stripMargin)
    spark.sql("""ALTER TABLE thrift_src.nation_t
                |SET TBLPROPERTIES ('graft.via' = 'thrift')""".stripMargin)
    spark.sql("""CREATE FUNCTION thrift_src.thrift_pi
                |AS 'org.apache.hadoop.hive.ql.udf.UDFPI'""".stripMargin)
    val piBefore = spark.sql("SELECT thrift_src.thrift_pi() AS pi")
      .head().getDouble(0)

    val snapDir = s"$scratch/snapshot"
    CatalogTransfer.write(spark,
      CatalogTransfer.export(spark, Seq("thrift_src")), snapDir)
    spark.sql("DROP DATABASE thrift_src CASCADE") // gone from HMS
    val created =
      CatalogTransfer.importInto(spark, CatalogTransfer.read(spark, snapDir))
    require(created.sorted == Seq("thrift_src.nation_t",
      "thrift_src.thrift_pi"), s"unexpected: $created")

    val n = spark.table("thrift_src.nation_t").count()
    require(n > 0, "no rows after thrift round-trip")
    val prop = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "nation_t", Some("thrift_src")))
      .properties.getOrElse("graft.via", "<missing>")
    require(prop == "thrift", s"property lost through Thrift round-trip: $prop")
    require(spark.sql("SELECT thrift_src.thrift_pi() AS pi")
      .head().getDouble(0) == piBefore,
      "permanent function lost through Thrift round-trip")

    // Partition-filter pushdown over the WIRE (r13): the same
    // get_partitions_by_filter proof HivePartitionPrune runs embedded,
    // here marshalled through the Thrift socket — the exact call the
    // reference's managed HMS serves (metastore-import.tf:112-117). A
    // 2-of-N partition predicate must make the metastore RPC return
    // exactly 2 partition objects; the disabled control must fetch all.
    import org.apache.spark.sql.functions.{col, year}
    val partData = s"$scratch/orders_part_data"
    graft.Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("string").as("o_year"))
      .write.partitionBy("o_year").mode("overwrite").parquet(partData)
    spark.sql(s"""CREATE EXTERNAL TABLE thrift_src.orders_part (
                 |  o_orderkey BIGINT, o_custkey BIGINT)
                 |PARTITIONED BY (o_year STRING)
                 |STORED AS PARQUET LOCATION '$partData'""".stripMargin)
    spark.sql("MSCK REPAIR TABLE thrift_src.orders_part")
    val nParts = spark.sql("SHOW PARTITIONS thrift_src.orders_part").count()
    require(nParts >= 5, s"fixture surprise: only $nParts year partitions")
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    spark.conf.set("spark.sql.hive.metastorePartitionPruning", "true")
    HiveCatalogMetrics.reset()
    val prunedDf = spark.sql(
      """SELECT COUNT(*) AS c FROM thrift_src.orders_part
        |WHERE o_year IN ('1996', '1998')""".stripMargin)
    val prunedCount = prunedDf.head().getLong(0)
    val fetched = HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED.getCount
    require(fetched == 2,
      s"Thrift metastore served $fetched partitions for a 2-partition " +
        s"predicate (of $nParts) — filter not pushed over the socket")
    require(prunedDf.inputFiles.forall(f =>
      f.contains("o_year=1996") || f.contains("o_year=1998")),
      "scan read outside the 2 matching partitions")
    spark.conf.set("spark.sql.hive.metastorePartitionPruning", "false")
    HiveCatalogMetrics.reset()
    spark.sql(
      """SELECT COUNT(*) AS c FROM thrift_src.orders_part
        |WHERE o_year IN ('1996', '1998')""".stripMargin).head()
    require(HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED.getCount == nParts,
      "control did not fetch every partition — counter not measuring " +
        "metastore listing")
    require(prunedCount > 0, "pruned scan returned no rows")

    outDir.foreach { o =>
      spark.table("thrift_src.nation_t")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .coalesce(1).write.mode("overwrite").parquet(o)
    }
    println(s"THRIFT_ROUNDTRIP_OK=$n,pruned_fetch=$fetched/$nParts")
    spark.stop()
  }
}
