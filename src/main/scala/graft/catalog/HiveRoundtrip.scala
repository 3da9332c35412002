package graft.catalog

import org.apache.spark.sql.SparkSession

/** Fidelity check for the reference's actual metastore technology:
  * runs CatalogTransfer export → drop → import against a REAL Hive
  * metastore (embedded Derby, the local stand-in for the managed HMS at
  * yc-data-proc-metadata-import metastore-import.tf:112-117), covering
  * both a datasource (USING parquet) table and a Hive-SerDe
  * (ROW FORMAT DELIMITED ... STORED AS TEXTFILE) table — the format the
  * reference's clusters create from the Hive CLI side.
  *
  * Standalone main (not a ScalaTest): the catalog implementation is
  * fixed per SparkContext, so Hive support needs its own JVM — run with
  *   sbt "runMain graft.catalog.HiveRoundtrip /root/testdata/sf0.001"
  * Prints HIVE_ROUNDTRIP_OK=<rowcount> on success. With a second arg,
  * also writes the round-tripped nation table there as parquet (the
  * `meta_hive_roundtrip` query key reads it back for the DuckDB diff).
  */
object HiveRoundtrip {

  /** JDK-17 module opens Spark needs when launched as a bare `java`
    * process (spark-submit/sbt normally inject these). */
  val jdkOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1)
    val scratch = new java.io.File(
      graft.Tables.scratch(sfDir, "hive_roundtrip_work")).getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-hive-roundtrip")
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

    spark.sql("CREATE DATABASE hive_src")
    spark.sql(s"""CREATE TABLE hive_src.nation_h
                 |USING parquet LOCATION '$sfDir/nation.parquet'""".stripMargin)
    spark.sql("""ALTER TABLE hive_src.nation_h
                |SET TBLPROPERTIES ('graft.via' = 'hms')""".stripMargin)
    // hive-SerDe table: headerless CSV + LazySimpleSerDe, external so the
    // text files survive the catalog drop (shared-bucket semantics).
    val textDir = s"$scratch/nation_text_data"
    graft.Tables(spark, sfDir, "nation")
      .write.mode("overwrite").option("header", "false").csv(textDir)
    spark.sql(s"""CREATE EXTERNAL TABLE hive_src.nation_text (
                 |  n_nationkey INT, n_name STRING, n_regionkey INT)
                 |ROW FORMAT DELIMITED FIELDS TERMINATED BY ','
                 |STORED AS TEXTFILE LOCATION '$textDir'""".stripMargin)
    val textBefore = spark.table("hive_src.nation_text").count()
    // permanent function — HMS migrates these alongside tables
    spark.sql("""CREATE FUNCTION hive_src.hive_pi
                |AS 'org.apache.hadoop.hive.ql.udf.UDFPI'""".stripMargin)
    val piBefore = spark.sql("SELECT hive_src.hive_pi() AS pi")
      .head().getDouble(0)

    val snapDir = s"$scratch/snapshot"
    CatalogTransfer.write(spark,
      CatalogTransfer.export(spark, Seq("hive_src")), snapDir)
    spark.sql("DROP DATABASE hive_src CASCADE") // metadata gone from HMS
    val created =
      CatalogTransfer.importInto(spark, CatalogTransfer.read(spark, snapDir))
    require(created.sorted == Seq("hive_src.hive_pi", "hive_src.nation_h",
      "hive_src.nation_text"), s"unexpected: $created")
    require(spark.sql("SELECT hive_src.hive_pi() AS pi")
      .head().getDouble(0) == piBefore,
      "permanent function lost through HMS round-trip")

    val n = spark.table("hive_src.nation_h").count()
    require(n > 0, "no rows after hive round-trip")
    val prop = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "nation_h", Some("hive_src")))
      .properties.getOrElse("graft.via", "<missing>")
    require(prop == "hms", s"property lost through HMS round-trip: $prop")
    // serde fidelity: provider, row-format serde, and data must survive
    val tt = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "nation_text", Some("hive_src")))
    require(tt.provider.contains("hive"),
      s"serde table came back as ${tt.provider}")
    require(tt.storage.serde.exists(_.contains("LazySimpleSerDe")),
      s"serde lost: ${tt.storage.serde}")
    require(tt.storage.properties.get("field.delim").contains(","),
      s"serde props lost: ${tt.storage.properties}")
    require(spark.table("hive_src.nation_text").count() == textBefore,
      "serde table rows changed through round-trip")

    // ANALYZE-statistics leg (r14): in the reference deployment these
    // live as HMS table parameters (numRows / spark.sql.statistics.*),
    // so the stats-carrying snapshot must survive the REAL Hive
    // metastore round trip too, not just the in-memory catalog
    // (meta_stats_transfer). Second pass: ANALYZE the re-imported
    // table, export withStats, destroy, import, compare the typed
    // stats object bit-for-bit.
    // histogram on (r15): the equi-height histogram is the one ANALYZE
    // artifact beyond min/max/NDV — it rides CatalogColumnStat.toMap's
    // wire form as a serialized blob inside the same HMS parameters,
    // and the bit-for-bit equality below now covers it
    graft.operators.ScaleOps.withConfs(spark,
      Seq("spark.sql.statistics.histogram.enabled" -> "true")) {
      spark.sql("ANALYZE TABLE hive_src.nation_h COMPUTE STATISTICS " +
        "FOR COLUMNS n_nationkey"): Unit
    }
    def statsOf() = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "nation_h", Some("hive_src"))).stats
    val stBefore = statsOf()
      .getOrElse(sys.error("ANALYZE left no stats in the HMS"))
    require(stBefore.rowCount.isDefined && stBefore.colStats.nonEmpty,
      s"unexpected pre-migration stats shape: $stBefore")
    require(stBefore.colStats.get("n_nationkey")
        .exists(_.histogram.isDefined),
      "ANALYZE with histogram.enabled produced no equi-height histogram")
    val snapDir2 = s"$scratch/snapshot_stats"
    CatalogTransfer.write(spark,
      CatalogTransfer.export(spark, Seq("hive_src"), withStats = true),
      snapDir2)
    spark.sql("DROP DATABASE hive_src CASCADE")
    CatalogTransfer.importInto(spark,
      CatalogTransfer.read(spark, snapDir2))
    val stAfter = statsOf()
      .getOrElse(sys.error("statistics lost through the HMS round-trip"))
    require(stAfter == stBefore,
      s"HMS statistics drifted through migration: $stBefore -> $stAfter")

    outDir.foreach { o =>
      spark.table("hive_src.nation_h")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .coalesce(1).write.mode("overwrite").parquet(o)
    }
    println(s"HIVE_ROUNDTRIP_OK=$n")
    println(s"HIVE_STATS_OK=${stAfter.rowCount.get}")
    println("HIVE_HIST_OK=" + stAfter.colStats("n_nationkey")
      .histogram.map(_.bins.length).getOrElse(0))
    spark.stop()
  }
}
