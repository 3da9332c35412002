package graft

import java.net.URI
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** RawLocalFileSystem surfaced under the `s3a://` scheme: operations on
  * `s3a://graft-test-bucket/<abs-path>` hit local disk at `<abs-path>` —
  * no network, no S3 SDK, just Hadoop's FileSystem SPI resolving the
  * scheme from configuration the way a real cluster resolves the S3A
  * connector. Statuses are copied into plain eager FileStatus objects:
  * the raw-local lazy permission loader does `new File(uri)` on the
  * status path, which rejects non-`file:` schemes. */
class MockS3aFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "s3a"
  override def getUri: URI = URI.create("s3a://graft-test-bucket")

  private def eager(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getPath)

  override def getFileStatus(f: Path): FileStatus =
    eager(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(eager)
}

/** Object-storage smoke: the reference's data substrate is bucket I/O
  * (yc-data-proc-metadata-import metastore-import.tf:165-179, with
  * credential/classloader sharing at :199-201); this engine declares the
  * switch to object storage to be config-only. Prove it: point the
  * `fs.s3a.impl` config at a mock (no-network) filesystem and run the
  * same `Tables` loads and parquet sinks on `s3a://` URIs unchanged. On
  * a real cluster the only difference is which FileSystem class and
  * credentials the scheme resolves to — no engine code changes. */
class S3aSmokeSpec extends SparkSpec {

  private val bucket = "s3a://graft-test-bucket"

  /** Run `body` with `s3a://` resolving to [[MockS3aFileSystem]]; its
    * argument is a fresh local dir, reachable as `s3a://<bucket><dir>`. */
  private def withMockS3a(body: String => Unit): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val out = java.nio.file.Files.createTempDirectory("graft_s3a").toString
    hc.set("fs.s3a.impl", classOf[MockS3aFileSystem].getName)
    try body(out)
    finally {
      // the mock filesystem lives in the shared session's Hadoop config
      // AND the JVM-wide FileSystem cache — evict both, or any later
      // suite in this JVM touching an s3a:// URI silently gets the mock
      val cached = scala.util.Try(
        org.apache.hadoop.fs.FileSystem.get(new URI(bucket), hc))
      hc.unset("fs.s3a.impl")
      cached.foreach(_.close())
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("Tables loads and parquet sinks run unchanged on s3a:// URIs") {
    withMockS3a { out =>
      val sfAbs = new java.io.File(sf).getAbsolutePath
      // fixture read THROUGH the s3a scheme — same Tables call sites
      val region = Tables(spark, s"$bucket$sfAbs", "region")
      assert(region.count() == 5, "region read via s3a:// returned wrong rows")
      // events goes through the one table-specific normalization (nanos
      // timestamp) — prove the normalization is scheme-agnostic too
      assert(Tables(spark, s"$bucket$sfAbs", "events").count() > 0)
      // sink write + read-back through the scheme
      region.write.mode("overwrite").parquet(s"$bucket$out/region_rt")
      assert(spark.read.parquet(s"$bucket$out/region_rt").count() == 5,
        "parquet sink round-trip via s3a:// lost rows")
    }
  }

  test("catalog snapshots write and read back unchanged on s3a:// dirs") {
    import graft.catalog._
    val snap = CatalogSnapshot(
      Seq(DatabaseInfo("graft_s3a", "bucket-resident")),
      Seq(TableInfo(db = "graft_s3a", name = "events_by_day",
        tableType = "EXTERNAL", provider = "parquet",
        location = s"$bucket/warehouse/events",
        columns = Seq(ColumnInfo("id", "BIGINT", false, false, "row id"),
          ColumnInfo("day", "STRING", true, true)),
        properties = Seq(PropKV("owner", "etl")), comment = "daily",
        viewText = "",
        partitions = Seq(
          PartitionInfo(Seq(PropKV("day", "2024-01-01")), ""),
          PartitionInfo(Seq(PropKV("day", "2024-01-02")),
            s"$bucket/archive/day=2024-01-02",
            Seq(PropKV("rowCount", "7")))))),
      Seq(FunctionInfo("graft_s3a", "f", "com.example.F",
        Seq(PropKV("jar", s"$bucket/jars/f.jar")))))
    withMockS3a { out =>
      CatalogTransfer.write(spark, snap, s"$bucket$out/snap")
      assert(new java.io.File(s"$out/snap/partitions/part-00000.json").isFile,
        "the snapshot did not land through the s3a scheme")
      // a second write overwrites through the same scheme
      CatalogTransfer.write(spark, snap, s"$bucket$out/snap")
      assert(CatalogTransfer.read(spark, s"$bucket$out/snap") == snap)
    }
  }
}
