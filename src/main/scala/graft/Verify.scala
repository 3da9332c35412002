package graft
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** SURVEY §5.2 as a GATE, not a convention: an oracled key whose output
    * carries a list/map column crashes the driver's pandas diff
    * ("unhashable type: numpy.ndarray") and the round records a red row —
    * fn_regex in r10, embed_pq in r8. Failing here, at dump time, names
    * the offending key and column while it's still one edit away. */
  private[graft] def nonScalarColumns(schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if !isScalar(f.dataType) => s"${f.name}: ${f.dataType.sql}"
    }
  private def isScalar(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    // Option-guard: listFiles() returns null on I/O error or when the
    // dir vanishes between isDirectory and the listing (a concurrent
    // cleanup sharing the reused outDir — the very scenario this
    // delete targets)
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [key ...] — extra keys restrict the dump to
    // that subset (dev iteration); the driver always passes exactly two.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try {
        // Delete any pre-existing dump for this key BEFORE attempting
        // it: the catch below skips failing keys (so one broken key
        // can't void the whole round), but a stale parquet from a prior
        // run in a reused outDir would then be diffed as green — a
        // failure must leave NO output behind, never yesterday's.
        // Inside the try: a delete failure must cost this key only,
        // not abort the whole dump.
        deleteRecursively(new java.io.File(s"$outDir/$name"))
        val df = fn(spark, sfDir)
        // Lint only keys the DuckDB diff will actually hash; scalatest-only
        // keys (no oracle entry) may return whatever shape their spec needs.
        if (SparkEntry.oracleSql.contains(name)) {
          val bad = nonScalarColumns(df.schema)
          require(bad.isEmpty, s"oracled key '$name' emits non-scalar " +
            s"column(s) [${bad.mkString("; ")}] — the driver diff can't " +
            "hash them (SURVEY §5.2); array_join/to_json them instead")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("SPARK_GRAFT_VERIFY_TRACE"))
          e.printStackTrace()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
