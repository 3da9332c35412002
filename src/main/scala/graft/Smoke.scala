package graft


/** Mirrors the driver's smoke check: SparkEntry.entry at sf0.001 must
  * return rows > 0. Run: sbt "runMain graft.Smoke". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(20, truncate = false)
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
