package graft.nlp

import org.apache.spark.sql.functions._

/** Scaling evidence for the MinHash+LSH dedup pipeline: runs
  * [[TextOps.minhashPairs]] UNBOUNDED (no doc_id filter) over the full
  * `documents` table of each given sf dir and reports corpus size,
  * candidate volume, verified pairs, and wall time as one JSON line per
  * dir. A brute-force all-pairs check is O(n²) in corpus size; the
  * banding pipeline's cost must track the candidate count (true
  * collisions), so doubling-curve wall times across sf0.01 → sf0.1
  * (10× docs) demonstrate the sub-quadratic curve. Run with
  *   sbt "runMain graft.nlp.DedupScale /root/testdata/sf0.01 /root/testdata/sf0.1"
  */
object DedupScale {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    for (d <- dirs) {
      val docs = graft.Tables(spark, d, "documents").select("doc_id", "text")
      val nDocs = docs.count()
      val sub = TextOps.shingled(docs)
      // candidate volume = what the band buckets actually expand to
      val cand = TextOps.minhashBuckets(sub)
        .filter(size(col("ids")) > 1)
        .agg(coalesce(sum(expr(
          "cast(size(ids) * (size(ids) - 1) div 2 AS bigint)")), lit(0L))
          .as("pairs"))
        .head().getLong(0)
      val t0 = System.nanoTime()
      val pairDf = TextOps.minhashPairs(sub)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = pairDf.count()
      val secs = (System.nanoTime() - t0) / 1e9
      // clustering phase: pairs → components (the keep/drop decision
      // input); rounds grow with component diameter, not corpus size.
      val t1 = System.nanoTime()
      val comps = CorpusOps.connectedComponents(
          pairDf.select(col("doc_a"), col("doc_b")))
        .agg(countDistinct(col("lbl"))).head().getLong(0)
      val clusterSecs = (System.nanoTime() - t1) / 1e9
      pairDf.unpersist()
      val r2 = (v: Double) =>
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      println(s"""{"dir":"$d","docs":$nDocs,"candidate_pairs":$cand,""" +
        s""""verified_pairs":$pairs,"pipeline_sec":${r2(secs)},""" +
        s""""clusters":$comps,"cluster_sec":${r2(clusterSecs)}}""")
    }
    spark.stop()
  }
}
