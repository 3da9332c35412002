package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md: executes each flagship query (so AQE finalizes
  * the plan) and dumps the executed physical plan — the evidence file
  * for the plan-shape claims in module scaladocs. Run with
  *   sbt "runMain graft.PlanDump [sfDir]"
  */
object PlanDump {

  private val flagships: Seq[(String, String)] = Seq(
    "agg_hash_group" ->
      "flagship TPC-H Q1 shape: partial+final hash agg, codegen",
    "join_broadcast" ->
      "dimension broadcast join: no shuffle of the fact side",
    "scan_partition_prune" ->
      "partition pruning over a hive-layout rewrite",
    "join_interval" ->
      "range join carried by an equi conjunct (hash join + residual)",
    "dedup_minhash" ->
      "MinHash signatures in one doc-keyed shuffle; capped band-bucket candidates",
    "sim_cosine_topk" ->
      "broadcast query side, single corpus scan, codegen'd cosine",
    "sim_ann_lsh" ->
      "bucket-keyed ANN join, hint-free (AQE picks broadcast at this scale)",
    "sim_ann_ivf" ->
      "IVF-Flat: broadcast centroid quantizer, map-side cell argmax, nprobe cell join",
    "win_range_frame" ->
      "double-valued RANGE frame partitioned by brand (no global window sort)",
    "q5_local_supplier" ->
      "multi-join star topology, Catalyst join reordering + AQE",
    "join_skew_salted" ->
      "salted shuffled-hash join: hot keys spread across S reducers",
    "join_lateral" ->
      "correlated LIMIT lateral decorrelated to a ranked window join",
    "dedup_clusters" ->
      "near-dup pairs closed into components (final round's labels plan)",
    "pack_sequences" ->
      "token-budget packing: per-stream running-sum window + hash agg",
    "join_dpp" ->
      "dynamic partition pruning: dim filter becomes a runtime fact-scan partition filter",
    "join_interval_binned" ->
      "interval join rewritten as bin equi-join + residual (the 100 TB range-join path)",
    "anomaly_zscore" ->
      "per-type moments via partial agg broadcast back — no whole-partition window sort",
    "text_entropy" ->
      "per-row array-lambda entropy: one scan, zero exchanges before the output sort",
    "q21_waiting_suppliers" ->
      "EXISTS/NOT-EXISTS double-correlation as ONE fact scan + per-order window (vs 3-scan decorrelation)",
    "win_attribution" ->
      "last-touch + linear credit from a single fused window (one sort) over the touch join",
    "win_rolling_distinct" ->
      "sliding distinct via coverage expansion of the collapsed distinct set — no window over raw events",
    "q9_product_profit" ->
      "widest star (5-way): dims broadcast, single fact shuffle, DECIMAL-exact profit sum",
    "dedup_substring" ->
      "substring dedup: gram hashes shuffle (24 B/char), dup-marked positions, per-doc islands window",
    "graph_jaccard_neighbors" ->
      "τ-capped wedge self-join (Σ deg² bounded at τ·|E|) + degree inclusion-exclusion",
    "embed_bitpack_hamming" ->
      "1-bit quantized serve: sign-pack to one BIGINT, integer bit_count(XOR) rank, cosine only for the overlap report",
    "text_bigram_lm" ->
      "bigram LM: one lead() window per doc, map-side-combined Zipf counts, count-keyed scoring joins (text never re-shuffles)")

  /** Queries that materialize-and-release internally (cache lifecycle)
    * return a checkpointed result whose executed plan is just an RDD
    * scan; dump the equivalent pure-plan form as evidence instead. */
  private val planForms: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "dedup_minhash" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.nlp.TextOps.minhashPairsPlan(graft.nlp.TextOps.shingled(
        Tables(s, d, "documents").filter(col("doc_id") < 1000)))
    }))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder(
      s"""# Physical plans of flagship queries (generated: `sbt "runMain graft.PlanDump"`, $sfDir, local[4])
         |
         |Evidence for the plan-shape claims in module scaladocs: pushdown
         |reaches scans, dimensions broadcast, codegen spans (`*(n)`) cover
         |the hot path, no cartesian products.
         |""".stripMargin)
    for ((key, caption) <- flagships) {
      val df = planForms.getOrElse(key, SparkEntry.queries(key))(spark, sfDir)
      df.collect() // finalize the adaptive plan
      sb.append(s"\n## $key — $caption\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString)
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS_OK=${flagships.size}")
    spark.stop()
  }
}
