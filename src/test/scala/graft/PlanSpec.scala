package graft

import graft.catalog.KeyCatalog
import graft.sources.Scans
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the 100 TB design checks from
  * SURVEY.md §4.2. Correctness says the answer is right; these say the
  * plan would still be the right plan at 1000× the data. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("filter is pushed down to the parquet scan") {
    val df = Tables(spark, sf, "part").filter(col("p_size") > 20)
      .select("p_partkey", "p_size")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,20)]"),
      s"no pushed filter in:\n$scan")
  }

  test("projection prunes the scan schema to selected columns") {
    val df = Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan not pruned:\n$scan")
  }

  test("join_broadcast plans a broadcast hash join") {
    assert(planOf("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_sortmerge hint pins a sort-merge join") {
    assert(planOf("join_sortmerge").contains("SortMergeJoin"))
  }

  test("cross-catalog federation joins a DSv2 scan without re-shuffling") {
    // the snapshot-catalog side arrives as a DSv2 BatchScan and the
    // dimension-sized join broadcasts — multi-catalog resolution must
    // not degrade the plan below what a same-catalog join gets
    val plan = planOf("meta_v2_federation")
    assert(plan.contains("BatchScan"),
      s"snap-catalog table did not plan a BatchScan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension join did not broadcast:\n$plan")
  }

  test("scan_partition_prune scans only the selected partition") {
    // run once to materialize the partitioned scratch dir
    SparkEntry.queries("scan_partition_prune")(spark, sf).count()
    val df = spark.read.parquet(Scans.lineitemByFlag.dir(sf))
      .filter(col("l_returnflag") === "R")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"no partition filter in:\n$scan")
  }

  test("V2 snapshot-catalog partition predicate prunes served splits") {
    // the reference metastore earns its keep via partition-filtered
    // listing (get_partitions_by_filter): a partition-value predicate
    // on a catalog-served table must shrink the SPLITS the scan is
    // handed, not just annotate the plan. CatalogSpec asserts the
    // PartitionFilters string; this asserts the file count — the number
    // that matters at 100 TB (prune 1 of S status partitions → read
    // ~1/S of the files).
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    SparkEntry.queries("meta_v2_partitioned")(spark, sf).count()
    val rcat = KeyCatalog("meta_v2_partitioned", sf).roCat
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }
        .flatMap(_.partitions.flatten)
        .flatMap {
          case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
          case _ => Seq.empty
        }.distinct
    val all = scannedFiles(spark.table(s"$rcat.corp.orders_p"))
    val pruned = scannedFiles(spark.table(s"$rcat.corp.orders_p")
      .filter(col("o_orderstatus") === "F"))
    assert(pruned.nonEmpty, "pruned scan planned zero splits")
    assert(pruned.size < all.size,
      s"partition predicate did not shrink the split list " +
        s"(${pruned.size} of ${all.size} files)")
    assert(pruned.forall(_.contains("o_orderstatus=F")),
      s"pruned split list leaked other partitions:\n${pruned.mkString("\n")}")
  }

  test("theta join is equi-join on brand with residual, not cartesian") {
    val plan = planOf("join_theta_range")
    assert(!plan.contains("CartesianProduct"), s"cartesian product in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$plan")
  }

  test("limit_offset plans per-partition top-k, not a full global sort") {
    assert(planOf("limit_offset").contains("TakeOrderedAndProject"))
  }

  test("sample_reservoir plans per-partition top-K, not a corpus sort") {
    // the deterministic-reservoir claim: hash-rank + LIMIT must compile
    // to TakeOrderedAndProject (local top-K per partition, K-row merge)
    assert(planOf("sample_reservoir").contains("TakeOrderedAndProject"),
      "reservoir sample fell back to a global sort")
  }

  test("win_range_frame runs a partitioned window, not a global sort") {
    val plan = planOf("win_range_frame")
    assert(plan.contains("Window") &&
      plan.contains("hashpartitioning(p_brand"),
      s"range-frame window is not partitioned by brand:\n$plan")
  }

  test("whole-stage codegen covers the flagship aggregate") {
    // AQE hides codegen spans until the final plan exists — execute first.
    val df = SparkEntry.queries("agg_hash_group")(spark, sf)
    df.collect() // count() would execute a different plan; AQE finalizes this one
    // codegen spans render as "*(n)" in the plan string
    assert("""\*\(\d+\) HashAggregate""".r
      .findFirstIn(df.queryExecution.executedPlan.toString).isDefined,
      s"no codegen'd HashAggregate in:\n${df.queryExecution.executedPlan}")
  }

  test("no query plans a cartesian product (except the declared cross join)") {
    // brute-force similarity intentionally broadcast-NLJs the tiny query
    // side against one corpus scan; everything else must plan hash/merge.
    // nlp_tfidf broadcast-crossjoins a single-row corpus count (the
    // scalar-subquery pattern) — also fine.
    // sim_ann_ivf broadcast-NLJs the tiny centroid set against the
    // corpus for cell assignment — the intended IVF quantizer shape.
    // text_unigram_logprob broadcast-crossjoins its 1-row corpus total
    // (scalar-subquery pattern), like nlp_tfidf.
    // text_ppl_bucket broadcast-crossjoins two 1-row sides (corpus
    // total + tercile thresholds); dedup_semantic broadcast-NLJs the
    // tiny centroid set for cell assignment (the sim_ann_ivf shape).
    // graph_triangles / graph_pagerank broadcast-crossjoin the 1-row
    // node count into the synthetic edge build (lazy alternative to a
    // driver-side count; pagerank's usually hides behind its round
    // checkpoints but is the same shape).
    // ts_resample broadcast-crossjoins the tiny day-span list into the
    // distinct-user list to build the dense resample grid — both sides
    // are derived aggregates orders of magnitude below the stream.
    val nljAllowed = Set("sim_cosine_topk", "sim_knn_label",
      "dedup_embed_cosine", "join_cross", "nlp_tfidf", "sim_ann_ivf",
      "text_unigram_logprob", "text_ppl_bucket", "dedup_semantic",
      "graph_triangles", "graph_pagerank", "text_domain_mix",
      "ts_resample", "graph_degree_hist", "graph_jaccard_neighbors",
      "sim_mips",
      // ts_interpolate reuses the ts_resample grid shape (broadcast
      // day-span list); win_rolling_distinct / feat_target_encode
      // broadcast-crossjoin a 1-row derived agg (scalar-subquery
      // pattern, like nlp_tfidf).
      "ts_interpolate", "win_rolling_distinct", "feat_target_encode",
      // nlp_pmi broadcast-crossjoins its 1-row corpus-total aggregate
      "nlp_pmi",
      // sample_negative / feat_scaling broadcast-crossjoin a 1-row
      // stats aggregate (key-space max; scaler moments)
      "sample_negative", "feat_scaling",
      // win_pareto / win_asof_snapshot broadcast-crossjoin a 1-row
      // derived aggregate (revenue total; as-of cutoff)
      "win_pareto", "win_asof_snapshot",
      // ml_naive_bayes broadcast-crossjoins the 1-row vocab/ntrain
      // aggregates and the 5-row class-totals table into the scoring
      // pass (scalar-subquery pattern ×2 + tiny dim)
      "ml_naive_bayes",
      // meta_validate crossjoins two 1-row count aggregates per table
      "meta_validate",
      // meta_v2_catalog crossjoins a 1-row count aggregate (nation via
      // the snapshot catalog) into the partition-pruned lineitem agg
      "meta_v2_catalog",
      // meta_import crossjoins the re-imported plain table's 1-row
      // count into the partitioned table's per-partition rollup (the
      // content read-back its oracle compares)
      "meta_import",
      // sim_ann_ivfpq broadcast-NLJs the tiny centroid set against the
      // corpus for cell assignment (the sim_ann_ivf quantizer shape)
      "sim_ann_ivfpq",
      // agg_sketch_intersect crossjoins 1-row sketch/exact aggregates
      // (scalar-subquery pattern — three sketches, two exact counts)
      "agg_sketch_intersect",
      // sample_temperature / text_bigram_lm broadcast-crossjoin a
      // 1-row derived total (corpus token totals; vocab size) — the
      // nlp_tfidf scalar-subquery pattern
      "sample_temperature", "text_bigram_lm",
      // sim_mrl_truncate broadcast-NLJs the tiny query set against one
      // corpus scan (the sim_cosine_topk brute-force-serve shape)
      "sim_mrl_truncate",
      // embed_bitpack_hamming broadcast-NLJs the tiny query set (the
      // sim_cosine_topk serve shape); ml_kmeans_step broadcast-NLJs the
      // 8-centroid set for assignment (the sim_ann_ivf quantizer shape)
      "embed_bitpack_hamming", "ml_kmeans_step",
      // ml_eval_confusion / sim_ann_bitpack reuse the kNN pairs shape
      // (broadcast query set against one corpus scan)
      "ml_eval_confusion", "sim_ann_bitpack",
      // sim_knn_graph broadcast-NLJs the tiny seed-centroid set for
      // cell assignment (the dedup_semantic quantizer shape)
      "sim_knn_graph",
      // geo_nearest_site broadcast-NLJs the 25-site facility list for
      // per-point argmin (the dispatch shape; grid-cell candidates
      // replace it at production site counts)
      "geo_nearest_site",
      // text_bm25_score broadcast-crossjoins the 1-row (N, Σdl) corpus
      // stats aggregate (the nlp_tfidf scalar-subquery pattern);
      // sim_hybrid_rrf inherits BOTH sanctioned shapes (the
      // sim_cosine_topk broadcast-query scan and the bm25 stats
      // scalar); the _ann sibling swaps the first for sim_ann_ivfpq's
      // broadcast-NLJ centroid assignment — also sanctioned
      "text_bm25_score", "sim_hybrid_rrf", "sim_hybrid_rrf_ann",
      // sim_maxsim_late broadcast-NLJs the tiny query token bags
      // against one corpus scan (the sim_cosine_topk brute-force-serve
      // shape; the production first stage is the IVF candidate join);
      // sim_maxsim_rerank broadcast-NLJs the tiny centroid set for
      // cell assignment (the sim_ann_ivf quantizer shape) — its
      // re-rank stage joins candidates equi on cell
      "sim_maxsim_late", "sim_maxsim_rerank",
      // sim_ann_ivf_append / _retrain broadcast-NLJ the K-centroid set
      // for batch/sample assignment (the ml_kmeans_step quantizer
      // shape); every per-cell report aggregate is equi-keyed
      "sim_ann_ivf_append", "sim_ann_ivf_retrain",
      // dedup_semantic_incremental broadcast-NLJs the seed-centroid
      // set for BATCH assignment (the dedup_semantic quantizer shape);
      // the candidate joins are equi on cell
      "dedup_semantic_incremental",
      // sim_ann_ivf_filtered broadcast-NLJs the tiny centroid set for
      // cell assignment (the sim_ann_ivf quantizer shape); the
      // metadata filter + candidate joins are all equi-keyed
      "sim_ann_ivf_filtered",
      // the adaptive sibling adds the sanctioned escalation: the
      // probe-starved query slice broadcast-NLJs the |filter|-bounded
      // subset (1% of the corpus — the brute-force-serve shape,
      // deliberately bounded by the predicate's cardinality)
      "sim_ann_ivf_filtered_adaptive")
    val skip = Set("join_cross") ++
      SparkEntry.queries.keySet.filter(_.startsWith("stream_")) // streaming: plan differs
    for (name <- SparkEntry.queries.keys.toSeq.sorted if !skip(name)) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      if (!nljAllowed(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join")
    }
  }

  test("q9 star broadcasts every dimension side") {
    // the 5-way star must plan lineitem as the single streamed side:
    // supplier/part/nation (and orders at test scale) arrive broadcast
    val plan = planOf("q9_product_profit")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins in q9:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q21 window rewrite runs one fact scan, no self-join") {
    // the EXISTS/NOT-EXISTS decorrelation would scan lineitem 3x; the
    // window form must reference it exactly once
    val plan = planOf("q21_waiting_suppliers")
    val factScans = "lineitem\\.parquet".r.findAllIn(plan).length
    assert(factScans == 1,
      s"expected exactly 1 lineitem scan in q21, found $factScans:\n$plan")
    assert(plan.contains("Window"), s"per-order window missing:\n$plan")
  }

  test("win_attribution computes both schemes in a single window pass") {
    val plan = planOf("win_attribution")
    val windows = "Window \\[".r.findAllIn(plan).length
    assert(windows == 1, // count + row_number share one (partition,
      // order) spec, so they must fuse into a single Window node
      s"attribution fanned out into $windows window nodes:\n$plan")
    val sorts = "Sort \\[".r.findAllIn(plan).length
    assert(sorts <= 2, // the fused window's sort + the output sort
      s"extra sorts in attribution plan:\n$plan")
  }

  test("feat_hash_trick is map-side only before its aggregate") {
    // portable-hash bucketing must not shuffle to compute buckets: the
    // single exchange is the final partial->final agg boundary
    val plan = planOf("feat_hash_trick")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, // partial agg shuffle + output sort
      s"hashing trick plans ${exchanges} exchanges:\n$plan")
  }

  test("bucketed join runs with zero exchanges") {
    import graft.operators.ScaleOps
    ScaleOps.bucketedTables(spark, sf)
    val li = spark.table("graft_bkt_lineitem")
    val o = spark.table("graft_bkt_orders")
    // at sf0.001 the planner rightly prefers broadcast; pin SMJ so the
    // bucketed (pre-shuffled) path is exercised
    val joined = li.hint("merge")
      .join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(plan.contains("Bucketed: true"), s"bucketed scan not used:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
  }

  test("lateral LIMIT subquery decorrelates to a ranked window join") {
    val plan = planOf("join_lateral")
    assert(plan.contains("Window"),
      s"no window rewrite — lateral executed per-row?:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"lateral join fell back to a loop join:\n$plan")
  }

  test("join_dpp prunes fact partitions from the dim filter at runtime") {
    val plan = planOf("join_dpp")
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning subquery in fact scan:\n$plan")
  }

  test("join_bloom_runtime injects a bloom filter below the fact shuffle") {
    val df = SparkEntry.queries("join_bloom_runtime")(spark, sf)
    df.collect() // AQE: the final adaptive plan exists only post-execution
    val plan = df.queryExecution.executedPlan.toString
    // InjectRuntimeFilter rewrites the fact scan's filter to
    // might_contain(bloom_built_from_dim_keys, xxhash64(l_partkey)) —
    // if the injection silently stops (config drift, threshold change),
    // the query still returns correct rows through a plain shuffle join
    // and only this assertion catches the lost pruning.
    assert(plan.contains("might_contain"),
      s"no runtime bloom filter in:\n$plan")
  }

  test("salted skew join is a shuffled join, not broadcast") {
    val plan = planOf("join_skew_salted")
    assert(plan.contains("ShuffledHashJoin"),
      s"salting demo must run the shuffled join it exists for:\n$plan")
  }

  test("HLL sketch union estimate is within 5% of exact distinct") {
    // RAW estimate tolerance, recomputed directly — the key's output
    // is the oracled contract form (exact + flag), so the strong
    // assertion on the un-flagged estimate lives here
    Tables(spark, sf, "lineitem").createOrReplaceTempView("sk_plan_li")
    val approx = spark.sql(
      """WITH per_flag AS (
        |  SELECT l_returnflag, HLL_SKETCH_AGG(l_orderkey) AS sk
        |  FROM sk_plan_li GROUP BY l_returnflag)
        |SELECT HLL_SKETCH_ESTIMATE(HLL_UNION_AGG(sk)) FROM per_flag"""
        .stripMargin).head.getLong(0)
    val exact = Tables(spark, sf, "lineitem")
      .agg(countDistinct(col("l_orderkey"))).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"sketch union approx=$approx exact=$exact")
    // and the key's own flag row agrees
    val row = SparkEntry.queries("agg_sketch_union")(spark, sf).head
    assert(row.getInt(2) == 1, s"within_5pct flag not set: $row")
  }

  test("HLL inclusion-exclusion overlap lands within 5% of the union") {
    // the intersect key's flag must hold, and the estimate itself must
    // be sane (positive, below both segment sizes)
    val row = SparkEntry.queries("agg_sketch_intersect")(spark, sf).head
    assert(row.getInt(2) == 1, s"within_5pct_of_union flag not set: $row")
    assert(row.getLong(1) > 0, s"fixture segments must overlap: $row")
  }

  test("q1 aggregates map-side before the 6-group shuffle") {
    assert(planOf("q1_pricing_summary").contains("partial_sum"),
      "no partial aggregation in the Q1 plan")
  }

  test("q6 pushes every predicate into the lineitem scan") {
    // toString truncates PushedFilters — read the scan node's metadata
    val pushed = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata("PushedFilters")
      }.mkString
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"))
      assert(pushed.contains(f), s"$f not pushed in: $pushed")
  }

  test("q4/q20 EXISTS and IN subqueries decorrelate to semi-joins") {
    assert(planOf("q4_order_priority").contains("LeftSemi"),
      "Q4 EXISTS did not become a semi-join")
    assert(planOf("q20_potential_promotion").contains("LeftSemi"),
      "Q20 IN did not become a semi-join")
  }

  test("q22 NOT EXISTS decorrelates to an anti-join") {
    assert(planOf("q22_global_sales").contains("LeftAnti"),
      "Q22 NOT EXISTS did not become an anti-join")
  }

  test("q2 correlated MIN decorrelates without a nested-loop join") {
    val plan = planOf("q2_min_cost_supplier")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the per-part MIN side must be a real aggregate joined back
    assert(plan.contains("partial_min") || plan.contains("min("),
      s"no decorrelated MIN aggregate in:\n$plan")
  }

  test("q8 star keeps every dimension broadcast, fact joins shuffled") {
    val plan = planOf("q8_market_share")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 5, s"only $nBroadcast broadcast joins in Q8 star")
  }

  test("q11 derives the global total from ONE fact scan via a window") {
    val plan = planOf("q11_important_stock")
    val nLineitemScans = "lineitem.parquet".r.findAllIn(plan).length
    assert(nLineitemScans == 1,
      s"Q11 scans lineitem $nLineitemScans times (threshold join-back?)")
    assert(plan.contains("Window"), "Q11 lost its share-of-total window")
  }

  test("join_skew_aqe: AQE splits the hot partition at runtime") {
    operators.ScaleOps.withConfs(spark, operators.ScaleOps.skewAqeTuning) {
      val df = operators.ScaleOps.skewAqeShape(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n$plan")
    }
  }

  test("join_aqe_broadcast: runtime stats convert the shuffle join to broadcast") {
    operators.ScaleOps.withConfs(spark, operators.ScaleOps.aqeBhjTuning) {
      val df = operators.ScaleOps.aqeBhjShape(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val (finalPart, initialPart) = plan.splitAt(plan.indexOf("== Initial Plan =="))
      assert(initialPart.contains("SortMergeJoin"),
        s"static plan was not a shuffle join:\n$plan")
      assert(finalPart.contains("BroadcastHashJoin"),
        s"AQE did not convert to broadcast:\n$plan")
    }
  }

  test("feat_pit_leakfree fuses all three features into one window") {
    val plan = planOf("feat_pit_leakfree")
    val nWindows = "Window \\[".r.findAllIn(plan).length
    assert(nWindows == 1,
      s"PIT features split across $nWindows Window nodes (extra sorts)")
  }

  test("approx_count_distinct is within 5% of exact") {
    // RAW estimate tolerance, recomputed directly — the key's output
    // is the oracled contract form (exact + flag)
    val approx = Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((flag, ex) <- exact) {
      val ap = approx(flag)
      assert(math.abs(ap - ex).toDouble / ex < 0.05,
        s"flag=$flag approx=$ap exact=$ex")
    }
    // and every key row carries the flag
    assert(SparkEntry.queries("agg_approx_distinct")(spark, sf)
      .collect().forall(_.getInt(2) == 1), "within_5pct flag not set")
  }

  test("meta_jdbc_join_pushdown: the join compiles into the remote DB") {
    val df = SparkEntry.queries("meta_jdbc_join_pushdown")(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    // complete pushdown: ONE scan returns pre-joined rows and no
    // Spark-side join operator remains in the plan
    assert(plan.contains("PushedJoins:"),
      s"join not pushed to Derby:\n$plan")
    assert(!plan.contains("HashJoin") && !plan.contains("SortMergeJoin")
      && !plan.contains("NestedLoop"),
      s"residual Spark-side join — pushdown was partial:\n$plan")
    // the stock-dialect behaviors must survive the dialect swap: the
    // same mount still serves a plain filtered scan with pushdown
    val cat = KeyCatalog("meta_jdbc_join_pushdown", sf).cat
    val single = spark.sql(
      s"""SELECT s_suppkey FROM $cat.gjp.supp_jp
         |WHERE s_acctbal > 5000.0""".stripMargin)
    assert(single.queryExecution.sparkPlan.toString
      .contains("PushedFilters: [s_acctbal IS NOT NULL, s_acctbal > 5000.0]"),
      "filter pushdown regressed under the graft Derby dialect")
  }

  test("meta_jdbc_pushdown: GROUP BY and TopN compile into the remote DB") {
    val df = SparkEntry.queries("meta_jdbc_pushdown")(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    // complete pushdown: the scan returns pre-aggregated rows and no
    // Spark-side HashAggregate remains in the plan
    assert(plan.contains("PushedAggregates: [COUNT(*), SUM(s_acctbal)]"),
      s"aggregate not pushed to Derby:\n$plan")
    assert(plan.contains("PushedGroupByExpressions: [s_nationkey]"),
      s"group-by not pushed to Derby:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"residual Spark-side aggregation — pushdown was partial:\n$plan")
    // order-by-limit compiles to remote TopN on the same mount
    val cat = KeyCatalog("meta_jdbc_pushdown", sf).cat
    val topn = spark.sql(
      s"""SELECT s_suppkey FROM $cat.gpd.supp_pd
         |ORDER BY s_suppkey LIMIT 5""".stripMargin)
      .queryExecution.sparkPlan.toString
    assert(topn.contains("PushedTopN: ORDER BY [s_suppkey ASC NULLS FIRST] LIMIT 5"),
      s"TopN not pushed to Derby:\n$topn")
  }
}
