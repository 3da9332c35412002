package graft.operators

import graft.{Artifact, QueryGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-technique operators [SVC: yc-data-proc-metadata-import
  * metastore-import.tf:196,:245]: the two classic remedies for shuffle
  * pathologies at 100 TB, demonstrated as first-class queries whose
  * results are provably identical to the plain formulations.
  *
  *  - Skew salting: a hot join key melts one reducer; salting splits
  *    each key into S sub-keys (fact side picks a deterministic salt,
  *    dimension side replicates S ways) so the hot key spreads across S
  *    tasks. Result is bitwise the plain join.
  *  - Bucketing: pre-shuffling both tables into B buckets on the join
  *    key at write time makes every later join on that key exchange-free
  *    (verified in PlanSpec: zero Exchange nodes in the join subtree).
  */
object ScaleOps extends QueryGroup {

  private val S = 8 // salt fan-out

  /** Per-partition (min, max, count) fingerprint of the range-sorted
    * lineitem — the pid-level view whose disjoint/ordered/complete LAWS
    * ScaleOpsSpec asserts; `sort_range_partitioned` oracles its
    * sampling-independent aggregate. */
  private[graft] def rangeSortRuns(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .select(col("l_shipdate"), col("l_orderkey"))
      .repartitionByRange(8, col("l_shipdate"), col("l_orderkey"))
      .sortWithinPartitions("l_shipdate", "l_orderkey")
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min(struct(col("l_shipdate"), col("l_orderkey"))).as("lo"),
        max(struct(col("l_shipdate"), col("l_orderkey"))).as("hi"),
        count(lit(1)).as("n_rows"))
      .select(col("pid"),
        col("lo.l_shipdate").as("lo_date"),
        col("lo.l_orderkey").as("lo_key"),
        col("hi.l_shipdate").as("hi_date"),
        col("hi.l_orderkey").as("hi_key"),
        col("n_rows"))
      .orderBy("pid")

  /** Set session confs for the duration of `body`, restoring previous
    * values (or unsetting) after — the shared-session discipline every
    * conf-scoped key and plan test must follow. */
  def withConfs[T](s: SparkSession, kvs: Seq[(String, String)])
      (body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val queries: Map[String, Q] = Map(
    // Exact distinct counting via fixed-width bitmaps (the roaring/
    // groupBitmap technique): pack each user into bit (user_id mod 63)
    // of word (user_id div 63) — 63-bit words because a 1<<63 shift
    // overflows signed 64-bit in the oracle engine. bit_or partials
    // are mergeable map-side, so the shuffle carries |users|/63 words
    // per type instead of every raw (type, user) pair, and the final
    // count is a popcount sum. The oracle is plain COUNT(DISTINCT) —
    // the driver diff proves the bitmap rewrite exact.
    "agg_bitmap_distinct" -> ((s, d) => {
      Tables(s, d, "events")
        .groupBy(col("event_type"), expr("user_id div 63").as("bucket"))
        .agg(expr("bit_or(shiftleft(1L, cast(user_id % 63 as int)))")
          .as("w"))
        .groupBy("event_type")
        .agg(sum(bit_count(col("w"))).as("n_users"))
        .orderBy("event_type")
    }),

    // Audience-overlap matrix via bitmap AND — the set-intersection
    // join that never touches raw rows twice: per-(type, bucket) words
    // build in ONE pass (mergeable bit_or partials), then the
    // |types|²·|users|/63-row word join ANDs and popcounts. The naive
    // form distinct-joins the full (type, user) pairs against
    // themselves — at 100 TB that self-join shuffles the whole user
    // universe per type pair; this shuffles fixed-width words once.
    // Oracle keeps the naive COUNT(DISTINCT) self-join form.
    "join_bitmap_overlap" -> ((s, d) => {
      val words = Tables(s, d, "events")
        .filter(col("value") > 90)
        .groupBy(col("event_type"), expr("user_id div 63").as("bucket"))
        .agg(expr("bit_or(shiftleft(1L, cast(user_id % 63 as int)))")
          .as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      words.select(col("event_type").as("type_a"), col("bucket"),
          col("w").as("wa"))
        .join(words.select(col("event_type").as("type_b"), col("bucket"),
          col("w").as("wb")), "bucket")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(sum(bit_count(col("wa").bitwiseAND(col("wb")))).as("n_both"))
        // pairs that share a bucket but no user must vanish, as they do
        // in the oracle's inner self-join (n_both=0 ≠ "no row")
        .filter(col("n_both") > 0)
        .orderBy("type_a", "type_b")
    }),

    // The OTHER skew remedy: let AQE split the hot partition at
    // runtime (OptimizeSkewedJoin) instead of hand-salting. 90% of
    // fact rows share key 0; the dim side is unique per key and
    // merge-hinted so the join shuffles. Thresholds are lowered for
    // the fixture scale (the defaults trigger at 256 MB partitions)
    // and RESTORED after materializing inside the key — a shared
    // session must not leak AQE tuning into other keys' plans.
    // PlanSpec re-runs the same shape and asserts the skew split
    // actually fires; the oracle proves the split changes no row.
    "join_skew_aqe" -> ((s, d) =>
      withConfs(s, skewAqeTuning) {
        skewAqeShape(s, d).localCheckpoint() // materialize under tuning
      }),

    // AQE's second headline re-plan: a join the static planner must
    // shuffle (estimates defeated via autoBroadcastJoinThreshold=-1 —
    // standing in for the real 100 TB case where a filter's
    // selectivity is unknowable before runtime) converts to a
    // broadcast join at runtime once the built side's TRUE size is
    // observed. PlanSpec asserts initial SMJ → final BHJ; the oracle
    // proves re-planning changes no row.
    "join_aqe_broadcast" -> ((s, d) =>
      withConfs(s, aqeBhjTuning) {
        aqeBhjShape(s, d).localCheckpoint() // materialize under tuning
      }),

    "join_skew_salted" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
        .withColumn("salt",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(S)))
      // shuffle_hash pins the SHUFFLED join that salting exists for: the
      // hot (key, salt) sub-keys spread across S reducers. Left to
      // itself the planner broadcasts the S×-replicated side — a plan
      // salting does nothing for (broadcast joins can't skew) that also
      // bottlenecks on a driver-side S×|orders| relation build.
      val o = Tables(s, d, "orders")
        .withColumn("salt", explode(lit((0 until S).toArray)))
        .hint("shuffle_hash")
      li.join(o,
          li("l_orderkey") === o("o_orderkey") && li("salt") === o("salt"))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Skew-safe COUNT DISTINCT: a naive distinct-agg on a 5-value
    // grouping key shuffles the whole dedup load onto 5 reducers at
    // 100 TB. Two-phase formulation: partial-dedup shuffles by
    // (type, user) — millions of evenly-spread keys — then the count
    // shuffles |distinct pairs| rows to the 5 final groups. Result
    // provably identical; only the exchange key cardinality changes.
    "agg_distinct_twophase" -> ((s, d) => {
      Tables(s, d, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("_c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    }),

    // The distributed-sort contract (TeraSort shape): repartitionByRange
    // assigns non-overlapping key ranges to partitions (sampled
    // boundaries), sortWithinPartitions orders each run — together a
    // total order WITHOUT any single-point sort. The per-partition
    // (min, max, count) fingerprint's exact cuts come from sampling, so
    // only the LAWS are stable: ScaleOpsSpec asserts (via
    // rangeSortRuns) that the runs don't overlap and cover every row —
    // the property that lets 1000 executors write a globally-sorted
    // dataset. The ORACLED projection aggregates the fingerprint to its
    // sampling-independent totals: row total and the global (lo, hi)
    // composite extremes — which DuckDB re-derives from the raw table.
    // n_runs is deliberately NOT in the oracled output: the requested
    // 8 range partitions can legitimately collapse when sampled
    // boundaries coincide on a small/skewed fixture (groupBy(pid)
    // drops empty partitions), so only the sampling-independent totals
    // are cross-engine facts; the partition-level disjoint/ordered/
    // complete laws live in ScaleOpsSpec.
    "sort_range_partitioned" -> ((s, d) => {
      rangeSortRuns(s, d)
        .agg(sum(col("n_rows")).as("n_rows"),
          min(struct(col("lo_date"), col("lo_key"))).as("lo"),
          max(struct(col("hi_date"), col("hi_key"))).as("hi"))
        .select(col("n_rows"),
          col("lo.lo_date").as("lo_date"), col("lo.lo_key").as("lo_key"),
          col("hi.hi_date").as("hi_date"), col("hi.hi_key").as("hi_key"))
    }),

    "join_bucketed" -> ((s, d) => {
      bucketedTables(s, d)
      val li = s.table("graft_bkt_lineitem")
      val o = s.table("graft_bkt_orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    // BUCKET PRUNING on read — the other half of the bucketing bargain
    // (join_bucketed buys the shuffle-free join; this buys point
    // lookups): an equality/IN filter on the bucket column lets the
    // scan open ONLY the matching buckets (SelectedBucketsCount in the
    // plan, asserted in ScaleOpsSpec) — at 100 TB an S-bucket layout
    // turns a key probe from a full scan into 1/S of the files, no
    // index structure needed beyond the layout itself.
    "scan_bucket_prune" -> ((s, d) => {
      bucketedTables(s, d)
      // autoBucketedScan drops the bucketed read when no JOIN wants the
      // partitioning — it does not weigh filter pruning, so pin the
      // bucketed scan for the duration of this query (scoped conf)
      withConfs(s, Seq(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled"
          -> "false")) {
        s.table("graft_bkt_orders")
          .filter(col("o_orderkey").isin(42L, 4242L))
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"))
          .orderBy("o_orderkey")
          .localCheckpoint() // materialize while the conf is active
      }
    }),

    // runtime bloom-filter pruning: the optimizer builds a bloom filter
    // from the SELECTIVE dim side's join keys at runtime and applies it
    // to the fact side BELOW the shuffle (`might_contain` in the plan,
    // asserted in PlanSpec) — so a shuffle join over a 100 TB fact
    // table shuffles only the rows that can possibly match, instead of
    // the whole table. Complements DPP: DPP prunes partitions the
    // layout exposes; the bloom filter prunes rows inside partitions
    // for keys the layout knows nothing about.
    "join_bloom_runtime" -> ((s, d) => {
      // isolated child session: same SparkContext, own SQLConf — the
      // bloom thresholds and broadcast opt-out apply to THIS query only
      // and cannot leak into sibling queries sharing the session. A new
      // session does not inherit the handed one's conf, so it turns off
      // artifact isolation itself, or every run recompiles its codegen.
      val s2 = s.newSession()
      s2.conf.set(graft.Query.ArtifactIsolation, false)
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // local fixtures sit far below the 10 GiB production floor for the
      // application side; drop it so the mechanism runs at test scale
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter" +
        ".applicationSideScanSizeThreshold", "0")
      // a broadcast join needs no runtime filter (the dim rides along
      // anyway); pin the shuffle join the bloom filter exists for
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables(s2, d, "lineitem")
      val p = Tables(s2, d, "part").filter(col("p_brand") === "Brand#11")
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("p_type")
    }),

    // Interval join rewritten as a bin-equi-join — the scale remedy for
    // range predicates, which Spark would otherwise plan as a
    // broadcast-NLJ/theta join (O(|e|·|o|) comparisons). Each 30-day
    // interval lands in the 1–2 fixed-width bins it overlaps (explode),
    // each point in exactly one; the join becomes a plain hash/merge
    // equi-join on (customer, bin) with the range check as a cheap
    // residual. Bins are distinct per interval and a point has one bin,
    // so no pair can match twice — no dedup pass. Results are provably
    // identical to join_interval (same oracle SQL).
    "join_interval_binned" -> ((s, d) => intervalBinned(s, d, 30)),

    // The as-of join's 100 TB form (r14, closing the VERDICT watch item
    // on join_asof/join_asof_forward): HORIZON-bounded backward as-of
    // as a bin-EQUI-join. join_asof's range join is unbounded — every
    // event joins its user's ENTIRE prior order history before the
    // window picks rn=1, so per-event cost grows with history depth.
    // Bounding staleness at `horizonDays` (the join_asof_tolerance
    // argument: a feature older than the horizon is leakage/garbage
    // anyway) makes the range fixed-width, and a fixed-width range
    // bins into an equi-join: each order replicates to the
    // ceil(H/B)+1 bins it can serve, events carry ONE bin key, and
    // the join is hash-partitioned on (user, bin) — history depth
    // drops out of the cost entirely. TimeSeriesSpec proves bitwise
    // equality with the UNBOUNDED join_asof across bin widths on the
    // fixture (measured max backward gap: 29 days at both SFs, well
    // under the 90-day horizon) and that the plan is a real equi-join;
    // the oracle is join_asof's own unbounded formulation.
    "join_asof_binned" -> ((s, d) => asofBinned(s, d, binDays = 90)),

    // the FORWARD direction of the same rewrite (join_asof_forward's
    // 2.05× curve is the measured case for it): next-touch attribution
    // with staleness bounded at the horizon. The fixture's forward
    // gaps run to ~6 years (events sit mid-history, so the "next
    // order" can be far out) — the 2200-day horizon covers them for
    // the bitwise-equality law; a production next-touch query bounds
    // the horizon to days and reaps the full equi-join win.
    "join_asof_forward_binned" -> ((s, d) =>
      asofBinned(s, d, binDays = 2200, horizonDays = 2200,
        forward = true)),

    // Spatial RADIUS JOIN by grid binning — the geo analogue of the
    // binned interval join: find every point within R km of each query
    // site WITHOUT the all-pairs distance matrix. Both sides bin to a
    // 12° lat/lon grid; each query explodes to its 3×3 neighbor cells
    // (longitude wraps mod 30, latitude clamps); the equi-join on
    // (latc, lonc) bounds candidates to cells that can possibly hold a
    // match, and the exact haversine runs only on candidates. Cell
    // coverage proof: R=500 km ⇒ Δlat ≤ 4.6° < 12°, and with query
    // sites clamped to |lat| ≤ 59.5° a match's |lat| ≤ 64.1° where
    // cos ≥ 0.43 ⇒ Δlon ≤ 500/(111.045·0.43) ≈ 10.5° < 12° — so every
    // true pair lands in a neighbor cell and the binned result is
    // provably identical to the brute-force oracle. At 100 TB the
    // point side never shuffles beyond the grid hash and the tiny
    // query side broadcasts; candidates are cell-density-proportional,
    // never n².
    "geo_radius_join" -> ((s, d) => {
      val R = 500.0
      val pts = Tables(s, d, "customer").select(
        col("c_custkey"),
        ((col("c_custkey") * 7 % 180).cast("double") - 90 + 0.5).as("lat"),
        ((col("c_custkey") * 13 % 360).cast("double") - 180 + 0.5).as("lon"))
        .withColumn("latc", floor((col("lat") + 90) / 12))
        .withColumn("lonc", floor((col("lon") + 180) / 12))
      val sites = Tables(s, d, "nation").select(
        col("n_nationkey").as("site_id"),
        ((col("n_nationkey") * 11 % 120).cast("double") - 60 + 0.5).as("qlat"),
        ((col("n_nationkey") * 17 % 360).cast("double") - 180 + 0.5).as("qlon"))
        .withColumn("dl", explode(array((-1 to 1).map(lit): _*)))
        .withColumn("dm", explode(array((-1 to 1).map(lit): _*)))
        .withColumn("latc",
          greatest(lit(0), least(lit(14),
            floor((col("qlat") + 90) / 12) + col("dl"))))
        .withColumn("lonc",
          pmod(floor((col("qlon") + 180) / 12) + col("dm"), lit(30)))
        .drop("dl", "dm")
        // edge clamp can collapse two neighbor offsets into one cell;
        // dedup so no (site, cell) pair joins twice
        .dropDuplicates("site_id", "latc", "lonc")
      val dist = lit(2 * 6371.0) * asin(sqrt(
        pow(sin(radians(col("lat") - col("qlat")) / 2), 2)
          + cos(radians(col("qlat"))) * cos(radians(col("lat")))
            * pow(sin(radians(col("lon") - col("qlon")) / 2), 2)))
      pts.join(broadcast(sites), Seq("latc", "lonc"))
        .withColumn("dist_km", dist)
        .filter(col("dist_km") <= R)
        .select(col("site_id"), col("c_custkey"),
          round(col("dist_km"), 4).as("dist_km"))
        .orderBy("site_id", "c_custkey")
    }),

    // Spatial NEAREST-SITE assignment (the dispatch problem: every
    // point gets its closest facility) — the argmin counterpart of
    // geo_radius_join: the site list broadcasts (dimension-sized), the
    // haversine evaluates map-side, and min_by picks per-point argmin
    // with a deterministic id tie-break — zero shuffles beyond the
    // final sort. At production site counts the broadcast swaps for
    // the radius join's grid-cell candidate join + the same per-point
    // argmin; sites here are well-separated so the trig arithmetic is
    // nowhere near an argmin knife-edge (same libm discipline as
    // geo_radius_join's fixed threshold).
    "geo_nearest_site" -> ((s, d) => {
      val pts = Tables(s, d, "customer").select(
        col("c_custkey"),
        ((col("c_custkey") * 7 % 180).cast("double") - 90 + 0.5).as("lat"),
        ((col("c_custkey") * 13 % 360).cast("double") - 180 + 0.5).as("lon"))
      val sites = Tables(s, d, "nation").select(
        col("n_nationkey").as("site_id"),
        ((col("n_nationkey") * 11 % 120).cast("double") - 60 + 0.5).as("qlat"),
        ((col("n_nationkey") * 17 % 360).cast("double") - 180 + 0.5).as("qlon"))
      val dist = lit(2 * 6371.0) * asin(sqrt(
        pow(sin(radians(col("lat") - col("qlat")) / 2), 2)
          + cos(radians(col("qlat"))) * cos(radians(col("lat")))
            * pow(sin(radians(col("lon") - col("qlon")) / 2), 2)))
      pts.crossJoin(broadcast(sites))
        .withColumn("dist_km", dist)
        .groupBy("c_custkey")
        .agg(min_by(col("site_id"),
            struct(col("dist_km"), col("site_id"))).as("site_id"),
          round(min(col("dist_km")), 4).as("dist_km"))
        .orderBy("c_custkey")
    }),

    // Cost-based join REORDER: register the three tables in the session
    // catalog, ANALYZE row+column stats, and run the star join with CBO
    // + joinReorder on — the stats-driven planning a 100 TB warehouse
    // lives by (without stats Catalyst keeps the syntactic order and
    // only rule-based heuristics fire; with them the optimizer picks
    // build sides and join order from estimated cardinalities — here
    // orders⋈customer first, the 25-row nation last as a broadcast).
    // ScaleOpsSpec asserts the catalog stats exist and the reordered
    // plan equals the unreordered result; the oracle proves the rows.
    "opt_cbo_reorder" -> ((s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_cbo")
      // r19 opt (guide §1.2): ANALYZE exactly the columns the reorder
      // decision consumes (join keys + the aggregated measure + the
      // group key) instead of FOR ALL COLUMNS — the former ndv pass
      // over every column of orders/customer was most of this key's
      // time, and CBO's reorder sees identical stats for this query.
      // The 100 TB practice is the same: analyze the workload's
      // columns, not the schema.
      val cbCols = Map(
        "nation" -> "n_nationkey, n_name",
        "customer" -> "c_custkey, c_nationkey",
        "orders" -> "o_custkey, o_totalprice")
      for (t <- Seq("nation", "customer", "orders")) {
        s.sql(s"DROP TABLE IF EXISTS graft_cbo.${t}_cbo")
        s.sql(s"CREATE TABLE graft_cbo.${t}_cbo " + Tables.ddl(s, d, t))
        s.sql(s"ANALYZE TABLE graft_cbo.${t}_cbo COMPUTE STATISTICS " +
          s"FOR COLUMNS ${cbCols(t)}")
      }
      withConfs(s, Seq(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true")) {
        s.sql(
          """SELECT n_name, COUNT(*) AS n_orders,
            | ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            |   AS DOUBLE), 2) AS revenue
            |FROM graft_cbo.orders_cbo, graft_cbo.customer_cbo,
            |     graft_cbo.nation_cbo
            |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
            |GROUP BY n_name ORDER BY n_name""".stripMargin)
          .localCheckpoint() // materialize while CBO confs are active
      }
    })
  )

  /** The binned interval join at an arbitrary bin width. Any
    * `binDays >= 1` must produce the identical result (the 30-day
    * intervals then span ≤ ceil(30/binDays)+1 bins); RelationalProps
    * asserts this law across widths, the oracle pins width 30. */
  def intervalBinned(s: SparkSession, d: String, binDays: Int)
      : org.apache.spark.sql.DataFrame = {
    val spanDays = 30 // interval length in the join predicate below
    val e = Tables(s, d, "events")
      .withColumn("ts2", col("ts") - expr("INTERVAL 29 YEARS"))
      .withColumn("ebin",
        floor(unix_date(to_date(col("ts2"))) / binDays))
    val o = Tables(s, d, "orders")
      .withColumn("d0", unix_date(to_date(col("o_orderdate"))))
      // an interval overlaps the CONSECUTIVE bin range
      // floor(d0/B) .. floor((d0+span-1)/B) — explode exactly those
      .withColumn("obin", explode(sequence(
        floor(col("d0") / binDays),
        floor((col("d0") + lit(spanDays - 1)) / binDays))))
    e.join(o,
        col("user_id") === col("o_custkey")
          && col("ebin") === col("obin")
          && col("o_orderdate") <= col("ts2")
          && col("ts2") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .select(col("event_id"), col("o_orderkey"), col("o_orderdate"))
      .orderBy("event_id", "o_orderkey")
  }

  /** Horizon-bounded as-of via bin-equi-join, at an arbitrary bin
    * width, both directions. Any `binDays >= 1` with `horizonDays`
    * covering the fixture's max gap in that direction produces results
    * identical to the unbounded [[graft.operators.Relational]]
    * `join_asof` / `join_asof_forward`; TimeSeriesSpec asserts the law
    * across widths in both directions. */
  def asofBinned(s: SparkSession, d: String, binDays: Int,
      horizonDays: Int = 90, forward: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(s, d, "events")
      .withColumn("ts2", col("ts") - expr("INTERVAL 29 YEARS"))
      .withColumn("eday", unix_date(to_date(col("ts2"))))
      .withColumn("ebin", floor(col("eday") / binDays))
    // backward: an order at day D serves events in [D, D + H];
    // forward: events in [D - H, D] — replicate the order into exactly
    // the bins its service range overlaps (events carry ONE bin key)
    val (lo, hi) =
      if (forward) (col("oday") - lit(horizonDays), col("oday"))
      else (col("oday"), col("oday") + lit(horizonDays))
    val o = Tables(s, d, "orders")
      .withColumn("oday", unix_date(to_date(col("o_orderdate"))))
      .withColumn("obin", explode(sequence(
        floor(lo / binDays), floor(hi / binDays))))
    val range =
      if (forward)
        col("o_orderdate") >= col("ts2") &&
          col("oday") <= col("eday") + lit(horizonDays)
      else
        col("o_orderdate") <= col("ts2") &&
          col("oday") >= col("eday") - lit(horizonDays)
    val joined = e.join(o,
      col("user_id") === col("o_custkey")
        && col("ebin") === col("obin") && range)
    // composite arg-min/arg-max instead of a row_number window (r19
    // opt, guide §2.3): map-side partial aggregation collapses the
    // bin join's matches to one row per event before the exchange —
    // same lexicographic pick, same output
    val pick =
      if (forward) min_by(struct(col("o_orderkey"), col("o_orderdate")),
        struct(col("o_orderdate"), col("o_orderkey")))
      else max_by(struct(col("o_orderkey"), col("o_orderdate")),
        struct(col("o_orderdate"), col("o_orderkey")))
    joined.groupBy(col("event_id")).agg(pick.as("m"))
      .select(col("event_id"), col("m.o_orderkey"), col("m.o_orderdate"))
      .orderBy("event_id")
  }

  /** Both sides of the bucketed keys, as (artefact, columns, bucket
    * key); each table is named after its artefact. */
  val bucketed: Seq[(Artifact, Seq[String], String)] = Seq(
    (Artifact("graft_bkt_lineitem", "lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
      "l_orderkey"),
    (Artifact("graft_bkt_orders", "orders"),
      Seq("o_orderkey", "o_orderstatus", "o_orderpriority"), "o_orderkey"))

  /** Register both [[bucketed]] tables over their published dirs with
    * the CLUSTERED BY spec they were written with, as
    * CatalogTransfer.importInto does for bucketed tables. A dir is
    * written, bucketed by its join key, once per fixture: the
    * write-time shuffle every co-located join amortizes. The columns
    * come from the fixture's footer schema, so registering infers
    * nothing. */
  def bucketedTables(s: SparkSession, d: String): Unit =
    for ((art, cols, key) <- bucketed) {
      val t = art.name
      val dir = art.get(d) { out =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        Tables(s, d, art.source).select(cols.map(col): _*)
          .write.bucketBy(S, key).sortBy(key).option("path", out)
          .saveAsTable(t)
      }
      val schema = Tables.schema(s, d, art.source)
      val colDdl = cols.map(c => s"`$c` ${schema(c).dataType.sql}")
        .mkString(", ")
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t ($colDdl) USING parquet " +
        s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $S BUCKETS " +
        s"LOCATION '$dir'")
    }

  /** AQE tuning for [[aqeBhjShape]], shared with PlanSpec: static
    * broadcasts off (the planner must pick a shuffle join), runtime
    * broadcasts on (AQE converts when the materialized side proves
    * small). */
  val aqeBhjTuning: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10485760")

  /** Shuffle-planned join whose dim side is runtime-small, shared with
    * PlanSpec (initial-vs-final plan assertion). */
  def aqeBhjShape(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val dim = Tables(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"))
    Tables(s, d, "lineitem")
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double"), 2).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** AQE tuning for [[skewAqeShape]], shared with PlanSpec. Thresholds
    * sized to the fixture (defaults trigger at 256 MB partitions).
    * `forceOptimizeSkewedJoin` is required here because the join's
    * output partitioning feeds the same-key groupBy — without force,
    * AQE declines to split rather than insert the re-shuffle the agg
    * would then need (the real-world tradeoff this key demonstrates:
    * at 100 TB you pay one extra small exchange to unmelt a reducer). */
  val skewAqeTuning: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")

  /** The skewed join itself, shared with PlanSpec (which re-executes it
    * under the same tuning to assert the runtime split fires): fact
    * side 90%-hot on key 0, dim side unique per key, merge-hinted so
    * the join shuffles instead of broadcasting. The dim is a Range,
    * NOT a distinct over orders: a distinct leaves a HashAggregate
    * between the shuffle stage and the join, and OptimizeSkewedJoin
    * only matches Sort-over-shuffle-stage children — the aggregate
    * silently disables the very rule this key demonstrates. */
  def skewAqeShape(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val hot = (c: org.apache.spark.sql.Column) =>
      when(c % 100 < 90, 0L).otherwise(c % 100)
    // the round-robin repartition emulates the many-mapper reality of
    // a 100 TB scan: AQE can only split a skewed reduce partition at
    // MAPPER boundaries, and the single-file fixture otherwise
    // produces ONE map task — leaving the splitter nothing to cut
    val fact = Tables(s, d, "lineitem")
      .select(hot(col("l_orderkey")).as("k"), col("l_extendedprice"))
      .repartition(8)
    val dim = s.range(100).select(col("id").as("k"),
      (col("id") * 2 + 1).as("dim_tag"))
    fact.hint("merge").join(dim.hint("merge"), "k")
      .groupBy("k")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double"), 2).as("sum_price"),
        max("dim_tag").as("dim_tag"))
      .orderBy("k")
  }

  val oracles: Map[String, String] = Map(
    // the sampling-independent totals of the range-sort fingerprint:
    // 8 runs (the requested range count — all non-empty at any tested
    // SF), every row covered, and the global composite extremes; the
    // per-run boundary laws stay in ScaleOpsSpec (sampled cuts are not
    // cross-engine reproducible)
    "sort_range_partitioned" ->
      """SELECT COUNT(*) AS n_rows,
        |  MIN(l_shipdate) AS lo_date,
        |  (SELECT MIN(l_orderkey) FROM lineitem
        |   WHERE l_shipdate = (SELECT MIN(l_shipdate) FROM lineitem))
        |    AS lo_key,
        |  MAX(l_shipdate) AS hi_date,
        |  (SELECT MAX(l_orderkey) FROM lineitem
        |   WHERE l_shipdate = (SELECT MAX(l_shipdate) FROM lineitem))
        |    AS hi_key
        |FROM lineitem""".stripMargin,
    // the plain formulation — AQE's runtime broadcast must change no row
    "join_aqe_broadcast" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the plain formulation — AQE's runtime split must change no row
    "join_skew_aqe" ->
      """WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
        |    ELSE l_orderkey % 100 END AS k, l_extendedprice
        |  FROM lineitem),
        |dim AS (SELECT UNNEST(GENERATE_SERIES(0, 99)) AS k)
        |SELECT f.k, COUNT(*) AS n_rows,
        |  ROUND(CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2)
        |    AS sum_price,
        |  CAST(MAX(f.k * 2 + 1) AS BIGINT) AS dim_tag
        |FROM fact f JOIN dim USING (k)
        |GROUP BY f.k ORDER BY f.k""".stripMargin,
    // plain COUNT(DISTINCT) — the bitmap packing must be result-identical
    "agg_bitmap_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the naive distinct self-join — the bitmap AND must be identical
    "join_bitmap_overlap" ->
      """WITH aud AS (SELECT DISTINCT event_type, user_id
        |             FROM events WHERE value > 90)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       COUNT(*) AS n_both
        |FROM aud a JOIN aud b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the PLAIN distinct formulation — the two-phase rewrite must be
    // result-identical
    "agg_distinct_twophase" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_skew_salted" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_lines,
        | ROUND(SUM(l_extendedprice), 4) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "join_bucketed" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        | ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_bloom_runtime" ->
      """SELECT p_type, COUNT(*) AS n_lines,
        | ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#11'
        |GROUP BY p_type ORDER BY p_type""".stripMargin,
    // Deliberately the plain interval-join formulation: the binned
    // rewrite must be result-identical to the unbinned range join.
    "join_interval_binned" ->
      """SELECT event_id, o_orderkey, o_orderdate
        |FROM (SELECT event_id, user_id,
        |        CAST(ts AS TIMESTAMP) - INTERVAL 29 YEAR AS ts2 FROM events) e
        |JOIN orders o ON e.user_id = o.o_custkey
        | AND o.o_orderdate <= e.ts2
        | AND e.ts2 < o.o_orderdate + INTERVAL 30 DAY
        |ORDER BY event_id, o_orderkey""".stripMargin,
    // deliberately join_asof's own UNBOUNDED formulation: the horizon-
    // bounded binned rewrite must be result-identical to it on this
    // corpus (max backward gap 29 days < 90-day horizon)
    "join_asof_binned" ->
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM (SELECT event_id, user_id,
        |          CAST(ts AS TIMESTAMP) - INTERVAL 29 YEAR AS ts2 FROM events) e
        |  JOIN orders o ON e.user_id = o.o_custkey
        |   AND o.o_orderdate <= e.ts2)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // join_asof_forward's unbounded formulation — same contract as
    // join_asof_binned's oracle (max forward gap 2135 days < horizon)
    "join_asof_forward_binned" ->
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
        |  FROM (SELECT event_id, user_id,
        |          CAST(ts AS TIMESTAMP) - INTERVAL 29 YEAR AS ts2 FROM events) e
        |  JOIN orders o ON e.user_id = o.o_custkey
        |   AND o.o_orderdate >= e.ts2)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // Deliberately the BRUTE-FORCE all-pairs formulation: the grid-
    // binned join must be result-identical to exhaustive search.
    "geo_nearest_site" ->
      """WITH pts AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey * 7 % 180 AS DOUBLE) - 90 + 0.5 AS lat,
        |    CAST(c_custkey * 13 % 360 AS DOUBLE) - 180 + 0.5 AS lon
        |  FROM customer),
        |sites AS (
        |  SELECT n_nationkey AS site_id,
        |    CAST(n_nationkey * 11 % 120 AS DOUBLE) - 60 + 0.5 AS qlat,
        |    CAST(n_nationkey * 17 % 360 AS DOUBLE) - 180 + 0.5 AS qlon
        |  FROM nation),
        |dists AS (
        |  SELECT c_custkey, site_id,
        |    2 * 6371.0 * ASIN(SQRT(
        |      POW(SIN(RADIANS(lat - qlat) / 2), 2)
        |      + COS(RADIANS(qlat)) * COS(RADIANS(lat))
        |        * POW(SIN(RADIANS(lon - qlon) / 2), 2))) AS dist_km
        |  FROM sites CROSS JOIN pts)
        |SELECT c_custkey, site_id, ROUND(dist_km, 4) AS dist_km FROM (
        |  SELECT c_custkey, site_id, dist_km,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |      ORDER BY dist_km, site_id) AS rn
        |  FROM dists)
        |WHERE rn = 1 ORDER BY c_custkey""".stripMargin,
    "geo_radius_join" ->
      """WITH pts AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey * 7 % 180 AS DOUBLE) - 90 + 0.5 AS lat,
        |    CAST(c_custkey * 13 % 360 AS DOUBLE) - 180 + 0.5 AS lon
        |  FROM customer),
        |sites AS (
        |  SELECT n_nationkey AS site_id,
        |    CAST(n_nationkey * 11 % 120 AS DOUBLE) - 60 + 0.5 AS qlat,
        |    CAST(n_nationkey * 17 % 360 AS DOUBLE) - 180 + 0.5 AS qlon
        |  FROM nation)
        |SELECT site_id, c_custkey, ROUND(dist_km, 4) AS dist_km FROM (
        |  SELECT site_id, c_custkey,
        |    2 * 6371.0 * ASIN(SQRT(
        |      POW(SIN(RADIANS(lat - qlat) / 2), 2)
        |      + COS(RADIANS(qlat)) * COS(RADIANS(lat))
        |        * POW(SIN(RADIANS(lon - qlon) / 2), 2))) AS dist_km
        |  FROM sites CROSS JOIN pts)
        |WHERE dist_km <= 500.0
        |ORDER BY site_id, c_custkey""".stripMargin,
    "scan_bucket_prune" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority
        |FROM orders WHERE o_orderkey IN (42, 4242)
        |ORDER BY o_orderkey""".stripMargin,
    "opt_cbo_reorder" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        | ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
        |   AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin
  )
}
