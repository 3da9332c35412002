package graft.operators

import graft.{QueryGroup, Tables}
import org.apache.spark.sql.functions._

/** SURVEY.md §2 groups B (projection / filter / predicates) and C (joins).
  *
  * Reference basis [SVC]: the reference provisions Spark+Hive engines
  * (yc-data-proc-metadata-import `metastore-import.tf:196,:245`), whose
  * relational operator surface is the declared contract.
  *
  * Scale notes (100 TB):
  *  - Filters/projections are plain Catalyst expressions → pushed to the
  *    parquet scan (PushedFilters / pruned ReadSchema), verified in
  *    RelationalSpec.
  *  - Joins declare intent only; Catalyst + AQE pick broadcast vs SMJ vs
  *    shuffled-hash at runtime. `join_broadcast` pins a broadcast for the
  *    small dimension (`part`) — the right call at any scale since dims
  *    grow slower than facts. Theta/interval joins are bounded by an
  *    equi-key conjunct (brand / synthetic user key) so they plan as an
  *    equi-join with residual condition, NOT a cartesian product.
  */
object Relational extends QueryGroup {

  // ---------------------------------------------------------------- group B

  private val qB: Map[String, Q] = Map(
    "project_select" -> ((s, d) => {
      Tables(s, d, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("net_price"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "filter_compound" -> ((s, d) => {
      Tables(s, d, "part")
        .filter(col("p_size").between(10, 40)
          && (col("p_type").like("PROMO%")
            || col("p_brand").isin("Brand#1", "Brand#2"))
          && !(col("p_retailprice") < 905.0))
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size",
          "p_retailprice")
        .orderBy("p_partkey")
    }),

    "filter_null_3vl" -> ((s, d) => {
      // nullable-ized balance: negatives → NULL, then 3VL probes
      val c = Tables(s, d, "customer")
        .withColumn("bal",
          when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
      // the 3VL probe surfaces UNKNOWN explicitly as 'U' — nullable
      // boolean outputs hash unstably across engines (NULL vs NaN).
      c.select(
        col("c_custkey"),
        col("bal").isNull.as("bal_is_null"),
        col("bal").isNotNull.as("bal_is_not_null"),
        (col("bal") <=> lit(1000.0)).as("bal_nd_1000"),
        when(col("bal") > 1000.0, "T")
          .when(!(col("bal") > 1000.0), "F")
          .otherwise("U").as("bal_gt_1000"))
        .orderBy("c_custkey")
    })
  )

  private val oB: Map[String, String] = Map(
    "project_select" ->
      """SELECT l_orderkey, l_linenumber,
        | ROUND(l_extendedprice * (1.0 - l_discount), 4) AS net_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "filter_compound" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part
        |WHERE p_size BETWEEN 10 AND 40
        |  AND (p_type LIKE 'PROMO%' OR p_brand IN ('Brand#1','Brand#2'))
        |  AND NOT (p_retailprice < 905.0)
        |ORDER BY p_partkey""".stripMargin,
    "filter_null_3vl" ->
      """SELECT c_custkey,
        | bal IS NULL AS bal_is_null,
        | bal IS NOT NULL AS bal_is_not_null,
        | bal IS NOT DISTINCT FROM 1000.0 AS bal_nd_1000,
        | CASE WHEN bal > 1000.0 THEN 'T'
        |      WHEN NOT (bal > 1000.0) THEN 'F'
        |      ELSE 'U' END AS bal_gt_1000
        |FROM (SELECT c_custkey,
        |        CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
        |      FROM customer)
        |ORDER BY c_custkey""".stripMargin
  )

  // ---------------------------------------------------------------- group C

  private val qC: Map[String, Q] = Map(
    "join_inner_equi" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      val o = Tables(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"),
          col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "join_broadcast" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      val p = Tables(s, d, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "inner")
        .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
          round(col("p_retailprice"), 4).as("p_retailprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "join_sortmerge" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      val o = Tables(s, d, "orders").hint("merge")
      li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    "join_left_outer" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val o = Tables(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey"))
    }),

    "join_right_outer" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val o = Tables(s, d, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .select(col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey"))
    }),

    "join_full_outer" -> ((s, d) => {
      val sup = Tables(s, d, "supplier")
      val c = Tables(s, d, "customer")
      sup.join(c, sup("s_nationkey") === c("c_nationkey"), "full")
        .select(
          coalesce(sup("s_nationkey"), c("c_nationkey")).as("nationkey"),
          col("s_suppkey"), col("c_custkey"))
        .orderBy(asc_nulls_first("nationkey"), asc_nulls_first("s_suppkey"),
          asc_nulls_first("c_custkey"))
    }),

    // semi/anti against the negative-balance customer subset so both
    // sides are non-trivially populated (every customer has orders in
    // the fixtures, so the naive anti-join would be vacuously empty).
    "join_left_semi" -> ((s, d) => {
      val c = Tables(s, d, "customer").filter(col("c_acctbal") < 0)
      val o = Tables(s, d, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy("o_orderkey")
    }),

    "join_left_anti" -> ((s, d) => {
      val c = Tables(s, d, "customer").filter(col("c_acctbal") < 0)
      val o = Tables(s, d, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy("o_orderkey")
    }),

    "join_cross" -> ((s, d) => {
      val r = Tables(s, d, "region")
      val n = Tables(s, d, "nation")
      r.crossJoin(n)
        .select(col("r_regionkey"), col("r_name"), col("n_nationkey"),
          col("n_name"))
        .orderBy("r_regionkey", "n_nationkey")
    }),

    // non-equi pair join, bounded by the brand equi-key so it plans as an
    // equi-join with residual — NOT a cartesian; survives scale-up.
    "join_theta_range" -> ((s, d) => {
      val p1 = Tables(s, d, "part").as("p1")
      val p2 = Tables(s, d, "part").as("p2")
      p1.join(p2,
          col("p1.p_brand") === col("p2.p_brand")
            && col("p1.p_size") < col("p2.p_size")
            && col("p2.p_size") - col("p1.p_size") <= lit(2))
        .select(col("p1.p_brand").as("brand"),
          col("p1.p_partkey").as("pk1"), col("p2.p_partkey").as("pk2"),
          col("p1.p_size").as("size1"), col("p2.p_size").as("size2"))
        .orderBy("brand", "pk1", "pk2")
    }),

    // events shifted back 29 years to overlap the order-date domain, then
    // range-joined per synthetic user key (user_id = o_custkey).
    "join_interval" -> ((s, d) => {
      val e = Tables(s, d, "events")
        .withColumn("ts2", col("ts") - expr("INTERVAL 29 YEARS"))
      val o = Tables(s, d, "orders")
      e.join(o,
          col("user_id") === col("o_custkey")
            && col("o_orderdate") <= col("ts2")
            && col("ts2") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select(col("event_id"), col("o_orderkey"), col("o_orderdate"))
        .orderBy("event_id", "o_orderkey")
    }),

    // as-of: latest order of the same synthetic user at/before event time.
    // r19 opt (guide §2.3 "aggregate before you shuffle"): the pick of
    // the latest match is a composite arg-max, so max_by with the SAME
    // (o_orderdate, o_orderkey) lexicographic order replaces the
    // row_number window — the range join's blow-up is collapsed
    // map-side to one partial row per event instead of shuffling and
    // sorting every joined row. Identical pick, identical output.
    "join_asof" -> ((s, d) => {
      val e = Tables(s, d, "events")
        .withColumn("ts2", col("ts") - expr("INTERVAL 29 YEARS"))
      val o = Tables(s, d, "orders")
      e.join(o,
          col("user_id") === col("o_custkey")
            && col("o_orderdate") <= col("ts2"))
        .groupBy(col("event_id"))
        .agg(max_by(struct(col("o_orderkey"), col("o_orderdate")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
        .select(col("event_id"), col("m.o_orderkey"),
          col("m.o_orderdate"))
        .orderBy("event_id")
    }),

    // FORWARD as-of join (pandas merge_asof direction='forward'): the
    // NEXT event at-or-after the anchor — next-touch attribution,
    // time-to-next-order, "what happened after the incident". Same
    // range-join + per-anchor window shape as join_asof with the
    // direction reversed (o_orderdate >= ts, window ascending); the
    // same 100 TB upgrade applies (bound the horizon, bin to
    // equi-join — join_interval_binned's recipe).
    "join_asof_forward" -> ((s, d) => {
      // min_by composite arg-min replaces the row_number window — the
      // join_asof partial-aggregation rationale, direction reversed
      val e = Tables(s, d, "events")
        .withColumn("ts2", col("ts") - expr("INTERVAL 29 YEARS"))
      val o = Tables(s, d, "orders")
      e.join(o,
          col("user_id") === col("o_custkey")
            && col("o_orderdate") >= col("ts2"))
        .groupBy(col("event_id"))
        .agg(min_by(struct(col("o_orderkey"), col("o_orderdate")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
        .select(col("event_id"), col("m.o_orderkey"),
          col("m.o_orderdate"))
        .orderBy("event_id")
    }),

    // As-of join with a TOLERANCE bound (pandas merge_asof semantics):
    // match the latest prior order ONLY if it is within 7 days;
    // otherwise the event keeps NULLs via the LEFT join (join_asof
    // silently matches arbitrarily stale rows — for feature lookups
    // that staleness is leakage, so the bounded form is what a feature
    // store actually runs). The tolerance also changes the SCALE story:
    // the join range is now fixed-width, so at 100 TB this key's plan
    // upgrade is bin-by-90-day-window equi-join (join_interval_binned's
    // recipe) instead of an unbounded per-key backward scan.
    "join_asof_tolerance" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, d, "events")
        .withColumn("ts2", col("ts") - expr("INTERVAL 29 YEARS"))
      val o = Tables(s, d, "orders")
      val joined = e.join(o,
        col("user_id") === col("o_custkey")
          && col("o_orderdate") <= col("ts2")
          && col("o_orderdate") >= expr("ts2 - INTERVAL 7 DAYS"), "left")
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      joined.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("o_orderkey"),
          datediff(col("ts2").cast("date"), col("o_orderdate").cast("date"))
            .as("gap_days"))
        .orderBy("event_id")
    }),

    // null-safe equi join: <=> as the JOIN KEY (not just a predicate) —
    // NULL keys match each other, which a plain = join silently drops.
    // Still plans as a hash join (null-safe equality is hashable).
    "join_null_safe" -> ((s, d) => {
      val c = Tables(s, d, "customer")
        .select(col("c_custkey"),
          nullif(col("c_nationkey"), lit(3)).as("nk"))
      val n = Tables(s, d, "nation")
        .select(nullif(col("n_nationkey"), lit(3)).as("nk2"), col("n_name"))
      c.join(n, col("nk") <=> col("nk2"))
        .groupBy(col("nk"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("n_name")).as("first_name"))
        .orderBy(asc_nulls_first("nk"))
    }),

    // dynamic partition pruning: the fact side is partitioned on the
    // join key and the dim-side filter is only knowable at runtime — DPP
    // injects the dim's surviving keys as a partition filter on the fact
    // scan (plan shows `dynamicpruning#...`), so a 100 TB fact table
    // reads only the partitions the dim selects. PlanSpec asserts it.
    "join_dpp" -> ((s, d) => {
      import s.implicits._
      val fact = s.read.parquet(graft.sources.Scans.lineitemByFlagDir(s, d))
      // the dim must be a file relation: a local Seq folds its filter
      // into the relation at optimize time and DPP then sees no
      // selective predicate to derive the runtime partition filter from.
      // written unconditionally (3 rows): an existence check would
      // silently reuse stale parquet if this inline Seq were ever edited
      val dimDir = graft.Tables.scratch(d, "flag_dim")
      Seq(("A", "keep"), ("N", "drop"), ("R", "keep"))
        .toDF("flag", "tag").coalesce(1)
        .write.mode("overwrite").parquet(dimDir)
      val dim = s.read.parquet(dimDir)
      fact.join(broadcast(dim.filter(col("tag") === "keep")),
          fact("l_returnflag") === col("flag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // the NOT IN null trap, demonstrated deliberately: one NULL in the
    // subquery makes every NOT IN predicate UNKNOWN (count drops to 0),
    // while NOT EXISTS is null-safe. Both engines implement the same
    // three-valued semantics — the counts must agree exactly.
    "filter_not_in_3vl" -> ((s, d) => {
      Tables(s, d, "customer").createOrReplaceTempView("ni_customer")
      Tables(s, d, "orders").createOrReplaceTempView("ni_orders")
      s.sql(
        """SELECT
          | (SELECT COUNT(*) FROM ni_customer
          |  WHERE c_custkey NOT IN (SELECT o_custkey FROM ni_orders))
          |   AS not_in_clean,
          | (SELECT COUNT(*) FROM ni_customer
          |  WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7)
          |                          FROM ni_orders))
          |   AS not_in_with_null,
          | (SELECT COUNT(*) FROM ni_customer c
          |  WHERE NOT EXISTS (SELECT 1 FROM ni_orders o
          |    WHERE NULLIF(o.o_custkey, 7) = c.c_custkey))
          |   AS not_exists_null_safe""".stripMargin)
    }),

    // Referential-integrity audit — the data-quality gate a warehouse
    // runs after every load: per-relationship orphan counts from LEFT
    // joins against (deterministically thinned) parent snapshots,
    // simulating partial dimension loads. Each leg is one broadcast or
    // shuffle join producing a single summary row; the fourth leg is
    // intact to show a passing check. At 100 TB every leg is
    // independently parallel and the output is 4 rows.
    "audit_referential" -> ((s, d) => {
      def leg(rel: String, child: org.apache.spark.sql.DataFrame,
          parent: org.apache.spark.sql.DataFrame,
          ck: String, pk: String) =
        child.join(parent, col(ck) === col(pk), "left")
          .agg(count(lit(1)).as("n_child"),
            count(when(col(pk).isNull, 1)).as("n_orphan"))
          .select(lit(rel).as("rel"), col("n_child"), col("n_orphan"))
      val audit = leg("customer->nation", Tables(s, d, "customer"),
          Tables(s, d, "nation").filter(col("n_nationkey") < 20),
          "c_nationkey", "n_nationkey")
        .unionAll(leg("orders->customer", Tables(s, d, "orders"),
          Tables(s, d, "customer").filter(col("c_custkey") % 7 =!= 3),
          "o_custkey", "c_custkey"))
        .unionAll(leg("lineitem->orders", Tables(s, d, "lineitem"),
          Tables(s, d, "orders").filter(col("o_orderkey") % 11 =!= 5),
          "l_orderkey", "o_orderkey"))
        .unionAll(leg("lineitem->part", Tables(s, d, "lineitem"),
          Tables(s, d, "part"), "l_partkey", "p_partkey"))
      audit.orderBy("rel")
    }),

    // Data-quality metrics OBSERVED on the main job — `Dataset.observe`
    // (CollectMetrics) piggybacks aggregates on the exact rows a query
    // streams through, so a pipeline publishes row counts / domain
    // violations / control totals WITHOUT a second pass: at 100 TB the
    // difference between observe and a separate audit query is a whole
    // re-read of the input. The observed node sits below the main
    // consumer (here a filtered count), the metrics ride its stage, and
    // the driver collects them from the completed action — KBs of
    // side-channel, zero extra scan. The oracle re-derives the same
    // audit aggregates relationally, proving observe saw every row
    // exactly once.
    "audit_observe_metrics" -> ((s, d) => {
      import s.implicits._
      val obs = new org.apache.spark.sql.Observation()
      val li = Tables(s, d, "lineitem").observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity") <= 0, 1).otherwise(0)).as("n_bad_qty"),
        count(when(col("l_returnflag").isNull, 1)).as("n_null_flag"),
        round(sum("l_extendedprice"), 4).as("sum_price"))
      // the MAIN job: the metrics ride this count's single scan
      val nHighDisc = li.filter(col("l_discount") > 0.05).count()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long],
        m("n_bad_qty").asInstanceOf[Long],
        m("n_null_flag").asInstanceOf[Long],
        m("sum_price").asInstanceOf[Double],
        nHighDisc))
        .toDF("n_rows", "n_bad_qty", "n_null_flag", "sum_price",
          "n_high_disc")
    }),

    // Order-independent table content CHECKSUM — the cutover gate a
    // metastore migration runs AFTER meta_validate's row counts: does
    // the migrated table hold the same BYTES, not just the same
    // cardinality? Each row renders to a canonical string (explicit
    // null sentinel, '|' separator, dates at day precision), hashes to
    // a 60-bit integer (md5 prefix — engine-independent, unlike
    // xxhash64), and folds into per-bucket signatures: bit_xor (order-
    // and overflow-free) plus a modular sum (catches the xor blind
    // spot: a row duplicated an even number of times). 16 buckets by
    // key let a mismatch pinpoint the divergent shard instead of
    // "table differs somewhere". One map-side-combined pass, 16 output
    // rows — at 100 TB the checksum costs one scan and shuffles KBs.
    "audit_table_checksum" -> ((s, d) => {
      val canon = concat_ws("|",
        col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"),
        coalesce(col("o_orderstatus"), lit("∅")),
        coalesce(col("o_orderpriority"), lit("∅")),
        col("o_orderdate").cast("date").cast("string"))
      Tables(s, d, "orders")
        .select((col("o_orderkey") % 16).as("bucket"),
          conv(substring(md5(canon), 1, 15), 16, 10).cast("long").as("h64"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h64)").as("xor_sig"),
          sum(col("h64") % 1000000007L).as("sum_sig"))
        .orderBy("bucket")
    }),

    // Change-data capture between two dimension snapshots — the MERGE
    // INTO classification step: one full-outer join on the business
    // key, each row labeled insert/delete/update/unchanged. The
    // "next" snapshot is synthesized deterministically from the same
    // fixture (dropped keys, new keys, bumped balances) so both
    // engines derive identical sides. One shuffle on the key; at
    // 100 TB this is the shape SCD pipelines run nightly.
    "dim_change_capture" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val cur = c.filter(col("c_custkey") % 13 =!= 3)
        .select(col("c_custkey"),
          round(col("c_acctbal"), 2).as("old_bal"))
      val nxt = c.filter(col("c_custkey") % 11 =!= 7)
        .select(col("c_custkey"),
          round(when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")), 2).as("new_bal"))
      cur.join(nxt, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          when(col("old_bal").isNull, "insert")
            .when(col("new_bal").isNull, "delete")
            .when(col("old_bal") =!= col("new_bal"), "update")
            .otherwise("unchanged").as("action"),
          col("old_bal"), col("new_bal"))
        .orderBy("c_custkey")
    }),

    // Type-2 slowly-changing dimension BUILD — the versioned-history
    // table dim_change_capture's nightly diff feeds: each business
    // key's attribute timeline becomes [eff_from, eff_to] validity
    // ranges with a current flag. Three per-entity window passes, all
    // on the same (key, date) partitioning so ONE shuffle serves them:
    // (1) same-day changes collapse to the last write (max_by on the
    // order id — deterministic, the ts_ohlc tiebreak lesson); (2)
    // consecutive duplicate values collapse via lag() — true SCD2
    // records CHANGES, not snapshots; (3) lead() closes each range at
    // the next change minus a day, the standard 9999-12-31 high date
    // marking the open row. At 100 TB keys are the parallelism and a
    // key's history is task-sized — the per-entity-scan contract
    // (cf. win_sessionize); no window ever spans entities.
    "dim_scd2_build" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ch = Tables(s, d, "orders").filter(col("o_custkey") < 300)
        .groupBy(col("o_custkey").as("custkey"),
          col("o_orderdate").cast("date").as("dt"))
        .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
      val w = Window.partitionBy("custkey").orderBy("dt")
      ch.withColumn("pv", lag(col("prio"), 1).over(w))
        .filter(col("pv").isNull || col("prio") =!= col("pv"))
        .select(col("custkey"), col("dt"), col("prio"))
        .withColumn("version", row_number().over(w))
        .withColumn("nxt", lead(col("dt"), 1).over(w))
        .select(col("custkey"), col("version"), col("prio"),
          // ISO strings, not DATE columns: the two engines' clients
          // render bare dates differently (date vs midnight timestamp)
          col("dt").cast("string").as("eff_from"),
          coalesce(date_sub(col("nxt"), 1),
            to_date(lit("9999-12-31"))).cast("string").as("eff_to"),
          when(col("nxt").isNull, 1).otherwise(0).as("is_current"))
        .orderBy("custkey", "version")
    }),

    // One-pass multi-column data PROFILE — the audit every ingest runs
    // before anything else (null rates, cardinality, ranges, means).
    // ONE aggregate over the table computes all four columns' stats
    // simultaneously, then a codegen'd stack() unpivots the single
    // row into the per-column report — the table is scanned exactly
    // once regardless of column count. The multi-column exact
    // COUNT(DISTINCT ...) plans as Catalyst's Expand (×4 row
    // amplification before the partial agg) — at 100 TB the scale
    // path swaps in approx_count_distinct's mergeable sketch
    // (cf. agg_approx_distinct) and the amplification disappears;
    // exact is kept here because the profile IS the oracle contract.
    // min/max render through decimal-for-doubles so both engines
    // print identical strings (Java vs DuckDB double formatting
    // diverges outside ±1e7).
    "audit_profile" -> ((s, d) => {
      val bal = col("c_acctbal").cast("decimal(12,2)")
      Tables(s, d, "customer")
        .agg(
          count(col("c_custkey")).as("n1"),
          countDistinct(col("c_custkey")).as("d1"),
          min(col("c_custkey")).cast("string").as("mn1"),
          max(col("c_custkey")).cast("string").as("mx1"),
          round(avg(col("c_custkey")), 4).as("a1"),
          count(col("c_nationkey")).as("n2"),
          countDistinct(col("c_nationkey")).as("d2"),
          min(col("c_nationkey")).cast("string").as("mn2"),
          max(col("c_nationkey")).cast("string").as("mx2"),
          round(avg(col("c_nationkey")), 4).as("a2"),
          count(col("c_acctbal")).as("n3"),
          countDistinct(bal).as("d3"),
          min(bal).cast("string").as("mn3"),
          max(bal).cast("string").as("mx3"),
          round(avg(col("c_acctbal")), 4).as("a3"),
          count(col("c_mktsegment")).as("n4"),
          countDistinct(col("c_mktsegment")).as("d4"),
          min(col("c_mktsegment")).as("mn4"),
          max(col("c_mktsegment")).as("mx4"))
        .select(expr(
          """stack(4,
            |  'c_custkey',    n1, d1, mn1, mx1, a1,
            |  'c_nationkey',  n2, d2, mn2, mx2, a2,
            |  'c_acctbal',    n3, d3, mn3, mx3, a3,
            |  'c_mktsegment', n4, d4, mn4, mx4, CAST(NULL AS DOUBLE))
            | AS (col_name, n_nonnull, n_distinct, min_s, max_s, avg_num)
            |""".stripMargin))
        .orderBy("col_name")
    }),

    // lateral correlated subquery in FROM: per-customer top-2 orders.
    // Catalyst decorrelates the LIMIT'd subquery into a ranked window
    // join — no per-row re-execution, one shuffle on the join key.
    "join_lateral" -> ((s, d) => {
      Tables(s, d, "customer").createOrReplaceTempView("lat_customer")
      Tables(s, d, "orders").createOrReplaceTempView("lat_orders")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 4) AS price
          |FROM lat_customer c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM lat_orders o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
    }),

    // correlated scalar subquery: orders priced 1.5× above their own
    // customer's average — decorrelated by Catalyst into an aggregate
    // join, not a per-row subquery execution.
    "subquery_correlated" -> ((s, d) => {
      Tables(s, d, "orders").createOrReplaceTempView("sq_orders")
      s.sql(
        """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS price
          |FROM sq_orders o
          |WHERE o_totalprice > (SELECT 1.5 * AVG(o2.o_totalprice)
          |                      FROM sq_orders o2
          |                      WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    })
  )

  private val oC: Map[String, String] = Map(
    // the observed side-channel must equal a relational re-derivation
    // over the same input — observe saw every row exactly once
    "audit_observe_metrics" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bad_qty,
        |  CAST(COUNT(CASE WHEN l_returnflag IS NULL THEN 1 END)
        |    AS BIGINT) AS n_null_flag,
        |  ROUND(SUM(l_extendedprice), 4) AS sum_price,
        |  (SELECT COUNT(*) FROM lineitem WHERE l_discount > 0.05)
        |    AS n_high_disc
        |FROM lineitem""".stripMargin,
    // same canonical rendering + md5-prefix hash on both engines: the
    // signatures must agree bit-for-bit or the table content differs
    "audit_table_checksum" ->
      """SELECT o_orderkey % 16 AS bucket, COUNT(*) AS n_rows,
        |  BIT_XOR(h64) AS xor_sig,
        |  CAST(SUM(h64 % 1000000007) AS BIGINT) AS sum_sig
        |FROM (
        |  SELECT o_orderkey,
        |    ('0x' || substr(md5(concat_ws('|',
        |       CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |       COALESCE(o_orderstatus, '∅'),
        |       COALESCE(o_orderpriority, '∅'),
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR))), 1, 15))::BIGINT
        |      AS h64
        |  FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "audit_referential" ->
      """SELECT rel, n_child, n_orphan FROM (
        |  SELECT 'customer->nation' AS rel, COUNT(*) AS n_child,
        |    COUNT(*) FILTER (n_nationkey IS NULL) AS n_orphan
        |  FROM customer LEFT JOIN
        |    (SELECT * FROM nation WHERE n_nationkey < 20) n
        |    ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 'orders->customer', COUNT(*),
        |    COUNT(*) FILTER (c_custkey IS NULL)
        |  FROM orders LEFT JOIN
        |    (SELECT * FROM customer WHERE c_custkey % 7 <> 3) c
        |    ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'lineitem->orders', COUNT(*),
        |    COUNT(*) FILTER (o_orderkey IS NULL)
        |  FROM lineitem LEFT JOIN
        |    (SELECT * FROM orders WHERE o_orderkey % 11 <> 5) o
        |    ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem->part', COUNT(*),
        |    COUNT(*) FILTER (p_partkey IS NULL)
        |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey)
        |ORDER BY rel""".stripMargin,
    "dim_change_capture" ->
      """WITH cur AS (SELECT c_custkey, ROUND(c_acctbal, 2) AS old_bal
        |             FROM customer WHERE c_custkey % 13 <> 3),
        |nxt AS (
        |  SELECT c_custkey,
        |    ROUND(CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
        |               ELSE c_acctbal END, 2) AS new_bal
        |  FROM customer WHERE c_custkey % 11 <> 7)
        |SELECT COALESCE(cur.c_custkey, nxt.c_custkey) AS c_custkey,
        |  CASE WHEN cur.c_custkey IS NULL THEN 'insert'
        |       WHEN nxt.c_custkey IS NULL THEN 'delete'
        |       WHEN old_bal <> new_bal THEN 'update'
        |       ELSE 'unchanged' END AS action,
        |  old_bal, new_bal
        |FROM cur FULL OUTER JOIN nxt ON cur.c_custkey = nxt.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "dim_scd2_build" ->
      """WITH ch AS (
        |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS dt,
        |    ARG_MAX(o_orderpriority, o_orderkey) AS prio
        |  FROM orders WHERE o_custkey < 300 GROUP BY 1, 2),
        |col AS (SELECT custkey, dt, prio,
        |    LAG(prio) OVER (PARTITION BY custkey ORDER BY dt) AS pv
        |  FROM ch),
        |flt AS (SELECT custkey, dt, prio FROM col
        |        WHERE pv IS NULL OR prio <> pv)
        |SELECT custkey,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY dt)
        |       AS INTEGER) AS version,
        |  prio, CAST(dt AS VARCHAR) AS eff_from,
        |  CAST(COALESCE((LEAD(dt) OVER (PARTITION BY custkey
        |                  ORDER BY dt) - INTERVAL 1 DAY)::DATE,
        |                DATE '9999-12-31') AS VARCHAR) AS eff_to,
        |  CASE WHEN LEAD(dt) OVER (PARTITION BY custkey ORDER BY dt)
        |       IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM flt ORDER BY custkey, version""".stripMargin,
    "audit_profile" ->
      """SELECT * FROM (
        |  SELECT 'c_custkey' AS col_name, COUNT(c_custkey) AS n_nonnull,
        |    COUNT(DISTINCT c_custkey) AS n_distinct,
        |    CAST(MIN(c_custkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(c_custkey) AS VARCHAR) AS max_s,
        |    ROUND(AVG(c_custkey), 4) AS avg_num FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', COUNT(c_nationkey),
        |    COUNT(DISTINCT c_nationkey),
        |    CAST(MIN(c_nationkey) AS VARCHAR),
        |    CAST(MAX(c_nationkey) AS VARCHAR),
        |    ROUND(AVG(c_nationkey), 4) FROM customer
        |  UNION ALL
        |  SELECT 'c_acctbal', COUNT(c_acctbal),
        |    COUNT(DISTINCT CAST(c_acctbal AS DECIMAL(12,2))),
        |    CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR),
        |    CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR),
        |    ROUND(AVG(c_acctbal), 4) FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment', COUNT(c_mktsegment),
        |    COUNT(DISTINCT c_mktsegment),
        |    MIN(c_mktsegment), MAX(c_mktsegment),
        |    CAST(NULL AS DOUBLE) FROM customer)
        |ORDER BY col_name""".stripMargin,
    "join_inner_equi" ->
      """SELECT l_orderkey, l_linenumber, o_custkey,
        | ROUND(o_totalprice, 4) AS o_totalprice, l_quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "join_broadcast" ->
      """SELECT l_orderkey, l_linenumber, p_brand,
        | ROUND(p_retailprice, 4) AS p_retailprice
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "join_sortmerge" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        | ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_left_outer" ->
      """SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin,
    "join_right_outer" ->
      """SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin,
    "join_full_outer" ->
      """SELECT COALESCE(s_nationkey, c_nationkey) AS nationkey,
        | s_suppkey, c_custkey
        |FROM supplier FULL OUTER JOIN customer ON s_nationkey = c_nationkey
        |ORDER BY nationkey NULLS FIRST, s_suppkey NULLS FIRST,
        | c_custkey NULLS FIRST""".stripMargin,
    "join_left_semi" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
        |ORDER BY o_orderkey""".stripMargin,
    "join_left_anti" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
        |ORDER BY o_orderkey""".stripMargin,
    "join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,
    "join_theta_range" ->
      """SELECT p1.p_brand AS brand, p1.p_partkey AS pk1, p2.p_partkey AS pk2,
        | p1.p_size AS size1, p2.p_size AS size2
        |FROM part p1 JOIN part p2
        |  ON p1.p_brand = p2.p_brand AND p1.p_size < p2.p_size
        | AND p2.p_size - p1.p_size <= 2
        |ORDER BY brand, pk1, pk2""".stripMargin,
    "join_interval" ->
      """SELECT event_id, o_orderkey, o_orderdate
        |FROM (SELECT event_id, user_id,
        |        CAST(ts AS TIMESTAMP) - INTERVAL 29 YEAR AS ts2 FROM events) e
        |JOIN orders o ON e.user_id = o.o_custkey
        | AND o.o_orderdate <= e.ts2
        | AND e.ts2 < o.o_orderdate + INTERVAL 30 DAY
        |ORDER BY event_id, o_orderkey""".stripMargin,
    "join_asof" ->
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM (SELECT event_id, user_id,
        |          CAST(ts AS TIMESTAMP) - INTERVAL 29 YEAR AS ts2 FROM events) e
        |  JOIN orders o ON e.user_id = o.o_custkey
        |   AND o.o_orderdate <= e.ts2)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "join_asof_forward" ->
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
        |  FROM (SELECT event_id, user_id,
        |          CAST(ts AS TIMESTAMP) - INTERVAL 29 YEAR AS ts2 FROM events) e
        |  JOIN orders o ON e.user_id = o.o_custkey
        |   AND o.o_orderdate >= e.ts2)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "join_asof_tolerance" ->
      """SELECT event_id, o_orderkey,
        |  DATE_DIFF('day', CAST(o_orderdate AS DATE), CAST(ts2 AS DATE))
        |    AS gap_days
        |FROM (
        |  SELECT e.event_id, e.ts2, o.o_orderkey, o.o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM (SELECT event_id, user_id,
        |          CAST(ts AS TIMESTAMP) - INTERVAL 29 YEAR AS ts2
        |        FROM events) e
        |  LEFT JOIN orders o ON e.user_id = o.o_custkey
        |   AND o.o_orderdate <= e.ts2
        |   AND o.o_orderdate >= e.ts2 - INTERVAL 7 DAY)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "join_null_safe" ->
      """SELECT nk, COUNT(*) AS n_matches, MIN(n_name) AS first_name
        |FROM (SELECT c_custkey, NULLIF(c_nationkey, 3) AS nk FROM customer) c
        |JOIN (SELECT NULLIF(n_nationkey, 3) AS nk2, n_name FROM nation) n
        |  ON c.nk IS NOT DISTINCT FROM n.nk2
        |GROUP BY nk ORDER BY nk NULLS FIRST""".stripMargin,
    "join_dpp" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        | ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "filter_not_in_3vl" ->
      """SELECT
        | (SELECT COUNT(*) FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
        |   AS not_in_clean,
        | (SELECT COUNT(*) FROM customer
        |  WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders))
        |   AS not_in_with_null,
        | (SELECT COUNT(*) FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE NULLIF(o.o_custkey, 7) = c.c_custkey))
        |   AS not_exists_null_safe""".stripMargin,
    "join_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 4) AS price
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin,
    "subquery_correlated" ->
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS price
        |FROM orders o
        |WHERE o_totalprice > (SELECT 1.5 * AVG(o2.o_totalprice)
        |                      FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin
  )

  val queries: Map[String, Q] = qB ++ qC
  val oracles: Map[String, String] = oB ++ oC
}
