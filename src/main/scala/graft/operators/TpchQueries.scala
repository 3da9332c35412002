package graft.operators

import graft.{QueryGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The rest of the TPC-H query-shape suite (Q3/Q5/Q7/Q9/Q10/Q18/Q21
  * live in [[Analytics]]) — the remaining 15 canonical shapes adapted
  * to the fixture schema, completing all 22. These are the workload a
  * user of the reference's provisioned Spark/Hive cluster runs against
  * metastore-resolved tables (reference basis [SVC]:
  * yc-data-proc-metadata-import metadata-import.tf services block).
  *
  * Fixture adaptations (no partsupp / commit-receipt dates / comments):
  *  - the supply relation is the DISTINCT (l_partkey, l_suppkey) pairs
  *    observed in lineitem; supply cost where needed derives from pure
  *    integer arithmetic on the pair (exact in both engines);
  *  - "late" predicates compare l_shipdate against o_orderdate + N days;
  *  - Q22's country code is c_nationkey % 10 (phone-prefix analog).
  *
  * Subquery-shaped queries (Q2/Q4/Q15/Q17/Q20/Q22) run as SQL text so
  * Catalyst's subquery decorrelation — not a hand rewrite — produces
  * the join plan; the others are DataFrame programs. Scale notes per
  * key inline. Big float totals follow the q9 discipline: cast each
  * term to DECIMAL(18,6) inside SUM (exact, order-insensitive), cast
  * back to double, round at output.
  */
object TpchQueries extends QueryGroup {

  private val dec = DecimalType(18, 6)

  /** Exact decimal sum of a double expression, rounded at output. The
    * DECIMAL is rounded before the cast to DOUBLE, so an exact `.xx5`
    * tie rounds half-up in both engines. Rounding the double instead
    * splits them: Spark rounds its shortest decimal string (…791.215
    * gives .22), DuckDB the binary value (…791.21499997 gives .21). */
  private def dsum(e: org.apache.spark.sql.Column, scale: Int) =
    round(sum(e.cast(dec)), scale).cast("double")

  private def view(s: SparkSession, d: String, t: String): Unit =
    Tables(s, d, t).createOrReplaceTempView(s"tq_$t")

  val queries: Map[String, Q] = Map(
    // Q1: the pricing summary in full (entry() runs a thinner cut).
    // One scan, map-side partial agg into 6 groups — the canonical
    // "does partial aggregation happen" probe at 100 TB.
    "q1_pricing_summary" -> ((s, d) => {
      Tables(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")), 2).as("sum_charge"),
          round(sum(col("l_quantity").cast("long")).cast("double")
            / count(lit(1)), 4).as("avg_qty"),
          round(sum(col("l_extendedprice").cast(dec)).cast("double")
            / count(lit(1)), 4).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Q2: min-cost supplier — the correlated-MIN-subquery shape, left
    // to Catalyst's decorrelation (plans as an aggregate + self-join of
    // the supply relation, both sides sharing the scan). At 100 TB the
    // supply relation is dimension-sized: the per-part MIN side
    // broadcast-joins back.
    "q2_min_cost_supplier" -> ((s, d) => {
      Seq("lineitem", "part", "supplier", "nation").foreach(view(s, d, _))
      s.sql(
        """WITH supply AS (
          |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |    CAST((l_partkey * 31 + l_suppkey * 17) % 10000 AS BIGINT) AS ps_supplycost
          |  FROM tq_lineitem)
          |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
          |       ps.ps_supplycost
          |FROM tq_part p, supply ps, tq_supplier s, tq_nation n
          |WHERE p.p_partkey = ps.ps_partkey AND s.s_suppkey = ps.ps_suppkey
          |  AND s.s_nationkey = n.n_nationkey
          |  AND p.p_size <= 5 AND p.p_type = 'LARGE'
          |  AND ps.ps_supplycost = (
          |    SELECT MIN(ps2.ps_supplycost) FROM supply ps2
          |    WHERE ps2.ps_partkey = p.p_partkey)
          |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
          |LIMIT 100""".stripMargin)
    }),

    // Q4: order-priority count gated by correlated EXISTS (late line) —
    // Catalyst decorrelates to a left-semi join; the date filter prunes
    // the orders scan before the probe side is built.
    "q4_order_priority" -> ((s, d) => {
      Seq("orders", "lineitem").foreach(view(s, d, _))
      s.sql(
        """SELECT o_orderpriority, COUNT(*) AS order_count
          |FROM tq_orders o
          |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          |  AND o_orderdate < TIMESTAMP '1996-10-01'
          |  AND EXISTS (SELECT 1 FROM tq_lineitem l
          |    WHERE l.l_orderkey = o.o_orderkey
          |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // Q6: the pure filter-agg — every predicate must reach
    // PushedFilters; the scan is the whole query at 100 TB.
    "q6_forecast_revenue" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01")
          && col("l_shipdate") < lit("1998-01-01")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 2)
          .as("revenue"))),

    // Q8: market share — the 8-table star with nation joined TWICE
    // (customer side fixes the region, supplier side labels the
    // share). All dims broadcast; the two fact shuffles (lineitem ⋈
    // orders) dominate and are the only exchanges at scale.
    "q8_market_share" -> ((s, d) => {
      val cn = Tables(s, d, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
      val sn = Tables(s, d, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val vol = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec)
      Tables(s, d, "lineitem")
        .join(Tables(s, d, "part").filter(col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(cn, col("c_nationkey") === col("cn_key"))
        .join(Tables(s, d, "region").filter(col("r_name") === "AMERICA"),
          col("n_regionkey") === col("r_regionkey"))
        .join(Tables(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0).cast(dec))).cast("double")
            / sum(vol).cast("double"), 6).as("mkt_share"))
        .orderBy("o_year")
    }),

    // Q11: important stock — per-part value vs a fraction of the
    // global total. The total comes from an unpartitioned window over
    // the already-collapsed per-part aggregate (win_share_of_total
    // discipline): ONE fact scan, the window sorts |parts| rows, and
    // the threshold comparison is exact decimal×integer.
    "q11_important_stock" -> ((s, d) => {
      val perPart = Tables(s, d, "lineitem")
        .join(Tables(s, d, "supplier")
          .filter(col("s_nationkey").isin(1, 2, 3)),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast(dec)).as("v"))
      perPart
        .withColumn("total", sum(col("v")).over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(col("v") * 1000 > col("total"))
        .select(col("l_partkey").as("ps_partkey"),
          round(col("v").cast("double"), 2).as("part_value"))
        .orderBy(col("part_value").desc, col("ps_partkey"))
        .limit(100)
    }),

    // Q12: shipmode service-level split — conditional COUNTs pivot the
    // priority dimension inside one aggregation (no second scan).
    "q12_shipmode" -> ((s, d) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables(s, d, "orders")
        .join(Tables(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        // INTERVAL arithmetic, NOT date_add: date_add truncates the
        // timestamp to DATE, which only matches the oracle because the
        // fixture's timestamps happen to be midnight-aligned
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAY")
          && col("l_shipdate") >= lit("1997-01-01")
          && col("l_shipdate") < lit("1998-01-01"))
        .groupBy(when(col("l_linenumber") % 3 === 0, "AIR")
          .when(col("l_linenumber") % 3 === 1, "RAIL")
          .otherwise("SHIP").as("shipmode"))
        .agg(count(when(high, 1)).as("high_line_count"),
          count(when(!high, 1)).as("low_line_count"))
        .orderBy("shipmode")
    }),

    // Q13: customer order-count distribution — the filter lives in the
    // OUTER JOIN's ON clause (moving it to WHERE would drop the
    // zero-order customers the query exists to count), then a second
    // aggregation over the |customers|-row result.
    "q13_customer_distribution" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val o = Tables(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey")
          && o("o_orderpriority") =!= "1-URGENT", "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Q14: promo revenue share — one month of the fact, part broadcast,
    // a single aggregation carrying both the conditional and the total.
    "q14_promo_revenue" -> ((s, d) => {
      val vol = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec)
      Tables(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-03-01")
          && col("l_shipdate") < lit("1997-04-01"))
        .join(Tables(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0)
          * sum(when(col("p_type") === "PROMO", vol).otherwise(lit(0).cast(dec)))
            .cast("double")
          / sum(vol).cast("double"), 6).as("promo_revenue"))
    }),

    // Q15: top supplier — the revenue view referenced twice (rows +
    // scalar MAX). DECIMAL revenue makes the MAX-equality exact; at
    // scale the view is |suppliers|-sized so the re-derivation is the
    // cost of one extra fact pass — the price of the textbook form,
    // which is the point of the key.
    "q15_top_supplier" -> ((s, d) => {
      Seq("lineitem", "supplier").foreach(view(s, d, _))
      s.sql(
        """WITH revenue0 AS (
          |  SELECT l_suppkey AS supplier_no,
          |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue
          |  FROM tq_lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s.s_suppkey, s.s_name,
          |       ROUND(CAST(r.total_revenue AS DOUBLE), 2) AS total_revenue
          |FROM tq_supplier s, revenue0 r
          |WHERE s.s_suppkey = r.supplier_no
          |  AND r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
          |ORDER BY s.s_suppkey""".stripMargin)
    }),

    // Q16: supplier count per part attribute — COUNT(DISTINCT) over the
    // supply pairs, complaint suppliers removed. The DataFrame uses the
    // anti-join form; the oracle keeps NOT IN, so the driver diff
    // proves the rewrite (s_suppkey is non-null, making them equal).
    "q16_supplier_cnt" -> ((s, d) => {
      val supply = Tables(s, d, "lineitem")
        .select(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey")).distinct()
      val complaints = Tables(s, d, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      supply
        .join(broadcast(complaints),
          col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .join(Tables(s, d, "part")
          .filter(col("p_brand") =!= "Brand#21" && col("p_type") =!= "PROMO"
            && col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)),
          col("ps_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // Q17: small-quantity revenue — correlated scalar AVG per part.
    // Catalyst decorrelates to a per-part aggregate joined back;
    // 5*qty < sum/count keeps the comparison in exact integral-double
    // arithmetic (l_quantity is integral in the fixture).
    "q17_small_quantity" -> ((s, d) => {
      Seq("lineitem", "part").foreach(view(s, d, _))
      s.sql(
        """SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
          |         / 7.0, 4) AS avg_yearly
          |FROM tq_lineitem l, tq_part p
          |WHERE p.p_partkey = l.l_partkey
          |  AND p.p_brand = 'Brand#23' AND p.p_size <= 10
          |  AND 5 * l.l_quantity < (
          |    SELECT SUM(l2.l_quantity) / COUNT(*) FROM tq_lineitem l2
          |    WHERE l2.l_partkey = p.p_partkey)""".stripMargin)
    }),

    // Q19: the disjunctive-predicate probe — three OR'd brand/size/qty
    // bands. Catalyst extracts the common join key and pushes the
    // residual disjunction below the join; the part-side brand/size
    // disjuncts reach the scan.
    "q19_disjunctive" -> ((s, d) => {
      val band = (b: String, sz: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === b && col("p_size").between(1, sz) &&
          col("l_quantity").between(qLo, qHi)
      Tables(s, d, "lineitem")
        .join(Tables(s, d, "part"), col("p_partkey") === col("l_partkey"))
        // all three brands in the fixture domain (Brand#1..25) so every
        // band is data-exercised — a dead band can't be verified
        .filter(band("Brand#12", 15, 1, 21)
          || band("Brand#23", 25, 10, 30)
          || band("Brand#14", 35, 20, 40))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"))
    }),

    // Q20: potential promotion — IN (grouped-HAVING subquery) nested
    // over IN (part filter), plus the nation IN. Catalyst turns each
    // IN into a semi-join; the HAVING aggregate collapses the fact
    // before any supplier row is touched.
    "q20_potential_promotion" -> ((s, d) => {
      Seq("lineitem", "part", "supplier", "nation").foreach(view(s, d, _))
      s.sql(
        """SELECT s.s_name, ROUND(s.s_acctbal, 2) AS s_acctbal
          |FROM tq_supplier s
          |WHERE s.s_suppkey IN (
          |    SELECT l.l_suppkey FROM tq_lineitem l
          |    WHERE l.l_partkey IN
          |        (SELECT p_partkey FROM tq_part WHERE p_type = 'ECONOMY')
          |      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          |      AND l.l_shipdate < TIMESTAMP '1998-01-01'
          |    GROUP BY l.l_suppkey HAVING SUM(l.l_quantity) > 100)
          |  AND s.s_nationkey IN
          |    (SELECT n_nationkey FROM tq_nation WHERE n_regionkey = 2)
          |ORDER BY s.s_name""".stripMargin)
    }),

    // Q22: global sales opportunity — scalar-AVG threshold (exact
    // decimal sum / count, so the cutoff is bit-identical across
    // engines) + NOT EXISTS anti-join on recent orders. cntrycode =
    // c_nationkey % 10 stands in for the phone prefix.
    "q22_global_sales" -> ((s, d) => {
      Seq("customer", "orders").foreach(view(s, d, _))
      s.sql(
        """WITH eligible AS (
          |  SELECT c_custkey, c_acctbal, c_nationkey % 10 AS cntrycode
          |  FROM tq_customer WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9))
          |SELECT cntrycode, COUNT(*) AS numcust,
          |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS totacctbal
          |FROM eligible e
          |WHERE c_acctbal > (
          |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
          |    FROM eligible WHERE c_acctbal > 0.0)
          |  AND NOT EXISTS (SELECT 1 FROM tq_orders o
          |    WHERE o.o_custkey = e.c_custkey
          |      AND o.o_orderdate >= TIMESTAMP '1999-06-01')
          |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH supply AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    CAST((l_partkey * 31 + l_suppkey * 17) % 10000 AS BIGINT) AS ps_supplycost
        |  FROM lineitem)
        |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
        |       ps.ps_supplycost
        |FROM part p, supply ps, supplier s, nation n
        |WHERE p.p_partkey = ps.ps_partkey AND s.s_suppkey = ps.ps_suppkey
        |  AND s.s_nationkey = n.n_nationkey
        |  AND p.p_size <= 5 AND p.p_type = 'LARGE'
        |  AND ps.ps_supplycost = (
        |    SELECT MIN(ps2.ps_supplycost) FROM supply ps2
        |    WHERE ps2.ps_partkey = p.p_partkey)
        |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        |LIMIT 100""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q8_market_share" ->
      """WITH all_nations AS (
        |  SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
        |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM part p, supplier s, lineitem l, orders o, customer c,
        |       nation n1, nation n2, region r
        |  WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
        |    AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |    AND c.c_nationkey = n1.n_nationkey AND n1.n_regionkey = r.r_regionkey
        |    AND s.s_nationkey = n2.n_nationkey
        |    AND r.r_name = 'AMERICA' AND p.p_type = 'STANDARD')
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
        |FROM all_nations GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q11_important_stock" ->
      """WITH supply_value AS (
        |  SELECT l.l_partkey, CAST(l.l_extendedprice AS DECIMAL(18,6)) AS v
        |  FROM lineitem l, supplier s
        |  WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey IN (1, 2, 3))
        |SELECT l_partkey AS ps_partkey,
        |  ROUND(CAST(SUM(v) AS DOUBLE), 2) AS part_value
        |FROM supply_value
        |GROUP BY l_partkey
        |HAVING SUM(v) * 1000 > (SELECT SUM(v) FROM supply_value)
        |ORDER BY part_value DESC, ps_partkey LIMIT 100""".stripMargin,

    "q12_shipmode" ->
      """SELECT CASE l.l_linenumber % 3 WHEN 0 THEN 'AIR' WHEN 1 THEN 'RAIL'
        |         ELSE 'SHIP' END AS shipmode,
        |  COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
        |  COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
        |FROM orders o, lineitem l
        |WHERE o.o_orderkey = l.l_orderkey
        |  AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
        |  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_customer_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
        |    THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
        |    ELSE 0 END) AS DOUBLE)
        |  / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_revenue
        |FROM lineitem l, part p
        |WHERE l.l_partkey = p.p_partkey
        |  AND l.l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l.l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,

    "q15_top_supplier" ->
      """WITH revenue0 AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name,
        |       ROUND(CAST(r.total_revenue AS DOUBLE), 2) AS total_revenue
        |FROM supplier s, revenue0 r
        |WHERE s.s_suppkey = r.supplier_no
        |  AND r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
        |ORDER BY s.s_suppkey""".stripMargin,

    "q16_supplier_cnt" ->
      """WITH supply AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |  FROM lineitem)
        |SELECT p.p_brand, p.p_type, p.p_size,
        |       COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
        |FROM supply ps, part p
        |WHERE p.p_partkey = ps.ps_partkey
        |  AND p.p_brand <> 'Brand#21' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND ps.ps_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p.p_brand, p.p_type, p.p_size
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin,

    "q17_small_quantity" ->
      """SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |         / 7.0, 4) AS avg_yearly
        |FROM lineitem l, part p
        |WHERE p.p_partkey = l.l_partkey
        |  AND p.p_brand = 'Brand#23' AND p.p_size <= 10
        |  AND 5 * l.l_quantity < (
        |    SELECT SUM(l2.l_quantity) / COUNT(*) FROM lineitem l2
        |    WHERE l2.l_partkey = p.p_partkey)""".stripMargin,

    "q19_disjunctive" ->
      """SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem l, part p
        |WHERE p.p_partkey = l.l_partkey AND (
        |  (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 21)
        |  OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
        |  OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40))""".stripMargin,

    "q20_potential_promotion" ->
      """SELECT s.s_name, ROUND(s.s_acctbal, 2) AS s_acctbal
        |FROM supplier s
        |WHERE s.s_suppkey IN (
        |    SELECT l.l_suppkey FROM lineitem l
        |    WHERE l.l_partkey IN
        |        (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
        |      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        |      AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |    GROUP BY l.l_suppkey HAVING SUM(l.l_quantity) > 100)
        |  AND s.s_nationkey IN
        |    (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        |ORDER BY s.s_name""".stripMargin,

    "q22_global_sales" ->
      """WITH eligible AS (
        |  SELECT c_custkey, c_acctbal, c_nationkey % 10 AS cntrycode
        |  FROM customer WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9))
        |SELECT cntrycode, COUNT(*) AS numcust,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS totacctbal
        |FROM eligible e
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |    FROM eligible WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = e.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '1999-06-01')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin
  )
}
