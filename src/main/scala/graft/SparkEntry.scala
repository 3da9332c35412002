package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator group's queries/oracles. Each group is an
  * object in graft.operators.* / graft.catalog.* / graft.streaming.* /
  * graft.nlp.*; a §2 key is "done" only when it appears in BOTH maps
  * (or in `queries` with ScalaTest-only coverage where DuckDB can't
  * express the op — SURVEY.md §5.2).
  */
object SparkEntry {

  private def groups: Seq[QueryGroup] = Seq(
    sources.Scans,
    operators.Relational,
    operators.Aggregates,
    operators.Windows,
    operators.ScaleOps,
    operators.Analytics,
    operators.TpchQueries,
    operators.TimeSeries,
    operators.FeatureOps,
    functions.ScalarFns,
    functions.Udfs,
    catalog.DdlQueries,
    streaming.StreamOps,
    nlp.TextOps,
    nlp.CorpusOps,
    sim.VectorOps,
    sim.Multimodal)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape *through the session catalog*: lineitem registered as
    * a named table and queried by name — scan → catalog → agg → sort,
    * mirroring the reference's metastore-resolved reads (SURVEY.md §0).
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    Tables(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        | ROUND(SUM(l_quantity), 4)                              AS sum_qty,
        | ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4)    AS sum_disc_price,
        | COUNT(*)                                               AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** One entry per implemented operator from SURVEY.md §2. Each is a
    * [[Query]], so it runs its key with the session's artifact isolation
    * off. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    groups.flatMap(_.oracles).toMap
}
