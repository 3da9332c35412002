package graft.catalog

import graft.{Artifact, QueryGroup, Tables}
import graft.sources.Scans
import graft.catalog.KeyCatalog.keyed
import org.apache.commons.io.FileUtils.deleteQuietly
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SURVEY.md §2 group G — DDL / catalog / metadata transfer, the
  * reference's core [HMS] (README_en.md:3; Thrift metastore at
  * metastore-import.tf:112-117; symmetric clusters :181-278).
  *
  * Every query is self-contained and idempotent: it provisions its own
  * database/tables (dropping stale state AND stale warehouse dirs first
  * — a fresh session's in-memory catalog forgets tables while their
  * directories survive) so Verify can run keys in any order, repeatedly.
  */
object DdlQueries extends QueryGroup {

  /** Drop `db`.`tbl` plus any stale warehouse directory left by a
    * previous session. */
  private def dropTableAndLocation(s: SparkSession, db: String,
      tbl: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS `$db`.`$tbl`")
    val wh = new org.apache.hadoop.fs.Path(
      s.sessionState.conf.warehousePath, s"$db.db/$tbl")
    wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
  }

  private def freshDb(s: SparkSession, db: String): Unit =
    s.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** Published head revision of a snapshot dir (the `HEAD` pointer the
    * writable catalog swaps atomically) — shared by every fixture that
    * asserts revision arithmetic. */
  private def headRevAt(dir: String): Int =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "HEAD").toPath)).trim.split("\\s+")(0).toInt

  /** Stage a deterministic K-class file layout in ONE Spark job
    * (r19 opt, guide §2.6/§6): derive the class, hash-cluster so every
    * class lands whole in one task (⇒ exactly one file per class),
    * write partitioned to a scratch dir, then move the part files flat
    * into `target` with a `c<class>-` name prefix. File CONTENTS match
    * the former one-serial-append-per-class staging (same rows per
    * file, order immaterial to footer stats and scans); the 8×
    * scan+commit+analyze statement overhead does not. */
  private def stageClassFiles(df: org.apache.spark.sql.DataFrame,
      cls: org.apache.spark.sql.Column, nClasses: Int,
      target: String): Unit = {
    val stage = target + "_stage" +
      java.util.UUID.randomUUID.toString.take(8)
    deleteQuietly(new java.io.File(stage))
    // try/finally: a failure in the staged write or the move loop must
    // not leave a UUID-suffixed _stage dir next to the table location
    try {
      df.withColumn("_c", cls)
        .repartition(nClasses, org.apache.spark.sql.functions.col("_c"))
        .write.partitionBy("_c").parquet(stage)
      new java.io.File(target).mkdirs()
      for {
        cd <- Option(new java.io.File(stage).listFiles()).toSeq.flatten
        if cd.isDirectory && cd.getName.startsWith("_c=")
        f <- Option(cd.listFiles()).toSeq.flatten
        if f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")
      } java.nio.file.Files.move(f.toPath,
        new java.io.File(target,
          s"c${cd.getName.stripPrefix("_c=")}-${f.getName}").toPath)
    } finally deleteQuietly(new java.io.File(stage))
  }

  /** Hive partition dir names of the files the EXECUTING scan plans —
    * the partition-pruning evidence hook (the transform keys pin the
    * planned dir set against what the predicate implies). */
  private def plannedPartDirs(
      df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.scan
    }.flatMap(_.toBatch.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources
          .FilePartition =>
        fp.files.map(_.filePath.toString).toSeq
      case _ => Seq.empty[String]
    }).flatMap(p =>
      p.split('/').filter(_.contains("=")).lastOption).toSet

  /** Like [[plannedPartDirs]] but for COMPOSITE transform layouts:
    * the relative CELL path (last `levels` dir components) per planned
    * file. */
  private def plannedCellDirs(df: org.apache.spark.sql.DataFrame,
      levels: Int): Set[String] =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.scan
    }.flatMap(_.toBatch.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources
          .FilePartition =>
        fp.files.map(_.filePath.toString).toSeq
      case _ => Seq.empty[String]
    }).map { p =>
      val comps = p.split('/')
      comps.slice(comps.length - 1 - levels, comps.length - 1)
        .mkString("/")
    }.toSet

  /** Export the fixture catalog to a snapshot, DROP it from the
    * session, and register a read-only [[SnapshotCatalog]] over the
    * snapshot — the "second cluster attaches to the shared metastore"
    * setup shared by every meta_v2_* read key. Returns the name of
    * `meta_v2_catalog`'s read-only [[KeyCatalog]] attach. */
  private def v2SnapshotCatalog(s: SparkSession, d: String): String = {
    fixtureCatalog(s, d)
    val kc = KeyCatalog("meta_v2_catalog", d)
    CatalogTransfer.write(s, CatalogTransfer.export(s, Seq("graft_meta")),
      kc.dir)
    s.sql("DROP DATABASE graft_meta CASCADE") // gone from the session
    kc.readOnly(s)
  }

  val queries: Map[String, Q] = Map(
    "ddl_create_database" -> ((s, _) => {
      s.sql("DROP DATABASE IF EXISTS graft_ddl_db CASCADE")
      s.sql("CREATE DATABASE graft_ddl_db COMMENT 'graft ddl probe'")
      s.sql("SHOW DATABASES")
        .filter(col("namespace") === "graft_ddl_db")
    }),

    // the tutorial's create-on-source step: external table over existing
    // parquet, schema inferred from the files, data never copied.
    "ddl_create_external_table" -> ((s, d) => {
      freshDb(s, "graft_ext")
      s.sql("DROP TABLE IF EXISTS graft_ext.lineitem_ext")
      s.sql(s"""CREATE TABLE graft_ext.lineitem_ext
               |USING parquet LOCATION '$d/lineitem.parquet'""".stripMargin)
      s.table("graft_ext.lineitem_ext")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "ddl_ctas_insert" -> ((s, d) => {
      freshDb(s, "graft_ext")
      Tables(s, d, "orders").createOrReplaceTempView("orders_src")
      dropTableAndLocation(s, "graft_ext", "status_agg")
      s.sql(
        """CREATE TABLE graft_ext.status_agg USING parquet AS
          |SELECT o_orderstatus, COUNT(*) AS n_orders,
          |       ROUND(SUM(o_totalprice), 4) AS sum_price
          |FROM orders_src WHERE o_orderstatus = 'F'
          |GROUP BY o_orderstatus""".stripMargin)
      s.sql(
        """INSERT INTO graft_ext.status_agg
          |SELECT o_orderstatus, COUNT(*), ROUND(SUM(o_totalprice), 4)
          |FROM orders_src WHERE o_orderstatus <> 'F'
          |GROUP BY o_orderstatus""".stripMargin)
      s.table("graft_ext.status_agg").orderBy("o_orderstatus")
    }),

    "ddl_describe_show" -> ((s, d) => {
      freshDb(s, "graft_ext")
      s.sql("DROP TABLE IF EXISTS graft_ext.nation_desc")
      s.sql("CREATE TABLE graft_ext.nation_desc " + Tables.ddl(s, d, "nation"))
      val described = s.sql("DESCRIBE TABLE graft_ext.nation_desc")
        .select(col("col_name"), col("data_type"))
      val shown = s.sql("SHOW TABLES IN graft_ext")
        .filter(col("tableName") === "nation_desc")
        .select(col("tableName").as("col_name"),
          lit("<table>").as("data_type"))
      described.unionAll(shown).orderBy("col_name")
    }),

    "ddl_alter_drop" -> ((s, d) => {
      import s.implicits._
      freshDb(s, "graft_ext")
      s.sql("DROP TABLE IF EXISTS graft_ext.alter_probe")
      s.sql("CREATE TABLE graft_ext.alter_probe " + Tables.ddl(s, d, "region"))
      s.sql("""ALTER TABLE graft_ext.alter_probe
              |SET TBLPROPERTIES ('graft.note' = 'v1')""".stripMargin)
      val note = s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          "alter_probe", Some("graft_ext")))
        .properties.getOrElse("graft.note", "<missing>")
      s.sql("DROP TABLE graft_ext.alter_probe")
      val dropped = !s.catalog.tableExists("graft_ext.alter_probe")
      Seq(("graft.note", note), ("dropped", dropped.toString))
        .toDF("key", "value").orderBy("key")
    }),

    // views: logical tables whose definition (not data) lives in the
    // catalog — first-class HMS objects.
    "ddl_view" -> ((s, d) => {
      freshDb(s, "graft_ext")
      s.sql("DROP VIEW IF EXISTS graft_ext.spend_view")
      s.sql("DROP TABLE IF EXISTS graft_ext.orders_ext")
      s.sql("CREATE TABLE graft_ext.orders_ext " + Tables.ddl(s, d, "orders"))
      // permanent views may only reference permanent catalog objects
      s.sql(
        """CREATE VIEW graft_ext.spend_view AS
          |SELECT o_orderstatus, COUNT(*) AS n_orders,
          |       ROUND(SUM(o_totalprice), 4) AS sum_price
          |FROM graft_ext.orders_ext GROUP BY o_orderstatus""".stripMargin)
      s.table("graft_ext.spend_view").orderBy("o_orderstatus")
    }),

    // explicit partition management: ADD/DROP PARTITION with locations —
    // the metastore's bread-and-butter objects (SHOW PARTITIONS view).
    "ddl_partition_mgmt" -> ((s, d) => {
      freshDb(s, "graft_ext")
      val abs = Scans.lineitemByFlagDir(s, d)
      s.sql("DROP TABLE IF EXISTS graft_ext.li_pm")
      s.sql(CatalogTransfer.externalPartitionedDdl(s,
        "graft_ext.li_pm", abs, Seq("l_returnflag")))
      // manage partitions explicitly instead of bulk recovery
      s.sql(s"""ALTER TABLE graft_ext.li_pm ADD IF NOT EXISTS
               |PARTITION (l_returnflag='A') LOCATION '$abs/l_returnflag=A'
               |PARTITION (l_returnflag='N') LOCATION '$abs/l_returnflag=N'
               |PARTITION (l_returnflag='R') LOCATION '$abs/l_returnflag=R'""".stripMargin)
      s.sql("ALTER TABLE graft_ext.li_pm DROP IF EXISTS PARTITION (l_returnflag='N')")
      // rows visible = exactly the two remaining partitions
      s.table("graft_ext.li_pm")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // ANALYZE: statistics recorded in the catalog (what CBO reads; in
    // the reference these live in HMS table parameters).
    "ddl_analyze_stats" -> ((s, d) => {
      import s.implicits._
      freshDb(s, "graft_ext")
      s.sql("DROP TABLE IF EXISTS graft_ext.nation_stats")
      s.sql("CREATE TABLE graft_ext.nation_stats " + Tables.ddl(s, d, "nation"))
      s.sql("ANALYZE TABLE graft_ext.nation_stats COMPUTE STATISTICS")
      val stats = s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          "nation_stats", Some("graft_ext")))
        .stats
      Seq(("row_count", stats.flatMap(_.rowCount).map(_.toString)
          .getOrElse("<none>")),
        ("has_size", stats.nonEmpty.toString))
        .toDF("stat", "value").orderBy("stat")
    }),

    // COMMENT ON + TBLPROPERTIES — the documentation half of the
    // metastore surface (HMS's parameters map is how every governance
    // tool annotates tables: owners, SLAs, PII flags). The key sets a
    // table comment and two properties, updates one (last-write-wins),
    // and reads all three back through the CATALOG interface — the
    // round-trip a metadata sync has to preserve. Report rows are
    // engine-derived; the oracle declares the contracted outcome.
    "ddl_comment_props" -> ((s, d) => {
      import s.implicits._
      freshDb(s, "graft_ext")
      s.sql("DROP TABLE IF EXISTS graft_ext.region_doc")
      s.sql("CREATE TABLE graft_ext.region_doc " + Tables.ddl(s, d, "region"))
      s.sql("COMMENT ON TABLE graft_ext.region_doc IS 'regions dim'")
      s.sql("""ALTER TABLE graft_ext.region_doc SET TBLPROPERTIES (
              |  'graft.owner' = 'pipeline', 'graft.sla' = 'daily')"""
        .stripMargin)
      s.sql("""ALTER TABLE graft_ext.region_doc SET TBLPROPERTIES (
              |  'graft.sla' = 'hourly')""".stripMargin) // last write wins
      val meta = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          "region_doc", Some("graft_ext")))
      Seq(
        ("comment", meta.comment.getOrElse("<none>")),
        ("graft.owner", meta.properties.getOrElse("graft.owner", "<none>")),
        ("graft.sla", meta.properties.getOrElse("graft.sla", "<none>")))
        .toDF("key", "value").orderBy("key")
    }),

    "meta_export" -> ((s, d) => {
      import s.implicits._
      fixtureCatalog(s, d)
      val snap = CatalogTransfer.export(s, Seq("graft_meta"))
      s.createDataset(snap.tables)
        .select(col("db"), col("name"), col("tableType"), col("provider"),
          size(col("columns")).as("n_columns"))
        .orderBy("db", "name")
    }),

    // export → destroy → import, then read CONTENT back through the
    // re-imported catalog: the partitioned table's per-partition
    // rollup (every recovered partition must serve its rows — a
    // missing ADD PARTITION would drop a whole l_returnflag group)
    // joined with the plain table's count. The oracle computes the
    // same rollup straight off the source parquet — the import must
    // be lossless. The recreated-table NAME list (the old ScalaTest
    // shape) stays asserted in CatalogSpec's importInto coverage.
    "meta_import" -> ((s, d) => {
      fixtureCatalog(s, d)
      val dir = Tables.scratch(d, "meta_import_snapshot")
      CatalogTransfer.write(s, CatalogTransfer.export(s, Seq("graft_meta")), dir)
      s.sql("DROP DATABASE graft_meta CASCADE") // the "cluster destroyed"
      val created =
        CatalogTransfer.importInto(s, CatalogTransfer.read(s, dir))
      require(created.nonEmpty, "import recreated no tables")
      s.table("graft_meta.lineitem_part")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          round(sum("l_quantity"), 4).as("sum_qty"))
        .crossJoin(broadcast(s.table("graft_meta.nation_meta")
          .agg(count(lit(1)).as("n_nations"))))
        .orderBy("l_returnflag")
    }),

    // SHOW CREATE TABLE: the engine's own DDL rendering of a registered
    // table — the per-table manual counterpart of meta_ddl_script's
    // snapshot-derived script. The raw statement carries a
    // machine-specific LOCATION clause, so the ORACLED output is the
    // statement parsed into its engine-independent structure: one
    // (col_name, data_type) row per rendered column definition plus the
    // provider — checkable against DuckDB's DESCRIBE of the same
    // parquet (type names dialect-normalized oracle-side, as
    // ddl_describe_show does). CatalogSpec still asserts the raw
    // statement shape (CREATE TABLE / USING / LOCATION) directly.
    // Parsing is LINE-scoped (the renderer emits one column per line
    // inside the paren block): a first-paren-group + comma split would
    // silently truncate at the ')' of a decimal(10,2) and mis-split on
    // commas inside parameterized types or COMMENT clauses.
    "ddl_show_create" -> ((s, d) => {
      fixtureCatalog(s, d)
      val stmt = s.sql("SHOW CREATE TABLE graft_meta.nation_meta")
      val coldefs = stmt
        .select(explode(split(regexp_extract(col("createtab_stmt"),
          "(?s)\\(\\n(.*)\\)\\nUSING", 1), "\n")).as("line"))
        .select(regexp_replace(trim(col("line")), ",\\s*$", "")
          .as("coldef"))
        .select(
          regexp_replace(split(col("coldef"), " ").getItem(0), "`", "")
            .as("col_name"),
          lower(split(col("coldef"), " ").getItem(1)).as("data_type"))
      coldefs.unionAll(stmt.select(
          lit("<provider>").as("col_name"),
          lower(regexp_extract(col("createtab_stmt"), "USING (\\w+)", 1))
            .as("data_type")))
        .orderBy("col_name")
    }),

    // dry-run migration script: the ordered DDL an import WOULD execute,
    // as reviewable rows — the pre-flight artifact an operator diffs
    // before pointing a real import at a production metastore.
    // ORACLED as of r14 the ddl_show_create way: the key PARSES its own
    // generated script text into normalized (object, kind, col_name,
    // data_type) rows — columns/types per CREATE TABLE, provider,
    // PARTITIONED BY column, one row per ADD PARTITION spec, the
    // database — and DuckDB recomputes the same rows from the raw
    // files. Locations stay out (machine-dependent, SURVEY §5.2); the
    // full TEXT stays pinned by GoldenSnapshotSpec and executed back to
    // a drift-free catalog by CatalogSpec, both via [[ddlScript]]. A
    // wrong type, a lost column, a dropped partition spec, or a broken
    // PARTITIONED BY clause in the emitted DDL now fails the hash
    // compare, not just the golden diff.
    "meta_ddl_script" -> ((s, d) => {
      val base = ddlScript(s, d).select(col("object"), col("ddl"))
      val dbRows = base.filter(col("ddl").startsWith("CREATE DATABASE"))
        .select(col("object"), lit("database").as("kind"),
          regexp_extract(col("ddl"), "`([^`]+)`", 1).as("col_name"),
          lit("").as("data_type"))
      val creates = base.filter(col("ddl").startsWith("CREATE TABLE"))
      val colRows = creates
        .select(col("object"), explode(split(
          regexp_extract(col("ddl"), "\\((.+?)\\) USING", 1), ", "))
          .as("coldef"))
        .select(col("object"), lit("column").as("kind"),
          regexp_replace(split(col("coldef"), " ").getItem(0), "`", "")
            .as("col_name"),
          lower(split(col("coldef"), " ").getItem(1)).as("data_type"))
      val provRows = creates.select(col("object"),
        lit("provider").as("kind"), lit("<provider>").as("col_name"),
        lower(regexp_extract(col("ddl"), "USING (\\w+)", 1))
          .as("data_type"))
      val pbyRows = creates.filter(col("ddl").contains("PARTITIONED BY"))
        .select(col("object"), lit("partitioned_by").as("kind"),
          regexp_replace(regexp_extract(col("ddl"),
            "PARTITIONED BY \\(([^)]*)\\)", 1), "`", "").as("col_name"),
          lit("").as("data_type"))
      val partRows = base
        .filter(col("ddl").contains("ADD IF NOT EXISTS"))
        .select(regexp_replace(col("object"), "#part\\d+$", "")
            .as("object"),
          explode(regexp_extract_all(col("ddl"),
            lit("PARTITION \\(([^)]*)\\)"), lit(1))).as("spec"))
        .select(col("object"), lit("partition").as("kind"),
          regexp_replace(regexp_replace(col("spec"), "[`']", ""),
            " = ", "=").as("col_name"),
          lit("").as("data_type"))
      dbRows.unionAll(colRows).unionAll(provRows).unionAll(pbyRows)
        .unionAll(partRows)
        .orderBy("object", "kind", "col_name", "data_type")
    }),

    // catalog drift report: what changed between two exports — the
    // operational pre-flight check of a metadata migration (a faithful
    // import shows an empty diff; see CatalogSpec). Constructs a drift
    // scenario: one property change, one dropped table.
    "meta_diff" -> ((s, d) => {
      fixtureCatalog(s, d)
      val src = CatalogTransfer.export(s, Seq("graft_meta"))
      s.sql("""ALTER TABLE graft_meta.nation_meta
              |SET TBLPROPERTIES ('graft.drift' = 'v2')""".stripMargin)
      s.sql("DROP TABLE graft_meta.lineitem_part")
      val tgt = CatalogTransfer.export(s, Seq("graft_meta"))
      CatalogTransfer.diff(s, src, tgt)
    }),

    // the APPLY leg of meta_diff (r13): the operational form of the
    // reference's migration loop — re-running a full import is the
    // naive path; this computes the source→target drift and re-emits
    // ONLY the drifted objects' DDL. The catalog is drifted all three
    // ways (property alter, table drop, extra table), synced, and the
    // lambda REQUIREs the action report is exactly {recreate, create,
    // drop} and the post-sync diff is EMPTY. The served rows come from
    // the re-created table, so the oracle also proves the restored
    // metadata resolves to identical data.
    "meta_sync_apply" -> ((s, d) => {
      s.sql("DROP DATABASE IF EXISTS graft_sync CASCADE")
      s.sql("CREATE DATABASE graft_sync")
      s.sql("CREATE TABLE graft_sync.nation_s " + Tables.ddl(s, d, "nation"))
      s.sql("CREATE TABLE graft_sync.region_s " + Tables.ddl(s, d, "region"))
      s.sql("""ALTER TABLE graft_sync.nation_s
              |SET TBLPROPERTIES ('graft.rev' = 'v1')""".stripMargin)
      val src = CatalogTransfer.export(s, Seq("graft_sync"))
      // drift the live catalog three ways
      s.sql("""ALTER TABLE graft_sync.nation_s
              |SET TBLPROPERTIES ('graft.rev' = 'v2-drifted')""".stripMargin)
      s.sql("DROP TABLE graft_sync.region_s")
      s.sql("CREATE TABLE graft_sync.extra_t " + Tables.ddl(s, d, "supplier"))
      val actions = CatalogTransfer.syncApply(s, src, Seq("graft_sync"))
      require(actions == Seq(
        ("table", "graft_sync.extra_t", "drop"),
        ("table", "graft_sync.nation_s", "recreate"),
        ("table", "graft_sync.region_s", "create")),
        s"unexpected sync actions: $actions")
      require(CatalogTransfer.diff(s, src,
          CatalogTransfer.export(s, Seq("graft_sync"))).isEmpty,
        "drift survived an incremental sync")
      s.table("graft_sync.region_s")
        .select(col("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")
    }),

    // the reference's flagship scenario end-to-end: table created on the
    // "source", metadata exported, catalog destroyed, metadata imported,
    // SELECT by name works and data is intact (files never moved).
    "meta_roundtrip" -> ((s, d) => {
      s.sql("DROP DATABASE IF EXISTS graft_src CASCADE")
      s.sql("CREATE DATABASE graft_src")
      s.sql("CREATE TABLE graft_src.nation_rt " + Tables.ddl(s, d, "nation"))
      val dir = Tables.scratch(d, "meta_roundtrip_snapshot")
      CatalogTransfer.write(s, CatalogTransfer.export(s, Seq("graft_src")), dir)
      s.sql("DROP DATABASE graft_src CASCADE")
      CatalogTransfer.importInto(s, CatalogTransfer.read(s, dir))
      s.table("graft_src.nation_rt")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // ANALYZE statistics survive the migration (r14): the default
    // snapshot deliberately scrubs spark.sql.statistics.* / numrows as
    // volatile bookkeeping, which leaves a migrated warehouse with a
    // BLIND CBO until someone re-ANALYZEs 100 TB — the one HMS object
    // family that didn't survive the reference's cluster→cluster loop
    // (README_en.md:3; the Thrift metastore service,
    // metastore-import.tf:112-117). export(withStats = true) carries
    // the typed CatalogStatistics (rowCount, sizeInBytes, per-column
    // min/max/nullCount/NDV) through the snapshot; importInto rebuilds
    // them through the same catalog API ANALYZE commits through. The
    // report reads ONLY the migrated catalog — no re-ANALYZE, no data
    // scan; the oracle recomputes the truth from the files, so a lossy
    // transfer (or a stale source stat) fails the hash compare.
    // CatalogSpec adds the planner half: the target session's CBO
    // reorders the star join identically without re-running ANALYZE.
    "meta_stats_transfer" -> ((s, d) => {
      import s.implicits._
      s.sql("DROP DATABASE IF EXISTS graft_stx CASCADE")
      s.sql("CREATE DATABASE graft_stx")
      s.sql("CREATE TABLE graft_stx.orders_st " + Tables.ddl(s, d, "orders"))
      s.sql("ANALYZE TABLE graft_stx.orders_st COMPUTE STATISTICS " +
        "FOR COLUMNS o_custkey")
      val dir = Tables.scratch(d, "meta_stats_snapshot")
      CatalogTransfer.write(s,
        CatalogTransfer.export(s, Seq("graft_stx"), withStats = true), dir)
      s.sql("DROP DATABASE graft_stx CASCADE") // the "cluster destroyed"
      CatalogTransfer.importInto(s, CatalogTransfer.read(s, dir))
      val st = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          "orders_st", Some("graft_stx"))).stats
        .getOrElse(sys.error("migrated table lost its ANALYZE statistics"))
      val ck = st.colStats.getOrElse("o_custkey",
        sys.error("migrated table lost its o_custkey column statistics"))
      Seq(
        ("row_count", st.rowCount
          .getOrElse(sys.error("no rowCount survived")).toString),
        ("o_custkey_min", ck.min.getOrElse(sys.error("no min survived"))),
        ("o_custkey_max", ck.max.getOrElse(sys.error("no max survived"))),
        ("o_custkey_nulls", ck.nullCount
          .getOrElse(sys.error("no nullCount survived")).toString))
        .toDF("stat", "value").orderBy("stat")
    }),

    // PARTITION-level statistics survive the migration (r14, the
    // second stats leg): partitions are first-class HMS objects with
    // their own parameters — ANALYZE ... PARTITION(...) stats live on
    // the partition, not the table, and a migration that drops them
    // leaves partition-pruned plans costed blind even after
    // meta_stats_transfer restored the table totals. The snapshot's
    // partition rows now carry the same flat stats rendering; import
    // rides them through the same bulk createPartitions call that
    // restores the layout (no extra RPCs). The report reads ONLY the
    // migrated catalog's per-partition rowCounts; the oracle recomputes
    // the per-partition truth from the files.
    "meta_stats_partition" -> ((s, d) => {
      import s.implicits._
      s.sql("DROP DATABASE IF EXISTS graft_stp CASCADE")
      s.sql("CREATE DATABASE graft_stp")
      s.sql(CatalogTransfer.externalPartitionedDdl(s,
        "graft_stp.li_sp", Scans.lineitemByFlagDir(s, d), Seq("l_returnflag")))
      s.catalog.recoverPartitions("graft_stp.li_sp")
      for (f <- Seq("A", "N", "R"))
        s.sql(s"ANALYZE TABLE graft_stp.li_sp " +
          s"PARTITION (l_returnflag='$f') COMPUTE STATISTICS")
      val dir = Tables.scratch(d, "meta_stats_part_snapshot")
      CatalogTransfer.write(s,
        CatalogTransfer.export(s, Seq("graft_stp"), withStats = true), dir)
      s.sql("DROP DATABASE graft_stp CASCADE") // the "cluster destroyed"
      CatalogTransfer.importInto(s, CatalogTransfer.read(s, dir))
      val parts = s.sessionState.catalog.listPartitions(
        org.apache.spark.sql.catalyst.TableIdentifier(
          "li_sp", Some("graft_stp")))
      parts.map(p => (
          p.spec.getOrElse("l_returnflag",
            sys.error(s"unexpected partition spec: ${p.spec}")),
          p.stats.flatMap(_.rowCount)
            .getOrElse(sys.error(
              s"partition ${p.spec} lost its ANALYZE rowCount")).toLong))
        .toDF("l_returnflag", "n_rows")
        .orderBy("l_returnflag")
    }),

    // EQUI-HEIGHT HISTOGRAMS survive the migration (r15, the third
    // stats leg): with `spark.sql.statistics.histogram.enabled`,
    // ANALYZE adds a per-column histogram to CatalogColumnStat — the
    // one remaining ANALYZE artifact a migrated CBO could still lose
    // (selectivity on skewed data comes from the histogram; min/max
    // interpolation assumes uniformity). It rides the SAME wire form as
    // the other column stats (CatalogColumnStat.toMap serializes the
    // bins; fromMap rebuilds them), so export(withStats)/importInto
    // carry it with zero new machinery — this key PROVES that by
    // reading the bins ONLY from the migrated catalog. The oracle
    // recomputes the equi-height truth from the raw files: l_quantity
    // is a small discrete domain with ~n/50-row runs per value, and
    // numBins is SEVEN, not eight, deliberately — no k/7 quantile lands
    // on a 50-value run edge (closest approach 0.00286·n ≈ 29× the
    // sketch's n/10⁴ rank error at every SF), so every endpoint is the
    // exact quantile_disc value regardless of sketch merge order; an
    // 8-bin histogram puts bin 4 EXACTLY on the 25|26 edge (50·4/8) and
    // flips between runs. Per-bin NDV at ≤8 distinct values sits in the
    // HLL++ exact range. CatalogSpec adds the plan-choice proof: the
    // migrated histogram flips a skewed-filter join from sort-merge to
    // broadcast.
    "meta_stats_histogram" -> ((s, d) => {
      import s.implicits._
      s.sql("DROP DATABASE IF EXISTS graft_sth CASCADE")
      s.sql("CREATE DATABASE graft_sth")
      s.sql("CREATE TABLE graft_sth.li_h " + Tables.ddl(s, d, "lineitem"))
      graft.operators.ScaleOps.withConfs(s, Seq(
        "spark.sql.statistics.histogram.enabled" -> "true",
        "spark.sql.statistics.histogram.numBins" -> "7")) {
        s.sql("ANALYZE TABLE graft_sth.li_h COMPUTE STATISTICS " +
          "FOR COLUMNS l_quantity")
      }
      val dir = Tables.scratch(d, "meta_stats_hist_snapshot")
      CatalogTransfer.write(s,
        CatalogTransfer.export(s, Seq("graft_sth"), withStats = true), dir)
      s.sql("DROP DATABASE graft_sth CASCADE") // the "cluster destroyed"
      CatalogTransfer.importInto(s, CatalogTransfer.read(s, dir))
      val cs = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          "li_h", Some("graft_sth"))).stats
        .getOrElse(sys.error("migrated table lost its ANALYZE statistics"))
        .colStats.getOrElse("l_quantity",
          sys.error("migrated table lost its l_quantity column statistics"))
      val h = cs.histogram.getOrElse(
        sys.error("migrated table lost its equi-height histogram"))
      h.bins.toSeq.zipWithIndex.map { case (b, i) =>
        (i, math.rint(b.lo * 10000) / 10000,
          math.rint(b.hi * 10000) / 10000, b.ndv,
          math.rint(h.height * 10000) / 10000)
      }.toDF("bin", "lo", "hi", "ndv", "height").orderBy("bin")
    }),

    // Cross-namespace migration: the target cluster wants a DIFFERENT
    // database name and the data files moved — the remap transform
    // renames graft_mig → graft_mig_prod (including the view's
    // qualified self-reference) and prefix-rewrites every location to
    // the relocated copy. Queried by the NEW name against the NEW
    // location; the view must re-resolve inside the renamed db. The
    // oracle selects the source parquet — relocation must be lossless.
    "meta_import_remap" -> ((s, d) => {
      // relocate a copy of region.parquet (file copy, not engine
      // rewrite: a migration moves bytes, the snapshot moves metadata)
      val reloc = remapReloc.get(d) { out =>
        val dst = new java.io.File(out, "region.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.copy(new java.io.File(s"$d/region.parquet").toPath,
          dst.toPath)
      }
      s.sql("DROP DATABASE IF EXISTS graft_mig CASCADE")
      s.sql("DROP DATABASE IF EXISTS graft_mig_prod CASCADE")
      s.sql("CREATE DATABASE graft_mig")
      s.sql("CREATE TABLE graft_mig.region_m " + Tables.ddl(s, d, "region"))
      s.sql("""CREATE VIEW graft_mig.region_v AS
              |SELECT r_regionkey, r_name FROM graft_mig.region_m""".stripMargin)
      val snap = CatalogTransfer.export(s, Seq("graft_mig"))
      s.sql("DROP DATABASE graft_mig CASCADE")
      // the exported location is a file:// URI, not the plain path the
      // table was created with — derive the rewrite rule FROM the
      // snapshot so it matches what remap actually sees
      val origLoc = snap.tables.find(_.name == "region_m").get.location
      require(origLoc.nonEmpty, "exported table carries no location")
      val newLoc = "file://" + new java.io.File(reloc, "region.parquet")
        .getAbsolutePath
      val remapped = CatalogTransfer.remap(snap,
        dbRenames = Map("graft_mig" -> "graft_mig_prod"),
        locationRewrites = Seq(origLoc -> newLoc))
      CatalogTransfer.importInto(s, remapped)
      // fail loudly if the location rewrite did not actually fire —
      // the original file survives the DROP, so the data diff alone
      // cannot distinguish "relocated" from "still reading the source"
      val landed = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          "region_m", Some("graft_mig_prod"))).location.toString
      require(landed.stripSuffix("/") == newLoc.stripSuffix("/")
          || landed.stripSuffix("/") == newLoc.replace("file://", "file:")
            .stripSuffix("/"),
        s"import kept the source location: $landed (wanted $newLoc)")
      s.table("graft_mig_prod.region_v").orderBy("r_regionkey")
    }),

    // Post-migration validation — the report every real metastore
    // migration runs before cutover: export → rename-import into the
    // target namespace, then per table (a) assert schema fidelity
    // loudly (a drifted schema must abort, not score), and (b) emit
    // source-vs-target row counts with a match flag. Counts come from
    // one agg per side; at 100 TB the count jobs are metadata-only
    // for parquet (footer row counts), so the report costs no data
    // scan. The oracle pins the source counts — the diff proves the
    // migrated tables read the same rows.
    "meta_validate" -> ((s, d) => {
      val tables = Seq("nation", "region", "supplier")
      s.sql("DROP DATABASE IF EXISTS graft_val CASCADE")
      s.sql("DROP DATABASE IF EXISTS graft_val_tgt CASCADE")
      s.sql("CREATE DATABASE graft_val")
      tables.foreach(t =>
        s.sql(s"CREATE TABLE graft_val.${t}_src " + Tables.ddl(s, d, t)))
      val snap = CatalogTransfer.export(s, Seq("graft_val"))
      CatalogTransfer.importInto(s, CatalogTransfer.remap(snap,
        dbRenames = Map("graft_val" -> "graft_val_tgt"),
        locationRewrites = Nil))
      tables.foreach { t =>
        val a = s.table(s"graft_val.${t}_src").schema
        val b = s.table(s"graft_val_tgt.${t}_src").schema
        require(a == b, s"schema drift for $t: $a vs $b")
      }
      tables.map { t =>
        val src = Tables(s, d, t).agg(count(lit(1)).as("n_src"))
        val tgt = s.table(s"graft_val_tgt.${t}_src")
          .agg(count(lit(1)).as("n_tgt"))
        src.crossJoin(tgt).select(lit(t).as("table_name"),
          col("n_src"), col("n_tgt"),
          (col("n_src") === col("n_tgt")).cast("int").as("rows_match"))
      }.reduce(_.unionAll(_)).orderBy("table_name")
    }),

    // the same scenario against a REAL Hive metastore (embedded Derby —
    // the local stand-in for the reference's managed HMS). The catalog
    // implementation is fixed per SparkContext, so the Hive session runs
    // in its own JVM: HiveRoundtrip creates datasource + Hive-SerDe
    // tables, exports, drops the database from HMS, imports, asserts
    // fidelity, and dumps the round-tripped table as parquet for the
    // oracle diff. The dump is an artefact: the subprocess runs once per
    // fixture, later invocations just read it.
    "meta_hive_roundtrip" -> ((s, d) => {
      s.read.parquet(forkedBuild(hiveRoundtripOut,
        "graft.catalog.HiveRoundtrip", d)).orderBy("n_nationkey")
    }),

    // HMS-side partition pruning PROVEN on the real Hive path (r13):
    // the subprocess lays orders out as a Hive-partitioned external
    // table in an embedded-Derby HMS, scans with a partition predicate,
    // and REQUIREs (a) the metastore client returned exactly the 2
    // matching partition objects (HiveCatalogMetrics counter — the
    // get_partitions_by_filter analog of metastore-import.tf:112-117),
    // (b) the scan read only those directories, (c) the
    // pruning-disabled control fetched ALL partitions. The oracled
    // result is the pruned aggregate itself, so a wrong-partition scan
    // fails the DuckDB diff too. Subprocess JVM for the same
    // fixed-catalog reason as meta_hive_roundtrip; an artefact as well.
    "meta_hive_partition_prune" -> ((s, d) => {
      s.read.parquet(forkedBuild(hivePpruneOut,
        "graft.catalog.HivePartitionPrune", d)).orderBy("o_year")
    }),

    // the reference's ACTUAL transport: the same export→drop→import
    // scenario with the metastore reached over a real Thrift SOCKET
    // (HiveMetaStore server thread + a hive.metastore.uris session —
    // the managed-HMS boundary at metastore-import.tf:112-117), not an
    // embedded direct-JDBC catalog. Subprocess JVM for the same
    // fixed-catalog reason as meta_hive_roundtrip; an artefact as well.
    "meta_thrift_roundtrip" -> ((s, d) => {
      s.read.parquet(forkedBuild(thriftRoundtripOut,
        "graft.catalog.ThriftRoundtrip", d)).orderBy("n_nationkey")
    }),

    // the shared-metastore semantics LIVE: export the fixture catalog,
    // DROP it, and resolve tables through the [[SnapshotCatalog]] V2
    // plugin by `<catalog>.<db>.<table>` name — zero DDL re-emission,
    // the "second cluster attaches to the shared catalog" rendering
    // (metastore-import.tf:181-278) next to importInto's re-creation
    // rendering. The query reads the PARTITIONED table with a
    // partition-column filter (pruning runs in the stock DSv2 file
    // scan — asserted in CatalogSpec) and the plain table, both
    // resolved purely from the snapshot. Catalog name is keyed by the
    // fixture dir: Spark caches plugin instances per name, and each
    // fixture's snapshot is a different catalog.
    "meta_v2_catalog" -> ((s, d) => {
      val cat = v2SnapshotCatalog(s, d)
      val li = s.table(s"$cat.graft_meta.lineitem_part")
        .filter(col("l_returnflag") === "R")
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_quantity"), 4).as("sum_qty"))
      val n = s.table(s"$cat.graft_meta.nation_meta")
        .agg(count(lit(1)).as("n_nations"))
      li.crossJoin(broadcast(n)).orderBy("l_linestatus")
    }),

    // the V2 catalog WRITE path — the full shared-metastore loop the
    // reference's live HMS provides (README_en.md:3: create on one
    // cluster, SELECT by name on another): a writer session registers
    // a [[WritableSnapshotCatalog]] over an empty snapshot, CREATEs a
    // namespace + table and INSERTs into it (data flows through the
    // stock DSv2 parquet write builder — executor-parallel, the
    // catalog only persists metadata), then a SECOND catalog — the
    // read-only [[SnapshotCatalog]] attached to the same directory,
    // standing in for the other cluster — resolves the new table by
    // name with zero DDL re-emission. CatalogSpec covers the rest of
    // the mutation surface (drop semantics, namespace lifecycle,
    // overwrite, cross-instance visibility).
    keyed("meta_v2_write") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.nation_w")
      s.sql(s"""CREATE TABLE $cat.corp.nation_w
               |(n_nationkey INT, n_name STRING, n_regionkey INT)
               |USING parquet""".stripMargin)
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_w")
      s.sql(s"""INSERT INTO $cat.corp.nation_w
               |SELECT n_nationkey, n_name, n_regionkey
               |FROM nation_src_w""".stripMargin)
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.nation_w").orderBy("n_nationkey")
    },

    // CHECK CONSTRAINTS through the V2 catalog (SQL:2023 / Spark 4.1
    // connector constraints API): `ALTER TABLE ... ADD CONSTRAINT ...
    // CHECK (...)` persists the predicate as one metadata revision;
    // the serving table surfaces it via Table.constraints() and STOCK
    // Spark compiles it into every subsequent V2 write
    // (ResolveTableConstraints → CheckInvariant — runtime enforcement
    // with zero graft execution code). The key proves the full
    // lifecycle: constrained inserts land, a VIOLATING insert fails
    // loudly AND leaves no partial files (the DSv2 write abort), and
    // the final content — served through a second read-only attach —
    // is exactly the admitted rows. At 100 TB the check rides each
    // write task (scan-shaped, no extra pass); ALTER-time validation
    // of existing data is the engine's job, not the catalog's.
    keyed("meta_v2_constraint") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.orders_ck")
      s.sql(s"""CREATE TABLE $cat.corp.orders_ck
               |(o_orderkey BIGINT, o_totalprice DOUBLE,
               | o_orderstatus STRING) USING parquet""".stripMargin)
      s.sql(s"""ALTER TABLE $cat.corp.orders_ck ADD CONSTRAINT
               |positive_price CHECK (o_totalprice > 0)""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_ck")
      s.sql(s"""INSERT INTO $cat.corp.orders_ck
               |SELECT o_orderkey, o_totalprice, o_orderstatus
               |FROM orders_src_ck WHERE o_orderkey <= 2000""".stripMargin)
      val violated =
        try {
          s.sql(s"""INSERT INTO $cat.corp.orders_ck
                   |VALUES (-1L, -5.0D, 'X')""".stripMargin)
          false
        } catch { case _: Throwable => true }
      require(violated,
        "CHECK constraint did not reject the violating insert")
      val cat2 = kc.readOnly(s)
      s.sql(
        s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
           |  ROUND(SUM(o_totalprice), 4) AS sum_price,
           |  ROUND(MIN(o_totalprice), 4) AS min_price
           |FROM $cat2.corp.orders_ck
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // COLUMN DEFAULT VALUES through the V2 catalog (the
    // SUPPORT_COLUMN_DEFAULT_VALUE surface): defaults are catalog
    // metadata exactly like HMS column comments — declared at CREATE,
    // persisted as a revision, and consulted by the ANALYZER (not the
    // storage) whenever an INSERT omits the column or says DEFAULT
    // explicitly. The key writes three shapes (full row, by-name
    // partial insert, explicit DEFAULT keyword), reads back through a
    // second read-only attach — which must serve the same metadata for
    // the defaults to survive the cluster boundary — and refuses the
    // retroactive form (ADD COLUMN ... DEFAULT) loudly because parquet
    // would read NULL where the metadata promises a value.
    keyed("meta_v2_column_default") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.orders_dft")
      s.sql(s"""CREATE TABLE $cat.corp.orders_dft
               |(o_orderkey BIGINT,
               | status STRING DEFAULT 'NEW',
               | priority INT DEFAULT 3) USING parquet""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_dft")
      // full-row insert: explicit values win
      s.sql(s"""INSERT INTO $cat.corp.orders_dft
               |SELECT o_orderkey, o_orderstatus, 1
               |FROM orders_src_dft WHERE o_orderkey <= 1000""".stripMargin)
      // by-name partial insert: omitted columns take their defaults
      s.sql(s"""INSERT INTO $cat.corp.orders_dft (o_orderkey)
               |SELECT o_orderkey FROM orders_src_dft
               |WHERE o_orderkey > 1000 AND o_orderkey <= 2000""".stripMargin)
      // the explicit DEFAULT keyword
      s.sql(s"""INSERT INTO $cat.corp.orders_dft
               |VALUES (9999999L, DEFAULT, DEFAULT)""".stripMargin)
      val cat2 = kc.readOnly(s)
      s.sql(
        s"""SELECT status, priority, COUNT(*) AS n_rows,
           |  MIN(o_orderkey) AS lo_key
           |FROM $cat2.corp.orders_dft
           |GROUP BY status, priority
           |ORDER BY status, priority""".stripMargin)
    },

    // VIEWS through the V2 catalog — the day-two object of a shared
    // metastore (create a view on one cluster, SELECT it by name on
    // another). The view lands in the writable catalog through the V2
    // ViewCatalog connector surface (Spark 4.1 parses CREATE VIEW only
    // for the session catalog — the programmatic path below is what a
    // catalog-sync tool drives); the stored definition keeps only
    // MOUNT-RELATIVE context (unqualified body + default namespace —
    // the writer's catalog mount name is deliberately not stored). A
    // second read-only attach then resolves `SELECT ... FROM
    // ro.corp.view` by re-parsing the body against ITS OWN mount
    // (graft.plans.ResolveV2Views — core Spark ships the ViewCatalog
    // API un-wired, so resolution is an injected rule, the public
    // pattern engines with V2 view catalogs use). Resolution cost is
    // pure metadata; filters and projections push through the view
    // into the underlying scans exactly as if inlined.
    keyed("meta_v2_view") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.nation_vv
               |(n_nationkey INT, n_name STRING, n_regionkey INT)
               |USING parquet""".stripMargin)
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_v")
      s.sql(s"""INSERT INTO $cat.corp.nation_vv
               |SELECT n_nationkey, n_name, n_regionkey
               |FROM nation_src_v""".stripMargin)
      // the view body: UNQUALIFIED reference, attach-relative on
      // every future mount; schema = the analyzed defining query
      val body =
        """SELECT n_regionkey, COUNT(*) AS n_nations,
          |  MIN(n_nationkey) AS lo_key
          |FROM nation_vv GROUP BY n_regionkey""".stripMargin
      val schema = s.sql(body.replace("FROM nation_vv",
        s"FROM $cat.corp.nation_vv")).schema
      val vc = s.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.ViewCatalog]
      vc.createView(new org.apache.spark.sql.connector.catalog.ViewInfo(
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("corp"), "nations_per_region"),
        body, cat, Array("corp"), schema,
        Array.empty, Array.empty, Array.empty,
        java.util.Collections.emptyMap[String, String]()))
      // the second cluster: a read-only attach resolves the VIEW by
      // name — zero DDL re-emission
      val cat2 = kc.readOnly(s)
      s.sql(s"""SELECT n_regionkey, n_nations, lo_key
               |FROM $cat2.corp.nations_per_region
               |ORDER BY n_regionkey""".stripMargin)
    },

    // METADATA-ONLY RENAME through the V2 catalog, cross-namespace
    // (ALTER TABLE ... RENAME TO — the archive/promote move every
    // warehouse runs): the location (and therefore the data) stays
    // put, only the name re-points, HMS external-table semantics. The
    // rename persists as a revision like any DDL, the OLD name stops
    // resolving, and a second attach reads full content by the NEW
    // name — proving the re-point lost nothing. O(1) in data size.
    keyed("meta_v2_rename") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.corp_archive")
      s.sql(s"""CREATE TABLE $cat.corp.nation_r
               |(n_nationkey INT, n_name STRING, n_regionkey INT)
               |USING parquet""".stripMargin)
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_r")
      s.sql(s"""INSERT INTO $cat.corp.nation_r
               |SELECT n_nationkey, n_name, n_regionkey
               |FROM nation_src_r""".stripMargin)
      s.sql(s"""ALTER TABLE $cat.corp.nation_r
               |RENAME TO corp_archive.nation_2024""".stripMargin)
      require(!s.catalog.tableExists(s"$cat.corp.nation_r"),
        "old name still resolves after RENAME")
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp_archive.nation_2024").orderBy("n_nationkey")
    },

    // ZERO-COPY SHALLOW CLONE through the V2 catalog (the lakehouse
    // CLONE / register-elsewhere move): the clone is a NEW catalog
    // entry pointing at the SOURCE table's location — one metadata
    // revision, no data movement, O(1) in table size (the CTAS
    // alternative is a full rewrite; at 100 TB that difference is the
    // whole feature). EXTERNAL semantics make the lifecycle safe: DROP
    // of the clone unregisters the name and keeps the shared files, so
    // the original serves unchanged. The key asserts the clone copied
    // ZERO data files (directory listing identical before/after),
    // checks clone and source read the same row count, drops the
    // clone, and reads the original back through a second attach —
    // the whole clone lifecycle never touched data.
    keyed("meta_v2_clone") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_cl
               |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
               |USING parquet""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_cl")
      s.sql(s"""INSERT INTO $cat.corp.orders_cl
               |SELECT o_orderkey, o_custkey, o_totalprice
               |FROM orders_src_cl""".stripMargin)
      val loc = s"${kc.dir}/_warehouse/corp/orders_cl"
      def dataFiles: Seq[String] = Option(new java.io.File(loc).list())
        .toSeq.flatten.filter(_.endsWith(".parquet")).sorted
      val before = dataFiles
      require(before.nonEmpty, "source table landed no data files")
      s.sql(s"""CREATE TABLE $cat.corp.orders_cl_clone
               |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
               |USING parquet LOCATION '$loc'""".stripMargin)
      require(dataFiles == before,
        "shallow clone must not copy or rewrite data files")
      val nClone = s.table(s"$cat.corp.orders_cl_clone").count()
      val nSrc = s.table(s"$cat.corp.orders_cl").count()
      require(nClone == nSrc, s"clone sees $nClone rows, source $nSrc")
      s.sql(s"DROP TABLE $cat.corp.orders_cl_clone")
      require(dataFiles == before,
        "DROP of the clone must keep the shared files (EXTERNAL)")
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_cl")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // MERGE INTO (upsert) on a shared-catalog table, COPY-ON-WRITE —
    // the row-level operation lakehouse engines implement by rewriting
    // files, composed here from public pieces with the scale-correct
    // join shape: merged = all UPDATE rows (new values win) UNION ALL
    // target rows NOT touched by the delta, where the anti-join
    // BROADCASTS the delta (a merge delta is a sliver of a 100 TB
    // target — the big side never shuffles; a FULL OUTER join would
    // force a sort-merge exchange of the whole target). The merged
    // generation lands in a FRESH directory and the catalog re-points
    // via the atomic SET LOCATION swap (the meta_v2_compact
    // primitive): readers holding the old generation keep consistent
    // files, every new resolution sees the post-merge table, and a
    // mid-rewrite crash leaves the target untouched — the
    // copy-on-write atomicity argument. At 100 TB the rewrite is
    // partition-pruned to the partitions the delta touches; this key
    // rewrites the whole (unpartitioned) fixture table.
    keyed("meta_v2_merge") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_t
               |(o_orderkey BIGINT, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_m")
      // target = keys ≡ 0,1 (mod 4); delta = even keys, so ≡0 rows
      // are MATCHED (update) and ≡2 rows are NOT MATCHED (insert)
      s.sql(s"""INSERT INTO $cat.corp.orders_t
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_m WHERE o_orderkey % 4 < 2""".stripMargin)
      s.sql(
        """SELECT o_orderkey, 'U' AS o_orderstatus,
          | o_totalprice * 1.05 AS o_totalprice
          |FROM orders_src_m WHERE o_orderkey % 2 = 0""".stripMargin)
        .createOrReplaceTempView("upd_m")
      val merged = s.sql(
        s"""SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd_m
           |UNION ALL
           |SELECT /*+ BROADCAST(u) */
           |  t.o_orderkey, t.o_orderstatus, t.o_totalprice
           |FROM $cat.corp.orders_t t
           |LEFT ANTI JOIN upd_m u
           |  ON t.o_orderkey = u.o_orderkey""".stripMargin)
      val gen2 = s"${kc.dir}/gen2"
      merged.write.mode("overwrite").parquet(gen2)
      s.sql(s"ALTER TABLE $cat.corp.orders_t SET LOCATION '$gen2'")
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_t")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // STOCK row-level DML — the same upsert story as meta_v2_merge,
    // but as the SQL STATEMENTS a user types at the provisioned
    // cluster's prompt: UPDATE, DELETE, and MERGE INTO plan through
    // Spark's own rewrite rules into group-based ReplaceData against
    // the SupportsRowLevelOperations snapshot-catalog table
    // (catalog/RowLevelOps.scala) — no composed SELECT program, no
    // engine-side parsing. Each statement is one copy-on-write
    // generation: fresh dir + atomic SET-LOCATION swap at commit
    // (CatalogSpec proves the ReplaceData plan, crash atomicity, and
    // swap-time OCC). The oracle replays the three statements as pure
    // SELECT algebra in DuckDB (update = CASE, delete = filter,
    // merge = left join + anti union) — a MERGE-free recomputation.
    keyed("meta_v2_rowlevel") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_rl
               |(o_orderkey BIGINT, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_rl")
      s.sql(s"""INSERT INTO $cat.corp.orders_rl
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_rl WHERE o_orderkey % 4 < 2""".stripMargin)
      // UPDATE hits the odd half of the target (disjoint from the
      // merge delta), DELETE removes rows the merge then re-inserts
      // (exercising NOT MATCHED against previously-deleted keys)
      s.sql(s"""UPDATE $cat.corp.orders_rl
               |SET o_totalprice = o_totalprice * 1.10D
               |WHERE o_orderkey % 8 = 1""".stripMargin)
      s.sql(s"DELETE FROM $cat.corp.orders_rl WHERE o_orderkey % 16 = 0")
      s.sql(
        """SELECT o_orderkey, 'U' AS o_orderstatus,
          | o_totalprice * 1.05D AS o_totalprice
          |FROM orders_src_rl WHERE o_orderkey % 2 = 0""".stripMargin)
        .createOrReplaceTempView("delta_rl")
      s.sql(s"""MERGE INTO $cat.corp.orders_rl t
               |USING delta_rl u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED THEN UPDATE SET
               |  o_orderstatus = u.o_orderstatus,
               |  o_totalprice = u.o_totalprice
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // fresh read-only attach resolves the post-DML generation
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_rl")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // The FULL stock MERGE clause surface in one statement — what
    // distinguishes a real MERGE planner from an upsert shim:
    // conditional MATCHED update with a MATCHED delete fallthrough
    // (clause order decides), a conditional NOT MATCHED insert, and
    // BOTH "NOT MATCHED BY SOURCE" forms (conditional update and
    // delete) — the clause family that cannot be expressed as
    // insert-overwrite-from-join without reimplementing the planner.
    // Same SupportsRowLevelOperations ReplaceData path and COW swap as
    // meta_v2_rowlevel; the oracle replays all five clauses as SELECT
    // algebra with the same clause-precedence semantics.
    keyed("meta_v2_merge_full") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_mf
               |(o_orderkey BIGINT, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_mf")
      s.sql(s"""INSERT INTO $cat.corp.orders_mf
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_mf WHERE o_orderkey % 4 < 2""".stripMargin)
      s.sql(
        """SELECT o_orderkey, 'U' AS o_orderstatus,
          | o_totalprice * 1.05D AS o_totalprice
          |FROM orders_src_mf WHERE o_orderkey % 2 = 0""".stripMargin)
        .createOrReplaceTempView("delta_mf")
      s.sql(s"""MERGE INTO $cat.corp.orders_mf t
               |USING delta_mf u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED AND t.o_totalprice > 200000D THEN UPDATE SET
               |  o_orderstatus = u.o_orderstatus,
               |  o_totalprice = u.o_totalprice
               |WHEN MATCHED THEN DELETE
               |WHEN NOT MATCHED AND u.o_totalprice <= 400000D
               |  THEN INSERT *
               |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 8 = 1
               |  THEN UPDATE SET o_orderstatus = 'S'
               |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 8 = 5
               |  THEN DELETE""".stripMargin)
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_mf")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // PARTITION-SCOPED stock MERGE — group = hive partition, the
    // scale-correct granularity for row-level DML on a partitioned
    // table (yc-data-proc-metadata-import provisions the SQL prompt,
    // metastore-import.tf:196; HMS partitions are its core object):
    // Spark's own RowLevelOperationRuntimeGroupFiltering computes the
    // partitions the delta touches and the rewrite scan serves ONLY
    // those ([[PartScan]] file pruning), so the fresh generation
    // rewrites the touched partition's data and hard-links every other
    // partition file-for-file — asserted below: after a merge whose
    // delta is confined to the small 'P' partition, the 'F' and 'O'
    // directories of the published generation carry the IDENTICAL file
    // sets (same names, same inodes — zero churn). At 100 TB this is
    // the difference between rewriting a table and rewriting the
    // day's partition. Atomicity/OCC identical to meta_v2_rowlevel
    // (same location-swap publish point).
    keyed("meta_v2_merge_scoped") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_ps
               |(o_orderkey BIGINT, o_totalprice DOUBLE,
               | o_orderstatus STRING)
               |USING parquet PARTITIONED BY (o_orderstatus)""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_ms")
      s.sql(s"""INSERT INTO $cat.corp.orders_ps
               |SELECT o_orderkey, o_totalprice, o_orderstatus
               |FROM orders_src_ms""".stripMargin)
      val loc = s"${kc.dir}/_warehouse/corp/orders_ps"
      def filesAt(root: String, p: String): Seq[String] =
        Option(new java.io.File(s"$root/o_orderstatus=$p").list())
          .toSeq.flatten
          .filter(f => !f.startsWith(".") && !f.startsWith("_")).sorted
      val beforeF = filesAt(loc, "F")
      val beforeO = filesAt(loc, "O")
      require(beforeF.nonEmpty && beforeO.nonEmpty,
        "fixture landed no F/O partitions")
      // delta confined to partition P: updates the even-keyed P rows,
      // inserts brand-new keys that also land in P
      s.sql(
        """SELECT o_orderkey, o_totalprice * 1.05D AS o_totalprice,
          | 'P' AS o_orderstatus
          |FROM orders_src_ms
          |WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 0
          |UNION ALL
          |SELECT o_orderkey + 100000000, o_totalprice, 'P'
          |FROM orders_src_ms
          |WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 1""".stripMargin)
        .createOrReplaceTempView("delta_ms")
      s.sql(s"""MERGE INTO $cat.corp.orders_ps t
               |USING delta_ms u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED THEN UPDATE SET
               |  o_totalprice = u.o_totalprice
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // the swap must have published a FRESH generation whose
      // untouched partitions carry the IDENTICAL file set (hard
      // links, zero churn — the meta_v2_clone discipline)
      val head = new java.io.File(kc.dir, "HEAD")
      val rev = new String(java.nio.file.Files
        .readAllBytes(head.toPath)).trim.split("\\s+")(0).toInt
      val loc2 = CatalogTransfer.readLocal(s"${kc.dir}/revs/$rev").tables
        .find(_.name == "orders_ps").get.location
      require(loc2 != loc, "merge must publish a fresh generation")
      val afterF = filesAt(loc2, "F")
      val afterO = filesAt(loc2, "O")
      require(afterF == beforeF && afterO == beforeO,
        "untouched partitions must keep identical file sets " +
          s"(zero churn): F $afterF vs $beforeF")
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_ps")
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"),
          col("o_orderstatus"))
        .orderBy("o_orderkey")
    },

    // MERGE-ON-READ stock DELETE — the other half of the lakehouse DML
    // cost model (meta_v2_rowlevel's COW is exact but O(table); this
    // is O(matched rows)): the table opts in via TBLPROPERTIES, the
    // stock DELETE plans DELTA-based (SupportsDelta → WriteDelta: the
    // predicate pushes to parquet, ONLY matched rows are read, and
    // their row ids land in a delete sidecar — no carry-over rows are
    // read, computed, or written), and the publish hard-links every
    // data file into the fresh generation. ZERO data rewrite is
    // asserted below at inode level. Reads merge the sidecars out; the
    // sidecar's applies-to file list is the Iceberg sequence-number
    // rule as an explicit list, proven here by RE-INSERTING deleted
    // keys — fresh files are in no sidecar's applies-to set, so the
    // re-inserts are live while the original rows stay hidden. Full
    // machinery + 100 TB cost model: MorOps.scala.
    keyed("meta_v2_mor_delete") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_mor
               |(o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet TBLPROPERTIES(
               | 'graft.delete.mode'='merge-on-read',
               | 'graft.row.id'='o_orderkey')""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_mor")
      s.sql(s"""INSERT INTO $cat.corp.orders_mor
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_mor WHERE o_orderkey % 4 < 2""".stripMargin)
      def inodes(p: String): Map[String, Any] =
        Option(new java.io.File(p).listFiles()).toSeq.flatten
          .filter(f => f.isFile && !f.getName.startsWith(".") &&
            !f.getName.startsWith("_"))
          .map(f => f.getName -> java.nio.file.Files
            .getAttribute(f.toPath, "unix:ino")).toMap
      val loc0 = s"${kc.dir}/_warehouse/corp/orders_mor"
      val before = inodes(loc0)
      require(before.nonEmpty, "fixture landed no data files")
      s.sql(s"DELETE FROM $cat.corp.orders_mor WHERE o_orderkey % 16 = 0")
      s.sql(s"""DELETE FROM $cat.corp.orders_mor
               |WHERE o_orderstatus = 'F' AND o_orderkey % 16 = 5"""
        .stripMargin)
      val head = new java.io.File(kc.dir, "HEAD")
      val rev = new String(java.nio.file.Files
        .readAllBytes(head.toPath)).trim.split("\\s+")(0).toInt
      val loc2 = CatalogTransfer.readLocal(s"${kc.dir}/revs/$rev").tables
        .find(_.name == "orders_mor").get.location
      require(loc2 != loc0, "each DELETE must publish a fresh generation")
      // the merge-on-read contract: byte-identical data files (same
      // names, same inodes — hard links, nothing rewritten), deletes
      // accumulated as two sidecars
      require(inodes(loc2) == before,
        s"DELETE rewrote data files: ${inodes(loc2)} vs $before")
      val sidecars = Option(
        new java.io.File(loc2, "_deletes").list()).toSeq.flatten
        .count(_.endsWith(".keys"))
      require(sidecars >= 2,
        s"expected >=2 accumulated delete sidecars, got $sidecars")
      // delete-then-reinsert: the first DELETE's keys return in FRESH
      // files no sidecar applies to — they must be visible again
      s.sql(s"""INSERT INTO $cat.corp.orders_mor
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_mor
               |WHERE o_orderkey % 4 < 2 AND o_orderkey % 16 = 0"""
        .stripMargin)
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_mor")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // MERGE-ON-READ × PARTITIONED — the composition production fact
    // tables need (they are almost always partitioned): the
    // hive-partitioned table opts into merge-on-read and a stock
    // DELETE plans delta-based with sidecars under each touched
    // partition's OWN dir. Proven here: (1) a partition-confined
    // DELETE (predicate pins o_orderstatus='F') lands `_deletes`
    // ONLY under the F partition — every other partition has no
    // sidecar dir at all; (2) EVERY partition's data files come
    // through the publish as the SAME inodes (hard links — zero
    // rewrite even in the touched partition, the delta contract);
    // (3) a second cross-partition DELETE routes keys to their own
    // partitions' sidecars; (4) re-inserted keys return in fresh
    // files no sidecar applies to (the per-partition applies-to /
    // sequence-number rule). Reads apply only each file's partition's
    // sidecars (partition-qualified file identity). Full machinery +
    // cost model: MorOps.scala (MorPartitionedTable).
    keyed("meta_v2_mor_scoped_delete") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_msd
               |(o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE,
               | o_orderstatus STRING)
               |USING parquet PARTITIONED BY (o_orderstatus)
               |TBLPROPERTIES(
               | 'graft.delete.mode'='merge-on-read',
               | 'graft.row.id'='o_orderkey')""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_msd")
      s.sql(s"""INSERT INTO $cat.corp.orders_msd
               |SELECT o_orderkey, o_totalprice, o_orderstatus
               |FROM orders_src_msd WHERE o_orderkey % 4 < 2"""
        .stripMargin)
      def headLoc(): String = CatalogTransfer.readLocal(
        s"${kc.dir}/revs/${new String(java.nio.file.Files.readAllBytes(
          new java.io.File(kc.dir, "HEAD").toPath)).trim
          .split("\\s+")(0).toInt}").tables
        .find(_.name == "orders_msd").get.location
      def inodes(root: String): Map[String, Any] =
        Option(new java.io.File(root).listFiles()).toSeq.flatten
          .filter(d => d.isDirectory && d.getName.contains("="))
          .flatMap(pd => Option(pd.listFiles()).toSeq.flatten
            .filter(f => f.isFile && !f.getName.startsWith(".") &&
              !f.getName.startsWith("_"))
            .map(f => s"${pd.getName}/${f.getName}" ->
              java.nio.file.Files.getAttribute(f.toPath, "unix:ino")))
          .toMap
      def sidecarDirs(root: String): Seq[String] =
        Option(new java.io.File(root).listFiles()).toSeq.flatten
          .filter(d => d.isDirectory && d.getName.contains("=") &&
            new java.io.File(d, "_deletes").isDirectory)
          .map(_.getName).sorted
      val loc0 = headLoc()
      val before = inodes(loc0)
      require(before.keys.exists(_.startsWith("o_orderstatus=F/")) &&
        before.keys.exists(_.startsWith("o_orderstatus=O/")),
        "fixture landed no F/O partitions")
      // 1. partition-confined DELETE: sidecar lands ONLY under F
      s.sql(s"""DELETE FROM $cat.corp.orders_msd
               |WHERE o_orderstatus = 'F' AND o_orderkey % 16 = 5"""
        .stripMargin)
      val loc1 = headLoc()
      require(loc1 != loc0, "DELETE must publish a fresh generation")
      require(inodes(loc1) == before,
        "partition-confined MOR DELETE rewrote a data file")
      require(sidecarDirs(loc1) == Seq("o_orderstatus=F"),
        s"sidecars must live ONLY under the touched partition, got " +
          s"${sidecarDirs(loc1)}")
      // 2. cross-partition DELETE: keys route to their own partitions
      s.sql(s"DELETE FROM $cat.corp.orders_msd WHERE o_orderkey % 16 = 0")
      val loc2 = headLoc()
      require(inodes(loc2) == before,
        "cross-partition MOR DELETE rewrote a data file")
      require(sidecarDirs(loc2).size > 1,
        s"cross-partition DELETE must land per-partition sidecars, " +
          s"got ${sidecarDirs(loc2)}")
      // 3. re-insert the second delete's keys: fresh files are in no
      // sidecar's applies-to set, so they are live while the original
      // rows stay hidden
      s.sql(s"""INSERT INTO $cat.corp.orders_msd
               |SELECT o_orderkey, o_totalprice, o_orderstatus
               |FROM orders_src_msd
               |WHERE o_orderkey % 4 < 2 AND o_orderkey % 16 = 0"""
        .stripMargin)
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_msd")
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"),
          col("o_orderstatus"))
        .orderBy("o_orderkey")
    },

    // COW-over-MOR: an UPDATE on a table with OUTSTANDING delete
    // sidecars — the correctness trap of per-command DML modes
    // (write.delete.mode=merge-on-read + write.update.mode=
    // copy-on-write, the split lakehouse formats expose): the UPDATE's
    // rewrite must read the MERGED rows — its predicate here OVERLAPS
    // the deleted keys, so a naive raw-file rewrite would RESURRECT
    // them — and its fresh COW generation materializes the delete
    // vectors (no _deletes dir survives, asserted). The oracle's
    // delete-then-update replay proves no resurrection row-for-row.
    keyed("meta_v2_mor_update") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_mu
               |(o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet TBLPROPERTIES(
               | 'graft.delete.mode'='merge-on-read',
               | 'graft.row.id'='o_orderkey')""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_mu")
      s.sql(s"""INSERT INTO $cat.corp.orders_mu
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_mu WHERE o_orderkey % 4 < 2""".stripMargin)
      s.sql(s"DELETE FROM $cat.corp.orders_mu WHERE o_orderkey % 16 = 0")
      // %4=0 ⊃ %16=0: the update predicate covers the deleted keys
      s.sql(s"""UPDATE $cat.corp.orders_mu
               |SET o_totalprice = o_totalprice * 1.10D
               |WHERE o_orderkey % 4 = 0""".stripMargin)
      val head = new java.io.File(kc.dir, "HEAD")
      val rev = new String(java.nio.file.Files
        .readAllBytes(head.toPath)).trim.split("\\s+")(0).toInt
      val loc2 = CatalogTransfer.readLocal(s"${kc.dir}/revs/$rev").tables
        .find(_.name == "orders_mu").get.location
      require(!new java.io.File(loc2, "_deletes").exists(),
        "the COW UPDATE must materialize the delete vectors — no " +
          "_deletes dir may survive into its generation")
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_mu")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // DELTA-based UPDATE (graft.update.mode=merge-on-read) — the last
    // O(table) DML statement killed: the same statement the COW
    // sibling above rewrites the whole table for now plans delta-based
    // (SupportsDelta → WriteDelta) — old images hide via sidecar
    // entries, new images land in FRESH per-task files, and no
    // carry-over row is read, computed, or written. Same predicate
    // overlap as the sibling (the update covers already-deleted keys,
    // so the rewrite scan MUST be the merged read — no resurrection),
    // same oracle; what changes is the cost: every pre-existing data
    // file comes through as the SAME inode (hard link, zero rewrite,
    // asserted) and the _deletes dir SURVIVES with the update's new
    // sidecar accumulated next to the delete's.
    keyed("meta_v2_mor_update_delta") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_mud
               |(o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet TBLPROPERTIES(
               | 'graft.delete.mode'='merge-on-read',
               | 'graft.update.mode'='merge-on-read',
               | 'graft.row.id'='o_orderkey')""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_mud")
      s.sql(s"""INSERT INTO $cat.corp.orders_mud
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_mud WHERE o_orderkey % 4 < 2""".stripMargin)
      s.sql(s"DELETE FROM $cat.corp.orders_mud WHERE o_orderkey % 16 = 0")
      def inodes(p: String): Map[String, Any] =
        Option(new java.io.File(p).listFiles()).toSeq.flatten
          .filter(f => f.isFile && !f.getName.startsWith(".") &&
            !f.getName.startsWith("_"))
          .map(f => f.getName -> java.nio.file.Files
            .getAttribute(f.toPath, "unix:ino")).toMap
      def headLoc(): String = CatalogTransfer.readLocal(
        s"${kc.dir}/revs/${new String(java.nio.file.Files.readAllBytes(
          new java.io.File(kc.dir, "HEAD").toPath)).trim
          .split("\\s+")(0).toInt}").tables
        .find(_.name == "orders_mud").get.location
      val loc1 = headLoc()
      val before = inodes(loc1)
      require(before.nonEmpty, "fixture landed no data files")
      // %4=0 ⊃ %16=0: the update predicate covers the deleted keys —
      // a raw-file (unmerged) rewrite scan would resurrect them
      s.sql(s"""UPDATE $cat.corp.orders_mud
               |SET o_totalprice = o_totalprice * 1.10D
               |WHERE o_orderkey % 4 = 0""".stripMargin)
      val loc2 = headLoc()
      require(loc2 != loc1, "UPDATE must publish a fresh generation")
      val after = inodes(loc2)
      // the delta contract, inode-asserted: every pre-existing data
      // file is the SAME inode (hard link — zero rewrite); the updated
      // images landed in FRESH files
      require(before.forall { case (n, k) => after.get(n).contains(k) },
        "delta UPDATE rewrote a pre-existing data file")
      require(after.size > before.size,
        "delta UPDATE landed no fresh data files")
      // and unlike the COW sibling, the delete vectors are NOT
      // materialized: the delete's sidecar carries forward and the
      // update added its own
      val sidecars = Option(
        new java.io.File(loc2, "_deletes").list()).toSeq.flatten
        .count(_.endsWith(".keys"))
      require(sidecars >= 2,
        s"expected the delete's + the update's sidecars, got $sidecars")
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_mud")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // Sidecar COMPACTION — the maintenance op that BOUNDS what readers
    // pay for merge-on-read (the sidecar probe is the price of O(|Δ|)
    // deletes; compaction is its amortization): rewrite the merged
    // rows into a clean generation and publish via the atomic SET
    // LOCATION swap (the meta_v2_compact primitive). Plan-level proof
    // on the exact scans: BEFORE, the table serves the sidecar-merging
    // row path (a MorScan wraps the parquet scan); AFTER, the
    // UNWRAPPED stock vectorized scan — merge-on-read costs nothing
    // once compacted. Content invariance is the oracle.
    keyed("meta_v2_mor_compact") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_mc
               |(o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet TBLPROPERTIES(
               | 'graft.delete.mode'='merge-on-read',
               | 'graft.row.id'='o_orderkey')""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_mc")
      s.sql(s"""INSERT INTO $cat.corp.orders_mc
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_mc WHERE o_orderkey % 4 < 2""".stripMargin)
      s.sql(s"DELETE FROM $cat.corp.orders_mc WHERE o_orderkey % 16 = 0")
      s.sql(s"""DELETE FROM $cat.corp.orders_mc
               |WHERE o_orderstatus = 'F' AND o_orderkey % 16 = 5"""
        .stripMargin)
      def servesMor(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.scan
        }.exists(_.isInstanceOf[MorScan])
      val pre = s.table(s"$cat.corp.orders_mc")
      require(servesMor(pre),
        "outstanding sidecars must route the read through the " +
          "merging scan")
      val nPre = pre.count()
      // the operational trigger: outstanding sidecar volume is the
      // page-on signal an operator compacts at
      require(Mor.sidecarBytes(CatalogTransfer
        .readLocal(s"${kc.dir}/revs/${new String(java.nio.file.Files
          .readAllBytes(new java.io.File(kc.dir, "HEAD").toPath))
          .trim.split("\\s+")(0).toInt}").tables
        .find(_.name == "orders_mc").get.location) > 0L,
        "sidecarBytes must report the outstanding delete volume")
      val head = new java.io.File(kc.dir, "HEAD")
      val rev = new String(java.nio.file.Files
        .readAllBytes(head.toPath)).trim.split("\\s+")(0).toInt
      val ti2 = CatalogTransfer.readLocal(s"${kc.dir}/revs/$rev").tables
        .find(_.name == "orders_mc").get
      // the compaction: merged rows → clean generation, atomic swap —
      // same primitive as meta_v2_compact
      val gen2 = Generation.of(ti2)
      gen2.stage {
        s.table(s"$cat.corp.orders_mc").repartition(4)
          .write.mode("append").parquet(gen2.root)
        gen2.publishBy(s.sql(
          s"ALTER TABLE $cat.corp.orders_mc SET LOCATION '${gen2.root}'"))
      }
      val post = s.table(s"$cat.corp.orders_mc")
      require(!servesMor(post),
        "a compacted table must serve the unwrapped stock parquet scan")
      require(!new java.io.File(gen2.root, "_deletes").exists(),
        "compaction must clear the sidecars")
      require(post.count() == nPre,
        "compaction changed the table's content")
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_mc")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // AUTO-COMPACTION policy — the consumer of Mor.sidecarBytes, the
    // signal the sidecar design documents as the compaction page-on:
    // MorMaintenance.autoCompact walks the catalog's merge-on-read
    // tables, measures (sidecar count, sidecar bytes, data bytes)
    // against DECLARED thresholds, and compacts exactly the tables
    // that page on — threshold → decision → action, the same shape as
    // the IVF drift monitor's retrain flag. Fixture: two MOR tables in
    // one catalog; ac1 accumulates two DELETE statements' sidecars
    // (count >= 2 = the declared threshold → fires: merged rows to a
    // clean generation, atomic swap, stock vectorized scan restored),
    // ac2 deletes exactly ONE key (a single-task sidecar, under
    // threshold → stays merge-on-read, sidecar outstanding). The
    // report's decision columns and post-state are deterministic; the
    // measured byte signals are engine-asserted (non-vacuous) but not
    // returned — they vary with task layout.
    keyed("meta_v2_mor_autocompact") { (s, d, kc) =>
      import s.implicits._
      val cat = kc.fresh(s)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_mac")
      for (t <- Seq("orders_ac1", "orders_ac2")) {
        s.sql(s"""CREATE TABLE $cat.corp.$t
                 |(o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
                 | o_totalprice DOUBLE)
                 |USING parquet TBLPROPERTIES(
                 | 'graft.delete.mode'='merge-on-read',
                 | 'graft.row.id'='o_orderkey')""".stripMargin)
        s.sql(s"""INSERT INTO $cat.corp.$t
                 |SELECT o_orderkey, o_orderstatus, o_totalprice
                 |FROM orders_src_mac WHERE o_orderkey % 4 < 2"""
          .stripMargin)
      }
      s.sql(s"DELETE FROM $cat.corp.orders_ac1 WHERE o_orderkey % 16 = 0")
      s.sql(s"""DELETE FROM $cat.corp.orders_ac1
               |WHERE o_orderstatus = 'F' AND o_orderkey % 16 = 5"""
        .stripMargin)
      // one key lives in one file -> exactly one single-task sidecar
      s.sql(s"DELETE FROM $cat.corp.orders_ac2 WHERE o_orderkey = 1")
      val report = MorMaintenance.autoCompact(s, cat, kc.dir,
        maxSidecars = 2, maxSidecarBytes = Long.MaxValue)
      require(report.map(_.table) == Seq("orders_ac1", "orders_ac2"),
        s"report must cover both MOR tables: $report")
      val ac1 = report(0); val ac2 = report(1)
      // the fired decision, end to end: signal measured, threshold
      // crossed, compaction ran, read path restored to stock
      require(ac1.sidecarCount >= 2 && ac1.sidecarBytes > 0L &&
        ac1.dataBytes > 0L, s"ac1 signals vacuous: $ac1")
      require(ac1.compacted && ac1.sidecarsAfter == 0 &&
        ac1.scanBefore == "mor" && ac1.scanAfter == "stock",
        s"ac1 must compact and restore the stock scan: $ac1")
      // the held decision: signal present but under threshold, sidecar
      // still outstanding, read path still merging
      require(ac2.sidecarCount == 1 && ac2.sidecarBytes > 0L,
        s"ac2 signals vacuous: $ac2")
      require(!ac2.compacted && ac2.sidecarsAfter == 1 &&
        ac2.scanBefore == "mor" && ac2.scanAfter == "mor",
        s"ac2 must stay merge-on-read under threshold: $ac2")
      report.map(r => (r.table, if (r.compacted) 1 else 0,
          r.sidecarsAfter, r.scanBefore, r.scanAfter,
          s.table(s"$cat.corp.${r.table}").count()))
        .toDF("tbl", "compacted", "sidecars_after", "scan_before",
          "scan_after", "n_rows")
        .orderBy("tbl")
    },

    // MERGE-ON-READ stock MERGE — the capstone that makes the MOR
    // family complete (DELETE + MERGE both O(delta)): with
    // graft.merge.mode=merge-on-read the operation plans delta-based
    // (SupportsDelta → WriteDelta) — matched DELETEs and the OLD
    // images of matched UPDATEs become sidecar entries, updated images
    // and NOT-MATCHED inserts land in FRESH per-task data files, and
    // carry-over rows are never read, computed, or written (the
    // group-based COW path reads and rewrites every one). Pre-existing
    // data files come through the publish as hard links — asserted at
    // inode level below — while the fresh files carry exactly the
    // delta. A three-clause MERGE (conditional matched update, matched
    // delete fallthrough, not-matched insert) exercises all writer
    // paths in one statement; the oracle replays the clause algebra.
    keyed("meta_v2_mor_merge") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_mm
               |(o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet TBLPROPERTIES(
               | 'graft.delete.mode'='merge-on-read',
               | 'graft.merge.mode'='merge-on-read',
               | 'graft.row.id'='o_orderkey')""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_mm")
      s.sql(s"""INSERT INTO $cat.corp.orders_mm
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_mm WHERE o_orderkey % 4 < 2""".stripMargin)
      def inodes(p: String): Map[String, Any] =
        Option(new java.io.File(p).listFiles()).toSeq.flatten
          .filter(f => f.isFile && !f.getName.startsWith(".") &&
            !f.getName.startsWith("_"))
          .map(f => f.getName -> java.nio.file.Files
            .getAttribute(f.toPath, "unix:ino")).toMap
      val loc0 = s"${kc.dir}/_warehouse/corp/orders_mm"
      val before = inodes(loc0)
      require(before.nonEmpty, "fixture landed no data files")
      // delta: even keys updated (+5%) unless tiny — those delete;
      // brand-new keys insert
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders_src_mm
          |WHERE o_orderkey % 8 = 0
          |UNION ALL
          |SELECT o_orderkey + 200000000, o_totalprice
          |FROM orders_src_mm WHERE o_orderkey % 8 = 1""".stripMargin)
        .createOrReplaceTempView("delta_mm")
      s.sql(s"""MERGE INTO $cat.corp.orders_mm t
               |USING delta_mm u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED AND u.o_totalprice > 50000D THEN UPDATE SET
               |  o_totalprice = u.o_totalprice * 1.05D,
               |  o_orderstatus = 'M'
               |WHEN MATCHED THEN DELETE
               |WHEN NOT MATCHED THEN INSERT
               |  (o_orderkey, o_orderstatus, o_totalprice)
               |  VALUES (u.o_orderkey, 'N', u.o_totalprice)""".stripMargin)
      val head = new java.io.File(kc.dir, "HEAD")
      val rev = new String(java.nio.file.Files
        .readAllBytes(head.toPath)).trim.split("\\s+")(0).toInt
      val loc2 = CatalogTransfer.readLocal(s"${kc.dir}/revs/$rev").tables
        .find(_.name == "orders_mm").get.location
      require(loc2 != loc0, "merge must publish a fresh generation")
      val after = inodes(loc2)
      // every PRE-EXISTING data file came through as the same inode
      // (hard link — zero rewrite); the delta landed in FRESH files
      require(before.forall { case (n, k) => after.get(n).contains(k) },
        "MOR merge rewrote a pre-existing data file")
      require(after.size > before.size,
        "MOR merge landed no fresh data files")
      require(Option(new java.io.File(loc2, "_deletes").list()).toSeq
        .flatten.exists(_.endsWith(".keys")),
        "MOR merge landed no delete sidecar")
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.orders_mm")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // CHANGE DATA FEED from the merge-on-read artifacts — the CDC read
    // the sidecar design gives away for free (the lakehouse CDF
    // surface): between two revisions, the range's NEW sidecars name
    // every key that disappeared and its FRESH data files hold every
    // row that appeared, so the feed is assembled WITHOUT state
    // diffing — post-images read the fresh files directly (O(delta),
    // per-(file,key) hiding via _metadata.file_path for in-range
    // churn), pre-images are one key-join against the time-travel
    // state at the range start (the one non-delta term; commit-time
    // CDC files are the alternative, documented at MorChangeFeed).
    // The range spans THREE statements — a MOR DELETE, a MOR MERGE
    // (update + insert clauses), and a plain INSERT INTO append — and
    // the feed nets them into delete / update_preimage /
    // update_postimage / insert rows, all four proven non-vacuous.
    keyed("meta_v2_changefeed") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_cf
               |(o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet TBLPROPERTIES(
               | 'graft.delete.mode'='merge-on-read',
               | 'graft.merge.mode'='merge-on-read',
               | 'graft.row.id'='o_orderkey')""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_cf")
      s.sql(s"""INSERT INTO $cat.corp.orders_cf
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_cf WHERE o_orderkey % 4 < 2""".stripMargin)
      def headRev(): Int = headRevAt(kc.dir)
      def locAt(rev: Int): String = CatalogTransfer
        .readLocal(s"${kc.dir}/revs/$rev").tables
        .find(_.name == "orders_cf").get.location
      val revA = headRev()
      val locA = locAt(revA)
      s.sql(s"DELETE FROM $cat.corp.orders_cf WHERE o_orderkey % 16 = 0")
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders_src_cf
          |WHERE o_orderkey % 8 = 4
          |UNION ALL
          |SELECT o_orderkey + 300000000, o_totalprice
          |FROM orders_src_cf WHERE o_orderkey % 8 = 5""".stripMargin)
        .createOrReplaceTempView("delta_cf")
      s.sql(s"""MERGE INTO $cat.corp.orders_cf t
               |USING delta_cf u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED THEN UPDATE SET
               |  o_totalprice = u.o_totalprice * 1.10D,
               |  o_orderstatus = 'U'
               |WHEN NOT MATCHED THEN INSERT
               |  (o_orderkey, o_orderstatus, o_totalprice)
               |  VALUES (u.o_orderkey, 'N', u.o_totalprice)""".stripMargin)
      s.sql(s"""INSERT INTO $cat.corp.orders_cf
               |SELECT o_orderkey + 400000000, 'A', o_totalprice
               |FROM orders_src_cf WHERE o_orderkey % 16 = 9""".stripMargin)
      val revB = headRev()
      val locB = locAt(revB)
      val cat2 = kc.readOnly(s)
      val stateA = s.sql(
        s"SELECT * FROM $cat2.corp.orders_cf VERSION AS OF '$revA'")
      val feed = MorChangeFeed.between(s, stateA, locA, locB,
        "o_orderkey")
      val ops = feed.select("op").distinct()
        .collect().map(_.getString(0)).toSet
      require(ops == Set("delete", "insert", "update_preimage",
        "update_postimage"), s"feed op classes vacuous: $ops")
      feed.select(col("op"), col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey", "op")
    },

    // CROSS-TABLE ATOMIC PUBLISH — the namespace-cutover form of the
    // reference's migration (README_en.md:3): N tables re-point at
    // freshly-staged generations in ONE catalog revision, so a reader
    // pinned to any revision sees the WHOLE cutover or none of it —
    // never a half-migrated namespace. Staging writes both new
    // generations fully with nothing published; publishAll then issues
    // one persist (one numbered revision, one atomic HEAD rename) with
    // per-table OCC checked for the whole set before anything mutates.
    // Engine-asserted: the txn is exactly ONE revision; the PAIR is
    // consistent at both surrounding revisions (old+old via VERSION AS
    // OF, new+new at head); a stale-staged retry fails all-or-nothing.
    // The oracle replays both phases of both tables.
    keyed("meta_v2_txn_publish") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_tp
               |(o_orderkey BIGINT, o_totalprice DOUBLE)
               |USING parquet""".stripMargin)
      s.sql(s"""CREATE TABLE $cat.corp.cust_tp
               |(c_custkey BIGINT, c_acctbal DOUBLE)
               |USING parquet""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_tp")
      Tables(s, d, "customer").createOrReplaceTempView("cust_src_tp")
      s.sql(s"""INSERT INTO $cat.corp.orders_tp
               |SELECT o_orderkey, o_totalprice FROM orders_src_tp
               |WHERE o_orderkey % 8 = 0""".stripMargin)
      s.sql(s"""INSERT INTO $cat.corp.cust_tp
               |SELECT c_custkey, c_acctbal FROM cust_src_tp
               |WHERE c_custkey % 4 = 0""".stripMargin)
      def headRev(): Int = headRevAt(kc.dir)
      val revA = headRev()
      val snapA = CatalogTransfer.readLocal(s"${kc.dir}/revs/$revA")
      val tiO = snapA.tables.find(_.name == "orders_tp").get
      val tiC = snapA.tables.find(_.name == "cust_tp").get
      // stage BOTH migrated generations fully — nothing published yet
      val genO = Generation.of(tiO)
      val genC = Generation.of(tiC)
      genO.stage(s.table(s"$cat.corp.orders_tp")
        .withColumn("o_totalprice", col("o_totalprice") * 2.0)
        .write.mode("append").parquet(genO.root))
      genC.stage(s.table(s"$cat.corp.cust_tp")
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .write.mode("append").parquet(genC.root))
      require(headRev() == revA,
        "staging must not publish anything")
      val plug = new WritableSnapshotCatalog
      plug.initialize(cat + "_txn",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", kc.dir)))
      Generation.publishAll(plug, Seq(genO, genC))
      val revB = headRev()
      require(revB == revA + 1,
        s"the cutover must be ONE atomic revision, got $revA -> $revB")
      // all-or-nothing on failure: a retry staged against the now-
      // stale TableInfos must refuse and re-point NOTHING
      val stale =
        try {
          Generation.publishAll(plug, Seq(Generation.of(tiO)))
          false
        } catch {
          case _: java.util.ConcurrentModificationException => true
        }
      require(stale, "a stale-staged publish must fail loudly")
      require(headRev() == revB,
        "a refused publish must not land a revision")
      val cat2 = kc.readOnly(s)
      // the pair is consistent at BOTH revisions: old+old, new+new
      def phase(rev: Int, tag: String): org.apache.spark.sql.DataFrame =
        s.sql(s"""SELECT * FROM $cat2.corp.orders_tp
                 |VERSION AS OF '$rev'""".stripMargin)
          .select(lit(tag).as("phase"), lit("orders").as("tbl"),
            col("o_orderkey").as("k"),
            round(col("o_totalprice"), 4).as("val"))
          .unionByName(
            s.sql(s"""SELECT * FROM $cat2.corp.cust_tp
                     |VERSION AS OF '$rev'""".stripMargin)
              .select(lit(tag).as("phase"), lit("customer").as("tbl"),
                col("c_custkey").as("k"),
                round(col("c_acctbal"), 4).as("val")))
      phase(revA, "pre").unionByName(phase(revB, "post"))
        .orderBy("phase", "tbl", "k")
    },

    // CHANGE DATA FEED for PARTITION-SCOPED COW tables
    // ([[PartitionCowChangeFeed]]) — CDC derived from artifacts the
    // DML already leaves behind: untouched partitions hard-link
    // file-for-file across generations, so per-file INODE identity is
    // a proof their bytes did not change. The feed diffs the two
    // generations' partition dirs driver-side (names + inodes, KiB),
    // then key-joins ONLY the touched partitions' rows at A vs B into
    // the NET range diff. Engine-asserted: the fixture's two
    // statements (a MERGE and a DELETE, both confined to partition P)
    // leave F and O inode-identical and the diff names exactly P as
    // touched — the feed never opens an untouched partition. The
    // oracle replays both statements and classifies every key. At
    // 100 TB a CDC consumer of a partitioned fact table pays
    // touched-partition cost per window, never a table scan — the
    // STREAMING CHANGE-FEED CONSUMER ([[ChangeFeedStream]]) — the CDC
    // composition that turns the batch feed into a topology: a
    // Structured Streaming foreachBatch consumer pages the catalog's
    // own MorChangeFeed revision-by-revision into an incremental
    // downstream materialization (the stream_cdc_upsert idiom fed by
    // the catalog), exactly-once via a revision ledger + idempotent
    // net-diff upserts. The fixture commits three delta statements
    // (DELETE, two MERGEs), drops one marker per revision into a file
    // stream, and the consumer — bootstrapped from the base snapshot —
    // must converge the materialization to EXACTLY the table's head
    // (engine-required via symmetric except; the ledger must show each
    // revision applied once). StreamingSpec proves the other half:
    // restart-from-checkpoint resumes at the right revision. At 100 TB
    // each micro-batch costs one O(delta) feed read + a keyed upsert —
    // the downstream stays continuously fresh without ever re-reading
    // the table.
    // DSv2 STREAMING CHANGE-FEED SOURCE
    // ([[graft.streaming.ChangeFeedSourceProvider]]) — the feed as a
    // first-class `spark.readStream.format("graft-changefeed")`
    // micro-batch source: offset == catalog revision id, admission
    // control (`maxRevisionsPerTrigger`) bounds each trigger, and any
    // stock streaming operator or sink composes downstream — no hand-
    // written consumer loop. Engine-asserted: with
    // maxRevisionsPerTrigger=1 the three pending revisions arrive as
    // exactly three single-revision batches (the admission law); a
    // RESTART over the same checkpoint after a fourth commit consumes
    // ONLY revision 4 (offset-resume law). The oracle replays all
    // four revisions' row-level diffs relationally. Batches stage
    // their range to parquet before serving — an exactly-once sink
    // replaying a batch after vacuum still reads it byte-identical.
    keyed("stream_changefeed_source") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_cs
               |(o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet TBLPROPERTIES(
               | 'graft.delete.mode'='merge-on-read',
               | 'graft.merge.mode'='merge-on-read',
               | 'graft.row.id'='o_orderkey')""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_cs")
      s.sql(s"""INSERT INTO $cat.corp.orders_cs
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_cs WHERE o_orderkey % 4 < 2""".stripMargin)
      val revBase = headRevAt(kc.dir)
      // three delta revisions: delete, merge (update + insert), insert
      s.sql(s"DELETE FROM $cat.corp.orders_cs WHERE o_orderkey % 16 = 0")
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders_src_cs
          |WHERE o_orderkey % 8 = 4
          |UNION ALL
          |SELECT o_orderkey + 300000000, o_totalprice
          |FROM orders_src_cs WHERE o_orderkey % 8 = 5""".stripMargin)
        .createOrReplaceTempView("delta_cs")
      s.sql(s"""MERGE INTO $cat.corp.orders_cs t
               |USING delta_cs u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED THEN UPDATE SET
               |  o_totalprice = u.o_totalprice * 1.10D,
               |  o_orderstatus = 'U'
               |WHEN NOT MATCHED THEN INSERT
               |  (o_orderkey, o_orderstatus, o_totalprice)
               |  VALUES (u.o_orderkey, 'N', u.o_totalprice)""".stripMargin)
      // a plain INSERT appends in place (no catalog revision), so the
      // third revision is a matched MERGE like the second
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders_src_cs
          |WHERE o_orderkey % 8 = 1""".stripMargin)
        .createOrReplaceTempView("delta_cs2")
      s.sql(s"""MERGE INTO $cat.corp.orders_cs t
               |USING delta_cs2 u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED THEN UPDATE SET
               |  o_totalprice = u.o_totalprice * 0.90D,
               |  o_orderstatus = 'V'""".stripMargin)
      require(headRevAt(kc.dir) == revBase + 3,
        s"expected 3 delta revisions past $revBase")
      val out = Tables.scratch(d, "stream_cs_out")
      val cp = Tables.scratch(d, "stream_cs_cp")
      deleteQuietly(new java.io.File(out))
      deleteQuietly(new java.io.File(cp))
      val batchRevs =
        new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
      def run(): Unit = {
        val q = s.readStream.format("graft-changefeed")
          .option("snapshot", kc.dir).option("db", "corp")
          .option("table", "orders_cs").option("key", "o_orderkey")
          .option("startRevision", revBase.toString)
          .option("maxRevisionsPerTrigger", "1")
          .load()
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame,
              _: Long) =>
            val revs = b.select("_rev").distinct().collect()
              .map(_.getInt(0)).toSet
            if (revs.nonEmpty) batchRevs.add(revs): Unit
            b.write.mode("append").parquet(out)
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run()
      // ADMISSION LAW: three pending revisions, one per trigger
      val seen1 =
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          batchRevs.iterator()).asScala.toSeq
      require(seen1.length == 3 && seen1.forall(_.size == 1) &&
          seen1.flatten.toSet ==
            (revBase + 1 to revBase + 3).toSet,
        s"admission control must deliver 3 single-revision batches: " +
          s"$seen1")
      // a fourth revision lands AFTER the stream stopped; the restart
      // must resume at the committed offset and consume ONLY it
      s.sql(s"DELETE FROM $cat.corp.orders_cs WHERE o_orderkey % 16 = 4")
      batchRevs.clear()
      run()
      val seen2 =
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          batchRevs.iterator()).asScala.toSeq
      require(seen2 == Seq(Set(revBase + 4)),
        s"restart must consume exactly revision ${revBase + 4}: $seen2")
      s.read.parquet(out)
        .select(col("op"), col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"),
          (col("_rev") - lit(revBase)).cast("int").as("rev_seq"))
        .orderBy("rev_seq", "o_orderkey", "op")
    },

    keyed("stream_changefeed_upsert") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_scf
               |(o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
               | o_totalprice DOUBLE)
               |USING parquet TBLPROPERTIES(
               | 'graft.delete.mode'='merge-on-read',
               | 'graft.merge.mode'='merge-on-read',
               | 'graft.row.id'='o_orderkey')""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_scf")
      s.sql(s"""INSERT INTO $cat.corp.orders_scf
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_scf WHERE o_orderkey % 4 < 2""".stripMargin)
      val revBase = headRevAt(kc.dir)
      val cat2 = kc.readOnly(s)
      def stateAt(ss: SparkSession)(r: Int) = ss.sql(
        s"SELECT * FROM $cat2.corp.orders_scf VERSION AS OF '$r'")
      val out = Tables.scratch(d, "stream_scf_state")
      if (java.nio.file.Files.isSymbolicLink( // generation symlink
          java.nio.file.Paths.get(out)))
        java.nio.file.Files.delete(java.nio.file.Paths.get(out))
      deleteQuietly(new java.io.File(out))
      deleteQuietly(new java.io.File(out + "_applied"))
      deleteQuietly(new java.io.File(out + "_gen"))
      ChangeFeedStream.bootstrap(out, revBase, stateAt(s)(revBase))
      // three delta commits — each publishes one revision
      s.sql(s"DELETE FROM $cat.corp.orders_scf WHERE o_orderkey % 16 = 0")
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders_src_scf
          |WHERE o_orderkey % 8 = 4
          |UNION ALL
          |SELECT o_orderkey + 300000000, o_totalprice
          |FROM orders_src_scf WHERE o_orderkey % 8 = 5""".stripMargin)
        .createOrReplaceTempView("delta_scf1")
      s.sql(s"""MERGE INTO $cat.corp.orders_scf t
               |USING delta_scf1 u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED THEN UPDATE SET
               |  o_totalprice = u.o_totalprice * 1.10D,
               |  o_orderstatus = 'U'
               |WHEN NOT MATCHED THEN INSERT
               |  (o_orderkey, o_orderstatus, o_totalprice)
               |  VALUES (u.o_orderkey, 'N', u.o_totalprice)""".stripMargin)
      s.sql(
        """SELECT o_orderkey, o_totalprice FROM orders_src_scf
          |WHERE o_orderkey % 8 = 1
          |UNION ALL
          |SELECT o_orderkey + 400000000, o_totalprice
          |FROM orders_src_scf WHERE o_orderkey % 16 = 9""".stripMargin)
        .createOrReplaceTempView("delta_scf2")
      s.sql(s"""MERGE INTO $cat.corp.orders_scf t
               |USING delta_scf2 u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED THEN UPDATE SET
               |  o_totalprice = u.o_totalprice * 0.90D,
               |  o_orderstatus = 'V'
               |WHEN NOT MATCHED THEN INSERT
               |  (o_orderkey, o_orderstatus, o_totalprice)
               |  VALUES (u.o_orderkey, 'M', u.o_totalprice)""".stripMargin)
      val revHead = headRevAt(kc.dir)
      require(revHead == revBase + 3,
        s"expected 3 delta revisions, got $revBase -> $revHead")
      // one marker per revision into the stream source
      val src = Tables.scratch(d, "stream_scf_marks")
      deleteQuietly(new java.io.File(src))
      new java.io.File(src).mkdirs()
      for (r <- (revBase + 1) to revHead)
        java.nio.file.Files.writeString(
          new java.io.File(src, f"r$r%05d.txt").toPath, r.toString)
      val cp = Tables.scratch(d, "stream_scf_cp")
      deleteQuietly(new java.io.File(cp))
      val q = s.readStream.format("text")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            _: Long) =>
          val ss = batch.sparkSession
          val upTo = batch.agg(max(col("value").cast("int"))).head()
          if (!upTo.isNullAt(0))
            ChangeFeedStream.applyUpTo(ss, kc.dir, "corp", "orders_scf",
              "o_orderkey", out, upTo.getInt(0), stateAt(ss)): Unit
        }
        .option("checkpointLocation", cp)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      // exactly-once: each revision applied once, and the downstream
      // converged to EXACTLY the table's head state
      val ledger = ChangeFeedStream.applied(out)
      require(ledger == (revBase to revHead),
        s"ledger must show each revision applied once: $ledger")
      val head = s.table(s"$cat2.corp.orders_scf")
      val mat = s.read.parquet(out)
      require(mat.except(head).isEmpty && head.except(mat).isEmpty,
        "materialization diverged from the table head")
      mat.select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // partitioned complement of meta_v2_changefeed's commit-time CDC.
    keyed("meta_v2_cdf_scoped") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_pc
               |(o_orderkey BIGINT, o_totalprice DOUBLE,
               | o_orderstatus STRING)
               |USING parquet PARTITIONED BY (o_orderstatus)""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_pc")
      s.sql(s"""INSERT INTO $cat.corp.orders_pc
               |SELECT o_orderkey, o_totalprice, o_orderstatus
               |FROM orders_src_pc""".stripMargin)
      val locA = s"${kc.dir}/_warehouse/corp/orders_pc"
      // statement 1: MERGE confined to partition P (evens re-priced,
      // odd keys re-inserted under new ids)
      s.sql(
        """SELECT o_orderkey, o_totalprice * 1.05D AS o_totalprice,
          | 'P' AS o_orderstatus
          |FROM orders_src_pc
          |WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 0
          |UNION ALL
          |SELECT o_orderkey + 100000000, o_totalprice, 'P'
          |FROM orders_src_pc
          |WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 1""".stripMargin)
        .createOrReplaceTempView("delta_pc")
      s.sql(s"""MERGE INTO $cat.corp.orders_pc t
               |USING delta_pc u ON t.o_orderkey = u.o_orderkey
               |WHEN MATCHED THEN UPDATE SET
               |  o_totalprice = u.o_totalprice
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // statement 2: DELETE, still confined to P
      s.sql(s"""DELETE FROM $cat.corp.orders_pc
               |WHERE o_orderstatus = 'P' AND o_orderkey % 16 = 3
               |""".stripMargin)
      def headRev(): Int = headRevAt(kc.dir)
      val locB = CatalogTransfer.readLocal(s"${kc.dir}/revs/${headRev()}")
        .tables.find(_.name == "orders_pc").get.location
      // the inode proof: exactly P touched, F and O byte-identical
      val pd = PartitionCowChangeFeed.diff(locA, locB)
      require(pd.touched == Seq("o_orderstatus=P") &&
        pd.untouched.toSet ==
          Set("o_orderstatus=F", "o_orderstatus=O"),
        s"partition diff drifted: touched=${pd.touched} " +
          s"untouched=${pd.untouched}")
      val feed = PartitionCowChangeFeed.between(s, locA, locB,
        "o_orderkey")
      val ops = feed.select("op").distinct()
        .collect().map(_.getString(0)).toSet
      require(ops == Set("delete", "insert", "update_preimage",
        "update_postimage"), s"feed op classes vacuous: $ops")
      feed.select(col("op"), col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey", "op")
    },

    // CLUSTERED COMPACTION × AUTO STATS — the lifecycle composition
    // that makes file skipping pay at 100 TB. Phase 1 is the honest
    // NEGATIVE result: on an append-interleaved layout (every file
    // spans the whole key range) perfect per-file stats prune NOTHING
    // — a range predicate still reads all 8 files, because skipping is
    // a property of stats × CLUSTERING, not stats alone. Phase 2
    // compacts into a key-range-clustered generation and publishes it
    // with ALTER SET LOCATION on a table carrying graft.stats.auto —
    // the swap itself re-analyzes the new generation (no manual
    // analyze anywhere after the swap; a StatsPrunedScan serving at
    // all is the proof), closing the statless window every COW swap
    // otherwise opens. Both planned-file counts ride the oracle:
    // 8-of-8 interleaved, 1-of-8 clustered — same data, same stats
    // machinery, layout is the lever. The oracle replays the data
    // aggregate over raw parquet.
    keyed("meta_v2_cluster_stats") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_cl"
      s.sql(s"""CREATE TABLE $cat.corp.orders_cl
               |(o_orderkey BIGINT, o_totalprice DOUBLE)
               |USING parquet LOCATION '$loc'
               |TBLPROPERTIES ('${FileSkipping.AutoProp}' = 'true')
               |""".stripMargin)
      val src = Tables(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
      // 8 append-interleaved files: residue classes, so EVERY file
      // spans [0, maxKey] — the worst case for min/max skipping.
      // r19 opt (guide §2.6/§6): staged as ONE clustered job (each
      // class hashes whole to one task ⇒ one file per class, identical
      // bytes-modulo-row-order to the former 8 serial
      // filter+coalesce(1) appends, which cost 8 scans + 8 commits +
      // 8 incremental analyzes) and published with one analyze.
      stageClassFiles(src, pmod(col("o_orderkey"), lit(8L)), 8, loc)
      require(FileSkipping.analyze(loc).covered == 8,
        "expected 8 interleaved files")
      val maxKey = src.agg(max("o_orderkey")).head.getLong(0)
      val step = maxKey / 8 + 1
      def probe(): org.apache.spark.sql.DataFrame =
        s.table(s"$cat.corp.orders_cl").filter(col("o_orderkey") < step)
      val readsInterleaved = FileSkipping.plannedFiles(probe())
      // clustered compaction: stage a key-range generation (one job,
      // ranges are floor-division classes of the same 8 steps), then
      // ONE atomic swap — the auto property re-analyzes the new dir
      val gen2 = loc + "_clustered"
      stageClassFiles(s.read.parquet(loc),
        expr(s"o_orderkey div $step"), 8, gen2)
      s.sql(s"ALTER TABLE $cat.corp.orders_cl SET LOCATION '$gen2'")
      val readsClustered = FileSkipping.plannedFiles(probe())
      probe().agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
        .withColumn("files_read_interleaved", lit(readsInterleaved.toLong))
        .withColumn("files_read_clustered", lit(readsClustered.toLong))
    },

    // WRITE-AUDIT-PUBLISH over catalog BRANCHES
    // ([[WritableSnapshotCatalog.createBranch]]/`fastForward`) — the
    // staging-ref pattern (Iceberg wap.branch) on this catalog's
    // directory model: a branch is a full catalog dir bootstrapped
    // from head, branch DDL is the ordinary writable catalog attached
    // there (the whole revision/claim/OCC protocol applies verbatim),
    // and publish is ONE atomic fast-forward of main's head to the
    // audited branch snapshot — refused loudly if main advanced since
    // the fork. Engine-asserted: the branch COW UPDATE is INVISIBLE to
    // main while staged (isolation probe between write and publish);
    // the audit runs against branch state; the publish is exactly one
    // main revision. The oracle replays both phases. At 100 TB this is
    // the migration cutover discipline the reference's transfer story
    // needs: stage, validate against real reads, then one pointer swap
    // — a reader never sees an unaudited row.
    keyed("meta_v2_branch_wap") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_wap
               |(o_orderkey BIGINT, o_orderstatus STRING,
               | o_totalprice DOUBLE) USING parquet""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_wap")
      s.sql(s"""INSERT INTO $cat.corp.orders_wap
               |SELECT o_orderkey, o_orderstatus, o_totalprice
               |FROM orders_src_wap WHERE o_orderkey % 8 = 2""".stripMargin)
      def headRev(): Int = headRevAt(kc.dir)
      val revA = headRev()
      val preSum = s.table(s"$cat.corp.orders_wap")
        .agg(round(sum("o_totalprice"), 2)).head.getDouble(0)
      val preCount = s.table(s"$cat.corp.orders_wap").count()
      val plug = new WritableSnapshotCatalog
      plug.initialize(cat + "_wap",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", kc.dir)))
      require(plug.createBranch("audit") == revA,
        "branch must fork at the current head")
      // WRITE: the staged mutation runs on the BRANCH attach
      val bcat = cat + "_br"
      KeyCatalog.attach(s, bcat, classOf[WritableSnapshotCatalog],
        plug.branchDir("audit"))
      s.sql(s"""UPDATE $bcat.corp.orders_wap
               |SET o_totalprice = o_totalprice * 1.05
               |WHERE o_orderstatus = 'F'""".stripMargin)
      // APPEND through the branch: [[BranchCowAppendTable]] must stage
      // it copy-on-write — a stock in-place INSERT would drop files
      // into the fork-shared directory and leak past the audit gate
      s.sql(s"""INSERT INTO $bcat.corp.orders_wap
               |SELECT o_orderkey + 500000000, 'B', o_totalprice
               |FROM orders_src_wap WHERE o_orderkey % 16 = 6""".stripMargin)
      // ISOLATION: main serves the unaudited state untouched — neither
      // the UPDATE's rewrite nor the INSERT's appended rows visible
      val mainSum = s.table(s"$cat.corp.orders_wap")
        .agg(round(sum("o_totalprice"), 2)).head.getDouble(0)
      val mainCount = s.table(s"$cat.corp.orders_wap").count()
      require(mainSum == preSum && mainCount == preCount &&
          headRev() == revA,
        s"staged branch write leaked into main " +
          s"($preSum -> $mainSum, $preCount -> $mainCount rows, " +
          s"rev $revA -> ${headRev()})")
      // AUDIT: quality gates evaluated against BRANCH state
      val audited = s.table(s"$bcat.corp.orders_wap")
      require(audited.filter(col("o_totalprice") <= 0).isEmpty,
        "audit gate: non-positive price staged")
      require(audited.filter(col("o_orderstatus") === "F").count() > 0,
        "audit gate vacuous: no updated rows staged")
      require(audited.filter(col("o_orderstatus") === "B").count() > 0,
        "audit gate vacuous: no appended rows staged")
      // PUBLISH: one atomic fast-forward of main's head
      val revB = plug.fastForward("audit")
      require(revB == revA + 1,
        s"publish must be ONE revision, got $revA -> $revB")
      plug.dropBranch("audit"): Unit
      val cat2 = kc.readOnly(s)
      def ph(tag: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(tag).as("phase"), col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          round(col("o_totalprice"), 4).as("price"))
      ph("pre", s.sql(
          s"SELECT * FROM $cat2.corp.orders_wap VERSION AS OF '$revA'"))
        .unionByName(ph("post", s.table(s"$cat2.corp.orders_wap")))
        .orderBy("phase", "k")
    },

    // BRANCH REBASE ([[WritableSnapshotCatalog.rebaseBranch]]) — the
    // divergence recourse write-audit-publish needs: main advances on
    // a DISJOINT table while the audit stages its mutation, so the
    // publish is no longer a fast-forward (engine-required refusal
    // below); rebase three-way-merges main's head + the branch's
    // table-level changes into a new branch revision, advances the
    // fork marker, and the SAME fastForward then publishes atomically.
    // A genuine conflict (both sides changed one table differently)
    // refuses loudly naming the object — engine-required on a second
    // branch. At 100 TB all of this is KiB metadata arithmetic; the
    // audit's staged data generations ride along untouched.
    keyed("meta_v2_branch_rebase") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.nation_rbb
               |(n_nationkey INT, n_name STRING, n_regionkey INT)
               |USING parquet""".stripMargin)
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_rbb")
      s.sql(s"""INSERT INTO $cat.corp.nation_rbb
               |SELECT n_nationkey, n_name, n_regionkey
               |FROM nation_src_rbb""".stripMargin)
      val plug = new WritableSnapshotCatalog
      plug.initialize(cat + "_rb",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", kc.dir)))
      plug.createBranch("audit"): Unit
      val bcat = cat + "_br"
      KeyCatalog.attach(s, bcat, classOf[WritableSnapshotCatalog],
        plug.branchDir("audit"))
      // the audit stages its mutation on the branch...
      s.sql(s"""UPDATE $bcat.corp.nation_rbb SET n_name = lower(n_name)
               |WHERE n_regionkey = 2""".stripMargin)
      // ...while main advances on a DISJOINT table
      s.sql(s"""CREATE TABLE $cat.corp.region_rbb
               |(r_regionkey INT, r_name STRING) USING parquet""".stripMargin)
      Tables(s, d, "region").createOrReplaceTempView("region_src_rbb")
      s.sql(s"""INSERT INTO $cat.corp.region_rbb
               |SELECT r_regionkey, r_name FROM region_src_rbb""".stripMargin)
      // the publish is no longer a fast-forward — refused loudly
      val ff = scala.util.Try(plug.fastForward("audit"))
      require(ff.isFailure, "diverged fastForward must refuse")
      // REBASE: three-way merge, new fork = main's head; then publish
      val newBase = plug.rebaseBranch("audit")
      require(newBase == headRevAt(kc.dir),
        s"rebase must advance the fork to main's head")
      val pubRev = plug.fastForward("audit")
      require(pubRev == newBase + 1,
        s"post-rebase publish must be ONE revision ($newBase -> $pubRev)")
      plug.dropBranch("audit"): Unit
      // CONFLICT path: a second branch and main both mutate the SAME
      // table differently — rebase must refuse naming the object
      plug.createBranch("audit2"): Unit
      val b2 = cat + "_br2"
      KeyCatalog.attach(s, b2, classOf[WritableSnapshotCatalog],
        plug.branchDir("audit2"))
      s.sql(s"ALTER TABLE $b2.corp.region_rbb ADD COLUMN note STRING")
      s.sql(s"ALTER TABLE $cat.corp.region_rbb ADD COLUMN audit STRING")
      val c = scala.util.Try(plug.rebaseBranch("audit2"))
      require(c.isFailure && c.failed.get.getMessage.contains("region_rbb"),
        s"conflicting rebase must refuse naming the table: $c")
      plug.dropBranch("audit2"): Unit
      // published state through a read-only attach: branch's UPDATE
      // and main's new table BOTH present
      val cat2 = kc.readOnly(s)
      s.table(s"$cat2.corp.nation_rbb")
        .select(lit("nation").as("src"), col("n_nationkey").as("k"),
          col("n_name").as("name"))
        .unionByName(s.table(s"$cat2.corp.region_rbb")
          .select(lit("region").as("src"), col("r_regionkey").as("k"),
            col("r_name").as("name")))
        .orderBy("src", "k")
    },

    // CATALOG ROLLBACK ([[WritableSnapshotCatalog.rollback]]) — undo
    // as a FORWARD commit: rolling back to revision A publishes a new
    // revision whose content is byte-identical to A's, so the history
    // stays append-only (`VERSION AS OF` into the undone span keeps
    // serving, and the log shows the rollback itself — the Iceberg
    // rollback shape). Data is never touched: the COW location swap
    // runs backwards onto the still-live pre-mutation generation, with
    // every target location validated on disk first (a rollback past a
    // GC'd generation refuses loudly). Engine-asserted: the rollback
    // is exactly ONE revision; head serves the original rows while
    // VERSION AS OF the pre-rollback revision still serves the
    // mutation. The oracle replays both phases from the fixture. At
    // 100 TB the whole operation is the usual KiB metadata publish —
    // cost independent of table size, the entire point of undo-by-
    // repointing over undo-by-rewriting.
    keyed("meta_v2_rollback") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.nation_rb")
      s.sql(s"""CREATE TABLE $cat.corp.nation_rb
               |(n_nationkey INT, n_name STRING, n_regionkey INT)
               |USING parquet""".stripMargin)
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_rb")
      s.sql(s"""INSERT INTO $cat.corp.nation_rb
               |SELECT n_nationkey, n_name, n_regionkey
               |FROM nation_src_rb""".stripMargin)
      def headRev(): Int = headRevAt(kc.dir)
      val revA = headRev()
      // the mutation to undo: a COW UPDATE (new generation, rev B)
      s.sql(s"UPDATE $cat.corp.nation_rb SET n_name = lower(n_name)")
      val revB = headRev()
      require(revB > revA, s"UPDATE must publish a revision " +
        s"($revA -> $revB)")
      val plug = new WritableSnapshotCatalog
      plug.initialize(cat + "_rb",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", kc.dir)))
      val revC = plug.rollback(revA)
      require(revC == revB + 1,
        s"rollback must be ONE forward revision, got $revB -> $revC")
      val cat2 = kc.readOnly(s)
      def ph(tag: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(tag).as("phase"), col("n_nationkey").as("k"),
          col("n_name").as("name"))
      // head = the undo; the undone revision still time-travels
      ph("head", s.table(s"$cat2.corp.nation_rb"))
        .unionByName(ph("pre_rollback", s.sql(
          s"SELECT * FROM $cat2.corp.nation_rb VERSION AS OF '$revB'")))
        .orderBy("phase", "k")
    },

    // FILE-LEVEL MIN/MAX SKIPPING ([[FileSkipping]]) — the zone-map
    // half of a lakehouse manifest, catalog-side: analyze() persists
    // per-file footer stats (driver metadata, no row read); a filtered
    // scan then drops whole FILES the stats refute BEFORE tasks are
    // scheduled. The fixture lays orders out as 8 key-range files
    // (deterministic: one coalesced append per explicit range), so the
    // one-range predicate below must plan exactly 1 of 8 files — that
    // count is engine-asserted from the EXECUTING scan's own
    // planInputPartitions and emitted as oracled columns. Correctness
    // never depends on stats freshness (absent file/column/shape =>
    // read), so the oracle replaying the query over raw parquet proves
    // the pruned scan loses no rows. At 100 TB: parquet row-group
    // skipping still pays one task + one footer GET per file per
    // query; file skipping never schedules those tasks — a key-range
    // query over a clustered table touches only files that can match
    // (the Iceberg-manifest / Delta-add-file-stats design, re-expressed
    // over this catalog's KiB-per-table driver metadata).
    keyed("meta_v2_file_skipping") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_skip"
      s.sql(s"""CREATE TABLE $cat.corp.orders_skip
               |(o_orderkey BIGINT, o_orderstatus STRING,
               | o_totalprice DOUBLE, o_orderdate DATE)
               |USING parquet LOCATION '$loc'""".stripMargin)
      // cast to the TABLE schema (o_orderdate DATE) — the staged write
      // lands files directly, so the store-assignment cast the former
      // per-range INSERTs applied must happen here
      val src = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date")
            .as("o_orderdate"))
      val maxKey = src.agg(max("o_orderkey")).head.getLong(0)
      val step = maxKey / 8 + 1
      // 8 files with explicit contiguous key ranges — the clustered
      // layout a sorted write / zorder compaction would produce
      // (staged in one clustered job, [[stageClassFiles]])
      stageClassFiles(src, expr(s"o_orderkey div $step"), 8, loc)
      val covered = FileSkipping.analyze(loc).covered
      require(covered == 8,
        s"expected exactly 8 stats-covered files, got $covered")
      // the filtered read — served through a SECOND read-only attach,
      // so pruning rides the plain serving path, not a writer cache
      val cat2 = kc.readOnly(s)
      val q = s.table(s"$cat2.corp.orders_skip")
        .filter(col("o_orderkey") < step)
      // pruning evidence from the EXECUTING scan's plan: the pruned
      // batch must keep exactly the one file whose range can match
      val filesRead = FileSkipping.plannedFiles(q)
      q.agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"),
          date_format(min(col("o_orderdate")), "yyyy-MM-dd")
            .as("min_date"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd")
            .as("max_date"))
        .withColumn("files_total", lit(covered.toLong))
        .withColumn("files_read", lit(filesRead.toLong))
    },

    // INCREMENTAL SHARDED STATS HARVEST ([[FileSkipping.analyze]] v2)
    // — the manifest maintenance leg of file skipping at manifest
    // scale: footers are read EXECUTOR-PARALLEL (one Spark job over
    // the file list, never a driver loop), persisted as immutable
    // uuid-named shards under `_graft_stats.d/` behind one atomic
    // pointer swap, and re-analyze is O(delta) — the second analyze
    // below re-reads exactly the 4 appended files' footers and
    // re-references the first shard byte-identical (engine-required,
    // and the harvested/reused counts ride out as oracled columns).
    // The pruned read then proves the incrementally-built manifest
    // serves exactly like a full one: 1 of 8 range files planned.
    // At 100 TB (~10⁵–10⁶ files) this is the difference between a
    // per-swap driver stall re-footering the world and a KiB-sized
    // job over the delta — the Iceberg manifest-list shape.
    keyed("meta_v2_stats_incremental") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_inc"
      s.sql(s"""CREATE TABLE $cat.corp.orders_inc
               |(o_orderkey BIGINT, o_totalprice DOUBLE)
               |USING parquet LOCATION '$loc'""".stripMargin)
      val src = Tables(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
      val maxKey = src.agg(max("o_orderkey")).head.getLong(0)
      val step = maxKey / 8 + 1
      // each append wave staged as ONE clustered job; the two waves
      // stay separate statements — the (4,4,0)/(8,4,4) incremental law
      // is about analyze generations, not how a wave's files landed
      def appendWave(lo: Long, hi: Long): Unit =
        stageClassFiles(src.filter(col("o_orderkey") >= lo * step &&
            col("o_orderkey") < hi * step),
          expr(s"o_orderkey div $step"), (hi - lo).toInt, loc)
      appendWave(0L, 4L)
      val r1 = FileSkipping.analyze(loc)
      require(r1 == FileSkipping.AnalyzeResult(4, 4, 0),
        s"first analyze must harvest all 4 files, got $r1")
      appendWave(4L, 8L)
      val r2 = FileSkipping.analyze(loc)
      require(r2 == FileSkipping.AnalyzeResult(8, 4, 4),
        s"incremental analyze must harvest ONLY the 4 appended " +
          s"files and reuse the first shard, got $r2")
      val cat2 = kc.readOnly(s)
      val q = s.table(s"$cat2.corp.orders_inc")
        .filter(col("o_orderkey") >= 6 * step &&
          col("o_orderkey") < 7 * step)
      val filesRead = FileSkipping.plannedFiles(q)
      q.agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
        .withColumn("files_total", lit(8L))
        .withColumn("files_read", lit(filesRead.toLong))
        .withColumn("harvested_2nd", lit(r2.harvested.toLong))
        .withColumn("reused_2nd", lit(r2.reused.toLong))
    },

    // STORAGE-PARTITIONED JOIN between two co-partitioned shared-
    // catalog tables — the shuffle-elimination feature of a catalog at
    // 100 TB: both tables are laid out on the same bucket column
    // (identity partition), each hive directory becomes one KEYED
    // split ([[CoPartitioned]]: HasPartitionKey +
    // KeyGroupedPartitioning, the mechanism lakehouse table formats
    // use), and Spark's stock planner aligns the sides split-by-split
    // — the fact⋈dim join AND the bucket-grouped aggregate after it
    // run with ZERO exchanges (engine-asserted below on the exact plan
    // that executes). Opt-in via the graft SPJ flag (the stock
    // v2.bucketing flag defaults true on Spark 4 and so cannot be the
    // opt-in — CoPartitioned.spjEnabled), scoped to this key;
    // requireAllClusterKeysForCoPartition=false admits the
    // realistic shape where join keys ⊃ partition keys (bucket +
    // business key). The result is materialized inside the conf scope
    // (localCheckpoint) so the plan that ran IS the plan asserted. At
    // 100 TB this is bucketed-layout maintenance paying for itself:
    // the join reads both sides in place, no exchange of either.
    keyed("join_spj_copartitioned") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.fact_o
               |(o_custkey BIGINT, o_totalprice DOUBLE, ob INT)
               |USING parquet PARTITIONED BY (ob)""".stripMargin)
      s.sql(s"""CREATE TABLE $cat.corp.dim_c
               |(c_custkey BIGINT, c_acctbal DOUBLE, cb INT)
               |USING parquet PARTITIONED BY (cb)""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_spj")
      Tables(s, d, "customer").createOrReplaceTempView("customer_spj")
      s.sql(s"""INSERT INTO $cat.corp.fact_o
               |SELECT o_custkey, o_totalprice,
               |  CAST(o_custkey % 8 AS INT) AS ob
               |FROM orders_spj""".stripMargin)
      s.sql(s"""INSERT INTO $cat.corp.dim_c
               |SELECT c_custkey, c_acctbal,
               |  CAST(c_custkey % 8 AS INT) AS cb
               |FROM customer_spj""".stripMargin)
      val cat2 = kc.readOnly(s)
      graft.operators.ScaleOps.withConfs(s, Seq(
        "spark.sql.graft.spj.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
        val agg = s.sql(
          s"""SELECT f.ob, COUNT(*) AS n_pairs,
             |  ROUND(SUM(f.o_totalprice), 4) AS sum_price,
             |  ROUND(SUM(c.c_acctbal), 4) AS sum_bal
             |FROM $cat2.corp.fact_o f JOIN $cat2.corp.dim_c c
             |  ON f.ob = c.cb AND f.o_custkey = c.c_custkey
             |GROUP BY f.ob""".stripMargin)
        val plan = agg.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
          s"storage-partitioned join must run with zero exchanges:\n$plan")
        // materialize while the SPJ confs hold: the asserted plan is
        // the one that executes (8 aggregate rows checkpointed)
        agg.localCheckpoint().orderBy("ob")
      }
    },

    // PARTITION MANAGEMENT through the V2 catalog (SHOW PARTITIONS —
    // the HMS partition-service read surface the reference provisions;
    // metastore-import.tf:112-117): the partitioned V2 table serves
    // SupportsPartitionManagement with the hive-style directory LAYOUT
    // as source of truth (exactly what recoverPartitions trusts), so
    // SHOW PARTITIONS is a driver-side directory listing — O(|dirs|),
    // independent of data size. The oracle re-derives the expected
    // partition set from the data: layout and content must agree.
    keyed("meta_v2_partition_mgmt") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.orders_m
               |(o_orderkey BIGINT, o_orderstatus STRING)
               |USING parquet PARTITIONED BY (o_orderstatus)""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_m")
      s.sql(s"""INSERT INTO $cat.corp.orders_m
               |SELECT o_orderkey, o_orderstatus FROM orders_src_m"""
        .stripMargin)
      s.sql(s"SHOW PARTITIONS $cat.corp.orders_m")
        .orderBy("partition")
    },

    // PERMANENT FUNCTIONS through the V2 catalog — the last metastore
    // object family (HMS CREATE FUNCTION ... AS 'class'): the writable
    // catalog registers an implementation CLASS NAME (persisted +
    // revisioned like any DDL; registration is programmatic — the V2
    // FunctionCatalog interface is read-only by design), and a second
    // attach resolves `SELECT ro.corp.hav_km(...)` through core
    // Spark's own V2 function resolution (FunctionCatalog IS
    // analyzer-wired, unlike views) — zero session registration, and
    // the magic-method ScalarFunction binds with codegen. The oracle
    // replays the haversine formula in SQL: the class's arithmetic
    // must match the engine-independent math.
    keyed("meta_v2_function") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[WritableSnapshotCatalog]
        .registerFunction("corp", "hav_km",
          classOf[graft.functions.HaversineKm].getName)
      val cat2 = kc.readOnly(s)
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_f")
      s.sql(s"""SELECT n_nationkey, n_name,
               |  ROUND($cat2.corp.hav_km(
               |    CAST(n_nationkey * 7 % 180 AS DOUBLE) - 90 + 0.5,
               |    CAST(n_nationkey * 13 % 360 AS DOUBLE) - 180 + 0.5,
               |    48.85D, 2.35D), 4) AS dist_km
               |FROM nation_src_f ORDER BY n_nationkey""".stripMargin)
    },

    // PARTITIONED CREATE through the writable catalog — the
    // metastore's core object (HMS partition service,
    // metastore-import.tf:112-117) on the WRITE side: a writer lands a
    // partitioned table by name, the INSERT lays out real hive-style
    // `col=value` directories (via the V1 write fallback —
    // [[PartitionedWriteTable]]; Spark's V2 file write would silently
    // flatten the layout), and a second read-only attach resolves the
    // table and PRUNES partitions on the filter below (PartitionFilters
    // asserted in CatalogSpec). The oracle proves the partition-split
    // write loses and duplicates nothing.
    // HIDDEN BUCKET PARTITIONING ([[TransformPartition]]) — CREATE
    // TABLE ... PARTITIONED BY (bucket(4, o_custkey)): the catalog
    // derives `o_custkey_bucket=k` directories engine-side on INSERT
    // (users never write the derived column), TRANSLATES a pushed
    // `o_custkey = K` into the implied bucket predicate so the stock
    // scan partition-prunes (engine-asserted: the probe plans files
    // from exactly ONE bucket dir, through a second read-only attach),
    // and composes with row-level DML: the scoped DELETE below
    // rewrites ONLY the matched bucket — an untouched bucket's file
    // survives BY INODE (hard-link carry-over, engine-asserted). At
    // 100 TB this is how a fact table keyed on a high-cardinality id
    // is laid out: point lookups touch 1/N of the files, bucket-local
    // DML rewrites 1/N of the bytes, and no user query ever mentions
    // the derived column. Bucket fn = pmod (oracle-replayable; murmur
    // would drop in behind the same PartDeriver seam).
    keyed("meta_v2_part_bucket") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_pb"
      s.sql(s"""CREATE TABLE $cat.corp.orders_pb
               |(o_orderkey BIGINT, o_custkey BIGINT,
               | o_totalprice DOUBLE)
               |USING parquet
               |PARTITIONED BY (bucket(4, o_custkey))
               |LOCATION '$loc'""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_pb")
      s.sql(s"""INSERT INTO $cat.corp.orders_pb
               |SELECT o_orderkey, o_custkey, o_totalprice
               |FROM orders_src_pb""".stripMargin)
      // the engine laid out bucket dirs — no user-visible derived col
      val dirs = Option(new java.io.File(loc).list()).toSeq.flatten
        .filter(_.startsWith("o_custkey_bucket=")).sorted
      require(dirs == (0 to 3).map(i => s"o_custkey_bucket=$i"),
        s"bucket layout missing: $dirs")
      val cat2 = kc.readOnly(s)
      require(!s.table(s"$cat2.corp.orders_pb").columns
          .contains("o_custkey_bucket"),
        "derived bucket column must stay hidden")
      // point-lookup pruning: the pushed o_custkey = K implies ONE
      // bucket dir — asserted on the executing scan's planned files
      val probeKey = s.sql(
        "SELECT min(o_custkey) FROM orders_src_pb").head.getLong(0)
      val probe = s.table(s"$cat2.corp.orders_pb")
        .filter(col("o_custkey") === probeKey)
      val probeDirs = plannedPartDirs(probe)
      require(probeDirs == Set(s"o_custkey_bucket=${probeKey % 4}"),
        s"bucket pruning failed: planned $probeDirs for key $probeKey")
      // scoped DML: the DELETE matches exactly bucket 1; untouched
      // buckets carry over BY INODE (hard link, zero bytes moved)
      def inodesOf(location: String, bucket: Int): Set[Long] = {
        val bd = new java.io.File(Generation.path(location),
          s"o_custkey_bucket=$bucket")
        Option(bd.listFiles()).toSeq.flatten
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".")) // .crc checksum litter
          .map(f => java.nio.file.Files.getAttribute(f.toPath,
            "unix:ino").asInstanceOf[Long]).toSet
      }
      val inodes0 = inodesOf(loc, 0)
      require(inodes0.nonEmpty, "bucket 0 empty before the delete")
      s.sql(s"DELETE FROM $cat.corp.orders_pb WHERE o_custkey % 4 = 1")
      val newLoc = CatalogTransfer.readLocal(
          s"${kc.dir}/revs/${headRevAt(kc.dir)}").tables
        .find(_.name == "orders_pb").get.location
      require(Generation.path(newLoc) != Generation.path(loc),
        "scoped DELETE must publish a fresh generation")
      require(inodesOf(newLoc, 0) == inodes0,
        s"untouched bucket 0 must carry over by hard link: " +
          s"$inodes0 -> ${inodesOf(newLoc, 0)} (newLoc=$newLoc)")
      require(Option(new java.io.File(Generation.path(newLoc),
          "o_custkey_bucket=1").listFiles()).toSeq.flatten
          .forall(f => !f.isFile || f.getName.startsWith("_")),
        "matched bucket 1 must be rewritten empty")
      s.table(s"$cat2.corp.orders_pb")
        .groupBy(pmod(col("o_custkey"), lit(4L)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
        .withColumn("probe_dirs", lit(probeDirs.size.toLong))
        .orderBy("bucket")
    },

    // MURMUR3 BUCKET — PARTITIONED BY (bucket_hash(8, key)): Iceberg's
    // production bucket function ((murmur3_x86_32(LE64(v)) & max) % N,
    // [[BucketHashDeriver]]) behind the same PartDeriver seam as the
    // oracle-replayable pmod bucket. Skew resistance is the point:
    // correlated keys (sequential ids, hot tenants) fold straight into
    // a pmod layout, while murmur decorrelates them. DuckDB cannot
    // replay murmur3-32, so the layout laws are GOLDEN-PINNED engine-
    // side (the BPE discipline): Iceberg's published vector
    // hash(34L) == 2017239379 pins the hash itself; the dir set must
    // equal the deriver's image of the key set; a point probe plans
    // exactly 1 of the N dirs; scoped DML rewrites one bucket and
    // hard-links the rest. The SQL-replayable CONTENT (post-delete
    // rows) still oracles in DuckDB.
    keyed("meta_v2_part_bucket_hash") { (s, d, kc) =>
      require(BucketHashDeriver.hash(34L) == 2017239379,
        "murmur3-32 bucket hash diverges from Iceberg's published " +
          s"vector: hash(34L) = ${BucketHashDeriver.hash(34L)}")
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_ph"
      s.sql(s"""CREATE TABLE $cat.corp.orders_ph
               |(o_orderkey BIGINT, o_custkey BIGINT,
               | o_totalprice DOUBLE)
               |USING parquet
               |PARTITIONED BY (bucket_hash(8, o_custkey))
               |LOCATION '$loc'""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_ph")
      s.sql(s"""INSERT INTO $cat.corp.orders_ph
               |SELECT o_orderkey, o_custkey, o_totalprice
               |FROM orders_src_ph""".stripMargin)
      // LAYOUT LAW: the dir set equals the deriver's image of the
      // actual key set — write expression and scalar deriver agree
      val deriver = BucketHashDeriver(
        org.apache.spark.sql.types.StructField("o_custkey",
          org.apache.spark.sql.types.LongType), 8)
      val expected = s.sql(
          "SELECT DISTINCT o_custkey FROM orders_src_ph")
        .collect().map(r => deriver.derive(r.getLong(0))).toSet
      val dirs = Option(new java.io.File(loc).list()).toSeq.flatten
        .filter(_.startsWith("o_custkey_bhash=")).toSet
      require(dirs == expected.map(b => s"o_custkey_bhash=$b"),
        s"layout diverges from the deriver image: $dirs")
      val cat2 = kc.readOnly(s)
      // POINT-PROBE LAW: 1 of the N dirs
      val probeKey = s.sql(
        "SELECT min(o_custkey) FROM orders_src_ph").head.getLong(0)
      val probe = s.table(s"$cat2.corp.orders_ph")
        .filter(col("o_custkey") === probeKey)
      val probeDirs = plannedPartDirs(probe)
      require(probeDirs ==
          Set(s"o_custkey_bhash=${deriver.derive(probeKey)}"),
        s"hash-bucket pruning failed: $probeDirs for key $probeKey")
      // SCOPED DML: deleting one key rewrites its bucket only; a
      // sibling bucket carries over by inode
      val delBucket = deriver.derive(probeKey).asInstanceOf[Int]
      val sibling = dirs.find(_ !=
        s"o_custkey_bhash=$delBucket").getOrElse(
        throw new IllegalStateException("need a sibling bucket"))
      def inodesOf(location: String, rel: String): Set[Long] =
        Option(new java.io.File(Generation.path(location), rel)
          .listFiles()).toSeq.flatten
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .map(f => java.nio.file.Files.getAttribute(f.toPath,
            "unix:ino").asInstanceOf[Long]).toSet
      val sibInodes = inodesOf(loc, sibling)
      s.sql(s"DELETE FROM $cat.corp.orders_ph " +
        s"WHERE o_custkey = $probeKey")
      val newLoc = CatalogTransfer.readLocal(
          s"${kc.dir}/revs/${headRevAt(kc.dir)}").tables
        .find(_.name == "orders_ph").get.location
      require(Generation.path(newLoc) != Generation.path(loc),
        "scoped DELETE must publish a fresh generation")
      require(inodesOf(newLoc, sibling) == sibInodes,
        "sibling hash bucket must carry over by hard link")
      require(inodesOf(newLoc,
          s"o_custkey_bhash=$delBucket").intersect(
          inodesOf(loc, s"o_custkey_bhash=$delBucket")).isEmpty,
        "the deleted key's bucket must be rewritten, not linked")
      // SQL-replayable content: the post-delete subset + pinned laws
      s.table(s"$cat2.corp.orders_ph")
        .filter(col("o_custkey") % 8 === 3)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .withColumn("probe_dirs", lit(probeDirs.size.toLong))
        .withColumn("golden_hash_34",
          lit(BucketHashDeriver.hash(34L).toLong))
        .withColumn("deleted_left", lit(s.table(s"$cat2.corp.orders_ph")
          .filter(col("o_custkey") === probeKey).count()))
        .orderBy("o_orderkey")
    },

    // HIDDEN TIME PARTITIONING — PARTITIONED BY (days(o_orderdate)):
    // the catalog lands `o_orderdate_day=yyyy-MM-dd` directories
    // engine-side, and a pushed TIMESTAMP RANGE on the source column
    // translates into the implied day range (days is monotone), so
    // the stock scan prunes to the window's directories —
    // engine-asserted below: a one-week probe plans files from ≤ 7
    // day dirs out of the table's thousands. This is THE layout for
    // time-series fact tables at 100 TB (every retention sweep, every
    // backfill, every dashboard window is a directory subset), with
    // no user-written derived column anywhere.
    keyed("meta_v2_part_days") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_pd"
      s.sql(s"""CREATE TABLE $cat.corp.orders_pd
               |(o_orderkey BIGINT, o_orderdate TIMESTAMP,
               | o_totalprice DOUBLE)
               |USING parquet
               |PARTITIONED BY (days(o_orderdate))
               |LOCATION '$loc'""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_pd")
      // half a year of days — plenty of dirs to prove pruning without
      // the fixture write itself dominating the key
      s.sql(s"""INSERT INTO $cat.corp.orders_pd
               |SELECT o_orderkey, o_orderdate, o_totalprice
               |FROM orders_src_pd
               |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
               |  AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
               |""".stripMargin)
      val allDirs = Option(new java.io.File(loc).list()).toSeq.flatten
        .count(_.startsWith("o_orderdate_day="))
      require(allDirs > 30, s"day layout missing: $allDirs dirs")
      val cat2 = kc.readOnly(s)
      val lo = "1995-03-01"
      val hi = "1995-03-08" // exclusive
      val q = s.table(s"$cat2.corp.orders_pd")
        .filter(col("o_orderdate") >=
            to_timestamp(lit(s"$lo 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit(s"$hi 00:00:00")))
      val probeDirs = plannedPartDirs(q)
      require(probeDirs.nonEmpty && probeDirs.size <= 7 &&
          probeDirs.forall { p =>
            val day = p.stripPrefix("o_orderdate_day=")
            day >= lo && day < hi
          } && probeDirs.size < allDirs,
        s"day-range pruning failed: $probeDirs of $allDirs dirs")
      q.groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
        .withColumn("dirs_planned", lit(probeDirs.size.toLong))
        .orderBy("day")
    },

    // MONTH GRANULARITY — the same [[TimeDeriver]] seam at calendar-
    // month resolution (`o_orderdate_month=yyyy-MM` dirs; years(ts)
    // shares the code path and differs only in the rendered unit).
    // Hidden partitioning's granularity ladder matters at 100 TB:
    // month dirs keep the directory count bounded for decade-deep
    // retention while a quarter-window probe still prunes to 3 of the
    // table's months (engine-asserted below, incl. the tight `<` at
    // an exact month boundary). DML composes through the identical
    // deriver-generalized partition-scoped COW as bucket/days.
    keyed("meta_v2_part_months") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_pm"
      s.sql(s"""CREATE TABLE $cat.corp.orders_pm
               |(o_orderkey BIGINT, o_orderdate TIMESTAMP,
               | o_totalprice DOUBLE)
               |USING parquet
               |PARTITIONED BY (months(o_orderdate))
               |LOCATION '$loc'""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_pm")
      s.sql(s"""INSERT INTO $cat.corp.orders_pm
               |SELECT o_orderkey, o_orderdate, o_totalprice
               |FROM orders_src_pm""".stripMargin)
      val allDirs = Option(new java.io.File(loc).list()).toSeq.flatten
        .count(_.startsWith("o_orderdate_month="))
      require(allDirs > 24, s"month layout missing: $allDirs dirs")
      val cat2 = kc.readOnly(s)
      val q = s.table(s"$cat2.corp.orders_pm")
        .filter(col("o_orderdate") >=
            to_timestamp(lit("1995-04-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1995-07-01 00:00:00")))
      val probeDirs = plannedPartDirs(q)
      require(probeDirs == Set("o_orderdate_month=1995-04",
          "o_orderdate_month=1995-05", "o_orderdate_month=1995-06"),
        s"month-range pruning failed: $probeDirs of $allDirs dirs")
      q.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
        .withColumn("dirs_planned", lit(probeDirs.size.toLong))
        .orderBy("month")
    },

    // COMPOSITE HIDDEN PARTITIONING — PARTITIONED BY (days(ts),
    // bucket(4, key)): the canonical 100 TB fact-table layout, time
    // pruning AND write fan-in control on ONE table as nested
    // `ts_day=.../key_bucket=k` dirs. Everything composes per level:
    // a (time-range AND key-point) probe pushes BOTH implied derived
    // conjuncts and the stock scan plans exactly the intersected cell
    // set (engine-asserted: 7 day dirs x 1 bucket); row-level DML
    // scopes at the (day,bucket) CELL via the _partition-keyed runtime
    // group filter — a partial-cell DELETE rewrites ONE cell keeping
    // its survivors while sibling cells of the same day and every
    // other day carry over BY INODE. At scale: a daily retention sweep
    // or GDPR key purge touches days x 1 bucket of directories, never
    // the table.
    keyed("meta_v2_part_multi") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_px"
      s.sql(s"""CREATE TABLE $cat.corp.orders_px
               |(o_orderkey BIGINT, o_custkey BIGINT,
               | o_orderdate TIMESTAMP, o_totalprice DOUBLE)
               |USING parquet
               |PARTITIONED BY (days(o_orderdate), bucket(4, o_custkey))
               |LOCATION '$loc'""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_px")
      // six weeks of days x buckets. Each source row lands FOUR
      // variants — both orderkey parities in the row's own bucket AND
      // in the adjacent bucket — so every populated day
      // deterministically holds >= 2 buckets and every populated cell
      // holds BOTH parities, at any scale factor: the partial-cell
      // delete below always has matches AND survivors, and the
      // same-day sibling-bucket hard-link law always has a sibling.
      s.sql(s"""WITH w AS (
               |  SELECT o_orderkey, o_custkey, o_orderdate,
               |    o_totalprice FROM orders_src_px
               |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
               |    AND o_orderdate <  TIMESTAMP '1995-02-12 00:00:00')
               |INSERT INTO $cat.corp.orders_px
               |SELECT o_orderkey * 2, o_custkey, o_orderdate,
               |  o_totalprice FROM w
               |UNION ALL
               |SELECT o_orderkey * 2 + 1, o_custkey, o_orderdate,
               |  o_totalprice FROM w
               |UNION ALL
               |SELECT o_orderkey * 2 + 600000000, o_custkey + 1,
               |  o_orderdate, o_totalprice FROM w
               |UNION ALL
               |SELECT o_orderkey * 2 + 800000001, o_custkey + 1,
               |  o_orderdate, o_totalprice FROM w
               |""".stripMargin)
      // the engine laid out NESTED derived dirs (day above bucket)
      val dayDirs = Option(new java.io.File(loc).listFiles()).toSeq
        .flatten.filter(f => f.isDirectory &&
          f.getName.startsWith("o_orderdate_day="))
      require(dayDirs.size > 10, s"day layout missing: ${dayDirs.size}")
      require(dayDirs.forall(dd => Option(dd.list()).toSeq.flatten
          .exists(_.startsWith("o_custkey_bucket="))),
        "bucket dirs missing under day dirs")
      val cat2 = kc.readOnly(s)
      require(!s.table(s"$cat2.corp.orders_px").columns.exists(c =>
          c == "o_orderdate_day" || c == "o_custkey_bucket"),
        "derived columns must stay hidden")
      // INTERSECTED pruning: one week AND one key -> exactly the
      // (day in week) x (key's bucket) cells that exist
      val probeKey = s.sql(
        """SELECT min(o_custkey) FROM orders_src_px
          |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          |  AND o_orderdate <  TIMESTAMP '1995-02-12 00:00:00'"""
          .stripMargin).head.getLong(0)
      val lo = "1995-01-15"
      val hi = "1995-01-22" // exclusive
      val probe = s.table(s"$cat2.corp.orders_px")
        .filter(col("o_orderdate") >=
            to_timestamp(lit(s"$lo 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit(s"$hi 00:00:00")) &&
          col("o_custkey") === probeKey)
      val probeCells = plannedCellDirs(probe, 2)
      // (0 planned cells is legitimate at tiny SFs — the key's bucket
      // may hold no rows in the probed week; the count stays pinned)
      require(probeCells.size <= 7 &&
          probeCells.forall { c =>
            val Array(dayC, bktC) = c.split('/')
            val day = dayC.stripPrefix("o_orderdate_day=")
            day >= lo && day < hi &&
              bktC == s"o_custkey_bucket=${probeKey % 4}"
          },
        s"intersected pruning failed: $probeCells for key $probeKey")
      // CELL-scoped partial DELETE: one (day, bucket) cell rewritten
      // with its survivors kept; the SAME day's sibling bucket and a
      // different day carry over by inode (hard link, zero bytes)
      def inodesOf(location: String, rel: String): Set[Long] = {
        val bd = new java.io.File(Generation.path(location), rel)
        Option(bd.listFiles()).toSeq.flatten
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .map(f => java.nio.file.Files.getAttribute(f.toPath,
            "unix:ino").asInstanceOf[Long]).toSet
      }
      // touched cell chosen PROGRAMMATICALLY: the first day with >= 2
      // populated buckets (guaranteed by the 4-variant synthesis),
      // its smallest bucket; sibling = the same day's next bucket;
      // other-day = any cell from a different day. The oracle replays
      // the identical deterministic choice.
      val cellList = s.sql(
        s"""SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS dd,
           |  o_custkey % 4 AS b
           |FROM $cat.corp.orders_px GROUP BY 1, 2""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val byDay = cellList.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted).toMap
      val multiDays = byDay.filter(_._2.size >= 2).keys.toSeq.sorted
      require(multiDays.nonEmpty && byDay.size >= 2,
        s"fixture needs a two-bucket day and a second day: $byDay")
      val tDay = multiDays.head
      val tBucket = byDay(tDay).head
      val sBucket = byDay(tDay)(1)
      val (oDay, oBucket) = cellList.filter(_._1 != tDay)
        .minBy(c => (c._1, c._2))
      val touched =
        s"o_orderdate_day=$tDay/o_custkey_bucket=$tBucket"
      val sibling =
        s"o_orderdate_day=$tDay/o_custkey_bucket=$sBucket"
      val otherDay =
        s"o_orderdate_day=$oDay/o_custkey_bucket=$oBucket"
      val sibInodes = inodesOf(loc, sibling)
      val otherInodes = inodesOf(loc, otherDay)
      require(sibInodes.nonEmpty && otherInodes.nonEmpty,
        "fixture cells empty before the delete")
      val survivors = s.sql(
        s"""SELECT count(*) FROM $cat.corp.orders_px
           |WHERE date_format(o_orderdate, 'yyyy-MM-dd') = '$tDay'
           |  AND o_custkey % 4 = $tBucket AND o_orderkey % 2 = 1"""
          .stripMargin).head.getLong(0)
      require(survivors > 0, "parity variant missing from the fixture")
      s.sql(s"""DELETE FROM $cat.corp.orders_px
               |WHERE o_orderdate >= TIMESTAMP '$tDay 00:00:00'
               |  AND o_orderdate < TIMESTAMP '$tDay 00:00:00'
               |    + INTERVAL 1 DAY
               |  AND o_custkey % 4 = $tBucket AND o_orderkey % 2 = 0"""
        .stripMargin)
      val newLoc = CatalogTransfer.readLocal(
          s"${kc.dir}/revs/${headRevAt(kc.dir)}").tables
        .find(_.name == "orders_px").get.location
      require(Generation.path(newLoc) != Generation.path(loc),
        "cell-scoped DELETE must publish a fresh generation")
      require(inodesOf(newLoc, sibling) == sibInodes,
        "same-day sibling bucket must carry over by hard link")
      require(inodesOf(newLoc, otherDay) == otherInodes,
        "untouched day must carry over by hard link")
      require(inodesOf(newLoc, touched).intersect(
          inodesOf(loc, touched)).isEmpty,
        "touched cell must be rewritten, not linked")
      // the partial-cell rewrite KEPT the cell's survivors (the bug
      // class where a scoped rewrite serves zero rows would drop them)
      val after = s.sql(
        s"""SELECT count(*) FROM $cat.corp.orders_px
           |WHERE date_format(o_orderdate, 'yyyy-MM-dd') = '$tDay'
           |  AND o_custkey % 4 = $tBucket""".stripMargin)
        .head.getLong(0)
      require(after == survivors,
        s"partial-cell rewrite lost survivors: $after != $survivors")
      s.table(s"$cat2.corp.orders_px")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd")
            .as("day"),
          pmod(col("o_custkey"), lit(4L)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
        .withColumn("probe_cells", lit(probeCells.size.toLong))
        .orderBy("day", "bucket")
    },

    // TRANSFORM-AWARE COMPACTION ([[TransformCompaction]]) — the
    // small-file story for hidden-partitioned tables: each clustered
    // statement write lands ONE file per day, so three statements
    // leave three files per January day while a single February
    // statement leaves one. Compaction rewrites exactly the >= 2-file
    // cells to one file each IN the derived layout (one Spark job,
    // single-file cells never opened), hard-links the rest, swaps the
    // location atomically — and the incremental stats path re-reads
    // ONLY the freshly-compacted files (AnalyzeResult law asserted:
    // harvested == compacted cells, reused == linked files). The
    // daily-append maintenance loop at 100 TB: O(small cells) work,
    // never a table rewrite.
    keyed("meta_v2_part_compact") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_pc"
      s.sql(s"""CREATE TABLE $cat.corp.orders_pc
               |(o_orderkey BIGINT, o_orderdate TIMESTAMP,
               | o_totalprice DOUBLE)
               |USING parquet
               |PARTITIONED BY (days(o_orderdate))
               |LOCATION '$loc'""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_pc")
      // three statements over January (one file per day per
      // statement) + one statement over early February (one file per
      // day — the always-linked cells)
      for (i <- 0 to 2)
        s.sql(s"""INSERT INTO $cat.corp.orders_pc
                 |SELECT o_orderkey, o_orderdate, o_totalprice
                 |FROM orders_src_pc
                 |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                 |  AND o_orderdate <  TIMESTAMP '1995-02-01 00:00:00'
                 |  AND o_orderkey % 3 = $i""".stripMargin)
      s.sql(s"""INSERT INTO $cat.corp.orders_pc
               |SELECT o_orderkey, o_orderdate, o_totalprice
               |FROM orders_src_pc
               |WHERE o_orderdate >= TIMESTAMP '1995-02-01 00:00:00'
               |  AND o_orderdate <  TIMESTAMP '1995-02-05 00:00:00'
               |""".stripMargin)
      def cellFiles(root: String): Map[String, Seq[java.io.File]] =
        Option(new java.io.File(root).listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.contains("="))
          .map(f => f.getName -> Option(f.listFiles()).toSeq.flatten
            .filter(c => c.isFile && !c.getName.startsWith("_") &&
              !c.getName.startsWith("."))).toMap
      val before = cellFiles(loc)
      val multi = before.filter(_._2.size >= 2).keySet
      val single = before.keySet -- multi
      require(multi.nonEmpty && single.nonEmpty,
        s"fixture needs both multi-file and single-file days: " +
          s"${multi.size}/${single.size}")
      // prime the manifest on the pre-compaction generation
      val pre = FileSkipping.analyze(loc)
      require(pre.covered == before.values.map(_.size).sum,
        s"manifest must cover every statement file: $pre")
      val plug = new WritableSnapshotCatalog
      plug.initialize(cat + "_pc",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", kc.dir)))
      val ti = CatalogTransfer.readLocal(s"${kc.dir}/revs/${headRevAt(kc.dir)}")
        .tables.find(_.name == "orders_pc").get
      val res = TransformCompaction.compact(s, plug, ti, minFiles = 2)
      require(res.compacted.toSet == multi &&
          res.linked.toSet == single,
        s"compaction partitioned cells wrong: $res")
      val after = cellFiles(res.newRoot)
      // every compacted day holds exactly ONE file now
      require(multi.forall(c => after(c).size == 1),
        s"compacted cells not single-file: " +
          multi.map(c => c -> after(c).size).toMap)
      // every linked day carried over BY INODE
      def inos(fs: Seq[java.io.File]): Set[Long] = fs.map(f =>
        java.nio.file.Files.getAttribute(f.toPath, "unix:ino")
          .asInstanceOf[Long]).toSet
      require(single.forall(c => inos(after(c)) == inos(before(c))),
        "single-file cells must hard-link, not rewrite")
      // DELTA-ONLY stats law: only the fresh compacted files pay a
      // footer read; every linked file rides in from the previous
      // generation's shards by fingerprint
      val ar = FileSkipping.analyze(res.newRoot, Some(loc))
      require(ar.harvested == multi.size &&
          ar.reused == single.size &&
          ar.covered == multi.size + single.size,
        s"delta-only re-analyze law broken: $ar for " +
          s"${multi.size} compacted + ${single.size} linked")
      // table content is byte-identical through the compaction
      s.table(s"$cat.corp.orders_pc")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd")
          .as("day"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
        .withColumn("cells_compacted", lit(multi.size.toLong))
        .withColumn("cells_linked", lit(single.size.toLong))
        .orderBy("day")
    },

    // PARTITION SPEC EVOLUTION — ALTER TABLE ... SET TBLPROPERTIES(
    // 'graft.part.evolve'='months(ts)'): a days(ts) table ages into
    // months(ts) WITHOUT rewriting a byte ([[SpecEvolution]]). Old
    // files keep serving under the spec they were written with (the
    // frozen days leg), new writes lay out the new spec (a fresh
    // months leg), and every read UNIONS the legs with EACH SIDE'S
    // OWN predicate translation — engine-asserted per side below: a
    // January week plans ≤7 day files on the days leg and ZERO files
    // on the months leg (its 1995-01 dir does not exist), a February
    // probe plans zero day files and exactly the 1995-02 month dir.
    // This is the Iceberg spec-id idea at generation granularity —
    // the year-two problem (day dirs forever) solved as one metadata
    // revision.
    keyed("meta_v2_part_evolve") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_pe"
      s.sql(s"""CREATE TABLE $cat.corp.orders_pe
               |(o_orderkey BIGINT, o_orderdate TIMESTAMP,
               | o_totalprice DOUBLE)
               |USING parquet
               |PARTITIONED BY (days(o_orderdate))
               |LOCATION '$loc'""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_pe")
      // year one: January lands under the days spec
      s.sql(s"""INSERT INTO $cat.corp.orders_pe
               |SELECT o_orderkey, o_orderdate, o_totalprice
               |FROM orders_src_pe
               |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
               |  AND o_orderdate <  TIMESTAMP '1995-02-01 00:00:00'
               |""".stripMargin)
      // the table ages: one metadata revision, zero data movement
      s.sql(s"""ALTER TABLE $cat.corp.orders_pe SET TBLPROPERTIES(
               |'graft.part.evolve'='months(o_orderdate)')""".stripMargin)
      // year two: February + March land under the months spec
      s.sql(s"""INSERT INTO $cat.corp.orders_pe
               |SELECT o_orderkey, o_orderdate, o_totalprice
               |FROM orders_src_pe
               |WHERE o_orderdate >= TIMESTAMP '1995-02-01 00:00:00'
               |  AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
               |""".stripMargin)
      // each leg carries ONLY its own spec's layout
      def dirsIn(p: String): Seq[String] =
        Option(new java.io.File(p).list()).toSeq.flatten
          .filter(_.contains("=")).sorted
      require(dirsIn(loc).forall(_.startsWith("o_orderdate_day=")) &&
          dirsIn(loc).size > 10, // ~14 populated days at sf0.001
        s"days leg layout broken: ${dirsIn(loc).take(3)}")
      require(dirsIn(loc + "_spec1") ==
          Seq("o_orderdate_month=1995-02", "o_orderdate_month=1995-03"),
        s"months leg layout broken: ${dirsIn(loc + "_spec1")}")
      val cat2 = kc.readOnly(s)
      require(!s.table(s"$cat2.corp.orders_pe").columns.exists(c =>
          c == "o_orderdate_day" || c == "o_orderdate_month"),
        "derived columns must stay hidden across the evolution")
      // per-side pruning evidence through the read-only attach
      def legDirs(df: org.apache.spark.sql.DataFrame): Seq[Set[String]] =
        df.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.scan
        }.collectFirst { case e: EvolvedScan =>
          e.plannedByLeg().map(_.flatMap(p =>
            p.split('/').filter(_.contains("=")).lastOption).toSet)
        }.getOrElse(Seq.empty)
      val lo = "1995-01-10"
      val hi = "1995-01-17" // exclusive
      val qa = s.table(s"$cat2.corp.orders_pe")
        .filter(col("o_orderdate") >=
            to_timestamp(lit(s"$lo 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit(s"$hi 00:00:00")))
      val la = legDirs(qa)
      require(la.length == 2, s"expected 2 legs, got $la")
      require(la(0).nonEmpty && la(0).size <= 7 && la(0).forall { p =>
          val day = p.stripPrefix("o_orderdate_day=")
          day >= lo && day < hi
        }, s"days-leg week pruning failed: ${la(0)}")
      require(la(1).isEmpty,
        s"months leg must plan ZERO files for a January probe: ${la(1)}")
      val qb = s.table(s"$cat2.corp.orders_pe")
        .filter(col("o_orderdate") >=
            to_timestamp(lit("1995-02-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1995-03-01 00:00:00")))
      val lb = legDirs(qb)
      require(lb(0).isEmpty,
        s"days leg must plan ZERO files for a February probe: ${lb(0)}")
      require(lb(1) == Set("o_orderdate_month=1995-02"),
        s"months-leg pruning failed: ${lb(1)}")
      // the union aggregates across BOTH spec generations
      s.table(s"$cat2.corp.orders_pe")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
        .withColumn("probe_a_days", lit(la(0).size.toLong))
        .withColumn("probe_a_months", lit(la(1).size.toLong))
        .withColumn("probe_b_days", lit(lb(0).size.toLong))
        .withColumn("probe_b_months", lit(lb(1).size.toLong))
        .orderBy("month")
    },

    // STRING-PREFIX PARTITIONING — truncate(W, str), the last member
    // of the lakehouse transform set (identity/bucket/days/months/
    // years/truncate — Iceberg's ladder minus hours): dirs keyed by
    // the W-char prefix, derived engine-side. Prefix truncation is
    // MONOTONE in lexicographic order, so both the pinned equality
    // probe (1 of 5 dirs) and range predicates translate into stock
    // partition pruning. The layout a URL/tenant/category-keyed 100 TB
    // corpus uses when the key's prefix is its natural shard.
    keyed("meta_v2_part_truncate") { (s, d, kc) =>
      val cat = kc.fresh(s)
      val loc = s"${kc.dir}/_data/orders_pt"
      s.sql(s"""CREATE TABLE $cat.corp.orders_pt
               |(o_orderkey BIGINT, o_orderpriority STRING,
               | o_totalprice DOUBLE)
               |USING parquet
               |PARTITIONED BY (truncate(1, o_orderpriority))
               |LOCATION '$loc'""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_pt")
      s.sql(s"""INSERT INTO $cat.corp.orders_pt
               |SELECT o_orderkey, o_orderpriority, o_totalprice
               |FROM orders_src_pt""".stripMargin)
      val dirs = Option(new java.io.File(loc).list()).toSeq.flatten
        .filter(_.startsWith("o_orderpriority_trunc=")).sorted
      require(dirs.size == 5, s"prefix layout missing: $dirs")
      val cat2 = kc.readOnly(s)
      require(!s.table(s"$cat2.corp.orders_pt").columns
          .contains("o_orderpriority_trunc"),
        "derived prefix column must stay hidden")
      // equality probe: translated to the 1-char prefix dir
      val probe = s.table(s"$cat2.corp.orders_pt")
        .filter(col("o_orderpriority") === "3-MEDIUM")
      val probeDirs = plannedPartDirs(probe)
      require(probeDirs == Set("o_orderpriority_trunc=3"),
        s"prefix pruning failed: $probeDirs")
      // range probe: monotone translation keeps at most prefixes 2..4
      val range = s.table(s"$cat2.corp.orders_pt")
        .filter(col("o_orderpriority") >= "2" &&
          col("o_orderpriority") < "4")
      val rangeDirs = plannedPartDirs(range)
      require(rangeDirs.nonEmpty && rangeDirs.subsetOf(Set(
          "o_orderpriority_trunc=2", "o_orderpriority_trunc=3",
          "o_orderpriority_trunc=4")),
        s"prefix range pruning failed: $rangeDirs")
      s.table(s"$cat2.corp.orders_pt")
        .groupBy(substring(col("o_orderpriority"), 1, 1).as("pfx"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
        .withColumn("probe_dirs", lit(probeDirs.size.toLong))
        .orderBy("pfx")
    },

    keyed("meta_v2_partitioned") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.orders_p")
      s.sql(s"""CREATE TABLE $cat.corp.orders_p
               |(o_orderkey BIGINT, o_totalprice DOUBLE,
               | o_orderstatus STRING)
               |USING parquet PARTITIONED BY (o_orderstatus)""".stripMargin)
      Tables(s, d, "orders").createOrReplaceTempView("orders_src_p")
      s.sql(s"""INSERT INTO $cat.corp.orders_p
               |SELECT o_orderkey, o_totalprice, o_orderstatus
               |FROM orders_src_p""".stripMargin)
      // the layout must be REAL partition directories, not a metadata
      // fiction — this is exactly what the V2 write path gets wrong
      val partDirs = Option(new java.io.File(
          s"${kc.dir}/_warehouse/corp/orders_p").list()).toSeq.flatten
        .filter(_.startsWith("o_orderstatus="))
      require(partDirs.nonEmpty,
        "INSERT laid out no o_orderstatus=* partition directories")
      val cat2 = kc.readOnly(s)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
               |  ROUND(SUM(o_totalprice), 4) AS sum_price
               |FROM $cat2.corp.orders_p
               |WHERE o_orderstatus <> 'P'
               |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // METADATA TIME TRAVEL: every metadata mutation through the
    // writable catalog appends an immutable numbered revision, and
    // `VERSION AS OF 'N'` serves a table AS REGISTERED at revision N —
    // metastore-side history (the schema/table-set of rev N over the
    // CURRENT files; data versioning belongs to table formats, metadata
    // versioning to the catalog). The key creates a table (rev 2),
    // widens it (rev 3+), writes a generation on each side of the
    // widen, then reads the SAME files through the rev-2 schema (2
    // columns) and the head schema (3 columns). Revision numbering is
    // deterministic per run: the dir wipe resets HEAD, a cached plugin
    // instance detects the reset on its next resolution and reloads
    // the bootstrap snapshot (SnapshotCatalog.snap), so fresh and
    // cached instances alike pin CREATE NAMESPACE at rev 1 and CREATE
    // TABLE at rev 2.
    keyed("meta_v2_timetravel") { (s, d, kc) =>
      val cat = kc.fresh(s) // fresh: rev 1
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.tt")        // cached: rev 1
      s.sql(s"""CREATE TABLE $cat.corp.tt
               |(n_nationkey INT, n_name STRING) USING parquet"""
        .stripMargin)                                    // rev 2
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_t")
      s.sql(s"""INSERT INTO $cat.corp.tt
               |SELECT n_nationkey, n_name FROM nation_src_t""".stripMargin)
      s.sql(s"ALTER TABLE $cat.corp.tt ADD COLUMN src STRING") // rev 3
      s.sql(s"""INSERT INTO $cat.corp.tt
               |SELECT n_nationkey + 100, n_name, 'v2'
               |FROM nation_src_t""".stripMargin)
      val rev2 = s.sql(s"SELECT * FROM $cat.corp.tt VERSION AS OF '2'")
      val head = s.table(s"$cat.corp.tt")
      rev2.agg(count(lit(1)).as("n_rows"))
        .select(lit("rev2").as("rev"),
          lit(rev2.columns.length).as("n_cols"), col("n_rows"))
        .unionAll(head.agg(count(lit(1)).as("n_rows"))
          .select(lit("head").as("rev"),
            lit(head.columns.length).as("n_cols"), col("n_rows")))
        .orderBy("rev")
    },

    // The REVISION LOG as a queryable table (the DESCRIBE HISTORY
    // counterpart of meta_v2_timetravel — how a user discovers which
    // 'N' to VERSION AS OF): one row per immutable revision with its
    // object counts. Revision numbering is deterministic whether the
    // plugin instance is fresh or cached (the dir wipe resets HEAD and
    // a cached instance reloads the bootstrap snapshot on its next
    // resolution): the DDL sequence below yields rev→(dbs, tables) =
    // 1→(1,0), 2→(1,1), 3→(1,2), 4→(1,1) on every run.
    keyed("meta_v2_history") { (s, d, kc) =>
      import s.implicits._
      val cat = kc.fresh(s)
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.hist_a")
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.hist_b")
      s.sql(s"CREATE TABLE $cat.corp.hist_a (x INT) USING parquet")
      s.sql(s"CREATE TABLE $cat.corp.hist_b (y INT) USING parquet")
      s.sql(s"DROP TABLE $cat.corp.hist_a")
      // read the history straight off the snapshot files — public
      // composition, no plugin-internal access
      val revs = Option(new java.io.File(s"${kc.dir}/revs").list())
        .map(_.flatMap(_.toIntOption).sorted.toSeq).getOrElse(Nil)
      revs.map { r =>
        val snap = CatalogTransfer.read(s, s"${kc.dir}/revs/$r")
        (r, snap.databases.length, snap.tables.length)
      }.toDF("rev", "n_dbs", "n_tables").orderBy("rev")
    },

    // Small-file COMPACTION on a shared-catalog table, by atomic
    // location swap (the OPTIMIZE maintenance op every append-heavy
    // lakehouse table needs): repeated appends leave one file per
    // batch; the compactor rewrites the table into a fresh generation
    // directory at target file size and re-points the catalog with
    // ALTER TABLE SET LOCATION. Readers holding the old location keep
    // consistent files (nothing is deleted under them); every new
    // resolution gets the compacted generation — exactly how
    // location-based compaction works against a live HMS. At 100 TB
    // the rewrite is a parallel executor job (here coalesce(1) — the
    // fixture fits one target file); the METADATA swap is O(1)
    // regardless of data size.
    keyed("meta_v2_compact") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.nation_c")
      s.sql(s"""CREATE TABLE $cat.corp.nation_c
               |(n_nationkey INT, n_name STRING) USING parquet""".stripMargin)
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_c")
      // four small appends — one file generation each, the append-heavy
      // table shape compaction exists for
      for (q <- 0 to 3)
        s.sql(s"""INSERT INTO $cat.corp.nation_c
                 |SELECT n_nationkey, n_name FROM nation_src_c
                 |WHERE n_nationkey % 4 = $q""".stripMargin)
      def parquetFiles(p: String): Int =
        Option(new java.io.File(p).listFiles)
          .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
      val oldLoc = s"${kc.dir}/_warehouse/corp/nation_c"
      val before = parquetFiles(oldLoc)
      require(before >= 4, s"expected >=4 pre-compaction files, got $before")
      // rewrite into a fresh generation at target file count
      val gen2 = s"${kc.dir}/_warehouse/corp/nation_c_gen2"
      s.table(s"$cat.corp.nation_c").coalesce(1)
        .write.mode("overwrite").parquet(gen2)
      s.sql(s"ALTER TABLE $cat.corp.nation_c SET LOCATION '$gen2'")
      require(parquetFiles(gen2) < before,
        s"compaction did not reduce files: ${parquetFiles(gen2)} >= $before")
      s.table(s"$cat.corp.nation_c").orderBy("n_nationkey")
    },

    // Revision retention VACUUM — the maintenance op that completes
    // the metadata lifecycle (write → history → time travel → compact
    // → vacuum): unbounded DDL history is a real metastore cost (every
    // revision is a full snapshot copy), so retention deletes all but
    // the newest R revision dirs. HEAD and the bootstrap snapshot are
    // never touched; revisions are immutable, so removal is invisible
    // to every already-resolved reader — only a later VERSION AS OF
    // into a vacuumed revision fails, LOUDLY, through the existing
    // missing-revision error (the key proves both directions: a kept
    // revision stays readable, a vacuumed one refuses). Driver-side
    // KiB file ops (the writeLocal discipline), O(1) in data size.
    // Revision numbering is deterministic per run (the dir-wipe reset,
    // cf. meta_v2_timetravel), so the report is a cross-engine
    // constant: 5 revisions before, retain 2, head 5.
    keyed("meta_v2_vacuum") { (s, d, kc) =>
      import s.implicits._
      val cat = kc.fresh(s)                                    // rev 1
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.vac_t")           // no-op (1st run)
      s.sql(s"""CREATE TABLE $cat.corp.vac_t
               |(n_nationkey INT, n_name STRING) USING parquet"""
        .stripMargin)                                          // rev 2
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_v")
      s.sql(s"""INSERT INTO $cat.corp.vac_t
               |SELECT n_nationkey, n_name FROM nation_src_v""".stripMargin)
      s.sql(s"ALTER TABLE $cat.corp.vac_t ADD COLUMN src STRING")  // 3
      s.sql(s"ALTER TABLE $cat.corp.vac_t ADD COLUMN note STRING") // 4
      s.sql(s"ALTER TABLE $cat.corp.vac_t ADD COLUMN tag STRING")  // 5
      val wc = s.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[WritableSnapshotCatalog]
      val (dropped, kept) = wc.vacuum(2)
      val keptRows = s.sql(
        s"SELECT * FROM $cat.corp.vac_t VERSION AS OF '${kept.min}'")
        .count().toInt
      val vacFails =
        try {
          s.sql(s"SELECT * FROM $cat.corp.vac_t VERSION AS OF " +
            s"'${dropped.max}'").count()
          0
        } catch { case _: UnsupportedOperationException => 1 }
      Seq(
        ("head_rev", kept.max),
        ("kept_probe_rows", keptRows),
        ("revs_after", kept.length),
        ("revs_before", dropped.length + kept.length),
        ("vacuumed_probe_fails", vacFails))
        .toDF("item", "value").orderBy("item")
    },

    // CROSS-CATALOG federation: one SQL statement resolving tables
    // from TWO catalogs by qualified name — the snapshot catalog (the
    // shared-metastore attach) joined to a session-catalog table (the
    // cluster's own local data). This is the day-one query of the
    // two-cluster reference topology: local fact data enriched by a
    // dimension that lives in the shared metastore. Catalyst plans the
    // join across catalogs like any other (the snap side arrives as a
    // DSv2 BatchScan and is broadcast here — dimension-sized).
    "meta_v2_federation" -> ((s, d) => {
      val cat = v2SnapshotCatalog(s, d)
      freshDb(s, "graft_fed")
      s.sql("DROP TABLE IF EXISTS graft_fed.region_fed")
      s.sql("CREATE TABLE graft_fed.region_fed " + Tables.ddl(s, d, "region"))
      s.sql(
        s"""SELECT r.r_name, COUNT(*) AS n_nations,
           |  MIN(n.n_nationkey) AS lo_key
           |FROM $cat.graft_meta.nation_meta n
           |JOIN spark_catalog.graft_fed.region_fed r
           |  ON n.n_regionkey = r.r_regionkey
           |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin)
    }),

    // RDBMS federation through the V2 CATALOG surface (r13): Spark's
    // stock JDBCTableCatalog mounted over an embedded Derby database —
    // the other half of the federation story next to meta_v2_federation
    // (snapshot catalog ⋈ session catalog). Here the remote system is a
    // live external RDBMS: DDL (CREATE NAMESPACE / CTAS / DROP) executes
    // as real SQL against Derby through the connector, the dim LIVES
    // remotely, and the query joins it against a lake-resident parquet
    // fact by three-part name — no export hop. Catalog name is
    // fixture-keyed (plugin instances cache construction-time options
    // by name). 100 TB note: the remote side stays dim-sized; the join
    // broadcasts the JDBC side, facts never cross the connector.
    keyed("meta_jdbc_catalog") { (s, d, kc) =>
      System.setProperty("derby.stream.error.file",
        Tables.scratch(d, "derby.log"))
      val cat = kc.cat
      s.conf.set(s"spark.sql.catalog.$cat",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.url",
        s"jdbc:derby:;databaseName=${kc.dir};create=true")
      s.conf.set(s"spark.sql.catalog.$cat.driver",
        "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gmeta")
      s.sql(s"DROP TABLE IF EXISTS $cat.gmeta.nation_dim")
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_jc")
      s.sql(s"""CREATE TABLE $cat.gmeta.nation_dim AS
               |SELECT n_nationkey, n_name, n_regionkey
               |FROM nation_src_jc""".stripMargin)
      Tables(s, d, "supplier").createOrReplaceTempView("supplier_src_jc")
      s.sql(
        s"""SELECT n.n_name, COUNT(*) AS n_suppliers,
           |  ROUND(SUM(sp.s_acctbal), 4) AS sum_acctbal
           |FROM $cat.gmeta.nation_dim n
           |JOIN supplier_src_jc sp ON sp.s_nationkey = n.n_nationkey
           |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
    },

    // COMPUTE pushdown across the federation boundary (r13): with
    // pushDownAggregate/pushDownLimit the V2 JDBC connector compiles
    // the whole GROUP BY into the remote engine — the scan comes back
    // PRE-AGGREGATED (PushedAggregates + PushedGroupByExpressions in
    // the scan node; Spark's plan is a bare rename-Project, no
    // HashAggregate — asserted in PlanSpec, with TopN pushdown
    // beside it). This is the 100 TB federation contract: the remote
    // side ships one row per group over the wire, never the table.
    keyed("meta_jdbc_pushdown") { (s, d, kc) =>
      System.setProperty("derby.stream.error.file",
        Tables.scratch(d, "derby.log"))
      val cat = kc.cat
      s.conf.set(s"spark.sql.catalog.$cat",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.url",
        s"jdbc:derby:;databaseName=${kc.dir};create=true")
      s.conf.set(s"spark.sql.catalog.$cat.driver",
        "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      s.conf.set(s"spark.sql.catalog.$cat.pushDownAggregate", "true")
      s.conf.set(s"spark.sql.catalog.$cat.pushDownLimit", "true")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gpd")
      s.sql(s"DROP TABLE IF EXISTS $cat.gpd.supp_pd")
      Tables(s, d, "supplier").createOrReplaceTempView("supplier_src_pd")
      s.sql(s"""CREATE TABLE $cat.gpd.supp_pd AS
               |SELECT s_suppkey, s_nationkey, s_acctbal
               |FROM supplier_src_pd""".stripMargin)
      s.sql(
        s"""SELECT s_nationkey, COUNT(*) AS n_suppliers,
           |  ROUND(SUM(s_acctbal), 4) AS sum_acctbal
           |FROM $cat.gpd.supp_pd
           |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    },

    // USE CATALOG / USE NAMESPACE — the session-state half of the
    // multi-catalog story (meta_v2_federation resolves by THREE-part
    // name; an interactive user instead points the session at a
    // catalog.namespace once and writes unqualified SQL — exactly how
    // the reference's second cluster consumes the shared metastore:
    // same queries, different session default). Resolution happens at
    // analysis time, so the session state is restored immediately
    // after and no later key inherits it.
    "sql_use_catalog" -> ((s, d) => {
      val cat = v2SnapshotCatalog(s, d)
      s.sql(s"USE $cat.graft_meta")
      val out = s.sql(
        """SELECT n_regionkey, COUNT(*) AS n_nations,
          |  MIN(n_name) AS first_name
          |FROM nation_meta
          |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
      s.sql("USE spark_catalog.default")
      out
    }),

    // JOIN pushdown across the federation boundary (r13): the third
    // pushdown leg after filters (scan_jdbc) and aggregates
    // (meta_jdbc_pushdown) — with the graft Derby dialect declaring
    // join capability, Spark's DSv2 join-pushdown rule compiles the
    // supplier⋈nation join INTO the remote engine as one SQL
    // statement: the scan returns PRE-JOINED rows and no Spark-side
    // join operator remains (asserted in PlanSpec). The 100 TB
    // federation contract completed: the remote side ships the join
    // RESULT over the wire, never either input table.
    keyed("meta_jdbc_join_pushdown") { (s, d, kc) =>
      System.setProperty("derby.stream.error.file",
        Tables.scratch(d, "derby.log"))
      DerbyJoinDialect.ensureRegistered()
      // Stays set for the session deliberately: the returned DataFrame
      // is LAZY — the pushdown rule reads this conf at optimization
      // time, after this lambda returned, so restoring it here would
      // un-push the join. Inert for every other reader: the feature
      // additionally requires the per-catalog pushDownJoin=true opt-in,
      // which only this key's catalog sets.
      s.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      val cat = kc.cat
      s.conf.set(s"spark.sql.catalog.$cat",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.url",
        s"jdbc:derby:;databaseName=${kc.dir};create=true")
      s.conf.set(s"spark.sql.catalog.$cat.driver",
        "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      s.conf.set(s"spark.sql.catalog.$cat.pushDownJoin", "true")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gjp")
      s.sql(s"DROP TABLE IF EXISTS $cat.gjp.supp_jp")
      s.sql(s"DROP TABLE IF EXISTS $cat.gjp.nat_jp")
      Tables(s, d, "supplier").createOrReplaceTempView("supplier_src_jp")
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_jp")
      s.sql(s"""CREATE TABLE $cat.gjp.supp_jp AS
               |SELECT s_suppkey, s_nationkey, s_acctbal
               |FROM supplier_src_jp""".stripMargin)
      s.sql(s"""CREATE TABLE $cat.gjp.nat_jp AS
               |SELECT n_nationkey, n_name FROM nation_src_jp""".stripMargin)
      s.sql(
        s"""SELECT sp.s_suppkey, n.n_name,
           |  ROUND(sp.s_acctbal, 4) AS acctbal
           |FROM $cat.gjp.supp_jp sp
           |JOIN $cat.gjp.nat_jp n ON sp.s_nationkey = n.n_nationkey
           |WHERE sp.s_acctbal > 5000.0
           |ORDER BY sp.s_suppkey""".stripMargin)
    },

    // HMS-style schema evolution through the writable catalog,
    // metadata-only (no file rewrite): fill a table, ADD a nullable
    // COLUMN + set a table property, insert a second generation WITH
    // the new column — then read the union: pre-alter files resolve
    // the added column as null (the parquet missing-column contract),
    // post-alter files carry values. The aggregate proves both
    // generations coexist under one evolved schema. Own snapshot dir:
    // meta_v2_write wipes ITS dir per run, and verify key order is
    // arbitrary.
    keyed("meta_v2_alter") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"DROP TABLE IF EXISTS $cat.corp.alter_t")
      s.sql(s"""CREATE TABLE $cat.corp.alter_t
               |(n_nationkey INT, n_name STRING) USING parquet""".stripMargin)
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_a")
      s.sql(s"""INSERT INTO $cat.corp.alter_t
               |SELECT n_nationkey, n_name FROM nation_src_a""".stripMargin)
      s.sql(s"ALTER TABLE $cat.corp.alter_t ADD COLUMN src STRING")
      s.sql(s"""ALTER TABLE $cat.corp.alter_t
               |SET TBLPROPERTIES ('graft.rev' = 'v2')""".stripMargin)
      s.sql(s"""INSERT INTO $cat.corp.alter_t
               |SELECT n_nationkey + 100, n_name, 'v2'
               |FROM nation_src_a""".stripMargin)
      s.table(s"$cat.corp.alter_t")
        .groupBy(coalesce(col("src"), lit("<pre-alter>")).as("src"))
        .agg(count(lit(1)).as("n_rows"),
          min("n_nationkey").as("lo_key"),
          max("n_nationkey").as("hi_key"))
        .orderBy("src")
    },

    // TYPE-WIDENING SCHEMA EVOLUTION (ALTER COLUMN ... TYPE BIGINT /
    // DOUBLE) — the metadata-only promotion long-lived tables need:
    // files written under the NARROW type stay untouched on disk and
    // resolve through the widened read schema (Spark 4 parquet readers
    // up-convert int32→int64 / float→double per file, SPARK-40876);
    // rows inserted AFTER the widen land wide — including values that
    // OVERFLOW the old type, the proof the widen is real. Unsafe
    // narrowing refuses loudly ([[WritableSnapshotCatalog.alterTable]]
    // names the CTAS way out). The aggregate below spans both file
    // generations under the widened schema; a second read-only attach
    // serves it, so the evolution is metastore state, not session
    // state. At 100 TB: zero bytes rewritten — the entire point.
    keyed("meta_v2_alter_widen") { (s, d, kc) =>
      val cat = kc.fresh(s)
      s.sql(s"""CREATE TABLE $cat.corp.widen_t
               |(n_nationkey INT, n_name STRING, bal FLOAT)
               |USING parquet""".stripMargin)
      Tables(s, d, "nation").createOrReplaceTempView("nation_src_w")
      s.sql(s"""INSERT INTO $cat.corp.widen_t
               |SELECT n_nationkey, n_name,
               |  CAST(n_regionkey AS FLOAT) FROM nation_src_w""".stripMargin)
      // narrowing refuses loudly, nothing published (a same-type ALTER
      // never reaches the catalog — the analyzer folds it away)
      val narrow = scala.util.Try(s.sql(s"ALTER TABLE $cat.corp.widen_t " +
        "ALTER COLUMN n_nationkey TYPE SMALLINT"))
      require(narrow.isFailure, "narrowing ALTER must refuse")
      val lossy = scala.util.Try(s.sql(s"ALTER TABLE $cat.corp.widen_t " +
        "ALTER COLUMN n_nationkey TYPE DOUBLE"))
      require(lossy.isFailure, "int->double ALTER must refuse (2^53)")
      s.sql(s"ALTER TABLE $cat.corp.widen_t " +
        "ALTER COLUMN n_nationkey TYPE BIGINT")
      s.sql(s"ALTER TABLE $cat.corp.widen_t " +
        "ALTER COLUMN bal TYPE DOUBLE")
      // post-widen rows overflow INT on purpose: 5e9 > 2^31
      s.sql(s"""INSERT INTO $cat.corp.widen_t
               |SELECT CAST(n_nationkey + 5000000000 AS BIGINT), n_name,
               |  CAST(n_regionkey AS DOUBLE) + 0.25D
               |FROM nation_src_w""".stripMargin)
      val cat2 = kc.readOnly(s)
      val t = s.table(s"$cat2.corp.widen_t")
      require(t.schema("n_nationkey").dataType ==
          org.apache.spark.sql.types.LongType &&
        t.schema("bal").dataType ==
          org.apache.spark.sql.types.DoubleType,
        s"widened schema not served: ${t.schema.simpleString}")
      t.groupBy(when(col("n_nationkey") >= 5000000000L, "wide")
          .otherwise("narrow").as("gen"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_nationkey")).as("key_sum"),
          round(sum(col("bal")), 4).as("bal_sum"))
        .orderBy("gen")
    },

    // SQL-over-the-wire: the reference's other service surface — a
    // BI tool / beeline client speaking the HiveServer2 protocol to a
    // SQL endpoint. This key runs the FULL wire path in-process:
    // Spark's own Thrift JDBC server ([[SqlEndpoint]], one per JVM) +
    // a real hive-jdbc DriverManager connection executing the query
    // and marshalling rows back over the socket. The JDBC session is
    // ISOLATED from ours (the server's default), so the queried table
    // is a persistent catalog object — proving a second, wire-attached
    // session resolves shared metadata, the metastore-import story at
    // the SQL port. Results come back as protocol strings; they are
    // re-typed so the oracle diff checks the VALUES survived the wire.
    "sql_thrift_endpoint" -> ((s, d) => {
      import s.implicits._
      freshDb(s, "graft_jdbc")
      s.sql("DROP TABLE IF EXISTS graft_jdbc.nation_j")
      s.sql("CREATE TABLE graft_jdbc.nation_j " + Tables.ddl(s, d, "nation"))
      val port = SqlEndpoint.ensureStarted(s)
      val (cols, rows) = SqlEndpoint.jdbcQuery(port,
        """SELECT n_nationkey, n_name, n_regionkey
          |FROM graft_jdbc.nation_j ORDER BY n_nationkey""".stripMargin)
      require(cols.map(_.toLowerCase) ==
        Seq("n_nationkey", "n_name", "n_regionkey"),
        s"wire metadata drifted: $cols")
      rows.map(r => (r(0).toInt, r(1), r(2).toInt))
        .toDF("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    // SQL/DataFrame over the MODERN wire (r14): the same shared-
    // persistent-catalog serving story as sql_thrift_endpoint, one
    // protocol generation later — an in-process Spark Connect gRPC
    // service + a real Connect client session
    // (SparkSession.builder.remote("sc://...")). The query — a GROUP
    // BY, not a bare scan, so Catalyst execution provably runs behind
    // the wire — is planned from a protobuf plan relayed over gRPC and
    // its rows come back as Arrow batches through an ISOLATED
    // server-side session, which can only resolve the table through
    // shared persistent catalog metadata. Values are re-typed from the
    // wire strings so the oracle diff checks they survived marshalling.
    "sql_connect_endpoint" -> ((s, d) => {
      import s.implicits._
      freshDb(s, "graft_conn")
      s.sql("DROP TABLE IF EXISTS graft_conn.nation_c")
      s.sql("CREATE TABLE graft_conn.nation_c " + Tables.ddl(s, d, "nation"))
      val (cols, rows) = ConnectEndpoint.withServer(s)(port =>
        ConnectEndpoint.query(port,
          """SELECT n_regionkey, COUNT(*) AS n_nations,
            |  MIN(n_name) AS first_nation
            |FROM graft_conn.nation_c
            |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin))
      require(cols == Seq("n_regionkey", "n_nations", "first_nation"),
        s"connect wire metadata drifted: $cols")
      rows.map(r => (r(0).toInt, r(1).toLong, r(2)))
        .toDF("n_regionkey", "n_nations", "first_nation")
        .orderBy("n_regionkey")
    })
  )

  /** Dry-run migration script: the ordered DDL an import WOULD execute,
    * as reviewable (stmt_order, object, ddl) rows — the pre-flight
    * artifact an operator diffs before pointing a real import at a
    * production metastore. GoldenSnapshotSpec pins the TEXT;
    * CatalogSpec executes it back to a drift-free catalog; the
    * meta_ddl_script KEY parses it into oracle-able normalized rows. */
  def ddlScript(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    fixtureCatalog(s, d)
    val snap = CatalogTransfer.export(s, Seq("graft_meta"))
    val stmts =
      snap.databases.map(db =>
        (s"database:${db.name}", s"CREATE DATABASE IF NOT EXISTS `${db.name}`")) ++
      snap.tables.sortBy(t => (t.tableType == "VIEW", t.db, t.name))
        .flatMap { t =>
          val create = (s"table:${t.db}.${t.name}",
            CatalogTransfer.createTableDdl(t))
          val parts = CatalogTransfer.addPartitionDdl(t)
            .zipWithIndex.map { case (ddl, i) =>
              (s"table:${t.db}.${t.name}#part$i", ddl) }
          create +: parts
        }
    stmts.zipWithIndex
      .map { case ((obj, ddl), i) => (i, obj, ddl) }
      .toDF("stmt_order", "object", "ddl")
      .orderBy("stmt_order")
  }

  val remapReloc = Artifact("remap_reloc", "region")
  val hiveRoundtripOut = Artifact("hive_roundtrip_out", "nation")
  val hivePpruneOut = Artifact("hive_pprune_out", "orders")
  val thriftRoundtripOut = Artifact("thrift_roundtrip_out", "nation")

  /** `art`'s dir, built by `main <sfDir> <outDir>` in its own JVM (the
    * catalog implementation is fixed per SparkContext). The child's log
    * goes next to the dir: the parent that [[Tables.scratch]] created,
    * an absolute path whatever the JVM's working dir. */
  private def forkedBuild(art: Artifact, main: String, d: String): String =
    art.get(d) { out =>
      val cmd = Seq(java.nio.file.Paths.get(
          System.getProperty("java.home"), "bin", "java").toString) ++
        HiveRoundtrip.jdkOpens ++ Seq("-Xmx2g", "-Dspark.ui.enabled=false",
          "-Dspark.sql.session.timeZone=UTC",
          "-cp", System.getProperty("java.class.path"), main, d, out)
      val logPath = s"${art.dir(d)}.sub.log"
      val log = new java.io.PrintWriter(logPath)
      import scala.sys.process._
      val rc = try Process(cmd).!(ProcessLogger(log.println, log.println))
      finally log.close()
      require(rc == 0, s"$main subprocess rc=$rc ($logPath)")
    }

  /** Fixture catalog for export/import probes: one plain external table,
    * one partitioned external table (partitions are the metastore's core
    * object — SURVEY.md §2 group A basis). */
  private def fixtureCatalog(s: SparkSession, d: String): Unit = {
    s.sql("DROP DATABASE IF EXISTS graft_meta CASCADE")
    s.sql("CREATE DATABASE graft_meta")
    s.sql("CREATE TABLE graft_meta.nation_meta " + Tables.ddl(s, d, "nation"))
    s.sql(CatalogTransfer.externalPartitionedDdl(s,
      "graft_meta.lineitem_part", Scans.lineitemByFlagDir(s, d),
      Seq("l_returnflag")))
    s.catalog.recoverPartitions("graft_meta.lineitem_part")
  }

  val oracles: Map[String, String] = Map(
    // DESCRIBE vs DuckDB's DESCRIBE of the same parquet: column names
    // are engine-independent; type names are a pure dialect rendering
    // (varchar/string, integer/int), normalized on the ORACLE side so
    // the engine's own output stays untouched. The catalog's view of
    // the schema must match what is actually in the files.
    // SHOW CREATE's rendered column list must agree with the file
    // schema; type names are the same dialect rendering DESCRIBE has
    // (normalized oracle-side, engine output untouched)
    "ddl_show_create" ->
      """SELECT column_name AS col_name,
        |  CASE lower(column_type)
        |    WHEN 'varchar' THEN 'string'
        |    WHEN 'integer' THEN 'int'
        |    ELSE lower(column_type) END AS data_type
        |FROM (DESCRIBE SELECT * FROM nation)
        |UNION ALL SELECT '<provider>', 'parquet'
        |ORDER BY col_name""".stripMargin,
    "ddl_describe_show" ->
      """SELECT column_name AS col_name,
        |  CASE lower(column_type)
        |    WHEN 'varchar' THEN 'string'
        |    WHEN 'integer' THEN 'int'
        |    ELSE lower(column_type) END AS data_type
        |FROM (DESCRIBE SELECT * FROM nation)
        |UNION ALL SELECT 'nation_desc', '<table>'
        |ORDER BY col_name""".stripMargin,
    // ANALYZE's recorded rowCount must equal the files' true count
    "ddl_analyze_stats" ->
      """SELECT 'has_size' AS stat, 'true' AS value
        |UNION ALL
        |SELECT 'row_count', CAST((SELECT COUNT(*) FROM nation) AS VARCHAR)
        |ORDER BY stat""".stripMargin,
    // the export's column capture must match the actual file schema
    // (names/types are fixture-catalog constants; n_columns is the
    // honest cross-engine check)
    // SHOW DATABASES must surface exactly the created database — the
    // key constructs the state, so the report is a declared constant
    "ddl_create_database" ->
      "SELECT 'graft_ddl_db' AS namespace",
    // comment + property round-trip: the contracted outcome is a
    // declared constant (comment set, owner set, sla last-write-wins)
    "ddl_comment_props" ->
      """SELECT * FROM (VALUES ('comment', 'regions dim'),
        |  ('graft.owner', 'pipeline'), ('graft.sla', 'hourly'))
        |  AS t(key, value) ORDER BY key""".stripMargin,
    // the alter-then-drop probe's observable outcome is a declared
    // constant: the property landed, then the table was gone
    "ddl_alter_drop" ->
      """SELECT * FROM (VALUES ('dropped', 'true'), ('graft.note', 'v1'))
        |  AS t(key, value) ORDER BY key""".stripMargin,
    // the key constructs the drift scenario, so the report is a
    // declared constant: the dropped table on the source side, the
    // property-changed table on both sides
    "meta_diff" ->
      """SELECT * FROM (VALUES
        |  ('table', 'graft_meta', 'lineitem_part', 'source'),
        |  ('table', 'graft_meta', 'nation_meta', 'source'),
        |  ('table', 'graft_meta', 'nation_meta', 'target'))
        |  AS t(kind, db, name, side)""".stripMargin,
    // import losslessness: the re-imported catalog must serve every
    // partition's rows and the plain table's full count — identical to
    // the same rollup straight off the source parquet
    "meta_import" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  (SELECT COUNT(*) FROM nation) AS n_nations
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the renamed table, read by its NEW name through the second
    // attach, must carry exactly the pre-rename content
    "meta_v2_rename" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // the listed layout partitions must be exactly the distinct
    // partition values present in the data
    "meta_v2_partition_mgmt" ->
      """SELECT DISTINCT 'o_orderstatus=' || o_orderstatus AS partition
        |FROM orders ORDER BY partition""".stripMargin,
    // the catalog-resolved function class must compute exactly the
    // engine-independent haversine formula (same CTE shape as
    // fn_geo_haversine — one formula oracles both surfaces)
    "meta_v2_function" ->
      """WITH pts AS (SELECT n_nationkey, n_name,
        |    CAST(n_nationkey*7 % 180 AS DOUBLE) - 90 + 0.5 AS lat,
        |    CAST(n_nationkey*13 % 360 AS DOUBLE) - 180 + 0.5 AS lon
        |  FROM nation)
        |SELECT n_nationkey, n_name,
        |  ROUND(2*6371.0*asin(sqrt(pow(sin(radians(lat - 48.85)/2),2)
        |    + cos(radians(48.85))*cos(radians(lat))
        |      *pow(sin(radians(lon - 2.35)/2),2))), 4) AS dist_km
        |FROM pts ORDER BY n_nationkey""".stripMargin,
    // the view created through one attach must compute, through the
    // OTHER attach, exactly its defining query over the source rows
    "meta_v2_view" ->
      """SELECT n_regionkey, COUNT(*) AS n_nations,
        |  MIN(n_nationkey) AS lo_key
        |FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,
    // the partition-split write through the writable catalog loses and
    // duplicates nothing, and the second attach serves it by name
    "meta_v2_partitioned" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "meta_export" ->
      """SELECT 'graft_meta' AS db, 'lineitem_part' AS name,
        |  'EXTERNAL' AS "tableType", 'parquet' AS provider,
        |  CAST((SELECT COUNT(*) FROM (DESCRIBE SELECT * FROM lineitem))
        |    AS INTEGER) AS n_columns
        |UNION ALL
        |SELECT 'graft_meta', 'nation_meta', 'EXTERNAL', 'parquet',
        |  CAST((SELECT COUNT(*) FROM (DESCRIBE SELECT * FROM nation))
        |    AS INTEGER)
        |ORDER BY db, name""".stripMargin,
    "meta_validate" ->
      """SELECT 'nation' AS table_name,
        |  (SELECT COUNT(*) FROM nation) AS n_src,
        |  (SELECT COUNT(*) FROM nation) AS n_tgt, 1 AS rows_match
        |UNION ALL
        |SELECT 'region',
        |  (SELECT COUNT(*) FROM region),
        |  (SELECT COUNT(*) FROM region), 1
        |UNION ALL
        |SELECT 'supplier',
        |  (SELECT COUNT(*) FROM supplier),
        |  (SELECT COUNT(*) FROM supplier), 1
        |ORDER BY table_name""".stripMargin,
    "ddl_create_external_table" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        | ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "ddl_ctas_insert" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        | ROUND(SUM(o_totalprice), 4) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "ddl_view" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        | ROUND(SUM(o_totalprice), 4) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "ddl_partition_mgmt" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows FROM lineitem
        |WHERE l_returnflag IN ('A', 'R')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "meta_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    // the script's normalized projection must equal the truth from the
    // raw files: every column with its type (dialect-normalized oracle-
    // side, engine output untouched), the provider, the PARTITIONED BY
    // column, one partition spec per distinct key in the data, the db
    "meta_ddl_script" ->
      """WITH li AS (
        |  SELECT 'table:graft_meta.lineitem_part' AS object,
        |    'column' AS kind, column_name AS col_name,
        |    CASE lower(column_type)
        |      WHEN 'varchar' THEN 'string'
        |      WHEN 'integer' THEN 'int'
        |      WHEN 'timestamp' THEN 'timestamp_ntz'
        |      ELSE lower(column_type) END AS data_type
        |  FROM (DESCRIBE SELECT * FROM lineitem)),
        |na AS (
        |  SELECT 'table:graft_meta.nation_meta' AS object,
        |    'column' AS kind, column_name AS col_name,
        |    CASE lower(column_type)
        |      WHEN 'varchar' THEN 'string'
        |      WHEN 'integer' THEN 'int'
        |      WHEN 'timestamp' THEN 'timestamp_ntz'
        |      ELSE lower(column_type) END AS data_type
        |  FROM (DESCRIBE SELECT * FROM nation)),
        |parts AS (
        |  SELECT 'table:graft_meta.lineitem_part' AS object,
        |    'partition' AS kind,
        |    'l_returnflag=' || l_returnflag AS col_name, '' AS data_type
        |  FROM (SELECT DISTINCT l_returnflag FROM lineitem)),
        |fixed AS (
        |  SELECT * FROM (VALUES
        |    ('database:graft_meta', 'database', 'graft_meta', ''),
        |    ('table:graft_meta.lineitem_part', 'provider',
        |     '<provider>', 'parquet'),
        |    ('table:graft_meta.nation_meta', 'provider',
        |     '<provider>', 'parquet'),
        |    ('table:graft_meta.lineitem_part', 'partitioned_by',
        |     'l_returnflag', ''))
        |    AS t(object, kind, col_name, data_type))
        |SELECT * FROM li UNION ALL SELECT * FROM na
        |UNION ALL SELECT * FROM parts UNION ALL SELECT * FROM fixed
        |ORDER BY object, kind, col_name, data_type""".stripMargin,
    // the migrated catalog's PER-PARTITION rowCounts must equal the
    // per-partition truth from the files — the engine never rescans
    "meta_stats_partition" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // equi-height truth recomputed from the files: endpoints are exact
    // quantile_disc values (discrete domain, run length ≫ sketch rank
    // error), first bin closed, later bins left-open — the engine's
    // bin convention; height = rows/numBins by construction
    "meta_stats_histogram" ->
      """WITH s AS (SELECT l_quantity AS q FROM lineitem),
        |qs AS (SELECT QUANTILE_DISC(q, [1.0/7, 2.0/7, 3.0/7, 4.0/7,
        |                               5.0/7, 6.0/7]) AS ql,
        |         MIN(q) AS mn, MAX(q) AS mx, COUNT(*) AS n FROM s),
        |e AS (SELECT CAST(i AS INT) AS bin,
        |        CASE WHEN i = 0 THEN (SELECT mn FROM qs)
        |             ELSE (SELECT ql[CAST(i AS INT)] FROM qs) END AS lo,
        |        CASE WHEN i = 6 THEN (SELECT mx FROM qs)
        |             ELSE (SELECT ql[CAST(i + 1 AS INT)] FROM qs)
        |        END AS hi
        |      FROM UNNEST(GENERATE_SERIES(0, 6)) AS t(i))
        |SELECT bin, ROUND(lo, 4) AS lo, ROUND(hi, 4) AS hi,
        |  CAST((SELECT COUNT(DISTINCT q) FROM s
        |        WHERE (CASE WHEN e.bin = 0 THEN q >= e.lo
        |               ELSE q > e.lo END) AND q <= e.hi) AS BIGINT)
        |    AS ndv,
        |  ROUND((SELECT n FROM qs) / 7.0, 4) AS height
        |FROM e ORDER BY bin""".stripMargin,
    // the migrated catalog's statistics must equal the truth computed
    // from the files — the engine side never scans the data, so any
    // loss in the withStats snapshot path breaks the compare
    "meta_stats_transfer" ->
      """SELECT * FROM (
        |  SELECT 'row_count' AS stat, CAST(COUNT(*) AS VARCHAR) AS value
        |  FROM orders
        |  UNION ALL SELECT 'o_custkey_min',
        |    CAST(MIN(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_custkey_max',
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_custkey_nulls',
        |    CAST(COUNT(*) - COUNT(o_custkey) AS VARCHAR) FROM orders
        |) ORDER BY stat""".stripMargin,
    "meta_hive_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "meta_import_remap" ->
      """SELECT r_regionkey, r_name FROM region
        |ORDER BY r_regionkey""".stripMargin,
    // served from the table the incremental sync re-created — restored
    // metadata must resolve to the identical source rows
    "meta_sync_apply" ->
      """SELECT r_regionkey, r_name FROM region
        |ORDER BY r_regionkey""".stripMargin,
    "meta_thrift_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    // the pruned aggregate recomputed from the raw fixture: if the
    // HMS-pruned scan dropped or double-read a partition, these sums
    // can't match.
    "meta_hive_partition_prune" ->
      """SELECT CAST(YEAR(o_orderdate) AS VARCHAR) AS o_year,
        |  COUNT(*) AS n_orders, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders WHERE YEAR(o_orderdate) IN (1996, 1998)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the wire transport must be lossless — same oracle as
    // meta_roundtrip (values, not just shapes, survive the protocol)
    "sql_thrift_endpoint" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    // the gRPC/Arrow transport must be lossless AND execute compute
    // remotely — aggregate values, not just scanned cells, survive
    "sql_connect_endpoint" ->
      """SELECT n_regionkey, COUNT(*) AS n_nations,
        |  MIN(n_name) AS first_nation
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "meta_v2_catalog" ->
      """SELECT l_linestatus, COUNT(*) AS n_rows,
        | ROUND(SUM(l_quantity), 4) AS sum_qty,
        | (SELECT COUNT(*) FROM nation) AS n_nations
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    // write-path roundtrip: rows inserted through the writable catalog
    // and resolved through a second (read-only) attach must be exactly
    // the source table
    "meta_v2_write" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // rev-2 reads the same files through the 2-column pre-widen
    // schema; head reads them through the 3-column schema — both see
    // every row of both write generations
    "meta_v2_timetravel" ->
      """SELECT 'head' AS rev, 3 AS n_cols,
        |  (SELECT COUNT(*) FROM nation) * 2 AS n_rows
        |UNION ALL
        |SELECT 'rev2', 2, (SELECT COUNT(*) FROM nation) * 2
        |ORDER BY rev""".stripMargin,
    // the revision log is the declared mutation contract: one
    // immutable revision per metadata change, with these exact
    // object counts for the key's DDL sequence
    "meta_v2_history" ->
      """SELECT * FROM (VALUES (1, 1, 0), (2, 1, 1), (3, 1, 2),
        |  (4, 1, 1)) AS t(rev, n_dbs, n_tables)
        |ORDER BY rev""".stripMargin,
    // a shallow clone's whole lifecycle (clone + drop) must be
    // invisible to the original: read-back = the source rows
    "meta_v2_clone" ->
      """SELECT o_orderkey, o_custkey,
        |  ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // merge semantics re-derived relationally: update rows win for
    // matched keys, unmatched target rows carry over, unmatched
    // update rows are inserts
    "meta_v2_merge" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |           FROM orders WHERE o_orderkey % 4 < 2),
        |u AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |        o_totalprice * 1.05 AS o_totalprice
        |      FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderkey, o_orderstatus,
        |  ROUND(o_totalprice, 4) AS o_totalprice
        |FROM (SELECT * FROM u
        |      UNION ALL
        |      SELECT t.* FROM t
        |      WHERE NOT EXISTS (SELECT 1 FROM u
        |                        WHERE u.o_orderkey = t.o_orderkey))
        |ORDER BY o_orderkey""".stripMargin,
    // MERGE-free recomputation of the three stock statements: UPDATE
    // as CASE, DELETE as filter, MERGE as matched-overwrite LEFT
    // legwork + NOT-MATCHED anti union — all double arithmetic is a
    // single IEEE multiply per row (bit-identical cross-engine),
    // round(,4) on output only
    "meta_v2_rowlevel" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |            FROM orders WHERE o_orderkey % 4 < 2),
        |t1 AS (SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 8 = 1
        |              THEN o_totalprice * 1.10 ELSE o_totalprice END
        |           AS o_totalprice
        |       FROM t0),
        |t2 AS (SELECT * FROM t1 WHERE NOT (o_orderkey % 16 = 0)),
        |u AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |        o_totalprice * 1.05 AS o_totalprice
        |      FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderkey, o_orderstatus,
        |  ROUND(o_totalprice, 4) AS o_totalprice
        |FROM (SELECT t2.o_orderkey,
        |        COALESCE(u.o_orderstatus, t2.o_orderstatus)
        |          AS o_orderstatus,
        |        COALESCE(u.o_totalprice, t2.o_totalprice)
        |          AS o_totalprice
        |      FROM t2 LEFT JOIN u ON t2.o_orderkey = u.o_orderkey
        |      UNION ALL
        |      SELECT u.* FROM u
        |      WHERE NOT EXISTS (SELECT 1 FROM t2
        |                        WHERE t2.o_orderkey = u.o_orderkey))
        |ORDER BY o_orderkey""".stripMargin,
    // clause-precedence replay: matched rows take the conditional
    // update or fall through to the delete; not-matched delta rows
    // insert conditionally; by-source rows take the first qualifying
    // by-source clause or survive untouched
    "meta_v2_merge_full" ->
      """WITH t0 AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_totalprice AS p
        |  FROM orders WHERE o_orderkey % 4 < 2),
        |u AS (SELECT o_orderkey AS k, 'U' AS st,
        |    o_totalprice * 1.05 AS p
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |m AS (
        |  SELECT t0.k, u.st, u.p FROM t0 JOIN u USING (k)
        |  WHERE t0.p > 200000
        |  UNION ALL
        |  SELECT u.k, u.st, u.p FROM u
        |  WHERE k NOT IN (SELECT k FROM t0) AND u.p <= 400000
        |  UNION ALL
        |  SELECT t0.k,
        |    CASE WHEN k % 8 = 1 THEN 'S' ELSE t0.st END, t0.p
        |  FROM t0
        |  WHERE k NOT IN (SELECT k FROM u) AND NOT (k % 8 = 5))
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  ROUND(p, 4) AS o_totalprice
        |FROM m ORDER BY o_orderkey""".stripMargin,
    // partition-scoped merge: the zero-churn file identity is
    // engine-asserted inside the key; the oracle replays the MERGE as
    // SELECT algebra over the full table (same shape as
    // meta_v2_rowlevel — DuckDB recomputes the post-merge content)
    "meta_v2_merge_scoped" ->
      """WITH t0 AS (SELECT o_orderkey, o_totalprice, o_orderstatus
        |            FROM orders),
        |u AS (SELECT o_orderkey, o_totalprice * 1.05 AS o_totalprice,
        |        'P' AS o_orderstatus
        |      FROM orders
        |      WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 0
        |      UNION ALL
        |      SELECT o_orderkey + 100000000, o_totalprice, 'P'
        |      FROM orders
        |      WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 1)
        |SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice,
        |  o_orderstatus
        |FROM (SELECT t0.o_orderkey,
        |        COALESCE(u.o_totalprice, t0.o_totalprice)
        |          AS o_totalprice,
        |        t0.o_orderstatus
        |      FROM t0 LEFT JOIN u ON t0.o_orderkey = u.o_orderkey
        |      UNION ALL
        |      SELECT u.o_orderkey, u.o_totalprice, u.o_orderstatus
        |      FROM u
        |      WHERE NOT EXISTS (SELECT 1 FROM t0
        |                        WHERE t0.o_orderkey = u.o_orderkey))
        |ORDER BY o_orderkey""".stripMargin,

    // merge-on-read: inserted subset, minus both DELETE predicates,
    // plus the re-inserted first-delete keys (the applies-to /
    // sequence-number rule: fresh files are never hidden)
    "meta_v2_mor_delete" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |            FROM orders WHERE o_orderkey % 4 < 2),
        |t1 AS (SELECT * FROM t0
        |       WHERE NOT (o_orderkey % 16 = 0)
        |         AND NOT (o_orderstatus = 'F' AND o_orderkey % 16 = 5))
        |SELECT o_orderkey, o_orderstatus,
        |  ROUND(o_totalprice, 4) AS o_totalprice
        |FROM (SELECT * FROM t1
        |      UNION ALL
        |      SELECT * FROM t0 WHERE o_orderkey % 16 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    // partitioned MOR DELETE replay: inserted subset, minus both
    // DELETE predicates, plus the re-inserted second-delete keys (the
    // per-partition applies-to rule: fresh files are never hidden)
    "meta_v2_mor_scoped_delete" ->
      """WITH t0 AS (SELECT o_orderkey, o_totalprice, o_orderstatus
        |            FROM orders WHERE o_orderkey % 4 < 2),
        |t1 AS (SELECT * FROM t0
        |       WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 16 = 5)
        |         AND NOT (o_orderkey % 16 = 0))
        |SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice,
        |  o_orderstatus
        |FROM (SELECT * FROM t1
        |      UNION ALL
        |      SELECT * FROM t0 WHERE o_orderkey % 16 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    // COW-over-MOR: delete applies FIRST (merged read), then the
    // update — a resurrected %16=0 row would land as an extra row here
    "meta_v2_mor_update" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |            FROM orders WHERE o_orderkey % 4 < 2),
        |t1 AS (SELECT * FROM t0 WHERE NOT (o_orderkey % 16 = 0))
        |SELECT o_orderkey, o_orderstatus,
        |  ROUND(CASE WHEN o_orderkey % 4 = 0
        |             THEN o_totalprice * 1.10
        |             ELSE o_totalprice END, 4) AS o_totalprice
        |FROM t1 ORDER BY o_orderkey""".stripMargin,

    // same statement algebra as the COW sibling (delete first on the
    // merged read, then the update) — only the execution cost differs
    "meta_v2_mor_update_delta" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |            FROM orders WHERE o_orderkey % 4 < 2),
        |t1 AS (SELECT * FROM t0 WHERE NOT (o_orderkey % 16 = 0))
        |SELECT o_orderkey, o_orderstatus,
        |  ROUND(CASE WHEN o_orderkey % 4 = 0
        |             THEN o_totalprice * 1.10
        |             ELSE o_totalprice END, 4) AS o_totalprice
        |FROM t1 ORDER BY o_orderkey""".stripMargin,

    // delta-MERGE clause algebra: matched rows update (price gate) or
    // delete (fallthrough), unmatched source rows insert as 'N'
    "meta_v2_mor_merge" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |            FROM orders WHERE o_orderkey % 4 < 2),
        |u AS (SELECT o_orderkey, o_totalprice FROM orders
        |      WHERE o_orderkey % 8 = 0
        |      UNION ALL
        |      SELECT o_orderkey + 200000000, o_totalprice FROM orders
        |      WHERE o_orderkey % 8 = 1)
        |SELECT o_orderkey, o_orderstatus,
        |  ROUND(o_totalprice, 4) AS o_totalprice
        |FROM (SELECT t0.o_orderkey,
        |        CASE WHEN u.o_orderkey IS NOT NULL
        |               AND u.o_totalprice > 50000
        |             THEN 'M' ELSE t0.o_orderstatus END AS o_orderstatus,
        |        CASE WHEN u.o_orderkey IS NOT NULL
        |               AND u.o_totalprice > 50000
        |             THEN u.o_totalprice * 1.05
        |             ELSE t0.o_totalprice END AS o_totalprice
        |      FROM t0 LEFT JOIN u ON t0.o_orderkey = u.o_orderkey
        |      WHERE u.o_orderkey IS NULL OR u.o_totalprice > 50000
        |      UNION ALL
        |      SELECT u.o_orderkey, 'N' AS o_orderstatus, u.o_totalprice
        |      FROM u
        |      WHERE NOT EXISTS (SELECT 1 FROM t0
        |                        WHERE t0.o_orderkey = u.o_orderkey))
        |ORDER BY o_orderkey""".stripMargin,

    // the net range diff replayed from the statement algebra
    "meta_v2_changefeed" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |            FROM orders WHERE o_orderkey % 4 < 2)
        |SELECT op, o_orderkey, o_orderstatus,
        |  ROUND(o_totalprice, 4) AS o_totalprice
        |FROM (
        |  SELECT 'delete' AS op, o_orderkey, o_orderstatus,
        |    o_totalprice FROM t0 WHERE o_orderkey % 16 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', o_orderkey, o_orderstatus,
        |    o_totalprice FROM t0 WHERE o_orderkey % 8 = 4
        |  UNION ALL
        |  SELECT 'update_postimage', o_orderkey, 'U',
        |    o_totalprice * 1.10 FROM t0 WHERE o_orderkey % 8 = 4
        |  UNION ALL
        |  SELECT 'insert', o_orderkey + 300000000, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 8 = 5
        |  UNION ALL
        |  SELECT 'insert', o_orderkey + 400000000, 'A', o_totalprice
        |  FROM orders WHERE o_orderkey % 16 = 9)
        |ORDER BY o_orderkey, op""".stripMargin,

    // the decision columns and post-state are declared constants of
    // the fixture (ac1 crosses the sidecar-count threshold, ac2 stays
    // under); the row counts replay the DELETE algebra — compaction
    // must be content-invariant and the held table must keep merging
    "meta_v2_mor_autocompact" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus FROM orders
        |            WHERE o_orderkey % 4 < 2)
        |SELECT tbl, compacted, sidecars_after, scan_before, scan_after,
        |  n_rows
        |FROM (
        |  SELECT 'orders_ac1' AS tbl, 1 AS compacted,
        |    0 AS sidecars_after, 'mor' AS scan_before,
        |    'stock' AS scan_after,
        |    (SELECT COUNT(*) FROM t0
        |     WHERE NOT (o_orderkey % 16 = 0)
        |       AND NOT (o_orderstatus = 'F' AND o_orderkey % 16 = 5))
        |      AS n_rows
        |  UNION ALL
        |  SELECT 'orders_ac2', 0, 1, 'mor', 'mor',
        |    (SELECT COUNT(*) FROM t0 WHERE o_orderkey <> 1))
        |ORDER BY tbl""".stripMargin,

    // compaction is content-invariant: the merged pre-compaction rows
    "meta_v2_mor_compact" ->
      """SELECT o_orderkey, o_orderstatus,
        |  ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 < 2
        |  AND NOT (o_orderkey % 16 = 0)
        |  AND NOT (o_orderstatus = 'F' AND o_orderkey % 16 = 5)
        |ORDER BY o_orderkey""".stripMargin,

    // both phases of both tables, replayed: pre = the raw subsets,
    // post = the staged migration (prices doubled, balances +100)
    "meta_v2_txn_publish" ->
      """SELECT phase, tbl, k, ROUND(val, 4) AS val FROM (
        |  SELECT 'pre' AS phase, 'orders' AS tbl,
        |    o_orderkey AS k, o_totalprice AS val
        |  FROM orders WHERE o_orderkey % 8 = 0
        |  UNION ALL
        |  SELECT 'pre', 'customer', c_custkey, c_acctbal
        |  FROM customer WHERE c_custkey % 4 = 0
        |  UNION ALL
        |  SELECT 'post', 'orders', o_orderkey, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 8 = 0
        |  UNION ALL
        |  SELECT 'post', 'customer', c_custkey, c_acctbal + 100
        |  FROM customer WHERE c_custkey % 4 = 0)
        |ORDER BY phase, tbl, k""".stripMargin,

    // replay both P-confined statements and classify every key of the
    // net A->B diff (untouched F/O rows are equal on both sides and
    // fall out of every branch)
    "meta_v2_cdf_scoped" ->
      """WITH a AS (SELECT o_orderkey AS k, o_totalprice AS p,
        |             o_orderstatus AS st FROM orders),
        |t1 AS (
        |  SELECT k, CASE WHEN st = 'P' AND k % 2 = 0
        |                 THEN p * 1.05 ELSE p END AS p, st
        |  FROM a
        |  UNION ALL
        |  SELECT k + 100000000, p, 'P' FROM a
        |  WHERE st = 'P' AND k % 2 = 1),
        |c AS (SELECT * FROM t1 WHERE NOT (st = 'P' AND k % 16 = 3))
        |SELECT op, k AS o_orderkey, st AS o_orderstatus,
        |  ROUND(p, 4) AS o_totalprice FROM (
        |  SELECT 'delete' AS op, a.k, a.st, a.p FROM a
        |  WHERE a.k NOT IN (SELECT k FROM c)
        |  UNION ALL
        |  SELECT 'insert', c.k, c.st, c.p FROM c
        |  WHERE c.k NOT IN (SELECT k FROM a)
        |  UNION ALL
        |  SELECT 'update_preimage', a.k, a.st, a.p
        |  FROM a JOIN c ON a.k = c.k WHERE a.p <> c.p
        |  UNION ALL
        |  SELECT 'update_postimage', c.k, c.st, c.p
        |  FROM a JOIN c ON a.k = c.k WHERE a.p <> c.p)
        |ORDER BY o_orderkey, op""".stripMargin,

    // same data, same stats machinery: the interleaved layout reads
    // all 8 files, the clustered one reads 1 — both counts pinned
    "meta_v2_cluster_stats" ->
      """WITH b AS (SELECT MAX(o_orderkey) // 8 + 1 AS step FROM orders)
        |SELECT COUNT(*) AS n_rows,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  8 AS files_read_interleaved, 1 AS files_read_clustered
        |FROM orders, b WHERE o_orderkey < b.step""".stripMargin,

    // pre = the raw staged subset, post = the audited publish (prices
    // of 'F' rows lifted 5%); both phases replay from the fixture
    "meta_v2_branch_wap" ->
      """SELECT phase, k, status, ROUND(price, 4) AS price FROM (
        |  SELECT 'pre' AS phase, o_orderkey AS k,
        |    o_orderstatus AS status, o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 8 = 2
        |  UNION ALL
        |  SELECT 'post', o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 1.05
        |         ELSE o_totalprice END
        |  FROM orders WHERE o_orderkey % 8 = 2
        |  UNION ALL
        |  SELECT 'post', o_orderkey + 500000000, 'B', o_totalprice
        |  FROM orders WHERE o_orderkey % 16 = 6)
        |ORDER BY phase, k""".stripMargin,

    // post-publish state: the branch's scoped UPDATE landed on nation
    // AND main's independently-created region table survived the
    // rebase — the refusals (diverged fast-forward, conflicting
    // rebase) are engine-required inside the fixture
    "meta_v2_branch_rebase" ->
      """SELECT src, k, name FROM (
        |  SELECT 'nation' AS src, n_nationkey AS k,
        |    CASE WHEN n_regionkey = 2 THEN LOWER(n_name)
        |         ELSE n_name END AS name
        |  FROM nation
        |  UNION ALL
        |  SELECT 'region', r_regionkey, r_name FROM region)
        |ORDER BY src, k""".stripMargin,

    // head replays the original fixture (the undo), the pre-rollback
    // revision replays the mutation (history preserved)
    "meta_v2_rollback" ->
      """SELECT phase, k, name FROM (
        |  SELECT 'head' AS phase, n_nationkey AS k, n_name AS name
        |  FROM nation
        |  UNION ALL
        |  SELECT 'pre_rollback', n_nationkey, LOWER(n_name)
        |  FROM nation)
        |ORDER BY phase, k""".stripMargin,

    // the pruned scan must lose no rows (the data aggregate replays
    // over raw parquet) AND must read exactly the 1 of 8 range files
    // the predicate admits (the engine emitted its executing scan's
    // planned file count as a column; the oracle pins it)
    "meta_v2_file_skipping" ->
      """WITH b AS (SELECT MAX(o_orderkey) // 8 + 1 AS step FROM orders)
        |SELECT COUNT(*) AS n_rows,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
        |  STRFTIME(MAX(o_orderdate), '%Y-%m-%d') AS max_date,
        |  8 AS files_total, 1 AS files_read
        |FROM orders, b WHERE o_orderkey < b.step""".stripMargin,

    // post-delete bucket totals replay as pmod arithmetic (the graft
    // bucket transform is modulo by design — oracle-replayable); the
    // 1-dir probe evidence is engine-required and pinned as a constant
    "meta_v2_part_bucket" ->
      """SELECT (o_custkey % 4) AS bucket, COUNT(*) AS n_rows,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price, 1 AS probe_dirs
        |FROM orders WHERE o_custkey % 4 <> 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // murmur3 is not SQL-replayable, so the layout/pruning/DML laws
    // are engine-required golden pins (incl. Iceberg's published
    // hash(34L) vector); the CONTENT replays: the %8=3 key subset
    // minus the deleted min-key's rows, plus the pinned constants
    "meta_v2_part_bucket_hash" ->
      """WITH mk AS (SELECT MIN(o_custkey) AS k FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  ROUND(o_totalprice, 4) AS o_totalprice, 1 AS probe_dirs,
        |  2017239379 AS golden_hash_34, 0 AS deleted_left
        |FROM orders, mk
        |WHERE o_custkey % 8 = 3 AND o_custkey <> mk.k
        |ORDER BY o_orderkey""".stripMargin,

    // the one-week window replays over raw timestamps; the ≤7-dir
    // planned evidence is engine-required, its exact count pinned by
    // the day-distinct subquery
    "meta_v2_part_days" ->
      """WITH w AS (SELECT o_orderdate, o_totalprice FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-03-08 00:00:00')
        |SELECT STRFTIME(o_orderdate, '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_rows, ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  (SELECT COUNT(DISTINCT STRFTIME(o_orderdate, '%Y-%m-%d'))
        |   FROM w) AS dirs_planned
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-prefix totals replay as a substring group; the 1-dir
    // equality-probe evidence is engine-required and pinned
    "meta_v2_part_truncate" ->
      """SELECT SUBSTRING(o_orderpriority, 1, 1) AS pfx,
        |  COUNT(*) AS n_rows,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price, 1 AS probe_dirs
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the one-quarter window replays over raw timestamps; the exact
    // 3-month planned-dir set is engine-required, its count pinned
    "meta_v2_part_months" ->
      """WITH w AS (SELECT o_orderdate, o_totalprice FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-04-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00')
        |SELECT STRFTIME(o_orderdate, '%Y-%m') AS month,
        |  COUNT(*) AS n_rows, ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  3 AS dirs_planned
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // the composite layout replays relationally: the six-week window
    // minus the cell-scoped delete, grouped by (day, bucket); the
    // intersected probe-cell count replays as the distinct probed
    // days carrying the probe key's bucket. The nested-dir layout,
    // exact planned-cell set, sibling/other-day hard links and the
    // partial-cell survivor count are engine-required in the fixture.
    "meta_v2_part_multi" ->
      """WITH w0 AS (SELECT * FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-02-12 00:00:00'),
        |w AS (SELECT o_orderkey * 2 AS o_orderkey, o_custkey,
        |    o_orderdate, o_totalprice FROM w0
        |  UNION ALL
        |  SELECT o_orderkey * 2 + 1, o_custkey, o_orderdate,
        |    o_totalprice FROM w0
        |  UNION ALL
        |  SELECT o_orderkey * 2 + 600000000, o_custkey + 1,
        |    o_orderdate, o_totalprice FROM w0
        |  UNION ALL
        |  SELECT o_orderkey * 2 + 800000001, o_custkey + 1,
        |    o_orderdate, o_totalprice FROM w0),
        |pk AS (SELECT MIN(o_custkey) % 4 AS b FROM w0),
        |pc AS (SELECT COUNT(DISTINCT STRFTIME(o_orderdate,
        |    '%Y-%m-%d')) AS n
        |  FROM w, pk WHERE o_custkey % 4 = pk.b
        |    AND o_orderdate >= TIMESTAMP '1995-01-15 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-01-22 00:00:00'),
        |cl AS (SELECT STRFTIME(o_orderdate, '%Y-%m-%d') AS dd,
        |    o_custkey % 4 AS b FROM w GROUP BY 1, 2),
        |td AS (SELECT dd, MIN(b) AS tb FROM cl GROUP BY dd
        |  HAVING COUNT(*) >= 2 ORDER BY dd LIMIT 1),
        |kept AS (SELECT * FROM w WHERE NOT (
        |    STRFTIME(o_orderdate, '%Y-%m-%d') = (SELECT dd FROM td)
        |    AND o_custkey % 4 = (SELECT tb FROM td)
        |    AND o_orderkey % 2 = 0))
        |SELECT STRFTIME(o_orderdate, '%Y-%m-%d') AS day,
        |  (o_custkey % 4) AS bucket, COUNT(*) AS n_rows,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  (SELECT n FROM pc) AS probe_cells
        |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the per-day totals replay over the two insert windows (content
    // is byte-identical through compaction); the cell partition
    // replays as per-day distinct statement classes (a January day
    // holds one file per residue class present, a February day one);
    // the single-file-after, hard-link and delta-only-analyze laws
    // are engine-required in the fixture
    "meta_v2_part_compact" ->
      """WITH w AS (SELECT o_orderkey, o_orderdate, o_totalprice
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-02-05 00:00:00'),
        |f AS (SELECT STRFTIME(o_orderdate, '%Y-%m-%d') AS day,
        |    CASE WHEN o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
        |      THEN COUNT(DISTINCT o_orderkey % 3) ELSE 1 END AS nf
        |  FROM w GROUP BY 1,
        |    o_orderdate < TIMESTAMP '1995-02-01 00:00:00'),
        |cc AS (SELECT
        |    CAST(SUM(CASE WHEN nf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS compacted,
        |    CAST(SUM(CASE WHEN nf < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS linked
        |  FROM f)
        |SELECT STRFTIME(o_orderdate, '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_rows, ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  (SELECT compacted FROM cc) AS cells_compacted,
        |  (SELECT linked FROM cc) AS cells_linked
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // the union across both spec generations replays as one window
    // aggregate; the per-side pruning evidence is engine-required,
    // with the days-leg probe count pinned by the distinct probed
    // days and the cross-leg zeroes / singleton pinned as constants
    "meta_v2_part_evolve" ->
      """WITH w AS (SELECT o_orderdate, o_totalprice FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'),
        |pa AS (SELECT COUNT(DISTINCT STRFTIME(o_orderdate,
        |    '%Y-%m-%d')) AS n FROM w
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-10 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-01-17 00:00:00')
        |SELECT STRFTIME(o_orderdate, '%Y-%m') AS month,
        |  COUNT(*) AS n_rows, ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  (SELECT n FROM pa) AS probe_a_days, 0 AS probe_a_months,
        |  0 AS probe_b_days, 1 AS probe_b_months
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // all four revisions' row-level diffs replay relationally (the
    // rev-4 delete emits the post-merge state of its rows); the
    // one-revision-per-trigger admission law and the restart-resumes-
    // at-the-committed-offset law are engine-required in the fixture
    "stream_changefeed_source" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |            FROM orders WHERE o_orderkey % 4 < 2)
        |SELECT op, o_orderkey, o_orderstatus,
        |  ROUND(o_totalprice, 4) AS o_totalprice, rev_seq
        |FROM (
        |  SELECT 'delete' AS op, o_orderkey, o_orderstatus,
        |    o_totalprice, 1 AS rev_seq
        |  FROM t0 WHERE o_orderkey % 16 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', o_orderkey, o_orderstatus,
        |    o_totalprice, 2 FROM t0 WHERE o_orderkey % 8 = 4
        |  UNION ALL
        |  SELECT 'update_postimage', o_orderkey, 'U',
        |    o_totalprice * 1.10, 2 FROM t0 WHERE o_orderkey % 8 = 4
        |  UNION ALL
        |  SELECT 'insert', o_orderkey + 300000000, 'N',
        |    o_totalprice, 2 FROM orders WHERE o_orderkey % 8 = 5
        |  UNION ALL
        |  SELECT 'update_preimage', o_orderkey, o_orderstatus,
        |    o_totalprice, 3 FROM t0 WHERE o_orderkey % 8 = 1
        |  UNION ALL
        |  SELECT 'update_postimage', o_orderkey, 'V',
        |    o_totalprice * 0.90, 3 FROM t0 WHERE o_orderkey % 8 = 1
        |  UNION ALL
        |  SELECT 'delete', o_orderkey, 'U', o_totalprice * 1.10, 4
        |  FROM t0 WHERE o_orderkey % 16 = 4)
        |ORDER BY rev_seq, o_orderkey, op""".stripMargin,

    // the materialized state replays the base insert + three delta
    // statements relationally; the engine additionally required
    // state == head via symmetric except and a once-per-revision ledger
    "stream_changefeed_upsert" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 4 < 2),
        |d1 AS (SELECT * FROM base WHERE k % 16 <> 0),
        |m1 AS (SELECT k,
        |    CASE WHEN k % 8 = 4 THEN 'U' ELSE status END AS status,
        |    CASE WHEN k % 8 = 4 THEN price * 1.10 ELSE price END AS price
        |  FROM d1
        |  UNION ALL
        |  SELECT o_orderkey + 300000000, 'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 8 = 5),
        |m2 AS (SELECT k,
        |    CASE WHEN k % 8 = 1 THEN 'V' ELSE status END AS status,
        |    CASE WHEN k % 8 = 1 THEN price * 0.90 ELSE price END AS price
        |  FROM m1
        |  UNION ALL
        |  SELECT o_orderkey + 400000000, 'M', o_totalprice
        |  FROM orders WHERE o_orderkey % 16 = 9)
        |SELECT k AS o_orderkey, status AS o_orderstatus,
        |  ROUND(price, 4) AS o_totalprice
        |FROM m2 ORDER BY o_orderkey""".stripMargin,

    // both file generations replay from nation: the narrow one as-is
    // (INT values, float bal), the wide one shifted past 2^31
    "meta_v2_alter_widen" ->
      """SELECT gen, COUNT(*) AS n_rows,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  ROUND(SUM(bal), 4) AS bal_sum FROM (
        |  SELECT 'narrow' AS gen, CAST(n_nationkey AS BIGINT) AS k,
        |    CAST(CAST(n_regionkey AS FLOAT) AS DOUBLE) AS bal
        |  FROM nation
        |  UNION ALL
        |  SELECT 'wide', CAST(n_nationkey AS BIGINT) + 5000000000,
        |    CAST(n_regionkey AS DOUBLE) + 0.25
        |  FROM nation)
        |GROUP BY gen ORDER BY gen""".stripMargin,

    // the pruned read over the incrementally-built manifest loses no
    // rows; harvested/reused counts and the 1-of-8 planned file count
    // are engine-required and pinned here as constants
    "meta_v2_stats_incremental" ->
      """WITH b AS (SELECT MAX(o_orderkey) // 8 + 1 AS step FROM orders)
        |SELECT COUNT(*) AS n_rows,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  8 AS files_total, 1 AS files_read,
        |  4 AS harvested_2nd, 4 AS reused_2nd
        |FROM orders, b
        |WHERE o_orderkey >= 6 * b.step
        |  AND o_orderkey < 7 * b.step""".stripMargin,

    // the zero-exchange plan is engine-asserted; the oracle checks the
    // join itself — co-partitioned layout must not change the answer
    "join_spj_copartitioned" ->
      """WITH f AS (SELECT o_custkey, o_totalprice,
        |             CAST(o_custkey % 8 AS INT) AS ob FROM orders),
        |c AS (SELECT c_custkey, c_acctbal,
        |        CAST(c_custkey % 8 AS INT) AS cb FROM customer)
        |SELECT ob, COUNT(*) AS n_pairs,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  ROUND(SUM(c_acctbal), 4) AS sum_bal
        |FROM f JOIN c ON ob = cb AND o_custkey = c_custkey
        |GROUP BY ob ORDER BY ob""".stripMargin,
    // compaction must be invisible to readers: the re-pointed table
    // holds exactly the rows the four appends landed
    "meta_v2_compact" ->
      """SELECT n_nationkey, n_name FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    // the retention report is a declared constant of the DDL sequence
    // (5 revisions, retain 2, 25-row nation probe): the engine DERIVES
    // every value — a numbering or retention drift fails the compare
    "meta_v2_vacuum" ->
      """SELECT * FROM (VALUES
        |  ('head_rev', 5), ('kept_probe_rows', 25), ('revs_after', 2),
        |  ('revs_before', 5), ('vacuumed_probe_fails', 1))
        |  AS t(item, value)
        |ORDER BY item""".stripMargin,
    // the cross-catalog join must equal the plain nation⋈region join
    "meta_v2_federation" ->
      """SELECT r_name, COUNT(*) AS n_nations,
        |  MIN(n_nationkey) AS lo_key
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    // the remotely-computed aggregate must equal the local one
    "meta_jdbc_pushdown" ->
      """SELECT s_nationkey, COUNT(*) AS n_suppliers,
        |  ROUND(SUM(s_acctbal), 4) AS sum_acctbal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // replay the three insert shapes with the defaults inlined
    "meta_v2_column_default" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus AS status, 1 AS priority
        |  FROM orders WHERE o_orderkey <= 1000
        |  UNION ALL
        |  SELECT o_orderkey, 'NEW', 3 FROM orders
        |  WHERE o_orderkey > 1000 AND o_orderkey <= 2000
        |  UNION ALL
        |  SELECT 9999999, 'NEW', 3)
        |SELECT status, priority, COUNT(*) AS n_rows,
        |  MIN(o_orderkey) AS lo_key
        |FROM t GROUP BY status, priority
        |ORDER BY status, priority""".stripMargin,
    // the admitted rows (and ONLY those — the violating insert must
    // leave no partial files) re-derived from the source
    "meta_v2_constraint" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 4) AS sum_price,
        |  ROUND(MIN(o_totalprice), 4) AS min_price
        |FROM orders WHERE o_orderkey <= 2000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // unqualified resolution through the session default must read the
    // same nation rows
    "sql_use_catalog" ->
      """SELECT n_regionkey, COUNT(*) AS n_nations,
        |  MIN(n_name) AS first_name
        |FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    // the remotely-joined rows must equal the locally-joined rows
    "meta_jdbc_join_pushdown" ->
      """SELECT s_suppkey, n_name, ROUND(s_acctbal, 4) AS acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_acctbal > 5000.0
        |ORDER BY s_suppkey""".stripMargin,
    // the Derby-resident dim must deliver exactly the source rows to
    // the federated join
    "meta_jdbc_catalog" ->
      """SELECT n_name, COUNT(*) AS n_suppliers,
        |  ROUND(SUM(s_acctbal), 4) AS sum_acctbal
        |FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // schema evolution: both write generations visible under the
    // evolved schema — pre-alter rows with the added column null,
    // post-alter rows carrying it
    "meta_v2_alter" ->
      """SELECT '<pre-alter>' AS src, COUNT(*) AS n_rows,
        |  MIN(n_nationkey) AS lo_key, MAX(n_nationkey) AS hi_key
        |FROM nation
        |UNION ALL
        |SELECT 'v2', COUNT(*),
        |  MIN(n_nationkey) + 100, MAX(n_nationkey) + 100
        |FROM nation
        |ORDER BY src""".stripMargin
  )
}
