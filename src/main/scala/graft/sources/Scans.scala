package graft.sources

import graft.{QueryGroup, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 group A — scans / sources / sinks.
  *
  * Reference basis [OBJ]: the reference's data substrate is files in
  * S3-compatible object storage (`metastore-import.tf:165-179`); [HMS]
  * for partitioned layout + catalog-registered tables (the metastore's
  * core objects, `metastore-import.tf:112-117`).
  *
  * Derived fixtures (CSV/JSON round-trips, partitioned rewrite) are
  * written to target/scratch — never into the read-only testdata dir —
  * and rewritten idempotently with mode=overwrite.
  *
  * Scale notes (100 TB): all writers are straight DataFrameWriter paths
  * (distributed, no driver collect). `scan_partition_prune` asserts the
  * layout that makes 100 TB queryable at all: hive-partitioned dirs +
  * partition pruning so a one-partition query reads one partition's
  * files (PartitionFilters in the scan node, checked in ScansSpec).
  */
object Scans extends QueryGroup {

  val queries: Map[String, Q] = Map(
    "scan_parquet" -> ((s, d) => {
      Tables(s, d, "lineitem").orderBy("l_orderkey", "l_linenumber")
    }),

    "scan_csv_schema" -> ((s, d) => {
      val dir = Tables.scratch(d, "nation_csv")
      Tables(s, d, "nation").write.mode("overwrite")
        .option("header", "true").csv(dir)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema).option("header", "true").csv(dir)
        .orderBy("n_nationkey")
    }),

    "scan_json_lines" -> ((s, d) => {
      val dir = Tables.scratch(d, "region_json")
      Tables(s, d, "region")
        .select(col("r_regionkey"), struct(col("r_name").as("name")).as("meta"))
        .write.mode("overwrite").json(dir)
      s.read.json(dir)
        .select(col("r_regionkey"), col("meta.name").as("r_name"))
        .orderBy("r_regionkey")
    }),

    // raw text shards (r13) — the training-corpus front door a text
    // pipeline reads constantly: one UTF-8 line per document, written
    // as a distributed multi-file shard set and read back with
    // spark.read.text. Lines carry their own key (doc_id TAB text), so
    // the round-trip is ORDER-INDEPENDENT: no coalesce(1), no reliance
    // on file enumeration order — the 100 TB shape, where a shard set
    // is thousands of files and any ordering guarantee would serialize
    // the write. Fixture text is newline-free (asserted by the oracle
    // hash: an embedded newline would split a line and break the key).
    "scan_text_lines" -> ((s, d) => {
      val dir = Tables.scratch(d, "documents_text_shards")
      Tables(s, d, "documents")
        .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
        // hash-distribute into a real multi-file shard set — the
        // order-independence claim must actually be exercised (a
        // single-partition write would hide any file-ordering reliance)
        .repartition(8, col("value"))
        .write.mode("overwrite").text(dir)
      val shards = new java.io.File(dir).listFiles()
        .count(_.getName.endsWith(".txt"))
      require(shards > 1, s"expected a multi-file shard set, got $shards")
      s.read.text(dir)
        .select(
          substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
          expr("substring(value, instr(value, '\t') + 1)").as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .orderBy("doc_id")
    }),

    // GZIP-compressed text shards — how web-scale corpora actually
    // arrive (WET/WARC-adjacent .gz files). The 100 TB lesson this key
    // encodes: gzip is NOT SPLITTABLE — each shard is exactly one task
    // regardless of spark.sql.files.maxPartitionBytes — so shard COUNT
    // and SIZE are the parallelism knobs (many ~256 MB shards, never
    // one fat archive); splittable alternatives (zstd parquet:
    // sink_zstd_roundtrip; plain text: scan_text_lines) trade that
    // constraint away. The read asserts one-partition-per-shard to
    // keep the claim honest, and the round trip is byte-lossless and
    // order-independent like its uncompressed sibling.
    "scan_gzip_text" -> ((s, d) => {
      val dir = Tables.scratch(d, "documents_gzip_shards")
      Tables(s, d, "documents")
        .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
        .repartition(8, col("value"))
        .write.mode("overwrite").option("compression", "gzip").text(dir)
      val shards = new java.io.File(dir).listFiles()
        .count(_.getName.endsWith(".txt.gz"))
      require(shards > 1, s"expected gzip shards, got $shards")
      val back = s.read.text(dir)
      // non-splittability: the scan cannot fan out beyond the shard set
      require(back.rdd.getNumPartitions <= shards,
        s"gzip scan claimed ${back.rdd.getNumPartitions} partitions " +
          s"over $shards non-splittable shards")
      back.select(
          substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
          expr("substring(value, instr(value, '\t') + 1)").as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .orderBy("doc_id")
    }),

    "scan_partition_prune" -> ((s, d) => {
      val dir = Tables.scratch(d, "lineitem_by_flag")
      // write-once per sf dir, re-done if the source fixture changes
      if (!Tables.scratchCurrent(d, "lineitem", dir)) {
        Tables(s, d, "lineitem")
          .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
        Tables.stampScratch(d, "lineitem", dir)
      }
      s.read.parquet(dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "sink_parquet_roundtrip" -> ((s, d) => {
      val dir = Tables.scratch(d, "supplier_rt_parquet")
      Tables(s, d, "supplier").write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    // codec-explicit round-trip (r13): at 100 TB the compression codec
    // is a first-order storage/scan-throughput knob, not a default to
    // inherit. zstd parquet write → read back; the filename REQUIRE
    // proves the codec actually took effect (a silently-ignored option
    // would still round-trip the rows).
    "sink_zstd_roundtrip" -> ((s, d) => {
      val dir = Tables.scratch(d, "supplier_rt_zstd")
      Tables(s, d, "supplier").write.mode("overwrite")
        .option("compression", "zstd").parquet(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName)
      require(files.nonEmpty && files.forall(_.contains(".zstd.")),
        s"zstd codec not applied: ${files.mkString(",")}")
      s.read.parquet(dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    // External-RDBMS round trip (r13): Spark's JDBC source against an
    // EMBEDDED Derby database — the relational-federation front door
    // (operational dims living in Postgres/MySQL next to the lake;
    // Derby is the sandbox's in-process stand-in, same DataFrameWriter/
    // DataFrameReader JDBC path and dialect machinery). Write is the
    // distributed batched-INSERT path; the read comes back PARTITIONED
    // (4 range partitions on s_suppkey → 4 parallel cursors, the shape
    // that keeps a big external read off one connection) with the
    // filter pushed into the remote WHERE clause (asserted in
    // ScansSpec via JDBCRelation's pushed-filter plan text). 100 TB
    // note: JDBC sources stay dim-sized — facts live in parquet; this
    // path exists so dims federate without an export hop.
    "scan_jdbc" -> ((s, d) => {
      // route the engine-wide Derby log off the repo root before any
      // embedded database (metastore keys included) boots this JVM
      System.setProperty("derby.stream.error.file",
        Tables.scratch(d, "derby.log"))
      val db = new java.io.File(Tables.scratch(d, "jdbc_derby_db"))
        .getAbsolutePath
      val url = s"jdbc:derby:;databaseName=$db;create=true"
      val props = new java.util.Properties
      val src = Tables(s, d, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      src.write.mode("overwrite").jdbc(url, "graft_supplier_rt", props)
      val hi = src.agg(max("s_suppkey")).head.getLong(0) // bounded scalar
      s.read
        .option("partitionColumn", "s_suppkey")
        .option("lowerBound", "1").option("upperBound", hi.toString)
        .option("numPartitions", "4")
        .jdbc(url, "graft_supplier_rt", props)
        .filter(col("s_nationkey") < 13)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    "sink_csv_roundtrip" -> ((s, d) => {
      val dir = Tables.scratch(d, "supplier_rt_csv")
      Tables(s, d, "supplier").write.mode("overwrite")
        .option("header", "true").csv(dir)
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType)))
      s.read.schema(schema).option("header", "true").csv(dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    // Corrupt-file tolerance — the resilience option every long-lived
    // 100 TB lake needs: one truncated/garbage object must not kill
    // the scan. ignoreCorruptFiles (per-read option, not the global
    // conf) skips unreadable files and keeps every healthy row; the
    // oracle pins the healthy content, so the diff proves BOTH that
    // the corrupt file was skipped AND that nothing else was dropped.
    "scan_ignore_corrupt" -> ((s, d) => {
      val dir = Tables.scratch(d, "nation_with_corrupt")
      if (!Tables.scratchCurrent(d, "nation", dir)) {
        val dst = new java.io.File(dir)
        dst.mkdirs()
        java.nio.file.Files.copy(
          new java.io.File(s"$d/nation.parquet").toPath,
          new java.io.File(dst, "part-0.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // a "parquet" file that is nothing of the sort
        java.nio.file.Files.write(
          new java.io.File(dst, "part-1-corrupt.parquet").toPath,
          "this is not a parquet file".getBytes)
        // hand-built dir: scratchCurrent requires the _SUCCESS marker a
        // Spark write would have left (meta_import_remap precedent) —
        // without it the freshness guard is permanently false and every
        // run re-copies the fixture
        java.nio.file.Files.writeString(
          new java.io.File(dst, "_SUCCESS").toPath, "")
        Tables.stampScratch(d, "nation", dir)
      }
      s.read.option("ignoreCorruptFiles", "true").parquet(dir)
        .orderBy("n_nationkey")
    }),

    // maxRecordsPerFile rollover — the writer-side knob that bounds
    // object sizes on a 100 TB sink (downstream listing, range reads,
    // and retries all prefer many bounded files over few giants). The
    // require() proves the rollover actually split the output; the
    // oracle proves the split lost nothing.
    "sink_max_records_per_file" -> ((s, d) => {
      val dir = Tables.scratch(d, "customer_rolled")
      val base = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      // r19 opt: the single coalesce(1) task wrote every rollover file
      // serially (measured 2.6 s for ~150 file opens at sf0.1). Task
      // count derives from the row count so every task still holds ≥ 2
      // rollover windows — the strengthened require proves the
      // SPLITTING came from maxRecordsPerFile, not from task
      // parallelism, at every scale factor (sf0.001's 150 rows → 1
      // task, exactly the old shape).
      // r20 fix: coalesce can only REDUCE partition count, and the
      // fixture table scans as ONE split — so the r19 fan-out never
      // actually happened (JobTrace: 2.0 s single-task write stage).
      // repartition pays one KiB-scale round-robin exchange and really
      // spreads the ~150 serial file opens across the tasks.
      val rows = base.count()
      val tasks = math.max(1, math.min(8, (rows / 200L).toInt))
      base.repartition(tasks)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 100)
        .parquet(dir)
      val nFiles = new java.io.File(dir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      require(nFiles > tasks,
        s"maxRecordsPerFile must split beyond the $tasks write tasks, " +
          s"got $nFiles files")
      s.read.parquet(dir).orderBy("c_custkey")
    }),

    // Quoted-multiline CSV — the parser capability flat readers lack:
    // a field containing literal newlines must round-trip through one
    // quoted CSV record (multiLine=true makes Spark parse records
    // across line boundaries; the writer quotes the field
    // automatically). At 100 TB multiLine costs splittability — a
    // quoted record can straddle any byte offset, so each file parses
    // as one task; keep multiline corpora in many medium files. The
    // oracle recomputes the embedded-newline column relationally from
    // the source table, so the diff proves the payload survived the
    // writer+parser byte-exactly.
    "scan_csv_multiline" -> ((s, d) => {
      val dir = Tables.scratch(d, "nation_multiline_csv")
      val withNote = Tables(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"),
          concat(lit("line1 of "), col("n_name"),
            lit("\n  line2 #"), col("n_nationkey")).as("note"))
      withNote.write.mode("overwrite").option("header", "true").csv(dir)
      s.read.schema(withNote.schema).option("header", "true")
        .option("multiLine", "true").csv(dir)
        .orderBy("n_nationkey")
    }),

    // Opaque-binary ingest via the binaryFile source — the multimodal
    // front door: Spark lists the directory, reads each object whole
    // into a `binary` column with path/length metadata, and everything
    // downstream (digests here; decode/feature-extraction in mm_*) is a
    // per-file projection. One tiny deterministic text file per region
    // (sorted nation names) is laid down driver-side — fixture setup,
    // like the CSV round-trips — and the oracle RECONSTRUCTS each
    // file's bytes relationally, so content, size, and md5 must all
    // survive the binary path untouched. At 100 TB this is the same
    // listing-parallel scan Spark uses for image/audio corpora;
    // pathGlobFilter keeps non-data markers out of the frame.
    "scan_binaryfile" -> ((s, d) => {
      val dir = Tables.scratch(d, "region_blobs")
      new java.io.File(dir).mkdirs()
      val byRegion = Tables(s, d, "nation")
        .select("n_regionkey", "n_name").collect()
        .groupBy(_.getInt(0))
      byRegion.foreach { case (rk, rows) =>
        val content = rows.map(_.getString(1)).sorted.mkString("\n")
        java.nio.file.Files.write(
          new java.io.File(dir, s"r$rk.txt").toPath,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.txt")
        .load(dir)
        .select(
          regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
          col("length"), md5(col("content")).as("digest"))
        .orderBy("fname")
    }),

    // Malformed-input tolerance — what a 100 TB crawl ingest actually
    // hits: rows with wrong arity / unparseable numerics must be
    // quarantined, not kill the job and not silently vanish. One
    // deterministic CSV (every 7th row corrupted two ways) read under
    // PERMISSIVE + columnNameOfCorruptRecord; the ORACLED output is
    // the fully-clean subset (parsed completely, nothing quarantined,
    // no silently null-filled under-arity row) — which DuckDB's own
    // CSV parser must agree on via read_csv(..ignore_errors=true) over
    // the same file, a genuine cross-engine parse comparison. The
    // per-mode accounting (PERMISSIVE vs DROPMALFORMED counts, where
    // engines DO disagree on error taxonomy) stays in ScansSpec via
    // [[csvMalformedModes]].
    "scan_csv_malformed" -> ((s, d) => {
      val path = writeMalformedCsv()
      val perm = s.read.schema(malformedCsvSchema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad").csv(path)
      // clean = every declared column parsed: _bad null rules out
      // type-malformed rows; amount NOT null rules out under-arity
      // rows PERMISSIVE silently null-fills (ScansSpec documents that
      // trap) — exactly the rows DuckDB keeps under ignore_errors
      perm.filter(col("_bad").isNull && col("amount").isNotNull)
        .select(col("id"), col("name"), col("amount"))
        .orderBy("id")
    }),

    // the range source: Spark's built-in parallel generator (a real
    // distributed source — each partition generates its slice).
    "scan_range" -> ((s, d) => {
      s.range(0, 1000)
        .select(col("id"), (col("id") * 2).as("doubled"),
          (col("id") % 7).as("mod7"))
        .orderBy("id")
    }),

    // schema evolution: two parquet slices with differing schemas read
    // back with mergeSchema — the added column is null for old files.
    "scan_merge_schema" -> ((s, d) => {
      val dir = Tables.scratch(d, "supplier_evolved")
      val sup = Tables(s, d, "supplier")
      sup.filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey"), col("s_name"))
        .write.mode("overwrite").parquet(s"$dir/v1")
      sup.filter(col("s_suppkey") % 2 =!= 0)
        .select(col("s_suppkey"), col("s_name"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .write.mode("overwrite").parquet(s"$dir/v2")
      s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
        .orderBy("s_suppkey")
    }),

    // write-optimized layout: range-repartition + in-partition sort (the
    // layout that makes downstream range scans and merge joins cheap);
    // round-trip content must be unchanged.
    "sink_sorted_layout" -> ((s, d) => {
      val dir = Tables.scratch(d, "orders_sorted_layout")
      Tables(s, d, "orders")
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // small-files compaction: re-land a many-file dataset as few large
    // files — the operational fix for the small-files problem at scale
    // (content must be byte-identical up to row order). repartition, not
    // coalesce: coalesce(2) propagates upstream and collapses the READ
    // to 2 tasks; repartition keeps the scan parallel (64 read tasks)
    // and pays one shuffle to land exactly 2 output files. Both dirs
    // hold the orders frame's rows, so both read back with its schema
    // (loading the frame runs no job) instead of inferring it.
    "sink_compact" -> ((s, d) => {
      val frag = Tables.scratch(d, "orders_fragmented")
      val compact = Tables.scratch(d, "orders_compacted")
      val orders = Tables(s, d, "orders")
      if (!Tables.scratchCurrent(d, "orders", frag)) {
        orders.repartition(64).write.mode("overwrite").parquet(frag)
        Tables.stampScratch(d, "orders", frag)
      }
      s.read.schema(orders.schema).parquet(frag).repartition(2)
        .write.mode("overwrite").parquet(compact)
      val outPath = new org.apache.hadoop.fs.Path(compact)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val nFiles = fs.globStatus(new org.apache.hadoop.fs.Path(
        compact, "*.parquet")).length
      require(nFiles <= 2, s"compaction left $nFiles files")
      s.read.schema(orders.schema).parquet(compact)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Schema-on-read PROJECTION over a column the file doesn't have —
    // the forward-compatibility half of schema evolution (the reader's
    // schema leads the writer's): declaring an absent column yields
    // typed NULLs, no rewrite, no failure. This is the contract that
    // lets a 100 TB table gain a column by only rewriting FUTURE files
    // (scan_merge_schema proves the multi-vintage union; this proves a
    // single old file under the new schema).
    "scan_schema_projection" -> ((s, d) => {
      val base = Tables.schema(s, d, "nation")
      val widened = org.apache.spark.sql.types.StructType(
        base.fields :+ org.apache.spark.sql.types.StructField(
          "n_comment", org.apache.spark.sql.types.StringType))
      s.read.schema(widened).parquet(s"$d/nation.parquet")
        .select(col("n_nationkey"), col("n_name"), col("n_comment"))
        .orderBy("n_nationkey")
    }),

    // Recursive directory scan — the data-lake layout reality:
    // producers drop files under arbitrary nested prefixes
    // (date/hour/host trees that are NOT hive partitions), and
    // recursiveFileLookup reads the whole tree as one relation without
    // partition-column inference. At 100 TB file LISTING is the
    // startup cost this option governs: the driver parallelizes the
    // tree walk (spark.sql.sources.parallelPartitionDiscovery.*), and
    // a catalog-backed table with a file index replaces the walk
    // entirely — the note a real deployment needs next to this key.
    "scan_recursive_glob" -> ((s, d) => {
      val base = Tables.scratch(d, "nation_nested")
      // Staleness is gated on the SOURCE fixture ("nation"), not the
      // scratch tag — fingerprinting a nonexistent nation_nested.parquet
      // yields a constant and the guard never fires (r10 advice). The
      // writes land in subdirs, so the root _SUCCESS that scratchCurrent
      // checks must be touched explicitly.
      if (!Tables.scratchCurrent(d, "nation", base)) {
        val n = Tables(s, d, "nation")
        for (r <- 0 to 4)
          n.filter(col("n_regionkey") === r).write.mode("overwrite")
            .parquet(s"$base/r$r/sub")
        java.nio.file.Files.writeString(
          new java.io.File(base, "_SUCCESS").toPath, "")
        Tables.stampScratch(d, "nation", base)
      }
      s.read.option("recursiveFileLookup", "true").parquet(base)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // Hidden _metadata columns (file provenance + row_index) — the
    // ROW-LEVEL LINEAGE primitive: at 100 TB, "which file and offset
    // did this bad row come from" is the difference between re-reading
    // one 128 MB file and re-scanning a table. The key reports the
    // structural laws (row_index is a dense 0..N−1 bijection per file,
    // one source file here) rather than raw paths — machine-specific
    // LOCATION never reaches the oracle (SURVEY §5.2), and the laws
    // are exactly what an incremental-repair job relies on.
    "scan_metadata_cols" -> ((s, d) => {
      Tables(s, d, "orders")
        .select(expr("_metadata.row_index").as("ri"),
          expr("_metadata.file_name").as("fn"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("fn")).as("n_files"),
          min(col("ri")).as("min_idx"),
          max(col("ri")).as("max_idx"),
          countDistinct(col("ri")).as("n_distinct_idx"))
    }),

    // REBALANCE-hinted write — the AQE-era answer to output-file sizing
    // (sink_compact's fixed repartition(2) is the manual form): the
    // hint lets AQE coalesce small partitions AND split skewed ones at
    // runtime to advisoryPartitionSizeInBytes, so the writer neither
    // hand-picks a partition count nor melts one reducer on a hot key.
    // At 100 TB this replaces the nightly "small files" compaction
    // tuning loop entirely — the advisory size IS the file size knob.
    "sink_rebalance_write" -> ((s, d) => {
      val out = Tables.scratch(d, "orders_rebalanced")
      Tables(s, d, "orders").hint("rebalance")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // JSONL sink: write supplier as JSON lines, read back with an
    // explicit schema (inference would widen int32 → bigint).
    // XML round-trip — Spark 4's built-in XML source (rowTag records):
    // the remaining first-class file format after parquet/orc/csv/json.
    // Explicit schema on read (XML infers everything as string
    // otherwise); lossless by the same oracle-selects-source contract
    // as the sibling roundtrips. At 100 TB the same caveat as
    // multiline CSV applies: an XML record can straddle any byte
    // offset, so files are the parallelism unit, not blocks.
    "sink_xml_roundtrip" -> ((s, d) => {
      val dir = Tables.scratch(d, "supplier_rt_xml")
      Tables(s, d, "supplier").write.mode("overwrite")
        .option("rowTag", "supplier").xml(dir)
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType)))
      s.read.schema(schema).option("rowTag", "supplier").xml(dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    // AVRO round trip WITHOUT the spark-avro connector (r14): the
    // connector jar is absent from this distribution (recorded in
    // SURVEY §7), but Avro the FORMAT — the one mainstream HMS file
    // format previously missing from the scan/sink matrix — is still
    // coverable graft-natively: avro-core ships with Spark, and the
    // engine's sanctioned decode boundary (binaryFile scan +
    // per-partition codec init, the multimodal-keys pattern) applies
    // to Avro container files exactly as to PNG/WAV/GIF. WRITE: each
    // partition streams its rows through one DataFileWriter into one
    // .avro container shard — executor-side, no driver collect. READ:
    // binaryFile scan + DataFileReader per shard. Parallelism is
    // file-granular (the scan_gzip_text trade — shard count is the
    // knob; the real connector additionally splits at avro BLOCK
    // granularity). The oracle diffs the round trip against the source
    // table: schema mapping, value encoding and container framing must
    // all survive.
    "sink_avro_roundtrip" -> ((s, d) => {
      import s.implicits._
      val dir = Tables.scratch(d, "supplier_rt_avro")
      val schemaJson =
        """{"type":"record","name":"supplier","fields":[
          |{"name":"s_suppkey","type":"long"},
          |{"name":"s_name","type":"string"},
          |{"name":"s_nationkey","type":"int"},
          |{"name":"s_acctbal","type":"double"}]}""".stripMargin
      val out = new java.io.File(dir)
      org.apache.commons.io.FileUtils.deleteQuietly(out)
      out.mkdirs()
      val dirAbs = out.getAbsolutePath
      Tables(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
        .as[(Long, String, Int, Double)]
        .repartition(4)
        .foreachPartition { (it: Iterator[(Long, String, Int, Double)]) =>
          if (it.nonEmpty) {
            val schema =
              new org.apache.avro.Schema.Parser().parse(schemaJson)
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val w = new org.apache.avro.file.DataFileWriter(
              new org.apache.avro.generic.GenericDatumWriter[
                org.apache.avro.generic.GenericRecord](schema))
            w.create(schema, new java.io.File(dirAbs, f"part-$pid%05d.avro"))
            try it.foreach { case (k, n, nk, ab) =>
              val rec = new org.apache.avro.generic.GenericData.Record(schema)
              rec.put("s_suppkey", k); rec.put("s_name", n)
              rec.put("s_nationkey", nk); rec.put("s_acctbal", ab)
              w.append(rec)
            } finally w.close()
          }
        }
      s.read.format("binaryFile").load(dirAbs)
        .filter(col("path").endsWith(".avro"))
        .select(col("content")).as[Array[Byte]]
        .mapPartitions { parts =>
          import scala.jdk.CollectionConverters._
          parts.flatMap { bytes =>
            val r = new org.apache.avro.file.DataFileReader(
              new org.apache.avro.file.SeekableByteArrayInput(bytes),
              new org.apache.avro.generic.GenericDatumReader[
                org.apache.avro.generic.GenericRecord]())
            r.iterator.asScala.map(rec => (
              rec.get("s_suppkey").asInstanceOf[Long],
              rec.get("s_name").toString,
              rec.get("s_nationkey").asInstanceOf[Int],
              rec.get("s_acctbal").asInstanceOf[Double]))
          }
        }
        .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    "sink_json_roundtrip" -> ((s, d) => {
      val dir = Tables.scratch(d, "supplier_rt_json")
      Tables(s, d, "supplier").write.mode("overwrite").json(dir)
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType)))
      s.read.schema(schema).json(dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    // dynamic partition overwrite: INSERT OVERWRITE replaces ONLY the
    // partitions present in the incoming data — the incremental-reload
    // write path for partitioned lakehouse tables (static mode would
    // silently wipe every other partition). The query rebuilds the
    // table, overwrites just l_returnflag='R' with doubled quantities,
    // and returns the whole table: untouched partitions prove isolation.
    "sink_dynamic_overwrite" -> ((s, d) => {
      val dir = Tables.scratch(d, "lineitem_dyn_overwrite")
      val base = Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
      s.sql("DROP TABLE IF EXISTS graft_dyn_part")
      base.write.mode("overwrite").partitionBy("l_returnflag")
        .option("path", dir).saveAsTable("graft_dyn_part")
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        Tables(s, d, "lineitem").filter(col("l_returnflag") === "R")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n_lines"),
            round(sum(col("l_quantity") * 2), 4).as("sum_qty"))
          .select(col("l_linestatus"), col("n_lines"), col("sum_qty"),
            col("l_returnflag")) // partition column last for insertInto
          .write.mode("overwrite").insertInto("graft_dyn_part")
      } finally prev match {
        case Some(p) => s.conf.set("spark.sql.sources.partitionOverwriteMode", p)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.table("graft_dyn_part")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("n_lines"), col("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "sink_orc_roundtrip" -> ((s, d) => {
      // ORC: the Hive-native columnar format the reference's clusters
      // default to — round-trip must be lossless like parquet.
      val dir = Tables.scratch(d, "supplier_rt_orc")
      Tables(s, d, "supplier").write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    // Z-order (Morton) layout: interleave the bits of two filter
    // dimensions, range-partition + sort on the interleaved key, and
    // every file covers a small RECTANGLE of (l_orderkey, l_partkey)
    // space instead of a stripe — so parquet min/max stats prune files
    // for predicates on EITHER column. This is the multi-dimensional
    // data-skipping layout 100 TB lakehouse tables use (a single-column
    // sort can only skip on that one column); ScansSpec measures the
    // per-file span shrink on both dimensions. Content round-trips
    // losslessly; the rectangle filter below reads back through the
    // layout with both range predicates pushed to the scan.
    "sink_zorder" -> ((s, d) => {
      val dir = Tables.scratch(d, "lineitem_zorder")
      if (!Tables.scratchCurrent(d, "lineitem", dir)) {
        zorderWrite(Tables(s, d, "lineitem"), "l_orderkey", "l_partkey", dir)
        Tables.stampScratch(d, "lineitem", dir)
      }
      s.read.parquet(dir)
        .filter(col("l_orderkey").between(1000, 3000) &&
          col("l_partkey").between(50, 120))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          round(col("l_quantity"), 4).as("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // parquet bloom filters: the needle-in-100TB point-lookup aid.
    // Min/max stats can't skip on a column uncorrelated with the sort
    // order (every row group spans the whole o_custkey domain); a bloom
    // filter per row group answers "definitely absent" for equality
    // probes, so a point lookup touches only the row groups that may
    // contain the key. The write enables bloom filters on o_custkey;
    // the read is the equality probe that exercises them.
    "scan_bloom_skip" -> ((s, d) => {
      val dir = Tables.scratch(d, "orders_bloom")
      if (!Tables.scratchCurrent(d, "orders", dir, ver = ":bloom2")) {
        Tables(s, d, "orders")
          // sort by date so o_custkey is uncorrelated with file order —
          // the layout where min/max skipping fails and blooms matter
          .repartitionByRange(4, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#o_custkey", "true")
          .option("parquet.bloom.filter.expected.ndv#o_custkey", "100000")
          // parquet-mr SKIPS the bloom filter for a chunk that ends
          // fully dictionary-encoded (the dictionary already answers
          // exact membership). At fixture scale o_custkey is low-
          // cardinality, so without this the option was a silent no-op
          // (caught by ScansSpec's footer check); at 100 TB the key
          // blows the dictionary threshold and blooms write either way.
          .option("parquet.enable.dictionary#o_custkey", "false")
          .parquet(dir)
        Tables.stampScratch(d, "orders", dir, ver = ":bloom2")
      }
      s.read.parquet(dir)
        .filter(col("o_custkey") === 42)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    "catalog_table_scan" -> ((s, d) => {
      // saveAsTable registers data + schema in the session catalog; the
      // read resolves purely by name — the reference's metastore-backed
      // read path in miniature (SURVEY.md §3.1 entry point 1).
      // a fresh session's in-memory catalog forgets the table while its
      // warehouse dir survives on disk → LOCATION_ALREADY_EXISTS; clear
      // both before writing so the query is idempotent across sessions.
      s.sql("DROP TABLE IF EXISTS graft_supplier")
      val wh = new org.apache.hadoop.fs.Path(
        s.sessionState.conf.warehousePath, "graft_supplier")
      wh.getFileSystem(s.sparkContext.hadoopConfiguration).delete(wh, true)
      Tables(s, d, "supplier").write.mode("overwrite")
        .saveAsTable("graft_supplier")
      s.table("graft_supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal"), 4).as("s_acctbal"))
        .orderBy("s_suppkey")
    })
  )

  /** Write `df` z-ordered on (`cx`, `cy`): normalize both columns onto
    * a 16-bit grid (bounds from one tiny pre-agg, broadcast), interleave
    * the bits into a 32-bit Morton key, range-partition + sort on it.
    * Entirely expression-level (codegen'd) — no UDF, no driver loop; the
    * only data movement is the range shuffle any sorted write pays.
    *
    * Preconditions: `cx` and `cy` must be castable to LONG (the grid is
    * integral — use unix timestamps / surrogate keys, not strings), and
    * `df` must not already contain columns prefixed `__zg_` (the
    * internal grid columns; they are dropped before the write). All
    * expressions are built with Column operators keyed by the internal
    * names, so `cx`/`cy` themselves never pass through a SQL string —
    * names needing backticks are fine. */
  def zorderWrite(df: org.apache.spark.sql.DataFrame,
      cx: String, cy: String, dir: String): Unit = {
    require(!df.columns.exists(_.startsWith("__zg_")),
      "input already carries __zg_-prefixed columns (reserved internals)")
    val x = col(cx).cast("long")
    val y = col(cy).cast("long")
    val bounds = df.agg(
      min(x).as("__zg_xmin"), max(x).as("__zg_xmax"),
      min(y).as("__zg_ymin"), max(y).as("__zg_ymax"))
    // (v - min) * 65535 div (max - min): pure long arithmetic (no double
    // rounding); v >= min so floor division == DIV. div() needs a SQL
    // fragment but only over the fixed internal names, never cx/cy.
    val gridded = df.crossJoin(broadcast(bounds))
      .withColumn("__zg_dx", (x - col("__zg_xmin")) * lit(65535L))
      .withColumn("__zg_rx",
        greatest(col("__zg_xmax") - col("__zg_xmin"), lit(1L)))
      .withColumn("__zg_dy", (y - col("__zg_ymin")) * lit(65535L))
      .withColumn("__zg_ry",
        greatest(col("__zg_ymax") - col("__zg_ymin"), lit(1L)))
      .withColumn("__zg_zx", expr("__zg_dx DIV __zg_rx"))
      .withColumn("__zg_zy", expr("__zg_dy DIV __zg_ry"))
    val morton = (0 until 16).map { i =>
      shiftleft(shiftright(col("__zg_zx"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("__zg_zy"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    gridded.withColumn("__zg_z", morton)
      .repartitionByRange(8, col("__zg_z"))
      .sortWithinPartitions("__zg_z")
      .select(df.columns.map(c => col(s"`$c`")): _*)
      .write.mode("overwrite").parquet(dir)
  }

  private val supplierSql =
    """SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 4) AS s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** Fixed absolute path of the malformed-CSV fixture — deliberately
    * NOT sf-keyed (the 700 synthetic rows are scale-independent) so
    * the DuckDB oracle can reference it as a static literal; resolved
    * against the JVM working dir (the repo root under sbt). */
  private[graft] val malformedCsvPath: String =
    new java.io.File("target/scratch/_shared/malformed_csv/rows.csv")
      .getAbsolutePath

  private[graft] val malformedCsvSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("amount", LongType),
    StructField("_bad", StringType)))

  /** (Re)write the malformed-CSV fixture: every 7th row ≡3 is
    * under-arity, ≡5 carries an unparseable numeric. Written
    * unconditionally (700 tiny rows): an exists() guard would keep
    * serving a stale file after the recipe changes — the staleness
    * class the ver-stamped scratch discipline exists for. */
  private[graft] def writeMalformedCsv(): String = {
    val f = new java.io.File(malformedCsvPath)
    val rows = (0 until 700).map { i =>
      if (i % 7 == 3) s"$i,row_$i"                   // missing column
      else if (i % 7 == 5) s"$i,row_$i,not_a_number" // bad numeric
      else s"$i,row_$i,${i * 10}"
    }
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath,
      rows.mkString("", "\n", "\n")): Unit
    f.getPath
  }

  /** The per-mode recovery accounting (PERMISSIVE quarantine counts vs
    * DROPMALFORMED survivor counts) — ScalaTest-asserted (ScansSpec):
    * engines disagree on CSV error taxonomy (Spark null-fills
    * under-arity rows silently; DROPMALFORMED keeps them), so THIS
    * shape has no cross-engine oracle; the clean-subset key above
    * does. */
  private[graft] def csvMalformedModes(s: org.apache.spark.sql
      .SparkSession): org.apache.spark.sql.DataFrame = {
    val path = writeMalformedCsv()
    val perm = s.read.schema(malformedCsvSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad").csv(path)
    val dropped = s.read.schema(StructType(malformedCsvSchema.fields.init))
      .option("mode", "DROPMALFORMED").csv(path)
    // the agg must reference data columns alongside _bad — Spark
    // rejects raw-file queries that project ONLY the corrupt column
    val permCounts = perm.agg(
      count(col("id")).as("n_rows"),
      count(col("amount")).as("n_amount_ok"),
      count(col("_bad")).as("n_quarantined"))
      .select(lit("permissive").as("mode"), col("n_rows"),
        col("n_amount_ok"), col("n_quarantined"))
    // count(amount), not count(*): under an empty projection the CSV
    // parser parses NO values, detects nothing malformed, and
    // DROPMALFORMED silently drops zero rows — the classic
    // column-pruning trap this op exists to document.
    val dropCounts = dropped
      .agg(count(col("id")).as("n_rows"),
        count(col("amount")).as("n_amount_ok"))
      .select(lit("dropmalformed").as("mode"), col("n_rows"),
        col("n_amount_ok"), lit(0L).as("n_quarantined"))
    permCounts.unionAll(dropCounts).orderBy("mode")
  }

  val oracles: Map[String, String] = Map(
    // cross-engine CSV parse agreement: DuckDB's parser over the SAME
    // file must keep exactly the rows Spark parsed fully clean
    // (ignore_errors drops both corruption classes; Spark's clean
    // filter excludes its null-filled under-arity rows)
    "scan_csv_malformed" ->
      s"""SELECT id, name, amount
         |FROM read_csv('$malformedCsvPath',
         |  columns={'id':'BIGINT','name':'VARCHAR','amount':'BIGINT'},
         |  header=false, ignore_errors=true)
         |ORDER BY id""".stripMargin,
    "scan_parquet" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "scan_csv_schema" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    // reconstructs each blob's bytes from the relational source — the
    // binary scan must round-trip content (md5), size, and naming
    "scan_binaryfile" ->
      """WITH cont AS (SELECT n_regionkey,
        |    string_agg(n_name, chr(10) ORDER BY n_name) AS content
        |  FROM nation GROUP BY 1)
        |SELECT 'r'||CAST(n_regionkey AS VARCHAR)||'.txt' AS fname,
        |  CAST(length(content) AS BIGINT) AS length,
        |  md5(content) AS digest
        |FROM cont ORDER BY fname""".stripMargin,
    "scan_json_lines" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "scan_text_lines" ->
      """SELECT doc_id, text, CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "scan_gzip_text" ->
      """SELECT doc_id, text, CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "scan_partition_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "sink_parquet_roundtrip" -> supplierSql,
    "sink_zstd_roundtrip" -> supplierSql,
    // the remote WHERE must deliver exactly the matching dim rows
    "scan_jdbc" ->
      """SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 4) AS s_acctbal
        |FROM supplier WHERE s_nationkey < 13 ORDER BY s_suppkey""".stripMargin,
    "sink_csv_roundtrip" -> supplierSql,
    "scan_ignore_corrupt" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "sink_max_records_per_file" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "scan_csv_multiline" ->
      """SELECT n_nationkey, n_name,
        |  'line1 of ' || n_name || chr(10) ||
        |    '  line2 #' || CAST(n_nationkey AS VARCHAR) AS note
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "sink_json_roundtrip" -> supplierSql,
    "sink_xml_roundtrip" -> supplierSql,
    "sink_orc_roundtrip" -> supplierSql,
    "sink_avro_roundtrip" -> supplierSql,
    "scan_range" ->
      """SELECT range AS id, range * 2 AS doubled, range % 7 AS mod7
        |FROM range(0, 1000) ORDER BY id""".stripMargin,
    "scan_merge_schema" ->
      """SELECT s_suppkey, s_name,
        | CASE WHEN s_suppkey % 2 = 0 THEN NULL
        |      ELSE ROUND(s_acctbal, 4) END AS s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "sink_sorted_layout" ->
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "sink_compact" ->
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "sink_rebalance_write" ->
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "scan_recursive_glob" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "scan_schema_projection" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS VARCHAR) AS n_comment
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "scan_metadata_cols" ->
      """SELECT COUNT(*) AS n_rows, CAST(1 AS BIGINT) AS n_files,
        | CAST(0 AS BIGINT) AS min_idx,
        | CAST(COUNT(*) - 1 AS BIGINT) AS max_idx,
        | COUNT(*) AS n_distinct_idx
        |FROM orders""".stripMargin,
    "sink_dynamic_overwrite" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
        | ROUND(SUM(l_quantity *
        |   CASE WHEN l_returnflag = 'R' THEN 2 ELSE 1 END), 4) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "sink_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        | ROUND(l_quantity, 4) AS l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000
        |  AND l_partkey BETWEEN 50 AND 120
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_bloom_skip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders WHERE o_custkey = 42 ORDER BY o_orderkey""".stripMargin,
    "catalog_table_scan" -> supplierSql
  )
}
