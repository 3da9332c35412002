package graft

import java.sql.Timestamp
import graft.catalog.KeyCatalog
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Multi-batch streaming semantics that single-replay queries can't
  * observe: watermark late-drop in append mode, cross-batch keyed state,
  * and stream-vs-batch equality (Spark's incrementalization guarantee).
  */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("watermark drops late events in append mode across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_late").start()
    try {
      // batch 1: two events in window [00:00,00:10)
      input.addData((ts(1), "a"), (ts(5), "a"))
      q.processAllAvailable()
      // batch 2: event at 00:31 → watermark = 00:21 → window [0,10) closes
      input.addData((ts(31), "a"))
      q.processAllAvailable()
      // batch 3: LATE event for the closed window — must be dropped
      input.addData((ts(2), "a"))
      q.processAllAvailable()
      // batch 4: push watermark far ahead so every open window closes
      input.addData((ts(120), "a"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("wm_late")
      .select(col("window.start").cast("string").as("ws"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the closed window keeps count 2 — the late event did not revise it
    assert(out("2024-01-01 00:00:00") == 2L,
      s"late event was not dropped: $out")
    assert(out("2024-01-01 00:30:00") == 1L)
  }

  test("restart from checkpoint resumes state without double-counting") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_out").toString
    val input = MemoryStream[(Timestamp, String)]
    def start() = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("ws"), col("n"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir).start()
    // run 1: open a window with 2 events, then stop the query
    val q1 = start()
    try {
      input.addData((ts(1), "a"), (ts(5), "a"))
      q1.processAllAvailable()
    } finally q1.stop()
    // run 2: RESTART from the same checkpoint; push the watermark so
    // the pre-crash window finalizes from RECOVERED state
    val q2 = start()
    try {
      input.addData((ts(45), "a"), (ts(120), "a"))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = s.read.parquet(outDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exactly-once accounting: the recovered window holds BOTH run-1
    // events, once each — state survived the stop, nothing replayed
    assert(out("2024-01-01 00:00:00") == 2L,
      s"recovered window lost or double-counted state: $out")
    assert(out("2024-01-01 00:40:00") == 1L)
  }

  test("failed micro-batch replays idempotently — exactly-once sink") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_eo_ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_eo_out").toString
    val input = MemoryStream[(Long, String)]
    val attempts = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() = input.toDF().toDF("id", "k")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        attempts += batchId
        // idempotent sink: batchId-keyed dir, overwritten on replay
        df.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        // crash batch 1's FIRST attempt after its sink write — between
        // sink and checkpoint commit, the worst-timed failure
        if (batchId == 1 && attempts.count(_ == 1L) == 1)
          throw new RuntimeException("graft injected post-sink crash")
      }
      .start()
    val q1 = start()
    input.addData((1L, "a"), (2L, "b")) // batch 0 — clean
    q1.processAllAvailable()
    input.addData((3L, "c")) // batch 1 — written, then crashed
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    val q2 = start() // same checkpoint: batch 1 is uncommitted → replay
    try {
      input.addData((4L, "d")) // batch 2 — post-recovery progress
      q2.processAllAvailable()
    } finally q2.stop()
    assert(attempts.count(_ == 1L) == 2,
      s"batch 1 was not replayed with its original id: $attempts")
    val out = s.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    // the replayed batch left its row exactly once; nothing lost either
    assert(out.toSeq == Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      s"exactly-once violated: ${out.mkString(", ")}")
  }

  test("stateful count accumulates across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val input = MemoryStream[(Long, Double)]
    val fn = (uid: Long, rows: Iterator[(Long, Double)],
        state: GroupState[Long]) => {
      val n = state.getOption.getOrElse(0L) + rows.size
      state.update(n)
      Iterator((uid, n))
    }
    val counted = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
    val q = counted.toDF("user_id", "n").writeStream
      .outputMode("update").format("memory").queryName("state_acc").start()
    try {
      input.addData((7L, 1.0), (7L, 2.0), (9L, 1.0))
      q.processAllAvailable()
      input.addData((7L, 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("state_acc")
      .groupBy("user_id").agg(max("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(7L -> 3L, 9L -> 1L), s"got $rows")
  }

  test("streamed tumbling counts equal batch computation") {
    val streamed = SparkEntry.queries("stream_tumbling")(spark, sf)
      .select("window_start", "event_type", "n_events")
    val batch = Tables(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream and batch tumbling aggregation differ")
  }

  test("incremental CDC upsert equals the batch changelog compaction") {
    // the merge rule is associative, so the micro-batched replay must
    // land bitwise on the one-shot batch compaction
    val streamed = SparkEntry.queries("stream_cdc_upsert")(spark, sf)
      .collect().toSeq
    val batch = SparkEntry.queries("win_latest_version")(spark, sf)
      .collect().toSeq
    assert(streamed == batch,
      s"upsert state diverged from batch compaction")
  }

  test("streamed session windows equal batch session_window") {
    val streamed = SparkEntry.queries("stream_session")(spark, sf)
    val batch = Tables(spark, sf, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream and batch session windows differ")
  }

  test("stream sunk through the V2 catalog lands every event exactly once") {
    val agg = SparkEntry.queries("stream_v2_sink")(spark, sf).collect()
    val total = agg.map(_.getAs[Long]("n_events")).sum
    val distinct = agg.map(_.getAs[Long]("n_distinct")).sum
    val nEvents = Tables(spark, sf, "events").count()
    assert(total == nEvents && distinct == nEvents,
      s"sink table holds $total rows / $distinct distinct ids, " +
        s"stream had $nEvents events")
    // the sink table is a real shared-catalog object: a fresh read-only
    // attach resolves it by name with the appended micro-batch files
    val cat2 = KeyCatalog("stream_v2_sink", sf).roCat
    assert(spark.table(s"$cat2.corp.events_sink").count() == nEvents)
  }

  test("partitioned streamed sink lays out and prunes partitions") {
    assert(SparkEntry.queries("stream_v2_partitioned_sink")(spark, sf)
      .collect().nonEmpty)
    // the pruned read-back must push the partition filter into the scan
    val cat2 = KeyCatalog("stream_v2_partitioned_sink", sf).roCat
    val df = spark.table(s"$cat2.corp.events_psink")
      .filter(org.apache.spark.sql.functions.col("event_type") === "view")
    val plan = df.queryExecution.executedPlan.toString
    assert(
      "PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(plan)
        .isDefined,
      s"partition filter did not reach the streamed table's scan:\n$plan")
    assert(df.count() > 0)
  }

  test("rate source output is micro-batch-cadence-independent") {
    import org.apache.spark.sql.functions._
    // same bounded prefix, DIFFERENT batch slicing (100-row batches →
    // 10 batches instead of 4): the landed rows must be identical —
    // the closed form depends only on value, never on batch boundaries
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", "100")
      .option("numPartitions", "2")
      .option("startTimestamp", "0")
      .option("advanceMillisPerBatch", "24000") // 60000 * 100/250
      .load()
      .filter(col("value") < 1000)
      .select(col("value").as("seq"),
        (col("value") % 250).as("pos_in_batch"),
        unix_millis(col("timestamp")).as("ts_ms"))
    val q = src.writeStream.outputMode("append")
      .format("memory").queryName("graft_rate_alt").start()
    try {
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (spark.table("graft_rate_alt").count() < 1000
          && System.nanoTime < deadline) Thread.sleep(50)
    } finally q.stop()
    val alt = spark.table("graft_rate_alt").orderBy("seq").collect()
    val ref = SparkEntry.queries("stream_rate_source")(spark, sf).collect()
    assert(alt.length == 1000 && ref.length == 1000)
    // the VALUE sequence is cadence-independent: both runs land the
    // dense prefix 0..999 exactly once, whatever the batch slicing
    assert(alt.map(_.getLong(0)).toSeq == ref.map(_.getLong(0)).toSeq,
      "rate-source value sequence depends on micro-batch cadence")
    // the TIMESTAMP closed form tracks each run's own cadence exactly:
    // ts = (value div rowsPerBatch) * advancePerBatch — per-run
    // deterministic, which is what makes the source oracle-able
    assert(alt.forall(r => r.getLong(2) == r.getLong(0) / 100 * 24000),
      "alt-cadence timestamps off closed form")
    assert(ref.forall(r => r.getLong(2) == r.getLong(0) / 250 * 60000),
      "key-cadence timestamps off closed form")
  }


  test("change-feed consumer: restart from checkpoint resumes at the " +
      "right revision, each revision applied exactly once") {
    import graft.catalog.{CatalogSnapshot, CatalogTransfer, ChangeFeedStream}
    val dir = new java.io.File(Tables.scratch(sf, "v2_scfspec_snapshot"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    CatalogTransfer.writeLocal(CatalogSnapshot(Nil, Nil), dir.getPath)
    val cat = "scf_spec"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.WritableSnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", dir.getPath)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"""CREATE TABLE $cat.m.t (k BIGINT NOT NULL, v DOUBLE)
                 |USING parquet LOCATION '${dir.getPath}/_data/t'
                 |TBLPROPERTIES('graft.delete.mode'='merge-on-read',
                 | 'graft.merge.mode'='merge-on-read',
                 | 'graft.row.id'='k')""".stripMargin)
    spark.range(20).select(col("id").as("k"), lit(1.0).as("v"))
      .coalesce(1).writeTo(s"$cat.m.t").append()
    def headRev(): Int = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "HEAD").toPath)).trim.toInt
    val base = headRev()
    def stateAt(s2: org.apache.spark.sql.SparkSession)(r: Int) =
      s2.sql(s"SELECT * FROM $cat.m.t VERSION AS OF '$r'")
    val out = Tables.scratch(sf, "scf_spec_state")
    if (java.nio.file.Files.isSymbolicLink( // generation symlink
        java.nio.file.Paths.get(out)))
      java.nio.file.Files.delete(java.nio.file.Paths.get(out))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(out + "_applied"))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(out + "_gen"))
    ChangeFeedStream.bootstrap(out, base, stateAt(spark)(base))
    val src = Tables.scratch(sf, "scf_spec_marks")
    val cp = Tables.scratch(sf, "scf_spec_cp")
    for (p <- Seq(src, cp))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    new java.io.File(src).mkdirs()
    def mark(r: Int): Unit = java.nio.file.Files.writeString(
      new java.io.File(src, f"r$r%05d.txt").toPath, r.toString): Unit
    def runStream(): Unit = {
      val q = spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            _: Long) =>
          val ss = batch.sparkSession
          val upTo = batch.agg(max(col("value").cast("int"))).head()
          if (!upTo.isNullAt(0))
            ChangeFeedStream.applyUpTo(ss, dir.getPath, "m", "t", "k",
              out, upTo.getInt(0), stateAt(ss)): Unit
        }
        .option("checkpointLocation", cp)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // phase 1: two delta revisions consumed. The MERGE must carry a
    // genuinely-matched branch — an insert-only MERGE plans as a plain
    // APPEND (no catalog revision to feed on)
    spark.sql(s"DELETE FROM $cat.m.t WHERE k % 5 = 0")
    spark.range(3).select((col("id") + 18).as("k"), lit(7.0).as("v"))
      .createOrReplaceTempView("scf_spec_d1")
    spark.sql(s"""MERGE INTO $cat.m.t t USING scf_spec_d1 u ON t.k = u.k
                 |WHEN MATCHED THEN UPDATE SET v = u.v
                 |WHEN NOT MATCHED THEN INSERT (k, v)
                 |VALUES (u.k, u.v)""".stripMargin)
    mark(base + 1); mark(base + 2)
    runStream()
    assert(ChangeFeedStream.applied(out) == (base to base + 2))
    // phase 2: another revision lands AFTER the stream stopped; a
    // fresh stream over the SAME checkpoint must resume past the
    // already-consumed markers and apply exactly the new revision
    spark.sql(s"DELETE FROM $cat.m.t WHERE k = 20")
    mark(base + 3)
    runStream()
    assert(ChangeFeedStream.applied(out) == (base to base + 3),
      s"restart must resume at revision ${base + 3}: " +
        ChangeFeedStream.applied(out))
    val head = spark.table(s"$cat.m.t")
    val mat = spark.read.parquet(out)
    assert(mat.except(head).isEmpty && head.except(mat).isEmpty,
      "materialization diverged after restart")
    // 20 - 4 deleted (0,5,10,15) + 1 inserted (20) - 1 deleted (20)
    assert(mat.count() == 16)
    assert(mat.filter(col("k") === 18).head.getDouble(1) == 7.0,
      "merged update lost in the feed application")
  }

  test("DSv2 change-feed source: checkpoint offsets ARE revision ids, " +
      "admission pages in bounded batches, restart resumes mid-log") {
    import graft.catalog.{CatalogSnapshot, CatalogTransfer}
    val dir = new java.io.File(Tables.scratch(sf, "v2_cfsrc_spec"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    CatalogTransfer.writeLocal(CatalogSnapshot(Nil, Nil), dir.getPath)
    val cat = "cfsrc_spec"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.WritableSnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", dir.getPath)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.m")
    spark.sql(s"""CREATE TABLE $cat.m.t (k BIGINT NOT NULL, v DOUBLE)
                 |USING parquet
                 |LOCATION '${dir.getPath}/_data/t'
                 |TBLPROPERTIES('graft.delete.mode'='merge-on-read',
                 | 'graft.merge.mode'='merge-on-read',
                 | 'graft.row.id'='k')""".stripMargin)
    spark.range(40).select(col("id").as("k"), lit(1.0).as("v"))
      .coalesce(1).writeTo(s"$cat.m.t").append()
    def headRev(): Int = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "HEAD").toPath)).trim.toInt
    val base = headRev()
    // four delta revisions
    for (m <- Seq(5, 7, 9, 11))
      spark.sql(s"DELETE FROM $cat.m.t WHERE k % 20 = $m")
    assert(headRev() == base + 4)
    val out = Tables.scratch(sf, "cfsrc_spec_out")
    val cp = Tables.scratch(sf, "cfsrc_spec_cp")
    for (p <- Seq(out, cp))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
    def run(maxPerTrigger: Int): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("snapshot", dir.getPath).option("db", "m")
        .option("table", "t").option("key", "k")
        .option("startRevision", base.toString)
        .option("maxRevisionsPerTrigger", maxPerTrigger.toString)
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val revs = b.select("_rev").distinct().collect()
            .map(_.getInt(0)).toSet
          batches.synchronized { batches += revs: Unit }
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // maxRevisionsPerTrigger=2 pages the 4 pending revisions as 2+2
    run(2)
    assert(batches.toSeq == Seq(
        Set(base + 1, base + 2), Set(base + 3, base + 4)),
      s"admission paging wrong: $batches")
    // OFFSET = REVISION ID, verbatim, in the checkpoint's offset log
    val offsetsDir = new java.io.File(cp, "offsets")
    val lastBatch = offsetsDir.list().filter(_.forall(_.isDigit))
      .map(_.toInt).max
    val offLines = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(offsetsDir, lastBatch.toString).toPath))
      .split("\n").toSeq
    assert(offLines.last.trim == (base + 4).toString,
      s"checkpoint offset must be the bare revision id: $offLines")
    // restart mid-log: a fifth revision, same checkpoint
    spark.sql(s"DELETE FROM $cat.m.t WHERE k % 20 = 13")
    batches.clear()
    run(2)
    assert(batches.toSeq == Seq(Set(base + 5)),
      s"restart must resume at revision ${base + 5}: $batches")
    // the accumulated feed equals the four+one deletes' pre-images
    val got = spark.read.parquet(out)
    assert(got.count() ==
      Seq(5, 7, 9, 11, 13).map(m => (0 until 40).count(_ % 20 == m)).sum)
    assert(got.select("op").distinct().collect()
      .map(_.getString(0)).toSet == Set("delete"))
  }

  test("streaming minhash dedup: 3 real micro-batches against a " +
      "growing index, final pair set invariant to the split") {
    val streamed = SparkEntry.queries("stream_dedup_minhash")(spark, sf)
      .collect().toSeq
    // the stream genuinely chopped into micro-batches (one per feed
    // file) — otherwise this is just the batch key with extra steps
    val offsets = Option(new java.io.File(
      Tables.scratch(sf, "mh_stream_run") + "/cp/offsets").list())
      .toSeq.flatten.count(!_.startsWith("."))
    assert(offsets >= 3, s"expected >=3 micro-batches, got $offsets")
    // split invariance, engine-side: the accumulated pairs equal the
    // one-shot batch key's output row-for-row (same doc pairs, same
    // exact-Jaccard values) — detection against the growing index
    // composes to the same answer as one big batch
    val batch = SparkEntry.queries("dedup_minhash_incremental")(spark, sf)
      .collect().toSeq
    assert(streamed == batch,
      s"streamed pair set diverges from the batch law: " +
        s"${streamed.size} vs ${batch.size} rows")
  }

  test("streaming IVF ingest: micro-batched appends reproduce the " +
      "from-scratch corpus assignment") {
    import graft.sim.VectorOps
    val streamed = SparkEntry.queries("stream_ivf_append")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val offsets = Option(new java.io.File(
      Tables.scratch(sf, "ivf_stream_run") + "/cp/offsets").list())
      .toSeq.flatten.count(!_.startsWith("."))
    assert(offsets >= 3, s"expected >=3 micro-batches, got $offsets")
    val scratch = VectorOps.ivfFullAssignments(spark, sf)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty && streamed == scratch,
      "streamed ingest diverges from the from-scratch assignment")
  }

  test("stream_changefeed_upsert reruns to the same rows in one session") {
    // its state dir is a symlink into `<state>_gen`: a rerun that left
    // either behind would re-apply revisions onto stale state
    def run() = SparkEntry.queries("stream_changefeed_upsert")(spark, sf)
      .collect().toSeq
    val first = run()
    val second = run()
    assert(first.nonEmpty && second == first,
      s"rerun drifted: ${first.size} vs ${second.size} rows")
  }
}
