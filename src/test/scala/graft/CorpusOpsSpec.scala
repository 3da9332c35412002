package graft

import graft.nlp.CorpusOps
import org.apache.spark.sql.functions._

/** Laws for the corpus-curation group: component structure of
  * dedup_clusters, determinism of the hash samplers, packing-budget
  * invariants, and scrub completeness. */
class CorpusOpsSpec extends SparkSpec {

  test("connectedComponents labels a two-component edge list") {
    import SparkSpec.spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = CorpusOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a long chain (high diameter)") {
    import SparkSpec.spark.implicits._
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = CorpusOps.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 9 && got.values.forall(_ == 1L))
  }

  test("dedup_clusters: cluster_id is the component minimum and pairs co-cluster") {
    val rows = SparkEntry.queries("dedup_clusters")(spark, sf).collect()
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cluster_id = min member id
    cluster.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid min is not the label")
    }
    // every detected near-dup pair must land in one cluster
    val pairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect()
    pairs.foreach { p =>
      assert(cluster(p.getLong(0)) == cluster(p.getLong(1)),
        s"pair ${p.getLong(0)},${p.getLong(1)} split across clusters")
    }
    // csize agrees with the actual member count
    val sizes = rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
    cluster.groupBy(_._2).foreach { case (cid, members) =>
      assert(sizes(cid) == members.size)
    }
  }

  test("corpus shuffle shards are complete, deterministic, balanced") {
    val rows = SparkEntry.queries("corpus_shuffle_shards")(spark, sf)
      .collect()
    val n = Tables(spark, sf, "documents").count().toInt
    assert(rows.length == n, "shuffle dropped or duplicated docs")
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == n)
    // seq is a dense 1..size rank within every shard
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (sh, rs) =>
      assert(rs.map(_.getAs[Int]("seq")).sorted.toSeq == (1 to rs.length),
        s"shard $sh has a gapped/duplicated seq")
    }
    // the reproducibility contract: a re-run is byte-identical
    assert(SparkEntry.queries("corpus_shuffle_shards")(spark, sf)
      .collect().toSeq == rows.toSeq,
      "shuffle is not deterministic across runs")
    // rough balance — the knuth-hash spread keeps shards near the mean
    val sizes = rows.groupBy(_.getAs[Int]("shard")).values.map(_.size)
    assert(sizes.max <= 2 * (n / 16) + 16,
      s"shard skew: ${sizes.toSeq.sorted.reverse.take(3)} of mean ${n / 16}")
  }

  test("stratified sample is deterministic and respects per-lang rates") {
    val a = SparkEntry.queries("sample_stratified")(spark, sf).collect()
    val b = SparkEntry.queries("sample_stratified")(spark, sf).collect()
    assert(a.sameElements(b), "hash sampling must be run-stable")
    a.foreach { r =>
      val rate = r.getString(1) match {
        case "en" => 25L; case "de" => 50L; case _ => 75L
      }
      assert(r.getLong(3) < rate, s"doc ${r.getLong(0)} bucket outside rate")
    }
  }

  test("balanced sample takes exactly min(K, population) docs per language") {
    val rows = SparkEntry.queries("sample_balanced")(spark, sf).collect()
    val perLang = rows.groupBy(_.getString(0))
    // exact count, not just an upper bound — a sampler that silently
    // returned zero rows for a language would otherwise still pass
    val population = Tables(spark, sf, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.keySet == population.keySet,
      s"languages missing from sample: ${population.keySet -- perLang.keySet}")
    perLang.foreach { case (lang, docs) =>
      assert(docs.length == math.min(40L, population(lang)),
        s"$lang sampled ${docs.length}, population ${population(lang)}")
      assert(docs.map(_.getInt(1)).sorted.sameElements(1 to docs.length),
        s"$lang rank sequence not contiguous")
    }
  }

  test("pack_sequences: contiguous chunk ids and token conservation") {
    val chunks = SparkEntry.queries("pack_sequences")(spark, sf).collect()
    chunks.groupBy(_.getString(0)).foreach { case (lang, cs) =>
      val ids = cs.map(_.getLong(1)).sorted
      assert(ids.head == 0L && ids.sameElements(0L until ids.length),
        s"$lang chunk ids not contiguous: ${ids.mkString(",")}")
    }
    val packedTotal = chunks.map(_.getLong(3)).sum
    val corpusTotal = Tables(spark, sf, "documents")
      .select(sum(size(split(col("text"), " ")))).head.getLong(0)
    assert(packedTotal == corpusTotal, "packing dropped or duplicated tokens")
  }

  test("pii scrub redacts every synthesized email and phone") {
    val rows = SparkEntry.queries("text_pii_scrub")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getInt(1) >= 1, s"doc ${r.getLong(0)}: email not counted")
      assert(r.getInt(2) >= 1, s"doc ${r.getLong(0)}: phone not counted")
      val head = r.getString(3)
      assert(head.contains("<EMAIL>"), s"doc ${r.getLong(0)}: $head")
      assert(!head.matches(".*\\d{3}-\\d{4}.*"),
        s"doc ${r.getLong(0)}: unredacted phone in $head")
    }
  }

  test("embed_quantize: int8 range and error bound scale/254") {
    val rows = SparkEntry.queries("embed_quantize")(spark, sf).collect()
    rows.foreach { r =>
      val (qmin, qmax) = (r.getInt(1), r.getInt(2))
      val (err, scale) = (r.getDouble(3), r.getDouble(4))
      assert(qmin >= -127 && qmax <= 127, s"vec ${r.getLong(0)} out of int8")
      // err is ROUND(...,6)'d in the query — allow half that granularity
      assert(err <= scale / 254.0 + 5e-7,
        s"vec ${r.getLong(0)}: err $err exceeds half-step ${scale / 254.0}")
    }
  }

  test("dedup_keep_list_incremental: every emitted status agrees with " +
      "the full keep-list, and the batch is covered completely") {
    val full = SparkEntry.queries("dedup_keep_list")(spark, sf)
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val inc = SparkEntry.queries("dedup_keep_list_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(inc.nonEmpty)
    inc.foreach { case (doc, status, kind) =>
      assert(full(doc) == status,
        s"$kind row for doc $doc says $status, full keep-list says " +
          s"${full(doc)}")
    }
    val batchIds = inc.filter(_._3 == "batch").map(_._1).toSet
    val expected = Tables(spark, sf, "documents")
      .where("doc_id >= 300 AND doc_id < 1000")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchIds == expected,
      "batch delta must cover every batch doc exactly once")
  }

  test("dedup_clusters_incremental: equals the full recomputation " +
      "restricted to batch-touching components, cold and warm alike") {
    // cold: the first run over a test-private fixture dir (links to the
    // shared fixtures) builds the index, since that dir's scratch holds
    // none; warm: the second run serves the published one. Nothing
    // under the shared fixture dir's scratch is touched.
    val priv = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "corpus-cold-")
    val privScratch = new java.io.File(Tables.scratch(priv.toString, "x"))
      .getParentFile
    def run(): Seq[(Long, Long, Long)] =
      SparkEntry.queries("dedup_clusters_incremental")(spark, priv.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    val (cold, warm) = try {
      for (f <- new java.io.File(sf).listFiles)
        java.nio.file.Files.createSymbolicLink(priv.resolve(f.getName),
          f.getAbsoluteFile.toPath)
      val c = run()
      (c, run())
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(priv.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(privScratch)
    }
    assert(cold == warm, "cold index build and warm index path diverge")
    // the incremental law, engine-side: full clustering restricted to
    // components containing a batch doc (>= 300)
    val full = SparkEntry.queries("dedup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val touched = full.filter(_._1 >= 300).map(_._2).toSet
    val expected = full.filter(t => touched.contains(t._2))
    assert(cold == expected,
      s"incremental merge diverges from restricted recomputation: " +
        s"got ${cold.take(5)}... expected ${expected.take(5)}...")
    assert(cold.nonEmpty, "law is vacuous on this fixture")
  }
}
