package graft.nlp

import graft.{Artifact, QueryGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Training-corpus curation ops [NS: BASELINE.json north_star — the
  * pipeline steps AFTER detection: clustering duplicates, sampling,
  * packing, scrubbing].
  *
  * Scale design (100 TB):
  *  - `dedup_clusters` turns the near-dup PAIR list into connected
  *    components with iterative min-label propagation: each round is one
  *    distributed join + hash aggregation over (edge, label) tuples and
  *    the label sum is a monotone convergence witness, so the loop runs
  *    O(component diameter) rounds (near-dup clusters are shallow; ~2-3
  *    rounds in practice) with nothing but a Long per round on the
  *    driver. No union-find on one machine, no quadratic closure.
  *  - Sampling is seeded multiplicative hashing — a pure map over the
  *    corpus (no shuffle for the stratified filter; one partial-agg
  *    shuffle for the balanced top-K) and reproducible across engines,
  *    which `rand()` sampling is not.
  *  - `pack_sequences` assigns documents to fixed token-budget chunks
  *    with a per-stream running sum (window over the stream key); at
  *    100 TB the stream key is (lang, shard) so each window partition
  *    stays executor-sized.
  *  - `text_pii_scrub` is a pure codegen'd regexp map — embarrassingly
  *    parallel, no shuffle at all (the ORDER BY here exists only for the
  *    oracle's determinism contract).
  */
object CorpusOps extends QueryGroup {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  /** Portable multiplicative hash of doc_id onto [0, 100) — identical
    * arithmetic in Spark and DuckDB (product stays < 2^52, clear of
    * BIGINT overflow divergence at any fixture scale). */
  private val bucket100 =
    "(doc_id * 2654435761L) % 1000000007L % 100L"

  /** Chunk token budget for sequence packing. */
  private val packBudget = 512

  /** Deterministic synthetic URL per doc (fixture docs carry no URL
    * column) — single source for text_url_parse / dedup_url_canon. */
  private def withUrl(df: DataFrame): DataFrame =
    df.withColumn("url", concat(
      lit("https://"), col("source"), lit(".Example.COM/docs/"),
      (col("doc_id") % 50).cast("string"),
      lit("?utm_source=feed&id="), col("doc_id").cast("string"),
      lit("&ref=abc")))

  /** DuckDB CTE mirroring [[withUrl]] — shared by both URL oracles.
    * Concatenation operators sit at line ENDS: this text is interpolated
    * into stripMargin'd oracle strings, and a leading `||` would lose
    * its first pipe to the outer stripMargin. */
  private val oUrlCte =
    """u AS (
      |  SELECT doc_id,
      |    'https://' || source || '.Example.COM/docs/' ||
      |    CAST(doc_id % 50 AS VARCHAR) ||
      |    '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
      |    '&ref=abc' AS url
      |  FROM documents)""".stripMargin

  /** DuckDB CTE chain: bigram shingles (doc_id < 1000) → Jaccard ≥ 0.5
    * pairs → bidirectional edges → recursive min-label closure → comp.
    * Single source for the clusters / keep-list oracles. MUST stay in
    * sync with TextOps' dedup_ngram_jaccard detection (same shingling,
    * threshold, and doc_id scope). */
  /** Connected-components CTE family over the bigram-Jaccard pair
    * graph of `documents WHERE $where` — CTE names suffixed with `sfx`
    * so two scopes (full vs history) can coexist in one WITH (the
    * incremental keys' oracles). */
  private def oComponentCteFor(sfx: String, where: String): String =
    s"""d$sfx AS (
      |  SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
      |      GENERATE_SERIES(1, GREATEST(LEN(t) - 1, 0)),
      |      i -> t[i] || ' ' || t[i+1])) AS sh
      |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents
      |        WHERE $where)
      |  WHERE LEN(t) > 1),
      |pairs$sfx AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM d$sfx a JOIN d$sfx b ON a.doc_id < b.doc_id
      |   AND LEN(LIST_INTERSECT(a.sh, b.sh)) > 0
      |  WHERE CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
      |    / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))) >= 0.5),
      |edges$sfx AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs$sfx
      |  UNION SELECT doc_b, doc_a FROM pairs$sfx),
      |reach$sfx(id, lbl) AS (
      |  SELECT DISTINCT src, src FROM edges$sfx
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach$sfx r JOIN edges$sfx e ON e.src = r.id),
      |comp$sfx AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
      |         FROM reach$sfx GROUP BY id)""".stripMargin

  private val oComponentCte = oComponentCteFor("", "doc_id < 1000")

  /** Connected components over a bidirectional edge list via min-label
    * propagation. Labels only decrease, so sum(label) is a monotone
    * convergence witness — one Long action per round. Each round's
    * result is checkpointed: an iterative plan that re-embeds its
    * predecessor twice (join + union) grows exponentially otherwise —
    * the lineage MUST be cut, not just cached. On a cluster, swap
    * localCheckpoint for reliable checkpoint(setCheckpointDir) so label
    * blocks survive executor loss. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    val edges = pairs.toDF("src", "dst")
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // LAZY checkpoints (r19 opt, the [[trainBpe]] discipline):
    // materialization rides the convergence sum's job instead of
    // scheduling its own — halves the job count of a loop that is
    // job-overhead-bound at fixture scale.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(false)
    // coalesce: sum over ZERO rows is NULL — an empty pair list (no
    // near-dups in the corpus) must yield an empty result, not an NPE.
    def lblSum(df: DataFrame): Long =
      df.agg(coalesce(sum("lbl"), lit(0L))).head.getLong(0)
    var prevSum = lblSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("lbl"))
      val next = labels.union(prop).groupBy("id").agg(min("lbl").as("lbl"))
        .localCheckpoint(false)
      val nextSum = lblSum(next)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      round += 1
    }
    edges.unpersist()
    // a silent non-converged result would mislabel components — fail
    // loudly; legitimate graphs with diameter > maxRounds need the cap
    // raised explicitly, not a wrong answer.
    require(converged,
      s"label propagation did not converge in $maxRounds rounds")
    labels
  }

  /** Token-boundary-safe merge pattern for the pair (a, b). Lookaround
    * (not capture) so adjacent merge sites don't consume each other's
    * separator — `x y x y` must merge twice. */
  /** Fixed declared merge table for `text_bpe_encode_fixed` — chosen
    * adversarially over the corpus vocabulary: chains that share tokens
    * (the→the_table vs a_the; big consumed by #8 before #10 wants it;
    * order consumed by #8 before #9) and self-pairs (sort sort,
    * data data) where greedy non-overlap matters. ORDER IS THE
    * CONTRACT — both engines apply rank 1→10 sequentially. */
  private[nlp] val fixedMerges: Seq[(String, String)] = Seq(
    "a" -> "the", "the" -> "table", "sort" -> "query", "sort" -> "sort",
    "table" -> "hash", "stream" -> "data", "data" -> "data",
    "big" -> "order", "order" -> "column", "join" -> "big")

  private def bpePattern(a: String, b: String): String =
    "(?<=^| )" + java.util.regex.Pattern.quote(a) +
      " " + java.util.regex.Pattern.quote(b) + "(?= |$)"

  /** The trained BPE merge table (merge_rank, pair, n_occurrences):
    * tokenizers are trained once and SHIPPED. text_bpe_merges serves it
    * and text_bpe_encode applies it, so the encode key times encoding,
    * not training. */
  val bpeMerges = Artifact("bpe_merges", "documents")

  private def bpeMergesDir(s: SparkSession, d: String): String =
    bpeMerges.get(d) { out =>
      import s.implicits._
      trainBpe(s, d).toDF("merge_rank", "pair", "n_occurrences")
        .coalesce(1).write.parquet(out)
    }

  /** Candidate-list depth per batched training round: both the engine
    * and CurationOpsSpec's plain-Scala replay accept disjoint pairs
    * from exactly this prefix of the (n desc, pair asc)-sorted counts,
    * so the two stay in lockstep by construction. */
  private[graft] val BpeBatchScan = 64

  /** BPE merge-table trainer shared by text_bpe_merges (the table) and
    * text_bpe_encode (its application). BATCHED greedy: each sync round
    * runs ONE pair-count job, scans the top [[BpeBatchScan]] pairs in
    * (count desc, pair asc) order, and greedily accepts every pair
    * whose two tokens are disjoint from all previously accepted pairs
    * in the batch (up to the remaining merge budget). Disjointness
    * makes the batch exact: no accepted merge can create or destroy
    * occurrences of another accepted pair, so each reported count is
    * the true pre-batch count and the rewrites commute. This is the
    * standard scale fix for BPE training — the driver-synced count job
    * is the expensive step, and batching cuts 10 sync rounds to ~2
    * (measured: 3.69 s → see BENCH_r09) without changing the per-round
    * plan shape. */
  private def trainBpe(s: SparkSession, d: String,
      rounds: Int = 10): Seq[(Int, String, Long)] = {
    var corpus = docs(s, d).select(col("doc_id"), col("text"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, Long)]
    var done = 0
    var exhausted = false
    while (done < rounds && !exhausted) {
      // adjacent pairs via the codegen'd bigram regex (TextOps) — the
      // merge rewrite keeps text single-space separated, so the
      // capture set stays identical to the token-array formulation
      // every round; the interpreted lambda this replaces dominated
      // each round's count job
      val top = corpus
        .select(explode(TextOps.bigramsRaw(col("text"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(BpeBatchScan).collect()
      if (top.isEmpty) exhausted = true // every doc down to one token
      else {
        val used = collection.mutable.Set.empty[String]
        val accepted = collection.mutable.ArrayBuffer.empty[(String, Long)]
        top.iterator.takeWhile(_ => accepted.size < rounds - done)
          .foreach { row =>
            val (pair, n) = (row.getString(0), row.getLong(1))
            val Array(a, b) = pair.split(" ", 2)
            if (!used(a) && !used(b)) {
              used += a; used += b; accepted += ((pair, n))
            }
          }
        accepted.foreach { case (pair, n) =>
          done += 1; merges += ((done, pair, n))
        }
        // per-round checkpoint measured FASTER (4.3 s) than letting
        // the linear regex lineage replay (6.4 s at sf0.1): each
        // un-checkpointed count job re-runs all prior rounds'
        // regexes. LAZY checkpoint: materialization rides the next
        // round's count job instead of scheduling its own — halves
        // the job count of a job-overhead-bound loop
        val rewritten = accepted.foldLeft(col("text")) {
          case (c, (pair, _)) =>
            val Array(a, b) = pair.split(" ", 2)
            regexp_replace(c, bpePattern(a, b), a + "_" + b)
        }
        corpus = corpus.withColumn("text", rewritten).localCheckpoint(false)
      }
    }
    merges.result()
  }

  /** The incremental-clustering history: `post/` (doc_id, bigram, set
    * size) postings and `comp/` its (doc_id, lbl) component map. */
  val njcInc = Artifact("njc_inc", "documents")

  /** Shared core of the incremental-clustering family: merge the batch
    * (doc_id in [300, 1000)) into the PERSISTED history component map
    * via super-node contraction — returns (doc_id, cluster_id) for
    * every member of a batch-touching component. See
    * `dedup_clusters_incremental` for the full discipline notes. */
  private def incClusterMembers(s: SparkSession, d: String): DataFrame = {
      val scope = docs(s, d).filter(col("doc_id") < 1000)
        .withColumn("sh", array_distinct(TextOps.bigramsRaw(col("text"))))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), col("sh"))
      val hist = scope.filter(col("doc_id") < 300)
      // the persisted posting index carries the set size on every row
      // (the ngramJaccardPairs move): min(n) inside the pair aggregate
      // replaces two size-lookup joins per detection round
      val dir = njcInc.get(d) { out =>
        hist.select(col("doc_id"), explode(col("sh")).as("g"),
            size(col("sh")).as("n"))
          .write.parquet(s"$out/post")
        // one-time history clustering (yesterday's batch job); from
        // here on only batches propagate
        val hPost = s.read.parquet(s"$out/post")
        val hPairs = hPost.as("x").join(hPost.as("y"),
            col("x.g") === col("y.g"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("doc_a"),
            col("y.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"), min(col("x.n")).as("na"),
            min(col("y.n")).as("nb"))
          .filter(col("inter") / (col("na") + col("nb") - col("inter"))
            >= 0.5)
          .select(col("doc_a"), col("doc_b"))
        connectedComponents(hPairs)
          .select(col("id").as("doc_id"), col("lbl"))
          .write.parquet(s"$out/comp")
      }
      val hPost = s.read.parquet(s"$dir/post")
      val hComp = s.read.parquet(s"$dir/comp")
      val batch = scope.filter(col("doc_id") >= 300)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bPost = batch.select(col("doc_id"), explode(col("sh")).as("g"),
        size(col("sh")).as("n"))
      // batch ids all exceed history ids, so every batch-touching pair
      // (a < b) has b in the batch: one cross join + one self join
      // covers the full new-edge set
      def jPairs(left: DataFrame): DataFrame =
        left.as("x").join(bPost.as("y"), col("x.g") === col("y.g"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("doc_a"),
            col("y.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"), min(col("x.n")).as("na"),
            min(col("y.n")).as("nb"))
          .filter(col("inter") / (col("na") + col("nb") - col("inter"))
            >= 0.5)
          .select(col("doc_a"), col("doc_b"))
      val newEdges = jPairs(hPost).union(jPairs(bPost))
      // contraction: history endpoints become their component label
      // (their own id when historically pairless); batch endpoints
      // stay themselves. doc_a < 300 by construction iff it is history.
      val contracted = newEdges
        .join(hComp.select(col("doc_id").as("doc_a"),
          col("lbl").as("la")), Seq("doc_a"), "left")
        .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
          col("doc_b"))
      val superLbl = connectedComponents(contracted)
        .select(col("id"), col("lbl"))
      // expansion: history super-nodes pull in their full membership
      // from the persisted map; batch docs are their own row
      val histMembers = superLbl.filter(col("id") < 300)
        .join(hComp.select(col("lbl").as("id"),
          col("doc_id").as("member")), Seq("id"), "left")
        .select(coalesce(col("member"), col("id")).as("doc_id"),
          col("lbl").as("cluster_id"))
      val batchMembers = superLbl.filter(col("id") >= 300)
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      val out = histMembers.union(batchMembers).localCheckpoint()
      batch.unpersist(blocking = false)
      out
  }

  val queries: Map[String, Q] = Map(

    // near-dup clusters: the ngram-Jaccard pair list (the already-oracled
    // detection step) closed into components; cluster_id = min doc_id of
    // the component — the id a keep-lowest dedup policy retains.
    "dedup_clusters" -> ((s, d) => {
      // unsorted pair form: the pairs feed edge/union groupBys, where the
      // oracled query's range exchange would be pure waste.
      val pairs = TextOps
        .ngramJaccardPairs(docs(s, d).filter(col("doc_id") < 1000))
        .select(col("doc_a"), col("doc_b"))
      connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
        .withColumn("csize",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .orderBy("doc_id")
    }),

    // the dedup DECISION, end-to-end: every document tagged
    // unique / keeper / dropped from the near-dup component structure —
    // the keep-list a production pipeline materializes and joins against
    // downstream. Same bounded pair scope as dedup_clusters.
    "dedup_keep_list" -> ((s, d) => {
      val pairs = TextOps
        .ngramJaccardPairs(docs(s, d).filter(col("doc_id") < 1000))
        .select(col("doc_a"), col("doc_b"))
      val comp = connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      docs(s, d).filter(col("doc_id") < 1000)
        .select(col("doc_id"), col("lang"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("status", expr(
          """CASE WHEN cluster_id IS NULL THEN 'unique'
            |     WHEN cluster_id = doc_id THEN 'keeper'
            |     ELSE 'dropped' END""".stripMargin))
        .select(col("doc_id"), col("lang"), col("status"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL near-dup clustering — the crawl-day form of
    // dedup_clusters: yesterday's corpus already has a component map
    // (doc -> min-doc label) and an n-gram posting index persisted;
    // today's batch must merge into that structure WITHOUT
    // re-propagating pure-history edges. The trick is contraction:
    // each history component is one SUPER-NODE (its persisted label —
    // already the component's min doc_id), so the label-propagation
    // graph is [batch docs + touched history components], orders of
    // magnitude smaller than the corpus, and min-label propagation
    // over it yields exactly the full graph's min-doc labels for every
    // batch-touching component (contracting a connected subgraph
    // preserves connectivity; the contracted id IS the sub-minimum).
    // Batch-touching pairs come from the posting index, never an
    // all-pairs pass: batch postings self-join + batch x history-index
    // join, both collision-proportional, with exact Jaccard from the
    // shared-gram counts (na + nb - inter) — history text is never
    // re-read. Oracled by the incremental law (the
    // agg_incremental_merge proof shape): output == the full-corpus
    // dedup_clusters component structure RESTRICTED to components
    // containing a batch doc.
    "dedup_clusters_incremental" -> ((s, d) =>
      incClusterMembers(s, d)
        .withColumn("csize",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .orderBy("doc_id")),

    // The dedup DECISION, incremental form — what the crawl pipeline
    // actually materializes per batch: a status for every BATCH doc
    // (unique / keeper / dropped, from the merged component structure)
    // PLUS the history docs whose standing FLIPPED because the batch
    // bridged their components (a keeper whose merged component now
    // has a smaller minimum is demoted; a historically pairless doc
    // that gained its first near-dup becomes a keeper). Pure-history
    // components never re-propagate and never emit — the downstream
    // keep-list store applies this as a delta, not a rewrite.
    "dedup_keep_list_incremental" -> ((s, d) => {
      val members = incClusterMembers(s, d)
      val batchStatus = docs(s, d)
        .filter(col("doc_id") >= 300 && col("doc_id") < 1000)
        .select(col("doc_id"))
        .join(members, Seq("doc_id"), "left")
        .select(col("doc_id"), expr(
          """CASE WHEN cluster_id IS NULL THEN 'unique'
            |     WHEN cluster_id = doc_id THEN 'keeper'
            |     ELSE 'dropped' END""".stripMargin).as("status"),
          lit("batch").as("kind"))
      // the persisted history map; the incClusterMembers call above
      // published it
      val histMap = s.read.parquet(s"${njcInc.dir(d)}/comp")
      val flips = members.filter(col("doc_id") < 300)
        .withColumn("status", expr(
          "CASE WHEN cluster_id = doc_id THEN 'keeper' " +
            "ELSE 'dropped' END"))
        .join(histMap, Seq("doc_id"), "left")
        .withColumn("old_status", expr(
          """CASE WHEN lbl IS NULL THEN 'unique'
            |     WHEN lbl = doc_id THEN 'keeper'
            |     ELSE 'dropped' END""".stripMargin))
        .filter(col("status") =!= col("old_status"))
        .select(col("doc_id"), col("status"), lit("flipped").as("kind"))
      batchStatus.union(flips).orderBy("doc_id")
    }),

    // Deterministic global shuffle into training shards: every doc gets
    // a pseudo-random but SEEDED position — shard = knuth-hash % 16,
    // seq = rank within shard by (hash, doc_id) — so the same corpus
    // shuffles identically on every run, engine, and cluster size (the
    // reproducibility contract of a training-data pipeline: a re-run
    // must produce byte-identical shards; sampled-boundary shuffles
    // like sort_range_partitioned trade that away for balance). Plan:
    // one hash projection + one shard-keyed window rank — the window's
    // hash exchange on shard IS the shuffle-into-shards; at 100 TB the
    // writer appends partitionBy(shard) and each shard streams out
    // sorted, no global sort point.
    "corpus_shuffle_shards" -> ((s, d) => {
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("h"), col("doc_id"))
      // reduce BEFORE the knuth multiply: doc_id * 2654435761 overflows
      // int64 at doc_id ≈ 3.5e9 — Spark (non-ANSI) would wrap silently
      // while the oracle engine raises, breaking the cross-engine
      // determinism this key advertises; (id % p) * c stays < 2^62
      docs(s, d)
        .withColumn("h",
          expr("((doc_id % 1000000007L) * 2654435761L) % 1000000007L"))
        .withColumn("shard", (col("h") % 16).cast("int"))
        .withColumn("seq", row_number().over(w))
        .select(col("shard"), col("seq"), col("doc_id"), col("h"))
        .orderBy("shard", "seq")
    }),

    // Token-budget corpus selection under a per-domain quality ranking —
    // the data-mixing step of a training pipeline: each source
    // contributes its BEST documents until its token budget is spent
    // (the greedy form of quality-filtered data selection every corpus
    // recipe runs before training). quality = distinct-word ratio kept
    // INTEGER (x1e4) so the ranking is exact and engine-independent;
    // selection = cumulative-token window per source, cut at the
    // budget. Plan: one codegen'd projection + one hash exchange on
    // source + per-partition sort — the window IS the shuffle, no
    // driver loop. At 100 TB the per-source cumsum is the inherent
    // sequential step of greedy selection; sources parallelize across
    // partitions, and a coarse quality floor BEFORE the window (cheap
    // codegen'd filter) bounds what each partition must sort.
    "corpus_token_budget" -> ((s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_x1e4").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("quality_x1e4",
          expr("size(array_distinct(toks)) * 10000L div n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= 800)
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("quality_x1e4"), col("cum_tokens"))
        .orderBy("source", "doc_id")
    }),

    // per-stratum deterministic downsampling: language-dependent keep
    // rates over a seeded hash — the reproducible form of corpus
    // rebalancing (same doc set on every run / engine / cluster size).
    "sample_stratified" -> ((s, d) => {
      docs(s, d)
        .withColumn("bucket", expr(bucket100))
        .withColumn("rate", expr(
          "CASE WHEN lang = 'en' THEN 25 WHEN lang = 'de' THEN 50 ELSE 75 END"))
        .filter(col("bucket") < col("rate"))
        .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
        .orderBy("doc_id")
    }),

    // language-balanced sampling: exactly K docs per language, chosen by
    // hash order (deterministic; ties broken by doc_id). The window's
    // top-K is the per-group form of TakeOrdered — partial in map-side.
    "sample_balanced" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("bucket"), col("doc_id"))
      docs(s, d)
        .withColumn("bucket", expr(bucket100))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 40)
        .select(col("lang"), col("rn"), col("doc_id"), col("bucket"))
        .orderBy("lang", "rn")
    }),

    // token-budget sequence packing (concat-then-chunk): docs in stream
    // order are laid head-to-tail; a doc belongs to the chunk where its
    // first token lands. Integer arithmetic only — no float drift.
    "pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("chunk_id",
          expr(s"(cum - n_tok) div $packBudget"))
        .groupBy(col("lang"), col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("chunk_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang", "chunk_id")
    }),

    // block-level boilerplate removal (the line-dedup step of web-corpus
    // pipelines): docs are cut into fixed 8-token blocks; a block seen
    // in ≥3 distinct docs is boilerplate and dropped. One explode +
    // two hash aggs — the block table is the shuffled unit, never the
    // full doc text, so block-level dedup scales like word-count.
    "dedup_block_filter" -> ((s, d) => {
      val blocks = docs(s, d)
        .withColumn("tokens", split(col("text"), " "))
        .select(col("doc_id"), expr(
          """explode(transform(
            |  sequence(0, (size(tokens) - 1) div 8),
            |  i -> array_join(slice(tokens, i * 8 + 1, 8), ' ')))"""
            .stripMargin).as("block"))
      val common = blocks.groupBy(col("block"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 3)
        .select(col("block"), lit(1).as("is_common"))
      blocks.join(common, Seq("block"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          count(col("is_common")).as("n_boilerplate"))
        .withColumn("keep_ratio_x1e4",
          expr("(n_blocks - n_boilerplate) * 10000 div n_blocks"))
        .orderBy("doc_id")
    }),

    // URL parsing: host/path/query extraction via the parse_url builtin
    // (codegen'd; the oracle re-derives the same pieces with regexps).
    // URLs are synthesized deterministically per doc — fixture docs have
    // no URL column; the op under test is the parser.
    "text_url_parse" -> ((s, d) => {
      withUrl(docs(s, d))
        .select(col("doc_id"),
          lower(expr("parse_url(url, 'HOST')")).as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'id')").as("id_param"))
        .orderBy("doc_id")
    }),

    // canonical-URL dedup: lowercase host + path, tracking params
    // dropped — the web-corpus dedup step before any content hashing.
    // Keep-lowest policy per canonical URL, like dedup_exact.
    "dedup_url_canon" -> ((s, d) => {
      withUrl(docs(s, d))
        .withColumn("canon", concat(
          lower(expr("parse_url(url, 'HOST')")),
          expr("parse_url(url, 'PATH')")))
        .groupBy(col("canon"))
        .agg(min(col("doc_id")).as("keep_doc"),
          count(lit(1)).as("n_dups"))
        .orderBy("canon")
    }),

    // unigram language-model scoring (the KenLM-proxy quality filter):
    // corpus token frequencies → per-doc mean negative log-probability.
    // Low scores = in-distribution text, high = outliers. Two hash aggs
    // + one broadcast-sized join on the vocab; the corpus text never
    // shuffles. Scaled-integer output keeps the oracle hash-stable.
    // Add-one-smoothed BIGRAM language model trained on the corpus and
    // scoring every doc in the same job — the next step up from
    // text_unigram_logprob's context-free model, and the cheap in-engine
    // stand-in for the external-LM perplexity filter (CCNet/Gopher use
    // KenLM; the plumbing — train counts, join scores back, per-doc mean
    // NLL — is identical). P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V). Bigrams
    // come from ONE lead() window per doc (a single (doc_id) shuffle),
    // counts map-side combine on Zipf-skewed keys, and the scoring join
    // ships (w1,w2)-keyed counts, never text. At 100 TB the LM tables
    // are the small side (≤ vocab², bounded) — AQE broadcasts them;
    // per-ulp log noise dies in avg + round(4), the unigram precedent.
    "text_bigram_lm" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bg = toks
        .withColumn("w2", lead(col("tok"), 1).over(w))
        .filter(col("w2").isNotNull)
        .select(col("doc_id"), col("tok").as("w1"), col("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt2"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("cnt1"))
      val v = toks.agg(countDistinct(col("tok")).cast("double").as("v"))
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .crossJoin(broadcast(v))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log((col("cnt2") + 1) / (col("cnt1") + col("v")))), 4)
            .as("nll"))
        .orderBy("doc_id")
    }),

    "text_unigram_logprob" -> ((s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val freqs = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("n_tok"))
      // corpus token total as a broadcast 1-row side (the scalar-subquery
      // pattern) — keeps the whole query lazy, no driver-side count
      val total = freqs
        .agg(sum(col("n_tok")).cast("double").as("total"))
      // broadcast the unigram LM table (see text_ppl_bucket) — the
      // occurrence stream no longer shuffles by token for the join
      toks.join(broadcast(freqs), "tok")
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(-log(col("n_tok") / col("total"))), 4).as("nll"))
        .orderBy("doc_id")
    }),

    // repetition scoring (the Gopher-style quality rule): fraction of
    // duplicate word trigrams within each doc. High ratio = degenerate
    // repeated text (boilerplate loops, decoding artifacts) that corpus
    // filters drop before training. Pure per-row lambda arithmetic —
    // embarrassingly parallel, zero shuffle; the orderBy exists only for
    // the oracle's determinism contract.
    "text_repetition" -> ((s, d) => {
      // trigrams via one codegen'd regex pass (zero-width lookahead
      // captures the trigram at every token boundary; the leading
      // `^| ` consumes one char so the scan advances) — the
      // transform() lambda this replaces is interpreted per element
      // and measured ~2× slower over the full corpus. Token text is
      // single-space separated (fixture contract), so the capture set
      // is identical to the element_at formulation the oracle keeps.
      docs(s, d)
        .withColumn("tri", regexp_extract_all(col("text"),
          lit("(?:^| )(?=(\\S+ \\S+ \\S+))"), lit(1)))
        .filter(size(col("tri")) > 0)
        .select(col("doc_id"),
          size(col("tri")).as("n_tri"),
          size(array_distinct(col("tri"))).as("n_uniq"))
        .withColumn("rep_ratio",
          round(lit(1.0) - col("n_uniq") / col("n_tri"), 4))
        .orderBy("doc_id")
    }),

    // benchmark-contamination check: which corpus docs share ≥5 distinct
    // word bigrams with any doc in a (deterministic) held-out eval set.
    // The production shape of "did the training corpus leak the test
    // set": the eval side is always tiny relative to the corpus, so its
    // exploded n-grams BROADCAST and the 100 TB corpus side is one scan
    // + partial-agg — no corpus self-join, no shuffle of document text.
    "text_contamination" -> ((s, d) => {
      val base = docs(s, d)
        .withColumn("sh", array_distinct(TextOps.bigramsRaw(col("text"))))
        .filter(size(col("sh")) > 0)
      // explode ONCE over the whole corpus (the interpreted shingle
      // lambda is the hot path — two filtered branches would run it
      // twice) and persist the inverted index; eval/corpus split on
      // the flag afterwards. Measured 4.9 s → ~2 s at sf0.1.
      val inv = base
        .select(col("doc_id"), (col("doc_id") % 97 === 0).as("is_eval"),
          explode(col("sh")).as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val evalSide = inv.filter(col("is_eval"))
        .select(col("doc_id").as("eval_id"), col("g"))
      val corpus = inv.filter(!col("is_eval")).select(col("doc_id"), col("g"))
      // both shingle lists are distinct per doc, so the join count IS
      // the intersection size
      corpus.join(broadcast(evalSide), "g")
        .groupBy(col("doc_id"), col("eval_id"))
        .agg(count(lit(1)).as("overlap"))
        .filter(col("overlap") >= 5)
        .orderBy("doc_id", "eval_id")
    }),

    // PII scrubbing: global regexp redaction + per-doc redaction counts.
    // The fixture text carries no PII, so a contact line is synthesized
    // per doc (deterministic) — the op under test is the scrub itself.
    // Patterns go through the Scala DSL (NOT expr): Spark SQL string
    // literals consume backslash escapes, which silently corrupts \d/\.
    "text_pii_scrub" -> ((s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\d{3}-\\d{4}"
      docs(s, d)
        .withColumn("raw", concat(
          lit("contact user"), col("doc_id").cast("string"),
          lit("@mail-"), col("lang"), lit(".com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" re: "), col("text")))
        .select(
          col("doc_id"),
          regexp_count(col("raw"), lit(email)).as("n_emails"),
          regexp_count(col("raw"), lit(phone)).as("n_phones"),
          substring(
            regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
              phone, "<PHONE>"), 1, 80).as("scrubbed_head"))
        .orderBy("doc_id")
    }),

    // fixed-size-K corpus sample, deterministic: rank every doc by the
    // seeded hash and take the global top-K — the rerun-stable
    // equivalent of reservoir sampling. Compiles to
    // TakeOrderedAndProject: each partition keeps only its local top-K,
    // so K rows per partition reach the merge — no global sort, no
    // corpus shuffle (asserted in PlanSpec).
    "sample_reservoir" -> ((s, d) => {
      docs(s, d)
        .withColumn("rank_h", expr("(doc_id * 2654435761L) % 1000000007L"))
        .orderBy(col("rank_h"), col("doc_id"))
        .limit(120)
        .select(col("doc_id"), col("lang"), col("source"), col("rank_h"))
        .orderBy("doc_id")
    }),

    // importance-weighted sampling: keep probability proportional to a
    // per-doc weight (here n_chars, standing in for a quality score) via
    // the same engine-portable hash — a doc with weight w survives iff
    // hash_bucket/1e6 < w/600. All-integer comparison (bucket*600 vs
    // w*1e6) so no float threshold can diverge between engines. Pure
    // map+filter: no shuffle, trivially partition-parallel at 100 TB.
    "sample_importance" -> ((s, d) => {
      docs(s, d)
        .withColumn("bucket",
          expr("(doc_id * 2654435761L) % 1000000007L % 1000000L"))
        .filter(col("bucket") * 600 < col("n_chars") * 1000000L)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("bucket"))
        .orderBy("doc_id")
    }),

    // BPE-style merge training (10 merges, word-level, BATCHED): each
    // sync round counts adjacent token pairs corpus-wide (one
    // partial-agg shuffle), scans the top candidates in (count desc,
    // pair asc) order, accepts token-disjoint pairs up to the merge
    // budget (disjointness keeps every accepted count exact and the
    // rewrites commutative — see trainBpe), and rewrites the corpus
    // once via boundary-anchored left-to-right regexps (greedy
    // non-overlapping, the BPE convention). Batching is the 100 TB
    // design: the driver-synced count job is the inherent cost of BPE
    // training, and one batch round learns ~5-8 merges, cutting 10
    // sync rounds to ~2. The corpus is localCheckpoint'ed per round —
    // the iterative-loop discipline — so the next count job never
    // replays prior rounds' regexes. No SQL oracle (iterative argmax);
    // CurationOpsSpec replays the batched rule in plain Scala and
    // requires the identical merge table.
    "text_bpe_merges" -> ((s, d) => {
      s.read.parquet(bpeMergesDir(s, d)).orderBy("merge_rank")
    }),

    // Tokenizer APPLICATION: encode the corpus with the merge table the
    // trainer produced. Training needs a driver-synced count per round;
    // encoding does NOT — the whole merge sequence composes into ONE
    // nested-regexp projection (zero shuffles, zero checkpoints, one
    // corpus scan), which is why serving a tokenizer is cheap at 100 TB
    // even when training it is not. Per-doc before/after token counts;
    // CurationOpsSpec replays the full merge application in plain
    // Scala and requires identical per-doc counts, plus monotone
    // shrinkage. No oracle: the merge regex needs lookaround, which
    // DuckDB's RE2 cannot express.
    "text_bpe_encode" -> ((s, d) => {
      val merges = s.read.parquet(bpeMergesDir(s, d))
        .orderBy("merge_rank").collect().map(_.getAs[String]("pair"))
      val encoded = merges.foldLeft(col("text")) {
        case (c, pair) =>
          val Array(a, b) = pair.split(" ", 2)
          regexp_replace(c, bpePattern(a, b), a + "_" + b)
      }
      docs(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_raw"),
          size(split(encoded, " ")).cast("long").as("n_bpe"))
        .withColumn("ratio",
          round(col("n_bpe").cast("double") / col("n_raw"), 4))
        .orderBy("doc_id")
    }),

    // The ENCODE ALGORITHM oracled cross-engine (r14): text_bpe_encode
    // itself can't be DuckDB-oracled — its merge table is a per-SF
    // trained artifact, and the driver's oracle contract is one STATIC
    // SQL string per key (the sf0.01 and sf0.1 merge tables provably
    // differ, so no literal embedding works at both scales; see SURVEY
    // §5.2). This key isolates the risky half — the greedy
    // left-to-right lookaround-regex merge application — under a FIXED
    // DECLARED merge table chosen adversarially (chained pairs sharing
    // tokens, self-pairs a==b), so DuckDB can replay the exact greedy
    // fold per merge (RE2 has no lookbehind; the oracle's
    // string-accumulator list_reduce is semantics-identical: a merged
    // a_b token can never re-match as bare `a`). Same one-projection
    // zero-shuffle plan as text_bpe_encode; the trained-artifact key
    // keeps its golden pin + plain-Scala replay.
    "text_bpe_encode_fixed" -> ((s, d) => {
      val encoded = fixedMerges.foldLeft(col("text")) {
        case (c, (a, b)) => regexp_replace(c, bpePattern(a, b), a + "_" + b)
      }
      docs(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_raw"),
          size(split(encoded, " ")).cast("long").as("n_bpe"))
        .withColumn("ratio",
          round(col("n_bpe").cast("double") / col("n_raw"), 4))
        .orderBy("doc_id")
    }),

    // Per-doc unigram Shannon entropy (low entropy = repetitive/
    // templated text, a standard corpus-quality cut). Whole computation
    // is per-row array lambdas — array_distinct → per-token counts →
    // -Σ p·log2 p — inside whole-stage codegen, ZERO shuffle: the
    // text_repetition discipline, not the tokenize-shuffle-join shape
    // (which would move the whole token stream twice at 100 TB).
    "text_entropy" -> ((s, d) => {
      docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n", size(col("toks")).cast("double"))
        .select(col("doc_id"),
          round(expr(
            """-aggregate(
              |  transform(array_distinct(toks),
              |    t -> cast(size(filter(toks, x -> x = t)) as double)),
              |  cast(0 as double),
              |  (acc, c) -> acc + (c / n) * log2(c / n))""".stripMargin),
            4).as("entropy"),
          col("n").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Gopher-style rule-bundle quality filter: per-doc 0/1 verdict per
    // rule (length, mean word length, stopword presence, distinct-word
    // ratio) + the conjunction. Integer flags, not booleans (the
    // cross-engine comparison convention), thresholds tuned so every
    // rule rejects real fixture docs. One codegen'd map, no shuffle.
    "text_gopher_filter" -> ((s, d) => {
      val m = docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("nw", size(col("toks")))
        .withColumn("mean_len", expr(
          "aggregate(toks, cast(0 as double), (a, x) -> a + length(x))")
          / col("nw"))
        .withColumn("n_stop",
          expr("size(filter(toks, x -> x = 'a' or x = 'the'))"))
        .withColumn("uniq_ratio",
          size(array_distinct(col("toks"))).cast("double") / col("nw"))
      val fLen = col("nw") >= 30
      val fWl = col("mean_len") >= 3.8 && col("mean_len") <= 5.2
      val fStop = col("n_stop") >= 1
      val fRep = col("uniq_ratio") >= 0.5
      def flag(c: org.apache.spark.sql.Column) = when(c, 1).otherwise(0)
      m.select(col("doc_id"), col("nw").cast("long").as("n_words"),
          flag(fLen).as("f_len"), flag(fWl).as("f_wordlen"),
          flag(fStop).as("f_stop"), flag(fRep).as("f_rep"),
          flag(fLen && fWl && fStop && fRep).as("pass"))
        .orderBy("doc_id")
    }),

    // FILTER ENSEMBLE — the decision layer over the gate family: rule
    // gates (length, repetition) VOTE alongside the learned classifier
    // (text_classifier_score's hashed linear model), and the verdict
    // ships with an operational DROP-REASON column (first failing gate
    // in a fixed priority order — the column an operator greps when a
    // corpus shrinks unexpectedly). All signals integer (repetition as
    // distinct*10 ≥ nw*4, classifier as score*5 ≥ nw — no division),
    // so the oracle replays every vote exactly. One projection pass,
    // zero shuffles; at 100 TB this runs fused over the same scan as
    // the gates themselves.
    "corpus_filter_ensemble" -> ((s, d) => {
      val wSum =
        """aggregate(toks, 0L, (acc, t) -> acc +
          |  ((pmod(cast(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT),
          |    64) * 37) % 21 - 10))""".stripMargin
      val m = docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("nw", size(col("toks")).cast("long"))
        .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("score", expr(wSum))
      val fLen = col("nw") >= 25
      val fRep = col("n_uniq") * 10 >= col("nw") * 4
      val fClf = col("score") * 5 >= col("nw")
      def flag(c: org.apache.spark.sql.Column) = when(c, 1).otherwise(0)
      m.select(col("doc_id"), col("nw").as("n_words"), col("score"),
          (flag(fLen) + flag(fRep) + flag(fClf)).as("votes"),
          when(!fLen, "too_short")
            .when(!fRep, "repetitive")
            .when(!fClf, "low_classifier")
            .otherwise("keep").as("reason"),
          flag(fLen && fRep && fClf).as("keep"))
        .orderBy("doc_id")
    }),

    // END-TO-END CURATION PIPELINE — the composition proof: a real
    // corpus pass chains exact dedup → quality-ensemble gate →
    // per-source token budget as ONE dataframe program (each stage is
    // its own oracled key elsewhere; this key pins that they COMPOSE —
    // the whole pass a reference user would run). Output is the
    // per-stage survivor ledger (docs + tokens after each stage), the
    // number an operator actually watches. Near-dup (MinHash) slots in
    // between stages 1 and 2 at production scale; it is kept out here
    // so the ledger stays exactly replayable row-for-row in SQL.
    // Scale shape: stage 1 shuffles 32 B hashes, stage 2 is a zero-
    // shuffle projection, stage 3 is one window per source — three
    // shuffles total for the whole pass, none carrying text.
    "corpus_dedup_pipeline" -> ((s, d) => {
      val wSum =
        """aggregate(toks, 0L, (acc, t) -> acc +
          |  ((pmod(cast(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT),
          |    64) * 37) % 21 - 10))""".stripMargin
      // deterministic injected copies (the dedup_exact convention —
      // the sf0.01 fixture has no natural exact dups) so stage 1
      // demonstrably removes, never rubber-stamps
      val raw = docs(s, d).select(col("doc_id"), col("source"), col("text"))
      val aug = raw.union(raw.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("source"), col("text")))
      val base = aug
        .withColumn("toks", split(col("text"), " "))
        .withColumn("nw", size(col("toks")).cast("long"))
      val s1 = base
        .withColumn("h", sha2(col("text"), 256))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      val s2 = s1
        .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("score", expr(wSum))
        .filter(col("nw") >= 25 &&
          col("n_uniq") * 10 >= col("nw") * 4 &&
          col("score") * 5 >= col("nw"))
      val s3 = s2
        .withColumn("cum", sum(col("nw")).over(
          Window.partitionBy(col("source")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") <= 100)
      def ledger(stage: String, df: DataFrame) =
        df.agg(count(lit(1)).as("docs"),
          coalesce(sum(col("nw")), lit(0L)).as("tokens"))
          .withColumn("stage", lit(stage))
      ledger("0_input", base)
        .unionByName(ledger("1_exact_dedup", s1))
        .unionByName(ledger("2_quality_gate", s2))
        .unionByName(ledger("3_token_budget", s3))
        .select(col("stage"), col("docs"), col("tokens"))
        .orderBy("stage")
    }),

    // Containment dedup: documents whose full text is a PROPER PREFIX
    // of a longer document (truncated re-crawls, partial mirrors —
    // invisible to exact-hash dedup). Candidate pairs come from an
    // equi-join on the first-64-char key, so pair generation is
    // collision-proportional (Σ|key-group|²), never n²; the
    // startswith verify runs only on candidates. Docs shorter than the
    // key are out of scope by declaration (the key IS the guarantee
    // that pair counts stay bounded at 100 TB). Injected truncated
    // copies (doc_id+700000, first 80 chars of every 11th long doc)
    // keep the fixture non-degenerate; the join also surfaces the
    // corpus's natural prefix pairs.
    "dedup_prefix" -> ((s, d) => {
      val base = docs(s, d)
      val corpus = base.select(col("doc_id"), col("text"))
        .unionAll(base
          .filter(length(col("text")) >= 120 && col("doc_id") % 11 === 0)
          .select((col("doc_id") + 700000L).as("doc_id"),
            substring(col("text"), 1, 80).as("text")))
      val keyed = corpus.filter(length(col("text")) >= 64)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("len"),
          substring(col("text"), 1, 64).as("pk"))
      val a = keyed.select(col("pk"), col("doc_id").as("short_doc"),
        col("text").as("ta"), col("len").as("short_len"))
      val b = keyed.select(col("pk"), col("doc_id").as("long_doc"),
        col("text").as("tb"), col("len").as("long_len"))
      a.join(b, Seq("pk"))
        .filter(col("short_len") < col("long_len")
          && expr("startswith(tb, ta)"))
        .select(col("short_doc"), col("long_doc"),
          col("short_len"), col("long_len"))
        .orderBy("short_doc", "long_doc")
    }),

    // RAG-style chunking: fixed 200-char windows every 150 chars (50
    // overlap), one output row per chunk keyed (doc_id, chunk_id) with a
    // content digest. explode(sequence(...)) keeps the whole op inside
    // whole-stage codegen — no shuffle until the oracle's ORDER BY; at
    // 100 TB the chunker is a pure map stage that writes straight to a
    // partitioned sink.
    "text_chunk" -> ((s, d) => {
      docs(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), length(col("text")) - 1, lit(150)))
            .as("start"))
        .select(col("doc_id"),
          expr("substring(text, start + 1, 200)").as("chunk"),
          (col("start") / 150).cast("long").as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          length(col("chunk")).cast("long").as("chunk_chars"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // deterministic train/val/test holdout: the seeded hash bucket maps
    // every doc to a split — stable across reruns, engines, and cluster
    // sizes, which rand()-based splits are not. Output is the
    // per-(lang, split) manifest a pipeline records: doc count, token
    // sum, and an id-checksum that makes membership drift detectable.
    // Pure map + one partial-agg shuffle carrying 3×|lang| rows.
    "split_train_eval" -> ((s, d) => {
      docs(s, d)
        .withColumn("bucket", expr(bucket100))
        .withColumn("part", expr(
          """CASE WHEN bucket < 90 THEN 'train'
            |     WHEN bucket < 95 THEN 'val' ELSE 'test' END""".stripMargin))
        .groupBy(col("lang"), col("part"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("n_tokens"),
          sum(col("doc_id") * col("doc_id")).as("id_checksum"))
        .orderBy("lang", "part")
    }),

    // GROUP-LEVEL holdout — the leak-free eval split: hashing the
    // SOURCE (not the document) sends every doc of a source to the
    // same partition, so near-duplicate documents within one crawl
    // domain can never straddle train/test (the contamination channel
    // a doc-level split like split_train_eval leaves open; both belong
    // in the toolbox — doc-level maximizes balance, group-level
    // guarantees isolation). Same portable integer hash family; the
    // per-part source count + a per-part id checksum make any
    // straddling source flip the hash.
    "sample_group_holdout" -> ((s, d) => {
      docs(s, d)
        .withColumn("gb", expr(
          """((cast(conv(substring(md5(source), 1, 15), 16, 10) AS BIGINT)
            |  % 1000000007L) * 2654435761L) % 1000000007L % 100L"""
            .stripMargin))
        .withColumn("part", expr(
          """CASE WHEN gb < 80 THEN 'train'
            |     WHEN gb < 90 THEN 'val' ELSE 'test' END""".stripMargin))
        .groupBy(col("part"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          sum(col("doc_id") * col("doc_id")).as("id_checksum"))
        .orderBy("part")
    }),

    // CCNet-style perplexity bucketing: per-doc unigram NLL (the KenLM
    // proxy of text_unigram_logprob) cut into head/middle/tail by
    // GLOBAL exact terciles. The threshold agg reduces the per-doc
    // score table to two doubles that broadcast back, so the corpus
    // text shuffles zero times and scores shuffle once — at 100 TB
    // swap `percentile` for `percentile_approx` (same plan shape,
    // mergeable sketch instead of exact sort). Both engines round the
    // thresholds to 4 decimals so interpolation ulps can't flip a
    // boundary doc.
    "text_ppl_bucket" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
      val total = freqs.agg(sum(col("n_tok")).cast("double").as("total"))
      // persist the per-doc score table: BOTH the threshold agg and the
      // final bucket pass consume it, and unshared each would re-run
      // the corpus tokenize + term join. persist (not checkpoint — no
      // extra job; both consumers run inside ONE action) + the
      // TextOps release discipline: materialize the small result,
      // unpersist, return.
      // broadcast the term-frequency table (r20 opt, guide §3.1): it is
      // the unigram LM — a model artifact bounded by the vocabulary,
      // the thing CCNet ships to every scorer — while the probe side is
      // every token OCCURRENCE. The post-aggregation size estimate is
      // too coarse for the planner to pick this on its own, and without
      // the hint the occurrence stream shuffles by token just to meet a
      // sort-merge join.
      val nll = toks.join(broadcast(freqs), "tok")
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(avg(-log(col("n_tok") / col("total"))), 4).as("nll"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val thr = nll.agg(
        round(expr("percentile(nll, CAST(1 AS DOUBLE) / 3)"), 4).as("t1"),
        round(expr("percentile(nll, CAST(2 AS DOUBLE) / 3)"), 4).as("t2"))
      val out = nll.crossJoin(broadcast(thr))
        .withColumn("bucket", expr(
          """CASE WHEN nll <= t1 THEN 'head'
            |     WHEN nll <= t2 THEN 'middle' ELSE 'tail' END""".stripMargin))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("nll")), 4).as("mean_nll"))
        .orderBy("lang", "bucket")
        .localCheckpoint()
      nll.unpersist(blocking = false)
      out
    }),

    // domain-mix rebalancing manifest: per-source token shares vs a
    // target mix, with the per-source sampling rate that achieves the
    // target (capped at 1.0 — upsampling is a training-loader concern).
    // The corpus collapses to one 20-row per-source agg; the totals
    // come back as a broadcast 1-row side. Everything downstream of
    // the first agg is dimension-table-sized, and all shares/rates are
    // scaled integers so the oracle hash is exact. Target weights are
    // derived deterministically from the source name (fixtures carry
    // no external mix table).
    // Deterministic diversity INTERLEAVE — the anti-clumping pass after
    // sharding: training batches degrade when consecutive docs share a
    // source (domain gradients correlate), so emit sources round-robin:
    // rank within source, then order globally by (rank, source). Two
    // windows; the per-source window shuffles once on source, and the
    // global order is a range-partitioned sort on the tiny (rn, source)
    // composite — at 100 TB that sort IS the shuffle (the
    // corpus_shuffle_shards contract), no extra pass.
    "corpus_interleave" -> ((s, d) => {
      val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      docs(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(wSrc))
        .withColumn("pos", row_number().over(
          Window.orderBy(col("rn"), col("source"), col("doc_id"))))
        .select(col("pos"), col("doc_id"), col("source"))
        .orderBy("pos")
    }),

    // Temperature-scaled language sampling (the XLM/mT5 multilingual
    // mixture rule): sampling weight q_l ∝ p_l^(1/T) flattens the
    // head-language dominance; T=2 here so the exponent is sqrt —
    // deliberately, because IEEE sqrt is CORRECTLY ROUNDED on every
    // engine while libm pow(x, 0.3) is not, so the cross-engine hash
    // survives without a fixed-point detour. upsample_x = q_l/p_l is
    // the per-language repetition factor the data loader applies. One
    // 5-row aggregate + a broadcast total — at 100 TB this is a
    // metadata computation over per-language token counts; only the
    // downstream WEIGHTED sampler (sample_importance) touches rows.
    "sample_temperature" -> ((s, d) => {
      val per = docs(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("bigint").as("n_tokens"))
      val tot = per.agg(
        sum(col("n_tokens")).as("tot_tokens"),
        sum(sqrt(col("n_tokens").cast("double"))).as("tot_sqrt"))
      per.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          expr("n_tokens * 1000000 div tot_tokens").as("share_x1e6"),
          round(sqrt(col("n_tokens").cast("double")) / col("tot_sqrt"), 4)
            .as("samp_weight"),
          round(sqrt(col("n_tokens").cast("double")) * col("tot_tokens")
            / (col("tot_sqrt") * col("n_tokens")), 4).as("upsample_x"))
        .orderBy("lang")
    }),

    "text_domain_mix" -> ((s, d) => {
      val per = docs(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("n_tokens"))
        .withColumn("wt",
          expr("CAST(substring(source, 4) AS BIGINT) % 4 + 1"))
      val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"),
        sum(col("wt")).as("tot_wt"))
      per.crossJoin(broadcast(tot))
        .withColumn("actual_share_x1e6",
          expr("n_tokens * 1000000 div tot_tokens"))
        .withColumn("target_share_x1e6",
          expr("wt * 1000000 div tot_wt"))
        .withColumn("sample_rate_x1e4", expr(
          "least(10000L, wt * tot_tokens * 10000 div (tot_wt * n_tokens))"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("actual_share_x1e6"), col("target_share_x1e6"),
          col("sample_rate_x1e4"))
        .orderBy("source")
    }),

    // incremental ingestion dedup: a new crawl batch is admitted
    // against the hash index of everything already ingested — the
    // daily-crawl form of exact dedup, where the index is a join input,
    // never a rebuild. The index side projects ONLY the 32-byte hash,
    // so at 100 TB the anti-join shuffles hashes, not text; within the
    // batch, first occurrence wins via one hash agg. Fixture docs have
    // no natural cross-batch dups, so deterministic "re-crawled" copies
    // are injected (the dedup_exact convention): index docs ≡0 mod 7
    // reappear in the batch (must be rejected by the anti-join) and
    // batch docs ≡0 mod 11 appear twice (must collapse in-batch).
    "dedup_incremental" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("lang"), col("text"))
      val index = base.filter(col("doc_id") < 300)
        .select(sha2(col("text"), 256).as("h")).distinct()
      val recrawl = base
        .filter(col("doc_id") < 300 && col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("lang"),
          col("text"))
      val inBatchDup = base
        .filter(col("doc_id") >= 300 && col("doc_id") % 11 === 0)
        .select((col("doc_id") + 600000L).as("doc_id"), col("lang"),
          col("text"))
      val batch = base.filter(col("doc_id") >= 300)
        .union(recrawl).union(inBatchDup)
        .withColumn("h", sha2(col("text"), 256))
      batch.join(index, Seq("h"), "left_anti")
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_in_batch"),
          min(col("lang")).as("lang"))
        .select(col("doc_id"), col("lang"), col("n_in_batch"))
        .orderBy("doc_id")
    }),

    // BLOOM-PREFILTERED incremental dedup — the scale accelerator over
    // dedup_incremental's hash index: the history compresses into a
    // Bloom SKETCH (public `stat.bloomFilter`; bits-only — ~1.2 MB per
    // million docs at 3% fpp, vs 32 B/doc for the exact index), the
    // sketch broadcasts, and only MIGHT-CONTAIN candidates pay the
    // exact verify join against history. No false negatives, so docs
    // the bloom clears are definitively new without touching the
    // index — the final decision is EXACT and fully oracled; the fpp
    // only sizes the verify traffic (the broadcast-size-vs-recheck
    // trade a 100 TB ingest pipeline tunes). The key REQUIREs the
    // bloom actually pruned on the fixture, so the accelerator can
    // never silently degrade into verify-everything.
    "dedup_bloom_prefilter" -> ((s, d) => {
      import s.implicits._
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val history = base.filter(col("doc_id") < 250)
      val recrawl = base
        .filter(col("doc_id") < 250 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      val batch = base.filter(col("doc_id") >= 250).union(recrawl)
      val bloom = s.sparkContext.broadcast(
        history.stat.bloomFilter("text", 1000L, 0.03))
      val typed = batch.as[(Long, String)]
      val candidates = typed
        .filter(t => bloom.value.mightContainString(t._2))
        .toDF("doc_id", "text")
      val nBatch = batch.count()
      val nCand = candidates.count()
      require(nCand < nBatch,
        s"bloom pruned nothing ($nCand of $nBatch) — sketch degraded")
      val confirmed = candidates
        .join(history.select(col("text")), Seq("text"), "left_semi")
        .select(col("doc_id")).withColumn("isdup", lit(1))
      batch.join(confirmed, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("isdup").isNotNull, "dup").otherwise("new").as("status"))
        .orderBy("doc_id")
    }),

    // Cross-document BOILERPLATE detection (the C4/RefinedWeb repeated-
    // line rule, chunk-level): a fixed-width word chunk appearing in
    // ≥3 distinct documents is boilerplate (nav bars, footers, cookie
    // banners — invisible to whole-doc dedup because the surrounding
    // text differs). Per-doc report: chunks, boilerplate hits, keep
    // ratio. The heavy shuffle groups 60-BIT CHUNK HASHES, never chunk
    // text (at 100 TB the distinct-doc count per chunk moves 8 bytes a
    // chunk; the md5-prefix space makes a false merge a ~1e-11 event
    // at 1e9 chunks — the documented trade, cf. dedup_minhash); the
    // flagged set is corpus-boilerplate-sized and broadcasts. Injected
    // header on every 7th doc (dedup_prefix precedent) keeps the
    // fixture non-degenerate; natural repeats surface too.
    "text_boilerplate" -> ((s, d) => {
      val d2 = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("subscribe to our newsletter follow us on twitter "),
            col("text")))
          .otherwise(col("text")).as("text"))
      val chunks = d2
        .withColumn("ws", split(col("text"), " "))
        .withColumn("i", explode(sequence(lit(0L),
          ceil(size(col("ws")) / lit(8.0)).cast("long") - 1)))
        .select(col("doc_id"),
          conv(substring(md5(array_join(
            slice(col("ws"), (col("i") * 8 + 1).cast("int"), lit(8)), " ")),
            1, 15), 16, 10).cast("long").as("h"))
      val boiler = chunks.groupBy("h")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 3)
        .select(col("h"), lit(1).as("is_boiler"))
      chunks.join(broadcast(boiler), Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce(col("is_boiler"), lit(0))).as("n_boiler"))
        .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
          round(lit(1.0) - col("n_boiler") / col("n_chunks"), 4)
            .as("keep_ratio"))
        .orderBy("doc_id")
    })
  )

  /** The greedy left-to-right merge fold, RE2-free: per merge (a, b),
    * fold the token list into a string accumulator — merge exactly when
    * the accumulator's LAST TOKEN is bare `a` (string equality or a
    * space boundary, so an earlier-merged `x_a` never false-matches)
    * and the next token is `b`. A merged `a_b` can never re-match as
    * `a` (it contains an underscore; corpus tokens don't), which is
    * precisely the non-overlap rule the engine's lookaround regex
    * implements — the two are semantics-identical by construction and
    * the full-corpus hash compare re-proves it at every SF. */
  private def oBpeEncodeFixed: String = {
    val enc = fixedMerges.foldLeft("text") { case (prev, (a, b)) =>
      s"LIST_REDUCE(STR_SPLIT($prev, ' '), (acc, x) -> " +
        s"CASE WHEN x = '$b' AND (acc = '$a' OR ENDS_WITH(acc, ' $a')) " +
        s"THEN acc || '_$b' ELSE acc || ' ' || x END)"
    }
    s"""SELECT doc_id, n_raw, n_bpe,
       |  ROUND(n_bpe * 1.0 / n_raw, 4) AS ratio
       |FROM (SELECT doc_id,
       |    LEN(STR_SPLIT(text, ' ')) AS n_raw,
       |    LEN(STR_SPLIT($enc, ' ')) AS n_bpe
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "text_bpe_encode_fixed" -> oBpeEncodeFixed,
    // groups chunk STRINGS where the engine groups chunk hashes — equal
    // output certifies the hash-space trade lost nothing on this corpus
    "text_boilerplate" ->
      """WITH d2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN 'subscribe to our newsletter follow us on twitter '
        |           || text
        |      ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d2),
        |ck AS (SELECT doc_id,
        |    array_to_string(ws[i*8+1:i*8+8], ' ') AS chunk
        |  FROM w, LATERAL UNNEST(
        |    range(0, CAST(CEIL(len(ws)/8.0) AS BIGINT))) t(i)),
        |b AS (SELECT chunk FROM ck
        |  GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 3)
        |SELECT ck.doc_id, COUNT(*) AS n_chunks,
        |  CAST(COUNT(b.chunk) AS BIGINT) AS n_boiler,
        |  ROUND(1.0 - COUNT(b.chunk) / COUNT(*), 4) AS keep_ratio
        |FROM ck LEFT JOIN b ON ck.chunk = b.chunk
        |GROUP BY ck.doc_id ORDER BY ck.doc_id""".stripMargin,
    // the seeded shuffle is pure integer arithmetic — DuckDB re-derives
    // the identical shard assignment and within-shard order
    "corpus_shuffle_shards" ->
      """SELECT CAST(h % 16 AS INTEGER) AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
        |    AS seq,
        |  doc_id, h
        |FROM (SELECT doc_id,
        |        ((doc_id % 1000000007) * 2654435761) % 1000000007 AS h
        |      FROM documents)
        |ORDER BY shard, seq""".stripMargin,
    // greedy per-source quality selection is pure integer arithmetic —
    // the oracle re-derives the identical ranking and cutoff
    "corpus_token_budget" ->
      """WITH scored AS (
        |  SELECT source, doc_id,
        |    CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |    LEN(LIST_DISTINCT(STR_SPLIT(text, ' '))) * 10000
        |      // LEN(STR_SPLIT(text, ' ')) AS quality_x1e4
        |  FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
        |        ORDER BY quality_x1e4 DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |      FROM scored)
        |SELECT source, doc_id, n_tokens, quality_x1e4, cum_tokens
        |FROM c WHERE cum_tokens <= 800
        |ORDER BY source, doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $oComponentCte
        |SELECT doc_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS csize
        |FROM comp ORDER BY doc_id""".stripMargin,
    // the incremental law: the merged-in-one-batch result must equal
    // the full-corpus component structure restricted to components
    // containing a batch doc (doc_id >= 300) — pure-history components
    // were yesterday's answer and are exactly what the engine never
    // re-propagates
    "dedup_clusters_incremental" ->
      s"""WITH RECURSIVE $oComponentCte
        |SELECT doc_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS csize
        |FROM comp
        |WHERE cluster_id IN (SELECT cluster_id FROM comp
        |                     WHERE doc_id >= 300)
        |ORDER BY doc_id""".stripMargin,
    // batch statuses from the full component structure; history flips
    // from full-vs-history-only status disagreement (untouched
    // components agree and drop out — exactly the engine's scope)
    "dedup_keep_list_incremental" ->
      s"""WITH RECURSIVE $oComponentCte,
        |${oComponentCteFor("_h", "doc_id < 300")},
        |bs AS (SELECT dd.doc_id,
        |    CASE WHEN c.cluster_id IS NULL THEN 'unique'
        |         WHEN c.cluster_id = dd.doc_id THEN 'keeper'
        |         ELSE 'dropped' END AS status,
        |    'batch' AS kind
        |  FROM (SELECT doc_id FROM documents
        |        WHERE doc_id >= 300 AND doc_id < 1000) dd
        |  LEFT JOIN comp c ON dd.doc_id = c.doc_id),
        |hn AS (SELECT c.doc_id,
        |    CASE WHEN c.cluster_id = c.doc_id THEN 'keeper'
        |         ELSE 'dropped' END AS status,
        |    CASE WHEN ch.cluster_id IS NULL THEN 'unique'
        |         WHEN ch.cluster_id = c.doc_id THEN 'keeper'
        |         ELSE 'dropped' END AS old_status
        |  FROM comp c LEFT JOIN comp_h ch ON c.doc_id = ch.doc_id
        |  WHERE c.doc_id < 300)
        |SELECT doc_id, status, kind FROM bs
        |UNION ALL
        |SELECT doc_id, status, 'flipped' AS kind FROM hn
        |WHERE status <> old_status
        |ORDER BY doc_id""".stripMargin,
    "dedup_keep_list" ->
      s"""WITH RECURSIVE $oComponentCte
        |SELECT dd.doc_id, dd.lang,
        |  CASE WHEN c.cluster_id IS NULL THEN 'unique'
        |       WHEN c.cluster_id = dd.doc_id THEN 'keeper'
        |       ELSE 'dropped' END AS status
        |FROM (SELECT doc_id, lang FROM documents WHERE doc_id < 1000) dd
        |LEFT JOIN comp c ON dd.doc_id = c.doc_id
        |ORDER BY dd.doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang, source,
        |  (doc_id * 2654435761) % 1000000007 % 100 AS bucket
        |FROM documents
        |WHERE (doc_id * 2654435761) % 1000000007 % 100 <
        |  CASE WHEN lang = 'en' THEN 25 WHEN lang = 'de' THEN 50 ELSE 75 END
        |ORDER BY doc_id""".stripMargin,
    "sample_balanced" ->
      """SELECT lang, rn, doc_id, bucket FROM (
        |  SELECT lang, doc_id, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY bucket, doc_id)
        |      AS rn
        |  FROM (SELECT lang, doc_id,
        |          (doc_id * 2654435761) % 1000000007 % 100 AS bucket
        |        FROM documents))
        |WHERE rn <= 40 ORDER BY lang, rn""".stripMargin,
    "pack_sequences" ->
      s"""SELECT lang, chunk_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens,
        |  MIN(doc_id) AS first_doc
        |FROM (
        |  SELECT lang, doc_id, n_tok,
        |    (CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok) // $packBudget
        |      AS chunk_id
        |  FROM (SELECT lang, doc_id, LEN(STR_SPLIT(text, ' ')) AS n_tok
        |        FROM documents))
        |GROUP BY lang, chunk_id ORDER BY lang, chunk_id""".stripMargin,
    "dedup_block_filter" ->
      """WITH b AS (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(
        |    GENERATE_SERIES(0, (LEN(t) - 1) // 8),
        |    i -> ARRAY_TO_STRING(t[i*8+1 : i*8+8], ' '))) AS block
        |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents)),
        |c AS (SELECT block FROM b GROUP BY block
        |      HAVING COUNT(DISTINCT doc_id) >= 3)
        |SELECT b.doc_id, COUNT(*) AS n_blocks,
        | COUNT(c.block) AS n_boilerplate,
        | (COUNT(*) - COUNT(c.block)) * 10000 // COUNT(*) AS keep_ratio_x1e4
        |FROM b LEFT JOIN c ON b.block = c.block
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "text_url_parse" ->
      s"""WITH $oUrlCte
        |SELECT doc_id,
        |  LOWER(REGEXP_EXTRACT(url, 'https?://([^/?#]+)', 1)) AS host,
        |  REGEXP_EXTRACT(url, 'https?://[^/?#]+(/[^?#]*)', 1) AS path,
        |  REGEXP_EXTRACT(url, '[?&]id=([^&#]*)', 1) AS id_param
        |FROM u ORDER BY doc_id""".stripMargin,
    "dedup_url_canon" ->
      s"""WITH $oUrlCte
        |SELECT LOWER(REGEXP_EXTRACT(url, 'https?://([^/?#]+)', 1))
        |    || REGEXP_EXTRACT(url, 'https?://[^/?#]+(/[^?#]*)', 1) AS canon,
        |  MIN(doc_id) AS keep_doc, COUNT(*) AS n_dups
        |FROM u GROUP BY canon ORDER BY canon""".stripMargin,
    "text_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    UNNEST(GENERATE_SERIES(1, LEN(STR_SPLIT(text, ' ')))) AS pos,
        |    UNNEST(STR_SPLIT(text, ' ')) AS tok
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, tok AS w1,
        |      LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM toks) WHERE w2 IS NOT NULL),
        |c2 AS (SELECT w1, w2, COUNT(*) AS cnt2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS cnt1 FROM bg GROUP BY w1),
        |v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM toks)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(-LN((cnt2 + 1) / (cnt1 + v))), 4) AS nll
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS tok
        |  FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks),
        |freqs AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        | ROUND(AVG(-LN(CAST(n_tok AS DOUBLE) / total)), 4) AS nll
        |FROM toks JOIN freqs USING (tok), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """SELECT doc_id, LEN(tri) AS n_tri,
        | LEN(LIST_DISTINCT(tri)) AS n_uniq,
        | ROUND(1.0 - CAST(LEN(LIST_DISTINCT(tri)) AS DOUBLE) / LEN(tri), 4)
        |   AS rep_ratio
        |FROM (
        |  SELECT doc_id, LIST_TRANSFORM(
        |    GENERATE_SERIES(1, GREATEST(LEN(t) - 2, 0)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS tri
        |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents))
        |WHERE LEN(tri) > 0 ORDER BY doc_id""".stripMargin,
    "text_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
        |    GENERATE_SERIES(1, GREATEST(LEN(t) - 1, 0)),
        |    i -> t[i] || ' ' || t[i+1])) AS sh
        |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents)
        |  WHERE LEN(t) > 1)
        |SELECT c.doc_id, e.doc_id AS eval_id,
        |  LEN(LIST_INTERSECT(c.sh, e.sh)) AS overlap
        |FROM d c JOIN d e
        |  ON e.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
        | AND LEN(LIST_INTERSECT(c.sh, e.sh)) >= 5
        |ORDER BY c.doc_id, eval_id""".stripMargin,
    "text_pii_scrub" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    'contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || lang
        |      || '.com or 555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR),
        |                                4, '0')
        |      || ' re: ' || text AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  LEN(REGEXP_EXTRACT_ALL(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  LEN(REGEXP_EXTRACT_ALL(raw, '\d{3}-\d{4}')) AS n_phones,
        |  SUBSTRING(REGEXP_REPLACE(REGEXP_REPLACE(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{4}', '<PHONE>', 'g'), 1, 80) AS scrubbed_head
        |FROM r ORDER BY doc_id""".stripMargin,
    "sample_reservoir" ->
      """SELECT doc_id, lang, source, rank_h FROM (
        |  SELECT doc_id, lang, source,
        |    (doc_id * 2654435761) % 1000000007 AS rank_h
        |  FROM documents ORDER BY rank_h, doc_id LIMIT 120)
        |ORDER BY doc_id""".stripMargin,
    "sample_importance" ->
      """SELECT doc_id, lang, n_chars,
        |  (doc_id * 2654435761) % 1000000007 % 1000000 AS bucket
        |FROM documents
        |WHERE ((doc_id * 2654435761) % 1000000007 % 1000000) * 600
        |      < n_chars * 1000000
        |ORDER BY doc_id""".stripMargin,
    "text_entropy" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS n FROM t)
        |SELECT doc_id,
        |  ROUND(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(list_distinct(toks),
        |      t -> (CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / n)
        |        * LOG2(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE)
        |               / n))),
        |    (a, b) -> a + b), 4) AS entropy,
        |  CAST(n AS BIGINT) AS n_tokens
        |FROM m ORDER BY doc_id""".stripMargin,
    // the whole pass replayed: same hash-window dedup, same integer
    // gates, same per-source running-token cutoff
    "corpus_dedup_pipeline" ->
      """WITH aug AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, text FROM documents
        |  WHERE doc_id % 3 = 0),
        |base AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |    sha256(text) AS h
        |  FROM aug),
        |s1 AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id)
        |      AS rn FROM base) WHERE rn = 1),
        |s2 AS (SELECT * FROM (
        |    SELECT *, CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
        |      CAST(list_sum(list_transform(toks, tok ->
        |        ((('0x' || substr(md5(tok), 1, 15))::BIGINT % 64) * 37) % 21
        |          - 10)) AS BIGINT) AS score
        |    FROM s1)
        |  WHERE nw >= 25 AND n_uniq * 10 >= nw * 4 AND score * 5 >= nw),
        |s3 AS (SELECT * FROM (
        |    SELECT *, SUM(nw) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM s2)
        |  WHERE cum <= 100)
        |SELECT stage, docs, tokens FROM (
        |  SELECT '0_input' AS stage, COUNT(*) AS docs,
        |    CAST(COALESCE(SUM(nw), 0) AS BIGINT) AS tokens FROM base
        |  UNION ALL
        |  SELECT '1_exact_dedup', COUNT(*),
        |    CAST(COALESCE(SUM(nw), 0) AS BIGINT) FROM s1
        |  UNION ALL
        |  SELECT '2_quality_gate', COUNT(*),
        |    CAST(COALESCE(SUM(nw), 0) AS BIGINT) FROM s2
        |  UNION ALL
        |  SELECT '3_token_budget', COUNT(*),
        |    CAST(COALESCE(SUM(nw), 0) AS BIGINT) FROM s3)
        |ORDER BY stage""".stripMargin,
    // the bloom is prune-only, so the exact decision replays without it
    "dedup_bloom_prefilter" ->
      """WITH history AS (SELECT text FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents
        |  WHERE doc_id < 250 AND doc_id % 5 = 0)
        |SELECT b.doc_id,
        |  CASE WHEN EXISTS (SELECT 1 FROM history h WHERE h.text = b.text)
        |       THEN 'dup' ELSE 'new' END AS status
        |FROM batch b ORDER BY b.doc_id""".stripMargin,
    "corpus_filter_ensemble" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS nw,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
        |  CAST(list_sum(list_transform(toks, tok ->
        |    ((('0x' || substr(md5(tok), 1, 15))::BIGINT % 64) * 37) % 21
        |      - 10)) AS BIGINT) AS score
        | FROM t)
        |SELECT doc_id, nw AS n_words, score,
        |  (CASE WHEN nw >= 25 THEN 1 ELSE 0 END
        |   + CASE WHEN n_uniq * 10 >= nw * 4 THEN 1 ELSE 0 END
        |   + CASE WHEN score * 5 >= nw THEN 1 ELSE 0 END) AS votes,
        |  CASE WHEN NOT nw >= 25 THEN 'too_short'
        |       WHEN NOT n_uniq * 10 >= nw * 4 THEN 'repetitive'
        |       WHEN NOT score * 5 >= nw THEN 'low_classifier'
        |       ELSE 'keep' END AS reason,
        |  CASE WHEN nw >= 25 AND n_uniq * 10 >= nw * 4
        |        AND score * 5 >= nw THEN 1 ELSE 0 END AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_gopher_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, len(toks) AS nw,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(toks, x -> CAST(len(x) AS DOUBLE))),
        |    (a, b) -> a + b) / len(toks) AS mean_len,
        |  len(list_filter(toks, x -> x = 'a' OR x = 'the')) AS n_stop,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio
        | FROM t)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        |  CASE WHEN nw >= 30 THEN 1 ELSE 0 END AS f_len,
        |  CASE WHEN mean_len >= 3.8 AND mean_len <= 5.2 THEN 1 ELSE 0 END
        |    AS f_wordlen,
        |  CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS f_stop,
        |  CASE WHEN uniq_ratio >= 0.5 THEN 1 ELSE 0 END AS f_rep,
        |  CASE WHEN nw >= 30 AND mean_len >= 3.8 AND mean_len <= 5.2
        |        AND n_stop >= 1 AND uniq_ratio >= 0.5 THEN 1 ELSE 0 END
        |    AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    "dedup_prefix" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000, substring(text, 1, 80) FROM documents
        |  WHERE length(text) >= 120 AND doc_id % 11 = 0),
        |k AS (SELECT doc_id, text, length(text) AS len,
        |        substring(text, 1, 64) AS pk
        |      FROM corpus WHERE length(text) >= 64)
        |SELECT a.doc_id AS short_doc, b.doc_id AS long_doc,
        |  a.len AS short_len, b.len AS long_len
        |FROM k a JOIN k b ON a.pk = b.pk AND a.len < b.len
        |WHERE starts_with(b.text, a.text)
        |ORDER BY short_doc, long_doc""".stripMargin,
    "text_chunk" ->
      """WITH s AS (SELECT doc_id, text,
        |    unnest(generate_series(0, CAST(length(text) AS BIGINT) - 1, 150))
        |      AS start
        |  FROM documents WHERE length(text) > 0),
        |c AS (SELECT doc_id, start,
        |        substring(text, CAST(start AS INTEGER) + 1, 200) AS chunk
        |      FROM s)
        |SELECT doc_id, start // 150 AS chunk_id,
        |  CAST(length(chunk) AS BIGINT) AS chunk_chars,
        |  md5(chunk) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "sample_group_holdout" ->
      """WITH g AS (SELECT doc_id, source, text,
        |    (((('0x' || substr(md5(source), 1, 15))::BIGINT
        |      % 1000000007) * 2654435761) % 1000000007) % 100 AS gb
        |  FROM documents)
        |SELECT CASE WHEN gb < 80 THEN 'train'
        |            WHEN gb < 90 THEN 'val' ELSE 'test' END AS part,
        |  COUNT(DISTINCT source) AS n_sources, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(doc_id * doc_id) AS BIGINT) AS id_checksum
        |FROM g GROUP BY 1 ORDER BY part""".stripMargin,
    "split_train_eval" ->
      """SELECT lang, part, COUNT(*) AS n_docs,
        |  CAST(SUM(LEN(STR_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(doc_id * doc_id) AS BIGINT) AS id_checksum
        |FROM (
        |  SELECT lang, text, doc_id,
        |    CASE WHEN (doc_id * 2654435761) % 1000000007 % 100 < 90
        |           THEN 'train'
        |         WHEN (doc_id * 2654435761) % 1000000007 % 100 < 95
        |           THEN 'val' ELSE 'test' END AS part
        |  FROM documents)
        |GROUP BY lang, part ORDER BY lang, part""".stripMargin,
    "text_ppl_bucket" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, UNNEST(STR_SPLIT(text, ' ')) AS tok
        |  FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks),
        |freqs AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok),
        |nll AS (
        |  SELECT doc_id, lang,
        |    ROUND(AVG(-LN(CAST(n_tok AS DOUBLE) / total)), 4) AS nll
        |  FROM toks JOIN freqs USING (tok), tot
        |  GROUP BY doc_id, lang),
        |thr AS (SELECT
        |  ROUND(QUANTILE_CONT(nll, CAST(1 AS DOUBLE) / 3), 4) AS t1,
        |  ROUND(QUANTILE_CONT(nll, CAST(2 AS DOUBLE) / 3), 4) AS t2
        |  FROM nll)
        |SELECT lang,
        |  CASE WHEN nll <= t1 THEN 'head'
        |       WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  COUNT(*) AS n_docs, ROUND(AVG(nll), 4) AS mean_nll
        |FROM nll, thr
        |GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "corpus_interleave" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT ROW_NUMBER() OVER (ORDER BY rn, source, doc_id) AS pos,
        |  doc_id, source
        |FROM r ORDER BY pos""".stripMargin,
    "sample_temperature" ->
      """WITH per AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(LEN(STR_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |               SUM(SQRT(CAST(n_tokens AS DOUBLE))) AS tot_sqrt
        |        FROM per)
        |SELECT lang, n_docs, n_tokens,
        |  n_tokens * 1000000 // tot_tokens AS share_x1e6,
        |  ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / tot_sqrt, 4)
        |    AS samp_weight,
        |  ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * tot_tokens
        |    / (tot_sqrt * n_tokens), 4) AS upsample_x
        |FROM per, tot ORDER BY lang""".stripMargin,
    "text_domain_mix" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(LEN(STR_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(SUBSTRING(source, 4) AS BIGINT) % 4 + 1 AS wt
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |               CAST(SUM(wt) AS BIGINT) AS tot_wt FROM per)
        |SELECT source, n_docs, n_tokens,
        |  n_tokens * 1000000 // tot_tokens AS actual_share_x1e6,
        |  wt * 1000000 // tot_wt AS target_share_x1e6,
        |  LEAST(10000, wt * tot_tokens * 10000 // (tot_wt * n_tokens))
        |    AS sample_rate_x1e4
        |FROM per, tot ORDER BY source""".stripMargin,
    "dedup_incremental" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text FROM documents),
        |idx AS (SELECT DISTINCT SHA256(text) AS h FROM base
        |        WHERE doc_id < 300),
        |batch AS (
        |  SELECT doc_id, lang, SHA256(text) AS h FROM base
        |  WHERE doc_id >= 300
        |  UNION ALL
        |  SELECT doc_id + 500000, lang, SHA256(text) FROM base
        |  WHERE doc_id < 300 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 600000, lang, SHA256(text) FROM base
        |  WHERE doc_id >= 300 AND doc_id % 11 = 0)
        |SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang,
        |  COUNT(*) AS n_in_batch
        |FROM batch WHERE h NOT IN (SELECT h FROM idx)
        |GROUP BY h ORDER BY doc_id""".stripMargin
  )
}
