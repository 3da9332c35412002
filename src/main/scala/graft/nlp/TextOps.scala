package graft.nlp

import graft.{Artifact, QueryGroup, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 group J (text half) — LLM-training-pipeline text ops
  * [NS: BASELINE.json north_star "dedup, text analysis"]: tokenization/TF-IDF/n-grams/corpus stats, four dedup families
  * (exact hash, MinHash+LSH, n-gram Jaccard via inverted index, SimHash),
  * and text analysis (quality scoring, language-ID heuristic, token
  * counting, rolling-hash fingerprinting).
  *
  * Scale design (100 TB):
  *  - Everything is shuffle-friendly DataFrame ops — band-key groupBys,
  *    inverted-index joins, no driver collects, no unbounded crossJoin.
  *  - MinHash+LSH is the scale path for near-dup: candidate generation
  *    is a groupBy on (band, band-hash) — cost scales with true
  *    collisions, not n². The exact-Jaccard verify touches only
  *    candidates. Exact duplicates collapse to one signature row before
  *    banding and buckets are hard-capped at [[TextOps.maxBucket]], so a
  *    boilerplate-heavy corpus (millions of identical pages) cannot
  *    materialize an unbounded bucket row on one executor.
  *  - All randomness is seeded hashing (xxhash64 / LCG / polynomial-mod)
  *    — never rand() — so every result is deterministic and
  *    oracle-checkable.
  *  - Fixture bounding: most pair-producing queries restrict to
  *    doc_id<1000 (where the constructed near-dups live) so the DuckDB
  *    oracle's quadratic check stays cheap; the Spark pipelines
  *    themselves are the scalable form and run unbounded on a cluster.
  *    `dedup_minhash` is UNCAPPED since r13 — its oracle uses the same
  *    collision-proportional posting-join shape as the engine, so the
  *    dual-scale sweep verifies the full corpus at every SF.
  */
object TextOps extends QueryGroup {

  private val M = 1000000007L // prime modulus for portable hashes

  private def docs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  /** Word bigram/trigram shingles (with multiplicity) via ONE
    * codegen'd regex pass: the zero-width lookahead captures a shingle
    * at every token boundary, and `(?:^| )` consumes one char so the
    * scan advances. This replaces an interpreted transform() lambda —
    * higher-order functions don't codegen, and the lambda was the
    * measured hot path of every shingle key (text_repetition 3.1 s →
    * 1.0 s at sf0.1 from this change alone). Fixture text is
    * single-space separated, so the capture set is identical to the
    * element_at formulation the DuckDB oracles keep — the driver diff
    * re-proves the equivalence on every run. */
  private[graft] def bigramsRaw(c: org.apache.spark.sql.Column) =
    regexp_extract_all(c, lit("(?:^| )(?=(\\S+ \\S+))"), lit(1))
  private[graft] def trigramsRaw(c: org.apache.spark.sql.Column) =
    regexp_extract_all(c, lit("(?:^| )(?=(\\S+ \\S+ \\S+))"), lit(1))

  val queries: Map[String, Q] = Map(

    // -------------------------------------------------------- NLP basics

    "nlp_tokenize_tf" -> ((s, d) => {
      docs(s, d).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "term")
    }),

    "nlp_tfidf" -> ((s, d) => {
      // Document frequency needs only each doc's DISTINCT terms, so
      // dedupe per row (array_distinct — map-side, before any shuffle):
      // the term shuffle then carries partial (term, count) rows that
      // collapse to ~vocab size per partition, never the full
      // (doc, term) matrix. The tf side tokenizes only the sampled 1/10
      // docs, so the term join shuffles 10% of the corpus. (The previous
      // formulation persisted the full tf matrix to share it between df
      // and weights — materializing and shuffling the whole corpus that
      // this shape never touches; measured ~2x slower at sf0.1.)
      val dfreq = docs(s, d)
        .select(explode(array_distinct(split(col("text"), " "))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
      val tfSub = docs(s, d).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val n = docs(s, d).agg(count(lit(1)).as("n"))
      tfSub.join(dfreq, "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log((col("n") + 1) / (col("df") + 1)), 4)
            .as("tfidf"))
        .orderBy("doc_id", "term")
    }),

    // Okapi BM25 scoring (k1 = 1.2, b = 0.75) — the lexical-retrieval
    // primitive the inventory was missing (TF-IDF weighs terms; BM25
    // RANKS documents against queries, the scoring function behind
    // every keyword search / hybrid-RAG retrieval stage). Plan is
    // query-term-pruned end to end: postings are filtered to the
    // query vocabulary BEFORE the tf groupBy (only matching-term rows
    // ever shuffle — at 100 TB the corpus is scanned once and the
    // exchange carries query-vocabulary postings, never the full
    // (doc, term) matrix), document frequency is pruned the same way
    // and broadcast, and the corpus stats (N, Σdl) are one scalar
    // aggregate broadcast back (the nlp_tfidf pattern). Scores are
    // emitted UNRANKED (every matching (query, doc) pair, rounded):
    // ranking is a float top-k away, but near-equal scores could
    // rank-flip cross-engine on the last ulp — the scored set is the
    // deterministic contract, per the §5.2 determinism discipline.
    // idf = ln(1 + (N − df + ½)/(df + ½)) (the Lucene form, always
    // positive); ln noise is absorbed by round-4 (tfidf precedent).
    "text_bm25_score" -> ((s, d) => {
      import s.implicits._
      val queryTerms = Seq(
        (0, "table"), (0, "hash"), (0, "join"),
        (1, "sort"), (1, "merge"), (1, "spark"),
        (2, "stream"), (2, "data"), (2, "batch"))
      val vocab = queryTerms.map(_._2).distinct
      val q = queryTerms.toDF("query_id", "term")
      val toks = docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), size(col("t")).as("dl"),
          explode(col("t")).as("term"))
      val tf = toks.filter(col("term").isin(vocab: _*))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfreq = docs(s, d)
        .select(explode(array_distinct(split(col("text"), " ")))
          .as("term"))
        .filter(col("term").isin(vocab: _*))
        .groupBy("term").agg(count(lit(1)).as("df"))
      val st = docs(s, d)
        .select(size(split(col("text"), " ")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))
      val avgdl = col("sumdl").cast("double") / col("n")
      val termScore =
        log(lit(1.0) + (col("n") - col("df") + lit(0.5))
            / (col("df") + lit(0.5))) *
          col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) *
            (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / avgdl))
      tf.join(broadcast(q), "term")
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(st))
        .groupBy("query_id", "doc_id")
        .agg(round(sum(termScore), 4).as("bm25"))
        .orderBy("query_id", "doc_id")
    }),

    "nlp_ngrams" -> ((s, d) => {
      val bi = docs(s, d)
        .withColumn("bigram", explode(bigramsRaw(col("text"))))
        .groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("bigram").asc)
      bi.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("rn"), col("bigram"), col("n"))
        .orderBy("lang", "rn")
    }),

    // PMI collocation mining: which adjacent token pairs co-occur more
    // than their unigram frequencies predict — the association score
    // behind phrase detection (word2vec-style phrasing, collocation
    // dictionaries). Pair counts collapse through ONE shuffle to the
    // vocab²-bounded bigram table; unigram marginals and the corpus
    // total derive from THAT tiny table (checkpointed — consumed four
    // times), so the corpus is scanned exactly once regardless of size.
    "nlp_pmi" -> ((s, d) => {
      val bc = docs(s, d)
        .withColumn("pair", explode(bigramsRaw(col("text"))))
        .select(substring_index(col("pair"), " ", 1).as("w1"),
          substring_index(col("pair"), " ", -1).as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
        .groupBy("w1", "w2").agg(count(lit(1)).as("nab"))
        .localCheckpoint()
      val tot = bc.agg(sum("nab").cast("double").as("tb"))
      val u1 = bc.groupBy(col("w1").as("w"))
        .agg(sum("nab").cast("double").as("nw1"))
      val u2 = bc.groupBy(col("w2").as("w"))
        .agg(sum("nab").cast("double").as("nw2"))
      bc.join(broadcast(u1), col("w1") === u1("w")).drop("w")
        .join(broadcast(u2), col("w2") === u2("w")).drop("w")
        .crossJoin(broadcast(tot))
        .filter(col("nab") >= 20)
        .select(col("w1"), col("w2"), col("nab"),
          round(log((col("nab") / col("tb"))
            / ((col("nw1") / col("tb")) * (col("nw2") / col("tb")))), 4)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(40)
    }),

    // Zipf-law fit over the term-frequency ranking: regress ln(freq)
    // on ln(rank) for the top-100 terms. Term counts are one
    // partial-agg shuffle; the global rank window runs over the
    // vocab-sized aggregate only (never the corpus), and the fit
    // itself is a built-in regr_* aggregate — corpus-shape diagnostics
    // as a 1-row output.
    "text_zipf_fit" -> ((s, d) => {
      val tf = docs(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("f"))
      val w = Window.orderBy(col("f").desc, col("term"))
      tf.withColumn("r", row_number().over(w))
        .filter(col("r") <= 100)
        .agg(round(expr("regr_slope(ln(f), ln(r))"), 4).as("zipf_slope"),
          round(expr("regr_intercept(ln(f), ln(r))"), 4).as("zipf_icpt"),
          count(lit(1)).as("n_terms"))
    }),

    "nlp_lang_stats" -> ((s, d) => {
      docs(s, d).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "source")
    }),

    // ---------------------------------------------------- deduplication

    // exact dedup on content hash over a corpus with constructed
    // duplicates (the fixtures have no exact dups, so re-append every
    // third doc under a shifted id — dedup keeps the lowest id).
    "dedup_exact" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val dups = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      base.union(dups)
        .withColumn("h", sha2(col("text"), 256))
        .groupBy("h")
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy("keeper")
    }),

    // EXACT SUBSTRING dedup (the Lee et al. "Deduplicating Training
    // Data" op): every character position covered by a ≥ 40-char
    // substring that occurs ANYWHERE else in the corpus — at arbitrary
    // offset, which whole-doc dedup (dedup_exact), prefix dedup
    // (dedup_prefix) and fixed-chunk boilerplate (text_boilerplate)
    // all miss. Plan: stride-1 40-char grams hash to 60-bit md5
    // prefixes (the shuffle ships (hash, doc, pos) — 24 B/char, never
    // the text; text_boilerplate's string-grouped oracle certifies
    // this hash trade on the corpus), grams seen ≥ 2× anywhere mark
    // their positions, and a per-doc islands pass (lag + running sum —
    // the per-entity window contract) merges overlapping [pos, pos+39]
    // covers into maximal duplicated spans. Linear in corpus bytes —
    // the production scale notes: the 24×-bytes shuffle is the cost of
    // the distributed-join form (suffix arrays do it in-memory per
    // shard); a stride-s probe side cuts it s× at the price of
    // guaranteed detection only for dups ≥ 40+s chars. A shared
    // banner is injected mid-text into every 11th doc (dedup_prefix
    // precedent) so the fixture exercises the arbitrary-offset case.
    "dedup_substring" -> ((s, d) => {
      val L = 40
      val banner = "this article was automatically generated please " +
        "visit the archive for more information"
      val d2 = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(substring(col("text"), 1, 50), lit(" " + banner + " "),
            expr("substring(text, 51)")))
          .otherwise(col("text")).as("text"))
      val base = d2.withColumn("len", length(col("text")))
      val grams = base.filter(col("len") >= L)
        .withColumn("pos", explode(sequence(lit(1), col("len") - (L - 1))))
        .select(col("doc_id"), col("pos"),
          conv(substring(md5(expr(s"substring(text, pos, $L)")), 1, 15),
            16, 10).cast("long").as("h"))
      val dup = grams.groupBy("h").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select("h")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val spans = grams.join(dup, "h")
        .withColumn("prev", lag(col("pos"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("pos") - col("prev") > L, 1)
            .otherwise(0))
        .withColumn("isl", sum("brk").over(w))
        .groupBy(col("doc_id"), col("isl"))
        .agg((max("pos") - min("pos") + L).as("span_chars"))
      val perDoc = spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum("span_chars").cast("long").as("dup_chars"))
      base.select(col("doc_id"), col("len"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
          round(lit(1.0) - coalesce(col("dup_chars"), lit(0L))
            / col("len"), 4).as("keep_ratio"))
        .orderBy("doc_id")
    }),

    // MinHash + LSH near-dup: exact-text collapse → shingle → 64-perm
    // signature (seeded xxhash64 family) → 16 bands × 4 rows → CAPPED
    // band-bucket groupBy → candidate pairs → exact-Jaccard verify ≥ 0.8
    // → expand back through the duplicate groups. UNCAPPED input (r13):
    // the oracle's posting-list formulation is collision-proportional,
    // so the DuckDB side now verifies the key over the FULL corpus at
    // every SF — the dual-scale sweep sees real corpus growth here.
    //
    // ORACLE-GAP DISCLOSURE (r14, per advisor): the oracle is
    // EXHAUSTIVE ground truth (every shingle-sharing pair with exact
    // Jaccard ≥ 0.8) while LSH banding is probabilistic — a threshold
    // pair misses all 16 bands with probability (1 − J⁴)¹⁶, i.e.
    // ≤ 2.2e-4 at J = 0.8 and falling fast above it (2.6e-7 at 0.9,
    // 0 at 1.0 — and exact dups bypass banding entirely via the
    // dup-group collapse), and a hot band bucket past [[maxBucket]]
    // drops its tail candidates. Today's green is therefore a measured
    // property of this corpus (expected misses ≪ 1 across the fixture's
    // pair set; no bucket near the cap at either SF), not an identity —
    // a future fixture/SF bump can fail the hash compare with NO code
    // change. If that happens it is the banding FN budget showing up,
    // not a bug: either widen the signature (more bands at the same
    // band width tightens (1−J^r)^b) or re-shape the oracle to the
    // banding candidate set. The engine cannot be made exhaustive
    // without giving up LSH's collision-proportional cost — that
    // trade is the entire point of the operator at 100 TB.
    "dedup_minhash" -> ((s, d) =>
      // early repartition BY THE TEXT HASH (r19 spread, re-keyed in
      // r20 per guide §2.4): the corpus arrives as ~3 input splits, so
      // the compute-heavy shingle stage ran 3-wide; one small shuffle
      // of the raw (doc_id, text) rows unlocks full-core shingling,
      // and keying it by sha2(text) lets minhashPairs' fused
      // rep+signature aggregate REUSE this exchange (alias-preserved
      // through the projection) instead of adding its own. Pair SET
      // unchanged (row placement only).
      minhashPairs(shingled(docs(s, d).repartition(
        s.sessionState.conf.numShufflePartitions,
        sha2(col("text"), 256))))),

    // INCREMENTAL MinHash — the crawl reality: yesterday's corpus is
    // already signed; today's batch must find its near-dups against
    // that PERSISTED band index and within itself WITHOUT re-signing
    // the corpus. The index is dedup_incremental's discipline applied
    // to dedup_minhash's banding: (doc_id, band, band_hash) rows over
    // the history's distinct-text REPRESENTATIVES plus the (doc, rep)
    // group map, built once per fixture and read back from disk (at
    // 100 TB: 16 fixed-width rows per distinct doc, appended per
    // crawl). Per batch the work is: shingle+sign the BATCH only, one
    // bucket join against the index (cross candidates) + one batch
    // self-bucket-join (in-batch candidates), exact-Jaccard verify of
    // the collision-proportional candidate set — history shingles are
    // re-read ONLY for candidate representatives (semi-join pruned),
    // never the corpus. Identical-text copies collapse to reps on both
    // sides; verified rep pairs expand back through the group maps and
    // within-batch-group pairs emit at Jaccard 1.0 — the minhashPairs
    // contract. Oracled by the agg_incremental_merge proof shape:
    // output == the full-corpus exhaustive ground truth restricted to
    // pairs touching the batch (doc_b >= 300; pure-history pairs were
    // yesterday's answer), with the same (1−J⁴)¹⁶ FN budget the main
    // key discloses.
    "dedup_minhash_incremental" -> ((s, d) => {
      val all = docs(s, d)
      val (hBands, hGroups) = minhashHistIndex(s, d)
      val (pairs, _, _) = incMinhashRound(
        all.filter(col("doc_id") < 300), hBands, hGroups,
        shingled(all.filter(col("doc_id") >= 300)))
      pairs.orderBy("doc_a", "doc_b")
    }),

    // STREAMING crawl dedup — the incremental MinHash machinery running
    // where it runs in production: under Structured Streaming, one
    // micro-batch per crawl drop. The feed stages the batch half of the
    // corpus as THREE parquet files read with maxFilesPerTrigger=1, so
    // detection genuinely executes three times against a GROWING index:
    // each foreachBatch signs only its micro-batch, bucket-joins the
    // persisted index (history reps + every previously streamed
    // micro-batch's reps), verifies by exact Jaccard, then APPENDS the
    // verified pairs to the result and the micro-batch's bands+groups
    // to the index. Pair completeness is split-invariant: an unordered
    // near-dup pair is detected exactly once — within one micro-batch
    // (self-join) or when its later endpoint arrives (index join, with
    // group expansion through the accumulated maps) — so the final
    // pair SET equals the batch key's, and the oracle IS the same
    // exhaustive law (every J ≥ 0.8 pair with doc_b ≥ 300),
    // indifferent to how the stream was chopped. At 100 TB this is the
    // crawl pipeline itself: the index grows 16 fixed-width rows per
    // distinct doc per drop, and each drop pays collision-proportional
    // joins only — the corpus is never re-signed.
    "stream_dedup_minhash" -> ((s, d) => {
      val all = docs(s, d)
      val (hBands, hGroups) = minhashHistIndex(s, d)
      val run = Tables.scratch(d, "mh_stream_run")
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(run)): Unit
      val feed = s"$run/feed"
      // hash split, not repartitionByRange: range needs a SAMPLING
      // pass over the corpus (a second full text scan) just to pick
      // boundaries, and split invariance makes the chop irrelevant —
      // any deterministic 3-way split is a valid crawl-drop fixture
      all.filter(col("doc_id") >= 300).select("doc_id", "text")
        .repartition(3, col("doc_id"))
        .write.parquet(feed)
      val idxB = s"$run/bands"
      val idxG = s"$run/groups"
      // Cross-batch index handle: each round joins the ACCUMULATED
      // in-memory index — the scratch history materialized once plus
      // each round's already-localCheckpointed appends unioned in —
      // instead of re-listing and re-scanning a growing parquet dir
      // per micro-batch (that per-drop re-read plus the seed-copy
      // writes made this the bench's single biggest line item: 8.15 s,
      // VERDICT r16). Durability is unchanged: the persisted view is
      // the scratch history dir + the per-drop appends under idxB/idxG
      // below; a restarted query rebuilds the handle from those.
      var accBands = hBands.coalesce(1).localCheckpoint()
      var accGroups = hGroups.coalesce(1).localCheckpoint()
      var accPairs: DataFrame = null // per-round outputs are already
      // localCheckpointed by incMinhashRound — accumulating the result
      // in memory costs zero extra jobs, vs a write+read-back per drop
      val corpusDocs = all // candidate-rep shingle source: history AND
      // previously streamed docs (raw text; shingled post-prune)
      val stream = s.readStream.schema(s.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      val q = stream.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$run/cp")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val (pairs, bBands, bGroups) =
            incMinhashRound(corpusDocs, accBands, accGroups, shingled(b))
          bBands.write.mode("append").parquet(idxB)
          bGroups.write.mode("append").parquet(idxG)
          accBands = accBands.union(bBands)
          accGroups = accGroups.union(bGroups)
          accPairs = if (accPairs == null) pairs else accPairs.union(pairs)
          ()
        }
        .start()
      q.awaitTermination()
      // zero micro-batches (an empty feed variant) must yield an empty
      // result, not an NPE on the never-assigned accumulator
      if (accPairs == null)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_a",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("doc_b",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("jaccard",
              org.apache.spark.sql.types.DoubleType))))
      else accPairs.orderBy("doc_a", "doc_b")
    }),

    // exact n-gram Jaccard dedup via the scalable inverted-index plan:
    // |A∩B| falls directly out of the posting-list self-join as a
    // groupBy count — no set arrays ever shuffle, so the heavy exchange
    // carries only (doc_a, doc_b) pairs. Sizes join in afterwards. The
    // sort exists only for the oracle compare; component consumers
    // ([[CorpusOps]] clusters/keep-list) take [[ngramJaccardPairs]]
    // unsorted — a range exchange buys nothing before a groupBy.
    "dedup_ngram_jaccard" -> ((s, d) =>
      ngramJaccardPairs(docs(s, d).filter(col("doc_id") < 1000))
        .orderBy("doc_a", "doc_b")),

    // Asymmetric shingle CONTAINMENT — catches subset duplication that
    // Jaccard misses: a short doc fully embedded in a long one scores
    // inter/|short| ≈ 1 but low Jaccard (the union is dominated by the
    // long side). Same collision-proportional inverted-index posting
    // join as dedup_ngram_jaccard; only the normalization differs, so
    // the candidate generation cost is identical at 100 TB.
    "dedup_shingle_containment" -> ((s, d) => {
      // the interpreted shingle lambda is the hot path and sub feeds
      // both self-join sides — persist so it runs once (the
      // dedup_fuzzy_pairs discipline; measured 5.2 s → ~2 s at sf0.1)
      val sub = docs(s, d).filter(col("doc_id") < 1000)
        .withColumn("sh", array_distinct(bigramsRaw(col("text"))))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), col("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // pinned posting-join parallelism — the ngramJaccardPairs
      // cheap-bytes/heavy-stage AQE-coalesce fix (guide §2.5). Set
      // sizes ride the posting rows (r20, the ngramJaccardPairs move):
      // min(n) inside the pair aggregate replaces both size-lookup
      // joins.
      val inv = sub.select(col("doc_id"), explode(col("sh")).as("g"),
          size(col("sh")).as("n"))
        .repartition(sub.sparkSession.sessionState.conf
          .numShufflePartitions, col("g"))
      val inter = inv.as("x").join(inv.as("y"), col("x.g") === col("y.g"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"), min(col("x.n")).as("na"),
          min(col("y.n")).as("nb"))
      inter
        .filter(greatest(col("inter") / col("na"),
          col("inter") / col("nb")) >= 0.8)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("inter") / col("na"), 4).as("c_in_a"),
          round(col("inter") / col("nb"), 4).as("c_in_b"))
        .orderBy("doc_a", "doc_b")
    }),

    // fuzzy dedup verification: edit distance over candidate pairs only
    // (candidates from the bigram inverted index — never all-pairs; the
    // O(len²) levenshtein touches ~25 pairs, not 500k).
    "dedup_fuzzy_pairs" -> ((s, d) => {
      // shingle pass feeds the index and both text lookups — persist.
      val sub = docs(s, d).filter(col("doc_id") < 500)
        .withColumn("sh", array_distinct(bigramsRaw(col("text"))))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), col("text"), col("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // set sizes ride the posting rows (r20, the ngramJaccardPairs
      // move): min(n) in the pair aggregate replaces both size joins
      val inv = sub.select(col("doc_id"), explode(col("sh")).as("g"),
        size(col("sh")).as("n"))
      val inter = inv.as("x").join(inv.as("y"), col("x.g") === col("y.g"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"), min(col("x.n")).as("na"),
          min(col("y.n")).as("nb"))
      val cand = inter
        .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= 0.5)
      val out = cand
        .join(sub.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(sub.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        .withColumn("edit_dist", levenshtein(col("ta"), col("tb")))
        .withColumn("sim_x1e4", expr(
          "10000 - (edit_dist * 10000) div greatest(length(ta), length(tb))"))
        .select(col("doc_a"), col("doc_b"), col("edit_dist"), col("sim_x1e4"))
        .orderBy("doc_a", "doc_b")
        .localCheckpoint()
      sub.unpersist(blocking = false)
      out
    }),

    // 60-bit SimHash (±1 vote per token bit, sign → bit). The per-token
    // hash is the repo's PORTABLE md5-prefix family (15 hex digits =
    // 60 bits, fits signed 64), not engine-internal xxhash64 — so the
    // DuckDB oracle replays every signature bit-for-bit, and SimHashSpec
    // keeps the Hamming-separation law on top. Hashes are computed ONCE
    // per token (transform), then the 60 bit-votes reuse them: the hot
    // loop is shifts and adds, not repeated md5. Zero shuffle.
    "dedup_simhash" -> ((s, d) => {
      val sub = docs(s, d).filter(col("doc_id") < 1000)
        .withColumn("hs", expr(
          """transform(array_distinct(split(text, ' ')),
            |  t -> cast(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"""
            .stripMargin))
      val sim = sub.withColumn("simhash", expr(
        """aggregate(sequence(0, 59),
          |  0L,
          |  (acc, k) -> acc + if(
          |    aggregate(hs,
          |      0L,
          |      (s, h) -> s + if(((h >> k) & 1) = 1, 1L, -1L)) >= 0,
          |    shiftleft(1L, k), 0L))""".stripMargin))
      sim.select(col("doc_id"), col("simhash"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------- text analysis

    "text_quality" -> ((s, d) => {
      docs(s, d)
        .withColumn("tokens", split(col("text"), " "))
        .withColumn("total_len", expr(
          "aggregate(tokens, 0L, (acc, x) -> acc + length(x))"))
        .withColumn("n_stop", expr(
          """size(filter(tokens,
            |  x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))""".stripMargin))
        .select(col("doc_id"),
          size(col("tokens")).as("n_tokens"),
          col("total_len"),
          expr("(total_len * 10000) div size(tokens)").as("avg_len_x1e4"),
          expr("(n_stop * 10000) div size(tokens)").as("stop_x1e4"),
          (size(col("tokens")) >= 20 && col("total_len") >= 100)
            .as("quality_ok"))
        .orderBy("doc_id")
    }),

    // language-ID heuristic: marker-token hit counts, argmax with a
    // fixed tie order — deterministic and SQL-expressible.
    "text_langid" -> ((s, d) => {
      docs(s, d)
        .withColumn("tokens", split(col("text"), " "))
        .withColumn("s_en", expr("size(filter(tokens, x -> x = 'the'))"))
        .withColumn("s_sql", expr(
          "size(filter(tokens, x -> x = 'table' OR x = 'scan'))"))
        .withColumn("s_ops", expr(
          "size(filter(tokens, x -> x = 'sort' OR x = 'merge'))"))
        .select(col("doc_id"), col("lang"), col("s_en"), col("s_sql"),
          col("s_ops"),
          when(col("s_en") >= col("s_sql") && col("s_en") >= col("s_ops"), "en")
            .when(col("s_sql") >= col("s_ops"), "sql")
            .otherwise("ops").as("predicted"))
        .orderBy("doc_id")
    }),

    // QUALITY-CLASSIFIER INFERENCE (the fastText/DCLM-style learned
    // filter, the step after the rule gates text_quality/gopher): a
    // 64-bucket hashed bag-of-words linear model scored per document.
    // The model is tiny and fixed-width by construction (feature
    // HASHING bounds it regardless of vocabulary), so it compiles into
    // the expression as a literal weight array — the degenerate
    // broadcast join; at 100 TB real trained weights ship the same way
    // (a broadcast array/map) and the scoring stays a per-partition
    // codegen'd fold: ZERO shuffles, text never leaves its partition.
    // Weights are deterministic integers ((k*37)%21-10 ∈ [-10,10]) and
    // the token hash is the repo's portable md5-prefix family, so the
    // DuckDB oracle replays every score exactly; the keep verdict is a
    // multiplication compare (score*5 ≥ n_tokens ⇔ mean weight ≥ 0.2),
    // no integer division — truncation direction never matters.
    "text_classifier_score" -> ((s, d) => {
      val wArr = (0 until 64).map(k => (k * 37) % 21 - 10)
        .mkString("array(", "L, ", "L)")
      docs(s, d)
        .withColumn("tokens", split(col("text"), " "))
        .withColumn("score_sum", expr(
          s"""aggregate(tokens, 0L, (acc, t) -> acc + element_at($wArr,
             |  cast(pmod(cast(conv(substring(md5(t), 1, 15), 16, 10)
             |    AS BIGINT), 64) AS INT) + 1))""".stripMargin))
        .select(col("doc_id"),
          size(col("tokens")).as("n_tokens"),
          col("score_sum"),
          (col("score_sum") * 5 >= size(col("tokens"))).as("keep"))
        .orderBy("doc_id")
    }),

    // whitespace tokens + a BPE-ish subword estimate (4-char chunks).
    "text_tokens" -> ((s, d) => {
      docs(s, d)
        .withColumn("tokens", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("tokens")).as("n_ws_tokens"),
          expr("aggregate(tokens, 0L, (acc, x) -> acc + ((length(x) + 3) div 4))")
            .as("n_subwords"),
          size(array_distinct(col("tokens"))).as("n_distinct"))
        .orderBy("doc_id")
    }),

    // polynomial rolling hash over characters, mod a prime — portable
    // across engines (same fold order, no 64-bit overflow).
    "text_fingerprint" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"), expr(
          s"""aggregate(transform(split(text, ''), c -> cast(ascii(c) AS BIGINT)),
             |  0L, (acc, c) -> (acc * 31 + c) % $M)""".stripMargin)
          .as("fingerprint"))
        .orderBy("doc_id")
    })
  )

  /** Band buckets are truncated to this many distinct-text
    * representatives. Exact duplicates can't inflate a bucket (they
    * collapse to one signature row first), so only adversarial
    * near-identical boilerplate hits the cap — those candidates are
    * dropped (bounded recall loss) instead of materializing an unbounded
    * collect_set row on one executor. */
  val maxBucket = 100

  /** (doc_id, text) rows → (doc_id, text, sh) with the distinct word
    * trigram shingle set; docs too short to shingle drop out. */
  def shingled(in: DataFrame): DataFrame =
    in.withColumn("sh", array_distinct(trigramsRaw(col("text"))))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("text"), col("sh"))

  /** Bigram-Jaccard near-dup pairs (jaccard ≥ 0.5) over (doc_id, text)
    * rows, UNSORTED — the form the component/keep-list consumers take
    * (they feed a groupBy, where a prior range exchange buys nothing;
    * the oracled query adds the orderBy itself). Eager: the bigram sets
    * feed the inverted index (self-joined) and two size lookups —
    * persisted for the build, released after the (small) verified pair
    * set materializes. */
  def ngramJaccardPairs(in: DataFrame): DataFrame = {
    val sets = in
      .withColumn("sh", array_distinct(bigramsRaw(col("text"))))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // explicit repartition (r19 opt, guide §2.5): the posting list is
    // small in BYTES but the bucket self-join is the compute-heavy
    // stage — AQE coalesces the advisory exchange to ~1 task and
    // serializes it (measured 1.45 s single-task stage at sf0.1,
    // parallel once pinned). Both sides share the partitioning, so the
    // join adds no further exchange.
    // the set SIZE rides on every posting row (r20 opt, guide §1.2):
    // the two post-aggregation size-lookup joins each cost a broadcast
    // build plus a scan of the cached sets — min(n) inside the pair
    // aggregate reads the same value for free (n is constant within a
    // (doc_a, doc_b) group by construction). One int per posting row
    // is the textbook price for dropping two joins.
    val inv = sets.select(col("doc_id"), explode(col("sh")).as("g"),
        size(col("sh")).as("n"))
      .repartition(sets.sparkSession.sessionState.conf
        .numShufflePartitions, col("g"))
    val inter = inv.as("x").join(inv.as("y"), col("x.g") === col("y.g"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"), min(col("x.n")).as("na"),
        min(col("y.n")).as("nb"))
    val out = inter
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .localCheckpoint()
    sets.unpersist(blocking = false)
    out
  }

  /** Exact-duplicate collapse: one representative (min doc_id) per
    * distinct text. Only narrow (doc_id, sha256) pairs shuffle — the
    * text/shingle arrays stay in place. Returns (doc_id, rep). */
  def dupGroups(sub: DataFrame): DataFrame = {
    val hashes = sub.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val groups = hashes.groupBy("h").agg(min(col("doc_id")).as("rep"))
    hashes.join(groups, "h").select(col("doc_id"), col("rep"))
  }

  /** Pure plan: (band, band_hash, doc_id) rows for the distinct-text
    * representatives of `sub`, given the (doc_id, rep) map. The
    * signature is 64 codegen'd min-aggregates over the exploded shingle
    * postings — one shuffle keyed by doc_id; bands carry only (band,
    * hash, doc_id), never the shingle arrays. (Measured: a shuffle-free
    * per-row transform/array_min formulation is 2× slower — interpreted
    * higher-order lambdas lose to codegen'd min-aggs.) */
  private def bandsFrom(sub: DataFrame, members: DataFrame): DataFrame =
    bandsOf(sub.join(
      members.filter(col("doc_id") === col("rep")).select("doc_id"),
      "doc_id"))

  /** Pure plan: (doc_id, band, band_hash) LSH banding for EVERY row of
    * `reps` ((doc_id, ..., sh) rows) — the per-doc core of
    * [[bandsFrom]], also consumed directly by the incremental index
    * build (which bands each side's representatives itself). */
  /** The persisted history half of the incremental MinHash index:
    * (doc_id, band, band_hash) rows over the <300 corpus's
    * distinct-text representatives plus the (doc, rep) group map —
    * built once per fixture, read back from disk (at 100 TB: 16
    * fixed-width rows per distinct doc, appended per crawl). */
  private[graft] def minhashHistIndex(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val dir = minhashHist.get(d) { out =>
      val hist = shingled(docs(s, d).filter(col("doc_id") < 300))
      val hg = dupGroups(hist)
      hg.write.parquet(s"$out/groups")
      bandsOf(hist.join(hg.filter(col("doc_id") === col("rep"))
        .select("doc_id"), "doc_id"))
        .write.parquet(s"$out/bands")
    }
    (s.read.parquet(s"$dir/bands"), s.read.parquet(s"$dir/groups"))
  }

  /** [[minhashHistIndex]]'s `bands/` and `groups/` dirs. */
  val minhashHist = Artifact("mh_inc", "documents")

  /** One incremental near-dup detection round — the
    * dedup_minhash_incremental machinery, factored so the streaming
    * crawl key replays it per micro-batch: sign ONLY the batch,
    * bucket-join the persisted band index (cross candidates) and
    * itself (in-batch candidates), verify the collision-proportional
    * candidate set by exact Jaccard — index-side shingles recomputed
    * only for candidate reps: `corpusDocs` is RAW (doc_id, text) rows
    * and the candidate-id join runs BEFORE the shingle projection, so
    * the interpreted trigram lambda touches candidates only (the prior
    * contract took a pre-shingled frame, whose size(sh)>0 filter
    * forced the lambda over the whole corpus on every round — ~2× of
    * each round's cost at sf0.1). Verified rep pairs expand through
    * BOTH group maps;
    * within-batch-group pairs emit at Jaccard 1.0. Pair orientation is
    * least/greatest (under streaming both endpoints can be stream docs
    * in either arrival order; for the batch split hist<300 ≤ batch it
    * is the identity). Returns (pairs, batch rep bands, batch groups)
    * — the latter two are what an index APPEND persists, all three
    * eagerly materialized so callers may persist/unpersist freely. */
  private[graft] def incMinhashRound(corpusDocs: DataFrame,
      hBands: DataFrame, hGroups: DataFrame, batchSh: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // FUSED batch rep+signature pass (r20 opt, mirrors minhashPairs):
    // the per-batch dupGroups groupBy + rep-filter join + per-rep
    // signature aggregate collapse into one sha2(text)-keyed aggregate
    // — bit-identical bands/groups, two fewer exchanges per round
    // (this runs once per micro-batch in the streaming key). The
    // cached frame carries (doc_id, h, sh): the text column is
    // projected away before the cache (guide §2.3).
    val batch = batchSh
      .withColumn("h", sha2(col("text"), 256))
      .select(col("doc_id"), col("h"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repSig = sigByText(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bGroups = membersFrom(batch, repSig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBands = bandsFromSig(repSig)
    val cross = bBands.as("b").join(hBands.as("h"),
        Seq("band", "band_hash"))
      .select(col("h.doc_id").as("ra"), col("b.doc_id").as("rb"))
      .distinct()
    val inb = bBands.as("x").join(bBands.as("y"),
        Seq("band", "band_hash"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ra"), col("y.doc_id").as("rb"))
      .distinct()
    val bSh = batch.select(col("doc_id"), col("sh"))
    // index-side shingles: recomputed ONLY for candidate reps — the
    // candidate-id join lands before the shingle projection by
    // construction, so the lambda cost is collision-proportional.
    // broadcast() is explicit because the candidate ids derive from
    // localCheckpointed index frames whose size the planner cannot
    // estimate — without the hint it falls back to a sort-merge join
    // that SHUFFLES the corpus text (measured 3.6x growth at 10 docs
    // under local[32]); the id set is collision-proportional KiB by
    // design, the textbook broadcast side
    val hShCand = shingled(corpusDocs.join(
        broadcast(cross.select(col("ra").as("doc_id")).distinct()),
        "doc_id"))
      .select(col("doc_id").as("ra"), col("sh").as("sha"))
    def verified(pairs: DataFrame, shA: DataFrame): DataFrame =
      pairs
        .join(shA, "ra")
        .join(bSh.select(col("doc_id").as("rb"), col("sh").as("shb")),
          "rb")
        .withColumn("inter",
          size(array_intersect(col("sha"), col("shb"))))
        .withColumn("jaccard", round(col("inter") /
          (size(col("sha")) + size(col("shb")) - col("inter")), 4))
        .filter(col("jaccard") >= 0.8)
        .select(col("ra"), col("rb"), col("jaccard"))
    val vCross = verified(cross, hShCand)
    val vInb = verified(inb,
      bSh.select(col("doc_id").as("ra"), col("sh").as("sha")))
    // expansion: identical text ⇒ the member pair's Jaccard IS the
    // representative pair's — no shingles touched again
    val crossPairs = vCross
      .join(hGroups.select(col("rep").as("ra"), col("doc_id").as("ma")),
        "ra")
      .join(bGroups.select(col("rep").as("rb"), col("doc_id").as("mb")),
        "rb")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
    val inbPairs = vInb
      .join(bGroups.select(col("rep").as("ra"), col("doc_id").as("ma")),
        "ra")
      .join(bGroups.select(col("rep").as("rb"), col("doc_id").as("mb")),
        "rb")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
    val withinGroup = bGroups.as("p").join(bGroups.as("q"),
        col("p.rep") === col("q.rep") &&
          col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    // coalesce(1) before each checkpoint: these are KiB-scale frames,
    // and under local[32] every materialization/union otherwise carries
    // 32 near-empty partitions whose task-scheduling floor dominates
    // the streaming key (measured 2x of its whole budget)
    val out = crossPairs.union(inbPairs).union(withinGroup)
      .coalesce(1).localCheckpoint()
    val outBands = bBands.coalesce(1).localCheckpoint()
    val outGroups = bGroups.coalesce(1).localCheckpoint()
    batch.unpersist(blocking = false)
    bGroups.unpersist(blocking = false)
    repSig.unpersist(blocking = false)
    (out, outBands, outGroups)
  }

  /** Carter-Wegman permutation family: ONE string hash reduced mod a
    * 31-bit prime, 64 affine transforms (a_p·h + b_p) mod P with
    * fixed per-permutation constants. a_p·h reaches (P−1)² ≈ 2⁶² —
    * under the signed-64 line but with NO headroom to widen P (ANSI
    * mode throws on overflow; a 33-bit prime would silently need
    * 2⁶⁶). Hashing the shingle STRING 64× was the measured hot path;
    * one hash + 64 codegen'd mul-adds keep pairwise independence
    * across permutations (an h-collision corrupts all 64 — ~2⁻³¹
    * noise for banding recall, which the oracle's exact-Jaccard pair
    * diff re-proves on every run anyway). Shared by [[bandsOf]] and
    * the fused [[minhashPairs]] aggregate so both paths sign with
    * bit-identical expressions. */
  private val MinhashP = 2147483647L
  private def cwConst(p: Int, mix: Long): Long =
    java.lang.Long.remainderUnsigned(mix * (p + 1), MinhashP - 1) + 1
  private def minhashMinAggs: Seq[org.apache.spark.sql.Column] =
    (0 until 64).map { p =>
      val a = cwConst(p, 0x9E3779B97F4A7C15L)
      val b = cwConst(p, 0xC2B2AE3D27D4EB4FL)
      min(pmod(lit(a) * col("h1") + lit(b), lit(MinhashP))).as(s"m$p")
    }
  private def sigArray: org.apache.spark.sql.Column =
    array((0 until 64).map(p => col(s"m$p")): _*)
  private val bandsOfSig =
    """transform(sequence(0, 15),
      |  b -> hash(slice(sig, b * 4 + 1, 4)))""".stripMargin

  private[nlp] def bandsOf(reps: DataFrame): DataFrame = {
    val exploded = reps.select(col("doc_id"), explode(col("sh")).as("t"))
      .withColumn("h1", pmod(xxhash64(col("t")), lit(MinhashP)))
    val minAggs = minhashMinAggs
    val sig = exploded.groupBy("doc_id")
      .agg(minAggs.head, minAggs.tail: _*)
      .withColumn("sig", sigArray)
      .select(col("doc_id"), col("sig"))
    sig.select(col("doc_id"),
      posexplode(expr(bandsOfSig)).as(Seq("band", "band_hash")))
  }

  /** Pure plan: capped collision buckets from a bands DataFrame.
    * Two-phase cap: count buckets first (map-side combined — only
    * partial counts shuffle), then route ONLY collision buckets
    * (count > 1) through the row_number cap + collect. The window sort
    * touches the collision subset, not all n×16 band rows, and no
    * aggregation buffer can exceed maxBucket ids. Singleton buckets
    * produce no candidates and are dropped here. */
  private def cappedBuckets(bands: DataFrame): DataFrame = {
    val counts = bands.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select(col("band").as("cb"), col("band_hash").as("cbh"))
    val collisions = bands.join(counts,
      col("band") === col("cb") && col("band_hash") === col("cbh"),
      "left_semi")
    val wB = Window.partitionBy(col("band"), col("band_hash"))
      .orderBy(col("doc_id"))
    collisions
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= maxBucket)
      .groupBy(col("band"), col("band_hash"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
  }

  /** LSH collision buckets (size > 1) over the distinct-text
    * representatives of `sub` ((doc_id, text, sh) rows): (band,
    * band_hash, ids) with ids capped at [[maxBucket]] per bucket — the
    * 100 TB boilerplate-corpus guard. Eager: the bands table (read
    * twice — bucket counts, then the capped collect) is persisted for
    * the computation and released before returning; the returned
    * collision buckets are materialized (small: true collisions only). */
  def minhashBuckets(sub: DataFrame): DataFrame =
    minhashBuckets(sub, dupGroups(sub))

  private def minhashBuckets(sub: DataFrame, members: DataFrame): DataFrame = {
    val bands = bandsFrom(sub, members)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = cappedBuckets(bands).localCheckpoint()
    bands.unpersist(blocking = false)
    out
  }

  /** Full MinHash+LSH near-dup pair set (Jaccard ≥ 0.8) over `sub`
    * ((doc_id, text, sh) rows). Candidate generation runs over one
    * representative per distinct text; verified representative pairs are
    * expanded back through the duplicate groups (identical text ⇒
    * Jaccard is exactly the representative pair's), and within-group
    * pairs are emitted at Jaccard 1.0 without touching the shingles.
    *
    * Contract note: the PAIR output is what the oracle checks; it is
    * inherently quadratic in duplicate-group size (g copies ⇒ g(g-1)/2
    * rows — output size, not a plan defect: the expansion is a join, so
    * it streams). A production 100 TB dedup job would stop one stage
    * earlier and emit (doc_id, rep) keep/drop decisions, which
    * [[dupGroups]] already provides. */
  def minhashPairs(sub0: DataFrame): DataFrame = {
    // FUSED rep + signature pass (r20 opt, guide §2.4): dupGroups'
    // groupBy(h), the rep-filter join, and the per-rep 64-min
    // signature aggregate used to cost three exchanges; they collapse
    // into ONE hash aggregate keyed by the text hash, because
    // min(doc_id) per h IS the dup-group representative and a
    // duplicate text's distinct-shingle set equals its
    // representative's — so the 64 permutation minima grouped by h
    // are bit-identical to the per-rep signature. When the caller
    // pre-partitions by sha2(text) (the dedup_minhash key does), the
    // alias-preserving projection lets this aggregate reuse that
    // exchange and add NO shuffle of its own.
    // Lifecycle unchanged: the final pair set (small — true near-dups
    // only) is materialized before returning and every corpus-sized
    // cache is unpersisted (CacheLifecycleSpec asserts an empty
    // CacheManager).
    val withH = sub0
      .withColumn("h", sha2(col("text"), 256))
      .select(col("doc_id"), col("h"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repSig = sigByText(withH)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // members is referenced four times downstream (two expansion joins
    // + the within-group self-join) — persisted so each reference is a
    // cached read, not its own broadcast-build job
    val members = membersFrom(withH, repSig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = pairsFrom(withH, members, cappedBuckets(bandsFromSig(repSig))
        .localCheckpoint())
      .localCheckpoint()
    withH.unpersist(blocking = false)
    repSig.unpersist(blocking = false)
    members.unpersist(blocking = false)
    out
  }

  /** The fused (h → rep, sig) aggregate of [[minhashPairs]]: one
    * shuffle computes the dup-group representative AND the 64-perm
    * signature per distinct text. */
  private def sigByText(withH: DataFrame): DataFrame = {
    val exploded = withH
      .select(col("h"), col("doc_id"), explode(col("sh")).as("t"))
      .withColumn("h1", pmod(xxhash64(col("t")), lit(MinhashP)))
    exploded.groupBy("h")
      .agg(min(col("doc_id")).as("rep"), minhashMinAggs: _*)
      .withColumn("sig", sigArray)
      .select(col("h"), col("rep"), col("sig"))
  }

  /** (doc_id, rep) map from the fused aggregate — the dupGroups
    * contract, derived by a broadcast join against the KiB-scale
    * per-distinct-text table instead of a second groupBy+join. */
  private def membersFrom(withH: DataFrame, repSig: DataFrame): DataFrame =
    withH.select(col("doc_id"), col("h"))
      .join(broadcast(repSig.select(col("h"), col("rep"))), "h")
      .select(col("doc_id"), col("rep"))

  /** Representative bands from the fused aggregate: pure posexplode —
    * no shuffle (repSig already holds one row per distinct text). */
  private def bandsFromSig(repSig: DataFrame): DataFrame =
    repSig.select(col("rep").as("doc_id"),
      posexplode(expr(bandsOfSig)).as(Seq("band", "band_hash")))

  /** Full pair pipeline as one lazy plan — no persist/localCheckpoint, so
    * shared subtrees recompute per reference. Used by PlanDump for
    * full-plan evidence; execution goes through [[minhashPairs]]. */
  def minhashPairsPlan(sub: DataFrame): DataFrame = {
    val withH = sub.withColumn("h", sha2(col("text"), 256))
      .select(col("doc_id"), col("h"), col("sh"))
    val repSig = sigByText(withH)
    pairsFrom(withH, membersFrom(withH, repSig),
      cappedBuckets(bandsFromSig(repSig)))
  }

  /** Pure plan: verified + expanded near-dup pairs from the shingled
    * corpus, its dup-group map, and the capped collision buckets. */
  private def pairsFrom(sub: DataFrame, members: DataFrame,
      buckets: DataFrame): DataFrame = {
    // bucket-local pair expansion: dup buckets are tiny post-collapse —
    // cost scales with true collisions; the signature subtree runs once.
    val cand = buckets
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(slice(ids, i + 1, size(ids) - i),
          |       j -> struct(element_at(ids, i) AS a, j AS b))))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
    val shOnly = sub.select(col("doc_id"), col("sh"))
    val repPairs = cand
      .join(shOnly.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shOnly.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"),
        col("jaccard"))
    val crossPairs = repPairs
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("da")),
        "rep_a")
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("db")),
        "rep_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val withinPairs = members.as("m1")
      .join(members.as("m2"), col("m1.rep") === col("m2.rep") &&
        col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("doc_a"), col("m2.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    crossPairs.union(withinPairs)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val oracles: Map[String, String] = Map(
    // bit-for-bit signature replay: same distinct-token set, same
    // md5-prefix hash, same ±1 vote per bit, same sign convention.
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok
        |  FROM (SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS tok
        |        FROM documents WHERE doc_id < 1000)),
        |hs AS (
        |  SELECT doc_id, ('0x' || SUBSTR(MD5(tok), 1, 15))::BIGINT AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, k,
        |    SUM(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hs, GENERATE_SERIES(0, 59) AS g(k)
        |  GROUP BY doc_id, k)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN v >= 0 THEN (1::BIGINT << k) ELSE 0 END)
        |    AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "nlp_tokenize_tf" ->
      """SELECT doc_id, term, COUNT(*) AS tf
        |FROM (SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS term
        |      FROM documents WHERE doc_id % 5 = 0)
        |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin,
    // BM25 replay: same formula with operand order mirrored textually;
    // the ln and the ≤3-term double sum are absorbed by round-4
    "text_bm25_score" ->
      """WITH q(query_id, term) AS (VALUES
        |    (0, 'table'), (0, 'hash'), (0, 'join'),
        |    (1, 'sort'), (1, 'merge'), (1, 'spark'),
        |    (2, 'stream'), (2, 'data'), (2, 'batch')),
        |toks AS (SELECT doc_id, LEN(t) AS dl, UNNEST(t) AS term
        |         FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t
        |               FROM documents)),
        |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |       GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, COUNT(*) AS df
        |          FROM (SELECT doc_id,
        |                  UNNEST(LIST_DISTINCT(STR_SPLIT(text, ' ')))
        |                    AS term
        |                FROM documents)
        |          GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n,
        |         CAST(SUM(LEN(STR_SPLIT(text, ' '))) AS BIGINT) AS sumdl
        |       FROM documents)
        |SELECT query_id, doc_id,
        |  ROUND(SUM(LN(1.0 + (n - df + 0.5) / (df + 0.5))
        |    * tf * 2.2 /
        |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl
        |      / (CAST(sumdl AS DOUBLE) / n)))), 4) AS bm25
        |FROM tf JOIN q USING (term) JOIN dfreq USING (term), st
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "nlp_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.term,
        | ROUND(tf.tf * LN((n.n + 1) / (dfreq.df + 1.0)), 4) AS tfidf
        |FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
        |WHERE tf.doc_id % 10 = 0
        |ORDER BY tf.doc_id, tf.term""".stripMargin,
    "nlp_ngrams" ->
      """SELECT lang, rn, bigram, n FROM (
        |  SELECT lang, bigram, n,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n DESC, bigram ASC) AS rn
        |  FROM (SELECT lang, bigram, COUNT(*) AS n
        |        FROM (SELECT lang, UNNEST(LIST_TRANSFORM(
        |            GENERATE_SERIES(1, GREATEST(LEN(STR_SPLIT(text,' ')) - 1, 0)),
        |            i -> STR_SPLIT(text,' ')[i] || ' ' || STR_SPLIT(text,' ')[i+1]))
        |            AS bigram
        |          FROM documents) AS g
        |        GROUP BY lang, bigram) counted) ranked
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    "nlp_pmi" ->
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ts
        |             FROM documents),
        |big AS (SELECT unnest(ts[1:len(ts)-1]) AS w1,
        |               unnest(ts[2:len(ts)]) AS w2 FROM tok),
        |bc AS (SELECT w1, w2, count(*) nab FROM big
        |       WHERE w1<>'' AND w2<>'' GROUP BY 1,2),
        |tot AS (SELECT CAST(SUM(nab) AS DOUBLE) AS tb FROM bc),
        |u1 AS (SELECT w1 AS w, CAST(SUM(nab) AS DOUBLE) AS nw1
        |       FROM bc GROUP BY 1),
        |u2 AS (SELECT w2 AS w, CAST(SUM(nab) AS DOUBLE) AS nw2
        |       FROM bc GROUP BY 1)
        |SELECT w1, w2, nab,
        |  ROUND(ln((nab/tb) / ((u1.nw1/tb)*(u2.nw2/tb))), 4) AS pmi
        |FROM bc, tot
        |JOIN u1 ON u1.w=w1 JOIN u2 ON u2.w=w2
        |WHERE nab >= 20
        |ORDER BY pmi DESC, w1, w2 LIMIT 40""".stripMargin,
    "text_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split(text,' ')) AS term
        |             FROM documents),
        |tf AS (SELECT term, count(*) f FROM tok WHERE term<>''
        |       GROUP BY 1),
        |rk AS (SELECT term, f,
        |         row_number() OVER (ORDER BY f DESC, term) r FROM tf)
        |SELECT ROUND(regr_slope(ln(f), ln(r)),4) AS zipf_slope,
        |       ROUND(regr_intercept(ln(f), ln(r)),4) AS zipf_icpt,
        |       count(*) AS n_terms
        |FROM rk WHERE r <= 100""".stripMargin,
    "nlp_lang_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "dedup_exact" ->
      """SELECT h, MIN(doc_id) AS keeper, COUNT(*) AS n_copies FROM (
        |  SELECT doc_id, SHA256(text) AS h FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, SHA256(text) FROM documents
        |  WHERE doc_id % 3 = 0)
        |GROUP BY h HAVING COUNT(*) > 1 ORDER BY keeper""".stripMargin,
    "dedup_substring" ->
      """WITH d2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN substr(text, 1, 50)
        |           || ' this article was automatically generated'
        |           || ' please visit the archive for more information '
        |           || substr(text, 51)
        |      ELSE text END AS text
        |  FROM documents),
        |b AS (SELECT doc_id, text, LEN(text) AS len FROM d2),
        |g0 AS (SELECT doc_id, text,
        |         UNNEST(GENERATE_SERIES(1, len - 39)) AS pos
        |       FROM b WHERE len >= 40),
        |g AS (SELECT doc_id, pos,
        |        ('0x' || substr(md5(substr(text, pos, 40)), 1, 15))::BIGINT
        |          AS h
        |      FROM g0),
        |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
        |hits AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
        |marks AS (SELECT doc_id, pos,
        |    CASE WHEN LAG(pos) OVER w IS NULL
        |           OR pos - LAG(pos) OVER w > 40 THEN 1 ELSE 0 END AS brk
        |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |isl AS (SELECT doc_id, pos,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM marks),
        |spans AS (SELECT doc_id, isl, MAX(pos) - MIN(pos) + 40
        |            AS span_chars
        |          FROM isl GROUP BY 1, 2),
        |pd AS (SELECT doc_id, COUNT(*) AS n_spans,
        |         CAST(SUM(span_chars) AS BIGINT) AS dup_chars
        |       FROM spans GROUP BY 1)
        |SELECT b.doc_id, COALESCE(n_spans, 0) AS n_spans,
        |  COALESCE(dup_chars, 0) AS dup_chars,
        |  ROUND(1.0 - COALESCE(dup_chars, 0) / len, 4) AS keep_ratio
        |FROM b LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Uncapped full-corpus oracle (r13): the old all-pairs LIST_INTERSECT
    // check was quadratic (>120 s at 5000 docs); this posting-list
    // self-join mirrors the engine's own inverted-index shape — the join
    // is collision-proportional, |A∩B| falls out of the group count —
    // and runs in ~3 s at sf0.1. Ground truth is identical: every pair
    // with a shared shingle is scored, exact Jaccard, threshold 0.8.
    "dedup_minhash" ->
      """WITH d AS (
        |  SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
        |      GENERATE_SERIES(1, GREATEST(LEN(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents)
        |  WHERE LEN(t) > 2),
        |posts AS (SELECT doc_id, UNNEST(sh) AS g FROM d),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, LEN(sh) AS n FROM d)
        |SELECT doc_a, doc_b,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        |           JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the incremental-correctness law AS the oracle: the batch-vs-index
    // result must equal the full-corpus exhaustive ground truth
    // restricted to pairs touching the batch (doc_b >= 300 — with
    // doc_a < doc_b, any pair whose larger id is history-side is a
    // pure-history pair, yesterday's answer)
    "dedup_minhash_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
        |      GENERATE_SERIES(1, GREATEST(LEN(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents)
        |  WHERE LEN(t) > 2),
        |posts AS (SELECT doc_id, UNNEST(sh) AS g FROM d),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, LEN(sh) AS n FROM d)
        |SELECT doc_a, doc_b,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        |           JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
        |  AND doc_b >= 300
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the SAME exhaustive law as dedup_minhash_incremental: the final
    // pair set is invariant to the micro-batch split (each unordered
    // pair detected exactly once — see the key), so the oracle does
    // not care how the stream was chopped
    "stream_dedup_minhash" ->
      """WITH d AS (
        |  SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
        |      GENERATE_SERIES(1, GREATEST(LEN(t) - 2, 0)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents)
        |  WHERE LEN(t) > 2),
        |posts AS (SELECT doc_id, UNNEST(sh) AS g FROM d),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, LEN(sh) AS n FROM d)
        |SELECT doc_a, doc_b,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        |           JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
        |  AND doc_b >= 300
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
        |      GENERATE_SERIES(1, GREATEST(LEN(t) - 1, 0)),
        |      i -> t[i] || ' ' || t[i+1])) AS sh
        |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents
        |        WHERE doc_id < 1000)
        |  WHERE LEN(t) > 1)
        |SELECT doc_a, doc_b, ROUND(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |      / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh)))
        |      AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |   AND LEN(LIST_INTERSECT(a.sh, b.sh)) > 0)
        |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_shingle_containment" ->
      """WITH d AS (
        |  SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
        |      GENERATE_SERIES(1, GREATEST(LEN(t) - 1, 0)),
        |      i -> t[i] || ' ' || t[i+1])) AS sh
        |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents
        |        WHERE doc_id < 1000)
        |  WHERE LEN(t) > 1)
        |SELECT doc_a, doc_b, inter, ROUND(ca, 4) AS c_in_a,
        |  ROUND(cb, 4) AS c_in_b FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    LEN(LIST_INTERSECT(a.sh, b.sh)) AS inter,
        |    CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) / LEN(a.sh) AS ca,
        |    CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) / LEN(b.sh) AS cb
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |   AND LEN(LIST_INTERSECT(a.sh, b.sh)) > 0)
        |WHERE GREATEST(ca, cb) >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_fuzzy_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, text, LIST_DISTINCT(LIST_TRANSFORM(
        |      GENERATE_SERIES(1, GREATEST(LEN(t) - 1, 0)),
        |      i -> t[i] || ' ' || t[i+1])) AS sh
        |  FROM (SELECT doc_id, text, STR_SPLIT(text, ' ') AS t FROM documents
        |        WHERE doc_id < 500)
        |  WHERE LEN(t) > 1),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.text AS ta, b.text AS tb
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |   AND LEN(LIST_INTERSECT(a.sh, b.sh)) > 0
        |  WHERE CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |    / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))) >= 0.5)
        |SELECT doc_a, doc_b,
        | LEVENSHTEIN(ta, tb) AS edit_dist,
        | 10000 - (LEVENSHTEIN(ta, tb) * 10000)
        |   // GREATEST(LENGTH(ta), LENGTH(tb)) AS sim_x1e4
        |FROM cand ORDER BY doc_a, doc_b""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, LEN(t) AS n_tokens, total_len,
        | (total_len * 10000) // LEN(t) AS avg_len_x1e4,
        | (n_stop * 10000) // LEN(t) AS stop_x1e4,
        | LEN(t) >= 20 AND total_len >= 100 AS quality_ok
        |FROM (SELECT doc_id, t,
        |  CAST(LIST_SUM(LIST_TRANSFORM(t, x -> LENGTH(x))) AS BIGINT)
        |    AS total_len,
        |  CAST(LEN(LIST_FILTER(t, x -> x = 'the' OR x = 'a' OR x = 'of'
        |    OR x = 'and')) AS BIGINT) AS n_stop
        |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """SELECT doc_id, lang, s_en, s_sql, s_ops,
        | CASE WHEN s_en >= s_sql AND s_en >= s_ops THEN 'en'
        |      WHEN s_sql >= s_ops THEN 'sql' ELSE 'ops' END AS predicted
        |FROM (SELECT doc_id, lang,
        |  LEN(LIST_FILTER(t, x -> x = 'the')) AS s_en,
        |  LEN(LIST_FILTER(t, x -> x = 'table' OR x = 'scan')) AS s_sql,
        |  LEN(LIST_FILTER(t, x -> x = 'sort' OR x = 'merge')) AS s_ops
        |  FROM (SELECT doc_id, lang, STR_SPLIT(text, ' ') AS t FROM documents))
        |ORDER BY doc_id""".stripMargin,
    // same weights re-derived from the closed form (k*37)%21-10 over
    // the same md5-prefix bucket — hugeint list_sum cast back down
    "text_classifier_score" ->
      """SELECT doc_id, LEN(t) AS n_tokens,
        | CAST(LIST_SUM(LIST_TRANSFORM(t, tok ->
        |   ((('0x' || SUBSTR(MD5(tok), 1, 15))::BIGINT % 64) * 37) % 21
        |     - 10)) AS BIGINT) AS score_sum,
        | CAST(LIST_SUM(LIST_TRANSFORM(t, tok ->
        |   ((('0x' || SUBSTR(MD5(tok), 1, 15))::BIGINT % 64) * 37) % 21
        |     - 10)) AS BIGINT) * 5 >= LEN(t) AS keep
        |FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, LEN(t) AS n_ws_tokens,
        | CAST(LIST_SUM(LIST_TRANSFORM(t, x -> (LENGTH(x) + 3) // 4))
        |   AS BIGINT) AS n_subwords,
        | LEN(LIST_DISTINCT(t)) AS n_distinct
        |FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         | LIST_REDUCE(
         |   LIST_PREPEND(CAST(0 AS BIGINT),
         |     LIST_TRANSFORM(STR_SPLIT(text, ''),
         |       c -> CAST(UNICODE(c) AS BIGINT))),
         |   (acc, c) -> (acc * 31 + c) % $M) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin
  )
}
