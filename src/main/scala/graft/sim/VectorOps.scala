package graft.sim

import graft.{Artifact, QueryGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 group J (vector half) — similarity search and multimodal
  * assembly over the `embeddings` table (dim=64 float vectors)
  * [NS: BASELINE.json north_star "similarity search"].
  *
  * Scale design (100 TB):
  *  - Brute-force top-k broadcasts the SMALL query side against the full
  *    corpus — each executor scans its partition once; no shuffle of the
  *    big side. This is the correctness baseline.
  *  - Two scale paths replace the full scan at 100 TB:
  *    `sim_ann_lsh` (deterministic random-hyperplane signatures bucket
  *    the corpus with one narrow shuffle; search joins query buckets to
  *    corpus buckets) and `sim_ann_ivf` (broadcast coarse-quantizer
  *    centroids, map-side cell assignment, nprobe-cell candidate join).
  *    AnnRecallSpec measures both against the brute-force baseline.
  *  - Embeddings cast float→double BEFORE any reduction (DuckDB reduces
  *    in double; float-order drift would break the hash-match), and all
  *    dot/norm folds are left-to-right sequential in both engines so
  *    the doubles agree bit-for-bit.
  *  - Hyperplanes come from an integer LCG keyed by (plane, dim) —
  *    seeded determinism, no rand(), exactly reproducible in SQL.
  */
object VectorOps extends QueryGroup {

  private val dim = 64
  private val nPlanes = 16

  /** LCG-derived hyperplane coefficient in [-1024, 1023]. */
  private def coef(plane: Int, i: Int): Long =
    ((1103515245L * (plane * dim + i) + 12345L) % 2048L) - 1024L

  /** embeddings with the vector cast to double. (r19: examined a
    * conditional repartition to spread the single fixture split before
    * the vector×centroid stages — measured SLOWER across the family,
    * e.g. sim_ann_ivf 1.08 s → 1.50 s: emb() is consumed many times
    * per key and the added exchange + planning outweighed the map-side
    * parallelism. Left zero-shuffle deliberately.) */
  private def emb(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    Tables(s, d, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> cast(x AS double))"))
  }

  /** Codegen'd sequential-fold dot / cosine (graft.functions
    * VectorExpressions — tight primitive loops, same left-to-right
    * accumulation order as the oracle's LIST_REDUCE). */
  private def dot(a: String, b: String): String = s"graft_dot($a, $b)"

  private def norm(a: String): String = s"sqrt(graft_dot($a, $a))"

  private def cosExpr(a: String, b: String): String = s"graft_cosine($a, $b)"

  /** DuckDB mirror of dot/norm/cos with identical fold order. */
  private def oDot(a: String, b: String): String =
    s"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), LIST_TRANSFORM(" +
      s"GENERATE_SERIES(1, $dim), i -> $a[i] * $b[i])), (x, y) -> x + y)"

  private def oNorm(a: String): String =
    s"SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), LIST_TRANSFORM(" +
      s"GENERATE_SERIES(1, $dim), i -> $a[i] * $a[i])), (x, y) -> x + y))"

  private def oCos(a: String, b: String): String =
    s"${oDot(a, b)} / (${oNorm(a)} * ${oNorm(b)})"

  /** One k-means refinement step over cosine similarity: assign every
    * vector to its argmax-cos centroid (broadcast centroids, map-side
    * max_by — no n×K shuffle), then recompute each surviving cell's
    * centroid as the per-dimension mean via 64 codegen'd avg aggregates
    * (map-side combined — the shuffle carries K×64 partials, not the
    * corpus). Each mean is ROUNDED to 6 decimals so the resulting double
    * is bit-identical across engines and partition orders (summation-
    * order drift is ~1e-13 relative and is absorbed by the rounding);
    * downstream cosines over the rounded centroids then agree exactly
    * with the DuckDB oracle's. Cells that lose every member drop out. */
  private def kmeansStep(e: DataFrame, cent: DataFrame): DataFrame = {
    val assigned = e.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", expr(cosExpr("v", "cv")))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc")))
        .as("cell"),
        first(col("v")).as("v"))
    val avgs = (1 to dim)
      .map(i => round(avg(expr(s"element_at(v, $i)")), 6).as(s"c$i"))
    assigned.groupBy(col("cell"))
      .agg(avgs.head, avgs.tail: _*)
      .select(col("cell").as("cid"),
        array((1 to dim).map(i => col(s"c$i")): _*).as("cv"))
  }

  /** DuckDB mirror of two [[kmeansStep]] iterations from the %29 seeds
    * over the %2 training half-sample: CTEs `tr; cent0 → sc0/asg0 →
    * cent1 → sc1/asg1 → cent2`, with the same per-dim
    * ROUND(AVG(v[i]), 6) and the same (ccos DESC, cid ASC) assignment
    * tie order. */
  private def oKmeans: String = oKmeansSteps(2)

  /** 4×16-dim pseudo-token slices + per-slice norms — the
    * late-interaction bag, shared by BOTH MaxSim keys (and mirrored by
    * [[oMaxsim]]) so the pinned arithmetic can never diverge between
    * them. */
  private def maxsimTokens(df: DataFrame, p: String): DataFrame =
    (0 to 3).foldLeft(df) { (r, t) =>
      r.withColumn(s"${p}t$t", expr(s"slice(v, ${t * 16 + 1}, 16)"))
        .withColumn(s"${p}n$t",
          expr(s"sqrt(graft_dot(${p}t$t, ${p}t$t))"))
    }.drop("v")

  /** MaxSim = Σ over query tokens of the max cosine against any doc
    * token — left-assoc 4-term sum, GREATEST per token. */
  private def maxsimExpr: String = (0 to 3).map { i =>
    val terms = (0 to 3).map(j =>
      s"graft_dot(qt$i, dt$j) / (qn$i * dn$j)")
    s"greatest(${terms.mkString(", ")})"
  }.mkString(" + ")

  /** DuckDB mirror of the MaxSim fragments, identical fold order. */
  private object oMaxsim {
    def sliceDot(a: String, b: String): String =
      s"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), LIST_TRANSFORM(" +
        s"GENERATE_SERIES(1, 16), i -> $a[i] * $b[i])), (x, y) -> x + y)"
    val toks: String = (0 to 3).map(t =>
      s"LIST_SLICE(v, ${t * 16 + 1}, ${t * 16 + 16}) AS t$t")
      .mkString(", ")
    val norms: String = (0 to 3).map(t =>
      s"SQRT(${sliceDot(s"t$t", s"t$t")}) AS n$t").mkString(", ")
    val ms: String = (0 to 3).map { i =>
      val terms = (0 to 3).map(j =>
        s"${sliceDot(s"q.t$i", s"d.t$j")} / (q.n$i * d.n$j)")
      s"GREATEST(${terms.mkString(", ")})"
    }.mkString(" + ")
  }

  /** Same builder with a configurable refinement count — cent$steps is
    * the final quantizer (sim_ann_ivf_retrain re-derives cent3). */
  private def oKmeansSteps(steps: Int): String = {
    def step(n: Int): String = {
      val avgs = (1 to dim).map(i => s"ROUND(AVG(v[$i]), 6)")
        .mkString("LIST_VALUE(", ", ", ")")
      s"""sc$n AS (SELECT e.vec_id, e.v, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM tr e CROSS JOIN cent$n c),
         |asg$n AS (SELECT vec_id, v, cid AS cell FROM (
         |  SELECT vec_id, v, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM sc$n) WHERE rn = 1),
         |cent${n + 1} AS (SELECT cell AS cid, $avgs AS cv
         |  FROM asg$n GROUP BY cell)""".stripMargin
    }
    s"""tr AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
       |cent0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 29 = 0),
       |${(0 until steps).map(step).mkString(",\n")}""".stripMargin
  }

  /** DuckDB mirror of [[pqCodebook]] training + the graft_pq_encode
    * argmin (the ml_kmeans_step recipe applied per subspace): subspace
    * explode → hash-ranked top-16 seeds → two refinements with the same
    * unrolled left-to-right L2 and per-dim ROUND(AVG, 6) means → final
    * assignment with the same (dist ASC, cid ASC) tie order the encoder's
    * strict `<` over cid-ascending codewords implements. Only AVG's
    * accumulation order differs across engines and the round-6 absorbs
    * it — every other double op is replayed in identical order, so dists
    * are bitwise equal and ranks agree. */
  private def oPqEncode: String = {
    val subDim = 8
    // identical textual form to the trainer's l2 (unrolled, left-assoc)
    def l2(a: String, b: String): String = (1 to subDim)
      .map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])")
      .mkString("(", " + ", ")")
    val avgs = (1 to subDim).map(i => s"ROUND(AVG(sv[$i]), 6)")
      .mkString("LIST_VALUE(", ", ", ")")
    def refine(n: Int): String =
      s"""pasg$n AS (SELECT vec_id, sidx, sv, cid FROM (
         |  SELECT s.vec_id, s.sidx, s.sv, c.cid, ROW_NUMBER() OVER (
         |    PARTITION BY s.vec_id, s.sidx
         |    ORDER BY ${l2("s.sv", "c.cv")} ASC, c.cid ASC) AS rn
         |  FROM subs s JOIN cb$n c ON s.sidx = c.sidx) WHERE rn = 1),
         |cb${n + 1} AS (SELECT sidx, cid, $avgs AS cv
         |  FROM pasg$n GROUP BY sidx, cid)""".stripMargin
    s"""subs AS (SELECT vec_id, sidx,
       |    LIST_SLICE(v, sidx * $subDim + 1, sidx * $subDim + $subDim) AS sv
       |  FROM (SELECT vec_id, v, UNNEST(GENERATE_SERIES(0, 7)) AS sidx
       |        FROM e)),
       |cb0 AS (SELECT sidx, CAST(rn AS INTEGER) AS cid, sv AS cv FROM (
       |  SELECT sidx, sv, ROW_NUMBER() OVER (PARTITION BY sidx
       |    ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) AS rn
       |  FROM subs) WHERE rn <= 16),
       |${refine(0)},
       |${refine(1)},
       |enc AS (SELECT vec_id, sidx, cid, dist FROM (
       |  SELECT s.vec_id, s.sidx, c.cid, ${l2("s.sv", "c.cv")} AS dist,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sidx
       |      ORDER BY ${l2("s.sv", "c.cv")} ASC, c.cid ASC) AS rn
       |  FROM subs s JOIN cb2 c ON s.sidx = c.sidx) WHERE rn = 1)""".stripMargin
  }

  val ivfCentroidsArt = Artifact("ivf_centroids", "embeddings")
  val pqCodebookArt = Artifact("pq_codebook", "embeddings")
  val ivfAssignHist = Artifact("ivf_assign_hist", "embeddings")
  val semIncIndex = Artifact("sem_inc_index", "embeddings")

  /** Trained IVF coarse quantizer as a fixture-stamped artifact: two
    * [[kmeansStep]] refinements of the %29 seeds over the %2 half-sample,
    * trained ONCE per fixture and persisted (the text_bpe_merges
    * discipline — quantizers are trained once and SHIPPED, not re-derived
    * inside every probe query). Consumers get the K×64 table back as a
    * LocalRelation (collected — ~K rows of 64 doubles), so the probe
    * plan carries literal centroids with ZERO training lineage: a
    * cache-cold rerun pays one tiny parquet read instead of two k-means
    * corpus passes. The artifact is byte-identical to what inline
    * training produced (same lineage, written once), so the DuckDB
    * oracle — which re-derives training in SQL — still hash-matches.
    * On a cluster the scratch dir moves to object storage unchanged. */
  private[graft] def ivfCentroids(s: SparkSession, d: String): DataFrame = {
    val dir = ivfCentroidsArt.get(d) { out =>
      val e = emb(s, d)
      val seeds = e.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      // train on a deterministic half-sample: at 100 TB k-means NEVER
      // sees the full corpus (a quantizer needs the density shape, not
      // every point); the intermediate step is checkpointed so step 2
      // consumes materialized centroids, not step 1's lineage.
      val train = e.filter(col("vec_id") % 2 === 0)
      kmeansStep(train, kmeansStep(train, seeds).localCheckpoint())
        .coalesce(1).write.parquet(out)
    }
    import s.implicits._
    s.read.parquet(dir).select("cid", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq.toDF("cid", "cv")
  }

  /** PQ codebooks (M=8 subspaces × K=16 codewords) as a fixture-stamped
    * artifact, trained once per fixture ([[ivfCentroids]] discipline).
    * Returned collected — 8×16 codewords × 8 doubles ≈ 1 KiB, exactly
    * the size that makes PQ viable at 100 TB: the encoder folds it into
    * literal expressions and encoding becomes a pure zero-shuffle map. */
  private def pqCodebook(s: SparkSession, d: String)
      : Seq[(Int, Int, Seq[Double])] = {
    val M = 8; val subDim = 8; val K = 16
    val dir = pqCodebookArt.get(d) { out =>
      val subs = emb(s, d).select(col("vec_id"), posexplode(expr(
          s"transform(sequence(0, ${M - 1}), m -> slice(v, m * $subDim + 1, $subDim))")))
        .withColumnRenamed("pos", "sidx").withColumnRenamed("col", "sv")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // unrolled L2 over the fixed-width subvector: element_at chains
      // codegen; the zip_with/aggregate lambda form is interpreted per
      // element and dominated the three assignment passes. Left-to-right
      // add order keeps distances bit-identical across rewrites.
      val l2 = (1 to subDim).map(i =>
        s"(element_at(sv, $i) - element_at(cv, $i))" +
          s" * (element_at(sv, $i) - element_at(cv, $i))")
        .mkString("(", " + ", ")")
      val wInit = Window.partitionBy("sidx")
        .orderBy(expr("(vec_id * 2654435761L) % 1000000007L"), col("vec_id"))
      var cb = subs.withColumn("rn", row_number().over(wInit))
        .filter(col("rn") <= K)
        .select(col("sidx"), col("rn").as("cid"), col("sv").as("cv"))
        .localCheckpoint()
      for (_ <- 1 to 2) {
        val assigned = subs.join(broadcast(cb), "sidx")
          .withColumn("dist", expr(l2))
          .groupBy("vec_id", "sidx")
          .agg(min_by(col("cid"), struct(col("dist"), col("cid")))
            .as("cell"), first(col("sv")).as("sv"))
        val avgs = (1 to subDim)
          .map(i => round(avg(expr(s"element_at(sv, $i)")), 6).as(s"c$i"))
        cb = assigned.groupBy(col("sidx"), col("cell"))
          .agg(avgs.head, avgs.tail: _*)
          .select(col("sidx"), col("cell").as("cid"),
            array((1 to subDim).map(i => col(s"c$i")): _*).as("cv"))
          .localCheckpoint()
      }
      cb.coalesce(1).write.parquet(out)
      subs.unpersist(blocking = false)
    }
    s.read.parquet(dir).collect()
      .map(r => (r.getAs[Int]("sidx"), r.getAs[Int]("cid"),
        r.getSeq[Double](r.fieldIndex("cv"))))
      .toSeq
  }

  /** Register the PQ expression family (graft_pq_encode / graft_pq_adc)
    * with this fixture's trained codebook baked in — consumed by
    * embed_pq (encode) and sim_ann_ivfpq (ADC search). graft_pq_encode
    * returns struct<d: sq_err, c: codes>; selecting both fields in one
    * projection pays the M×K×subDim argmin once (codegen subexpression
    * elimination collapses the two GetStructField evals). */
  private def pqRegister(s: SparkSession, d: String): Unit = {
    val subDim = 8
    val bySub = pqCodebook(s, d).groupBy(_._1)
    // per subspace, codewords sorted by cid ascending: PqEncodeBase's
    // strict `<` then keeps the smallest cid on exact ties — the
    // trainer's min_by(struct(dist, cid)) ordering
    val cids = bySub.keys.toSeq.sorted.map(m =>
      bySub(m).map(_._2).sorted.toArray).toArray
    val cents = bySub.keys.toSeq.sorted.map(m =>
      bySub(m).sortBy(_._2).flatMap(_._3).toArray).toArray
    val reg = s.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_pq_encode",
      es => graft.functions.PqEncode(es.head, cids, cents, subDim),
      "built-in")
    reg.createOrReplaceTempFunction("graft_pq_adc",
      es => graft.functions.PqAdcCosine(es.head, es(1), cids, cents,
        subDim),
      "built-in")
  }

  /** All (query × candidate, cosine) pairs for query ids ≡ 0 mod m. */
  private def pairs(s: SparkSession, d: String, m: Int): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") % m === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr(cosExpr("qv", "v")))
  }

  private def oPairs(m: Int): String =
    s"""WITH e AS (SELECT vec_id, label,
       |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % $m = 0),
       |pairs AS (
       |  SELECT qid, vec_id, label, ${oCos("qv", "v")} AS cos
       |  FROM e CROSS JOIN q WHERE vec_id <> qid)""".stripMargin

  /** Lexical leg of the hybrid keys: BM25 top-10 per query doc
    * (text_bm25_score's formula over each query doc's first-5 distinct
    * terms), ranked on the ROUND-4 score with doc_id ties — the
    * cross-engine-identical rank object. Query-vocab pruning happens
    * BEFORE the tf groupBy (only matching-term rows shuffle), df and
    * corpus stats are broadcast — the text_bm25_score scale shape. */
  private def lexTop10(s: SparkSession, d: String): DataFrame = {
    val docsDf = Tables(s, d, "documents")
    val qids = emb(s, d).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"))
    val qt = docsDf.join(broadcast(qids), col("doc_id") === col("qid"))
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 5)))
          .as("term"))
    val toks = docsDf
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("term"))
    val tf = toks.join(broadcast(qt.select("term").distinct()), "term")
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = docsDf
      .select(explode(array_distinct(split(col("text"), " ")))
        .as("term"))
      .join(broadcast(qt.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val st = docsDf
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("sumdl"))
    val avgdl = col("sumdl").cast("double") / col("n")
    val termScore =
      log(lit(1.0) + (col("n") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))) *
        col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) *
          (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / avgdl))
    val wl = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
    tf.join(broadcast(qt), "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(st))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(termScore), 4).as("bm25"))
      .withColumn("rn", row_number().over(wl))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("doc_id"), col("rn").as("lex_rank"))
  }

  /** Reciprocal Rank Fusion (k = 60) of the lexical and vector rank
    * legs: full outer join on the tiny per-query top-k sets, exact
    * integer-rank arithmetic. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0)).as("vec_rank"),
        round(
          when(col("lex_rank").isNotNull,
            lit(1.0) / (lit(60) + col("lex_rank"))).otherwise(lit(0.0))
          + when(col("vec_rank").isNotNull,
            lit(1.0) / (lit(60) + col("vec_rank"))).otherwise(lit(0.0)),
          6).as("rrf"))
      .orderBy("query_id", "doc_id")

  /** Argmax-cosine cell assignment against broadcast centroids —
    * (vec_id, cell, ccos) with the (ccos DESC, cid ASC) tie order every
    * IVF key uses. Map-side max_by; no n×K shuffle. */
  private[graft] def ivfAssign(cent: DataFrame, part: DataFrame)
      : DataFrame =
    part.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(cent))
      .withColumn("ccos", expr(cosExpr("v", "cv")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cid"), col("ccos")),
        struct(col("ccos"), (-col("cid")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cell"),
        col("best.ccos").as("ccos"))

  /** Persisted HISTORY assignments (vec_id % 5 <> 3) of the IVF index —
    * the day-one artifact [[queries sim_ann_ivf_append]] grows. Built
    * once per fixture (ivfCentroids discipline). */
  private[graft] def ivfHistAssignments(s: SparkSession, d: String)
      : DataFrame =
    s.read.parquet(ivfAssignHist.get(d)(ivfAssign(ivfCentroids(s, d),
      emb(s, d).filter(col("vec_id") % 5 =!= 3)).write.parquet(_)))

  /** Fresh assignment of the append batch (vec_id % 5 = 3). */
  private[graft] def ivfBatchAssignments(s: SparkSession, d: String)
      : DataFrame =
    ivfAssign(ivfCentroids(s, d), emb(s, d).filter(col("vec_id") % 5 === 3))

  /** From-scratch full-corpus assignment — the spec's equality bridge:
    * persisted history + appended batch must reproduce this exactly. */
  private[graft] def ivfFullAssignments(s: SparkSession, d: String)
      : DataFrame =
    ivfAssign(ivfCentroids(s, d), emb(s, d))

  val queries: Map[String, Q] = Map(

    // brute-force cosine top-5 per query vector (baseline ANN).
    "sim_cosine_topk" -> ((s, d) => {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      pairs(s, d, 100)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("rn"), col("vec_id").as("neighbor"),
          round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rn")
    }),

    // HYBRID RETRIEVAL FUSION (Reciprocal Rank Fusion, k = 60) — the
    // op that makes the lexical and vector legs a SYSTEM: BM25 top-10
    // (text_bm25_score's formula over each query doc's first-5
    // distinct terms) fused with cosine top-10 (the sim_cosine_topk
    // contract) as Σ 1/(60 + rank) per retrieved doc, the standard
    // hybrid-search / RAG-retrieval combiner. Rank determinism is the
    // whole design: the vector leg ranks on RAW cosine (bit-identical
    // cross-engine — graft_cosine's fold order is textually pinned to
    // the oracle's LIST_REDUCE), the lexical leg ranks on the
    // ROUND-4 BM25 (the rounded score is the cross-engine-identical
    // object; raw ln output is not), ties break by doc_id — so both
    // engines derive the SAME integer ranks and RRF is exact
    // arithmetic over them. Query set = ids present in BOTH fixtures
    // (doc_id ≡ vec_id). Each leg keeps its scale shape: broadcast
    // queries + one corpus scan (vector), query-term-pruned posting
    // join (lexical); fusion is a full outer join on tiny top-k sets.
    // DISCLOSED BOUNDARY RISK (the dedup_minhash FN-budget pattern):
    // the lexical top-10 MEMBERSHIP hinges on the round-4 BM25 —
    // libm's ln differs by ≤1 ulp across platforms, so a raw score
    // sitting within ~1e-16 of a .00005 rounding boundary could round
    // differently and flip rank-10/11 membership. The exposure is one
    // doc per ~10⁸ random scores (none in either fixture, verified by
    // the green hash at both SFs); eliminating it entirely would need
    // a fixed-point ln, which the rank-determinism note above treats
    // as out of scope for a float-scoring retrieval stack.
    "sim_hybrid_rrf" -> ((s, d) => {
      val wv = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val vec = pairs(s, d, 100)
        .withColumn("rn", row_number().over(wv))
        .filter(col("rn") <= 10)
        .select(col("qid").as("query_id"), col("vec_id").as("doc_id"),
          col("rn").as("vec_rank"))
      rrfFuse(lexTop10(s, d), vec)
    }),

    // The 100 TB form of the hybrid: SAME lexical leg and SAME fusion,
    // but the vector leg serves from the IVF index (sim_ann_ivf's
    // shipped quantizer + nprobe=4 candidate join) instead of the
    // brute-force corpus×query cross — the candidate set a query
    // touches is bounded by its probed cells, not the corpus. Fully
    // oracled: the IVF oracle re-derives the centroids in SQL
    // (oKmeans), so the candidate set — and therefore every rank RRF
    // consumes — is recomputed from scratch cross-engine.
    // AnnRecallSpec pins the fusion-level recall against the
    // brute-force sim_hybrid_rrf.
    "sim_hybrid_rrf_ann" -> ((s, d) => {
      val e = emb(s, d)
      val cent = ivfCentroids(s, d)
      val scored = e.select(col("vec_id"), col("v"))
        .crossJoin(broadcast(cent))
        .withColumn("ccos", expr(cosExpr("v", "cv")))
      val cells = scored.groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc")))
          .as("cell"))
      val corpus = e.select(col("vec_id"), col("v")).join(cells, "vec_id")
      val wq = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      val probes = scored.filter(col("vec_id") % 100 === 0)
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 4)
        .select(col("vec_id").as("qid"), col("cid").as("cell"))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val wv = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val vec = corpus.join(probes, "cell")
        .filter(col("vec_id") =!= col("qid"))
        .join(q, "qid")
        .withColumn("cos", expr(cosExpr("qv", "v")))
        .withColumn("rn", row_number().over(wv))
        .filter(col("rn") <= 10)
        .select(col("qid").as("query_id"), col("vec_id").as("doc_id"),
          col("rn").as("vec_rank"))
      rrfFuse(lexTop10(s, d), vec)
    }),

    // Matryoshka-style PREFIX TRUNCATION (MRL serving): retrieval over
    // the first 16 of 64 dims — the 4× cheaper index every
    // MRL-trained embedding ships with. The measurement that decides
    // the trade: per query, top-5 under truncated cosine vs top-5
    // under full cosine (overlap@5 = the recall the cheap index
    // keeps), plus the query's retained prefix energy
    // (|q[1:16]|/|q|) — the norm ratio that predicts it. Same
    // broadcast-query / single-corpus-scan shape as sim_cosine_topk;
    // both rankings come off ONE scan (two codegen'd cosines per
    // pair, two rank windows on the same partitioning). At 100 TB the
    // truncated column is what the IVF/LSH indexes above would be
    // built over; this key is the exact evidence for that choice.
    "sim_mrl_truncate" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val base = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cosf", expr(cosExpr("qv", "v")))
        .withColumn("cost",
          expr("graft_cosine(slice(qv, 1, 16), slice(v, 1, 16))"))
      val wf = Window.partitionBy("qid")
        .orderBy(col("cosf").desc, col("vec_id").asc)
      val wt = Window.partitionBy("qid")
        .orderBy(col("cost").desc, col("vec_id").asc)
      val top = base
        .withColumn("rf", row_number().over(wf))
        .withColumn("rt", row_number().over(wt))
      val overlap = top.filter(col("rf") <= 5)
        .select(col("qid"), col("vec_id"))
        .join(top.filter(col("rt") <= 5).select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("overlap5"))
      q.select(col("qid"),
          round(expr("sqrt(graft_dot(slice(qv, 1, 16), slice(qv, 1, 16)))" +
            " / sqrt(graft_dot(qv, qv))"), 4).as("retained"))
        .join(overlap, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("overlap5"), lit(0L)).as("overlap5"),
          col("retained"))
        .orderBy("qid")
    }),

    // MIPS: maximum-inner-product top-5 per query — the recommender
    // retrieval objective (unnormalized dot, NOT cosine: a long vector
    // can beat a better-aligned short one). At scale this reduces to
    // cosine ANN via the standard norm augmentation
    // ([x; sqrt(M²−|x|²)] on the corpus side, [q; 0] on the query
    // side), so the IVF/LSH paths above serve MIPS unchanged; this is
    // the exact baseline those would be measured against.
    // 1-BIT BINARY QUANTIZATION + Hamming serve — the most aggressive
    // compression on the quantization ladder (float64 → int8
    // embed_quantize → 8-code PQ → 1 bit/dim here): sign-bit pack 63
    // dims into ONE BIGINT (63 not 64 — shiftleft(1L,63) overflows
    // signed in the oracle engine, the agg_bitmap_distinct precedent),
    // rank by bit_count(XOR) Hamming distance, and report per-query
    // overlap@5 against true cosine — the number that decides whether
    // 8 bytes/vector survives as a first-pass filter. All-integer
    // candidate math: at 100 TB the packed column is 128 GB per 16B
    // vectors, popcount is SIMD, and exact re-rank touches only the
    // Hamming shortlist. Fully deterministic (no float in the Hamming
    // path), so the oracle replays it bit-for-bit.
    "embed_bitpack_hamming" -> ((s, d) => {
      val packed = emb(s, d).withColumn("code", expr(
        "aggregate(sequence(1, 63), 0L, (acc, i) -> acc + " +
          "CASE WHEN element_at(v, i) > 0D THEN shiftleft(1L, i - 1) " +
          "ELSE 0L END)"))
      val q = packed.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("code").as("qcode"))
      val base = packed.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("ham", expr("bit_count(code ^ qcode)"))
        .withColumn("cos", expr(cosExpr("qv", "v")))
      val wh = Window.partitionBy("qid")
        .orderBy(col("ham").asc, col("vec_id").asc)
      val wc = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val ranked = base
        .withColumn("rh", row_number().over(wh))
        .withColumn("rc", row_number().over(wc))
      val overlap = ranked.filter(col("rh") <= 5)
        .select(col("qid"), col("vec_id"))
        .join(ranked.filter(col("rc") <= 5).select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("overlap5"))
      ranked.filter(col("rh") === 1)
        .select(col("qid"), col("ham").as("best_ham"))
        .join(overlap, Seq("qid"), "left")
        .select(col("qid"), col("best_ham"),
          coalesce(col("overlap5"), lit(0L)).as("overlap5"))
        .orderBy("qid")
    }),

    // TWO-STAGE serve over the 1-bit codes — the production use of
    // embed_bitpack_hamming (which measures raw-Hamming fidelity):
    // integer Hamming SHORTLISTS 50 candidates per query (8 B/vector
    // touched, SIMD popcount), exact cosine re-ranks only the
    // shortlist to top-5 — the ivfpq pattern with bitpack as the
    // coarse stage. Per-query hits-vs-true-top5 rides along: at 100 TB
    // the shortlist join is the only corpus-wide work and it never
    // touches floats.
    "sim_ann_bitpack" -> ((s, d) => {
      val packed = emb(s, d).withColumn("code", expr(
        "aggregate(sequence(1, 63), 0L, (acc, i) -> acc + " +
          "CASE WHEN element_at(v, i) > 0D THEN shiftleft(1L, i - 1) " +
          "ELSE 0L END)"))
      val q = packed.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("code").as("qcode"))
      val base = packed.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("ham", expr("bit_count(code ^ qcode)"))
        .withColumn("cos", expr(cosExpr("qv", "v")))
      val wh = Window.partitionBy("qid")
        .orderBy(col("ham").asc, col("vec_id").asc)
      val wTrue = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val ranked = base
        .withColumn("rh", row_number().over(wh))
        .withColumn("rtrue", row_number().over(wTrue))
      val wRerank = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id").asc)
      ranked.filter(col("rh") <= 50)
        .withColumn("rn", row_number().over(wRerank))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("rn"), col("vec_id").as("neighbor"),
          round(col("cos"), 4).as("cos"),
          (col("rtrue") <= 5).as("in_true_top5"))
        .orderBy("qid", "rn")
    }),

    // ONE Lloyd iteration of k-means, fully oracled — the in-engine
    // clustering step (sim_centroids serves trained centroids;
    // ml_logreg_gd loops 25 GD rounds under ScalaTest): deterministic
    // init (the 8 vectors with id ≡ 0 mod 64 below 512), assignment by
    // rank over exact squared distance (the graft_dot fold order makes
    // both engines' doubles bitwise equal, so ranks agree — the
    // sim_cosine_topk contract), then per-(cluster, dim) means rebuild
    // the centroids. Scale shape: assignment is a broadcast-NLJ of K
    // tiny centroids against one corpus scan (the IVF quantizer shape);
    // the update shuffles (cid, dim) partial sums — K·dim cells, never
    // vectors. A full training loop is this key iterated with
    // localCheckpoint (the dedup_clusters discipline).
    "ml_kmeans_step" -> ((s, d) => {
      val e = emb(s, d)
      val cent = e.filter(col("vec_id") % 64 === 0 && col("vec_id") < 512)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      // r20 opt (guide §2.3, the as-of-join recipe): the assignment
      // pick is an arg-min, so a min_by hash aggregate replaces the
      // row_number window — the K-way blow-up collapses map-side
      // before the exchange instead of being shuffled and sorted.
      // Identical pick: (dist2 asc, cid asc) == min_by over
      // struct(dist2, cid); both engines' doubles are bitwise equal
      // (graft_dot fold order), so ranks agree as before.
      val assigned = e.crossJoin(broadcast(cent))
        .withColumn("dist2", expr(
          s"${dot("v", "v")} - 2 * ${dot("v", "cv")} + ${dot("cv", "cv")}"))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("cid"), col("v"), col("dist2")),
          struct(col("dist2"), col("cid"))).as("best"))
        .select(col("best.cid").as("cid"), col("best.v").as("v"),
          col("best.dist2").as("dist2"))
      val newNorm = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dimi", "x")))
        .groupBy(col("cid"), col("dimi")).agg(avg(col("x")).as("mu"))
        .groupBy(col("cid"))
        .agg(round(sqrt(sum(col("mu") * col("mu"))), 4).as("centroid_norm"))
      assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          round(sum(col("dist2")), 4).as("inertia"))
        .join(newNorm, Seq("cid"))
        .orderBy("cid")
    }),

    "sim_mips" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("ip").desc, col("vec_id").asc)
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("ip", expr(dot("qv", "v")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("rn"), col("vec_id").as("neighbor"),
          round(col("ip"), 4).as("ip"))
        .orderBy("qid", "rn")
    }),

    // kNN label vote (k=5): majority label among the 5 nearest, ties →
    // smaller label; compared against ground truth.
    "sim_knn_label" -> ((s, d) => {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val top5 = pairs(s, d, 100)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
      val votes = top5.groupBy(col("qid"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      val wv = Window.partitionBy(col("qid"))
        .orderBy(col("n_votes").desc, col("label").asc)
      val pred = votes.withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("qid"), col("label").as("predicted"), col("n_votes"))
      val truth = Tables(s, d, "embeddings")
        .select(col("vec_id").as("qid"), col("label").as("actual"))
      pred.join(truth, "qid")
        .select(col("qid"), col("predicted"), col("n_votes"), col("actual"),
          (col("predicted") === col("actual")).as("correct"))
        .orderBy("qid")
    }),

    // Model EVALUATION in-engine: per-class confusion counts +
    // precision/recall/F1 over the kNN classifier's predictions (k=5,
    // every 10th vector is a query — 10× the sim_knn_label query set
    // so each class has support). Two grouped counts + one full-outer
    // join on the class label; at 100 TB the prediction table is the
    // only big input and the metric table is |classes| rows. F1 is
    // derived from the ROUNDED precision/recall so both engines
    // compute it from identical doubles.
    "ml_eval_confusion" -> ((s, d) => {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val top5 = pairs(s, d, 10)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      val votes = top5.groupBy(col("qid"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      val wv = Window.partitionBy(col("qid"))
        .orderBy(col("n_votes").desc, col("label").asc)
      val pred = votes.withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("qid"), col("label").as("predicted"))
      val truth = Tables(s, d, "embeddings")
        .select(col("vec_id").as("qid"), col("label").as("actual"))
      val j = pred.join(truth, "qid")
      val byActual = j.groupBy(col("actual").as("label"))
        .agg(count(lit(1)).as("n_actual"),
          count_if(col("predicted") === col("actual")).as("tp"))
      val byPred = j.groupBy(col("predicted").as("label"))
        .agg(count(lit(1)).as("n_pred"))
      byActual.join(byPred, Seq("label"), "full")
        .select(col("label"),
          coalesce(col("n_actual"), lit(0L)).as("n_actual"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"))
        .withColumn("precision", when(col("n_pred") > 0,
          round(col("tp") / col("n_pred"), 4)).otherwise(lit(0.0)))
        .withColumn("recall", when(col("n_actual") > 0,
          round(col("tp") / col("n_actual"), 4)).otherwise(lit(0.0)))
        .withColumn("f1", when(col("precision") + col("recall") > 0,
          round(lit(2) * col("precision") * col("recall")
            / (col("precision") + col("recall")), 4)).otherwise(lit(0.0)))
        .orderBy("label")
    }),

    // near-dup by embedding cosine: nearest neighbor per query + dup flag.
    "dedup_embed_cosine" -> ((s, d) => {
      // r20 opt: arg-max aggregate instead of a row_number window —
      // the per-query candidate blow-up collapses map-side before the
      // exchange (same pick: cos desc, vec_id asc)
      pairs(s, d, 50)
        .groupBy(col("qid"))
        .agg(max_by(struct(col("vec_id"), col("cos")),
          struct(col("cos"), (-col("vec_id")).as("nv"))).as("best"))
        .select(col("qid"), col("best.vec_id").as("nn"),
          round(col("best.cos"), 4).as("cos"),
          (col("best.cos") >= 0.95).as("is_dup"))
        .orderBy("qid")
    }),

    // SemDeDup: semantic near-dup removal bounded by coarse-quantizer
    // cells. Every vector is assigned to its nearest seed centroid
    // (broadcast quantizer, map-side argmax — the sim_ann_ivf shape),
    // then pairs are compared ONLY within a cell: candidates are
    // Σ|cell|² instead of n², and K grows with the corpus so cells stay
    // executor-sized. A vector drops when a smaller-id cellmate sits at
    // cosine ≥ 0.9. Fixture embeddings are near-orthogonal (max
    // intra-cell cos ≈ 0.48), so deterministic perturbed copies are
    // injected — the dedup_exact convention — whose cosine to the
    // original is ≥ 0.96: τ = 0.9 separates cleanly in both engines.
    "dedup_semantic" -> ((s, d) => {
      val e = emb(s, d)
      val dups = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), expr(
          """transform(v, (x, i) -> x +
            |  CASE WHEN i = 0 THEN CAST(0.25 AS DOUBLE)
            |       ELSE CAST(0 AS DOUBLE) END)""".stripMargin).as("v"))
      val aug = e.select(col("vec_id"), col("v")).union(dups)
      val cent = e.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = aug.crossJoin(broadcast(cent))
        .withColumn("ccos", expr(cosExpr("v", "cv")))
        .groupBy("vec_id")
        .agg(max_by(col("cid"),
          struct(col("ccos"), (-col("cid")).as("nc"))).as("cell"),
          first(col("v")).as("v"))
      val a = assigned
        .select(col("cell"), col("vec_id").as("va"), col("v").as("xa"))
      val b = assigned
        .select(col("cell"), col("vec_id").as("vb"), col("v").as("xb"))
      val dropped = a.join(b, "cell")
        .filter(col("va") < col("vb"))
        .filter(expr(cosExpr("xa", "xb")) >= 0.9)
        .select(col("vb").as("vec_id")).distinct()
        .withColumn("isdup", lit(1))
      assigned.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          when(col("isdup").isNotNull, "drop")
            .otherwise("keep").as("status"))
        .orderBy("vec_id")
    }),

    // INCREMENTAL semantic dedup — the last incremental form the crawl
    // family lacked (exact, bloom, MinHash, clusters, keep-list all
    // have one): yesterday's corpus is already CELL-ASSIGNED — the
    // persisted (vec_id, cell, v) table IS the cell-partitioned vector
    // index IVF serving uses — and today's embedding batch finds its
    // near-dups against that index and within itself WITHOUT
    // re-scoring the corpus. Per batch: broadcast-assign the BATCH
    // only, then exact-cosine verify the two collision-proportional
    // candidate sets (batch × same-cell index via the cell equi-join —
    // cell-partitioned storage prunes it at scale — and batch ×
    // batch); candidates are Σ_cell |batch∩cell|·|cell|, never
    // batch × corpus. Earlier id wins, as in dedup_semantic. Oracled
    // by the incremental law: output == the full-corpus dedup_semantic
    // restricted to the batch (the injected near-dups) — per-vector
    // argmax and the pairwise predicate are corpus-independent, so
    // restriction is exact.
    "dedup_semantic_incremental" -> ((s, d) => {
      val e = emb(s, d)
      val cent = e.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val dir = semIncIndex.get(d)(
        e.select(col("vec_id"), col("v")).crossJoin(broadcast(cent))
          .withColumn("ccos", expr(cosExpr("v", "cv")))
          .groupBy("vec_id")
          .agg(max_by(col("cid"),
            struct(col("ccos"), (-col("cid")).as("nc"))).as("cell"),
            first(col("v")).as("v"))
          .write.parquet(_))
      val hist = s.read.parquet(dir)
      val batch = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), expr(
          """transform(v, (x, i) -> x +
            |  CASE WHEN i = 0 THEN CAST(0.25 AS DOUBLE)
            |       ELSE CAST(0 AS DOUBLE) END)""".stripMargin).as("v"))
      val bAssigned = batch.crossJoin(broadcast(cent))
        .withColumn("ccos", expr(cosExpr("v", "cv")))
        .groupBy("vec_id")
        .agg(max_by(col("cid"),
          struct(col("ccos"), (-col("cid")).as("nc"))).as("cell"),
          first(col("v")).as("v"))
        .localCheckpoint() // reused as candidate side AND output spine
      val idx = hist
        .select(col("cell"), col("vec_id").as("va"), col("v").as("xa"))
        .union(bAssigned
          .select(col("cell"), col("vec_id").as("va"), col("v").as("xa")))
      val dropped = idx
        .join(bAssigned.select(col("cell"), col("vec_id").as("vb"),
          col("v").as("xb")), "cell")
        .filter(col("va") < col("vb"))
        .filter(expr(cosExpr("xa", "xb")) >= 0.9)
        .select(col("vb").as("vec_id")).distinct()
        .withColumn("isdup", lit(1))
      bAssigned.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          when(col("isdup").isNotNull, "drop")
            .otherwise("keep").as("status"))
        .orderBy("vec_id")
    }),

    // k-NN GRAPH construction (k=3) bounded by coarse-quantizer cells —
    // the input structure of SemDeDup clustering, graph-based pruning,
    // and kNN-retrieval eval sets. Same cell assignment as
    // dedup_semantic (broadcast seed quantizer, map-side argmax), then
    // each vector ranks only its CELLMATES by cosine: candidate pairs
    // are Σ|cell|², never n², and the per-cell work is one equi-join on
    // cell + one windowed top-k — both shapes that scale out (cells
    // stay executor-sized because K grows with the corpus; at 100 TB
    // the candidates are PQ-compressed and re-ranked exact, the
    // sim_ann_ivfpq ladder). Cosine is the codegen'd graft_cosine with
    // textually-pinned fold order, so ranks replay exactly in DuckDB.
    "sim_knn_graph" -> ((s, d) => {
      val e = emb(s, d)
      val cent = e.filter(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = e.crossJoin(broadcast(cent))
        .withColumn("ccos", expr(cosExpr("v", "cv")))
        .groupBy("vec_id")
        .agg(max_by(col("cid"),
          struct(col("ccos"), (-col("cid")).as("nc"))).as("cell"),
          first(col("v")).as("v"))
      val a = assigned
        .select(col("cell"), col("vec_id").as("src"), col("v").as("xa"))
      val b = assigned
        .select(col("cell"), col("vec_id").as("nbr"), col("v").as("xb"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("c").desc, col("nbr").asc)
      a.join(b, "cell")
        .filter(col("src") =!= col("nbr"))
        .withColumn("c", expr(cosExpr("xa", "xb")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("src"), col("rank"), col("nbr"),
          round(col("c"), 4).as("cos"))
        .orderBy("src", "rank")
    }),

    // per-label centroids over the leading dims — the training step of a
    // coarse quantizer (k-means assignment phase = sim_ann_ivf) run as a
    // plain narrow explode + hash agg; per-(label,dim) partial means
    // combine map-side, so the shuffle carries K×D rows, not the corpus.
    "sim_centroids" -> ((s, d) => {
      emb(s, d)
        .select(col("label"),
          posexplode(expr("slice(v, 1, 8)")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("x")), 4).as("centroid"),
          count(lit(1)).as("n"))
        .orderBy("label", "dim")
    }),

    // int8 scalar quantization (per-vector symmetric absmax) — the
    // storage form vector indexes ship at 100 TB (4× smaller than
    // float32). Pure map over the corpus, no shuffle; reports quantized
    // range + worst-case reconstruction error per vector. All arithmetic
    // is double with identical op order in both engines.
    "embed_quantize" -> ((s, d) => {
      emb(s, d)
        .withColumn("m",
          expr("greatest(array_max(transform(v, x -> abs(x))), 1e-12)"))
        .select(col("vec_id"),
          expr("array_min(transform(v, x -> cast(round(x / m * 127) AS int)))")
            .as("qmin"),
          expr("array_max(transform(v, x -> cast(round(x / m * 127) AS int)))")
            .as("qmax"),
          round(expr(
            "array_max(transform(v, x -> abs(round(x / m * 127) * m / 127 - x)))"),
            6).as("max_err"),
          round(col("m"), 6).as("scale"))
        .orderBy("vec_id")
    }),

    // int4 NIBBLE-PACKED quantization — the rung below int8 on the
    // compression ladder (8× smaller than float32; what memory-bound
    // vector serving ships when recall tolerates it): symmetric absmax
    // to [-7,7], two codes packed per byte ((hi+8)*16 + (lo+8)). Pure
    // map, no shuffle; the payload is summarized as a mod-p rolling
    // checksum over the packed bytes (bit-exact packing proof without
    // hauling blobs through the oracle) plus the worst-case
    // reconstruction error. Identical op order in both engines.
    "embed_int4_pack" -> ((s, d) => {
      emb(s, d)
        .withColumn("m",
          expr("greatest(array_max(transform(v, x -> abs(x))), 1e-12)"))
        .withColumn("q",
          expr("transform(v, x -> cast(round(x / m * 7) AS int))"))
        .withColumn("packed", expr(
          """transform(sequence(0, cast(size(q) / 2 AS int) - 1),
            |  i -> (element_at(q, 2*i + 1) + 8) * 16
            |     + (element_at(q, 2*i + 2) + 8))""".stripMargin))
        .select(col("vec_id"),
          size(col("packed")).as("n_bytes"),
          expr("aggregate(packed, 0L, (acc, p) -> (acc * 31 + p) % 1000000007)")
            .as("checksum"),
          round(expr(
            "array_max(transform(v, x -> abs(round(x / m * 7) * m / 7 - x)))"),
            6).as("max_err"),
          round(col("m"), 6).as("scale"))
        .orderBy("vec_id")
    }),

    // Distributed PCA over the embedding corpus (k=2): the idiomatic
    // Spark shape — RowMatrix's treeAggregate builds the 64×64 Gram/
    // covariance (map-side partial per partition, the shuffle carries
    // K² doubles per partition, never rows), the eigensolve runs on the
    // driver over that tiny matrix, and the projection is a broadcast
    // matrix-multiply map. This is one of the two sanctioned RDD drops
    // (with the binary decode boundary): mllib.linalg owns the
    // distributed Gram primitive. No SQL oracle — an eigensolver's
    // sign/order conventions aren't SQL-expressible; MllibCrossCheckSpec
    // pins captured-variance dominance and rerun determinism instead,
    // and embed_pca_gram (below) oracles the DISTRIBUTED half — the
    // Gram aggregate the solver consumes — exactly, in fixed point.
    "embed_pca" -> ((s, d) => {
      import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
      import org.apache.spark.mllib.linalg.distributed.RowMatrix
      val e = emb(s, d).select(col("vec_id"), col("v")).cache()
      val mat = new RowMatrix(
        e.select(col("v")).rdd
          .map(r => MlVectors.dense(r.getSeq[Double](0).toArray)))
      val pcs = mat.computePrincipalComponents(2) // 64×2, driver-side
      val (p1, p2) = ((0 until pcs.numRows).map(i => pcs(i, 0)).toArray,
        (0 until pcs.numRows).map(i => pcs(i, 1)).toArray)
      // deterministic sign convention: largest-|coord| entry positive
      def canon(p: Array[Double]) = {
        val i = p.indices.maxBy(j => (math.abs(p(j)), -j))
        if (p(i) < 0) p.map(-_) else p
      }
      val (c1, c2) = (canon(p1), canon(p2))
      def lit64(a: Array[Double]) =
        a.map(x => s"${x}D").mkString("array(", ", ", ")")
      // localCheckpoint, not count(): the returned frame must carry the
      // materialized projection or consumers re-run it uncached
      val out = e.select(col("vec_id"),
        round(expr(dot("v", lit64(c1))), 4).as("pc1"),
        round(expr(dot("v", lit64(c2))), 4).as("pc2"))
        .orderBy("vec_id")
        .localCheckpoint()
      e.unpersist(blocking = false)
      out
    }),

    // The distributed HALF of PCA, oracled exactly (r14): embed_pca's
    // eigensolve is driver-side LAPACK (sign/order conventions aren't
    // SQL-expressible — stays ScalaTest), but the 64×64 GRAM the solver
    // consumes is a pure distributed aggregate, and THAT is the part
    // that can silently break at scale (a dropped row, a float-order
    // drift, a wrong dimension pairing). ml_linreg_normal recipe:
    // quantize coordinates to ×10⁴ fixed-point BIGINTs, so every
    // product and sum is exact INTEGER arithmetic — bit-identical
    // cross-engine, no float-summation-order exposure. One generator
    // expands each row to its 2080 upper-triangle (i, j, qᵢ·qⱼ)
    // contributions inside codegen; one partial-agg shuffle carries
    // 2080 longs per partition, never rows — the same shape RowMatrix's
    // treeAggregate ships for the real (double) Gram above.
    // Plan note: TWO CHAINED GENERATORS (posexplode over the vector,
    // then posexplode over its j ≥ i suffix), not a higher-order
    // transform building a 2080-struct array per row — HOF lambdas are
    // interpreted and the struct array materializes; the generator
    // chain stays in codegen end-to-end. A/B at the bench config
    // (local[32], sf0.1, median-of-3 warm): 1.98 s → 0.53 s, 3.7×.
    // Quantization happens post-explode in codegen'd scalar arithmetic.
    "embed_pca_gram" -> ((s, d) => {
      Tables(s, d, "embeddings")
        .select(col("embedding").as("e0"),
          posexplode(col("embedding")).as(Seq("i", "vi")))
        .select(col("i"),
          round(col("vi").cast("double") * 10000).cast("long").as("qi"),
          posexplode(expr("slice(e0, i + 1, size(e0) - i)"))
            .as(Seq("jj", "vj")))
        .select(col("i"), (col("i") + col("jj")).as("j"),
          (col("qi") *
            round(col("vj").cast("double") * 10000).cast("long")).as("p"))
        // accumulate in DECIMAL(38,0), matching the oracle's HUGEINT
        // accumulator: a LONG sum would wrap (or ANSI-throw) ~10^9 rows
        // sooner than the 38-digit band, and the final BIGINT cast
        // fails LOUDLY in both engines if a larger corpus ever pushes a
        // Gram cell past 2^63 — an overflow must never surface as an
        // opaque hash mismatch (the ml_linreg_normal precedent).
        .groupBy("i", "j")
        .agg(sum(col("p").cast("decimal(38,0)")).as("g"))
        .select(col("i"), col("j"), col("g").cast("long").as("gram"))
        .orderBy("i", "j")
    }),

    // Product quantization (M=8 subspaces × K=16 codewords): the
    // memory-side half of 100 TB ANN — IVF bounds which vectors a query
    // touches, PQ bounds the bytes per vector (64 floats → 8 nibble
    // codes + a 1 KiB codebook). Training is the [[pqCodebook]]
    // artifact (two seeded k-means iterations per subspace, trained
    // once per fixture and shipped); ENCODING is what this key
    // measures, and it is the production shape: the 1 KiB codebook is
    // baked into the graft_pq_encode codegen expression
    // (functions/VectorExpressions.scala — tight primitive loops, not
    // 1024 unrolled literal terms, which cost ~4.5 s of fixed plan/
    // codegen time), so encoding is a pure zero-shuffle whole-stage-
    // codegen map over the corpus. `codes` is emitted as a comma-joined
    // STRING, not array<int>: verify artifacts must stay sort-stable
    // for the driver diff (SURVEY §5.2), and pandas cannot sort ndarray
    // cells. DuckDB-oracled end-to-end ([[oPqEncode]]): the codebook
    // training is seeded-deterministic, so the oracle re-derives it in
    // SQL and replays the argmin encode; AnnRecallSpec additionally
    // pins quantization-beats-variance and rerun determinism.
    "embed_pq" -> ((s, d) => {
      pqRegister(s, d)
      emb(s, d).select(col("vec_id"),
          round(expr("graft_pq_encode(v).d"), 6).as("sq_err"),
          expr("graft_pq_encode(v).c").as("codes"))
        .orderBy("vec_id")
    }),

    // deterministic random-hyperplane LSH bucketing — the 100 TB path.
    "sim_lsh_buckets" -> ((s, d) => {
      val bitExprs = (0 until nPlanes).map { h =>
        val arr = (1 to dim).map(i => s"${coef(h, i)}D").mkString("array(", ", ", ")")
        s"if(${dot("v", arr)} >= 0, ${1L << h}L, 0L)"
      }
      emb(s, d)
        .withColumn("bucket", expr(bitExprs.mkString("(", " + ", ")")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("label")).as("n_labels"))
        .orderBy("bucket")
    }),

    // LSH-bucketed ANN: the scale path for top-k — hash corpus and
    // queries with 6 hyperplanes (64 buckets), search only bucket
    // co-residents. At 100 TB this turns a full-corpus scan per query
    // into a bucket-keyed equi-join; recall vs brute force is measured
    // in VectorOpsSpec.
    "sim_ann_lsh" -> ((s, d) => {
      val bitExprs = (0 until 6).map { h =>
        val arr = (1 to dim).map(i => s"${coef(h, i)}D").mkString("array(", ", ", ")")
        s"if(graft_dot(v, $arr) >= 0, ${1L << h}L, 0L)"
      }
      val bucketed = emb(s, d)
        .withColumn("bucket", expr(bitExprs.mkString("(", " + ", ")")))
      val q = bucketed.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("bucket").as("qbucket"))
      // no broadcast pin: at this scale AQE broadcasts the tiny query
      // side on its own; at 100× (query side = a real corpus slice) the
      // same hint-free code lets the planner pick SMJ on the bucket key.
      // r20 opt: arg-max aggregate instead of a row_number window — the
      // bucket co-resident blow-up collapses map-side before the
      // exchange (same pick: cos desc, vec_id asc).
      bucketed.join(q, col("bucket") === col("qbucket"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", expr(cosExpr("qv", "v")))
        .groupBy(col("qid"))
        .agg(max_by(struct(col("bucket"), col("vec_id"), col("cos")),
          struct(col("cos"), (-col("vec_id")).as("nv"))).as("best"))
        .select(col("qid"), col("best.bucket").as("bucket"),
          col("best.vec_id").as("nn"),
          round(col("best.cos"), 4).as("cos"))
        .orderBy("qid")
    }),

    // IVF-Flat ANN — the second scale path next to sim_ann_lsh: a
    // TRAINED coarse quantizer (deterministic seeds refined by two
    // k-means iterations — see [[kmeansStep]]) is broadcast; every
    // vector is assigned to its best cell map-side (max_by aggregate, no
    // n×K shuffle), and each query probes only its nprobe=4 nearest
    // cells. At 100 TB the per-query work drops from a full corpus scan
    // to nprobe/K of it, the candidate join is a plain equi-join on cell
    // id, and training would run on a corpus sample instead of the full
    // table (same code, one extra filter).
    "sim_ann_ivf" -> ((s, d) => {
      val e = emb(s, d)
      // the quantizer is a SHIPPED artifact ([[ivfCentroids]]): trained
      // once per fixture, returned as a LocalRelation of literal
      // centroids — this query measures the PROBE path (assignment +
      // nprobe candidate join), which is the per-query cost at 100 TB;
      // training cost amortizes across every query that reuses the
      // index, exactly as a real IVF index is built once and served.
      val cent = ivfCentroids(s, d)
      val scored = e.select(col("vec_id"), col("v"))
        .crossJoin(broadcast(cent))
        .withColumn("ccos", expr(cosExpr("v", "cv")))
      // argmax cos, ties to the smaller cid — struct ordering makes the
      // choice deterministic and the aggregate partially combinable
      val cells = scored.groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc")))
          .as("cell"))
      val corpus = e.select(col("vec_id"), col("v")).join(cells, "vec_id")
      val wq = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      val probes = scored.filter(col("vec_id") % 100 === 0)
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 4)
        .select(col("vec_id").as("qid"), col("cid").as("cell"))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      // r20 opt: arg-max aggregate instead of a row_number window —
      // the nprobe candidate blow-up collapses map-side before the
      // exchange (same pick: cos desc, vec_id asc)
      corpus.join(probes, "cell")
        .filter(col("vec_id") =!= col("qid"))
        .join(q, "qid")
        .withColumn("cos", expr(cosExpr("qv", "v")))
        .groupBy(col("qid"))
        .agg(max_by(struct(col("cell"), col("vec_id"), col("cos")),
          struct(col("cos"), (-col("vec_id")).as("nv"))).as("best"))
        .select(col("qid"), col("best.cell").as("cell"),
          col("best.vec_id").as("nn"),
          round(col("best.cos"), 4).as("cos"))
        .orderBy("qid")
    }),

    // FILTERED ANN — the serve shape every production vector search
    // actually runs: "nearest neighbor AMONG rows matching a metadata
    // predicate" (lang/tenant/date filters). The predicate is pushed
    // into the CANDIDATE side BEFORE the cell-probe join — the
    // assignment table filters first, so the per-query work is
    // Σ |probed cell ∩ filter|, never the corpus and never a
    // post-filter of an unfiltered top-k (which silently returns
    // FEWER than k — the classic filtered-ANN bug this key refuses by
    // construction: filtering candidates, not results, keeps the
    // top-1 exact over the filtered candidate set). Queries are
    // unfiltered; a query whose probed cells hold no matching
    // candidate drops out on both engine and oracle. At 100 TB the
    // filter column lives in the fixed-width assignment index (vec_id,
    // cell, label), so the probe touches vectors only for surviving
    // candidates — AnnRecallSpec pins recall vs FILTERED brute force.
    "sim_ann_ivf_filtered" -> ((s, d) => {
      val e = emb(s, d)
      val cent = ivfCentroids(s, d)
      val scored = e.select(col("vec_id"), col("v"))
        .crossJoin(broadcast(cent))
        .withColumn("ccos", expr(cosExpr("v", "cv")))
      val cells = scored.groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc")))
          .as("cell"))
      // the metadata predicate, applied to the assignment/corpus side
      // BEFORE the probe join — candidates shrink, results stay exact
      val corpus = e.filter(col("label") % 3 === 1)
        .select(col("vec_id"), col("v")).join(cells, "vec_id")
      val wq = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      val probes = scored.filter(col("vec_id") % 100 === 0)
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 4)
        .select(col("vec_id").as("qid"), col("cid").as("cell"))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      // r20 opt: arg-max aggregate instead of a row_number window
      // (the sim_ann_ivf rationale; same pick order)
      corpus.join(probes, "cell")
        .filter(col("vec_id") =!= col("qid"))
        .join(q, "qid")
        .withColumn("cos", expr(cosExpr("qv", "v")))
        .groupBy(col("qid"))
        .agg(max_by(struct(col("cell"), col("vec_id"), col("cos")),
          struct(col("cos"), (-col("vec_id")).as("nv"))).as("best"))
        .select(col("qid"), col("best.cell").as("cell"),
          col("best.vec_id").as("nn"),
          round(col("best.cos"), 4).as("cos"))
        .orderBy("qid")
    }),

    // ADAPTIVE FILTERED ANN — the production fallback
    // sim_ann_ivf_filtered's ≥70% law deliberately leaves open: under
    // a HIGHLY selective predicate (here 1%: label % 100 = 7) the
    // nprobe-bounded candidate set can hold no matching row for many
    // queries. The adaptive serve ESCALATES exactly those queries to
    // a brute-force scan of the FILTERED subset — bounded by the
    // filter's cardinality (1% of the corpus), not the corpus — so
    // every answerable query answers while cheap queries keep the
    // probe's cost. Both paths are declarative (anti-join splits the
    // query set; no driver loop), the `path` column is part of the
    // oracled output, and AnnRecallSpec pins: 100% of answerable
    // queries answered, escalated answers EQUAL the filtered optimum,
    // and the escalation path genuinely taken. At 100 TB the
    // escalation cost is |filter| per escalated query — the right
    // trade exactly when the filter is selective enough to starve the
    // probe, which is also when |filter| is smallest.
    "sim_ann_ivf_filtered_adaptive" -> ((s, d) => {
      val e = emb(s, d)
      val cent = ivfCentroids(s, d)
      val scored = e.select(col("vec_id"), col("v"))
        .crossJoin(broadcast(cent))
        .withColumn("ccos", expr(cosExpr("v", "cv")))
      val cells = scored.groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc")))
          .as("cell"))
      val fe = e.filter(col("label") % 100 === 7 &&
          col("vec_id") % 11 === 3)
        .select(col("vec_id"), col("v"))
      val fcorpus = fe.join(cells, "vec_id")
      val wq = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      val probes = scored.filter(col("vec_id") % 100 === 0)
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 4)
        .select(col("vec_id").as("qid"), col("cid").as("cell"))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val probed = fcorpus.join(probes, "cell")
        .filter(col("vec_id") =!= col("qid"))
        .join(q, "qid")
        .withColumn("path", lit("probe"))
      // escalation: queries whose probed cells hold NO matching
      // candidate brute-force the filtered subset (|filter|-bounded)
      val missing = q.join(probed.select("qid").distinct(),
        Seq("qid"), "left_anti")
      val brute = missing.crossJoin(broadcast(fe))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("path", lit("brute"))
      // r20 opt: arg-max aggregate instead of a row_number window
      // (the sim_ann_ivf rationale; same pick order). `path` rides in
      // the winning struct — a query is either probe-answered or
      // escalated, never both ranked together with a tie.
      probed.select(col("qid"), col("qv"), col("vec_id"), col("v"),
          col("path"))
        .unionByName(brute.select(col("qid"), col("qv"),
          col("vec_id"), col("v"), col("path")))
        .withColumn("cos", expr(cosExpr("qv", "v")))
        .groupBy(col("qid"))
        .agg(max_by(struct(col("path"), col("vec_id"), col("cos")),
          struct(col("cos"), (-col("vec_id")).as("nv"))).as("best"))
        .select(col("qid"), col("best.path").as("path"),
          col("best.vec_id").as("nn"),
          round(col("best.cos"), 4).as("cos"))
        .orderBy("qid")
    }),

    // LATE-INTERACTION retrieval (the ColBERT serve shape) — the
    // multi-vector family the single-vector stack lacks: query and doc
    // are each a BAG of token vectors, and relevance is MaxSim =
    // Σ over query tokens of the max cosine against any doc token —
    // finer-grained than one pooled cosine (a doc matching each query
    // token somewhere beats a doc matching the average). Token vectors
    // derive deterministically from the fixtures: each 64-dim embedding
    // slices into 4×16-dim pseudo-tokens. Exactness discipline: slice
    // norms precompute once per side, every dot is the pinned
    // left-to-right graft_dot fold, GREATEST and the left-assoc 4-term
    // sum replay textually in the oracle — scores are bit-identical
    // cross-engine, so ranking on the RAW score is deterministic.
    // Scale shape: brute-force over corpus × queries with the query
    // side broadcast (the honest baseline; the IVF candidate join of
    // sim_hybrid_rrf_ann is the 100 TB path for the first stage, with
    // MaxSim as the re-rank stage over its bounded candidates — where
    // late interaction is actually served in production).
    "sim_maxsim_late" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("v"))
      val q = maxsimTokens(e.filter(col("vec_id") % 100 === 0), "q")
        .withColumnRenamed("vec_id", "qid")
      val corpus = maxsimTokens(e, "d")
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("ms").desc, col("vec_id").asc)
      corpus.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("ms", expr(maxsimExpr))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("nn"),
          round(col("ms"), 4).as("maxsim"))
        .orderBy("qid", "rn")
    }),

    // TWO-STAGE late-interaction serve — the production shape
    // sim_maxsim_late's scaladoc promises: stage 1 bounds WHICH docs a
    // query touches (the IVF candidate join — nprobe=4 trained cells,
    // so candidates are Σ probed-cell sizes, never the corpus), stage
    // 2 re-ranks ONLY those candidates by MaxSim over the 4×16-dim
    // token bags. At 100 TB this is exactly how ColBERT-style systems
    // deploy: an ANN first stage feeds a late-interaction re-ranker
    // whose per-query cost is candidates × 16 token cosines, bounded
    // by the index. Fully oracled: the quantizer re-derives via
    // oKmeans, the probe/candidate set replays relationally, and the
    // MaxSim arithmetic replays textually (pinned folds) — candidate
    // sets and raw-score ranks agree bitwise cross-engine.
    "sim_maxsim_rerank" -> ((s, d) => {
      val e = emb(s, d)
      val cent = ivfCentroids(s, d)
      val scored = e.select(col("vec_id"), col("v"))
        .crossJoin(broadcast(cent))
        .withColumn("ccos", expr(cosExpr("v", "cv")))
      val cells = scored.groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc")))
          .as("cell"))
      val wq = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      val probes = scored.filter(col("vec_id") % 100 === 0)
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 4)
        .select(col("vec_id").as("qid"), col("cid").as("cell"))
      val q = maxsimTokens(e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid2"), col("v")), "q")
      val corpus = maxsimTokens(e.select(col("vec_id"), col("v")), "d")
        .join(cells, "vec_id")
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("ms").desc, col("vec_id").asc)
      corpus.join(probes, "cell") // the equi-join IS the index probe
        .filter(col("vec_id") =!= col("qid"))
        .join(q, col("qid") === col("qid2"))
        .withColumn("ms", expr(maxsimExpr))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("vec_id").as("nn"),
          round(col("ms"), 4).as("maxsim"))
        .orderBy("qid", "rn")
    }),

    // IVF RETRAIN — the action sim_ann_ivf_append's flag calls for,
    // completing the index lifecycle (build → serve → append+monitor →
    // retrain): one k-means refinement of the shipped quantizer over
    // the grown corpus's training half (the same half-sample
    // discipline training used — a quantizer needs the density shape,
    // never every point), then a before/after health report per cell:
    // member counts under old vs new centroids, the centroid's own
    // movement (cosine old-vs-new), and the mean member fit before vs
    // after with an improvement marker. At 100 TB: the refinement is
    // one broadcast-assign + one K×64 partial-agg shuffle over the
    // sample; the report aggregates are map-side-combined K-row
    // outputs. Fully oracled — cent3 re-derives in SQL (oKmeansSteps),
    // both assignments and round-6 means replay exactly.
    "sim_ann_ivf_retrain" -> ((s, d) => {
      val e = emb(s, d)
      val cent2 = ivfCentroids(s, d)
      val cent3 = kmeansStep(e.filter(col("vec_id") % 2 === 0), cent2)
      def stats(cent: DataFrame, n: String, m: String): DataFrame =
        ivfAssign(cent, e).groupBy(col("cell").as("cid"))
          .agg(count(lit(1)).as(n), round(avg("ccos"), 6).as(m))
      val before = stats(cent2, "n_before", "mean_before")
      val after = stats(cent3, "n_after", "mean_after")
      val shift = cent2.select(col("cid"), col("cv").as("cv2"))
        .join(cent3.select(col("cid"), col("cv").as("cv3")), "cid")
        .select(col("cid"),
          round(expr(cosExpr("cv2", "cv3")), 6).as("shift_cos"))
      // keyed on the RETRAINED quantizer's cells (a subset of the old
      // cids by construction — a cell that loses every train member
      // drops out and its members disperse)
      after.join(before, Seq("cid"), "left")
        .join(shift, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          col("n_after"),
          coalesce(col("mean_before"), lit(0.0)).as("mean_before"),
          col("mean_after"),
          coalesce(col("shift_cos"), lit(0.0)).as("shift_cos"))
        .withColumn("improved", expr(
          "CAST(CASE WHEN mean_after > mean_before THEN 1 ELSE 0 END " +
            "AS INT)"))
        .orderBy("cid")
    }),

    // IVF INDEX MAINTENANCE — the day-two reality sim_ann_ivf's
    // build-once story leaves out: a vector batch arrives and must
    // join the PERSISTED index without retraining the quantizer or
    // re-assigning the corpus. Work per append: broadcast the K
    // centroids, argmax-assign the BATCH only (map-side max_by), and
    // fold per-cell health out of the persisted assignment table with
    // one K-row aggregate — the corpus vectors are never re-read. The
    // report is the operational surface: per cell, its size before,
    // how many the batch added, the round-6 mean centroid-cosine of
    // old and new members, the drift between them, and a
    // retrain-trigger flag at the DECLARED thresholds (new members fit
    // >0.01 worse than the cell's historical mean, or the batch more
    // than doubles the cell) — the signal an index operator pages on.
    // Fully oracled: DuckDB re-derives the quantizer (oKmeans),
    // replays the same argmax and the same round-6 means, and computes
    // the same flags; AnnRecallSpec proves grown == from-scratch
    // assignments, which transfers sim_ann_ivf's recall band to the
    // post-append index.
    "sim_ann_ivf_append" -> ((s, d) => {
      val hist = ivfHistAssignments(s, d)
      val batch = ivfBatchAssignments(s, d)
      val h = hist.groupBy("cell")
        .agg(count(lit(1)).as("n_before"),
          round(avg("ccos"), 6).as("mean_before"))
      val b = batch.groupBy("cell")
        .agg(count(lit(1)).as("n_added"),
          round(avg("ccos"), 6).as("mean_new"))
      h.join(b, Seq("cell"), "full")
        .select(col("cell").as("cid"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_added"), lit(0L)).as("n_added"),
          coalesce(col("mean_before"), lit(0.0)).as("mean_before"),
          coalesce(col("mean_new"), lit(0.0)).as("mean_new"))
        .withColumn("drift", expr(
          """CASE WHEN n_added > 0 AND n_before > 0
            |THEN ROUND(mean_new - mean_before, 6)
            |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin))
        .withColumn("retrain", expr(
          """CAST(CASE WHEN (n_added > 0 AND n_before > 0 AND
            |  mean_new < mean_before - 0.01D) OR n_added * 2 > n_before
            |THEN 1 ELSE 0 END AS INT)""".stripMargin))
        .orderBy("cid")
    }),

    // STREAMING vector ingest — sim_ann_ivf_append under Structured
    // Streaming, where a production embedding pipeline actually runs:
    // vectors arrive in micro-batches (3 feed files read with
    // maxFilesPerTrigger=1) and each foreachBatch argmax-assigns ONLY
    // its drop against the broadcast centroids, appending fixed-width
    // (vec_id, cell, ccos) rows to the persisted assignment table.
    // The index grows by exactly the drop, the corpus is never
    // re-assigned, and the final table IS the from-scratch assignment
    // (per-vector argmax is corpus-independent — the
    // sim_ann_ivf_append equality law, now under the trigger, so the
    // output is fully oracled by TOTAL re-derivation in SQL and is
    // split-invariant by construction). At 100 TB: each drop pays one
    // broadcast-assign over itself; the persisted table is the serve
    // index every probe key reads.
    "stream_ivf_append" -> ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      val cent = ivfCentroids(s, d)
      val hist = ivfHistAssignments(s, d)
      val run = Tables.scratch(d, "ivf_stream_run")
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(run)): Unit
      val feed = s"$run/feed"
      Tables(s, d, "embeddings").filter(col("vec_id") % 5 === 3)
        .select("vec_id", "embedding")
        .repartitionByRange(3, col("vec_id"))
        .write.parquet(feed)
      val idx = s"$run/assign"
      hist.write.parquet(idx)
      val stream = s.readStream.schema(s.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      val q = stream.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$run/cp")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val bv = b.withColumn("v",
            expr("transform(embedding, x -> cast(x AS double))"))
          ivfAssign(cent, bv).write.mode("append").parquet(idx)
          ()
        }
        .start()
      q.awaitTermination()
      s.read.parquet(idx)
        .select(col("vec_id"), col("cell"),
          round(col("ccos"), 6).as("ccos"))
        .orderBy("vec_id")
    }),

    // IVF DELETE — the lifecycle's last leg (build → serve → append →
    // retrain → DELETE): vectors LEAVE the index (document takedowns,
    // dedup evictions, the user-deletion path) by anti-joining the
    // persisted ASSIGNMENT table with the tombstone id set — only the
    // fixed-width index rows move; the vectors are never re-read and
    // no quantizer work happens. Tombstones here: every 7th history
    // vector PLUS all of the SMALLEST cell id present (cell ids are
    // sparse — they are the seed indices that survive training) — the
    // second clause empties a whole cell on purpose, because a dead
    // cell is the case the serve path must handle (drop the probe,
    // never divide by zero). The report
    // is the operational surface: per cell, size before, tombstones
    // removed, survivors, round-6 mean fit before vs after (removal
    // shifts cell health — survivors' mean ≠ before-mean wherever the
    // removed members weren't average), and the EMPTIED flag
    // (non-vacuity spec-asserted in AnnRecallSpec along with the
    // exactness law: survivors == from-scratch assignment of the
    // surviving corpus). At 100 TB: one equi anti-join on the
    // assignment table + K-row map-side-combined aggregates — cost
    // tracks |index| + |tombstones|, independent of vector bytes.
    "sim_ann_ivf_delete" -> ((s, d) => {
      val hist = ivfHistAssignments(s, d)
      // one scalar off a K-row aggregate — a bounded driver artifact
      // (the K-centroid discipline), replayed as a subquery in SQL
      val minCell = hist.agg(min(col("cell"))).first.getLong(0)
      val tomb = hist
        .filter(col("vec_id") % 7 === 0 || col("cell") === minCell)
        .select(col("vec_id"))
      val live = hist.join(tomb, Seq("vec_id"), "left_anti")
      val gone = hist.join(tomb, Seq("vec_id"), "left_semi")
      val b = hist.groupBy("cell")
        .agg(count(lit(1)).as("n_before"),
          round(avg("ccos"), 6).as("mean_before"))
      val r = gone.groupBy("cell").agg(count(lit(1)).as("n_removed"))
      val a = live.groupBy("cell")
        .agg(count(lit(1)).as("n_after"),
          round(avg("ccos"), 6).as("mean_after"))
      b.join(r, Seq("cell"), "left")
        .join(a, Seq("cell"), "left")
        .select(col("cell").as("cid"),
          col("n_before"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          col("mean_before"),
          coalesce(col("mean_after"), lit(0.0)).as("mean_after"))
        .withColumn("emptied", expr(
          "CAST(CASE WHEN n_after = 0 THEN 1 ELSE 0 END AS INT)"))
        .orderBy("cid")
    }),

    // IVF + PQ — the two scale halves COMBINED, the memory-bounded ANN
    // capstone: IVF bounds WHICH vectors a query touches (nprobe=4
    // trained cells), PQ bounds the BYTES per touched vector (the
    // corpus side of the candidate scoring is the 8-code string, not
    // the 64-double vector — at 100 TB that is the difference between
    // shuffling the corpus and shuffling 3% of it). Candidates score
    // by graft_pq_adc (asymmetric distance: full query vs decoded
    // codes, one fused loop, nothing materialized); the top-8 ADC
    // shortlist then re-ranks EXACTLY against true vectors — the
    // standard two-stage serve shape, and the gather join touches 8
    // rows per query regardless of corpus size. Both
    // index artifacts (centroids, codebook) are fixture-stamped and
    // shipped. DuckDB-oracled serve leg: BOTH artifacts re-derive in
    // SQL (oKmeans + oPqEncode) and ADC replays as cosine against the
    // flattened reconstruction; AnnRecallSpec additionally pins answer
    // quality vs brute force and agreement with rerun.
    "sim_ann_ivfpq" -> ((s, d) => {
      val e = emb(s, d)
      val cent = ivfCentroids(s, d)
      pqRegister(s, d)
      val scored = e.select(col("vec_id"), col("v"))
        .crossJoin(broadcast(cent))
        .withColumn("ccos", expr(cosExpr("v", "cv")))
      val cells = scored.groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc")))
          .as("cell"))
      // the candidate corpus carries ONLY (vec_id, cell, codes)
      val corpus = e.select(col("vec_id"),
          expr("graft_pq_encode(v).c").as("codes"))
        .join(cells, "vec_id")
      val wq = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cid").asc)
      val probes = scored.filter(col("vec_id") % 100 === 0)
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 4)
        .select(col("vec_id").as("qid"), col("cid").as("cell"))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val wAdc = Window.partitionBy(col("qid"))
        .orderBy(col("adc").desc, col("vec_id").asc)
      // ADC shortlist: top-8 by compressed score — the only stage that
      // touches the candidate mass, and it reads 8-byte codes, not
      // vectors
      val shortlist = corpus.join(probes, "cell")
        .filter(col("vec_id") =!= col("qid"))
        .join(q, "qid")
        .withColumn("adc", expr("graft_pq_adc(codes, qv)"))
        .withColumn("rn", row_number().over(wAdc)).filter(col("rn") <= 8)
        .drop("rn")
      // exact re-rank gather: only the 8-per-query shortlist joins back
      // to true vectors (a broadcastable side at any corpus scale) —
      // the standard two-stage IVF+PQ serve shape
      // r20 opt: arg-max aggregate instead of a row_number window for
      // the exact re-rank pick (the sim_ann_ivf rationale)
      shortlist.join(e.select(col("vec_id"), col("v")), "vec_id")
        .withColumn("cos", expr(cosExpr("qv", "v")))
        .groupBy(col("qid"))
        .agg(max_by(
          struct(col("cell"), col("vec_id"), col("cos"), col("adc")),
          struct(col("cos"), (-col("vec_id")).as("nv"))).as("best"))
        .select(col("qid"), col("best.cell").as("cell"),
          col("best.vec_id").as("nn"),
          round(col("best.cos"), 4).as("cos"),
          round(col("best.adc"), 4).as("adc_cos"))
        .orderBy("qid")
    }),

    // multimodal record assembly: text metadata + embedding in one row,
    // filtered on both modalities.
    "mm_multimodal_join" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val e = emb(s, d)
      docs.join(e, docs("doc_id") === e("vec_id"), "inner")
        .withColumn("meta",
          struct(col("lang"), col("source"), col("n_chars")))
        .filter(col("meta.n_chars") > 200 && size(col("embedding")) === dim)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.source").as("source"), col("meta.n_chars").as("n_chars"),
          col("label"), round(expr(norm("v")), 4).as("emb_norm"))
        .orderBy("doc_id")
    })
  )

  private val oracleTopK =
    s"""${oPairs(100)}
       |SELECT qid, rn, vec_id AS neighbor, ROUND(cos, 4) AS cos FROM (
       |  SELECT qid, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cos DESC, vec_id ASC) AS rn FROM pairs)
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  /** RRF oracle: the two legs replayed exactly — raw-cosine ranks
    * (bit-identical pinned folds) and round-4-BM25 ranks (the rounded
    * score is the cross-engine object), fused with the identical
    * left-to-right sum. */
  /** Lexical-leg CTEs shared by both hybrid oracles (expects `e` to be
    * defined; defines qt → toks → tf → dfreq → st → lexscore → lex). */
  private def oLexCtes: String =
    s"""qt AS (SELECT doc_id AS query_id,
       |    UNNEST(LIST_DISTINCT(t[1:5])) AS term
       |  FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t FROM documents)
       |  WHERE doc_id % 100 = 0
       |    AND doc_id IN (SELECT vec_id FROM embeddings)),
       |toks AS (SELECT doc_id, LEN(t) AS dl, UNNEST(t) AS term
       |         FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS t
       |               FROM documents)),
       |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
       |       WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
       |dfreq AS (SELECT term, COUNT(*) AS df
       |          FROM (SELECT doc_id,
       |                  UNNEST(LIST_DISTINCT(STR_SPLIT(text, ' ')))
       |                    AS term
       |                FROM documents)
       |          WHERE term IN (SELECT term FROM qt) GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n,
       |         CAST(SUM(LEN(STR_SPLIT(text, ' '))) AS BIGINT) AS sumdl
       |       FROM documents),
       |lexscore AS (SELECT query_id, doc_id,
       |    ROUND(SUM(LN(1.0 + (n - df + 0.5) / (df + 0.5))
       |      * tf * 2.2 /
       |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl
       |        / (CAST(sumdl AS DOUBLE) / n)))), 4) AS bm25
       |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term), st
       |  WHERE doc_id <> query_id GROUP BY 1, 2),
       |lex AS (SELECT query_id, doc_id, rn AS lex_rank
       |  FROM (SELECT query_id, doc_id,
       |          ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY bm25 DESC, doc_id ASC) AS rn FROM lexscore)
       |  WHERE rn <= 10)""".stripMargin

  /** RRF fusion select shared by both hybrid oracles (expects `lex`
    * and `vec`). */
  private def oRrfSelect: String =
    """SELECT query_id, doc_id,
      |  COALESCE(lex_rank, 0) AS lex_rank,
      |  COALESCE(vec_rank, 0) AS vec_rank,
      |  ROUND(COALESCE(1.0 / (60 + lex_rank), 0)
      |    + COALESCE(1.0 / (60 + vec_rank), 0), 6) AS rrf
      |FROM lex FULL JOIN vec USING (query_id, doc_id)
      |ORDER BY query_id, doc_id""".stripMargin

  private def oHybridRrf: String =
    s"""WITH e AS (SELECT vec_id,
       |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
       |vpairs AS (
       |  SELECT qid, vec_id, ${oCos("qv", "v")} AS cos
       |  FROM e CROSS JOIN q WHERE vec_id <> qid),
       |vec AS (SELECT qid AS query_id, vec_id AS doc_id, rn AS vec_rank
       |  FROM (SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY cos DESC, vec_id ASC) AS rn FROM vpairs)
       |  WHERE rn <= 10),
       |$oLexCtes
       |$oRrfSelect""".stripMargin

  /** [[oHybridRrf]] with the vector leg replaced by the IVF serve:
    * centroids re-derived via [[oKmeans]], nprobe=4 candidate join,
    * rank over the candidate set only. */
  private def oHybridRrfAnn: String =
    s"""WITH e AS (SELECT vec_id,
       |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |$oKmeans,
       |scored AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
       |  FROM e CROSS JOIN cent2 c),
       |cells AS (SELECT vec_id, cid AS cell FROM (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored) WHERE rn = 1),
       |probes AS (SELECT vec_id AS qid, cid AS cell FROM (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored
       |  WHERE vec_id % 100 = 0) WHERE rn <= 4),
       |cand AS (SELECT p.qid, s.vec_id
       |  FROM probes p JOIN cells s ON s.cell = p.cell
       |  WHERE s.vec_id <> p.qid),
       |vpairs AS (SELECT c.qid, c.vec_id, ${oCos("qe.v", "ce.v")} AS cos
       |  FROM cand c JOIN e ce ON ce.vec_id = c.vec_id
       |              JOIN e qe ON qe.vec_id = c.qid),
       |vec AS (SELECT qid AS query_id, vec_id AS doc_id, rn AS vec_rank
       |  FROM (SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY cos DESC, vec_id ASC) AS rn FROM vpairs)
       |  WHERE rn <= 10),
       |$oLexCtes
       |$oRrfSelect""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim_cosine_topk" -> oracleTopK,
    "sim_hybrid_rrf" -> oHybridRrf,
    "sim_hybrid_rrf_ann" -> oHybridRrfAnn,
    // exact integer Gram: ×10⁴ fixed-point quantization, then every
    // product/sum is integer — SUM goes HUGEINT in DuckDB, cast back
    "embed_pca_gram" ->
      """WITH q AS (SELECT LIST_TRANSFORM(embedding,
        |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
        |  FROM embeddings)
        |SELECT i, j, CAST(SUM(q[i + 1] * q[j + 1]) AS BIGINT) AS gram
        |FROM q, UNNEST(GENERATE_SERIES(0, 63)) AS ti(i),
        |     UNNEST(GENERATE_SERIES(0, 63)) AS tj(j)
        |WHERE i <= j
        |GROUP BY i, j ORDER BY i, j""".stripMargin,
    "sim_mrl_truncate" -> {
      def dot16(a: String, b: String): String =
        s"LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), LIST_TRANSFORM(" +
          s"GENERATE_SERIES(1, 16), i -> $a[i] * $b[i])), (x, y) -> x + y)"
      val cos16 = s"${dot16("qv", "v")} / (SQRT(${dot16("qv", "qv")})" +
        s" * SQRT(${dot16("v", "v")}))"
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
         |pairs AS (
         |  SELECT qid, qv, vec_id, ${oCos("qv", "v")} AS cosf,
         |    $cos16 AS cost
         |  FROM e CROSS JOIN q WHERE vec_id <> qid),
         |ranked AS (SELECT qid, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cosf DESC, vec_id ASC) AS rf,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cost DESC, vec_id ASC) AS rt
         |  FROM pairs),
         |ov AS (SELECT f.qid, COUNT(*) AS overlap5
         |  FROM (SELECT qid, vec_id FROM ranked WHERE rf <= 5) f
         |  JOIN (SELECT qid, vec_id FROM ranked WHERE rt <= 5) t
         |    ON f.qid = t.qid AND f.vec_id = t.vec_id
         |  GROUP BY f.qid)
         |SELECT q.qid, COALESCE(overlap5, 0) AS overlap5,
         |  ROUND(SQRT(${dot16("qv", "qv")}) /
         |    SQRT(${oDot("qv", "qv")}), 4) AS retained
         |FROM q LEFT JOIN ov ON q.qid = ov.qid
         |ORDER BY q.qid""".stripMargin
    },
    "embed_bitpack_hamming" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |packed AS (SELECT vec_id, v,
         |  LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
         |    LIST_TRANSFORM(GENERATE_SERIES(1, 63), i ->
         |      CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
         |           ELSE CAST(0 AS BIGINT) END)),
         |    (x, y) -> x + y) AS code
         |  FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, code AS qcode FROM packed
         |      WHERE vec_id % 100 = 0),
         |base AS (
         |  SELECT qid, vec_id, BIT_COUNT(XOR(code, qcode)) AS ham,
         |    ${oDot("qv", "v")} / (${oNorm("qv")} * ${oNorm("v")}) AS cos
         |  FROM packed CROSS JOIN q WHERE vec_id <> qid),
         |ranked AS (
         |  SELECT qid, vec_id, ham,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY ham ASC, vec_id ASC) AS rh,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id ASC) AS rc
         |  FROM base),
         |ovl AS (SELECT a.qid, COUNT(*) AS overlap5
         |  FROM (SELECT qid, vec_id FROM ranked WHERE rh <= 5) a
         |  JOIN (SELECT qid, vec_id FROM ranked WHERE rc <= 5) b
         |    ON a.qid = b.qid AND a.vec_id = b.vec_id
         |  GROUP BY a.qid)
         |SELECT r.qid, r.ham AS best_ham,
         |  CAST(COALESCE(overlap5, 0) AS BIGINT) AS overlap5
         |FROM ranked r LEFT JOIN ovl ON r.qid = ovl.qid
         |WHERE r.rh = 1 ORDER BY r.qid""".stripMargin,
    "sim_ann_bitpack" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |packed AS (SELECT vec_id, v,
         |  LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
         |    LIST_TRANSFORM(GENERATE_SERIES(1, 63), i ->
         |      CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
         |           ELSE CAST(0 AS BIGINT) END)),
         |    (x, y) -> x + y) AS code
         |  FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, code AS qcode FROM packed
         |      WHERE vec_id % 100 = 0),
         |base AS (
         |  SELECT qid, vec_id, BIT_COUNT(XOR(code, qcode)) AS ham,
         |    ${oDot("qv", "v")} / (${oNorm("qv")} * ${oNorm("v")}) AS cos
         |  FROM packed CROSS JOIN q WHERE vec_id <> qid),
         |ranked AS (
         |  SELECT qid, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY ham ASC, vec_id ASC) AS rh,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id ASC) AS rtrue
         |  FROM base),
         |short AS (
         |  SELECT qid, vec_id, cos, rtrue,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id ASC) AS rn
         |  FROM ranked WHERE rh <= 50)
         |SELECT qid, rn, vec_id AS neighbor, ROUND(cos, 4) AS cos,
         |  rtrue <= 5 AS in_true_top5
         |FROM short WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "ml_kmeans_step" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e
         |      WHERE vec_id % 64 = 0 AND vec_id < 512),
         |a AS (SELECT vec_id, v, cid,
         |    ${oDot("v", "v")} - 2 * ${oDot("v", "cv")} + ${oDot("cv", "cv")}
         |      AS dist2
         |  FROM e CROSS JOIN c),
         |asg AS (SELECT vec_id, v, cid, dist2 FROM (
         |  SELECT vec_id, v, cid, dist2, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS rn
         |  FROM a) WHERE rn = 1),
         |dims AS (SELECT cid,
         |    UNNEST(GENERATE_SERIES(1, 64)) AS dimi, UNNEST(v) AS x
         |  FROM asg),
         |mu AS (SELECT cid, dimi, AVG(x) AS mu FROM dims
         |       GROUP BY cid, dimi),
         |nc AS (SELECT cid, ROUND(SQRT(SUM(mu * mu)), 4) AS centroid_norm
         |       FROM mu GROUP BY cid),
         |st AS (SELECT cid, COUNT(*) AS n_members,
         |         ROUND(SUM(dist2), 4) AS inertia
         |       FROM asg GROUP BY cid)
         |SELECT st.cid, n_members, inertia, centroid_norm
         |FROM st JOIN nc ON st.cid = nc.cid ORDER BY st.cid""".stripMargin,
    // encode/serve leg only: codebook training is replayed in SQL from
    // the same deterministic seeds, so the shipped artifact (byte-equal
    // to inline training) and the oracle's re-derivation agree; sq_err
    // is folded in subspace order to mirror the encoder's m=0..7 loop
    "embed_pq" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$oPqEncode
         |SELECT vec_id,
         |  ROUND(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
         |    LIST(dist ORDER BY sidx)), (x, y) -> x + y), 6) AS sq_err,
         |  STRING_AGG(CAST(cid AS VARCHAR), ',' ORDER BY sidx) AS codes
         |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // serve leg only, BOTH index artifacts re-derived in SQL: IVF
    // centroids via oKmeans, the PQ codebook via oPqEncode. The ADC
    // score replays as plain cosine against the flattened per-subspace
    // reconstruction — graft_pq_adc's interleaved m,j loop accumulates
    // dot/nc/nq each in flat i=0..63 order, exactly oCos's left fold,
    // and IEEE multiply commutes, so the doubles are bitwise equal and
    // all three rank windows agree. Train legs stay scalatest.
    "sim_ann_ivfpq" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$oKmeans,
         |$oPqEncode,
         |recon AS (SELECT n.vec_id,
         |    FLATTEN(LIST(c.cv ORDER BY n.sidx)) AS rv
         |  FROM enc n JOIN cb2 c ON c.sidx = n.sidx AND c.cid = n.cid
         |  GROUP BY n.vec_id),
         |ivfsc AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent2 c),
         |cells AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM ivfsc) WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM ivfsc
         |  WHERE vec_id % 100 = 0) WHERE rn <= 4),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
         |cand AS (SELECT p.qid, s.vec_id, s.cell, qq.qv,
         |    ${oCos("qq.qv", "r.rv")} AS adc
         |  FROM cells s
         |    JOIN probes p ON s.cell = p.cell
         |    JOIN recon r ON r.vec_id = s.vec_id
         |    JOIN q qq ON qq.qid = p.qid
         |  WHERE s.vec_id <> p.qid),
         |shortl AS (SELECT qid, vec_id, cell, qv, adc FROM (
         |  SELECT qid, vec_id, cell, qv, adc, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY adc DESC, vec_id ASC) AS rn
         |  FROM cand) WHERE rn <= 8),
         |rer AS (SELECT s.qid, s.cell, s.vec_id, s.adc,
         |    ${oCos("s.qv", "ce.v")} AS cos
         |  FROM shortl s JOIN e ce ON ce.vec_id = s.vec_id)
         |SELECT qid, cell, vec_id AS nn, ROUND(cos, 4) AS cos,
         |  ROUND(adc, 4) AS adc_cos FROM (
         |  SELECT qid, cell, vec_id, cos, adc, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
         |  FROM rer) WHERE rn = 1 ORDER BY qid""".stripMargin,
    "sim_mips" ->
      s"""WITH e AS (SELECT vec_id, label,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
         |pairs AS (
         |  SELECT qid, vec_id, ${oDot("qv", "v")} AS ip
         |  FROM e CROSS JOIN q WHERE vec_id <> qid)
         |SELECT qid, rn, vec_id AS neighbor, ROUND(ip, 4) AS ip FROM (
         |  SELECT qid, vec_id, ip, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY ip DESC, vec_id ASC) AS rn FROM pairs)
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "sim_knn_label" ->
      s"""${oPairs(100)},
         |top5 AS (SELECT qid, vec_id, label FROM (
         |  SELECT qid, vec_id, label, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS rn FROM pairs) WHERE rn <= 5),
         |votes AS (SELECT qid, label, COUNT(*) AS n_votes FROM top5
         |  GROUP BY qid, label),
         |pred AS (SELECT qid, label AS predicted, n_votes FROM (
         |  SELECT qid, label, n_votes, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY n_votes DESC, label ASC) AS vr FROM votes) WHERE vr = 1)
         |SELECT p.qid, p.predicted, p.n_votes, e.label AS actual,
         | p.predicted = e.label AS correct
         |FROM pred p JOIN embeddings e ON p.qid = e.vec_id
         |ORDER BY p.qid""".stripMargin,
    "ml_eval_confusion" ->
      s"""${oPairs(10)},
         |top5 AS (SELECT qid, vec_id, label FROM (
         |  SELECT qid, vec_id, label, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS rn FROM pairs) WHERE rn <= 5),
         |votes AS (SELECT qid, label, COUNT(*) AS n_votes FROM top5
         |  GROUP BY qid, label),
         |pred AS (SELECT qid, label AS predicted FROM (
         |  SELECT qid, label, n_votes, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY n_votes DESC, label ASC) AS vr FROM votes) WHERE vr = 1),
         |j AS (SELECT p.qid, p.predicted, e.label AS actual
         |      FROM pred p JOIN embeddings e ON p.qid = e.vec_id),
         |ba AS (SELECT actual AS label, COUNT(*) AS n_actual,
         |         COUNT(*) FILTER (predicted = actual) AS tp
         |       FROM j GROUP BY actual),
         |bp AS (SELECT predicted AS label, COUNT(*) AS n_pred
         |       FROM j GROUP BY predicted),
         |m AS (SELECT label,
         |    CAST(COALESCE(n_actual, 0) AS BIGINT) AS n_actual,
         |    CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
         |    CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred
         |  FROM ba FULL JOIN bp USING (label)),
         |pr AS (SELECT label, n_actual, tp, n_pred,
         |    CASE WHEN n_pred > 0
         |      THEN ROUND(CAST(tp AS DOUBLE) / n_pred, 4) ELSE 0.0 END
         |      AS precision,
         |    CASE WHEN n_actual > 0
         |      THEN ROUND(CAST(tp AS DOUBLE) / n_actual, 4) ELSE 0.0 END
         |      AS recall
         |  FROM m)
         |SELECT label, n_actual, tp, n_pred, precision, recall,
         |  CASE WHEN precision + recall > 0
         |    THEN ROUND(2 * precision * recall / (precision + recall), 4)
         |    ELSE 0.0 END AS f1
         |FROM pr ORDER BY label""".stripMargin,
    "dedup_embed_cosine" ->
      s"""${oPairs(50)}
         |SELECT qid, vec_id AS nn, ROUND(cos, 4) AS cos,
         | cos >= 0.95 AS is_dup FROM (
         |  SELECT qid, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS rn FROM pairs)
         |WHERE rn = 1 ORDER BY qid""".stripMargin,
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |aug AS (SELECT vec_id, v FROM e
         |  UNION ALL
         |  SELECT vec_id + 100000, LIST_TRANSFORM(v, (x, i) -> x +
         |    CASE WHEN i = 1 THEN CAST(0.25 AS DOUBLE)
         |         ELSE CAST(0 AS DOUBLE) END)
         |  FROM e WHERE vec_id % 20 = 0),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |         WHERE vec_id % 29 = 0),
         |sc AS (SELECT a.vec_id, a.v, c.cid, ${oCos("a.v", "c.cv")} AS ccos
         |  FROM aug a CROSS JOIN cent c),
         |asg AS (SELECT vec_id, v, cid AS cell FROM (
         |  SELECT vec_id, v, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM sc) WHERE rn = 1),
         |drp AS (SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${oCos("a.v", "b.v")} >= 0.9)
         |SELECT g.vec_id, g.cell,
         |  CASE WHEN d.vec_id IS NULL THEN 'keep' ELSE 'drop' END AS status
         |FROM asg g LEFT JOIN drp d ON g.vec_id = d.vec_id
         |ORDER BY g.vec_id""".stripMargin,
    // the incremental law: the full-corpus replay RESTRICTED to the
    // batch (per-vector argmax and the pairwise predicate are
    // corpus-independent, so restriction is exact)
    "dedup_semantic_incremental" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |aug AS (SELECT vec_id, v FROM e
         |  UNION ALL
         |  SELECT vec_id + 100000, LIST_TRANSFORM(v, (x, i) -> x +
         |    CASE WHEN i = 1 THEN CAST(0.25 AS DOUBLE)
         |         ELSE CAST(0 AS DOUBLE) END)
         |  FROM e WHERE vec_id % 20 = 0),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |         WHERE vec_id % 29 = 0),
         |sc AS (SELECT a.vec_id, a.v, c.cid, ${oCos("a.v", "c.cv")} AS ccos
         |  FROM aug a CROSS JOIN cent c),
         |asg AS (SELECT vec_id, v, cid AS cell FROM (
         |  SELECT vec_id, v, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM sc) WHERE rn = 1),
         |drp AS (SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${oCos("a.v", "b.v")} >= 0.9)
         |SELECT g.vec_id, g.cell,
         |  CASE WHEN d.vec_id IS NULL THEN 'keep' ELSE 'drop' END AS status
         |FROM asg g LEFT JOIN drp d ON g.vec_id = d.vec_id
         |WHERE g.vec_id >= 100000
         |ORDER BY g.vec_id""".stripMargin,
    "sim_knn_graph" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e
         |         WHERE vec_id % 29 = 0),
         |sc AS (SELECT a.vec_id, a.v, c.cid, ${oCos("a.v", "c.cv")} AS ccos
         |  FROM e a CROSS JOIN cent c),
         |asg AS (SELECT vec_id, v, cid AS cell FROM (
         |  SELECT vec_id, v, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM sc) WHERE rn = 1),
         |prs AS (SELECT a.vec_id AS src, b.vec_id AS nbr,
         |    ${oCos("a.v", "b.v")} AS c
         |  FROM asg a JOIN asg b ON a.cell = b.cell
         |  WHERE a.vec_id <> b.vec_id)
         |SELECT src, rank, nbr, ROUND(c, 4) AS cos FROM (
         |  SELECT src, nbr, c, ROW_NUMBER() OVER (PARTITION BY src
         |    ORDER BY c DESC, nbr ASC) AS rank FROM prs)
         |WHERE rank <= 3
         |ORDER BY src, rank""".stripMargin,
    "sim_centroids" ->
      """SELECT label, i AS dim,
        | ROUND(AVG(CAST(embedding[i + 1] AS DOUBLE)), 4) AS centroid,
        | COUNT(*) AS n
        |FROM embeddings,
        |     (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS i) u
        |GROUP BY label, i ORDER BY label, dim""".stripMargin,
    // LIST_REDUCE folds left over a prepended 0 seed (the established
    // rolling-hash discipline); nibble arithmetic replayed 1-based
    "embed_int4_pack" ->
      """WITH e AS (SELECT vec_id,
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    GREATEST(LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))), 1e-12) AS m
        |  FROM e),
        |q AS (SELECT vec_id, v, m,
        |    LIST_TRANSFORM(v, x -> CAST(ROUND(x / m * 7) AS INT)) AS qv
        |  FROM s),
        |p AS (SELECT vec_id, v, m,
        |    LIST_TRANSFORM(GENERATE_SERIES(0, LEN(qv) // 2 - 1),
        |      i -> CAST((qv[2*i + 1] + 8) * 16 + (qv[2*i + 2] + 8)
        |           AS BIGINT)) AS packed
        |  FROM q)
        |SELECT vec_id, LEN(packed) AS n_bytes,
        | LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), packed),
        |   (acc, x) -> (acc * 31 + x) % 1000000007) AS checksum,
        | ROUND(LIST_MAX(LIST_TRANSFORM(v,
        |   x -> ABS(ROUND(x / m * 7) * m / 7 - x))), 6) AS max_err,
        | ROUND(m, 6) AS scale
        |FROM p ORDER BY vec_id""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id,
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    GREATEST(LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))), 1e-12) AS m
        |  FROM e)
        |SELECT vec_id,
        | LIST_MIN(LIST_TRANSFORM(v, x -> CAST(ROUND(x / m * 127) AS INT)))
        |   AS qmin,
        | LIST_MAX(LIST_TRANSFORM(v, x -> CAST(ROUND(x / m * 127) AS INT)))
        |   AS qmax,
        | ROUND(LIST_MAX(LIST_TRANSFORM(v,
        |   x -> ABS(ROUND(x / m * 127) * m / 127 - x))), 6) AS max_err,
        | ROUND(m, 6) AS scale
        |FROM s ORDER BY vec_id""".stripMargin,
    "sim_lsh_buckets" -> {
      val bitSql = (0 until nPlanes).map { h =>
        val arr = (1 to dim).map(i => s"CAST(${coef(h, i)} AS DOUBLE)")
          .mkString("[", ", ", "]")
        s"CASE WHEN ${oDot("v", arr)} >= 0 THEN ${1L << h} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"""WITH e AS (SELECT vec_id, label,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT bucket, COUNT(*) AS n_vecs,
         | COUNT(DISTINCT label) AS n_labels
         |FROM (SELECT vec_id, label, $bitSql AS bucket FROM e)
         |GROUP BY bucket ORDER BY bucket""".stripMargin
    },
    "sim_ann_lsh" -> {
      val bitSql = (0 until 6).map { h =>
        val arr = (1 to dim).map(i => s"CAST(${coef(h, i)} AS DOUBLE)")
          .mkString("[", ", ", "]")
        s"CASE WHEN ${oDot("v", arr)} >= 0 THEN ${1L << h} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |b AS (SELECT vec_id, v, $bitSql AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket FROM b
         |      WHERE vec_id % 100 = 0),
         |pairs AS (
         |  SELECT qid, b.bucket, b.vec_id, ${oCos("qv", "b.v")} AS cos
         |  FROM b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid)
         |SELECT qid, bucket, vec_id AS nn, ROUND(cos, 4) AS cos FROM (
         |  SELECT qid, bucket, vec_id, cos, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
         |  FROM pairs) WHERE rn = 1 ORDER BY qid""".stripMargin
    },
    "sim_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$oKmeans,
         |scored AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent2 c),
         |cells AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored) WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored
         |  WHERE vec_id % 100 = 0) WHERE rn <= 4),
         |cand AS (SELECT p.qid, s.vec_id, s.cell
         |  FROM probes p JOIN cells s ON s.cell = p.cell
         |  WHERE s.vec_id <> p.qid)
         |SELECT qid, cell, vec_id AS nn, ROUND(cos, 4) AS cos FROM (
         |  SELECT qid, cell, vec_id, cos, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
         |  FROM (SELECT c.qid, c.cell, c.vec_id,
         |          ${oCos("qe.v", "ce.v")} AS cos
         |        FROM cand c JOIN e ce ON ce.vec_id = c.vec_id
         |                    JOIN e qe ON qe.vec_id = c.qid))
         |WHERE rn = 1 ORDER BY qid""".stripMargin,
    // filtered serve: same quantizer/probe re-derivation as
    // sim_ann_ivf, with the metadata predicate joined into the
    // CANDIDATE set before scoring — never a post-filter of results
    "sim_ann_ivf_filtered" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$oKmeans,
         |scored AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent2 c),
         |cells AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored) WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored
         |  WHERE vec_id % 100 = 0) WHERE rn <= 4),
         |flt AS (SELECT vec_id FROM embeddings WHERE label % 3 = 1),
         |cand AS (SELECT p.qid, s.vec_id, s.cell
         |  FROM probes p JOIN cells s ON s.cell = p.cell
         |                JOIN flt f ON f.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.qid)
         |SELECT qid, cell, vec_id AS nn, ROUND(cos, 4) AS cos FROM (
         |  SELECT qid, cell, vec_id, cos, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
         |  FROM (SELECT c.qid, c.cell, c.vec_id,
         |          ${oCos("qe.v", "ce.v")} AS cos
         |        FROM cand c JOIN e ce ON ce.vec_id = c.vec_id
         |                    JOIN e qe ON qe.vec_id = c.qid))
         |WHERE rn = 1 ORDER BY qid""".stripMargin,

    // adaptive filtered serve: the probe/candidate replay of
    // sim_ann_ivf_filtered at 1% selectivity, plus the escalation
    // replayed relationally — queries absent from the probed
    // candidate set brute-force the filtered subset, and the chosen
    // path rides in the output
    "sim_ann_ivf_filtered_adaptive" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$oKmeans,
         |scored AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent2 c),
         |cells AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored) WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored
         |  WHERE vec_id % 100 = 0) WHERE rn <= 4),
         |flt AS (SELECT vec_id FROM embeddings
         |  WHERE label % 100 = 7 AND vec_id % 11 = 3),
         |qs AS (SELECT vec_id AS qid FROM embeddings
         |  WHERE vec_id % 100 = 0),
         |pcand AS (SELECT p.qid, s.vec_id, 'probe' AS path
         |  FROM probes p JOIN cells s ON s.cell = p.cell
         |                JOIN flt f ON f.vec_id = s.vec_id
         |  WHERE s.vec_id <> p.qid),
         |missing AS (SELECT qid FROM qs
         |  WHERE qid NOT IN (SELECT qid FROM pcand)),
         |bcand AS (SELECT m.qid, f.vec_id, 'brute' AS path
         |  FROM missing m CROSS JOIN flt f WHERE f.vec_id <> m.qid),
         |cand AS (SELECT * FROM pcand UNION ALL SELECT * FROM bcand)
         |SELECT qid, path, vec_id AS nn, ROUND(cos, 4) AS cos FROM (
         |  SELECT qid, path, vec_id, cos, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
         |  FROM (SELECT c.qid, c.path, c.vec_id,
         |          ${oCos("qe.v", "ce.v")} AS cos
         |        FROM cand c JOIN e ce ON ce.vec_id = c.vec_id
         |                    JOIN e qe ON qe.vec_id = c.qid))
         |WHERE rn = 1 ORDER BY qid""".stripMargin,

    // MaxSim late interaction: slice norms precompute per side, every
    // dot fold / division / GREATEST / left-assoc sum replays the
    // engine's exact double-op order — raw-score ranks agree bitwise
    "sim_maxsim_late" -> {
      import oMaxsim.{toks, norms, ms}
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |tok AS (SELECT vec_id, $toks FROM e),
         |tn AS (SELECT vec_id, t0, t1, t2, t3, $norms FROM tok),
         |pairs AS (SELECT q.vec_id AS qid, d.vec_id, $ms AS ms
         |  FROM tn d CROSS JOIN
         |    (SELECT * FROM tn WHERE vec_id % 100 = 0) q
         |  WHERE d.vec_id <> q.vec_id)
         |SELECT qid, rn, vec_id AS nn, ROUND(ms, 4) AS maxsim FROM (
         |  SELECT qid, vec_id, ms, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY ms DESC, vec_id ASC) AS rn FROM pairs)
         |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
    },
    // two-stage serve: oKmeans re-derives the quantizer, the probe /
    // candidate set replays relationally (same argmax + nprobe=4 tie
    // order as sim_ann_ivf), MaxSim replays textually over candidates
    "sim_maxsim_rerank" -> {
      import oMaxsim.{toks, norms, ms}
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$oKmeans,
         |scored AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent2 c),
         |cells AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored) WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cid ASC) AS rn FROM scored
         |  WHERE vec_id % 100 = 0) WHERE rn <= 4),
         |cand AS (SELECT p.qid, s.vec_id
         |  FROM probes p JOIN cells s ON s.cell = p.cell
         |  WHERE s.vec_id <> p.qid),
         |tok AS (SELECT vec_id, $toks FROM e),
         |tn AS (SELECT vec_id, t0, t1, t2, t3, $norms FROM tok),
         |pairs AS (SELECT c.qid, c.vec_id, $ms AS ms
         |  FROM cand c JOIN tn d ON d.vec_id = c.vec_id
         |              JOIN tn q ON q.vec_id = c.qid)
         |SELECT qid, rn, vec_id AS nn, ROUND(ms, 4) AS maxsim FROM (
         |  SELECT qid, vec_id, ms, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY ms DESC, vec_id ASC) AS rn FROM pairs)
         |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
    },
    // retrain report: cent3 re-derives via a third SQL k-means step;
    // both full-corpus assignments and the round-6 means replay exactly
    "sim_ann_ivf_retrain" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |${oKmeansSteps(3)},
         |f2 AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent2 c),
         |f3 AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent3 c),
         |b AS (SELECT cid, COUNT(*) AS n_before,
         |    ROUND(AVG(ccos), 6) AS mean_before
         |  FROM (SELECT vec_id, cid, ccos, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
         |    FROM f2) WHERE rn = 1 GROUP BY cid),
         |a AS (SELECT cid, COUNT(*) AS n_after,
         |    ROUND(AVG(ccos), 6) AS mean_after
         |  FROM (SELECT vec_id, cid, ccos, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
         |    FROM f3) WHERE rn = 1 GROUP BY cid),
         |sh AS (SELECT c2.cid,
         |    ROUND(${oCos("c2.cv", "c3.cv")}, 6) AS shift_cos
         |  FROM cent2 c2 JOIN cent3 c3 ON c2.cid = c3.cid),
         |j AS (SELECT a.cid,
         |    CAST(COALESCE(b.n_before, 0) AS BIGINT) AS n_before,
         |    CAST(a.n_after AS BIGINT) AS n_after,
         |    COALESCE(b.mean_before, 0.0) AS mean_before,
         |    a.mean_after,
         |    COALESCE(sh.shift_cos, 0.0) AS shift_cos
         |  FROM a LEFT JOIN b ON a.cid = b.cid
         |         LEFT JOIN sh ON a.cid = sh.cid)
         |SELECT cid, n_before, n_after, mean_before, mean_after,
         |  shift_cos,
         |  CAST(CASE WHEN mean_after > mean_before THEN 1 ELSE 0 END
         |    AS INT) AS improved
         |FROM j ORDER BY cid""".stripMargin,
    // index-append health report: the quantizer re-derives via oKmeans,
    // both sides replay the same argmax assignment and round-6 means,
    // and the drift/retrain arithmetic is identical double ops over
    // bit-identical inputs
    "sim_ann_ivf_append" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$oKmeans,
         |sc AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent2 c),
         |asg AS (SELECT vec_id, cid AS cell, ccos FROM (
         |  SELECT vec_id, cid, ccos, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM sc) WHERE rn = 1),
         |h AS (SELECT cell, COUNT(*) AS n_before,
         |    ROUND(AVG(ccos), 6) AS mean_before
         |  FROM asg WHERE vec_id % 5 <> 3 GROUP BY cell),
         |b AS (SELECT cell, COUNT(*) AS n_added,
         |    ROUND(AVG(ccos), 6) AS mean_new
         |  FROM asg WHERE vec_id % 5 = 3 GROUP BY cell),
         |j AS (SELECT COALESCE(h.cell, b.cell) AS cid,
         |    CAST(COALESCE(n_before, 0) AS BIGINT) AS n_before,
         |    CAST(COALESCE(n_added, 0) AS BIGINT) AS n_added,
         |    COALESCE(mean_before, 0.0) AS mean_before,
         |    COALESCE(mean_new, 0.0) AS mean_new
         |  FROM h FULL JOIN b ON h.cell = b.cell)
         |SELECT cid, n_before, n_added, mean_before, mean_new,
         |  CASE WHEN n_added > 0 AND n_before > 0
         |    THEN ROUND(mean_new - mean_before, 6)
         |    ELSE 0.0 END AS drift,
         |  CAST(CASE WHEN (n_added > 0 AND n_before > 0 AND
         |      mean_new < mean_before - 0.01) OR n_added * 2 > n_before
         |    THEN 1 ELSE 0 END AS INT) AS retrain
         |FROM j ORDER BY cid""".stripMargin,

    // total re-derivation: the post-ingest index equals the
    // full-corpus argmax assignment, whatever the micro-batch split
    "stream_ivf_append" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$oKmeans,
         |sc AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent2 c)
         |SELECT vec_id, cid AS cell, ROUND(ccos, 6) AS ccos FROM (
         |  SELECT vec_id, cid, ccos, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM sc) WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    // full replay: quantizer, history assignment, tombstone predicate
    // (vec_id%7 OR the emptied cell), and both health aggregates
    "sim_ann_ivf_delete" ->
      s"""WITH e AS (SELECT vec_id,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |$oKmeans,
         |sc AS (SELECT e.vec_id, c.cid, ${oCos("e.v", "c.cv")} AS ccos
         |  FROM e CROSS JOIN cent2 c),
         |asg AS (SELECT vec_id, cid AS cell, ccos FROM (
         |  SELECT vec_id, cid, ccos, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM sc) WHERE rn = 1),
         |h AS (SELECT vec_id, cell, ccos FROM asg WHERE vec_id % 5 <> 3),
         |b AS (SELECT cell, COUNT(*) AS n_before,
         |    ROUND(AVG(ccos), 6) AS mean_before
         |  FROM h GROUP BY cell),
         |mc AS (SELECT MIN(cell) AS m FROM h),
         |r AS (SELECT cell, COUNT(*) AS n_removed FROM h, mc
         |  WHERE vec_id % 7 = 0 OR cell = mc.m GROUP BY cell),
         |a AS (SELECT cell, COUNT(*) AS n_after,
         |    ROUND(AVG(ccos), 6) AS mean_after
         |  FROM h, mc
         |  WHERE NOT (vec_id % 7 = 0 OR cell = mc.m) GROUP BY cell)
         |SELECT b.cell AS cid, n_before,
         |  CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
         |  CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
         |  mean_before,
         |  COALESCE(mean_after, 0.0) AS mean_after,
         |  CAST(CASE WHEN COALESCE(n_after, 0) = 0
         |    THEN 1 ELSE 0 END AS INT) AS emptied
         |FROM b LEFT JOIN r ON b.cell = r.cell
         |  LEFT JOIN a ON b.cell = a.cell
         |ORDER BY cid""".stripMargin,
    "mm_multimodal_join" ->
      s"""SELECT doc_id, lang, source, n_chars, label,
         | ROUND(${oNorm("v")}, 4) AS emb_norm
         |FROM documents JOIN (SELECT vec_id, label,
         |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    embedding
         |  FROM embeddings) ON doc_id = vec_id
         |WHERE n_chars > 200 AND LEN(embedding) = $dim
         |ORDER BY doc_id""".stripMargin
  )
}
