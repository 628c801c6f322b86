package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.{ProductQuant, Similarity, TopK}
import graft.functions.{quant, vec}

/** Similarity-search queries over the embeddings table (SURVEY.md §2
  * q50–q52).
  *
  * q50 is the exact baseline: broadcast the query set, stream the
  * candidate table once, rank with a partitioned window (Spark 4 plans
  * partial+final WindowGroupLimit, so each map task ships ≤ k rows per
  * query into the shuffle). Cost is |queries| × n dot products — the
  * correct exact plan at any scale when |queries| is small.
  *
  * q51 (LSH) and q52 (IVF) are the sub-linear scale paths: candidates
  * come from shared hash buckets / probed cells only, then the same
  * exact-rank tail runs on the reduced set. Both are approximate —
  * AnnSpec measures recall vs q50 (the testdata embeddings are
  * uniform-random, the hostile case for ANN; recall thresholds in the
  * spec are calibrated to that).
  *
  * Every query is a composition of the same retrieval stages, each
  * written once below: the query set, candidate pairs (against all
  * vectors or inside probed IVF cells), a coarse top-K by an
  * approximate score, and the exact re-rank.
  */
object Ann {

  /** Embeddings with double vectors, cached: every downstream
    * reference (queries side, candidates side, IVF assignment) reads
    * the materialized column instead of re-running the float→double
    * cast per reference (Catalyst would otherwise inline it into each
    * use site).
    */
  private[graft] def vectors(t: Tables): DataFrame =
    graft.CacheScope.trackedCache(
      t.embeddings
        .select(col("vec_id"), vec.toDoubleArr(col("embedding")).as("v")))

  /** The query set: every 50th vector of `e`, as `query_id` and `cols`. */
  private def queries(e: DataFrame, cols: Column*): DataFrame =
    e.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("query_id") +: cols: _*)

  private def queriesOf(e: DataFrame): DataFrame = queries(e, col("v").as("qv"))

  /** Joins the query vector `qv` onto `df` by `query_id`, from the
    * broadcast query set.
    */
  private def withQueryVectors(df: DataFrame, e: DataFrame): DataFrame =
    df.join(broadcast(queriesOf(e)), "query_id")

  /** Candidates against all vectors: the broadcast query set `qs`
    * crossed with `corpus`, minus each query itself.
    */
  private def allPairs(corpus: DataFrame, qs: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("query_id"))

  /** `e` with each vector's nearest IVF `cell`. */
  private def cells(e: DataFrame, centroids: DataFrame): DataFrame =
    Similarity.assignToCentroids(e, centroids, "vec_id", "v", "cid", "cv")

  /** The probe list: the 5 cells nearest each query, as
    * (query_id, cell). Ranked on ids and score only; callers join the
    * query side on afterwards, so even this tiny window ships no
    * vectors.
    */
  private def probeList(e: DataFrame, centroids: DataFrame): DataFrame =
    coarseTopK(queriesOf(e).crossJoin(broadcast(centroids)), "cid",
      vec.cosim(col("qv"), col("cv")), k = 5)
      .select(col("query_id"), col("cid").as("cell"))

  /** Candidates in probed cells: the (probe × query side) frame
    * `probes` broadcast onto the cell-assigned corpus, minus each query
    * itself. The corpus never shuffles.
    */
  private def probedPairs(probes: DataFrame, assigned: DataFrame): DataFrame =
    broadcast(probes).join(assigned, "cell").filter(col("vec_id") =!= col("query_id"))

  /** Coarse top-K: the `k` best `idCol`s per query by the approximate
    * score `ccos`, as (query_id, idCol); the rank window ships ids and
    * the score only.
    */
  private def coarseTopK(pairs: DataFrame, idCol: String, ccos: Column, k: Int): DataFrame =
    TopK.perGroup(pairs.select(col("query_id"), col(idCol), ccos.as("ccos")),
      Seq(col("query_id")), Seq(col("ccos").desc, col(idCol)), k, rankCol = "crn")
      .select(col("query_id"), col(idCol))

  /** Top-k rank over a (query_id, vec_id, cos) frame. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    TopK.perGroup(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("vec_id")), k, rankCol = "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("score"), col("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** Exact cosine top-10 over pairs carrying `qv` and `v`, projected to
    * (query_id, vec_id, cos) first so the rank exchange ships ids and
    * the score, not the vectors.
    */
  private def exactTopK(pairs: DataFrame): DataFrame =
    rankTopK(pairs.select(col("query_id"), col("vec_id"),
      vec.cosim(col("qv"), col("v")).as("cos")), 10)

  /** Exact re-rank of (query_id, vec_id) candidates: the candidate
    * vector is joined back once per candidate and the query vector from
    * the broadcast query set, so no vector rides a candidate-volume
    * exchange.
    */
  private def rerank(candidates: DataFrame, e: DataFrame): DataFrame =
    exactTopK(withQueryVectors(candidates.join(e, "vec_id"), e))

  /** The deterministic quarter-sample the trained indexes learn from
    * (VERDICT r4 #8): Lloyd only needs enough points per cell to
    * estimate the means, so the two training passes scan 25% of the
    * corpus; the sampled means differ from the full-corpus means by
    * O(1/sqrt(cell sample)) and the assignment/probe stages are
    * untouched. AnnSpec's clustered fixture pins that sampled training
    * still collapses seed-blind skew.
    */
  private def trainingSample(e: DataFrame): DataFrame =
    e.filter(pmod(col("vec_id"), lit(4)) === 0)

  /** IVF centroids: 2 Lloyd iterations from [[ivfSeeds]]. */
  private def trainedCentroids(e: DataFrame): DataFrame =
    Similarity.trainCentroids(trainingSample(e), ivfSeeds(e), "vec_id", "v", "cid", "cv", iters = 2)

  /** PQ codebooks: 8 subspaces × 16 entries, 2 Lloyd iterations. */
  private def trainedCodebooks(e: DataFrame): ProductQuant.Codebooks =
    ProductQuant.trainCodebooks(trainingSample(e), "vec_id", "v", m = 8, k = 16, iters = 2)

  /** q53's and q54's int8 candidates: every (query, vector) pair over
    * int8 vectors quantized from the stored floats, carrying `qq8`
    * and `qv8`.
    */
  private def int8Pairs(t: Tables): DataFrame = {
    val e8 = t.embeddings
      .select(col("vec_id"), quant.quantizeI8(vec.toDoubleArr(col("embedding"))).as("qv8"))
    allPairs(e8, queries(e8, col("qv8").as("qq8")))
  }

  private def int8Cosine: Column = quant.cosimI8(col("qq8"), col("qv8"))

  /** The query set with its ADC lookup table and norm. */
  private def adcQueries(e: DataFrame, cb: ProductQuant.Codebooks): DataFrame =
    queriesOf(e).select(col("query_id"),
      ProductQuant.queryLut(col("qv"), cb).as("lut"), vec.norm(col("qv")).as("qnorm"))

  private def adcCosine(cb: ProductQuant.Codebooks): Column =
    ProductQuant.adcCosine(col("lut"), col("qnorm"), col("code"), cb)

  /** q50: brute-force cosine top-10 for every 50th vector as query.
    * Oracle relies on dot products being a sequential fold on both
    * engines (see graft.functions.vec) — double-exact, then rounded.
    */
  val q50 = Q.of(
    "q50_ann_bruteforce",
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
      |), q AS (
      |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0
      |), s AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
      |  FROM q JOIN e ON query_id <> e.vec_id
      |), r AS (
      |  SELECT query_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM s
      |)
      |SELECT query_id, neighbor_id, round(cos, 4) AS score, rank
      |FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin) { t =>
    bruteTopK(vectors(t))
  }

  /** Exact brute-force tail — shared by q50 and AnnSpec fixtures. */
  private[graft] def bruteTopK(e: DataFrame): DataFrame =
    exactTopK(allPairs(e, queriesOf(e)))

  /** q51: random-hyperplane LSH ANN — candidates share a bucket with
    * the query in ≥1 of 8 tables (4 bits each), exact rank on the
    * candidate set. Rows-only; recall vs q50 asserted in AnnSpec.
    *
    * Shuffle discipline (the r2 fix): the bucket join and the
    * (query_id, vec_id) dedup ship ids only; the candidate vector is
    * joined back once per distinct candidate, and the query vector
    * comes from the tiny broadcast query set — no full vector ever
    * rides a candidate-volume exchange.
    */
  val q51 = Q.rowsOnly("q51_ann_lsh") { t =>
    val e = vectors(t)
    val bucketed = Similarity.explodeBuckets(
      Similarity.withHyperplaneBuckets(e, "v", tables = 8, bitsPerTable = 4))
      .select(col("vec_id"), col("tbl"), col("bucket"))
    val candidates = queries(bucketed, col("tbl"), col("bucket"))
      .join(bucketed, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    rerank(candidates, e)
  }

  /** Modulo-sampled IVF seed centroids (the untrained baseline). */
  private[graft] def ivfSeeds(e: DataFrame): DataFrame =
    e.filter(pmod(col("vec_id"), lit(25)) === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** The IVF probe+rank tail for a given centroid set — shared by q52
    * and AnnSpec's trained-vs-untrained comparison.
    */
  private[graft] def ivfTopK(e: DataFrame, centroids: DataFrame): DataFrame = {
    val probes = withQueryVectors(probeList(e, centroids), e)
      .select(col("query_id"), col("qv"), col("cell"))
    exactTopK(probedPairs(probes, cells(e, centroids)))
  }

  /** q52: IVF — Lloyd-train the centroid set from modulo-sampled seeds
    * (2 iterations of [[Similarity.trainCentroids]] — VERDICT r3 #4:
    * untrained seeds follow the point distribution, so clustered real
    * embeddings get hot cells; trained centroids equalize cell
    * populations, skew bound pinned in AnnSpec), assign every vector to
    * its nearest centroid, probe the 5 cells nearest each query, exact
    * rank within the probed cells. Rows-only; recall vs q50 asserted in
    * AnnSpec (trained ≥ untrained).
    *
    * Scale shape (the r2 fix): cell assignment is the zero-shuffle
    * native argmax over the one-row broadcast centroid array
    * ([[Similarity.assignToCentroids]]); the probe list (|queries|×5
    * rows) is broadcast onto the assigned frame, so the big side never
    * shuffles before the top-k window — and that window's input is
    * (query_id, vec_id, cos) only. The trained centroid frame is a
    * literal local relation (trainCentroids materializes the k·d
    * centroid values per iteration, MLlib-style), so the corpus
    * assignment and the probe list replay no Lloyd lineage.
    */
  val q52 = Q.rowsOnly("q52_centroid_ivf") { t =>
    val e = vectors(t)
    ivfTopK(e, trainedCentroids(e))
  }

  /** q53: brute-force top-k over int8-QUANTIZED vectors
    * ([[graft.functions.quant]]) — the storage/shuffle scale path:
    * 8× fewer bytes per vector than the double tier with only
    * quantization noise in the scores (cosine is scale-invariant, so
    * max-abs scaling needs no bookkeeping). Rows-only — the scores are
    * approximations by design; AnnSpec pins recall@10 vs exact q50.
    */
  val q53 = Q.rowsOnly("q53_ann_quantized") { t =>
    rankTopK(int8Pairs(t).select(col("query_id"), col("vec_id"), int8Cosine.as("cos")), 10)
  }

  /** q54: two-stage retrieval — int8 coarse scan (top-30 per query on
    * quantized vectors: 8× fewer bytes and integer arithmetic for the
    * n×|queries| pass) followed by exact double-cosine re-rank of just
    * the 30 survivors. The production retrieval shape: the expensive
    * exact pass touches 30 rows per query instead of n. Rows-only;
    * AnnSpec pins recall@10 ≥ the one-stage quantized path (re-ranking
    * can only fix ordering errors inside the candidate set).
    */
  val q54 = Q.rowsOnly("q54_ann_rerank") { t =>
    val coarse = coarseTopK(int8Pairs(t), "vec_id", int8Cosine, k = 30)
    rerank(coarse, vectors(t))
  }

  /** q83's IVF-probed + int8-coarse + exact-rerank tail. Carries the
    * int8 twin on the same row as the assignment vector so the candidate tier needs no
    * extra join.
    */
  private[graft] def ivfRerankTopK(e: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned8 = cells(e.withColumn("qv8", quant.quantizeI8(col("v"))), centroids)
      .select(col("vec_id"), col("qv8"), col("cell"))
    val qs8 = queries(e, quant.quantizeI8(col("v")).as("qq8"))
    val pairs = probedPairs(probeList(e, centroids).join(qs8, "query_id"), assigned8)
    rerank(coarseTopK(pairs, "vec_id", int8Cosine, k = 30), e)
  }

  /** q83: the COMPOSED production retrieval shape (VERDICT r7 "next"
    * #6) — q52's trained IVF cells gate WHICH vectors are touched,
    * q53's int8 tier sets HOW CHEAPLY the touched ones are scored, and
    * q54's exact re-rank restores double precision for the 30
    * survivors per query. q54 alone still scans the whole corpus in
    * its coarse pass (O(n) per query, ~15× at the sf1 decade like the
    * other exact tiers); here the coarse pass reads only the ~5
    * probed cells (cells grow ∝ n/25, so candidates-per-query stays
    * ~flat as the corpus grows — pinned in ScaleSpec) and scores them
    * in int8. Shuffle shape: cell assignment is the zero-shuffle
    * native argmax; the (probe × query-int8) frame broadcasts onto
    * the assigned corpus, so the corpus never shuffles before the
    * top-30 window, whose exchange ships (query_id, vec_id, score)
    * only; the exact tail touches 30 rows/query. Rows-only; AnnSpec
    * pins recall vs the q52 ceiling.
    */
  val q83 = Q.rowsOnly("q83_ann_ivf_rerank") { t =>
    val e = vectors(t)
    ivfRerankTopK(e, trainedCentroids(e))
  }

  /** q88's PQ-ADC coarse + exact-rerank tail. `coarseK` candidates
    * survive the 8-byte-code scan into the exact double re-rank.
    */
  private[graft] def pqRerankTopK(e: DataFrame, cb: ProductQuant.Codebooks,
      coarseK: Int): DataFrame = {
    val enc = e.select(col("vec_id"), ProductQuant.encode(col("v"), cb).as("code"))
    rerank(coarseTopK(allPairs(enc, adcQueries(e, cb)), "vec_id", adcCosine(cb), coarseK), e)
  }

  /** Corpus-proportional coarse-survivor budget (round 13): a FIXED
    * coarseK is the classic cap that silently dies at scale — ADC
    * distortion is per-vector, so as n grows linearly, more
    * distortion-inflated scores crowd the true neighbors out of any
    * fixed-size coarse list (measured on the round-13 testdata:
    * recall@10 0.84 at 500 vectors where 100 = 20% of the corpus vs
    * 0.565 at 2000 where 100 = 5%). n/5 pins the budget to the 20%
    * regime the recall floors were calibrated in. This is the honest
    * cost of holding a recall TARGET with a FIXED 16-entry codebook:
    * the PQ-only tier re-ranks ∝ n — the scale path that bounds
    * candidates by construction is q89's IVFADC (cells ∝ n/25, ~5
    * probed), which is why both exist. Sized from one metadata count,
    * the q44 autoBitsPerTable precedent.
    */
  private def autoCoarseK(n: Long): Int =
    math.max(100L, n / 5L).min(Int.MaxValue.toLong).toInt

  /** q88: product-quantization retrieval ([[ProductQuant]]) — the
    * compression tier BELOW scalar int8: 8 subspaces × 16-entry
    * codebooks store each vector as 8 code indices (8 B vs q53's
    * 64 B at dim 64 — 32× below the double tier), and the coarse scan
    * scores a candidate with 8 ADC table lookups + adds instead of 64
    * multiplies. The LUT is computed once per QUERY (m·k sub-dots on
    * the broadcast side); the corpus-side pass is a pure projection
    * over the 8-byte codes, zero shuffle before the top-`coarseK`
    * window (ids + score only); exact double re-rank restores
    * precision for the 100 survivors. PQ distortion at 16 entries per
    * 8-dim subspace is real — recall comes from the wide coarse set +
    * exact tail, the standard PQ deployment shape; AnnSpec pins
    * recall@10 vs exact q50, ScaleSpec pins the decade growth.
    * Rows-only (scores are approximations by design).
    */
  val q88 = Q.rowsOnly("q88_ann_pq") { t =>
    val e = vectors(t)
    pqRerankTopK(e, trainedCodebooks(e), coarseK = autoCoarseK(t.embeddings.count()))
  }

  /** q89's IVFADC tail: probed IVF cells bound WHICH vectors are
    * touched, PQ-ADC codes set HOW CHEAPLY, exact re-rank restores
    * precision. The PQ code rides the assignment row (like q83's int8
    * twin), so the candidate tier needs no extra join; the
    * probe×(LUT, qnorm) frame broadcasts onto the assigned corpus.
    */
  private[graft] def ivfAdcTopK(e: DataFrame, centroids: DataFrame,
      cb: ProductQuant.Codebooks, coarseK: Int): DataFrame = {
    val assignedPq = cells(e.withColumn("code", ProductQuant.encode(col("v"), cb)), centroids)
      .select(col("vec_id"), col("code"), col("cell"))
    val pairs = probedPairs(probeList(e, centroids).join(adcQueries(e, cb), "query_id"), assignedPq)
    rerank(coarseTopK(pairs, "vec_id", adcCosine(cb), coarseK), e)
  }

  /** q89: IVFADC — the full production index shape from the PQ
    * literature (IVF coarse cells + PQ residual-free codes + ADC
    * scan + exact re-rank), composing q52's trained cells with q88's
    * codebooks: candidates-per-query is bounded by the ~5 probed
    * cells (NOT the corpus — the q83 property), and each candidate
    * costs m=8 ADC lookups on an 8-byte code (NOT a dot product — the
    * q88 property). The index storage per vector is 8 B of codes +
    * one cell id; the full-precision vector is touched only for the
    * `coarseK` re-rank survivors per query. Zero-shuffle assignment,
    * broadcast probes, ids+score through the only wide exchange.
    * Rows-only; AnnSpec pins recall vs the q52 probed-cell ceiling.
    */
  val q89 = Q.rowsOnly("q89_ann_ivfadc") { t =>
    val e = vectors(t)
    val (centroids, cb) = (trainedCentroids(e), trainedCodebooks(e))
    // same corpus-proportional budget as q88: the probed-cell
    // population grows ∝ n/5, so a fixed coarse list suffers the
    // identical distortion crowding inside the cells
    ivfAdcTopK(e, centroids, cb, coarseK = autoCoarseK(t.embeddings.count()))
  }

  def all: Seq[Q] = Seq(q50, q51, q52, q53, q54, q83, q88, q89)
}
