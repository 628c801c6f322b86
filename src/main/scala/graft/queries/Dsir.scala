package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word
import graft.functions.det.D18_6

/** q129: DSIR-style IMPORTANCE WEIGHTS — data selection by importance
  * resampling (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", public NeurIPS 2023 method): score every
  * document by how much its hashed-feature distribution looks like a
  * TARGET domain rather than the RAW corpus, log p_target(doc) −
  * p_raw(doc) under bag-of-hashed-unigram models. The q113 mixture
  * sampler reweights by SOURCE LABEL; DSIR reweights by CONTENT — the
  * tool for "more like this high-quality slice" when no label exists.
  *
  * Feature hashing, cross-engine: bucket = first two hex chars of
  * md5(token) — 256 buckets, the engine-agnostic hash the q79/q113
  * thresholds already rely on (Spark xxhash64 has no DuckDB twin).
  * Add-1 smoothing over the 256-bucket space; weight(doc) =
  * Σ_b n_db · [ln((ct_b+1)·(R+256)) − ln((cr_b+1)·(T+256))] where
  * ct/cr are target/raw bucket totals and T/R their sums.
  *
  * Scale shape: ONE token explode feeds both the per-(doc, bucket)
  * frame (map-side combined; ≤256 rows per doc) and the global
  * bucket frame (256 rows — target and raw counts in the SAME pass
  * via a conditional sum, totals as windows over the bounded frame);
  * the bucket model is BROADCAST back, and the weight is one
  * doc-keyed rollup. No fact-sized exchange carries anything wider
  * than (doc_id, bucket, count).
  *
  * Determinism: counts are exact integers; the PER-BUCKET ln term
  * (≤256 distinct values per model) is quantized to DECIMAL(18,6)
  * BEFORE the integer multiply — last-ulp libm differences vanish at
  * the 6-decimal round on a few hundred values, then term·n_db and
  * the per-doc sum are exact decimal arithmetic, and the final
  * double cast of an exact decimal is bit-identical cross-engine.
  * Deliberately NO final `round(…, 4)`: a 6-decimal exact sum lands
  * on a 4-decimal HALF-TIE with probability ~1/100 per row, and
  * Spark's decimal-string HALF_UP disagrees with DuckDB's binary
  * rounding exactly there (observed at sf0.1, doc 220, −0.166450).
  */
object Dsir {

  private val TargetSources = Seq("src1", "src2", "src3")

  /** Per-doc log importance weight of `docs` toward the
    * `isTarget`-marked slice. Factored so the spec can pin a
    * hand-computed two-bucket model and the smoothing floor.
    */
  def importanceWeights(docs: DataFrame, isTarget: org.apache.spark.sql.Column): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"), isTarget.as("graft_t"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("b", substring(md5(col("tok")), 1, 2))
    val perDocBucket = toks
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("n_db"))
    val buckets = toks
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("graft_t"), 1L).otherwise(0L)).as("ct"))
      .withColumn("r_tot", sum(col("cr")).over(Window.partitionBy()))
      .withColumn("t_tot", sum(col("ct")).over(Window.partitionBy()))
    perDocBucket
      .join(broadcast(buckets), Seq("b"))
      .withColumn("term",
        (log(((col("ct") + 1) * (col("r_tot") + 256)).cast("double")) -
          log(((col("cr") + 1) * (col("t_tot") + 256)).cast("double")))
          .cast(D18_6))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n_db")).as("n_tok"),
        sum(col("term") * col("n_db")).cast("double").as("w"))
      .withColumn("keep", col("w") > 0)
  }

  val q129 = Q.of(
    "q129_dsir_weights",
    s"""WITH tb AS (
      |  SELECT doc_id, source,
      |    source IN ('${TargetSources.mkString("','")}') AS t,
      |    substr(md5(unnest(string_split(text, ' '))), 1, 2) AS b
      |  FROM documents
      |), pdb AS (
      |  SELECT doc_id, source, b, COUNT(*) AS n_db FROM tb GROUP BY 1, 2, 3
      |), bk AS (
      |  SELECT b, COUNT(*) AS cr,
      |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |  FROM tb GROUP BY b
      |), bk2 AS (
      |  SELECT b, cr, ct,
      |    CAST(SUM(cr) OVER () AS BIGINT) AS r_tot,
      |    CAST(SUM(ct) OVER () AS BIGINT) AS t_tot
      |  FROM bk
      |)
      |SELECT doc_id, source, n_tok, w, w > 0 AS keep FROM (
      |  SELECT doc_id, source,
      |    CAST(SUM(n_db) AS BIGINT) AS n_tok,
      |    CAST(SUM(
      |      CAST(ln(CAST((ct + 1) * (r_tot + 256) AS DOUBLE))
      |           - ln(CAST((cr + 1) * (t_tot + 256) AS DOUBLE))
      |        AS DECIMAL(18,6)) * n_db) AS DOUBLE) AS w
      |  FROM pdb JOIN bk2 USING (b)
      |  GROUP BY doc_id, source
      |)
      |ORDER BY doc_id""".stripMargin) { t =>
    importanceWeights(t.documents, col("source").isin(TargetSources: _*))
      .orderBy(col("doc_id"))
  }

  /** q267: the SELECTION half of DSIR — q129 scores every doc, but the
    * paper's final step (Xie et al. 2023 §3, public) is GUMBEL-TOP-K
    * importance RESAMPLING: sampling k docs without replacement with
    * probability ∝ exp(w/τ) is EXACTLY taking the top k by
    * w + τ·Gumbel(doc) (the Gumbel-max trick, public folklore), which
    * distributes as a single top-k — no sequential draws, no global
    * state, cluster-size independent.
    *
    * Replayable randomness (the md5 doctrine): u = (first 32 md5 bits
    * of 'g:'‖doc_id + 0.5)/2³², gumbel = −ln(−ln(u)) quantized
    * D18_6 (arbitrary-argument libm ln differs cross-engine at the
    * last ulp; the 6-decimal round erases it — the q129 term rule).
    * score = D18_6(w) + 2·gumbel is EXACT decimal arithmetic (τ = 2;
    * the double w casts back to its defining 6-decimal value), so
    * the top-k boundary is an exact decimal compare with doc_id
    * tiebreak — selection hash-stable by construction.
    *
    * Scale shape: q129's weight plan (nothing fact-sized beyond
    * (doc, bucket, count)) + one projection + a DISTRIBUTED top-k
    * (Spark plans orderBy+limit as TakeOrderedAndProject — per-
    * partition heaps, never a global sort of the corpus). Output
    * exactly k rows.
    */
  private val SampleK = 200

  /** Gumbel-top-k selection over the importance weights. Factored
    * with `k` exposed so the spec can plant a small corpus and pin
    * target-vocabulary docs winning the sample.
    */
  def gumbelTopK(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
      k: Int): DataFrame =
    importanceWeights(docs, isTarget)
      .withColumn("graft_g", expr(
        s"cast(-log(-log((${md5Word("concat('g:', cast(doc_id as string))")} + 0.5) / 4294967296.0)) as decimal(18,6))"))
      .withColumn("graft_score",
        col("w").cast(D18_6) + col("graft_g") * 2)
      .orderBy(col("graft_score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("n_tok"), col("w"),
        col("graft_score").cast("double").as("score"))

  val q267 = Q.of(
    "q267_dsir_sample",
    s"""WITH tb AS (
      |  SELECT doc_id, source,
      |    source IN ('${TargetSources.mkString("','")}') AS t,
      |    substr(md5(unnest(string_split(text, ' '))), 1, 2) AS b
      |  FROM documents
      |), pdb AS (
      |  SELECT doc_id, source, b, COUNT(*) AS n_db FROM tb GROUP BY 1, 2, 3
      |), bk AS (
      |  SELECT b, COUNT(*) AS cr,
      |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |  FROM tb GROUP BY b
      |), bk2 AS (
      |  SELECT b, cr, ct,
      |    CAST(SUM(cr) OVER () AS BIGINT) AS r_tot,
      |    CAST(SUM(ct) OVER () AS BIGINT) AS t_tot
      |  FROM bk
      |), wts AS (
      |  SELECT doc_id, source,
      |    CAST(SUM(n_db) AS BIGINT) AS n_tok,
      |    CAST(SUM(
      |      CAST(ln(CAST((ct + 1) * (r_tot + 256) AS DOUBLE))
      |           - ln(CAST((cr + 1) * (t_tot + 256) AS DOUBLE))
      |        AS DECIMAL(18,6)) * n_db) AS DOUBLE) AS w
      |  FROM pdb JOIN bk2 USING (b)
      |  GROUP BY doc_id, source
      |), scored AS (
      |  SELECT doc_id, source, n_tok, w,
      |    CAST(w AS DECIMAL(18,6)) +
      |    CAST(-ln(-ln((CAST(('0x' || substr(md5('g:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0)) AS DECIMAL(18,6)) * 2 AS sc
      |  FROM wts
      |)
      |SELECT doc_id, source, n_tok, w, CAST(sc AS DOUBLE) AS score
      |FROM scored
      |ORDER BY sc DESC, doc_id LIMIT $SampleK""".stripMargin) { t =>
    gumbelTopK(t.documents, col("source").isin(TargetSources: _*), SampleK)
  }

  def all: Seq[Q] = Seq(q129, q267)
}
