package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.det
import graft.operators.Shingles

/** q250: CURATION PIPELINE v2 — the composed end-to-end pass over the
  * round's new gates, the q121/q38 composition pattern re-run with
  * this session's operators: per document, a FIRST-FAILING-GATE
  * ladder (1) language allowlist → (2) q227 character-entropy prose
  * band [3.0, 4.5) → (3) q233 cross-doc duplicated-8-gram coverage
  * < 50 % → (4) exact-dup keep-first (min doc_id per md5) → kept;
  * rolled up per source as the rejection WATERFALL a curation report
  * publishes (each doc counted once, at its first failure — the
  * attribution rule that makes the waterfall sum exactly to n_docs).
  *
  * Every gate reuses its parent query's exact arithmetic (q227's
  * D18_6-quantized c·log2 c fold; q233's position semi-join with
  * min(8, gap) interval union, the same [[graft.operators.Shingles]]
  * calls; md5 identity), so the pipeline inherits their determinism
  * proofs; the waterfall itself is pure integer conditional counting.
  * An empty/whitespace doc has no entropy and fails gate 2 (stated,
  * not dropped).
  *
  * Scale shape: gates 1–2 are scan-local projections; gate 3 is
  * q233's banded shape (the one exchange family); gate 4 one
  * hash-keyed window. ONE waterfall fold out.
  */
object CurationV2 {

  private val K = 8

  val q250 = Q.of(
    "q250_curation_v2",
    s"""WITH base AS (
      |  SELECT doc_id, source, lang, text, string_split(text, ' ') AS w
      |  FROM documents
      |), ent AS (
      |  SELECT doc_id,
      |    CAST(log2(CAST(n AS DOUBLE))
      |      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS bpc
      |  FROM (
      |    SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
      |      SUM(CAST(CAST(k AS DOUBLE) * log2(CAST(k AS DOUBLE))
      |          AS DECIMAL(18,6))) AS s
      |    FROM (
      |      SELECT doc_id, c, COUNT(*) AS k FROM (
      |        SELECT doc_id, unnest(string_split(text, '')) AS c
      |        FROM base WHERE length(text) > 0
      |      ) GROUP BY 1, 2
      |    ) GROUP BY 1
      |  )
      |), starts AS (
      |  SELECT doc_id, w, unnest(range(1, len(w) - ${K - 2})) AS i
      |  FROM base WHERE len(w) >= $K
      |), grams AS (
      |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
      |    array_to_string(w[i:i + ${K - 1}], ' ') AS g
      |  FROM starts
      |), dups AS (
      |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams)
      |  GROUP BY g HAVING COUNT(*) >= 2
      |), cov AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN nxt IS NULL THEN $K
      |                  ELSE LEAST($K, nxt - pos) END) AS BIGINT) AS covered
      |  FROM (
      |    SELECT grams.doc_id, pos,
      |      LEAD(pos) OVER (PARTITION BY grams.doc_id ORDER BY pos) AS nxt
      |    FROM grams JOIN dups ON dups.g = grams.g
      |  ) GROUP BY 1
      |), ranked AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rnk
      |  FROM base
      |), verdict AS (
      |  SELECT base.source, CAST(len(base.w) AS BIGINT) AS n_tok,
      |    CASE
      |      WHEN base.lang NOT IN ('en', 'de', 'es', 'fr') THEN 'lang'
      |      WHEN ent.bpc IS NULL OR ent.bpc < 3.0 OR ent.bpc >= 4.5
      |        THEN 'entropy'
      |      WHEN 2 * COALESCE(cov.covered, 0) >= len(base.w) THEN 'dupcov'
      |      WHEN ranked.dup_rnk > 1 THEN 'exactdup'
      |      ELSE 'kept' END AS gate
      |  FROM base
      |  LEFT JOIN ent ON ent.doc_id = base.doc_id
      |  LEFT JOIN cov ON cov.doc_id = base.doc_id
      |  JOIN ranked ON ranked.doc_id = base.doc_id
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN gate = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_fail,
      |  CAST(SUM(CASE WHEN gate = 'entropy' THEN 1 ELSE 0 END) AS BIGINT) AS n_entropy_fail,
      |  CAST(SUM(CASE WHEN gate = 'dupcov' THEN 1 ELSE 0 END) AS BIGINT) AS n_dupcov_fail,
      |  CAST(SUM(CASE WHEN gate = 'exactdup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exactdup_fail,
      |  CAST(SUM(CASE WHEN gate = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN gate = 'kept' THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM verdict GROUP BY source
      |ORDER BY source""".stripMargin) { t =>
    curate(t.documents)
  }

  /** The composed gate ladder over a (doc_id, source, lang, text)
    * frame. Factored so the spec can pin the first-failure
    * attribution (a doc failing two gates counts once, at the
    * earlier), the waterfall-sums-to-n invariant, and each gate's
    * planted trigger.
    */
  def curate(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("lang"),
      col("text"), split(col("text"), " ").as("w"))
    // gate 2: q227's per-doc character entropy, verbatim arithmetic
    val ent = base
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("k"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).cast("long").as("n"),
        sum((col("k").cast("double") * log2(col("k").cast("double")))
          .cast(det.D18_6)).as("s"))
      .select(col("doc_id"),
        (log2(col("n").cast("double"))
          - col("s").cast("double") / col("n").cast("double"))
          .cast(det.D18_6).as("bpc"))
    // gate 3: q233's per-doc duplicated-gram interval union
    val cov = Shingles.dupCoverage(Shingles.dupPositions(
      Shingles.gramPositions(base, K, col("doc_id"))), K)
    // gate 4: exact-dup keep-first
    val ranked = base.select(col("doc_id"),
      row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id")))
        .as("dup_rnk"))
    val verdict = base
      .join(ent, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .join(ranked, Seq("doc_id"))
      .select(col("source"), size(col("w")).cast("long").as("n_tok"),
        when(!col("lang").isin("en", "de", "es", "fr"), "lang")
          .when(col("bpc").isNull || col("bpc") < 3.0 || col("bpc") >= 4.5,
            "entropy")
          .when(lit(2) * coalesce(col("covered"), lit(0L)) >= size(col("w")),
            "dupcov")
          .when(col("dup_rnk") > 1, "exactdup")
          .otherwise("kept").as("gate"))
    def cnt(g: String, name: String) =
      sum(when(col("gate") === g, 1L).otherwise(0L)).cast("long").as(name)
    verdict.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        cnt("lang", "n_lang_fail"),
        cnt("entropy", "n_entropy_fail"),
        cnt("dupcov", "n_dupcov_fail"),
        cnt("exactdup", "n_exactdup_fail"),
        cnt("kept", "n_kept"),
        sum(when(col("gate") === "kept", col("n_tok")).otherwise(0L))
          .cast("long").as("kept_tokens"))
      .orderBy(col("source"))
  }

  def all: Seq[Q] = Seq(q250)
}
