package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.Shingles

/** q233: DUPLICATED-NGRAM TOKEN COVERAGE per source — the ExactSubstr
  * statistic (Lee et al. "Deduplicating Training Data Makes Language
  * Models Better" 2022, public): what fraction of each source's
  * TOKENS sit inside a word-8-gram span that also appears in another
  * document. q116 counts how many of a doc's distinct shingles are
  * shared; this measures the COVERED TOKEN MASS — the number that
  * prices what substring-level dedup would actually delete, and the
  * per-source readout a mixture planner reweights on. A span crossing
  * positions i..i+7 covers those 8 tokens; overlapping duplicated
  * spans must not double-count, so per-doc coverage is the exact
  * INTERVAL UNION of fixed-length-8 intervals: with duplicated starts
  * sorted, each start contributes min(8, next_start − start), the
  * last contributes 8 — one lead() window per doc, no sweep state.
  *
  * Shape (q116's discipline plus positions): grams keep their token
  * position through posexplode; each gram crosses the exchange as an
  * 8-byte xxhash64 (the q85 rule — collision-free vs the raw-string
  * oracle through sf1); "duplicated" = appears in ≥ 2 DISTINCT docs
  * (cross-doc copying — within-doc repetition is q116/q84 territory);
  * the dup-key frame semi-joins positions back. Rollup carries exact
  * integers only — coverage is emitted in exact basis points
  * (covered·10000 div total, the q215 floor rule), zero floats in the
  * whole query.
  */
object DupCoverage {

  private val K = 8

  val q233 = Q.of(
    "q233_dup_coverage",
    s"""WITH base AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
      |), starts AS (
      |  SELECT doc_id, source, w, unnest(range(1, len(w) - ${K - 2})) AS i
      |  FROM base WHERE len(w) >= $K
      |), grams AS (
      |  SELECT doc_id, source, CAST(i AS BIGINT) - 1 AS pos,
      |    array_to_string(w[i:i + ${K - 1}], ' ') AS g
      |  FROM starts
      |), dups AS (
      |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams)
      |  GROUP BY g HAVING COUNT(*) >= 2
      |), dpos AS (
      |  SELECT grams.doc_id, grams.source, grams.pos
      |  FROM grams JOIN dups ON dups.g = grams.g
      |), cov AS (
      |  SELECT doc_id, source,
      |    CAST(SUM(CASE WHEN nxt IS NULL THEN $K
      |                  ELSE LEAST($K, nxt - pos) END) AS BIGINT) AS covered
      |  FROM (
      |    SELECT doc_id, source, pos,
      |      LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |    FROM dpos
      |  ) GROUP BY 1, 2
      |), doc AS (
      |  SELECT b.doc_id, b.source, CAST(len(b.w) AS BIGINT) AS n_tok,
      |    COALESCE(cov.covered, 0) AS covered
      |  FROM base b LEFT JOIN cov ON cov.doc_id = b.doc_id
      |)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
      |  CAST(SUM(covered) AS BIGINT) AS covered_tokens,
      |  CAST(SUM(covered) AS BIGINT) * 10000 // CAST(SUM(n_tok) AS BIGINT)
      |    AS coverage_bp,
      |  CAST(SUM(CASE WHEN 2 * covered >= n_tok AND covered > 0
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_half_dup
      |FROM doc GROUP BY source
      |ORDER BY source""".stripMargin) { t =>
    coverage(t.documents)
  }

  /** The coverage plan over a (doc_id, source, text) frame. Factored
    * so the spec can pin the interval-union arithmetic (overlapping
    * spans, disjoint spans, the full-doc case) on planted duplicates.
    */
  def coverage(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      split(col("text"), " ").as("w"))
    val cov = Shingles.dupCoverage(Shingles.dupPositions(
      Shingles.gramPositions(base, K, col("doc_id"))), K)
    val doc = base
      .select(col("doc_id"), col("source"), size(col("w")).cast("long").as("n_tok"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("source"), col("n_tok"),
        coalesce(col("covered"), lit(0L)).as("covered"))
    doc.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        sum(col("covered")).cast("long").as("covered_tokens"),
        sum(when(lit(2) * col("covered") >= col("n_tok") && col("covered") > 0,
          1L).otherwise(0L)).cast("long").as("n_docs_half_dup"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("covered_tokens"),
        expr("covered_tokens * 10000 div total_tokens").as("coverage_bp"),
        col("n_docs_half_dup"))
      .orderBy(col("source"))
  }

  def all: Seq[Q] = Seq(q233)
}
