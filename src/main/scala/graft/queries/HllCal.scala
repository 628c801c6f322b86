package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word

/** q262: ORACLE-CHECKED HyperLogLog calibration — the md5-replay
  * recipe (q238 MinHash → q251 SimHash → q252 SRP → q258 Bloom)
  * extended to the CARDINALITY-SKETCH family: a from-scratch HLL
  * (Flajolet et al. 2007, public) whose every register DuckDB
  * recomputes, laid against the exact distinct count per source. The
  * production sketches (q25 approx_count_distinct, q100 HLL merge)
  * hash with engine internals no SQL can replay; this twin makes the
  * ESTIMATOR itself hash-exact: bucket = md5-half mod m, rho via the
  * minimal-binary-string length (`33 − length(bin(w))`, identical in
  * both engines; w = 0 → 33), registers = per-bucket max.
  *
  * Determinism: the harmonic denominator is kept EXACT — each
  * register contributes 2^(33−rho), an int64 (rho ∈ [1, 33]; empty
  * registers contribute 2^33 each) — so Σ 2^−rho = S′ / 2^33 with S′
  * an exact integer sum (a float Σ 2^−rho spans > 53 bits of
  * magnitude and its value depends on addition order). The estimate
  * α·m²·2^33 / S′ is then ONE identical IEEE chain from exact
  * integers (α spelled as the same literal expression both sides);
  * the small-range LINEAR-COUNTING branch (E ≤ 2.5m with empty
  * registers → m·ln(m/V), the published correction — without it the
  * estimator is ~2.5× high exactly where the testdata sources live)
  * uses each engine's ln(), which is libm-internal — so the selected
  * estimate is rounded at 4 on BOTH sides (the q10/q11
  * engine-internal rule) and rel_err derives from the ROUNDED value,
  * keeping the compare deterministic.
  *
  * Scale shape: distinct (source, hash) collapses the corpus
  * (map-side combined); registers are a (source, bucket) max — output
  * ≤ |sources|·1024 rows; the rollup is |sources| rows. The exact
  * countDistinct leg exists BECAUSE this is a calibration query
  * (audit cadence, like q238/q258) — production keeps the sketch and
  * drops the exact leg.
  */
object HllCal {

  private val M = 1024 // registers (p = 10)

  val q262 = Q.of(
    "q262_hll_cal",
    s"""WITH h AS (
      |  SELECT DISTINCT source,
      |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS a,
      |    CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) AS w
      |  FROM documents
      |), r AS (
      |  SELECT source, a % $M AS bucket,
      |    MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS rho
      |  FROM h GROUP BY source, a % $M
      |), s AS (
      |  SELECT source,
      |    CAST($M - COUNT(*) AS BIGINT) AS v_empty,
      |    CAST(SUM(1::BIGINT << (33 - rho))
      |      + ($M - COUNT(*)) * 8589934592 AS BIGINT) AS s_prime
      |  FROM r GROUP BY source
      |), x AS (
      |  SELECT source, CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact
      |  FROM documents GROUP BY source
      |), est AS (
      |  SELECT source, v_empty, s_prime,
      |    (0.7213 / (1.0 + 1.079 / $M.0)) * $M.0 * $M.0 * 8589934592.0
      |      / CAST(s_prime AS DOUBLE) AS raw_e
      |  FROM s
      |), sel AS (
      |  SELECT source, v_empty, s_prime,
      |    round(CASE WHEN raw_e <= 2.5 * $M.0 AND v_empty > 0
      |      THEN $M.0 * ln($M.0 / CAST(v_empty AS DOUBLE))
      |      ELSE raw_e END, 4) AS estimate
      |  FROM est
      |)
      |SELECT x.source, x.n_exact, sel.v_empty, sel.s_prime, sel.estimate,
      |  round((sel.estimate - CAST(x.n_exact AS DOUBLE))
      |    / CAST(x.n_exact AS DOUBLE), 6) AS rel_err
      |FROM x JOIN sel USING (source)
      |ORDER BY source""".stripMargin) { t =>
    report(t.documents).orderBy(col("source"))
  }

  /** The q262 body over a (source, text) frame. Factored so the spec
    * can pin register arithmetic on crafted hashes (via planted
    * texts), the empty-register accounting, and the estimator
    * formula.
    */
  def report(docs: DataFrame): DataFrame = {
    val h = docs.select(col("source"),
      expr(md5Word("text")).as("a"),
      expr(md5Word("text", 9)).as("w"))
      .distinct()
    val regs = h
      .select(col("source"), (col("a") % M).as("bucket"),
        when(col("w") === 0, lit(33))
          .otherwise(lit(33) - length(bin(col("w")))).as("rho"))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("rho"))
    val sums = regs.groupBy(col("source"))
      .agg(
        (lit(M.toLong) - count(lit(1))).as("v_empty"),
        (sum(expr("shiftleft(1L, cast(33 - rho as int))"))
          + (lit(M.toLong) - count(lit(1))) * lit(8589934592L)).as("s_prime"))
    val exact = docs.groupBy(col("source"))
      .agg(countDistinct(md5(col("text"))).as("n_exact"))
    val rawE = (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(M.toDouble))) *
      lit(M.toDouble) * lit(M.toDouble) * lit(8589934592.0) /
      col("s_prime").cast("double")
    val estimate = round(
      when(rawE <= lit(2.5) * lit(M.toDouble) && col("v_empty") > 0,
        lit(M.toDouble) * log(lit(M.toDouble) / col("v_empty").cast("double")))
        .otherwise(rawE), 4)
    exact.join(sums, "source")
      .withColumn("estimate", estimate)
      .select(col("source"), col("n_exact"), col("v_empty"), col("s_prime"),
        col("estimate"),
        round((col("estimate") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6).as("rel_err"))
  }

  def all: Seq[Q] = Seq(q262)
}
