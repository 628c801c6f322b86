package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word
import graft.functions.det

/** q240: STRATIFIED ATE — the observational member of the
  * experimentation tier (Cochran 1968 subclassification, public):
  * q74/q211/q216 assume RANDOM assignment; when exposure is
  * data-dependent (rollouts gated by account type, opt-ins), the raw
  * treated-vs-control difference is confounded by whatever drives
  * exposure. Stratifying on the confounder and re-weighting each
  * stratum's within-stratum difference by its population share
  * removes the confounding that the strata capture:
  * ATE = Σ_s (n_s/N)·(ȳ₁ₛ − ȳ₀ₛ). Exposure here is DELIBERATELY
  * segment-skewed (md5 thresholds varying by market segment — the
  * deterministic stand-in for a gated rollout), so the query emits
  * the naive difference AND the adjusted one side by side.
  *
  * Determinism: exposure is an exact integer compare of the md5
  * 32-bit key against per-segment 2³²-scaled literals (the q79/q226
  * keying); outcome sums are exact D20_6 decimals; each stratum's
  * term (n_s/N)·(s₁/n₁ − s₀/n₀) is one fixed IEEE chain quantized at
  * D18_6 before the order-independent exact sum over strata (the
  * q129 rule); one-armed strata guard to NULL and drop from the ATE
  * with their weight renormalized over covered strata — stated, not
  * silent.
  *
  * Scale shape: ONE orders scan folds to customer cells (map-side
  * combined), one segment-grain fold, |segments| rows + the global
  * readout attached from a one-row broadcast.
  */
object StratifiedAte {

  /** Per-segment exposure thresholds as fractions of 2³² (a gated
    * rollout: AUTOMOBILE mostly on, MACHINERY mostly off). */
  private val thresholds: Seq[(String, Long)] = Seq(
    "AUTOMOBILE" -> 3006477107L, // 0.70 * 2^32
    "BUILDING" -> 2147483648L,   // 0.50
    "FURNITURE" -> 1717986918L,  // 0.40
    "HOUSEHOLD" -> 1288490188L,  // 0.30
    "MACHINERY" -> 858993459L)   // 0.20

  private def thrSql: String = thresholds.map { case (s, v) =>
    s"WHEN '$s' THEN $v" }.mkString(" ")

  val q240 = Q.of(
    "q240_stratified_ate",
    s"""WITH cust AS (
      |  SELECT c_custkey, c_mktsegment AS seg,
      |    CASE WHEN CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
      |              AS BIGINT)
      |           < (CASE c_mktsegment $thrSql ELSE 0 END)
      |      THEN 1 ELSE 0 END AS treated
      |  FROM customer
      |), y AS (
      |  SELECT cust.c_custkey, cust.seg, cust.treated,
      |    SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS spend
      |  FROM cust JOIN orders ON o_custkey = cust.c_custkey
      |  GROUP BY 1, 2, 3
      |), strata AS (
      |  SELECT seg,
      |    COUNT(*) AS n_s,
      |    CAST(SUM(treated) AS BIGINT) AS n1,
      |    CAST(SUM(1 - treated) AS BIGINT) AS n0,
      |    SUM(CASE WHEN treated = 1 THEN spend ELSE CAST(0 AS DECIMAL(20,6)) END) AS s1,
      |    SUM(CASE WHEN treated = 0 THEN spend ELSE CAST(0 AS DECIMAL(20,6)) END) AS s0
      |  FROM y GROUP BY seg
      |), terms AS (
      |  SELECT seg, n_s, n1, n0,
      |    CASE WHEN n1 > 0 AND n0 > 0
      |      THEN CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE)
      |         - CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE)
      |      END AS diff_s
      |  FROM strata
      |), g AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN diff_s IS NOT NULL THEN n_s ELSE 0 END) AS BIGINT)
      |      AS n_cov,
      |    CAST(SUM(CAST(CAST(n_s AS DOUBLE) * diff_s AS DECIMAL(18,6)))
      |      AS DOUBLE) AS wsum
      |  FROM terms
      |), raw AS (
      |  SELECT
      |    CAST(CAST(SUM(CASE WHEN treated = 1 THEN spend
      |                       ELSE CAST(0 AS DECIMAL(20,6)) END) AS VARCHAR) AS DOUBLE)
      |      / CAST(SUM(treated) AS DOUBLE)
      |    - CAST(CAST(SUM(CASE WHEN treated = 0 THEN spend
      |                       ELSE CAST(0 AS DECIMAL(20,6)) END) AS VARCHAR) AS DOUBLE)
      |      / CAST(SUM(1 - treated) AS DOUBLE) AS naive_diff
      |  FROM y
      |)
      |SELECT terms.seg, terms.n_s, terms.n1, terms.n0, terms.diff_s,
      |  raw.naive_diff,
      |  g.wsum / CAST(g.n_cov AS DOUBLE) AS ate_stratified
      |FROM terms CROSS JOIN g CROSS JOIN raw
      |ORDER BY terms.seg""".stripMargin) { t =>
    val thr = thresholds.foldLeft(lit(0L)) { case (acc, (s, v)) =>
      when(col("c_mktsegment") === s, lit(v)).otherwise(acc)
    }
    ate(t.customer, t.orders, thr)
  }

  /** The estimator over customer/orders frames with an exposure
    * threshold column (2³²-scaled, keyed on md5(custkey)). Factored so
    * the spec can pin confounding removal on planted fixtures (raw
    * diff biased, stratified diff exact) and the one-armed guard.
    */
  def ate(customer: DataFrame, orders: DataFrame, thr: Column): DataFrame = {
    val cust = customer.select(
      col("c_custkey"), col("c_mktsegment").as("seg"),
      when(expr(md5Word("cast(c_custkey as string)"))
        < thr, 1L).otherwise(0L).as("treated"))
    val y = cust
      .join(orders, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("seg"), col("treated"))
      .agg(sum(col("o_totalprice").cast(det.D20_6)).as("spend"))
    val zero = lit(0).cast(det.D20_6)
    val strata = y.groupBy(col("seg")).agg(
      count(lit(1)).as("n_s"),
      sum(col("treated")).cast("long").as("n1"),
      sum(lit(1L) - col("treated")).cast("long").as("n0"),
      sum(when(col("treated") === 1L, col("spend")).otherwise(zero)).as("s1"),
      sum(when(col("treated") === 0L, col("spend")).otherwise(zero)).as("s0"))
    val terms = strata.select(col("seg"), col("n_s"), col("n1"), col("n0"),
      when(col("n1") > 0 && col("n0") > 0,
        col("s1").cast("double") / col("n1").cast("double")
          - col("s0").cast("double") / col("n0").cast("double")).as("diff_s"))
    val g = terms.agg(
      sum(when(col("diff_s").isNotNull, col("n_s")).otherwise(0L))
        .cast("long").as("n_cov"),
      sum((col("n_s").cast("double") * col("diff_s")).cast(det.D18_6))
        .cast("double").as("wsum"))
    val raw = y.agg(
      (sum(when(col("treated") === 1L, col("spend")).otherwise(zero))
        .cast("double") / sum(col("treated")).cast("double")
        - sum(when(col("treated") === 0L, col("spend")).otherwise(zero))
          .cast("double") / sum(lit(1L) - col("treated")).cast("double"))
        .as("naive_diff"))
    terms.crossJoin(broadcast(g)).crossJoin(broadcast(raw))
      .select(col("seg"), col("n_s"), col("n1"), col("n0"), col("diff_s"),
        col("naive_diff"),
        (col("wsum") / col("n_cov").cast("double")).as("ate_stratified"))
      .orderBy(col("seg"))
  }

  def all: Seq[Q] = Seq(q240)
}
