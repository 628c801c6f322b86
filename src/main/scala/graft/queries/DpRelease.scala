package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word

/** q266: DIFFERENTIALLY-PRIVATE COUNT RELEASE — the release mechanism
  * the privacy tier has been missing: q135/q174/q205 AUDIT
  * k-anonymity / l-diversity / t-closeness of a frame, but a dataset
  * card that publishes per-(source, lang) counts still leaks exact
  * counts. This query releases each cell count under the two-sided
  * GEOMETRIC mechanism (the discrete Laplace; Dwork–McSherry–Nissim–
  * Smith 2006 calibration, Ghosh–Roughgarden–Sundararajan 2009
  * universal optimality for counts — public), ε = 1, truncated to
  * ±12 (tail mass < 4·10⁻⁶, renormalized — the practical release
  * window; a production release would widen the table for smaller ε).
  *
  * Replayable randomness, the md5 doctrine (q238/q258/q262): the
  * uniform draw is the first 32 bits of md5(source:lang:tag) — per
  * cell, keyed, deterministic — and the inverse-CDF inversion is 24
  * INTEGER threshold comparisons: T_k = floor(cdf(k)·2³²) computed
  * once in Scala and interpolated as int64 literals into BOTH the
  * Spark plan and the DuckDB oracle, so noise = −12 + Σ[u ≥ T_k] is
  * pure integer arithmetic in each engine — no transcendental ever
  * evaluated at query time, hash-exact by construction.
  *
  * Scale shape: one map-side-combined rollup to |sources|·|langs|
  * cells; noise is a per-cell projection. Nothing else moves.
  */
object DpRelease {

  /** Truncation half-width and fixed ε (micro-units column). */
  private val Trunc = 12
  private val EpsMicro = 1000000L

  /** Versioned salt: a new release epoch = a new tag (fresh draws). */
  private val Tag = "graft_dp_v1"

  /** T_k = floor(cdf(k)·2³²), k = −Trunc..Trunc−1, for the truncated
    * two-sided geometric with α = e^(−ε). Computed once on the
    * driver; both engines only ever see the integer literals.
    */
  private val thresholds: Seq[Long] = {
    val alpha = math.exp(-1.0)
    val weights = (-Trunc to Trunc).map(k => math.pow(alpha, math.abs(k)))
    val z = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).tail.init // cdf at k = -Trunc..Trunc-1
    cum.map(c => math.floor(c / z * 4294967296.0).toLong)
  }

  /** `-12 + Σ [u32 >= T_k]` as a SQL fragment valid in both engines. */
  private def noiseSql(u: String): String =
    s"(${-Trunc} + " + thresholds
      .map(t => s"(CASE WHEN $u >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ") + ")"

  val q266 = Q.of(
    "q266_dp_release",
    s"""WITH cells AS (
      |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS true_n,
      |    CAST(('0x' || substr(md5(source || ':' || lang || ':$Tag'), 1, 8))
      |      AS BIGINT) AS u32
      |  FROM documents GROUP BY source, lang
      |), noised AS (
      |  SELECT source, lang, true_n,
      |    CAST(${noiseSql("u32")} AS BIGINT) AS noise
      |  FROM cells
      |)
      |SELECT source, lang, true_n, noise,
      |  GREATEST(0, true_n + noise) AS released,
      |  CAST($EpsMicro AS BIGINT) AS eps_micro
      |FROM noised
      |ORDER BY source, lang""".stripMargin) { t =>
    release(t.documents)
  }

  /** The per-(source, lang) DP release. Factored so the spec can pin
    * the threshold inversion against a direct JVM geometric CDF and
    * the clamp at zero.
    */
  def release(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("true_n"))
      .withColumn("graft_u32", expr(
        md5Word(s"concat(source, ':', lang, ':$Tag')")))
    cells
      .withColumn("noise", expr(noiseSql("graft_u32")).cast("long"))
      .select(col("source"), col("lang"), col("true_n"), col("noise"),
        greatest(lit(0L), col("true_n") + col("noise")).as("released"),
        lit(EpsMicro).as("eps_micro"))
      .orderBy(col("source"), col("lang"))
  }

  /** Exposed for the spec: the threshold table (ascending, 2·Trunc
    * entries in [0, 2³²)).
    */
  private[graft] def thresholdTable: Seq[Long] = thresholds

  def all: Seq[Q] = Seq(q266)
}
