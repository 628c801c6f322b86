package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word

/** q272: ORACLE-CHECKED AMS F2 sign-sketch calibration — the
  * md5-replay doctrine's SECOND-MOMENT member (after q238/q251/q252/
  * q258/q262/q271): a from-scratch tug-of-war sketch (Alon–Matias–
  * Szegedy 1996, public) estimating the second frequency moment
  * F2 = Σ c_t² (the self-join size / repetition mass of the token
  * distribution) per source, laid against the exact F2. Sixteen
  * estimators; estimator j's sign for a token is bit j of the first
  * 32 md5 bits (±1), Z_j = Σ_t sign_j(t)·c_t, and the estimate is the
  * mean of the Z_j² — E[Z²] = F2 because the md5 sign bits are
  * pairwise-independent enough in practice, which is exactly what the
  * rel-error column audits.
  *
  * Determinism: all int64 — the sixteen Z_j accumulate in ONE
  * codegen'd 17-column aggregate (16 signed sums + the exact Σc²),
  * the estimate is Σ Z_j² div 16, and the error readout is
  * |ΣZ² − 16·F2|·1000 div (16·F2) with a separate ±1 sign column, so
  * every division has non-negative operands (`div` ≡ DuckDB `//`) and
  * the whole row is hash-exact by construction. Overflow headroom:
  * |Z_j| ≤ per-source token mass, so Z² fits int64 up to ~3·10⁹
  * tokens per source; past that the sketch shards per (source, shard)
  * and merges by the linearity of Z — the estimator is unchanged.
  *
  * Scale shape: the corpus collapses to the (source, token, count)
  * vocabulary frame map-side; the 17-column aggregate reduces it to
  * |sources| rows; nothing else moves. Output |sources| rows.
  */
object AmsF2 {

  private val S = 16 // estimators (sign hash bits)

  val q272 = Q.of(
    "q272_ams_f2", {
      val zs = (0 until S).map(j =>
        s"CAST(SUM(CASE WHEN (a >> $j) & 1 = 1 THEN c ELSE -c END) AS BIGINT) AS z$j")
        .mkString(",\n      |    ")
      val zsq = (0 until S).map(j => s"z$j * z$j").mkString(" + ")
      s"""WITH tok AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS token
      |  FROM documents
      |), counts AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tok GROUP BY 1, 2
      |), keyed AS (
      |  SELECT source, c,
      |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS a
      |  FROM counts
      |), z AS (
      |  SELECT source,
      |    CAST(SUM(c * c) AS BIGINT) AS f2,
      |    $zs
      |  FROM keyed GROUP BY source
      |), est AS (
      |  SELECT source, f2, CAST($zsq AS BIGINT) AS s_num FROM z
      |)
      |SELECT source, f2 AS f2_exact,
      |  CAST(s_num // $S AS BIGINT) AS est,
      |  CAST(abs(s_num - $S * f2) * 1000 // ($S * f2) AS BIGINT) AS abs_err_pm,
      |  CAST(CASE WHEN s_num >= $S * f2 THEN 1 ELSE -1 END AS BIGINT) AS err_sign
      |FROM est ORDER BY source""".stripMargin
    }) { t =>
    report(t.documents)
  }

  /** The q272 body over a (source, text) frame. Factored so the spec
    * can pin the sign derivation against an independent JVM md5, the
    * single-token exactness case, and the error band on the corpus.
    */
  def report(docs: DataFrame): DataFrame = {
    val keyed = docs
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
      .withColumn("a",
        expr(md5Word("token")))
    val zCols: Seq[Column] = (0 until S).map { j =>
      sum(when(expr(s"(shiftright(a, $j) & 1) = 1"), col("c"))
        .otherwise(-col("c"))).as(s"z$j")
    }
    val aggCols = sum(col("c") * col("c")).as("f2") +: zCols
    val zsq = (0 until S).map(j => s"z$j * z$j").mkString(" + ")
    keyed.groupBy(col("source"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("s_num", expr(zsq))
      .select(col("source"), col("f2").as("f2_exact"),
        expr(s"s_num div $S").as("est"),
        expr(s"abs(s_num - $S * f2) * 1000 div ($S * f2)").as("abs_err_pm"),
        when(col("s_num") >= lit(S) * col("f2"), 1L).otherwise(-1L)
          .as("err_sign"))
      .orderBy(col("source"))
  }

  def all: Seq[Q] = Seq(q272)
}
