package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.{det, vec}

/** q275: JOHNSON–LINDENSTRAUSS distortion audit (Achlioptas 2003
  * ±1-projection form of the JL lemma, public) — does a 32-dim random
  * sign projection preserve pairwise distances of the 64-dim
  * embeddings, and with what spread? The complement of q252 (SRP
  * preserves ANGLE buckets) and q256 (int8 quantization fidelity):
  * this measures the DISTANCE-preservation guarantee every
  * dimensionality-reduced ANN/dedup tier leans on, as a per-mille
  * distortion histogram with exact oracle replay.
  *
  * Mechanics: plane p's ±1 weight on dim d derives from the low bit
  * of the first 32 md5 bits of "jl:p:d" (the q252 derivation under a
  * distinct namespace); each sampled vector's 32 projections are the
  * ±-signed sequential folds (bit-identical cross-engine, the q50/
  * q252 proof); squared distances — original and projected — come
  * from the three-dot-product identity ‖a−b‖² = a·a − 2a·b + b·b,
  * each dot an exact sequential fold over identical doubles, so the
  * whole ratio chain D²/(32·d²) is ONE identical IEEE expression;
  * the ratio quantizes D18_6 (q129 rule) before bucketing and the
  * exact decimal per-bucket means. E[ratio] = 1; the JL spread at
  * k = 32 is ±~250‰ — exactly what the histogram exhibits.
  *
  * Scale shape: the audit runs on a PINNED sample — vec_id < 64, an
  * SF-invariant pushdown filter — so both sides of the all-pairs
  * join are fixed 64-row frames at ANY scale (the q255
  * bounded-BNLJ doctrine, whitelisted with that rationale) and the
  * C(64,2) = 2016 pair frame never grows; projections are one
  * pass (32 dots against literal sign vectors, no explode). Output ≤ ~12
  * histogram rows. Zero-distance duplicate pairs are excluded on
  * both engines (d² > 0).
  */
object JlDistortion {

  private val Planes = 32
  private val Dims = 64
  private val Sample = 64

  /** ±1.0 weight of plane p on 1-based dim d: low bit of the first
    * 32 bits of md5("jl:p:d") — the oracle derives the same constant
    * with DuckDB's md5().
    */
  private def sign(p: Int, d: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"jl:$p:$d".getBytes("UTF-8"))
    if ((h(3) & 1) == 1) 1.0 else -1.0
  }

  val q275 = Q.of(
    "q275_jl_distortion",
    s"""WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < $Sample
      |), r AS (
      |  SELECT p, list_transform(range(1, ${Dims + 1}),
      |    d -> CASE WHEN CAST(('0x' || substr(md5('jl:' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) & 1 = 1
      |      THEN 1.0 ELSE -1.0 END) AS rv
      |  FROM (SELECT unnest(range(0, $Planes)) AS p)
      |), proj AS (
      |  SELECT vec_id, p, list_dot_product(v, rv) AS y
      |  FROM e CROSS JOIN r
      |), yv AS (
      |  SELECT vec_id, list(y ORDER BY p) AS yarr FROM proj GROUP BY vec_id
      |), pr AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |    list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, b.v)
      |      + list_dot_product(b.v, b.v) AS d2,
      |    list_dot_product(ya.yarr, ya.yarr) - 2 * list_dot_product(ya.yarr, yb.yarr)
      |      + list_dot_product(yb.yarr, yb.yarr) AS dd2
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  JOIN yv ya ON ya.vec_id = a.vec_id
      |  JOIN yv yb ON yb.vec_id = b.vec_id
      |), scored AS (
      |  SELECT CAST(CAST(dd2 / ($Planes.0 * d2) AS DECIMAL(18,6)) AS DOUBLE) AS ratio
      |  FROM pr WHERE d2 > 0
      |), bk AS (
      |  SELECT CAST(floor(ratio * 10) AS BIGINT) AS bucket,
      |    CAST(ratio AS DECIMAL(18,6)) AS rq, ratio
      |  FROM scored
      |)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(rq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_ratio,
      |  MIN(ratio) AS min_ratio, MAX(ratio) AS max_ratio
      |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin) { t =>
    audit(Ann.vectors(t).filter(col("vec_id") < Sample))
  }

  /** The audit plan over a bounded (vec_id, v: array<double>) frame.
    * Factored so the spec can pin the projection against a hand MD5,
    * the three-dot-product identity, and the zero-distance guard.
    */
  def audit(e0: DataFrame): DataFrame = {
    // one sequential dot per plane — the same terms in the same order as
    // a fused 64-term ±chain; 32 fused chains outgrew the JVM's 64 KB
    // method limit, and a class that fails to compile is retried every run
    def proj(p: Int) = vec.dot(col("v"), typedLit((1 to Dims).map(sign(p, _))))
    val e = graft.CacheScope.trackedCache(
      e0.select(col("vec_id"), col("v"),
        array((0 until Planes).map(proj): _*).as("yarr")))
    val a = e.select(col("vec_id").as("va"), col("v").as("xa"),
      col("yarr").as("ya"))
    val b = e.select(col("vec_id").as("vb"), col("v").as("xb"),
      col("yarr").as("yb"))
    val d2 = vec.dot(col("xa"), col("xa")) -
      lit(2.0) * vec.dot(col("xa"), col("xb")) +
      vec.dot(col("xb"), col("xb"))
    val dd2 = vec.dot(col("ya"), col("ya")) -
      lit(2.0) * vec.dot(col("ya"), col("yb")) +
      vec.dot(col("yb"), col("yb"))
    val scored = a.join(b, col("va") < col("vb"))
      .select(d2.as("d2"), dd2.as("dd2"))
      .filter(col("d2") > 0)
      .select((col("dd2") / (lit(Planes.toDouble) * col("d2")))
        .cast(det.D18_6).cast("double").as("ratio"))
    scored
      .select(floor(col("ratio") * 10).cast("long").as("bucket"),
        col("ratio").cast(det.D18_6).as("rq"), col("ratio"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(col("rq")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_ratio"),
        min(col("ratio")).as("min_ratio"),
        max(col("ratio")).as("max_ratio"))
      .orderBy(col("bucket"))
  }

  def all: Seq[Q] = Seq(q275)
}
