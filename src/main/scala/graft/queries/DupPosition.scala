package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.Shingles

/** q247: BOILERPLATE POSITION PROFILE per source — WHERE in the
  * document do cross-doc duplicated 8-gram spans start: front, middle
  * or back third. q233 prices the duplicated token MASS; this locates
  * it, which decides the CURE — front-loaded duplication is headers /
  * navigation chrome (strip a prefix), back-loaded is footers /
  * license blocks (strip a suffix), uniform is mirrored content
  * (whole-doc dedup) — the standard triage before writing any
  * boilerplate-removal rule (the q116/q84 family's positional twin).
  *
  * Exactness: a gram starting at token pos of an L-token doc lands in
  * third pos·3 div L (exact int64 floor, identical div///); counts
  * and basis-point shares (·10000 div, the q215 floor rule) are pure
  * integers — zero floats in the whole query.
  *
  * Scale shape: reuses q233's machinery shape — grams keep positions
  * through posexplode, cross exchanges as xxhash64, duplication =
  * ≥ 2 distinct docs via one distinct+fold, positions semi-join back;
  * the rollup is |sources| × 3 cells folded from the dup positions
  * only. Measured decade exponent 0.42 (SCALE_CURVE_r13): the
  * posexplode + xxhash64 gram exchange is the linear floor and the
  * dup-position fold is bounded by dup-gram density × the fixed
  * |sources| × 3 cell grid — sub-linear at this decade is overhead
  * amortization, not a hidden cliff.
  */
object DupPosition {

  private val K = 8

  val q247 = Q.of(
    "q247_dup_position",
    s"""WITH base AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
      |), starts AS (
      |  SELECT doc_id, source, w, unnest(range(1, len(w) - ${K - 2})) AS i
      |  FROM base WHERE len(w) >= $K
      |), grams AS (
      |  SELECT doc_id, source, CAST(len(w) AS BIGINT) AS l,
      |    CAST(i AS BIGINT) - 1 AS pos,
      |    array_to_string(w[i:i + ${K - 1}], ' ') AS g
      |  FROM starts
      |), dups AS (
      |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams)
      |  GROUP BY g HAVING COUNT(*) >= 2
      |), dpos AS (
      |  SELECT grams.source, grams.pos * 3 // grams.l AS third
      |  FROM grams JOIN dups ON dups.g = grams.g
      |), agg AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN third = 0 THEN 1 ELSE 0 END) AS BIGINT) AS front,
      |    CAST(SUM(CASE WHEN third = 1 THEN 1 ELSE 0 END) AS BIGINT) AS middle,
      |    CAST(SUM(CASE WHEN third = 2 THEN 1 ELSE 0 END) AS BIGINT) AS back
      |  FROM dpos GROUP BY source
      |)
      |SELECT source, front, middle, back,
      |  front * 10000 // (front + middle + back) AS front_bp,
      |  back * 10000 // (front + middle + back) AS back_bp
      |FROM agg
      |ORDER BY source""".stripMargin) { t =>
    profile(t.documents)
  }

  /** The position profile over a (doc_id, source, text) frame.
    * Factored so the spec can pin planted header/footer duplication
    * landing in the right third.
    */
  def profile(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      split(col("text"), " ").as("w"))
    // grams feeds BOTH the dup-frequency aggregate and the position
    // semi-join; uncached, each consumer re-runs the posexplode +
    // per-gram xxhash64 corpus pass (two fact passes, different shuffle
    // keys so no exchange is shared) — materialize once (guide §2.4)
    val grams = graft.CacheScope.trackedCache(Shingles.gramPositions(base, K,
      col("doc_id"), col("source"), size(col("w")).cast("long").as("l")))
    val dpos = Shingles.dupPositions(grams)
      .select(col("source"), expr("pos * 3 div l").as("third"))
    val agg = dpos.groupBy(col("source")).agg(
      sum(when(col("third") === 0, 1L).otherwise(0L)).cast("long").as("front"),
      sum(when(col("third") === 1, 1L).otherwise(0L)).cast("long").as("middle"),
      sum(when(col("third") === 2, 1L).otherwise(0L)).cast("long").as("back"))
    agg.select(col("source"), col("front"), col("middle"), col("back"),
        expr("front * 10000 div (front + middle + back)").as("front_bp"),
        expr("back * 10000 div (front + middle + back)").as("back_bp"))
      .orderBy(col("source"))
  }

  def all: Seq[Q] = Seq(q247)
}
