package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word
import graft.functions.det

/** q251: ORACLE-CHECKED SimHash calibration — the full
  * token-hash → bit-vote → band-bucket → candidate-pair pipeline
  * built from md5-derived bit vectors, with every candidate pair's
  * ESTIMATED similarity (1 − hamming/64) laid against its EXACT
  * token-set Jaccard, bucketed by hamming distance. The production
  * simhash path (q42) hashes with xxhash64, which DuckDB cannot
  * replay, so its accuracy is recall-bounded in spec; THIS query
  * re-expresses the identical mechanics (Charikar 2002, public) over
  * md5 — extending the q238 recipe that made MinHash-LSH hash-exact
  * to the second LSH family, and shrinking the rows-only tier again.
  *
  * Mechanics: each distinct whitespace token hashes to 64 bits (md5
  * halves → two 32-bit words, the q238 derivation); bit b of the
  * document signature is 1 iff Σ_tokens (±1 by token bit b) > 0 (tie
  * → 0, deterministic); the signature packs into 4 × 16-bit band
  * words; a candidate pair shares ≥ 2 exact band words (see
  * [[MinBandMatches]] — hamming ≤ 2 pairs are GUARANTEED to collide
  * by pigeonhole, and the ≥ 2 rule is what keeps the candidate
  * volume near-linear on a homogeneous corpus); hamming distance is
  * Σ bit_count(xor(band words)).
  *
  * Determinism: votes are exact int64 sums (commutative — token
  * order never matters); signatures, band words, pairs, and hamming
  * are pure integer computation; exact Jaccard is an integer ratio
  * quantized D18_6 per pair before the exact decimal per-bucket sums
  * (the q129 rule); est similarity is one fixed IEEE chain.
  *
  * Scale shape (the q42 discipline, SQL-replayable): one md5 per
  * DISTINCT token rides the doc-keyed vote exchange as two longs (no
  * 64× blowup — the 64 vote sums are plain codegen'd conditional
  * aggregates, map-side combined, the q238 codegen lesson); the slim
  * (doc_id, 4 band words) frame is cached and band-exploded — only
  * (band, word, id) triples ride the candidate exchange; the exact-
  * Jaccard leg ships token sets for CANDIDATE docs only (pair volume
  * ∝ near-dup density, the banding bound). Output ≤ 65 calibration
  * rows. Like q238: audit cadence, not per-batch — q42 stays the
  * production path.
  */
object SimhashCal {

  private val Bits = 64
  private val Bands = 4
  private val BitsPerBand = Bits / Bands

  /** The 64 per-bit vote aggregates: +1 when the token hash has bit
    * j set, −1 otherwise. Bits 0–31 read the first md5 half, 32–63
    * the second.
    */
  private def voteSql: String = (0 until Bits).map { j =>
    val (w, i) = if (j < 32) ("a", j) else ("b", j - 32)
    s"SUM(CASE WHEN ($w >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$j"
  }.mkString(",\n      |    ")

  /** Band word `band` packed from the 16 vote signs. */
  private def packSql(band: Int): String = (0 until BitsPerBand).map { j =>
    s"(CASE WHEN v${band * BitsPerBand + j} > 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")

  /** The C(4,2) = 6 band pairs, in (i, j) i < j order — the compound
    * join keys that realize the ≥ 2-SHARED-BANDS candidate rule
    * (sharing ≥ 1 of the 6 two-band keys ⟺ sharing ≥ 2 of the 4
    * bands). One shared band is the pigeonhole floor, but on a
    * homogeneous corpus simhash band words CONCENTRATE (the per-bit
    * votes share the corpus-wide bias), so single-band buckets grow
    * with n and a ≥ 1 join is quadratic IN THE JOIN ITSELF —
    * measured: exponent 1.302 at the sf0.1→sf1 decade. Joining on
    * two-band compounds keeps every hamming ≤ 2 pair by pigeonhole
    * (and in practice the hamming ≤ 6 near-dup class, which rarely
    * concentrates 3+ flips into 3 distinct bands) while random
    * same-bias pairs almost never clear two INDEPENDENT 16-bit words
    * — Manku et al. 2007's block-combination trick (public) joined
    * with the q41 minBandMatches discipline.
    */
  private val BandPairs: Seq[(Int, Int)] =
    for { i <- 0 until Bands; j <- i + 1 until Bands } yield (i, j)

  val q251 = Q.of(
    "q251_simhash_calibration", {
      val bandSelects = BandPairs.zipWithIndex
        .map { case ((i, j), pid) =>
          s"SELECT doc_id, $pid AS pid, w$i AS wa, w$j AS wb FROM sig" }
        .mkString("\n      |  UNION ALL ")
      val hammingSql = (0 until Bands)
        .map(b => s"bit_count(xor(sa.w$b, sb.w$b))").mkString(" + ")
      s"""WITH base AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tl
      |  FROM documents WHERE length(trim(text)) > 0
      |), ab AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS a,
      |    CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS b
      |  FROM (SELECT doc_id, unnest(tl) AS t FROM base)
      |), votes AS (
      |  SELECT doc_id,
      |    $voteSql
      |  FROM ab GROUP BY doc_id
      |), sig AS (
      |  SELECT doc_id,
      |    ${(0 until Bands).map(b => s"CAST(${packSql(b)} AS BIGINT) AS w$b").mkString(",\n      |    ")}
      |  FROM votes
      |), bk AS (
      |  $bandSelects
      |), pairs AS (
      |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
      |  FROM bk x JOIN bk y
      |    ON x.pid = y.pid AND x.wa = y.wa AND x.wb = y.wb
      |    AND x.doc_id < y.doc_id
      |), scored AS (
      |  SELECT da, db,
      |    CAST($hammingSql AS BIGINT) AS hamming,
      |    CAST(len(list_intersect(ba.tl, bb.tl)) AS BIGINT) AS inter,
      |    CAST(len(ba.tl) + len(bb.tl) AS BIGINT) AS szsum
      |  FROM pairs
      |  JOIN sig sa ON sa.doc_id = pairs.da
      |  JOIN sig sb ON sb.doc_id = pairs.db
      |  JOIN base ba ON ba.doc_id = pairs.da
      |  JOIN base bb ON bb.doc_id = pairs.db
      |), jx AS (
      |  SELECT hamming,
      |    CAST(CAST(inter AS DOUBLE) / CAST(szsum - inter AS DOUBLE)
      |      AS DECIMAL(18,6)) AS exact_q
      |  FROM scored
      |)
      |SELECT hamming,
      |  1.0 - CAST(hamming AS DOUBLE) / 64.0 AS est_sim,
      |  COUNT(*) AS n_pairs,
      |  CAST(SUM(exact_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_exact,
      |  CAST(MIN(exact_q) AS DOUBLE) AS min_exact,
      |  CAST(MAX(exact_q) AS DOUBLE) AS max_exact
      |FROM jx GROUP BY hamming
      |ORDER BY hamming""".stripMargin
    }) { t =>
    calibrate(t.documents)
  }

  /** The calibration plan over a (doc_id, text) frame. Factored so
    * the spec can pin identical docs (hamming 0, exact 1), the
    * pigeonhole collision guarantee, and the estimator arithmetic.
    */
  def calibrate(docs: DataFrame): DataFrame = {
    val base = graft.CacheScope.trackedCache(docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("tl")))
    val ab = base.select(col("doc_id"), explode(col("tl")).as("t"))
      .select(col("doc_id"),
        expr(md5Word("t")).as("a"),
        expr(md5Word("t", 9)).as("b"))
    // 64 plain conditional aggregates — codegen'd, map-side combined
    // (the q238 lesson: no higher-order-function lambdas in the hot
    // aggregate)
    val voteCols = (0 until Bits).map { j =>
      val (w, i) = if (j < 32) (col("a"), j) else (col("b"), j - 32)
      sum(when(shiftright(w, i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$j")
    }
    val votes = ab.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    val packCols = (0 until Bands).map { bnd =>
      (0 until BitsPerBand).map { j =>
        when(col(s"v${bnd * BitsPerBand + j}") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).cast("long").as(s"w$bnd")
    }
    val sig = graft.CacheScope.trackedCache(
      votes.select(col("doc_id") +: packCols: _*))
    // join on TWO-BAND compound keys (≥ 1 of the 6 pair-keys ⟺ ≥ 2 of
    // 4 bands): the single-band buckets that concentrate on a
    // homogeneous corpus never materialize as join output
    val bk = sig.select(col("doc_id"),
      posexplode(array(BandPairs.map { case (i, j) =>
        struct(col(s"w$i").as("wa"), col(s"w$j").as("wb")) }: _*))
        .as(Seq("pid", "wp")))
      .select(col("doc_id"), col("pid"),
        col("wp.wa").as("wa"), col("wp.wb").as("wb"))
    val pairs = bk.as("x")
      .join(bk.as("y"),
        col("x.pid") === col("y.pid") && col("x.wa") === col("y.wa") &&
          col("x.wb") === col("y.wb") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    val hamming = (0 until Bands)
      .map(b => expr(s"bit_count(wa$b ^ wb$b)").cast("long"))
      .reduce(_ + _)
    val scored = pairs
      .join(sig.select(col("doc_id").as("da") +:
        (0 until Bands).map(b => col(s"w$b").as(s"wa$b")): _*), Seq("da"))
      .join(sig.select(col("doc_id").as("db") +:
        (0 until Bands).map(b => col(s"w$b").as(s"wb$b")): _*), Seq("db"))
      .join(base.select(col("doc_id").as("da"), col("tl").as("ta")), Seq("da"))
      .join(base.select(col("doc_id").as("db"), col("tl").as("tb")), Seq("db"))
      .select(hamming.as("hamming"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter"),
        (size(col("ta")) + size(col("tb"))).cast("long").as("szsum"))
    val jx = scored.select(col("hamming"),
      (col("inter").cast("double") / (col("szsum") - col("inter")).cast("double"))
        .cast(det.D18_6).as("exact_q"))
    jx.groupBy(col("hamming"))
      .agg(
        count(lit(1)).as("n_pairs"),
        (sum(col("exact_q")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_exact"),
        min(col("exact_q")).cast("double").as("min_exact"),
        max(col("exact_q")).cast("double").as("max_exact"))
      .select(col("hamming"),
        (lit(1.0) - col("hamming").cast("double") / lit(64.0)).as("est_sim"),
        col("n_pairs"), col("mean_exact"), col("min_exact"), col("max_exact"))
      .orderBy(col("hamming"))
  }

  def all: Seq[Q] = Seq(q251)
}
