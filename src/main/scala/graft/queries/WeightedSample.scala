package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word

/** q226: WEIGHTED SAMPLING WITHOUT REPLACEMENT per source —
  * Efraimidis–Spirakis A-ES (2006, public), the deterministic
  * content-keyed form: the q78/q79 md5 samplers draw UNIFORMLY; a
  * curation pipeline usually wants quality- or length-WEIGHTED draws
  * ("sample proportional to token count so the sample's token mass
  * matches the corpus"), and A-ES does it in one pass: key =
  * u^(1/w) with u uniform per item, take the top-k keys — inclusion
  * probability ∝ w, no replacement by construction.
  *
  * Cross-engine exactness of a RANDOMIZED algorithm: u derives from
  * content (md5 first 8 hex chars + 1, over 2³²) so the draw is
  * reproducible across runs/engines/cluster sizes (the q79
  * discipline); 2³² is a power of two so u is EXACTLY representable;
  * the monotone key ln(u)/w is taken as log2(u)/w — log2 is the
  * engine-matched transcendental (q175/q193's rule; ln is NOT in the
  * proven set) and order-equivalent to the A-ES key; +1 keeps u > 0
  * (Spark's log2(0) is NULL while DuckDB's is −inf — the one
  * divergence the shift removes). One double division, one window.
  *
  * Scale shape: pure projection → per-source top-k window (k·|src|
  * rows out); no shuffle carries text. Weight = n_chars (the token
  * proxy; any positive score column slots in).
  */
object WeightedSample {

  private val K = 5

  val q226 = Q.of(
    "q226_weighted_sample",
    s"""WITH keyed AS (
      |  SELECT source, doc_id, n_chars,
      |    log2((CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) + 1)
      |         / 4294967296.0)
      |      / CAST(n_chars AS DOUBLE) AS k
      |  FROM documents
      |), ranked AS (
      |  SELECT source, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY k DESC, doc_id) AS rnk
      |  FROM keyed
      |)
      |SELECT source, doc_id, n_chars, rnk
      |FROM ranked WHERE rnk <= $K
      |ORDER BY source, rnk""".stripMargin) { t =>
    val u = (expr(md5Word("text")) + 1L)
      .cast("double") / lit(4294967296.0)
    val keyed = t.documents.select(
      col("source"), col("doc_id"), col("n_chars"),
      (log2(u) / col("n_chars").cast("double")).as("graft_k"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("graft_k").desc, col("doc_id"))
    keyed
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rnk"))
      .orderBy(col("source"), col("rnk"))
  }

  def all: Seq[Q] = Seq(q226)
}
