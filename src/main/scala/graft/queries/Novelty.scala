package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.Shingles

/** q186: CORPUS NOVELTY CURVE — per document (in doc_id ingest
  * order), how many of its distinct 5-gram shingles have NEVER been
  * seen in any earlier document: the diminishing-returns readout a
  * data-acquisition pipeline tracks ("the next TB of this source adds
  * 3% new n-grams") and the per-source marginal-value signal behind
  * dedup-aware scaling-law corpus work (public). Complements the
  * suite: q40–q45 find duplicate DOCUMENTS, q116 finds boilerplate
  * SHINGLES; this charges every shingle to its FIRST document and
  * reads the corpus as an accumulation curve.
  *
  * First occurrence = min(doc_id) per shingle — a plain map-side-
  * combined aggregate, NOT an ordered scan: the "seen before" test
  * for monotone ingest order is pure integer comparison against the
  * global min, so the curve needs no window over the corpus and no
  * state that grows with documents already processed.
  *
  * Scale shape: shingles cross the exchanges as 8-byte xxhash64
  * values (q85 discipline — the oracle groups the raw strings, equal
  * modulo hash collisions); ONE (hash) aggregate computes first
  * owners, ONE hash-keyed join charges them back, ONE doc_id rollup
  * finishes. Distinct-per-doc via array_distinct inside the scan
  * projection, so a repetitive doc doesn't inflate its own novelty.
  */
object Novelty {

  private val K = 5

  /** Per-doc distinct-shingle and first-occurrence counts over any
    * (doc_id, text) frame. Factored so the spec can pin a hand-built
    * three-doc corpus (full novelty, zero novelty, partial overlap),
    * the within-doc repetition collapse, and the short-doc gate.
    */
  def curve(docs: DataFrame, k: Int = K): DataFrame = {
    val shingles = Shingles.docHashes(docs, k)
    val first = shingles.groupBy(col("h"))
      .agg(min(col("doc_id")).as("graft_first"))
    shingles.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("graft_first") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
  }

  val q186 = Q.of(
    "q186_novelty_curve",
    s"""WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - ${K - 2}),
      |      i -> array_to_string(w[i:i+${K - 1}], ' '))) AS shl
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= $K
      |), e AS (SELECT doc_id, unnest(shl) AS sh FROM sh),
      |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM e GROUP BY sh)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS novelty
      |FROM e JOIN f USING (sh)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { t =>
    curve(t.documents).orderBy(col("doc_id"))
  }

  def all: Seq[Q] = Seq(q186)
}
