package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.Shingles

/** q116: INTRA-corpus repeated-n-gram profile — the boilerplate /
  * template-text detector (the corpus-level twin of q85's
  * corpus-vs-benchmark decontamination): for every document, how much
  * of it is made of word 5-grams that also appear in at least one
  * OTHER document? Headers, footers, license blocks, and templated
  * spam all light up here while q40's whole-doc hash stays dark.
  *
  * Shape (the q85 discipline, turned inward):
  *  - shingles are deduped PER DOC at the array level
  *    (`array_distinct` before `explode`) so no per-doc distinct agg
  *    is needed downstream;
  *  - each shingle crosses the exchange as an 8-byte `xxhash64`, never
  *    the string (collision odds vs the raw-string oracle as measured
  *    for q85 — none observed through sf1);
  *  - corpus document-frequency comes from ONE window count over the
  *    hash partition (no groupBy + join-back round trip), then one
  *    doc-keyed rollup. Two exchanges total, both carrying
  *    (hash, doc_id) pairs.
  *
  * Per-doc verdict ladder: `clean` (no shared shingle), `partial`,
  * `boilerplate` (≥ half the doc's shingles are shared — at sf0.01:
  * 71 docs share anything, 47 cross the boilerplate bar). The oracle
  * replays document frequency over the raw shingle strings.
  */
object Boilerplate {

  private val K = 5

  val q116 = Q.of(
    "q116_repeated_ngrams",
    s"""WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - ${K - 2}),
      |      i -> array_to_string(w[i:i+${K - 1}], ' '))) AS shl
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= $K
      |), e AS (SELECT doc_id, unnest(shl) AS sh FROM sh),
      |df AS (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS dfreq FROM e)
      |SELECT doc_id,
      |  count(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  round(CAST(SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS shared_frac,
      |  CASE WHEN SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) = 0 THEN 'clean'
      |       WHEN SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) * 2 >= count(*) THEN 'boilerplate'
      |       ELSE 'partial' END AS verdict
      |FROM df GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { t =>
    profile(t.documents, K).orderBy(col("doc_id"))
  }

  /** The q116 body over any (doc_id, text) frame — factored so
    * SemanticSpec can plant a known shared block and assert the
    * verdict ladder.
    */
  private[graft] def profile(docs: DataFrame, k: Int): DataFrame = {
    val withDf = Shingles.docHashes(docs, k)
      .withColumn("dfreq", count(lit(1)).over(Window.partitionBy(col("h"))))
    withDf.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("dfreq") >= 2, 1).otherwise(0)).as("n_shared"))
      .select(
        col("doc_id"), col("n_shingles"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_shingles"), 4).as("shared_frac"),
        when(col("n_shared") === 0, lit("clean"))
          .when(col("n_shared") * 2 >= col("n_shingles"), lit("boilerplate"))
          .otherwise(lit("partial")).as("verdict"))
  }

  def all: Seq[Q] = Seq(q116)
}
