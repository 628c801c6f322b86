package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word
import graft.operators.Shingles

/** q117: hashed-feature LINEAR classifier scoring — the
  * fastText-shaped quality/filter model every curation pipeline runs
  * over the whole corpus (CCNet's fasttext LID, the quality
  * classifiers behind GPT-3/LLaMA-style filtering): features are the
  * doc's distinct word BIGRAMS, each hashed into a weight table, and
  * the doc's score is the mean feature weight.
  *
  * Scale shape — the whole model application is ONE zero-shuffle scan
  * projection (q84's discipline): bigram extraction, hashing, and the
  * weight fold all run as higher-order array functions inside the
  * projection, so scoring 100 TB is embarrassingly parallel map work
  * with NO exchange of any kind (the ORDER BY is presentation). This
  * is the structural point of linear models at corpus scale — no
  * joins, no state, one pass.
  *
  * Determinism / oracle: the "trained" weight table is the md5 hash
  * itself — weight(f) = int(md5(f)[0:4]) − 32768 ∈ [−32768, 32767] —
  * so both engines derive identical integer weights (the q79/q113
  * md5 agreement), the fold sums EXACT BIGINTs (never
  * order-dependent float adds — the q97 quantized-contribution rule),
  * and the final mean divides once at the end. A real deployment
  * swaps the hash for a broadcast weight map without touching the
  * plan shape; the decision rule (`raw > 0`) compares the exact
  * integer, not the float.
  */
object Classifier {

  val q117 = Q.of(
    "q117_classifier_score",
    """WITH f AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w)),
      |      i -> array_to_string(w[i:i+1], ' '))) AS fl
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 2
      |), s AS (
      |  SELECT doc_id, len(fl) AS n_features,
      |    CAST(list_sum(list_transform(fl,
      |      f -> CAST(('0x' || substr(md5(f), 1, 4)) AS BIGINT) - 32768)) AS BIGINT) AS raw
      |  FROM f
      |)
      |SELECT doc_id, n_features, raw,
      |  round(raw / (n_features * 32768.0), 6) AS score,
      |  CASE WHEN raw > 0 THEN 'keep' ELSE 'flag' END AS verdict
      |FROM s ORDER BY doc_id""".stripMargin) { t =>
    score(t.documents).orderBy(col("doc_id"))
  }

  /** Input + the exact-integer `raw` score and feature list — the
    * reusable gate stage (q121 composes it; q117 reports on it).
    * Keeps every input column so a pipeline can gate and keep going.
    */
  private[graft] def withRaw(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .withColumn("fl", expr(Shingles.wordGrams(2, distinct = true)))
      .withColumn("raw", expr(
        "aggregate(fl, 0L, (acc, f) ->" +
          s" acc + ${md5Word("f", len = 4)} - 32768L)"))

  /** The q117 body over any (doc_id, text) frame — factored so
    * SemanticSpec can pin hand-computed weights on tiny fixtures.
    */
  private[graft] def score(docs: DataFrame): DataFrame =
    withRaw(docs.select(col("doc_id"), col("text")))
      .withColumn("n_features", size(col("fl")).cast("long"))
      .select(
        col("doc_id"),
        col("n_features"),
        col("raw"),
        round(col("raw").cast("double") / (col("n_features") * lit(32768.0)), 6).as("score"),
        when(col("raw") > 0, lit("keep")).otherwise(lit("flag")).as("verdict"))

  def all: Seq[Q] = Seq(q117)
}
