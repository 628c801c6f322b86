package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shingle front end of the text tier: dedup, contamination,
  * novelty and coverage all start by cutting documents into word
  * k-grams, so the k-gram, the per-document hash set and the
  * duplicated-gram positions are written here once. The DuckDB oracles
  * spell the same k-grams in their own dialect
  * (`list_transform(range(1, len(w) - k + 2), i -> array_to_string(w[i:i+k-1], ' '))`).
  */
object Shingles {

  /** Hashes for [[wordGrams]]: each maps the SQL text of a gram to the
    * SQL text of its hash ([[graft.functions.sketch.md5Word]] fits too).
    */
  val Xxhash64: String => String = g => s"xxhash64($g)"
  val Md5: String => String = g => s"md5($g)"

  /** SQL text of the word k-gram array over the split-words column
    * `w`: element i is `hash` of words i+1..i+k joined by one space, in
    * order; with `distinct`, repeats after the first are dropped. The
    * caller keeps documents shorter than k out (`size(w) >= k`): for
    * them the sequence runs downwards and `slice` fails. Text rather
    * than a Column so it can sit inside `expr(...)`.
    */
  def wordGrams(k: Int, hash: String => String = identity,
      distinct: Boolean = false): String = {
    val grams = s"transform(sequence(0, size(w) - $k)," +
      s" i -> ${hash(s"concat_ws(' ', slice(w, i + 1, $k))")})"
    if (distinct) s"array_distinct($grams)" else grams
  }

  /** SQL text of the distinct character n-gram set of the string
    * column `text` (a string shorter than n is its own single gram).
    * O(n_chars) per row, no shuffle.
    */
  def charGrams(text: String, n: Int): String =
    s"array_distinct(transform(sequence(1, greatest(length($text)-${n - 1}, 1), 1)," +
      s" i -> substr($text, i, $n)))"

  /** (doc_id, h): each document's distinct word k-grams as 8-byte
    * xxhash64 values, one row per gram. Documents with fewer than k
    * words have none.
    */
  def docHashes(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(expr(wordGrams(k, Xxhash64, distinct = true))).as("h"))

  /** (carry..., pos, h): every word k-gram of `w` in `base` at its
    * 0-based token position (long), xxhash64'd; `carry` are the
    * columns kept beside it (`doc_id` among them). Documents with
    * fewer than k words have none.
    */
  def gramPositions(base: DataFrame, k: Int, carry: Column*): DataFrame = {
    val exploded = base
      .filter(size(col("w")) >= k)
      .select(carry :+ posexplode(expr(wordGrams(k, Xxhash64))): _*)
    val kept = exploded.columns.dropRight(2).map(col).toSeq
    exploded.select(kept :+ col("pos").cast("long").as("pos") :+ col("col").as("h"): _*)
  }

  /** The rows of a [[gramPositions]] frame whose hash occurs in at
    * least two distinct documents: cross-document copying, not
    * repetition within one document.
    */
  def dupPositions(grams: DataFrame): DataFrame = {
    val dups = grams.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("graft_nd"))
      .filter(col("graft_nd") >= 2)
      .select(col("h"))
    grams.join(dups, Seq("h"), "left_semi")
  }

  /** (doc_id, covered): the tokens of each document inside the union
    * of the k-token spans that start at its `pos` rows. Overlapping
    * spans must not count twice: with the starts sorted, each adds
    * min(k, next start − start) and the last adds k, one lead() window
    * per document.
    */
  def dupCoverage(dpos: DataFrame, k: Int): DataFrame = {
    val nxt = lead(col("pos"), 1).over(
      Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    dpos
      .select(col("doc_id"), col("pos"), nxt.as("nxt"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("nxt").isNull, lit(k.toLong))
        .otherwise(least(lit(k.toLong), col("nxt") - col("pos"))))
        .cast("long").as("covered"))
  }
}
