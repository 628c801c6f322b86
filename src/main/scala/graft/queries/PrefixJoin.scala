package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.Shingles

/** q137: EXACT similarity join by PREFIX FILTERING — the
  * deterministic-guarantee exact algorithm (Chaudhuri et al.'s
  * SSJoin / PPJoin family, public) for the n-gram-Jaccard pair
  * problem q43 solves with MinHash-LSH: where q43's recall argument
  * is probabilistic (banding makes a miss astronomically unlikely),
  * prefix filtering PROVES completeness — order every document's
  * shingle set by one global total order (document frequency
  * ascending: rarest first), index only the first
  * |d| − ⌈t·|d|⌉ + 1 shingles, and any pair with Jaccard ≥ t MUST
  * collide on an indexed shingle: jac ≥ t ⟹ |A∩B| ≥ t·|A|, and a
  * set can skip at most |A| − ⌈t·|A|⌉ elements of its own canonical
  * order before an intersection element appears in the prefix.
  *
  * Scale shape: candidates are generated only inside per-shingle
  * posting lists of the PREFIX index — rare shingles first means the
  * posting lists that generate pairs are the SHORTEST ones (df of a
  * prefix shingle is bounded by how rare it is, the inverse of the
  * q85/q116 hot-shingle problem), so candidate volume tracks true
  * near-dup density, not corpus². Shingles cross every exchange as
  * 8-byte xxhash64 (the q85 discipline); verification joins the two
  * doc-keyed shingle arrays back and computes the exact integer
  * intersection — jac is one integer-ratio IEEE division, bit-exact.
  * The candidate tie-break order (df, hash) never affects the
  * OUTPUT: the prefix theorem guarantees a superset of true pairs
  * under any total order, and verification is exact.
  *
  * The oracle is the brute-force all-pairs ground truth (O(n²) —
  * the q43 exclusion class at sf1).
  */
object PrefixJoin {

  private val K = 5                  // shingle width (q43's space)
  private val TNum = 4               // jaccard threshold t = 4/5
  private val TDen = 5
  private val T = TNum.toDouble / TDen

  /** Exact jaccard ≥ t pairs over `textCol` k-shingle sets. Factored
    * so the spec can pin planted near-dups and the differential spec
    * can sweep random universes vs brute force.
    */
  /** t is the rational tNum/tDen — the prefix bound ⌈t·n⌉ is computed
    * in EXACT integer arithmetic ((tNum·n + tDen − 1) div tDen): the
    * floating form ceil(0.8·n) rounds 0.8·50 to 40.000…004 and ceils
    * to 41, silently shortening the prefix and voiding the
    * completeness proof.
    */
  def pairs(docs: DataFrame, textCol: String, k: Int,
      tNum: Int, tDen: Int): DataFrame = {
    val t = tNum.toDouble / tDen
    val sh = Shingles.docHashes(docs, k, textCol)
    val withDf = sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
    // canonical per-doc order: rarest first, hash tiebreak
    val ranked = withDf
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // prefix: pos ≤ n − ⌈t·n⌉ + 1, the ceil in exact integer math
    val prefix = ranked.filter(
      col("pos") <= col("n") - expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1)
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"), count(lit(1)).as("n_sh"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"), col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("n_common", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
  }

  val q137 = Q.of(
    "q137_prefix_jaccard",
    s"""WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - ${K - 2}),
      |      i -> array_to_string(w[i:i+${K - 1}], ' '))) AS shl
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= $K
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.shl, b.shl)) AS BIGINT) AS n_common,
      |  CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
      |    / CAST(len(a.shl) + len(b.shl) - len(list_intersect(a.shl, b.shl)) AS DOUBLE)
      |    AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
      |    / CAST(len(a.shl) + len(b.shl) - len(list_intersect(a.shl, b.shl)) AS DOUBLE) >= $T
      |ORDER BY doc_a, doc_b""".stripMargin) { t =>
    pairs(t.documents, "text", K, TNum, TDen).orderBy(col("doc_a"), col("doc_b"))
  }

  def all: Seq[Q] = Seq(q137)
}
