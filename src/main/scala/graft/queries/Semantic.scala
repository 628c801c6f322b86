package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.vec
import graft.operators.Similarity

/** q115: SEMANTIC dedup over the embedding space — the SemDeDup pass
  * (cluster the corpus, drop ε-close neighbors WITHIN a cluster) that
  * prunes paraphrase/translation-grade redundancy exact n-gram and
  * MinHash surfaces (q40–q45) cannot see.
  *
  * Two stages, both scale-shaped:
  *
  *  1. CLUSTER: every vector is assigned to its max-cosine anchor via
  *     the zero-shuffle [[graft.operators.Similarity.assignToCentroids]]
  *     argmax (anchors ride in on a one-row broadcast; assignment is
  *     pure map work — no ×|anchors| blow-up, no window exchange). The
  *     anchor set here is the deterministic `vec_id < 16` slice so the
  *     oracle can re-derive the identical clustering in SQL; a
  *     production run swaps in Lloyd-trained centroids (q52's
  *     `trainCentroids`) without touching the plan shape, and k grows
  *     ∝ n so cell populations stay bounded.
  *  2. DEDUP WITHIN CELL: candidate pairs exist only inside a cluster
  *     — the self-join keys on the cell id, so each side's exchange
  *     carries n vectors ONCE (hash-partitioned by cell), and the
  *     quadratic pair work is confined to cell populations (the
  *     published SemDeDup economics: k ∝ n ⇒ E[cell²·k] linear-ish).
  *     A vector is dropped when an EARLIER (lower-id) cell-mate sits
  *     at cosine ≥ τ — keep-first is deterministic, transitive-free
  *     (no component resolution needed), and idempotent.
  *
  * Output is vector-grain: cluster, keep/drop verdict, number of
  * earlier near-twins, the surviving representative, and the max
  * duplicate similarity. The oracle replays anchor argmax (same
  * sequential-fold double cosine — see [[graft.functions.vec]]), the
  * within-cluster pair scan, and the keep-first rule in DuckDB; both
  * engines agree bit-exactly through the `round(…, 4)` projection.
  *
  * τ = 0.3 is calibrated to the uniform-random testdata (223
  * within-cluster pairs at sf0.01 — real corpora use ~0.95+ on
  * trained embeddings; the knob is semantic, not structural).
  */
object Semantic {

  private val Anchors = 16
  private val Tau = 0.3

  val q115 = Q.of(
    "q115_semantic_dedup",
    s"""WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), a AS (
      |  SELECT vec_id AS anchor_id, v AS av FROM e WHERE vec_id < $Anchors
      |), s AS (
      |  SELECT vec_id, anchor_id,
      |    CASE WHEN list_dot_product(v, v) = 0 OR list_dot_product(av, av) = 0 THEN -2.0
      |         ELSE list_dot_product(v, av)
      |              / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(av, av))) END AS cos
      |  FROM e CROSS JOIN a
      |), asg AS (
      |  SELECT vec_id, anchor_id AS cluster FROM (
      |    SELECT vec_id, anchor_id,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, anchor_id) AS rn
      |    FROM s) WHERE rn = 1
      |), p AS (
      |  SELECT x.vec_id AS va, y.vec_id AS vb,
      |    list_dot_product(ex.v, ey.v)
      |      / (sqrt(list_dot_product(ex.v, ex.v)) * sqrt(list_dot_product(ey.v, ey.v))) AS cos
      |  FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      |  JOIN e ex ON ex.vec_id = x.vec_id
      |  JOIN e ey ON ey.vec_id = y.vec_id
      |), d AS (
      |  SELECT vb AS vec_id, count(*) AS n_earlier, max(cos) AS mx, min(va) AS kept_by
      |  FROM p WHERE cos >= $Tau GROUP BY vb
      |)
      |SELECT g.vec_id, g.cluster,
      |  CASE WHEN d.vec_id IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
      |  CAST(COALESCE(d.n_earlier, 0) AS BIGINT) AS n_earlier_dups,
      |  COALESCE(d.kept_by, g.vec_id) AS rep_id,
      |  round(COALESCE(d.mx, 0.0), 4) AS max_dup_cos
      |FROM asg g LEFT JOIN d USING (vec_id)
      |ORDER BY g.vec_id""".stripMargin) { t =>
    report(Ann.vectors(t), anchors = Anchors, tau = Tau).orderBy(col("vec_id"))
  }

  /** The q115 body over any (vec_id, v: array<double>) frame —
    * factored so SemanticSpec can plant clustered fixtures with known
    * dispositions.
    */
  private[graft] def report(e: DataFrame, anchors: Int, tau: Double): DataFrame = {
    val (_, assigned) = Similarity.anchorCells(e, anchors)
    // pair candidates live only inside a cell: key both sides on the
    // cluster id so the exchange ships each vector once, and the a<b
    // pair blow-up happens post-exchange, inside the join
    val earlier = assigned
      .select(col("cluster"), col("vec_id").as("va"), col("v").as("av"))
    val later = assigned
      .select(col("cluster"), col("vec_id").as("vb"), col("v").as("bv"))
    val dups = later.join(earlier, "cluster")
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"), vec.cosim(col("av"), col("bv")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("vb").as("vec_id"))
      .agg(
        count(lit(1)).as("n_earlier"),
        max(col("cos")).as("mx"),
        min(col("va")).as("kept_by"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(
        col("vec_id"), col("cluster"),
        when(col("n_earlier").isNotNull, lit("drop")).otherwise(lit("keep")).as("verdict"),
        coalesce(col("n_earlier"), lit(0L)).as("n_earlier_dups"),
        coalesce(col("kept_by"), col("vec_id")).as("rep_id"),
        round(coalesce(col("mx"), lit(0.0)), 4).as("max_dup_cos"))
  }

  def all: Seq[Q] = Seq(q115)
}
