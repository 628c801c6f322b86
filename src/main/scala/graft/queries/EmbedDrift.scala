package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.{det, vec}
import graft.operators.Similarity

/** q261: EMBEDDING DRIFT monitor — per semantic cell, does the DELTA
  * batch (`vec_id % 5 = 0`, the q112/q259 ingest convention) sit
  * farther from its anchor than the standing base does? The
  * embedding-space twin of q228's token-distribution drift: a source
  * change, encoder version bump, or contamination wave shows up as a
  * per-cell mean-cosine gap long before any exact-dup surface fires —
  * the standard ingest-monitoring readout of an embedding pipeline.
  *
  * Mechanics: vectors are assigned to their max-cosine anchor
  * (`vec_id < 16`, q115's deterministic anchor slice) via the
  * zero-shuffle [[graft.operators.Similarity.assignToCentroids]]
  * broadcast argmax; each vector's cosine TO ITS OWN ANCHOR is one
  * fixed sequential-fold IEEE chain (identical in DuckDB — the
  * q50/q115 discipline), quantized D18_6 PER VECTOR, then summed as
  * exact decimals per (cell, base/delta) — order-independent and
  * cross-engine exact (§6). Means and the drift are the SAME double
  * expressions on both sides; cells with no delta (or no base)
  * members emit NULL for the missing mean and the drift — never an
  * engine-defined 0/0.
  *
  * Scale shape: the anchor set rides a one-row broadcast both for the
  * argmax and the own-anchor re-join; assignment and scoring are pure
  * map work on the input's partitioning; the only exchange is the
  * |cells|-row rollup. Swap Lloyd centroids (q52) for the anchor
  * slice in production without touching the plan.
  */
object EmbedDrift {

  private val Anchors = 16
  private val DeltaMod = 5

  /** Per-cell base/delta cosine-to-anchor profile. Factored so the
    * spec can pin hand-computed means, the tie-free argmax, and the
    * no-delta NULL guard on planted geometry.
    */
  def drift(e: DataFrame, anchors: Int, deltaMod: Int): DataFrame = {
    val (anchorSet, assigned) = Similarity.anchorCells(e, anchors)
    val scored = assigned
      .join(broadcast(anchorSet
        .select(col("cid").as("cluster"), col("cv"))), "cluster")
      .select(col("cluster"), col("vec_id"),
        vec.cosim(col("v"), col("cv")).cast(det.D18_6).as("graft_q"))
    val isDelta = col("vec_id") % deltaMod === 0
    scored.groupBy(col("cluster"))
      .agg(
        sum(when(!isDelta, 1L).otherwise(0L)).as("n_base"),
        sum(when(isDelta, 1L).otherwise(0L)).as("n_delta"),
        sum(when(!isDelta, col("graft_q"))).as("graft_sb"),
        sum(when(isDelta, col("graft_q"))).as("graft_sd"))
      .select(
        col("cluster"), col("n_base"), col("n_delta"),
        when(col("n_base") > 0,
          col("graft_sb").cast("double") / col("n_base").cast("double"))
          .as("base_mean_cos"),
        when(col("n_delta") > 0,
          col("graft_sd").cast("double") / col("n_delta").cast("double"))
          .as("delta_mean_cos"),
        when(col("n_base") > 0 && col("n_delta") > 0,
          col("graft_sb").cast("double") / col("n_base").cast("double")
            - col("graft_sd").cast("double") / col("n_delta").cast("double"))
          .as("drift"))
  }

  val q261 = Q.of(
    "q261_embedding_drift",
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
      |), qx AS (
      |  SELECT g.vec_id, g.cluster,
      |    CAST(list_dot_product(ev.v, a.av)
      |      / (sqrt(list_dot_product(ev.v, ev.v)) * sqrt(list_dot_product(a.av, a.av)))
      |      AS DECIMAL(18,6)) AS q
      |  FROM asg g
      |  JOIN e ev ON ev.vec_id = g.vec_id
      |  JOIN a ON a.anchor_id = g.cluster
      |)
      |SELECT cluster,
      |  CAST(SUM(CASE WHEN vec_id % $DeltaMod <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_base,
      |  CAST(SUM(CASE WHEN vec_id % $DeltaMod = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_delta,
      |  CASE WHEN SUM(CASE WHEN vec_id % $DeltaMod <> 0 THEN 1 ELSE 0 END) > 0
      |    THEN CAST(SUM(CASE WHEN vec_id % $DeltaMod <> 0 THEN q END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN vec_id % $DeltaMod <> 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    END AS base_mean_cos,
      |  CASE WHEN SUM(CASE WHEN vec_id % $DeltaMod = 0 THEN 1 ELSE 0 END) > 0
      |    THEN CAST(SUM(CASE WHEN vec_id % $DeltaMod = 0 THEN q END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN vec_id % $DeltaMod = 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    END AS delta_mean_cos,
      |  CASE WHEN SUM(CASE WHEN vec_id % $DeltaMod <> 0 THEN 1 ELSE 0 END) > 0
      |        AND SUM(CASE WHEN vec_id % $DeltaMod = 0 THEN 1 ELSE 0 END) > 0
      |    THEN CAST(SUM(CASE WHEN vec_id % $DeltaMod <> 0 THEN q END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN vec_id % $DeltaMod <> 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |      - CAST(SUM(CASE WHEN vec_id % $DeltaMod = 0 THEN q END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN vec_id % $DeltaMod = 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    END AS drift
      |FROM qx
      |GROUP BY cluster
      |ORDER BY cluster""".stripMargin) { t =>
    drift(Ann.vectors(t), Anchors, DeltaMod).orderBy(col("cluster"))
  }

  def all: Seq[Q] = Seq(q261)
}
