package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Q

/** q253: ORACLE-CHECKED k-means convergence audit — a fixed number of
  * Lloyd rounds (Lloyd 1982, public) over INTEGER-QUANTIZED
  * embeddings, reporting per (round, cluster) the population and
  * inertia so the monotone-descent property of the IVF training loop
  * (q52's centroids, ProductQuant's codebooks) is itself
  * DuckDB-replayable — the q238 recipe applied to the clustering
  * tier: the production loops train on floats (whose cross-engine
  * mean-reduction order cannot be replayed), THIS audit runs the
  * identical mechanics in exact int64 arithmetic.
  *
  * Mechanics: each dim quantizes to floor(x·1000) + 4000 (the offset
  * keeps every coordinate non-negative, so integer division is
  * floor = truncation on BOTH engines; translation leaves every
  * distance unchanged); initial centroids are the K lowest-vec_id
  * vectors (rank k = row_number − 1); assignment is argmin of the
  * exact int64 squared L2 distance with ties to the lowest k; the
  * next round's centroid is the per-dim integer mean (sum div n).
  * Empty clusters drop out of the next round on both engines
  * identically (no row, no centroid).
  *
  * Determinism: every distance, assignment, seat count, inertia, and
  * centroid update is exact integer arithmetic — no doubles anywhere
  * until the final mean_dist readout (one IEEE division of exact
  * int64s). Quantization itself is float→double (exact), ×1000
  * (correctly rounded identically), floor — bit-identical.
  *
  * Scale shape: the quantized frame is cached once; each round runs
  * ONE codegen'd assignment pass (K fused distance chains, no
  * explode) into a slim (qv, k, dist) cache, then two narrow
  * cluster-keyed aggregates over it (map-side combined) and a K-row
  * centroid collect — bounded driver state (K·dims ints, the
  * ProductQuant budget class). Rounds are sequential by nature
  * (Lloyd is iterative); K·rounds rows out.
  */
object KmeansAudit {

  private val K = 8
  private val Rounds = 3
  private val Dims = 64
  private val Scale = 1000
  private val Offset = 4000L

  val q253 = Q.of(
    "q253_kmeans_audit", {
      val roundCtes = (1 to Rounds).map { r =>
        val prev = s"c${r - 1}"
        val centroidCte =
          if (r == Rounds) ""
          else s""", c$r AS (
      |  SELECT k, list(cd ORDER BY i) AS cv FROM (
      |    SELECT a.k, i.i, CAST(SUM(q.qv[i.i]) // COUNT(*) AS BIGINT) AS cd
      |    FROM a$r a JOIN q ON q.vec_id = a.vec_id
      |    CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS i) i
      |    GROUP BY a.k, i.i
      |  ) GROUP BY k
      |)"""
        s""", d$r AS (
      |  SELECT q.vec_id, c.k,
      |    CAST(list_sum(list_transform(range(1, ${Dims + 1}),
      |      i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS dist
      |  FROM q CROSS JOIN $prev c
      |), a$r AS (
      |  SELECT vec_id, k, dist FROM (
      |    SELECT vec_id, k, dist,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
      |    FROM d$r
      |  ) WHERE rn = 1
      |), rep$r AS (
      |  SELECT CAST($r AS BIGINT) AS round, k AS cluster,
      |    COUNT(*) AS n_points, CAST(SUM(dist) AS BIGINT) AS inertia
      |  FROM a$r GROUP BY k
      |)$centroidCte"""
      }.mkString
      val reportUnion = (1 to Rounds).map(r => s"SELECT * FROM rep$r")
        .mkString("\n      |  UNION ALL ")
      s"""WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT) + $Offset) AS qv
      |  FROM embeddings
      |), c0 AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS k,
      |    qv AS cv
      |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $K)
      |)$roundCtes
      |SELECT round, cluster, n_points, inertia,
      |  CAST(inertia AS DOUBLE) / CAST(n_points AS DOUBLE) AS mean_dist
      |FROM (
      |  $reportUnion
      |)
      |ORDER BY round, cluster""".stripMargin
    }) { t =>
    audit(Ann.vectors(t))
  }

  /** The audit plan over a (vec_id, v: array<double>) frame.
    * Factored so the spec can pin monotone inertia descent, the
    * exact-integer distance arithmetic, and the lowest-k tiebreak.
    */
  def audit(e: DataFrame): DataFrame = {
    val qv = graft.CacheScope.trackedCache(e.select(col("vec_id"),
      expr(s"transform(v, x -> cast(floor(x * $Scale) as bigint) + $Offset)")
        .as("qv")))

    // init: the K lowest-vec_id quantized vectors, rank = k
    val init: Seq[(Long, IndexedSeq[Long])] =
      qv.orderBy(col("vec_id")).limit(K).collect().zipWithIndex
        .map { case (r, i) => i.toLong -> r.getSeq[Long](1).toIndexedSeq }.toSeq

    def distTo(cv: IndexedSeq[Long]): Column = (1 to Dims).map { i =>
      val d = element_at(col("qv"), i) - lit(cv(i - 1)); d * d
    }.reduce(_ + _)

    // Round shape (settled by interleaving the shapes in ONE warmed
    // JVM, measured in OPTIMIZATION_r14.md): each NON-final round
    // materializes a SLIM (qv, k, dist) assignment cache — the
    // distance chains run once per row into the cache — then the
    // report rollup and the 64-dim centroid-update collect run as two
    // NARROW aggregates over the cached columns. The round-13 FUSED
    // single aggregate (66 agg expressions fed directly by the 8
    // distance chains) profiled faster in a cold JVM but benched
    // consistently slower (5.7 → 6.5 s driver bench; interleaved
    // min 3.6 vs 3.1 s) — one giant codegen'd
    // project+update path loses to cache + two narrow aggregates at
    // this width. The final round keeps NO cache: its only consumer
    // is the (n, inertia) rollup, so the fat qv column would be
    // written for nothing (the r13 final-round trim, kept). vec_id is
    // dropped everywhere — nothing downstream reads it.
    var centroids = init
    var reports = Seq.empty[DataFrame]
    (1 to Rounds).foreach { r =>
      val ks = centroids.map(_._1)
      val distCols = centroids.map { case (k, cv) => distTo(cv).as(s"d$k") }
      val minDist = ks.map(k => col(s"d$k")).reduce((a, b) => least(a, b))
      // ties to the lowest k: the CASE scans k ascending
      val bestK = ks.sorted.tail.foldLeft(
        when(col(s"d${ks.sorted.head}") === col("graft_min"),
          lit(ks.sorted.head))) { (acc, k) =>
        acc.when(col(s"d$k") === col("graft_min"), lit(k))
      }
      val assignedRaw = qv.select(col("qv") +: distCols: _*)
        .withColumn("graft_min", minDist)
        .select(col("qv"), bestK.as("k"), col("graft_min").as("dist"))
      val assigned =
        if (r < Rounds) graft.CacheScope.trackedCache(assignedRaw)
        else assignedRaw
      reports = reports :+ assigned.groupBy(col("k"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("dist")).cast("long").as("inertia"))
        .select(lit(r.toLong).as("round"), col("k").as("cluster"),
          col("n_points"), col("inertia"))
      if (r < Rounds) {
        val dimSums = (1 to Dims).map(i =>
          sum(element_at(col("qv"), i)).cast("long").as(s"s$i"))
        val agg = assigned.groupBy(col("k"))
          .agg(count(lit(1)).cast("long").as("n"), dimSums: _*)
          .collect()
        centroids = agg.map { row =>
          val k = row.getLong(0)
          val n = row.getLong(1)
          // floorDiv, NOT JVM truncating `/`: the oracle's `//` FLOORS,
          // and the two only agree on non-negative sums — a dim sum
          // driven negative (embedding coords below the +4000 offset's
          // reach) would silently diverge the centroids cross-engine
          k -> (1 to Dims).map(i => Math.floorDiv(row.getLong(1 + i), n))
            .toIndexedSeq
        }.toSeq.sortBy(_._1)
      }
    }
    reports.reduce(_ unionAll _)
      .withColumn("mean_dist",
        col("inertia").cast("double") / col("n_points").cast("double"))
      .orderBy(col("round"), col("cluster"))
  }

  def all: Seq[Q] = Seq(q253)
}
