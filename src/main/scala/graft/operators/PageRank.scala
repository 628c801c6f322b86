package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in EXACT integer arithmetic.
  *
  * Ranks are carried as BIGINT "micro-rank" units (start = 1e6 per
  * node) and every step is integral: per-edge contribution is
  * `rank div outdeg` (floor division), the damping update is
  * `150000 + (85 · Σ contrib) div 100` — i.e. 0.15 + 0.85·Σ in
  * fixed-point. Nothing ever becomes a float, so the result is
  * deterministic, order-independent, and bit-identical across engines
  * (the q97 quantized-contribution rule applied to an ITERATIVE
  * operator — float PageRank would sum contributions in
  * engine-dependent order and never hash-match an oracle).
  *
  * Scale shape: the classic Pregel economics. Per iteration, ONE
  * exchange of the (id, rank) frame onto the edge partitioning and ONE
  * aggregation exchange keyed on dst — edge storage never moves
  * (cached once here; bucketed by src on a cluster so the rank join
  * co-locates). Iteration count is fixed and small — the plan is the
  * loop UNROLLED, which is exactly how the oracle replays it.
  *
  * The edge set is assumed symmetric (every dst also appears as src),
  * which holds for co-occurrence graphs by construction; then every
  * node has outdeg ≥ 1 and in-edges, so inner joins preserve the node
  * set and no dangling-mass redistribution is needed.
  */
object PageRank {

  /** (src, dst) edges → (id, rank) after `iters` exact-integer
    * PageRank steps. Caches the degree-annotated edge frame for the
    * loop's lifetime (caller's CacheScope governs release).
    */
  def ranks(edges: DataFrame, iters: Int): DataFrame = {
    val (r0, withDeg) = prepare(edges)
    (1 to iters).foldLeft(r0)((r, _) => step(withDeg, r))
  }

  /** Initial (id, rank) frame and the degree-annotated edge frame. */
  private def prepare(edges: DataFrame): (DataFrame, DataFrame) = {
    // deg is cached: it feeds the withDeg join AND seeds r0 (its src
    // set IS the node set under the symmetric-edge contract), so the
    // initial rank frame reads the tiny |V| cache instead of running
    // a distinct exchange over the |E| frame, and the degree
    // aggregate runs once, not per consumer (guide §2.4)
    val deg = graft.CacheScope.trackedCache(
      edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    val withDeg = graft.CacheScope.trackedCache(
      edges.join(deg, "src").select(col("src"), col("dst"), col("outdeg")))
    (deg.select(col("src").as("id"), lit(1000000L).as("rank")), withDeg)
  }

  private def step(withDeg: DataFrame, r: DataFrame): DataFrame =
    withDeg.join(r, withDeg("src") === r("id"))
      // integral floor division end to end — never a double
      .select(col("dst"), expr("rank div outdeg").as("c"))
      .groupBy(col("dst"))
      .agg(expr("150000L + (85L * sum(c)) div 100L").as("rank"))
      .select(col("dst").as("id"), col("rank"))

  /** Loop-to-FIXPOINT variant (round-11 production form beside the
    * fixed-round oracle contract): iterate until the integer rank
    * vector stops changing — which, in exact integer arithmetic, is a
    * true fixpoint, not an epsilon test. Returns (ranks, iters), iters
    * counting the final no-change iteration. The loop is
    * [[graft.Fixpoint]]'s with its (id, rank) change probe; the
    * symmetric-edge contract keeps the node set constant, so the
    * probe's inner join sees every node. Integer dynamics could in
    * principle cycle with period > 1; that surfaces as the fail-loud
    * maxIters throw, never as a wrong answer. FixpointSpec pins
    * fixpoint ≡ ranks(·, n) once converged and the invariance of
    * further iteration.
    */
  def ranksToFixpoint(edges: DataFrame, maxIters: Int = 64): (DataFrame, Int) = {
    val (r0, withDeg) = prepare(edges)
    graft.Fixpoint.converge(r0, maxIters,
      s"PageRank.ranksToFixpoint: not converged after $maxIters iterations " +
        "(still moving, or an integer limit cycle); raise maxIters")(
      (r, _) => step(withDeg, r), graft.Fixpoint.changedOn("id", "rank"))
  }
}
