package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{CacheScope, Fixpoint, Q}

/** q179: K-CORE PEELING (fixed rounds) over the support-pruned part
  * co-purchase graph — the density-tier decomposition completing the
  * graph suite: q118 ranks global importance, q128 scores pairwise
  * similarity, q170 counts local closure; the k-core answers "which
  * parts sit in a subgraph where EVERYONE has ≥ k dense-cluster
  * neighbors?" (the standard cohesion backbone, Seidman 1983,
  * public). Synchronous peeling: each round simultaneously removes
  * every node whose CURRENT degree is < k; what survives R rounds is
  * a superset of the true k-core that the rounds converge onto
  * (monotone: the edge set only shrinks), with each removed node
  * stamped by its elimination round — the "peel depth" readout.
  *
  * FIXED R = 3 rounds, not loop-to-fixpoint: the round count is part
  * of the query contract so the DuckDB oracle can replay the
  * identical unrolled rounds (a data-dependent fixpoint has no
  * engine-independent SQL spelling — the q118 fixed-iteration rule;
  * the spec pins graphs where 3 rounds HAVE converged and a path
  * where the cap binds).
  *
  * Scale shape: one fact-collapsing distinct + one basket self-join
  * builds the support-pruned edge frame ONCE (cached; q128's
  * measured collapse bounds it); each round is two semi-joins of that
  * frame against the active nodes + a degree aggregate + one join onto
  * the (node, elim_round) ledger — all bounded by the edge frame,
  * nothing ever re-touches the fact. Isolated nodes (all edges
  * peeled) are handled by degree-0 fill on the ledger, not by the edge
  * aggregate that can't see them. All integers — hash-exact oracle.
  */
object KCore {

  private val MinSupport = 2
  private val K = 3
  private val Rounds = 3

  /** Peel `rounds` synchronous rounds of the (pa, pb) edge frame at
    * threshold `k`. Emits every node of the input graph with its
    * elimination round (0 = survived all rounds, with its final
    * degree; eliminated nodes carry a NULL final degree). This is the
    * [[corePeelToFixpoint]] loop capped at `rounds` rounds, with no
    * throw at the cap: peeling is monotone, so a fixpoint reached
    * earlier yields the same rows. Factored so the spec can pin a
    * hand-built core-plus-tendril graph (the 2-round cascade),
    * isolated-node removal, convergence and a binding cap.
    */
  def corePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val base = CacheScope.trackedCache(edges)
    assemble(base, Fixpoint.capped(fullLedger(base), rounds)(peelRound(base, k), Probe))
  }

  /** Loop-to-FIXPOINT peel (round-11 production form beside the
    * fixed-round oracle contract): peel until a round removes no
    * node — the true Seidman k-core, with the same output schema as
    * [[corePeel]] (survivors elim_round = 0 + final degree). Peeling
    * is monotone (the edge set only shrinks), so the fixpoint always
    * exists and each non-final round removes ≥ 1 node — termination
    * within |V| rounds is structural; maxRounds is the fail-loud
    * guard against a mis-sized cap, never a silent wrong answer.
    * Returns (result, rounds) where `rounds` counts peeling rounds
    * that removed at least one node. The loop is [[graft.Fixpoint]]'s
    * over the (node, elim_round) ledger. FixpointSpec pins fixpoint ≡
    * corePeel(·, r) on converged fixtures and the chain cascade's
    * round growth.
    */
  def corePeelToFixpoint(edges: DataFrame, k: Int,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val base = CacheScope.trackedCache(edges)
    val (ledger, rounds) = Fixpoint.converge(fullLedger(base), maxRounds,
      s"KCore.corePeelToFixpoint: still peeling after $maxRounds rounds; " +
        "raise maxRounds")(peelRound(base, k), Probe)
    // the loop's last round is the one that removed nothing
    (assemble(base, ledger), rounds - 1)
  }

  // The peel state is one (node, elim_round) ledger over every node of
  // the graph, 0 = still active; its node set never changes, so the
  // shared (key, value) probe sees every removal.
  private val Probe = Fixpoint.changedOn("node", "elim_round")

  private def degrees(e: DataFrame): DataFrame =
    // explode instead of union-of-two-projections: one pass over the
    // edge frame instead of two
    e.select(explode(array(col("pa"), col("pb"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("graft_deg"))

  private def fullLedger(base: DataFrame): DataFrame =
    degrees(base).select(col("node"), lit(0L).as("elim_round"))

  /** The ledger with each node's degree over the edges whose endpoints
    * are both still active — 0 once all its edges are gone, which the
    * edge aggregate alone cannot see. */
  private def withLiveDegree(base: DataFrame, ledger: DataFrame): DataFrame = {
    val active = ledger.filter(col("elim_round") === 0L).select(col("node"))
    val live = base
      .join(active.withColumnRenamed("node", "pa"), Seq("pa"), "left_semi")
      .join(active.withColumnRenamed("node", "pb"), Seq("pb"), "left_semi")
    ledger.join(degrees(live), Seq("node"), "left")
      .withColumn("graft_deg", coalesce(col("graft_deg"), lit(0L)))
  }

  /** Round r stamps r on every active node of degree below k. */
  private def peelRound(base: DataFrame, k: Int)(ledger: DataFrame, r: Int): DataFrame =
    withLiveDegree(base, ledger).select(col("node"),
      when(col("elim_round") === 0L && col("graft_deg") < k, lit(r.toLong))
        .otherwise(col("elim_round")).as("elim_round"))

  private def assemble(base: DataFrame, ledger: DataFrame): DataFrame =
    withLiveDegree(base, ledger).select(col("node"), col("elim_round"),
      when(col("elim_round") === 0L, col("graft_deg")).as("final_deg"))

  /** Support-pruned co-purchase edges (pa < pb) — the q128/q170
    * graph. */
  def coEdges(baskets: DataFrame, container: String, item: String,
      minSupport: Int): DataFrame =
    graft.operators.CoOccur.prunedEdges(baskets, container, item, minSupport)

  val q179 = Q.of(
    "q179_kcore_peel",
    s"""WITH b AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), e0 AS MATERIALIZED (
      |  SELECT x.pk AS pa, y.pk AS pb
      |  FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport
      |), nodes AS (
      |  SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0
      |), all_nodes AS MATERIALIZED (
      |  SELECT node FROM nodes GROUP BY node
      |), d0 AS (
      |  SELECT node, COUNT(*) AS deg FROM nodes GROUP BY node
      |), rm1 AS MATERIALIZED (
      |  SELECT a.node FROM all_nodes a LEFT JOIN d0 USING (node)
      |  WHERE COALESCE(d0.deg, 0) < $K
      |), e1 AS MATERIALIZED (
      |  SELECT pa, pb FROM e0
      |  WHERE pa NOT IN (SELECT node FROM rm1)
      |    AND pb NOT IN (SELECT node FROM rm1)
      |), a1 AS MATERIALIZED (
      |  SELECT node FROM all_nodes WHERE node NOT IN (SELECT node FROM rm1)
      |), d1 AS (
      |  SELECT node, COUNT(*) AS deg FROM
      |    (SELECT pa AS node FROM e1 UNION ALL SELECT pb FROM e1) GROUP BY node
      |), rm2 AS MATERIALIZED (
      |  SELECT a.node FROM a1 a LEFT JOIN d1 USING (node)
      |  WHERE COALESCE(d1.deg, 0) < $K
      |), e2 AS MATERIALIZED (
      |  SELECT pa, pb FROM e1
      |  WHERE pa NOT IN (SELECT node FROM rm2)
      |    AND pb NOT IN (SELECT node FROM rm2)
      |), a2 AS MATERIALIZED (
      |  SELECT node FROM a1 WHERE node NOT IN (SELECT node FROM rm2)
      |), d2 AS (
      |  SELECT node, COUNT(*) AS deg FROM
      |    (SELECT pa AS node FROM e2 UNION ALL SELECT pb FROM e2) GROUP BY node
      |), rm3 AS MATERIALIZED (
      |  SELECT a.node FROM a2 a LEFT JOIN d2 USING (node)
      |  WHERE COALESCE(d2.deg, 0) < $K
      |), e3 AS MATERIALIZED (
      |  SELECT pa, pb FROM e2
      |  WHERE pa NOT IN (SELECT node FROM rm3)
      |    AND pb NOT IN (SELECT node FROM rm3)
      |), d3 AS (
      |  SELECT node, COUNT(*) AS deg FROM
      |    (SELECT pa AS node FROM e3 UNION ALL SELECT pb FROM e3) GROUP BY node
      |)
      |SELECT n.node,
      |  CAST(CASE
      |    WHEN n.node IN (SELECT node FROM rm1) THEN 1
      |    WHEN n.node IN (SELECT node FROM rm2) THEN 2
      |    WHEN n.node IN (SELECT node FROM rm3) THEN 3
      |    ELSE 0 END AS BIGINT) AS elim_round,
      |  CAST(CASE
      |    WHEN n.node IN (SELECT node FROM rm1) THEN NULL
      |    WHEN n.node IN (SELECT node FROM rm2) THEN NULL
      |    WHEN n.node IN (SELECT node FROM rm3) THEN NULL
      |    ELSE COALESCE(d3.deg, 0) END AS BIGINT) AS final_deg
      |FROM all_nodes n LEFT JOIN d3 USING (node)
      |ORDER BY node""".stripMargin) { t =>
    corePeel(
      coEdges(t.lineitem.select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", MinSupport),
      K, Rounds)
      .orderBy(col("node"))
  }

  def all: Seq[Q] = Seq(q179)
}
