package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{CacheScope, Fixpoint, Q}

/** q214: COMMUNITY DETECTION by synchronous LABEL PROPAGATION
  * (Raghavan, Albert & Kumara 2007, public) over the support-pruned
  * co-purchase graph — the missing graph-tier member: q118 ranks
  * nodes (centrality), q45 finds reachability components, q170
  * measures cohesion, q128 scores pairs; LPA finds the DENSE GROUPS
  * (substitute clusters / de-facto categories) that reachability
  * merges and pairwise scores can't name. Three synchronous rounds:
  * every node adopts its neighbors' MODE label with the (count DESC,
  * label ASC) tiebreak — fully integer, fully deterministic, so the
  * ORACLE replays the identical three rounds and the result is
  * hash-exact (the q118 fixed-iteration doctrine; float-free here).
  *
  * Scale shape (Pregel economics): the symmetric adjacency is built
  * once from the q128 support-pruned edge frame and CACHED
  * (CacheScope-tracked — three rounds re-read it); each round is ONE
  * (nbr → label) hash join + ONE (node, label) map-side-combined
  * count + ONE bounded per-node argmax window. Labels are 8-byte
  * ids; nothing fact-sized moves after the basket pair aggregate
  * (the q75 sum-of-basket² bound, support-pruned like q128 — raw
  * 115k edges collapse to 3.4k at sf0.01 and the pruned degree FALLS
  * with scale). Output is community-grain.
  */
object LabelProp {

  private val MinSupport = 2
  private val Rounds = 3

  /** Node-grain final labels after `rounds` synchronous LPA rounds
    * over an (pa, pb) edge list. Factored so the spec can replay the
    * two-triangles-with-a-bridge fixture by hand.
    */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    val (init, adj) = prepare(edges)
    (1 to rounds).foldLeft(init)((labels, _) => modeLabel(adj, labels))
  }

  /** Initial (node, lbl = node) labels and the cached symmetric
    * adjacency. */
  private def prepare(edges: DataFrame): (DataFrame, DataFrame) = {
    val adj = CacheScope.trackedCache(
      edges.select(col("pa").as("node"), col("pb").as("nbr"))
        .unionAll(edges.select(col("pb").as("node"), col("pa").as("nbr"))))
    (adj.select(col("node")).distinct().withColumn("lbl", col("node")), adj)
  }

  /** One synchronous round: every node adopts its neighbors' mode
    * label, ties (count DESC, label ASC). The argmax is a second HASH
    * aggregate — MIN of struct(−count, label) — instead of the
    * original per-node row_number window: same two exchanges either
    * way ((node, lbl) then node), but the aggregate needs no sort and
    * no WindowExec buffering (guide §1.2 per-task work). The negation
    * sits on the COUNT (always ≥ 1, so −count cannot overflow and the
    * ordering is faithful for ANY label sign — ADVICE r13 flagged the
    * earlier max(struct(count, −label)) spelling as silently wrong for
    * a future negative-label caller). Identical output — the oracle's
    * ROW_NUMBER (count DESC, lbl ASC) picks the same row.
    */
  private def modeLabel(adj: DataFrame, labels: DataFrame): DataFrame =
    adj.join(labels.withColumnRenamed("node", "nbr"), Seq("nbr"))
      .groupBy(col("node"), col("lbl"))
      .agg(count(lit(1)).as("graft_c"))
      .groupBy(col("node"))
      .agg(min(struct((-col("graft_c")).as("graft_negc"),
        col("lbl").as("graft_lbl"))).as("graft_best"))
      .select(col("node"), col("graft_best.graft_lbl").as("lbl"))

  /** Loop-to-FIXPOINT variant (round-11 production form beside the
    * fixed-round oracle contract): propagate until no node's label
    * changes. Returns (labels, rounds), rounds counting the final
    * no-change round. Synchronous LPA is NOT guaranteed to converge —
    * bipartite structures can oscillate with period 2 (Raghavan et al.
    * §3 discuss the oscillation; the asynchronous variant trades
    * determinism for guaranteed termination, the wrong trade for a
    * verifiable engine) — so a non-converged exit THROWS at maxRounds
    * rather than returning a mid-oscillation labeling. The loop is
    * [[graft.Fixpoint]]'s with its (node, lbl) change probe.
    * FixpointSpec pins fixpoint ≡ propagate(·, r) once converged plus
    * the two-triangle fixture's round count.
    */
  def propagateToFixpoint(edges: DataFrame,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val (init, adj) = prepare(edges)
    Fixpoint.converge(init, maxRounds,
      s"LabelProp.propagateToFixpoint: not converged after $maxRounds " +
        "rounds (still moving, or a synchronous-LPA oscillation); " +
        "raise maxRounds or break the oscillating structure")(
      (labels, _) => modeLabel(adj, labels), Fixpoint.changedOn("node", "lbl"))
  }

  val q214 = Q.of(
    "q214_label_propagation",
    s"""WITH b AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), e AS (
      |  SELECT x.pk AS pa, y.pk AS pb
      |  FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport
      |), adj AS (
      |  SELECT pa AS node, pb AS nbr FROM e
      |  UNION ALL SELECT pb, pa FROM e
      |), l0 AS (
      |  SELECT DISTINCT node, node AS lbl FROM adj
      |), l1 AS (
      |  SELECT node, lbl FROM (
      |    SELECT a.node, l.lbl,
      |      ROW_NUMBER() OVER (PARTITION BY a.node
      |        ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
      |    FROM adj a JOIN l0 l ON a.nbr = l.node
      |    GROUP BY a.node, l.lbl) t WHERE rn = 1
      |), l2 AS (
      |  SELECT node, lbl FROM (
      |    SELECT a.node, l.lbl,
      |      ROW_NUMBER() OVER (PARTITION BY a.node
      |        ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
      |    FROM adj a JOIN l1 l ON a.nbr = l.node
      |    GROUP BY a.node, l.lbl) t WHERE rn = 1
      |), l3 AS (
      |  SELECT node, lbl FROM (
      |    SELECT a.node, l.lbl,
      |      ROW_NUMBER() OVER (PARTITION BY a.node
      |        ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
      |    FROM adj a JOIN l2 l ON a.nbr = l.node
      |    GROUP BY a.node, l.lbl) t WHERE rn = 1
      |)
      |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS members
      |FROM l3 GROUP BY 1
      |ORDER BY community""".stripMargin) { t =>
    val edges = graft.operators.CoOccur.prunedEdges(
      t.lineitem.select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", MinSupport)
    propagate(edges, Rounds)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("members"))
      .orderBy(col("community"))
  }

  def all: Seq[Q] = Seq(q214)
}
