package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-dup candidate pairs — the
  * cluster→survivor resolution step of the dedup tier (SURVEY.md §2
  * q45). The LSH surfaces (q41–q44) emit candidate PAIRS; an actual
  * training-data pipeline must then DROP documents, which means
  * grouping the pair graph into components and electing one canonical
  * survivor per component. The reference has no dedup at all
  * (/root/reference — 20 SQL/PySpark analyses, none touch it); this is
  * the brief's pipeline extension.
  *
  * Algorithm: iterative min-id label propagation with pointer jumping,
  * kept entirely DataFrame-native (no GraphX — the pair graph is a
  * DataFrame, the labels are a DataFrame, so AQE/codegen apply and the
  * operator composes with the rest of the library):
  *
  *   1. `labels` starts as (id, id) over the nodes of the pair set.
  *   2. each round:   label(x) ← min(label(x), min over neighbors'
  *      labels)   — one join edges⋈labels + groupBy(src);
  *   3. then pointer-jump:   label(x) ← label(label(x))   — one
  *      self-join of the stepped labels. Jumping is what makes the
  *      round count O(log diameter) instead of O(diameter): labels
  *      chase their own targets, halving chains each round (the
  *      measured chain-64 fixture converges in 6 rounds, not 63 —
  *      pinned in ScaleSpec).
  *   4. stop when no label changed. Labels are integral and
  *      monotonically non-increasing, so the exact per-round change
  *      test is "did the decimal checksum of all labels move" — one
  *      aggregate over the (id, label) frame, no convergence join.
  *
  * Scale shape: every round shuffles only (id, label) longs — the
  * frame is |nodes-in-pairs| rows, i.e. proportional to the NEAR-DUP
  * volume, not the corpus. The corpus itself is touched exactly once,
  * by the caller's final left-join against the labels. The round loop
  * is [[graft.Fixpoint]]'s, so neither lineage nor the logical plan
  * grows across rounds; at 1000-executor scale this is the standard
  * iterative label-propagation shape (cf. the large/small-star
  * formulation in "Connected Components in MapReduce and Beyond",
  * Kiveris et al., SOCC'14 — the pointer-jump variant here has the same round bound
  * for the small-diameter components near-dup graphs produce).
  */
object Components {

  /** Label every node of the (undirected) pair graph with the minimum
    * id reachable from it. Returns the (id, label) frame — covering
    * ONLY ids that appear in `pairs`; callers left-join and coalesce
    * to the row's own id for isolated rows — plus the round count
    * (0 = the small-graph fast path ran). Ids must be integral (cast
    * to long).
    *
    * Small-graph fast path: when the deduped edge set is at most
    * `localMaxEdges` rows it is collected and solved with sequential
    * union-find (path halving + min-id roots) on the driver — a
    * bounded ≤16 MB transfer at the default threshold that replaces
    * several multi-stage distributed rounds whose per-round overhead
    * dwarfs 2 µs/edge sequential work. Near-dup graphs are usually in
    * this regime (pairs are rare by construction); the distributed
    * loop below is the path for when they are not.
    */
  def labelWithStats(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 64, localMaxEdges: Long = 1L << 20): (DataFrame, Int) = {
    val edges =
      pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
        .union(pairs.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
        .distinct()
        .localCheckpoint(true)
    if (edges.count() <= localMaxEdges) return (localLabel(edges), 0)
    val init = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    // exact change detection: labels only ever decrease, so the sum of
    // all labels is strictly decreasing until the fixpoint (decimal —
    // a 38-digit sum cannot overflow on any realistic id space); each
    // round's sum is kept for the next round's comparison
    def checksum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var lastSum = Option.empty[java.math.BigDecimal]
    def moved(next: DataFrame, prev: DataFrame): Boolean = {
      val before = lastSum.getOrElse(checksum(prev))
      lastSum = Some(checksum(next))
      lastSum.get.compareTo(before) != 0
    }
    // Pointer jumping makes maxRounds (default 64 ~ diameter 2^64)
    // effectively unreachable, but exiting unconverged would mean
    // callers (dropNearDups/q45) silently keep WRONG survivors — fail
    // loudly instead of corrupting data.
    graft.Fixpoint.converge(init, maxRounds,
      s"Components.labelWithStats: not converged after $maxRounds rounds; " +
        "raise maxRounds (labels were still changing)")(
      (labels, _) => jump(edges, labels), moved)
  }

  /** One round: min over self and neighbours' labels, then one pointer
    * jump label(x) ← label(label(x)). */
  private def jump(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = edges
      .join(labels.select(col("id").as("dst"), col("label").as("nbr_label")), "dst")
      .groupBy(col("src")).agg(min(col("nbr_label")).as("nbr_min"))
    val stepped = labels
      .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
    stepped.alias("s")
      .join(stepped.select(col("id").as("graft_pid"), col("label").as("graft_plabel")),
        col("s.label") === col("graft_pid"), "left")
      .select(col("s.id").as("id"),
        coalesce(col("graft_plabel"), col("s.label")).as("label"))
  }

  /** Sequential union-find over a collected edge list — the
    * small-graph arm of [[labelWithStats]]. Path-halving find; union
    * attaches the larger root under the smaller so roots are component
    * minima without a second pass.
    */
  private def localLabel(edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    // node coverage must match the distributed path ("every id that
    // appears in pairs"): deriving nodes from parent.keys would drop
    // ids whose only edges are self-loops (no union ever records them)
    val seen = scala.collection.mutable.LongMap.empty[Unit]
    edges.select(col("src"), col("dst")).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      seen(a) = (); seen(b) = ()
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val spark = edges.sparkSession
    import spark.implicits._
    seen.keys.toArray.map(x => (x, find(x))).toSeq.toDF("id", "label")
  }

  /** [[labelWithStats]] without the round count. */
  def label(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    labelWithStats(pairs, aCol, bCol)._1

  /** Survivor election: keep the lowest-id member of every component
    * (its id IS the component label) plus every row in no component.
    * One left join corpus⋈labels — the only stage that touches the
    * full corpus.
    */
  def keepSurvivors(df: DataFrame, idCol: String, labels: DataFrame): DataFrame =
    df.join(labels.select(col("id").as(idCol), col("label").as("graft_component")),
        Seq(idCol), "left")
      .filter(col("graft_component").isNull || col("graft_component") === col(idCol))
      .drop("graft_component")
}
