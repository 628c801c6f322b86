package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, least, lit}
import org.apache.spark.sql.types.StructType

import graft.operators.{Components, PageRank}
import graft.queries.{KCore, LabelProp}

/** Loop-to-fixpoint variants of the iterative tier (VERDICT r10 next
  * #6): PageRank / k-core / label propagation each gain a
  * converge-to-fixpoint form beside their fixed-round oracle
  * contracts. These specs pin (a) fixpoint ≡ fixed-round once the
  * fixed form has converged, (b) invariance under further iteration,
  * and (c) how the round count grows with fixture size — converting
  * the "rounds are data-dependent, not SF-dependent" scaladoc claims
  * into measured statements.
  */
class FixpointSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def edges(pairs: Seq[(Long, Long)]) =
    spark.createDataFrame(
      pairs.map { case (a, b) => Row(a, b) }.asJava,
      StructType.fromDDL("pa BIGINT, pb BIGINT"))

  /** Symmetric (src, dst) frame for PageRank from undirected pairs. */
  private def sym(pairs: Seq[(Long, Long)]) =
    spark.createDataFrame(
      (pairs ++ pairs.map(_.swap))
        .map { case (a, b) => Row(a, b) }.asJava,
      StructType.fromDDL("src BIGINT, dst BIGINT"))

  /** The n-node path 1 - 2 - ... - n. */
  private def chain(n: Long) = (1L until n).map(i => (i, i + 1))

  // triangle {1,2,3}, triangle {4,5,6}, bridge 3-4 (LabelPropSpec's)
  private val bridged = Seq((1L, 2L), (1L, 3L), (2L, 3L),
    (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))

  // ---- PageRank ----

  test("pagerank fixpoint equals the fixed-round form at its own iteration count") {
    CacheScope.withCacheScope {
      val e = sym(bridged)
      val (fp, iters) = PageRank.ranksToFixpoint(e)
      val fpMap = fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fixed = PageRank.ranks(e, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fpMap == fixed, s"fixpoint after $iters iters diverges from unrolled")
      // invariance: five more unrolled iterations change nothing
      val more = PageRank.ranks(e, iters + 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fpMap == more, "rank vector moved after the detected fixpoint")
      assert(iters >= 2 && iters < 64, s"implausible iteration count $iters")
    }
  }

  test("pagerank fixpoint iteration count is diameter-driven, not size-driven") {
    CacheScope.withCacheScope {
      // two cliques of the same diameter but 2x the nodes: iteration
      // counts stay within a couple rounds of each other (integer
      // truncation settles per-node; the loop is NOT O(|V|))
      def clique(ids: Seq[Long]) =
        for (a <- ids; b <- ids if a < b) yield (a, b)
      val (_, small) = PageRank.ranksToFixpoint(sym(clique(1L to 4L)))
      val (_, big) = PageRank.ranksToFixpoint(sym(clique(1L to 8L)))
      assert(math.abs(small - big) <= 2,
        s"clique-4 took $small iters, clique-8 took $big — size-driven growth")
    }
  }

  // ---- k-core ----

  test("kcore fixpoint equals the fixed-round form on the converged tendril fixture") {
    CacheScope.withCacheScope {
      // GraphMetricsSpec's core-plus-tendril graph converges in 2
      // rounds, so corePeel's contract R = 3 has already reached the
      // fixpoint the loop detects
      val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      val g = edges(k4 ++ Seq((3L, 5L), (4L, 5L), (5L, 6L)))
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      val (fp, rounds) = KCore.corePeelToFixpoint(g, k = 3)
      assert(rounds == 2, s"tendril cascade should peel in 2 rounds, took $rounds")
      assert(toMap(fp) == toMap(KCore.corePeel(g, k = 3, rounds = 3)))
    }
  }

  test("kcore fixpoint round count grows with cascade depth (chains peel outside-in)") {
    CacheScope.withCacheScope {
      // a path of n nodes at k = 2 loses both endpoints each round:
      // rounds = ceil(n / 2) — peel depth is a GRAPH property
      // (cascade length), independent of how many such chains exist
      val (out8, r8) = KCore.corePeelToFixpoint(edges(chain(8)), k = 2)
      val (out16, r16) = KCore.corePeelToFixpoint(edges(chain(16)), k = 2)
      assert(r8 == 4 && r16 == 8, s"chain peel depths: got $r8/$r16, want 4/8")
      assert(out8.filter("elim_round = 0").isEmpty, "a chain has no 2-core")
      assert(out16.filter("elim_round = 0").isEmpty, "a chain has no 2-core")
      // ...but WIDTH doesn't drive rounds: 10 disjoint 8-chains peel
      // in the same 4 rounds as one
      val many = (0L until 10L).flatMap(c =>
        (1L until 8L).map(i => (c * 100 + i, c * 100 + i + 1)))
      val (_, rMany) = KCore.corePeelToFixpoint(edges(many), k = 2)
      assert(rMany == 4, s"10 parallel chains took $rMany rounds, want 4")
    }
  }

  test("kcore fixpoint frees every superseded round's checkpoint") {
    // a 64-node path peels in 32 rounds, an 8-node path in 4; with each
    // superseded round released, both end holding the same RDDs (the
    // cached edge frame and the final ledger)
    def newPersistentRdds(n: Long): Int = CacheScope.withCacheScope {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (out, rounds) = KCore.corePeelToFixpoint(edges(chain(n)), k = 2)
      assert(rounds == n / 2)
      out.collect()
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    val short = newPersistentRdds(8)
    val long = newPersistentRdds(64)
    info(s"new persistent RDDs: 8-node path $short, 64-node path $long")
    assert(long <= short, s"64-node peel left $long new persistent RDDs, 8-node $short")
  }

  test("the loop releases each state once superseded and keeps the last") {
    // the step holds every state it is given, so none can vanish from
    // the persistent-RDD registry by garbage collection: only an
    // explicit release removes it
    import spark.implicits._
    def persisted(df: DataFrame) = spark.sparkContext.getPersistentRDDs
      .contains(df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id)
    val init = Seq((1L, 0L), (2L, 0L)).toDF("k", "v")
    val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val step: Fixpoint.Step = (s, _) => {
      seen += s
      s.select(col("k"), least(col("v") + 1L, lit(3L)).as("v"))
    }
    // v climbs 0 -> 3; the fourth round verifies no change
    val (last, rounds) = Fixpoint.converge(init, 8, "toy")(step, Fixpoint.changedOn("k", "v"))
    assert(rounds == 4 && seen.size == 4)
    assert(!seen.exists(persisted), "a superseded round is still persisted")
    assert(persisted(last))
    assert(last.collect().map(_.getLong(1)).toSeq == Seq(3L, 3L))
    // capped: two rounds, no throw
    val capped = Fixpoint.capped(init, 2)(step, Fixpoint.changedOn("k", "v"))
    assert(capped.collect().map(_.getLong(1)).toSeq == Seq(2L, 2L))
  }

  // ---- every Fixpoint user ----

  test("every fixpoint operator fails loud at its round cap, naming itself") {
    CacheScope.withCacheScope {
      import spark.implicits._
      val cases: Seq[(String, () => Any)] = Seq(
        "PageRank.ranksToFixpoint" ->
          (() => PageRank.ranksToFixpoint(sym(bridged), maxIters = 1)),
        "KCore.corePeelToFixpoint" ->
          (() => KCore.corePeelToFixpoint(edges(chain(16)), k = 2, maxRounds = 4)),
        "Components.labelWithStats" ->
          (() => Components.labelWithStats(chain(64).toDF("doc_a", "doc_b"),
            "doc_a", "doc_b", maxRounds = 2, localMaxEdges = 0L)))
      for ((op, run) <- cases) {
        val ex = intercept[IllegalStateException](run())
        assert(ex.getMessage.startsWith(op + ":"), s"$op threw: ${ex.getMessage}")
      }
    }
  }

  // ---- label propagation ----

  test("lpa fixpoint equals the fixed-round form on the bridged-triangles fixture") {
    CacheScope.withCacheScope {
      val g = edges(bridged)
      val (fp, rounds) = LabelProp.propagateToFixpoint(g)
      val fpMap = fp.collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
      // LabelPropSpec's hand replay converges at round 3; round 4 is
      // the loop's no-change verification round
      assert(rounds == 4, s"bridged triangles: got $rounds rounds, want 4")
      assert(fpMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 3L, 5L -> 3L, 6L -> 3L))
      val fixed = LabelProp.propagate(g, rounds - 1).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap
      assert(fpMap == fixed)
    }
  }

  test("lpa fixpoint fails loud on a synchronous oscillation instead of mislabeling") {
    CacheScope.withCacheScope {
      // a single edge {1,2} oscillates under synchronous LPA: each
      // round both nodes adopt the other's label (period-2 cycle).
      // The documented contract is a throw, never a mid-cycle answer.
      val g = edges(Seq((1L, 2L)))
      val ex = intercept[IllegalStateException] {
        LabelProp.propagateToFixpoint(g, maxRounds = 8)
      }
      assert(ex.getMessage.contains("oscillation"))
    }
  }
}
