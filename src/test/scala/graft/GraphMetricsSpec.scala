package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.queries.Triangles

/** q170 triangle count / clustering coefficient: hand-built graphs
  * with known counts, the support gate, and a fixed-seed random
  * differential against brute-force enumeration.
  */
class GraphMetricsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def baskets(edges: Seq[(Long, Long)], copies: Int = 1) = {
    // one basket per edge (replicated `copies` times under distinct
    // container ids) produces exactly that co-occurrence graph
    val rows = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      (0 until copies).flatMap { c =>
        val ok = (i * 10 + c + 1).toLong
        Seq(Row(ok, a), Row(ok, b))
      }
    }
    spark.createDataFrame(rows.asJava, StructType.fromDDL("ok LONG, pk LONG"))
  }

  private def result(edges: Seq[(Long, Long)], minSupport: Int = 1, copies: Int = 1) =
    Triangles.perNode(baskets(edges, copies), "ok", "pk", minSupport)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

  test("q170 triangle + pendant + square: hand-computed counts") {
    // triangle 1-2-3, pendant 3-4, square 5-6-7-8 (cycle, no diagonal)
    val g = result(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L)))
    assert(g(1L) == ((2L, 1L, 1.0)))
    assert(g(2L) == ((2L, 1L, 1.0)))
    assert(g(3L) == ((3L, 1L, 2.0 / 6.0)))
    assert(g(4L) == ((1L, 0L, 0.0))) // deg 1: cc pinned 0, not 0/0
    Seq(5L, 6L, 7L, 8L).foreach { n => assert(g(n) == ((2L, 0L, 0.0))) }
  }

  test("q170 support gate drops single-co-occurrence edges") {
    // all edges have support 1 -> pruned graph empty at minSupport 2
    assert(result(Seq((1L, 2L), (2L, 3L), (1L, 3L)), minSupport = 2).isEmpty)
    // replicated baskets pass the gate and the triangle reappears
    val g = result(Seq((1L, 2L), (2L, 3L), (1L, 3L)), minSupport = 2, copies = 2)
    assert(g(1L) == ((2L, 1L, 1.0)))
  }

  test("q170 matches brute-force enumeration on fixed random graphs") {
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 3) {
      val n = 24
      val edges = (for {
        a <- 1L to n
        b <- (a + 1) to n
        if rnd.nextDouble() < 0.22
      } yield (a, b)).toSeq
      val eset = edges.toSet
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val degRef = nodes.map(v =>
        v -> edges.count { case (a, b) => a == v || b == v }.toLong).toMap
      val triRef = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        (a, b) <- edges
        c <- nodes if c > b && eset.contains((b, c)) && eset.contains((a, c))
      } { triRef(a) += 1; triRef(b) += 1; triRef(c) += 1 }
      val got = result(edges)
      assert(got.keySet == degRef.keySet, s"trial $trial node set")
      got.foreach { case (v, (deg, nTri, cc)) =>
        assert(deg == degRef(v), s"trial $trial deg($v)")
        assert(nTri == triRef(v), s"trial $trial tri($v)")
        val want = if (deg >= 2) 2.0 * triRef(v) / (deg * (deg - 1.0)) else 0.0
        assert(cc == want, s"trial $trial cc($v)")
      }
    }
  }

  // ---- q179 k-core peeling ----

  private def peel(edges: Seq[(Long, Long)], k: Int, rounds: Int = 3) = {
    val rows = edges.map { case (a, b) => Row(a, b) }
    graft.queries.KCore.corePeel(
      spark.createDataFrame(rows.asJava, StructType.fromDDL("pa LONG, pb LONG")),
      k, rounds)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
  }

  test("q179 core plus tendril: the cascade peels outside-in") {
    // K4 core {1,2,3,4} + node 5 wired to {3,4,6}: 6 falls round 1
    // (deg 1); 5 starts at deg 3 and only drops below k once 6 is
    // gone, so it falls round 2; the core survives at deg 3 (3 and 4
    // lose their edge to 5 in round 2's prune)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val out = peel(k4 ++ Seq((3L, 5L), (4L, 5L), (5L, 6L)), 3)
    assert(out(6L) == ((1L, -1L)))
    assert(out(5L) == ((2L, -1L)))
    Seq(1L, 2L, 3L, 4L).foreach(v => assert(out(v) == ((0L, 3L))))
  }

  test("q179 isolated nodes (all edges peeled) are removed, not forgotten") {
    // star: center 1 with leaves 2..5 at k=2 — leaves fall round 1,
    // center becomes degree-0 and must fall round 2 via the zero-fill
    val out = peel(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)), 2)
    Seq(2L, 3L, 4L, 5L).foreach(v => assert(out(v) == ((1L, -1L))))
    assert(out(1L) == ((2L, -1L)))
  }

  test("q179 binding cap: an unconverged peel stops at round R") {
    // a 16-node path at k = 2 loses both ends every round and needs 8
    // rounds; capped at 3, nodes 1/16, 2/15, 3/14 fall in rounds 1-3
    // and 4..13 survive with the new ends 4 and 13 at degree 1
    val out = peel((1L until 16L).map(i => (i, i + 1)), 2, rounds = 3)
    val want = (1L to 16L).map { v =>
      val depth = math.min(v, 17L - v)
      v -> (if (depth <= 3) (depth, -1L) else (0L, if (depth == 4) 1L else 2L))
    }.toMap
    assert(out == want)
  }

  test("q179 converged graph: extra rounds change nothing") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val g = k4 ++ Seq((4L, 5L), (5L, 6L))
    assert(peel(g, 3, rounds = 3) == peel(g, 3, rounds = 5))
  }

  test("q179 matches an iterative reference on fixed random graphs") {
    val rnd = new scala.util.Random(179179L)
    for (trial <- 0 until 3) {
      val n = 20
      val edges = (for {
        a <- 1L to n
        b <- (a + 1) to n
        if rnd.nextDouble() < 0.18
      } yield (a, b)).toSeq
      // reference synchronous peel
      var alive = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.toSet
      var cur = edges
      val elim = scala.collection.mutable.Map.empty[Long, Long]
      for (r <- 1 to 3) {
        val deg = alive.map(v =>
          v -> cur.count { case (a, b) => a == v || b == v }).toMap
        val rm = alive.filter(deg(_) < 3)
        rm.foreach(v => elim(v) = r.toLong)
        alive = alive -- rm
        cur = cur.filter { case (a, b) => alive(a) && alive(b) }
      }
      val degF = alive.map(v =>
        v -> cur.count { case (a, b) => a == v || b == v }.toLong).toMap
      val out = peel(edges, 3)
      assert(out.keySet == (alive ++ elim.keySet), s"trial $trial node set")
      out.foreach { case (v, (er, fd)) =>
        assert(er == elim.getOrElse(v, 0L), s"trial $trial elim($v)")
        assert(fd == (if (elim.contains(v)) -1L else degF(v)), s"trial $trial deg($v)")
      }
    }
  }
}
