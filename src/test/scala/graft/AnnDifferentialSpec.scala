package graft

import org.apache.spark.sql.functions._
import graft.operators.{Components, ProductQuant, Similarity}
import scala.util.Random

/** Fixed-seed differential tests for the vector-similarity tier:
  * the native argmax assignment vs an in-memory argmax with the same
  * tie and zero-norm rules, the LSH near-dup pipeline vs a brute-force
  * cosine scan over a planted-cluster corpus, survivor resolution vs
  * union-find, and bit-determinism of centroid and codebook training.
  */
class AnnDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def cos(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    val n = math.min(a.size, b.size)
    for (i <- 0 until n) { dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i) }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** 8 well-separated gaussian clusters in 32 dims; near-dups are
    * tiny perturbations (cos ≈ 0.999), cross-cluster cosines ≈ 0.
    */
  private def vectors(seed: Int): Seq[(Long, Seq[Double])] = {
    val rnd = new Random(seed)
    val centers = (1 to 8).map(_ => (1 to 32).map(_ => rnd.nextGaussian() * 5))
    var id = 0L
    val out = Seq.newBuilder[(Long, Seq[Double])]
    for (c <- centers; _ <- 1 to 8) {
      id += 1
      val v = c.map(_ + rnd.nextGaussian() * 0.5)
      out += id -> v
      if (rnd.nextInt(3) == 0) {
        id += 1
        out += id -> v.map(_ + rnd.nextGaussian() * 0.01) // planted near-dup
      }
    }
    out.result()
  }

  test("assignToCentroids matches the in-memory argmax incl. ties and zero norms") {
    val rnd = new Random(111)
    val dim = 8
    val cents: Seq[(Long, Seq[Double])] =
      (1L to 6L).map(cid => cid -> (1 to dim).map(_ => rnd.nextGaussian())) ++
        Seq(7L -> Seq.fill(dim)(0.0)) // zero-norm centroid ranks below all
    // centroid 8 duplicates centroid 1's vector -> tie, lowest cid wins
    val tied = cents ++ Seq(8L -> cents.head._2)
    val vecs: Seq[(Long, Seq[Double])] =
      (1L to 40L).map(id => id -> (1 to dim).map(_ => rnd.nextGaussian())) ++
        Seq(41L -> Seq.fill(dim)(0.0)) // zero-norm vector: all cos rank -2, argmax = lowest cid
    val out = Similarity.assignToCentroids(
      vecs.toDF("id", "v"), tied.toDF("cid", "cv"), "id", "v", "cid", "cv")
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      val best = tied.map { case (cid, cv) =>
        val c = if (v.forall(_ == 0.0) || cv.forall(_ == 0.0)) -2.0 else cos(v, cv)
        (c, cid)
      }.maxBy { case (c, cid) => (c, -cid) }._2
      assert(out(id) == best, s"assignment mismatch for vec $id: ${out(id)} vs $best")
    }
  }

  test("assignToCentroids with an empty centroid set yields null cells") {
    val vecs = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v")
    val empty = Seq.empty[(Long, Seq[Double])].toDF("cid", "cv")
    val r = Similarity.assignToCentroids(vecs, empty, "id", "v", "cid", "cv")
      .select("cell").head
    assert(r.isNullAt(0), "expected null cell for empty centroid set")
  }

  test("lshNearDupPairs equals the brute-force cosine scan on planted clusters (2 seeds)") {
    for (seed <- Seq(112, 113)) {
      val data = vectors(seed)
      val minCos = 0.9
      // truth: same-cluster members sit at cos ~0.96+ only when nearly
      // identical; compute exactly with the same fold order as cosim
      val truth = (for {
        i <- data.indices; j <- i + 1 until data.size
        c = cos(data(i)._2, data(j)._2)
        if c >= minCos
      } yield (data(i)._1, data(j)._1) -> c).toMap
      assert(truth.nonEmpty, s"fixture degenerate at seed $seed: no true pairs")
      val out = Similarity.lshNearDupPairs(
        data.toDF("id", "v"), "id", "v",
        tables = 16, bitsPerTable = 4, minCosine = minCos)
        .select("vec_a", "vec_b", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // precision is exact by construction (verify step); recall for
      // cos >= 0.9 pairs at 16x4 banding has miss prob < 1e-6 per pair
      assert(out.keySet == truth.keySet,
        s"pair mismatch at seed $seed: extra=${out.keySet -- truth.keySet} " +
          s"missing=${truth.keySet -- out.keySet}")
      out.foreach { case (p, c) =>
        assert(java.lang.Double.doubleToLongBits(c) ==
          java.lang.Double.doubleToLongBits(truth(p)),
          s"cosine not bit-exact for $p at seed $seed")
      }
      CacheScope.releaseAll()
    }
  }

  test("lshNearDupPairs → keepSurvivors keeps the union-find min-id survivors") {
    val data = vectors(114)
    val minCos = 0.9
    val pairs = (for {
      i <- data.indices; j <- i + 1 until data.size
      if cos(data(i)._2, data(j)._2) >= minCos
    } yield (data(i)._1, data(j)._1)).toSeq
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val inComp = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val expect = data.map(_._1).filter(id =>
      !inComp(id) || id == inComp.filter(x => find(x) == find(id)).min).toSet
    val df = data.toDF("id", "v")
    val lshPairs = Similarity.lshNearDupPairs(df, "id", "v",
      tables = 16, bitsPerTable = 4, minCosine = minCos)
    val kept = Components.keepSurvivors(df, "id",
        Components.label(lshPairs, "vec_a", "vec_b"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == expect,
      s"survivors mismatch: extra=${kept -- expect} missing=${expect -- kept}")
    CacheScope.releaseAll()
  }

  test("Lloyd trainers are bit-identical across runs and partitionings") {
    val data = vectors(115)
    val seeds = data.take(6).map { case (id, v) => (id, v) }.toDF("cid", "cv")
    def bits(v: Seq[Double]) = v.map(java.lang.Double.doubleToLongBits)
    def centroids(parts: Int) = Similarity.trainCentroids(
        data.toDF("id", "v").repartition(parts), seeds, "id", "v", "cid", "cv", iters = 3)
      .collect().map(r => r.getLong(0) -> bits(r.getSeq[Double](1))).toMap
    def codebooks(parts: Int) = ProductQuant.trainCodebooks(
        data.toDF("id", "v").repartition(parts), "id", "v", m = 4, k = 8, iters = 3)
      .map(_.map(c => bits(c.toSeq)).toSeq).toSeq
    val a = centroids(1)
    assert(a == centroids(1), "trained centroids differ between identical invocations")
    assert(a == centroids(7), "trained centroids differ between 1 and 7 partitions")
    assert(a.keySet.subsetOf(data.take(6).map(_._1).toSet),
      "cell ids not a subset of seed ids")
    val cb = codebooks(1)
    assert(cb == codebooks(1), "trained codebooks differ between identical invocations")
    assert(cb == codebooks(7), "trained codebooks differ between 1 and 7 partitions")
  }
}
