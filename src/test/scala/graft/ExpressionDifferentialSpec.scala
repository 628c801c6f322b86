package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{XxHash64Function, XXH64}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{quant, sketch, vec}
import scala.util.Random

/** Fixed-seed differential tests for the native Catalyst expressions:
  * the hand-written byte-walk / fold loops (and, for the codegen'd
  * ones, the GENERATED Java) vs independent in-memory mirrors. The
  * sketch mirrors call the same public XXH64 primitives the
  * expressions build on, so any divergence is a loop/boundary bug in
  * the expression, not hash disagreement.
  */
class ExpressionDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def randAscii(rnd: Random, maxLen: Int): String = {
    val len = rnd.nextInt(maxLen + 1)
    (1 to len).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
  }

  // ---------------------------------------------------------------
  // TextMinHash (direct byte n-gram walk) vs MinHashSignature over
  // the materialized shingle array — must agree exactly on ASCII
  // ---------------------------------------------------------------
  test("textMinhash equals minhash over the materialized shingle array (ASCII)") {
    val rnd = new Random(81)
    val n = 3
    val texts = Seq("", "a", "ab", "abc", "abcd", "aaaaaaa") ++
      (1 to 40).map(_ => randAscii(rnd, 50))
    val shingled = texts.map { t =>
      if (t.length <= n) Seq(t) else t.sliding(n).toSeq
    }
    val df = texts.zip(shingled).toDF("text", "shingles")
    val rows = df.select(
      sketch.textMinhash(col("text"), n, 16).as("direct"),
      sketch.minhash(col("shingles"), 16).as("composed"),
      col("text")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"signature mismatch for text '${r.getString(2)}'")
    }
  }

  test("minhash is invariant under shingle permutation and duplication") {
    val rnd = new Random(82)
    val base = (1 to 30).map(_ => randAscii(rnd, 8)).distinct
    val permuted = rnd.shuffle(base)
    val duplicated = base ++ base.take(10) ++ base.takeRight(5)
    val df = Seq((base, permuted, duplicated)).toDF("a", "b", "c")
    val r = df.select(
      sketch.minhash(col("a"), 32).as("sa"),
      sketch.minhash(col("b"), 32).as("sb"),
      sketch.minhash(col("c"), 32).as("sc")).head
    assert(r.getSeq[Long](0) == r.getSeq[Long](1), "permutation changed the signature")
    assert(r.getSeq[Long](0) == r.getSeq[Long](2), "duplicates changed the signature")
  }

  test("sigAgreement estimates jaccard on controlled-overlap shingle sets") {
    // shared k of 40 shingles -> true jaccard = k / (80 - k)
    val rnd = new Random(83)
    val universe = (1 to 200).map(i => s"sh$i")
    for (shared <- Seq(0, 10, 25, 40)) {
      val common = universe.take(shared)
      val a = common ++ universe.slice(50, 50 + (40 - shared))
      val b = common ++ universe.slice(120, 120 + (40 - shared))
      val truth = shared.toDouble / (80 - shared)
      val est = Seq((a, b)).toDF("a", "b")
        .select(sketch.sigAgreement(
          sketch.minhash(col("a"), 128), sketch.minhash(col("b"), 128)).as("e"))
        .head.getDouble(0)
      // 128 hashes -> std err <= 0.045; 0.15 is > 3 sigma
      assert(math.abs(est - truth) < 0.15,
        s"jaccard estimate $est far from truth $truth (shared=$shared)")
    }
  }

  // ---------------------------------------------------------------
  // TextJaccard vs in-memory distinct char-n-gram jaccard
  // ---------------------------------------------------------------
  test("textJaccard matches the in-memory n-gram set jaccard (ASCII + BMP unicode)") {
    val rnd = new Random(84)
    val n = 3
    def mirror(a: String, b: String): Double = {
      def set(s: String) = if (s.length <= n) Set(s) else s.sliding(n).toSet
      val (sa, sb) = (set(a), set(b))
      val inter = sa.intersect(sb).size
      val union = sa.size + sb.size - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
    val uni = Seq("héllo wörld", "héllo wórld", "日本語のテキスト", "日本語のテスト", "", "ab")
    val cases = (1 to 30).map { _ =>
      val a = randAscii(rnd, 40)
      // half the pairs are edits of a -> non-trivial overlap
      val b = if (rnd.nextBoolean()) randAscii(rnd, 40)
        else a.patch(rnd.nextInt(math.max(a.length, 1)), randAscii(rnd, 3), 1)
      (a, b)
    } ++ uni.combinations(2).map(p => (p(0), p(1)))
    val df = cases.toDF("a", "b")
    val rows = df.select(col("a"), col("b"),
      sketch.textJaccard(col("a"), col("b"), n).as("j")).collect()
    rows.foreach { r =>
      val expect = mirror(r.getString(0), r.getString(1))
      assert(r.getDouble(2) == expect,
        s"textJaccard('${r.getString(0)}','${r.getString(1)}') = ${r.getDouble(2)}, expected $expect")
    }
  }

  // ---------------------------------------------------------------
  // SimHash64 vs an in-memory mirror over the same hash primitive
  // ---------------------------------------------------------------
  test("simhash matches the in-memory bit-count construction") {
    val rnd = new Random(85)
    def mirror(tokens: Seq[String]): Long = {
      val counts = new Array[Int](64)
      tokens.foreach { t =>
        val h = XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L)
        for (b <- 0 until 64)
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
      }
      (0 until 64).foldLeft(0L)((acc, b) => if (counts(b) >= 0) acc | (1L << b) else acc)
    }
    val cases = Seq(Seq.empty[String], Seq(""), Seq("a")) ++
      (1 to 25).map(_ => (1 to rnd.nextInt(40)).map(_ => randAscii(rnd, 10)))
    val rows = cases.zipWithIndex.map(_.swap).toDF("i", "toks")
      .select(col("i"), sketch.simhash(col("toks")).as("h")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    cases.zipWithIndex.foreach { case (toks, i) =>
      assert(rows(i) == mirror(toks), s"simhash mismatch on case $i")
    }
  }

  // ---------------------------------------------------------------
  // HyperplaneBuckets: in-memory mirror + scale invariance
  // ---------------------------------------------------------------
  test("hyperplaneBuckets matches the in-memory sign-projection mirror and is scale-invariant") {
    val rnd = new Random(86)
    val (tables, bits, dim) = (4, 6, 16)
    def mirror(v: Seq[Double]): Seq[Long] = {
      (0 until tables).map { l =>
        var bucket = 0L
        for (k <- 0 until bits) {
          val p = l * bits + k
          val seed = XXH64.hashInt(p, 42L)
          var proj = 0.0
          for (i <- 0 until dim) {
            val sign = if ((((XXH64.hashInt(i, seed) % 2) + 2) % 2) == 0) 1.0 else -1.0
            proj += v(i) * sign
          }
          if (proj >= 0.0) bucket |= (1L << k)
        }
        bucket
      }
    }
    val vecs = (1 to 20).map(_ => (1 to dim).map(_ => rnd.nextGaussian()))
    val rows = vecs.zipWithIndex.map(_.swap).toDF("i", "v")
      .select(col("i"),
        sketch.hyperplaneBuckets(col("v"), tables, bits).as("b"),
        sketch.hyperplaneBuckets(transform(col("v"), x => x * 2.5), tables, bits).as("b2"))
      .collect().map(r => r.getInt(0) -> (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val (b, b2) = rows(i)
      assert(b == mirror(v), s"bucket mismatch vs mirror on vec $i")
      assert(b == b2, s"positive scaling changed buckets on vec $i")
    }
  }

  // ---------------------------------------------------------------
  // Codegen'd cosine tiers vs in-memory folds (same accumulation
  // order -> exact IEEE equality expected). The inputs go through a
  // shuffle: a projection straight over `toDF`'s local relation is
  // folded at optimization time by the interpreted projection, and
  // would never run the generated code.
  // ---------------------------------------------------------------

  /** Asserts that every expression named `names` is evaluated inside a
    * whole-stage codegen stage of the collected `df`.
    */
  private def assertCodegen(df: org.apache.spark.sql.DataFrame, names: String*): Unit = {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    def stage(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match { case _: InputAdapter => Nil; case o => o.children.flatMap(stage) })
    val generated = physicalNodes(df).collect { case w: WholeStageCodegenExec => stage(w.child) }
      .flatten.flatMap(_.expressions).flatMap(_.map(_.prettyName)).toSet
    for (n <- names)
      assert(generated(n), s"$n is not evaluated under WholeStageCodegen:\n${planOf(df)}")
  }

  test("cosim (codegen) is bit-exact vs the in-memory double fold") {
    val rnd = new Random(87)
    val dim = 24
    val vecs = (1 to 25).map(_ =>
      ((1 to dim).map(_ => rnd.nextGaussian()), (1 to dim).map(_ => rnd.nextGaussian())))
    val df = vecs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b").repartition(2)
      .select(col("i"), vec.cosim(col("a"), col("b")).as("c"))
    val rows = df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assertCodegen(df, "graft_cosine")
    vecs.zipWithIndex.foreach { case ((a, b), i) =>
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (j <- 0 until dim) { dot += a(j) * b(j); nx += a(j) * a(j); ny += b(j) * b(j) }
      val expect = dot / (math.sqrt(nx) * math.sqrt(ny))
      assert(java.lang.Double.doubleToLongBits(rows(i)) ==
        java.lang.Double.doubleToLongBits(expect), s"cosine not bit-exact on vec $i")
    }
  }

  test("quantizeI8 + cosimI8 (codegen) match mirrors; quantized cosine tracks exact") {
    val rnd = new Random(88)
    val dim = 64
    val vecs = (1 to 25).map(_ =>
      ((1 to dim).map(_ => rnd.nextGaussian()), (1 to dim).map(_ => rnd.nextGaussian())))
    val df = vecs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b").repartition(2)
      .select(col("i"),
        quant.quantizeI8(col("a")).as("qa"),
        quant.cosimI8(quant.quantizeI8(col("a")), quant.quantizeI8(col("b"))).as("ci8"),
        vec.cosim(col("a"), col("b")).as("c"))
    val rows = df.collect()
      .map(r => r.getInt(0) -> (r.getSeq[Byte](1), r.getDouble(2), r.getDouble(3))).toMap
    assertCodegen(df, "graft_quantize_i8", "graft_cosine_i8")
    def q(v: Seq[Double]): Seq[Byte] = {
      val maxAbs = v.map(math.abs).max
      if (maxAbs == 0.0) v.map(_ => 0.toByte)
      else v.map(x => math.rint(x * 127.0 / maxAbs).toInt.max(-127).min(127).toByte)
    }
    vecs.zipWithIndex.foreach { case ((a, b), i) =>
      val (qa, ci8, c) = rows(i)
      assert(qa == q(a), s"quantization mismatch on vec $i")
      val (qaRef, qbRef) = (q(a), q(b))
      var dot = 0L; var nx = 0L; var ny = 0L
      for (j <- 0 until dim) {
        dot += qaRef(j).toLong * qbRef(j); nx += qaRef(j).toLong * qaRef(j)
        ny += qbRef(j).toLong * qbRef(j)
      }
      val ci8Ref = dot.toDouble / (math.sqrt(nx.toDouble) * math.sqrt(ny.toDouble))
      assert(java.lang.Double.doubleToLongBits(ci8) ==
        java.lang.Double.doubleToLongBits(ci8Ref), s"int8 cosine mismatch on vec $i")
      // the documented rounding-noise bound for 64-dim gaussians
      assert(math.abs(ci8 - c) < 0.05,
        s"quantized cosine $ci8 drifted from exact $c on vec $i")
    }
  }
}
