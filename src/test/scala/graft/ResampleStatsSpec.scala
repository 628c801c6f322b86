package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.{Anova, Bootstrap}

/** q203 one-way ANOVA / q204 Poisson bootstrap: hand-computed F
  * decomposition, degenerate guards, deterministic resampling, and
  * CI sanity.
  */
class ResampleStatsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def grouped(rows: Seq[(String, Double)]) =
    spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }.asJava,
      StructType.fromDDL("k STRING, v DOUBLE"))

  // ---- q203 ANOVA ----

  test("q203 hand-computed two-group F: SSB 24, SSW 4, F 24") {
    val r = Anova.anovaF(grouped(
      Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
        ("b", 5.0), ("b", 6.0), ("b", 7.0))),
      col("k"), col("v")).collect()(0)
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    assert(math.abs(r.getAs[Double]("ssb") - 24.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("ssw") - 4.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("f") - 24.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("eta2") - 24.0 / 28.0) < 1e-9)
  }

  test("q203 equal group means give F = 0") {
    val r = Anova.anovaF(grouped(
      Seq(("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0))),
      col("k"), col("v")).collect()(0)
    assert(math.abs(r.getAs[Double]("f")) < 1e-9)
  }

  test("q203 degenerate inputs guard F to NULL") {
    val single = Anova.anovaF(grouped(Seq(("a", 1.0), ("a", 2.0))),
      col("k"), col("v")).collect()(0)
    assert(single.isNullAt(single.fieldIndex("f")))
    val flat = Anova.anovaF(grouped(
      Seq(("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0))),
      col("k"), col("v")).collect()(0)
    assert(flat.isNullAt(flat.fieldIndex("f")))
  }

  // ---- q204 bootstrap ----

  private def sample(rows: Seq[(String, Long, Double)]) =
    spark.createDataFrame(
      rows.map { case (k, id, x) => Row(k, id, x) }.asJava,
      StructType.fromDDL("k STRING, id BIGINT, x DOUBLE"))

  test("q204 resampling is deterministic: identical runs, identical CIs") {
    val df = sample((1L to 50L).map(i => ("g", i, i.toDouble)))
    val a = Bootstrap.bootstrapCi(df, col("k"), col("id"), col("x"))
      .collect()(0)
    val b = Bootstrap.bootstrapCi(df, col("k"), col("id"), col("x"))
      .collect()(0)
    assert(a.getAs[Double]("lo95") == b.getAs[Double]("lo95"))
    assert(a.getAs[Double]("hi95") == b.getAs[Double]("hi95"))
  }

  test("q204 poisson weights average ~1 over replicates") {
    val df = spark.range(1, 201).toDF("id")
      .withColumn("w", Bootstrap.poissonWeight(
        md5(concat(col("id").cast("string"), lit(":7")))))
    val mean = df.agg(avg(col("w"))).collect()(0).getDouble(0)
    assert(mean > 0.8 && mean < 1.2, s"mean weight $mean")
  }

  test("q204 CI brackets the point mean on a spread sample") {
    val df = sample((1L to 100L).map(i => ("g", i, (i % 10).toDouble)))
    val r = Bootstrap.bootstrapCi(df, col("k"), col("id"), col("x"))
      .collect()(0)
    val m = r.getAs[Double]("mean")
    assert(r.getAs[Double]("lo95") <= m && m <= r.getAs[Double]("hi95"))
    assert(r.getAs[Double]("lo95") < r.getAs[Double]("hi95"))
  }

  test("q204 constant sample collapses the CI onto the mean") {
    val df = sample((1L to 30L).map(i => ("g", i, 42.0)))
    val r = Bootstrap.bootstrapCi(df, col("k"), col("id"), col("x"))
      .collect()(0)
    assert(r.getAs[Double]("lo95") == 42.0)
    assert(r.getAs[Double]("hi95") == 42.0)
  }
}
