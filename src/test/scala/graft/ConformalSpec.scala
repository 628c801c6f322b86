package graft

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.Conformal

/** q210 split-conformal intervals: zero-noise collapse, a full
  * independent-reimplementation differential (md5 split + OLS +
  * quantized order statistic replicated in plain Scala), split
  * accounting, and the finite-sample coverage guarantee.
  */
class ConformalSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def df(rows: Seq[(String, Long, Double, Double)]) =
    spark.createDataFrame(
      rows.map { case (s, i, x, y) => Row(s, i, x, y) }.asJava,
      StructType.fromDDL("seg STRING, id BIGINT, x DOUBLE, y DOUBLE"))

  private def run(rows: Seq[(String, Long, Double, Double)]) =
    Conformal.conformal(df(rows), col("seg"), col("id"), col("x"), col("y"))
      .collect()
      .map(r => r.getAs[String]("seg") ->
        ((r.getAs[Long]("n_train"), r.getAs[Long]("n_cal"),
          r.getAs[Long]("n_test"), r.getAs[Double]("slope"),
          r.getAs[Double]("qhat"), r.getAs[Double]("coverage"))))
      .toMap

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def splitOf(id: Long): String = {
    val u = md5hex(id.toString)
    if (u < "55") "train" else if (u < "aa") "cal" else "test"
  }

  test("q210 zero-noise line: exact fit, qhat 0, coverage 1") {
    val rows = (1L to 200L).map(i => ("s", i, (i % 13).toDouble,
      2.0 * (i % 13) + 3.0))
    val out = run(rows)("s")
    assert(math.abs(out._4 - 2.0) < 1e-9)
    assert(out._5 == 0.0)
    assert(out._6 == 1.0)
  }

  test("q210 split accounting: train + cal + test covers every row once") {
    val rows = (1L to 300L).map(i => ("s", i, (i % 7).toDouble, i.toDouble))
    val out = run(rows)("s")
    assert(out._1 + out._2 + out._3 == 300L)
    val expect = (1L to 300L).groupBy(splitOf).view.mapValues(_.size).toMap
    assert(out._1 == expect("train").toLong)
    assert(out._2 == expect("cal").toLong)
    assert(out._3 == expect("test").toLong)
  }

  test("q210 full differential vs an independent Scala reimplementation") {
    val rows = (1L to 400L).map { i =>
      val x = (i % 17).toDouble
      val noise = ((i * 7) % 11).toDouble - 5.0
      ("s", i, x, 2.0 * x + 3.0 + 0.25 * noise)
    }
    val out = run(rows)("s")

    // reimplement: OLS on train via quantized decimal moments
    def q6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val byS = rows.groupBy(r => splitOf(r._2))
    val tr = byS("train")
    val n = tr.size.toDouble
    val sx = tr.map(r => q6(r._3)).sum.toDouble
    val sy = tr.map(r => q6(r._4)).sum.toDouble
    val sxx = tr.map(r => q6(r._3 * r._3)).sum.toDouble
    val sxy = tr.map(r => q6(r._3 * r._4)).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    assert(out._4 == slope)

    val calR = byS("cal").map(r => q6(math.abs(r._4 - (intercept + slope * r._3))))
      .sorted
    val k = math.min(math.ceil((calR.size + 1) * 0.9).toLong, calR.size.toLong)
    val qhat = calR((k - 1).toInt)
    assert(out._5 == qhat.toDouble)

    val tst = byS("test").map(r => q6(math.abs(r._4 - (intercept + slope * r._3))))
    val cov = tst.count(_ <= qhat).toDouble / tst.size
    assert(out._6 == cov)
  }

  test("q210 coverage guarantee holds on an exchangeable sample") {
    val rows = (1L to 1200L).map { i =>
      val x = (i % 23).toDouble
      val noise = ((i * 13) % 29).toDouble - 14.0
      ("s", i, x, x + 0.5 * noise)
    }
    val out = run(rows)("s")
    assert(out._6 >= 0.85, s"coverage ${out._6}")
  }

  test("q210 segment with no defined fit (every x null): null slope, null residuals") {
    val good = (1L to 200L).map(i => Row("s", i, (i % 13).toDouble, 2.0 * (i % 13) + 3.0))
    val nullX = (201L to 400L).map(i => Row("z", i, null, i.toDouble))
    val out = Conformal.conformal(
      spark.createDataFrame((good ++ nullX).asJava,
        StructType.fromDDL("seg STRING, id BIGINT, x DOUBLE, y DOUBLE")),
      col("seg"), col("id"), col("x"), col("y"))
      .collect().map(r => r.getAs[String]("seg") -> r).toMap
    assert(out.keySet === Set("s", "z"))
    assert(math.abs(out("s").getAs[Double]("slope") - 2.0) < 1e-9)
    assert(out("s").getAs[Double]("coverage") === 1.0)

    val z = out("z")
    val expect = (201L to 400L).groupBy(splitOf).view.mapValues(_.size.toLong).toMap
    assert((z.getAs[Long]("n_train"), z.getAs[Long]("n_cal"), z.getAs[Long]("n_test")) ===
      ((expect("train"), expect("cal"), expect("test"))))
    Seq("slope", "intercept", "qhat").foreach(c => assert(z.isNullAt(z.fieldIndex(c)), c))
    // r <= null is never true: no test point is counted as covered
    assert(z.getAs[Double]("coverage") === 0.0)
  }
}
