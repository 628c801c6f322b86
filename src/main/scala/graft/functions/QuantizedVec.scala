package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType}

/** Symmetric int8 vector quantization for the similarity tier.
  *
  * At 100 TB of embeddings the dominant costs are storage and shuffle
  * bytes, and both scale with element width: an int8 representation is
  * 8× smaller than the double arrays the exact tier uses (4× smaller
  * than float32 storage). Cosine similarity is scale-invariant, so
  * per-vector max-abs scaling needs NO scale bookkeeping at query
  * time — quantized cosine approximates true cosine with only the
  * rounding noise (≈0.4% per element at 64 dims), which top-k ranking
  * tolerates (recall floor pinned in AnnSpec).
  *
  * Both steps are native expressions for the repo's standard reason:
  * the declarative form (`aggregate` for max-abs + `transform` to
  * scale, referencing the max-abs alias) re-inlines the max-abs fold
  * into every lambda element via CollapseProject — O(d²) per row.
  */

/** array<double> → array<byte>: round(x · 127 / max|x|), clamped. A
  * zero vector quantizes to zeros.
  */
case class QuantizeI8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "graft_quantize_i8"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_quantize_i8 expects array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    QuantizedVecImpl.quantize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.QuantizedVecImpl.quantize($a)")

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8 =
    copy(child = newChild)
}

/** (array<byte>, array<byte>) → double: cosine over int8 vectors —
  * integer multiply-accumulate into longs (exact: |dot| ≤ d·127² fits
  * long), one division at the end. Codegen'd like [[CosineSimilarity]].
  */
case class CosineSimilarityI8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_i8"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(ByteType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine_i8 expects array<byte> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    QuantizedVecImpl.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.QuantizedVecImpl.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityI8 =
    copy(left = newLeft, right = newRight)
}

/** The kernels of [[QuantizeI8]] and [[CosineSimilarityI8]]: the
  * interpreted path calls them directly, generated code calls them as
  * static methods.
  */
object QuantizedVecImpl {
  def quantize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) { val a = math.abs(v.getDouble(i)); if (a > maxAbs) maxAbs = a; i += 1 }
    val out = new Array[Byte](n)
    if (maxAbs > 0.0) {
      val s = 127.0 / maxAbs
      i = 0
      while (i < n) {
        out(i) = math.rint(v.getDouble(i) * s).toInt.max(-127).min(127).toByte
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L; var nx = 0L; var ny = 0L
    var i = 0
    while (i < n) {
      val xi = x.getByte(i).toLong; val yi = y.getByte(i).toLong
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot.toDouble / (math.sqrt(nx.toDouble) * math.sqrt(ny.toDouble))
  }
}

/** Column-API entry points. */
object quant {
  import org.apache.spark.sql.graftx.Bridge

  def quantizeI8(v: Column): Column = Bridge.column(QuantizeI8(Bridge.expression(v)))

  def cosimI8(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarityI8(Bridge.expression(a), Bridge.expression(b)))
}
