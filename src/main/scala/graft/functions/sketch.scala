package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions for the dedup tier.
  *
  * The declarative higher-order-function forms (a fold per seed over
  * the shingle array) are interpreted with boxed accumulators — at
  * 32 seeds × 500 shingles × millions of docs that is the dominant
  * cost of the whole dedup pass. These expressions do the same work in
  * one primitive loop per row, and hash each shingle ONCE (xxhash64 of
  * the bytes), deriving the per-seed values with O(1) long re-hashes —
  * the standard two-level MinHash construction.
  *
  * CodegenFallback is deliberate: the expressions run interpreted, but
  * their eval is a tight JVM loop over primitive arrays — the win over
  * HOFs is the elimination of per-element closure dispatch and boxed
  * allocation, not codegen fusion.
  */

/** array<string> → array<long>: MinHash signature with `numHashes`
  * two-level seeded hashes (sig_k = min over shingles of
  * xxhash64(xxhash64(shingle), seed=k)).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val base = XxHash64Function.hash(s, StringType, 42L)
        var k = 0
        while (k < numHashes) {
          val h = XxHash64Function.hash(base, LongType, k.toLong)
          if (h < sig(k)) sig(k) = h
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** array<string> → long: 64-bit SimHash (bit b set when the signed sum
  * of token-hash bit b over all tokens is non-negative).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XxHash64Function.hash(s, StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** (array<long>, array<long>) → double: fraction of positions where
  * the two signatures agree — the MinHash jaccard estimate.
  */
case class SignatureAgreement(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sig_agreement"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sig_agreement expects array<long> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var eq = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) eq += 1
      i += 1
    }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignatureAgreement =
    copy(left = newLeft, right = newRight)
}

/** (string, n, numHashes) → array<long>: MinHash signature computed
  * directly from the text's byte n-grams — no shingle array is ever
  * materialized (MinHash over a multiset equals MinHash over the set,
  * so the array_distinct step is unnecessary), and each n-gram is
  * hashed in place from the string's bytes (zero allocation per
  * shingle). Byte n-grams equal character n-grams for ASCII text;
  * for dedup semantics the distinction is immaterial either way.
  */
case class TextMinHash(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_text_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_text_minhash expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val nShingles = math.max(len - n + 1, 1)
    val width = math.min(n, len)
    var i = 0
    while (i < nShingles) {
      val h0 = XXH64.hashUnsafeBytes(base, off + i, math.min(width, len - i), 42L)
      var k = 0
      while (k < numHashes) {
        val h = XXH64.hashLong(h0, k.toLong)
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): TextMinHash =
    copy(child = newChild)
}

/** (string, string, n) → double: exact n-gram-set Jaccard similarity
  * of two texts — the verify step after LSH candidate generation.
  * Builds the two shingle sets only for the (few) candidate pairs that
  * reach it, instead of materializing shingle arrays for the whole
  * corpus. Matches the SQL form
  * `len(list_intersect(A,B)) / len(list_distinct(list_concat(A,B)))`
  * with A/B the distinct substr(text,i,n) sets.
  */
case class TextJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_text_jaccard"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_text_jaccard expects string inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  private def shingleSet(s: UTF8String): java.util.HashSet[UTF8String] = {
    val set = new java.util.HashSet[UTF8String]()
    val len = s.numChars()
    val nShingles = math.max(len - n + 1, 1)
    var i = 0
    while (i < nShingles) {
      set.add(s.substringSQL(i + 1, n))
      i += 1
    }
    set
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val sa = shingleSet(a.asInstanceOf[UTF8String])
    val sb = shingleSet(b.asInstanceOf[UTF8String])
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TextJaccard =
    copy(left = newLeft, right = newRight)
}

/** array<double> → array<long>: random-hyperplane LSH bucket ids, one
  * per table. Plane signs come from xxhash64(plane, dim) parity — the
  * same deterministic ±1 matrix on every executor, no side table. One
  * primitive loop; the declarative HOF form of this expression took
  * ~10 s of codegen/JIT alone before doing any work.
  */
case class HyperplaneBuckets(child: Expression, tables: Int, bitsPerTable: Int)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hyperplane_buckets expects array<double>, got ${other.simpleString}")
  }

  // sign matrix cache: signs(plane)(dim), built lazily for the observed
  // dimensionality (deterministic, so per-executor rebuild is fine)
  @transient private var signs: Array[Array[Double]] = _
  @transient private var signsDim: Int = -1

  private def signMatrix(dim: Int): Array[Array[Double]] = {
    if (signs == null || signsDim != dim) {
      val nPlanes = tables * bitsPerTable
      val m = Array.ofDim[Double](nPlanes, dim)
      var p = 0
      while (p < nPlanes) {
        val seed = XXH64.hashInt(p, 42L)
        var i = 0
        while (i < dim) {
          m(p)(i) = if ((((XXH64.hashInt(i, seed) % 2) + 2) % 2) == 0) 1.0 else -1.0
          i += 1
        }
        p += 1
      }
      signs = m; signsDim = dim
    }
    signs
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val m = signMatrix(dim)
    val out = new Array[Long](tables)
    var l = 0
    while (l < tables) {
      var bucket = 0L
      var k = 0
      while (k < bitsPerTable) {
        val row = m(l * bitsPerTable + k)
        var proj = 0.0
        var i = 0
        while (i < dim) { proj += v.getDouble(i) * row(i); i += 1 }
        if (proj >= 0.0) bucket |= (1L << k)
        k += 1
      }
      out(l) = bucket
      l += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

/** Column-API entry points for the sketch expressions. */
object sketch {
  import org.apache.spark.sql.graftx.Bridge

  def minhash(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(shingles), numHashes))

  def textMinhash(text: Column, n: Int, numHashes: Int): Column =
    Bridge.column(TextMinHash(Bridge.expression(text), n, numHashes))

  def textJaccard(a: Column, b: Column, n: Int): Column =
    Bridge.column(TextJaccard(Bridge.expression(a), Bridge.expression(b), n))

  def simhash(tokens: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens)))

  def sigAgreement(a: Column, b: Column): Column =
    Bridge.column(SignatureAgreement(Bridge.expression(a), Bridge.expression(b)))

  def hyperplaneBuckets(v: Column, tables: Int, bitsPerTable: Int): Column =
    Bridge.column(HyperplaneBuckets(Bridge.expression(v), tables, bitsPerTable))

  /** SQL text of the bigint read from `len` hex digits of the hex
    * string `sqlHex`, starting at digit `from` (1-based): 8 digits of
    * an md5 are a 32-bit word uniform in [0, 2^32). Text rather than a
    * Column so it can sit inside `expr(...)` strings and
    * higher-order-function lambda bodies. The DuckDB oracles spell the
    * same decode in their own dialect.
    */
  def hexWord(sqlHex: String, from: Int, len: Int): String =
    s"cast(conv(substring($sqlHex, $from, $len), 16, 10) as bigint)"

  /** [[hexWord]] over `md5(<sqlArg>)`, by default its first 8 digits. */
  def md5Word(sqlArg: String, from: Int = 1, len: Int = 8): String =
    hexWord(s"md5($sqlArg)", from, len)
}
