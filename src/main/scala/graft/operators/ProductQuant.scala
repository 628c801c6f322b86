package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns — the 8-byte-per-
  * vector compression tier below scalar int8 (q53's 64 B at dim 64):
  * split the vector into `m` subspaces, k-means each subspace to a
  * `k`-entry codebook, store only the per-subspace code indices, and
  * score candidates with asymmetric distance computation (ADC) — the
  * query precomputes a (m × k) lookup table of sub-dot-products, so a
  * candidate costs `m` table lookups + adds instead of `dim`
  * multiplies. This is the IVFADC building block from the public PQ
  * literature (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) re-expressed as Spark column algebra.
  *
  * Scale/determinism contract, matching the Lloyd tier
  * ([[Similarity.trainCentroids]]):
  *   - training state on the driver is m·k·subDim doubles (8·16·8 =
  *     1 KiB here) — the bounded-driver-state class the IVF centroids
  *     already occupy; everything corpus-sized stays distributed;
  *   - per-iteration means route through DECIMAL sums
  *     ([[Similarity.cellMeans]]) so codebooks are
  *     bit-identical across runs/partitionings (double `avg` order
  *     drift would make every downstream spec flaky);
  *   - assignment/encode/LUT/score are pure per-row projections over
  *     broadcast literal codebooks — zero shuffle anywhere in the
  *     tier; argmin ties break toward the lowest code index.
  */
object ProductQuant {

  /** codebooks(mm)(j) = the j-th centroid of subspace mm. */
  type Codebooks = Array[Array[Array[Double]]]

  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (s, e) => s + e)

  private def subDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, e) => s + e)

  /** argmin_j L2²(sv, books[j]) as a fold — -1 only if k == 0. */
  private def argminCell(sv: Column, books: Column, k: Int): Column =
    aggregate(sequence(lit(0), lit(k - 1)),
      struct(lit(-1).as("j"), lit(Double.PositiveInfinity).as("d")),
      (acc, jj) => {
        val d = l2sq(sv, element_at(books, jj + 1))
        when(d < acc.getField("d"),
          struct(jj.as("j"), d.as("d"))).otherwise(acc)
      },
      acc => acc.getField("j"))

  private def cbLit(cb: Codebooks): Column =
    typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)

  /** Lloyd-train `m` subspace codebooks of `k` centroids each over the
    * `vCol` array<double> column. Seeds = the sub-vectors of the `k`
    * lowest-id rows (deterministic; TakeOrdered, not a full sort).
    * Empty cells keep their previous centroid (standard Lloyd).
    */
  def trainCodebooks(vectors: DataFrame, idCol: String, vCol: String,
      m: Int, k: Int, iters: Int): Codebooks = {
    val dim = vectors.select(size(col(vCol))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sd = dim / m

    val seedRows = vectors.orderBy(col(idCol)).limit(k)
      .select(col(vCol)).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seedRows.length == k, s"need $k seed vectors, got ${seedRows.length}")
    var cb: Codebooks =
      Array.tabulate(m)(mm => seedRows.map(v => v.slice(mm * sd, mm * sd + sd)))

    // (mm, sv) sub-vector frame — m× the rows, 1/m the vector bytes
    val subs = vectors.select(posexplode(expr(
      s"transform(sequence(0, ${m - 1}), mm -> slice($vCol, mm * $sd + 1, $sd))"))
      .as(Seq("mm", "sv")))

    for (_ <- 1 to iters) {
      val assigned = subs.withColumn("cell",
        argminCell(col("sv"), element_at(cbLit(cb), col("mm") + 1), k))
      val next = cb.map(_.map(_.clone()))
      // ≤ m·k·sd rows (the Lloyd driver-state class)
      Similarity.cellMeans(assigned, Seq("mm", "cell"), "sv").foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      cb = next
    }
    cb
  }

  /** PQ code column for `v`: array<int> of length m. Pure projection. */
  def encode(v: Column, cb: Codebooks): Column = {
    val m = cb.length
    val k = cb(0).length
    val sd = cb(0)(0).length
    transform(sequence(lit(0), lit(m - 1)), mm =>
      argminCell(slice(v, mm * lit(sd) + 1, lit(sd)),
        element_at(cbLit(cb), mm + 1), k))
  }

  /** Per-query ADC lookup table: lut[mm][j] = <sub(q,mm), cb[mm][j]>.
    * Computed once per QUERY row (the small side), never per candidate.
    */
  def queryLut(q: Column, cb: Codebooks): Column = {
    val m = cb.length
    val sd = cb(0)(0).length
    transform(sequence(lit(0), lit(m - 1)), mm =>
      transform(element_at(cbLit(cb), mm + 1), c =>
        subDot(slice(q, mm * lit(sd) + 1, lit(sd)), c)))
  }

  /** ‖reconstruction‖² literal per codebook entry, for the ADC
    * denominator: nsq[mm][j] = ‖cb[mm][j]‖².
    */
  def normSqLit(cb: Codebooks): Column =
    typedlit(cb.map(_.map(c => c.map(x => x * x).sum).toSeq).toSeq)

  /** ADC cosine of (query, candidate): Σ lut[mm][code[mm]] over
    * (qnorm · √Σ nsq[mm][code[mm]]) — m lookups + adds per candidate,
    * no vector arithmetic on the hot side.
    */
  def adcCosine(lut: Column, qnorm: Column, code: Column, cb: Codebooks): Column = {
    val m = cb.length
    val nsq = normSqLit(cb)
    val dotq = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, mm) =>
      acc + element_at(element_at(lut, mm + 1), element_at(code, mm + 1) + 1))
    val xnsq = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, mm) =>
      acc + element_at(element_at(nsq, mm + 1), element_at(code, mm + 1) + 1))
    dotq / (qnorm * sqrt(xnsq))
  }
}
