package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes
import graft.functions.{vec, NearestCentroid}

/** Approximate-similarity operators over embedding columns
  * (SURVEY.md §2 q44, q51, q52; §5 scale rules).
  *
  * Candidate generation is always bucketed — vectors only ever meet
  * inside a shared hash bucket / IVF cell, so the join volume is
  * Σ bucket² instead of n². And the bucket shuffles themselves are
  * id-only: the banded self-join ships (tbl, bucket, id) triples, the
  * pair set is distinct'd on ids, and full vectors are joined back
  * exactly once per surviving pair for a single exact verify — the
  * same slim-signature shape as [[Dedup.minHashCandidates]]. At 100 TB
  * of embeddings this is the difference between shuffling kilobyte
  * vectors ×tables and shuffling 16-byte triples.
  *
  * Hyperplanes come from `xxhash64(plane, dim)` parity — a
  * deterministic ±1 "random" matrix that needs no side table and is
  * identical on every executor. r (bits/table) trades recall for
  * bucket size: at n=500 test scale r=4..8; at 100 TB, r grows with
  * log(n) to keep buckets bounded while L (tables) restores recall.
  */
object Similarity {

  /** §5 auto-knob: bits-per-table sized so expected bucket occupancy
    * stays ~`targetBucket` as the corpus grows — `2^bits ≈ n /
    * targetBucket`, i.e. bits grows with log₂(n). With bits FIXED the
    * within-bucket self-join is Σ bucket² ≈ n²/2^bits — quadratic with
    * a constant small enough to hide at test SFs and explode one
    * decade up (q44 measured 54× time for 10× vectors at the sf0.1→sf1
    * jump under fixed 4 bits). Under the auto-knob the candidate
    * volume is ≈ n·targetBucket — linear. The floor keeps small-corpus
    * recall at the spec'd level; the cap bounds the key domain.
    *
    * Recall under growth: raising bits lowers per-table collision
    * probability at FIXED table count, but non-uniformly — at the
    * near-dup band the per-bit agreement is high (cos 0.9 → 0.856), so
    * 16 tables hold recall ≈ 0.99 even at 9 bits, while distant pairs
    * (cos ≤ 0.4 → per-bit 0.63) fall away. That is the production
    * trade: the pairs a dedup pass must not miss stay found at every
    * scale; moderate-similarity extras are best-effort. Hold recall at
    * a LOW threshold too by growing `tables` (L) with bits.
    */
  def autoBitsPerTable(n: Long, targetBucket: Int = 64): Int = {
    val raw = math.ceil(
      math.log(math.max(n, 1).toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** Adds `buckets`: array of `tables` bucket ids, each from
    * `bitsPerTable` signed random projections of `vCol` (double array),
    * via the native [[graft.functions.HyperplaneBuckets]] expression
    * (one primitive loop per row; the sign matrix is derived from
    * xxhash64 parity and cached per executor).
    */
  def withHyperplaneBuckets(df: DataFrame, vCol: String, tables: Int, bitsPerTable: Int): DataFrame =
    df.withColumn("buckets",
      graft.functions.sketch.hyperplaneBuckets(col(vCol), tables, bitsPerTable))

  /** Explodes the bucket array to (tbl, bucket) join keys. */
  def explodeBuckets(df: DataFrame): DataFrame =
    df.select(df.columns.map(col).toIndexedSeq :+
      posexplode(col("buckets")).as(Seq("tbl", "bucket")): _*).drop("buckets")

  /** LSH near-duplicate pairs: same (tbl, bucket) in any table, exact
    * cosine verify ≥ threshold (fused native cosine — see
    * [[graft.functions.CosineSimilarity]]). Returns (vec_a, vec_b, cos).
    *
    * Shuffle discipline (the r2 fix): the banded self-join carries ONLY
    * (tbl, bucket, id); pairs are distinct'd before any vector is
    * touched, so each surviving pair is scored exactly once — not once
    * per shared bucket — and the vector column rides through exactly
    * two linear joins (one per pair side), never the banded exchange.
    */
  def lshNearDupPairs(vectors: DataFrame, idCol: String, vCol: String,
      tables: Int, bitsPerTable: Int, minCosine: Double): DataFrame = {
    val slim = graft.CacheScope.trackedCache(
      vectors.select(col(idCol).as("graft_id"), col(vCol).as("graft_v")))
    val banded = explodeBuckets(
      withHyperplaneBuckets(slim, "graft_v", tables, bitsPerTable))
      .select(col("graft_id"), col("tbl"), col("bucket"))
    val pairs = banded.select(col("graft_id").as("vec_a"), col("tbl"), col("bucket"))
      .join(banded.select(col("graft_id").as("vec_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    pairs
      .join(slim.select(col("graft_id").as("vec_a"), col("graft_v").as("v_a")), "vec_a")
      .join(slim.select(col("graft_id").as("vec_b"), col("graft_v").as("v_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"), vec.cosim(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** Lloyd (k-means) refinement of an IVF centroid set, as pure
    * DataFrame ops (VERDICT r3 #4): each iteration assigns every vector
    * to its nearest current centroid via the zero-shuffle native argmax
    * ([[assignToCentroids]]), then re-averages each cell
    * dimension-wise. Cells that lose all members vanish (standard
    * Lloyd); surviving cells keep their seed's id, so cell ids are
    * stable and deterministic across runs.
    *
    * Scale shape — the canonical distributed-k-means split (same as
    * Spark MLlib's KMeans): per iteration, the DATA-sized work is one
    * distributed pass (native argmax assignment + posexplode →
    * partial-aggregated mean per (cell, dim), so the exchange carries
    * ≤ |cells|·dim rows per input partition), and only the RESULT —
    * |cells|·dim doubles, the centroids themselves — comes to the
    * driver, to be fed back as a literal local relation for the next
    * iteration. The corpus never leaves the executors; keeping the
    * centroid state lazy instead would nest one full corpus lineage
    * per iteration into every downstream consumer. Dimension means are
    * [[cellMeans]], bit-deterministic regardless of partitioning.
    *
    * Why train at all: modulo-sampled seeds follow the DATA
    * distribution of single points, so on clustered real embeddings
    * untrained cells are badly unbalanced — one hot cell absorbs a
    * cluster and probing degenerates. Lloyd iterations move centroids
    * toward local mass centers and equalize cell populations (skew
    * bound pinned in AnnSpec).
    */
  def trainCentroids(vectors: DataFrame, seeds: DataFrame,
      idCol: String, vCol: String, cidCol: String, cvCol: String,
      iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    var cents = seeds.select(col(cidCol), col(cvCol))
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(vectors, cents, idCol, vCol, cidCol, cvCol)
      val next = cellMeans(assigned, Seq("cell"), vCol)
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (cid, dims) => (cid, dims.sortBy(_._2).map(_._3)) }
      cents = next.toDF(cidCol, cvCol)
    }
    cents
  }

  /** Lloyd's mean step: per (`keys`, dimension) the mean of the array
    * column `vCol` over the rows of `assigned`, collected as rows of
    * (keys…, pos, mean). The sums go through fixed-scale decimals, so
    * the means are bit-identical regardless of partitioning (same rule
    * as [[graft.functions.det]]). A key with no rows has no mean.
    */
  private[operators] def cellMeans(assigned: DataFrame, keys: Seq[String],
      vCol: String): Array[Row] = {
    val dec = DataTypes.createDecimalType(30, 15)
    assigned
      .select(keys.map(col) :+ posexplode(col(vCol)).as(Seq("graft_pos", "graft_x")): _*)
      .groupBy(keys.map(col) :+ col("graft_pos"): _*)
      .agg((sum(col("graft_x").cast(dec)) / count(lit(1))).cast("double").as("graft_mx"))
      .collect() // one row per (key, dim): centroid state only, never data
  }

  /** The fixed-anchor clustering of q115 and q261: the anchor set
    * `vec_id < anchors` as (cid, cv), and every vector of the
    * (vec_id, v) frame `e` as (vec_id, v, cluster) with its nearest
    * anchor ([[assignToCentroids]]).
    */
  private[graft] def anchorCells(e: DataFrame, anchors: Int): (DataFrame, DataFrame) = {
    val anchorSet = e.filter(col("vec_id") < anchors)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    (anchorSet, assignToCentroids(e, anchorSet, "vec_id", "v", "cid", "cv")
      .select(col("vec_id"), col("v"), col("cell").as("cluster")))
  }

  /** IVF cell assignment: nearest of the `centroids` by cosine. Returns
    * the input plus `cell` (centroid id, ties toward the lowest id).
    *
    * The centroid set is folded into a ONE-ROW array-of-structs frame
    * and broadcast; the per-row argmax is the native
    * [[graft.functions.NearestCentroid]] primitive loop. Zero shuffle
    * of the input: no ×|centroids| blow-up, no window exchange — the
    * assignment is pure map work on whatever partitioning the input
    * already has (the r2 fix; the old plan hash-exchanged the amplified
    * vector-carrying frame through a row_number window).
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vCol: String, cidCol: String, cvCol: String): DataFrame = {
    val centArr = centroids.agg(
      collect_list(struct(col(cidCol).cast("long"), col(cvCol))).as("graft_cents"))
    vectors.crossJoin(broadcast(centArr))
      .withColumn("cell", NearestCentroid(col(vCol), col("graft_cents")))
      .drop("graft_cents")
  }
}
