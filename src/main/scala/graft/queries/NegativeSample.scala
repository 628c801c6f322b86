package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q

/** q167: DETERMINISTIC NEGATIVE SAMPLING — per customer, 3 brands
  * they have NEVER bought, drawn by content-keyed hash order: the
  * training-pair generator every implicit-feedback recommender needs
  * (positives are observed; the negatives must be SAMPLED from the
  * non-interacted set, and a `rand()`-drawn sample is
  * non-reproducible run to run — the q79/q113 md5-keyed discipline
  * applied to pair sampling, so the same (customer, brand) pair
  * draws the same verdict in every engine and every rerun).
  *
  * Scale shape: positives collapse to distinct (customer, brand) in
  * ONE map-side-combined exchange; candidates are customer ×
  * BRAND-ALPHABET (a broadcast of the ~25-row brand dim — bounded by
  * the item VOCABULARY, never item instances); the anti-join streams
  * over the positive frame's own partitioning; rank-per-customer
  * takes the 3 smallest md5s (the k-smallest-hash trick — a uniform
  * sample of the complement without materializing a shuffle of it).
  *
  * Determinism: md5 of "custkey:brand" is engine-agnostic (the
  * q79 rule — Spark xxhash64 has no DuckDB twin); ties impossible
  * (distinct pairs → distinct strings → distinct digests).
  */
object NegativeSample {

  private val K = 3

  /** K hash-ordered negatives per subject from an item alphabet.
    * Factored so the spec can pin positive exclusion, exact-K, the
    * small-complement case, and cross-run determinism.
    */
  def negatives(positives: DataFrame, items: DataFrame, subjCol: String,
      itemCol: String, k: Int = K): DataFrame = {
    // persist the distinct positive frame: the subject list and the
    // anti-join both read it, and unmaterialized each branch re-runs
    // the full upstream join pipeline (observed: 18 parquet scans in
    // the q167 plan audit before this). Bounded by subjects × the
    // item vocabulary.
    val pos = graft.CacheScope.trackedCache(
      positives.select(col(subjCol), col(itemCol)).distinct())
    val cand = pos.select(col(subjCol)).distinct()
      .crossJoin(broadcast(items.select(col(itemCol)).distinct()))
    val neg = cand.join(pos, Seq(subjCol, itemCol), "left_anti")
      .withColumn("graft_h",
        md5(concat(col(subjCol).cast("string"), lit(":"), col(itemCol))))
    neg
      .withColumn("graft_rn", row_number().over(
        Window.partitionBy(col(subjCol)).orderBy(col("graft_h"))))
      .filter(col("graft_rn") <= k)
      .select(col(subjCol), col(itemCol).as("neg_item"),
        col("graft_rn").cast("long").as("draw_rank"))
  }

  val q167 = Q.of(
    "q167_negative_sampling",
    """WITH pos AS (
      |  SELECT DISTINCT c.c_custkey, p.p_brand
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |), brands AS (
      |  SELECT DISTINCT p_brand FROM part
      |), cand AS (
      |  SELECT s.c_custkey, b.p_brand
      |  FROM (SELECT DISTINCT c_custkey FROM pos) s, brands b
      |), neg AS (
      |  SELECT c.c_custkey, c.p_brand,
      |    md5(CAST(c.c_custkey AS VARCHAR) || ':' || c.p_brand) AS h
      |  FROM cand c
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM pos p
      |    WHERE p.c_custkey = c.c_custkey AND p.p_brand = c.p_brand)
      |), ranked AS (
      |  SELECT c_custkey, p_brand, h,
      |    row_number() OVER (PARTITION BY c_custkey ORDER BY h) AS rn
      |  FROM neg
      |)
      |SELECT c_custkey, p_brand AS neg_item,
      |  CAST(rn AS BIGINT) AS draw_rank
      |FROM ranked WHERE rn <= 3
      |ORDER BY c_custkey, draw_rank""".stripMargin) { t =>
    val pos = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .select(col("c_custkey"), col("p_brand"))
    negatives(pos, t.part.select(col("p_brand")), "c_custkey", "p_brand")
      .orderBy(col("c_custkey"), col("draw_rank"))
  }

  def all: Seq[Q] = Seq(q167)
}
