package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q

/** q141: MARKET-BASKET co-occurrence with LIFT — the association-rule
  * support/confidence/lift statistics (Agrawal & Srikant's Apriori
  * frame, public) over order baskets at brand grain: which brands
  * sell TOGETHER more than independence predicts. This is the
  * item-item collaborative-filtering primitive (co-occurrence counts
  * are the input to every "customers also bought" ranker) that the
  * recommendation-perf tier (q64) consumes downstream.
  *
  * Scale shape: the fact collapses to per-order brand SETS in ONE
  * order-keyed exchange (`collect_set` — per-group state bounded by
  * |brands| ≈ 30, NOT basket line count); pairs are generated INSIDE
  * the partition by a sorted-array double explode (i < j, so each
  * unordered pair once), then ONE map-side-combined pair aggregate
  * whose output is bounded by |brands|²/2 — the fact is touched once
  * and nothing quadratic in the catalog ever ships. A naive
  * basket⋈basket self-join would re-shuffle the distinct frame twice
  * and materialize the same pairs as join output; the oracle
  * deliberately uses that structurally different spelling. Marginals
  * and the basket total ride the SAME basket-set frame (explode +
  * one-row count, both bounded), broadcast back onto the pair frame.
  *
  * Determinism: support counts are exact integers; lift =
  * (n·c_ab)/(c_a·c_b) and confidence = c_ab/c_a are single IEEE
  * divisions of exactly-representable integer products (n·c_ab ≤
  * 2^53 at any realistic grain) — bit-identical cross-engine, no
  * rounding anywhere (the q139 integer-ratio rule).
  */
object Basket {

  private val MinSupport = 5

  /** (brand_a < brand_b) co-occurrence counts + marginals + lift over
    * `baskets` = one row per (basket id, item) — factored so the spec
    * can pin a hand-built 4-basket design (perfect co-occurrence,
    * independence, never-together).
    */
  def lift(baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Int = MinSupport): DataFrame = {
    // persist the compact per-basket frame: pairs, marginals, and the
    // basket total all read it, and without materialization Catalyst
    // re-runs the fact scan + basket exchange once PER BRANCH (three
    // fact passes, observed in the q141 plan audit). One row per
    // basket with a ≤|alphabet| array — MEMORY_AND_DISK spills safely
    // at scale; Bench's clearCache() between runs keeps timings honest.
    val sets = graft.CacheScope.trackedCache(
      baskets
        .groupBy(col(basketCol))
        .agg(sort_array(collect_set(col(itemCol))).as("graft_items")))
    val pairs = sets
      .select(col("graft_items"), posexplode(col("graft_items")).as(Seq("graft_i", "brand_a")))
      .select(col("brand_a"),
        explode(slice(col("graft_items"), col("graft_i") + lit(2), size(col("graft_items")))).as("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
    val marginals = sets
      .select(explode(col("graft_items")).as("graft_item"))
      .groupBy(col("graft_item"))
      .agg(count(lit(1)).as("c"))
    val total = sets.agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(broadcast(marginals.select(col("graft_item").as("brand_a"), col("c").as("c_a"))), "brand_a")
      .join(broadcast(marginals.select(col("graft_item").as("brand_b"), col("c").as("c_b"))), "brand_b")
      .crossJoin(broadcast(total))
      .select(
        col("brand_a"), col("brand_b"), col("c_ab"), col("c_a"), col("c_b"), col("n_baskets"),
        (col("n_baskets").cast("double") * col("c_ab").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double"))).as("lift"),
        (col("c_ab").cast("double") / col("c_a").cast("double")).as("conf_ab"))
  }

  val q141 = Q.of(
    "q141_basket_lift",
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey, p_brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), n AS (
      |  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM baskets
      |), pairs AS (
      |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS c_ab
      |  FROM baskets a JOIN baskets b
      |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 5
      |), m AS (
      |  SELECT p_brand, COUNT(*) AS c FROM baskets GROUP BY 1
      |)
      |SELECT brand_a, brand_b,
      |  CAST(c_ab AS BIGINT) AS c_ab,
      |  CAST(ma.c AS BIGINT) AS c_a,
      |  CAST(mb.c AS BIGINT) AS c_b,
      |  CAST(n_baskets AS BIGINT) AS n_baskets,
      |  CAST(n_baskets AS DOUBLE) * CAST(c_ab AS DOUBLE)
      |    / (CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE)) AS lift,
      |  CAST(c_ab AS DOUBLE) / CAST(ma.c AS DOUBLE) AS conf_ab
      |FROM pairs
      |JOIN m ma ON brand_a = ma.p_brand
      |JOIN m mb ON brand_b = mb.p_brand, n
      |ORDER BY brand_a, brand_b""".stripMargin) { t =>
    lift(
      t.lineitem.join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")),
      "l_orderkey", "p_brand")
      .orderBy(col("brand_a"), col("brand_b"))
  }

  def all: Seq[Q] = Seq(q141)
}
