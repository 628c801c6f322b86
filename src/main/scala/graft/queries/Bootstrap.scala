package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.det

/** q204: POISSON BOOTSTRAP confidence intervals — the at-scale
  * bootstrap (resampling n rows WITH replacement needs global
  * coordination; giving each row an independent Poisson(1) weight
  * per replicate does not, and converges to the same distribution —
  * the large-scale bootstrap of the public streaming literature).
  * Per customer segment: the mean order value with a 95% CI that
  * assumes NOTHING about the distribution — the honest error bar
  * beside q192/q203's normal-theory tests.
  *
  * Replicate weights are DETERMINISTIC: the q79 md5-threshold
  * mechanism extended to an inverse-CDF ladder — weight =
  * #{thresholds ≤ u} over the Poisson(1) cumulative probabilities
  * quantized at 4 hex digits (5e2d/bc5b/eb71/fb24/ff10/ffd9 =
  * round(cum·65536); weights ≥ 6 truncated at P ≈ 6·10⁻⁴ — stated,
  * not hidden). The 16-bit uniform u for replicate r = (g−1)·8 + j
  * is the j-th 4-hex slice of md5(key‖':'‖g), g ∈ 1..8 — each digest
  * is 128 independent bits, so slicing feeds EIGHT replicates per
  * hash and the row pays 8 md5s instead of 64 (VERDICT r13 #3; one
  * md5 per row is the floor times the ladder's 16-bit granularity —
  * 128/16 = 8 draws per digest). Same hex-string slicing and
  * comparison both engines ⇒ the whole resampling plan is
  * cross-engine EXACT, and reproducible across runs and cluster
  * sizes.
  *
  * Determinism: per-(segment, replicate) Σw·x rides D20_6 (exact,
  * order-independent); replicate means are single IEEE divisions;
  * the CI bounds use det.dpercentile's explicit interpolation over
  * the SORTED 64-replicate mean array (bounded — the q200 rule).
  *
  * Scale shape: the fact is scanned ONCE and each row emits B = 64
  * (replicate, weight) pairs via two literal-array explodes — B× map
  * rows but only B/8 md5s — and the exchange carries only
  * (segment × B) partial cells (map-side combine collapses rows
  * before the shuffle); the percentile step tops out at B values per
  * segment. At 100 TB the sliced-digest projection is the price of
  * assumption-free CIs; B is the knob.
  */
object Bootstrap {

  private val B = 64

  // round(cumPoisson1(k) · 65536) as lowercase hex, k = 0..5
  private val Thresholds = Seq("5e2d", "bc5b", "eb71", "fb24", "ff10", "ffd9")

  /** Poisson(1) weight of a uniform hex draw via the threshold ladder. */
  def poissonWeight(u: Column): Column =
    Thresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(u >= lit(t), 1).otherwise(0)
    }

  /** Per-key bootstrap mean CI of `x` over B replicates. Emits
    * (key, n, mean, lo95, hi95). Factored so the spec can pin weight
    * determinism, the ~unit mean of weights, CI coverage of the
    * point mean, and width shrinkage on a tighter distribution.
    */
  def bootstrapCi(df: DataFrame, key: Column, id: Column, x: Column,
      b: Int = B): DataFrame = {
    require(b % 8 == 0, s"replicate count $b must be a multiple of 8 " +
      "(each md5 digest is bit-sliced into eight 4-hex draws)")
    val base = df.select(key.as("key"), id.as("graft_id"), x.as("graft_x"))
    // SLICED DRAWS (guide §1.2 per-task work; VERDICT r13 #3): the md5
    // mass was the query's cost — one digest per (row × replicate) =
    // 64 md5s/row. A digest is 32 hex chars = eight independent 16-bit
    // slices, exactly the ladder's granularity, so one digest now
    // feeds 8 replicates: explode the 8 GROUP tags (g), hash once per
    // (row, g) — the Generate node keeps the md5 below the second
    // explode, so it is computed once, not re-inlined per slice — then
    // explode the 8 slice offsets and cut u = substr(digest, off, 4).
    // 64 md5s/row → 8. The id→string cast still runs ONCE per fact row
    // (below the first explode); both explode tags are literal arrays.
    val reps = base
      .select(col("key"), col("graft_id").cast("string").as("graft_ids"),
        col("graft_x"))
      .select(col("key"), col("graft_ids"), col("graft_x"),
        explode(typedlit((1 to b / 8).map(_.toString))).as("graft_g"))
      .withColumn("graft_d",
        md5(concat(col("graft_ids"), lit(":"), col("graft_g"))))
      .select(col("key"), col("graft_x"), col("graft_g"), col("graft_d"),
        explode(typedlit((0 until 8).map(j => j * 4 + 1))).as("graft_off"))
      .withColumn("graft_u", expr("substring(graft_d, graft_off, 4)"))
      .withColumn("graft_w", poissonWeight(col("graft_u")))
      .groupBy(col("key"), col("graft_g"), col("graft_off"))
      .agg(
        sum(col("graft_w").cast("long")).as("graft_wn"),
        sum((col("graft_w").cast("double") * col("graft_x")).cast(det.D20_6))
          .as("graft_wx"))
      .filter(col("graft_wn") > 0)
      .select(col("key"),
        (col("graft_wx").cast("double") / col("graft_wn").cast("double"))
          .as("graft_m"))
    val stats = base.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        (sum(col("graft_x").cast(det.D20_6)).cast("double") /
          count(lit(1)).cast("double")).as("mean"))
    val ci = reps
      .groupBy(col("key"))
      .agg(sort_array(collect_list(col("graft_m"))).as("graft_arr"),
        count(lit(1)).as("graft_nb"))
      .select(col("key"),
        det.dpercentile(col("graft_arr"), col("graft_nb"), 0.025).as("lo95"),
        det.dpercentile(col("graft_arr"), col("graft_nb"), 0.975).as("hi95"))
    stats.join(ci, Seq("key"))
      .select(col("key"), col("n"), col("mean"), col("lo95"), col("hi95"))
  }

  val q204 = Q.of(
    "q204_bootstrap_ci",
    s"""WITH base AS (
      |  SELECT c_mktsegment AS key, o_orderkey AS id, o_totalprice AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |), draws AS (
      |  SELECT key, g.g AS g, j.j AS j, x,
      |    substr(md5(CAST(id AS VARCHAR) || ':' || CAST(g.g AS VARCHAR)),
      |      CAST((j.j - 1) * 4 + 1 AS INT), 4) AS u
      |  FROM base,
      |    (SELECT unnest(range(1, ${B / 8 + 1})) AS g) g,
      |    (SELECT unnest(range(1, 9)) AS j) j
      |), reps AS (
      |  SELECT key, g, j, x,
      |    (CASE WHEN u >= '${Thresholds(0)}' THEN 1 ELSE 0 END) +
      |    (CASE WHEN u >= '${Thresholds(1)}' THEN 1 ELSE 0 END) +
      |    (CASE WHEN u >= '${Thresholds(2)}' THEN 1 ELSE 0 END) +
      |    (CASE WHEN u >= '${Thresholds(3)}' THEN 1 ELSE 0 END) +
      |    (CASE WHEN u >= '${Thresholds(4)}' THEN 1 ELSE 0 END) +
      |    (CASE WHEN u >= '${Thresholds(5)}' THEN 1 ELSE 0 END) AS w
      |  FROM draws
      |), cells AS (
      |  SELECT key, g, j,
      |    CAST(SUM(w) AS BIGINT) AS wn,
      |    SUM(CAST(CAST(w AS DOUBLE) * x AS DECIMAL(20,6))) AS wx
      |  FROM reps GROUP BY 1, 2, 3
      |), means AS (
      |  SELECT key, CAST(wx AS DOUBLE) / CAST(wn AS DOUBLE) AS m
      |  FROM cells WHERE wn > 0
      |), arrs AS (
      |  SELECT key, list_sort(list(m)) AS arr, COUNT(*) AS nb
      |  FROM means GROUP BY 1
      |), ci AS (
      |  SELECT key,
      |    arr[CAST(FLOOR(0.025 * CAST(nb - 1 AS DOUBLE)) AS INT) + 1]
      |      + (arr[CAST(CEIL(0.025 * CAST(nb - 1 AS DOUBLE)) AS INT) + 1]
      |         - arr[CAST(FLOOR(0.025 * CAST(nb - 1 AS DOUBLE)) AS INT) + 1])
      |        * (0.025 * CAST(nb - 1 AS DOUBLE)
      |           - FLOOR(0.025 * CAST(nb - 1 AS DOUBLE))) AS lo95,
      |    arr[CAST(FLOOR(0.975 * CAST(nb - 1 AS DOUBLE)) AS INT) + 1]
      |      + (arr[CAST(CEIL(0.975 * CAST(nb - 1 AS DOUBLE)) AS INT) + 1]
      |         - arr[CAST(FLOOR(0.975 * CAST(nb - 1 AS DOUBLE)) AS INT) + 1])
      |        * (0.975 * CAST(nb - 1 AS DOUBLE)
      |           - FLOOR(0.975 * CAST(nb - 1 AS DOUBLE))) AS hi95
      |  FROM arrs
      |), stats AS (
      |  SELECT key, COUNT(*) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS mean
      |  FROM base GROUP BY 1
      |)
      |SELECT s.key AS key, s.n, s.mean, c.lo95, c.hi95
      |FROM stats s JOIN ci c ON c.key = s.key
      |ORDER BY key""".stripMargin) { t =>
    bootstrapCi(
      t.orders
        .join(broadcast(t.customer.select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey")),
      col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("key"))
  }

  def all: Seq[Q] = Seq(q204)
}
