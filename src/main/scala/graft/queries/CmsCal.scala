package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word

/** q271: ORACLE-CHECKED count–min-sketch calibration — the md5-replay
  * recipe (q238 MinHash → q251 SimHash → q252 SRP → q258 Bloom →
  * q262 HLL) extended to the FREQUENCY-sketch family: a from-scratch
  * count–min sketch (Cormode–Muthukrishnan 2005, public) whose every
  * cell DuckDB recomputes, laid against exact token counts for the
  * top-K heavy hitters. Row hashes are Kirsch–Mitzenmacher double
  * hashing from md5 halves (the q258 derivation): a = first 32 md5
  * bits of the token, stride = next 32 bits forced odd, row j probes
  * bit position (a + j·stride) mod W. Depth 4 × width 16 is
  * DELIBERATELY tight — the driver corpus keeps a fixed 31-token
  * vocabulary at every SF, so a production-sized width would never
  * collide and the overestimate column this query exists to measure
  * would be identically zero; at ~2 tokens/cell collisions are real
  * and the CMS invariant est ≥ true still holds row-exactly. (On a
  * real corpus, scale W with the vocabulary — the plan is unchanged.)
  *
  * Determinism: every quantity is int64 — counts, cell sums, the
  * min-over-rows estimate, overcount, and the per-mille overcount
  * (`div` on non-negative operands, identical to DuckDB `//`). No
  * floats anywhere, so the sketch table AND the top-K readout are
  * hash-exact by construction.
  *
  * Scale shape: the corpus collapses to the (token, count) vocabulary
  * frame in one map-side-combined rollup; the sketch is a D·W cell
  * aggregate of that frame; the top-K cut is a distributed
  * TakeOrderedAndProject (per-partition heaps, never a global sort);
  * probes join K·D rows against the D·W-cell frame via broadcast.
  * Output K rows. At 100 TB the vocabulary frame is the only stage
  * that grows, and it stays (token, count)-sized.
  */
object CmsCal {

  private val D = 4    // depth (hash rows)
  private val W = 16   // width (cells per row; ~vocab/2 on this corpus)
  private val K = 50   // heavy hitters reported

  private val jList = (0 until D).mkString("[", ",", "]")

  val q271 = Q.of(
    "q271_cms_cal",
    s"""WITH tok AS (
      |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
      |  FROM documents
      |), counts AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1
      |), keyed AS (
      |  SELECT token, c,
      |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS a,
      |    CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT) | 1 AS s
      |  FROM counts
      |), cells AS (
      |  SELECT g.j, (a + g.j * s) % $W AS pos, CAST(SUM(c) AS BIGINT) AS cell
      |  FROM keyed CROSS JOIN (SELECT unnest($jList) AS j) g
      |  GROUP BY 1, 2
      |), top AS (
      |  SELECT token, c, a, s FROM keyed ORDER BY c DESC, token LIMIT $K
      |), est AS (
      |  SELECT t.token, t.c, CAST(MIN(cells.cell) AS BIGINT) AS est
      |  FROM top t CROSS JOIN (SELECT unnest($jList) AS j) g
      |  JOIN cells ON cells.j = g.j AND cells.pos = (t.a + g.j * t.s) % $W
      |  GROUP BY 1, 2
      |)
      |SELECT token, c AS n_true, est,
      |  est - c AS overcount,
      |  (est - c) * 1000 // c AS over_pm
      |FROM est ORDER BY token""".stripMargin) { t =>
    report(t.documents)
  }

  /** The q271 body over a (text) frame. Factored so the spec can pin
    * the never-underestimate invariant over the FULL vocabulary, the
    * cell arithmetic against an independent JVM md5 derivation, and a
    * planted heavy hitter.
    */
  def report(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("c"))
    val keyed = counts
      .withColumn("a",
        expr(md5Word("token")))
      .withColumn("s",
        expr(s"${md5Word("token", 9)} | 1"))
    val js = array((0 until D).map(j => lit(j.toLong)): _*)
    val cells = keyed
      .select(explode(js).as("j"), col("a"), col("s"), col("c"))
      .withColumn("pos", (col("a") + col("j") * col("s")) % W)
      .groupBy(col("j"), col("pos"))
      .agg(sum(col("c")).as("cell"))
    val probes = keyed
      .orderBy(col("c").desc, col("token"))
      .limit(K)
      .select(col("token"), col("c"), explode(js).as("j"),
        col("a"), col("s"))
      .withColumn("pos", (col("a") + col("j") * col("s")) % W)
      .select(col("token"), col("c"), col("j"), col("pos"))
    cells.join(broadcast(probes), Seq("j", "pos"))
      .groupBy(col("token"), col("c"))
      .agg(min(col("cell")).as("est"))
      .select(col("token"), col("c").as("n_true"), col("est"),
        (col("est") - col("c")).as("overcount"),
        expr("(est - c) * 1000 div c").as("over_pm"))
      .orderBy(col("token"))
  }

  def all: Seq[Q] = Seq(q271)
}
